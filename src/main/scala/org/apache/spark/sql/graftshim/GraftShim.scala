package org.apache.spark.sql.graftshim

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.LogicalRDD

/** Access shim for `private[sql]` bridge API (the usual pattern for Spark
  * extension libraries): Column <-> catalyst Expression conversion, needed to
  * expose native codegen expressions through the public Column API. */
object GraftShim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a SQL function on a live session (the extensions-free path;
    * `graft.plans.GraftExtensions` covers the spark.sql.extensions path). */
  def registerFunction(spark: org.apache.spark.sql.SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry.createOrReplaceTempFunction(name, builder, "scala_udf")

  private def classic(df: DataFrame) =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]

  /** The RDDs that `df`'s analyzed plan scans directly (its `LogicalRDD`
    * leaves — e.g. local checkpoints). */
  def scannedRdds(df: DataFrame): Seq[RDD[_]] =
    classic(df).queryExecution.analyzed.collect { case r: LogicalRDD => r.rdd }

  /** `localCheckpoint` that also resets plan STATISTICS; returns the new
    * frame and the checkpointed RDD (unpersist it to free the blocks).
    *
    * `Dataset.localCheckpoint` truncates the logical plan to a `LogicalRDD`
    * but copies the pre-checkpoint plan's estimated `Statistics` into it.
    * Rebuilding the frame over the checkpointed RDD drops them (and the
    * output partitioning with them); AQE re-plans joins from true runtime
    * sizes anyway. */
  def checkpointWithoutStats(df: DataFrame, eager: Boolean): (DataFrame, RDD[_]) = {
    val ck = classic(df).localCheckpoint(eager)
    val out = ck.sparkSession.internalCreateDataFrame(
      ck.queryExecution.toRdd, ck.schema, isStreaming = false)
    (out, scannedRdds(ck).head)
  }
}
