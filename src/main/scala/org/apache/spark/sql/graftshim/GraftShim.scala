package org.apache.spark.sql.graftshim

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, PartitioningCollection, UnknownPartitioning}
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Access shim for `private[sql]` bridge API (the usual pattern for Spark
  * extension libraries): Column <-> catalyst Expression conversion, needed to
  * expose native codegen expressions through the public Column API. */
object GraftShim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a SQL function on a live session (the one registration path,
    * used by `graft.functions.registerAll`). */
  def registerFunction(spark: org.apache.spark.sql.SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry.createOrReplaceTempFunction(name, builder, "scala_udf")

  private def classic(df: DataFrame) = df.asInstanceOf[Dataset[Row]]

  /** The RDDs that `df`'s analyzed plan scans directly (its `LogicalRDD`
    * leaves — e.g. local checkpoints). */
  def scannedRdds(df: DataFrame): Seq[RDD[_]] =
    classic(df).queryExecution.analyzed.collect { case r: LogicalRDD => r.rdd }

  private val observed = new java.util.concurrent.atomic.AtomicLong

  /** An eager `localCheckpoint` of `df`'s columns `keep`: returns the frame
    * over the checkpointed RDD, the RDD (unpersist it to free the blocks),
    * and the values of `metrics` (aggregate columns, which may read every
    * column of `df`) over `df`'s rows, computed by the checkpoint's own job
    * and read from its executed plan — no second query and no wait on the
    * listener bus. With no metrics the row is empty.
    *
    * `Dataset.localCheckpoint` copies the pre-checkpoint plan's estimated
    * `Statistics` into the truncated plan; `resetStats` drops them (AQE
    * re-plans joins from true runtime sizes anyway).
    *
    * The frame declares the output partitioning of the checkpoint's final
    * (adaptive) plan only when it is a `HashPartitioning` (or a collection
    * of them) over the frame's own columns with as many partitions as the
    * RDD; otherwise it declares none. A checkpoint of an adaptive plan
    * alone reports `UnknownPartitioning`, so without this a join against a
    * pinned table re-exchanges it; and a coalesced exchange
    * (`CoalescedHashPartitioning`) must never be declared as hash
    * partitioning, or a later join reads the wrong partitions. */
  def checkpoint(df: DataFrame, resetStats: Boolean, metrics: Seq[Column],
                 keep: Seq[String]): (DataFrame, RDD[_], Row) = {
    val name = s"graft_checkpoint_${observed.incrementAndGet()}"
    val observedDf = if (metrics.isEmpty) df else df.observe(name, metrics.head, metrics.tail: _*)
    val in = classic(
      if (keep == df.columns.toSeq) observedDf else observedDf.select(keep.head, keep.tail: _*))
    val ck = in.localCheckpoint(true)
    val lr = ck.queryExecution.analyzed.collectFirst { case r: LogicalRDD => r }.get
    val executed = in.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => if (a.isFinalPlan) a.executedPlan else a
      case p => p
    }
    val byId = lr.output.map(a => a.exprId -> a).toMap
    // a projection that aliases a key reports a collection of partitionings,
    // all of which hold
    val hashed = (executed.outputPartitioning match {
      case PartitioningCollection(ps) => ps
      case p => Seq(p)
    }).collect {
      case h: HashPartitioning if h.numPartitions == lr.rdd.getNumPartitions &&
          h.references.forall(a => byId.contains(a.exprId)) =>
        h.transform { case a: Attribute => byId(a.exprId) }.asInstanceOf[HashPartitioning]
    }
    val partitioning = hashed match {
      case Seq() => UnknownPartitioning(0)
      case Seq(h) => h
      case hs => PartitioningCollection(hs)
    }
    val out = lr.copy(outputPartitioning = partitioning, outputOrdering = Nil)(
      ck.sparkSession,
      if (resetStats) None else Some(lr.computeStats()),
      if (resetStats) None else Some(lr.constraints))
    val row = if (metrics.isEmpty) Row.empty else in.queryExecution.observedMetrics(name)
    (Dataset.ofRows(ck.sparkSession, out), lr.rdd, row)
  }
}
