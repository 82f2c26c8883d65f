package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * All engine operators take a `sfDir` (scale-factor directory) and read
  * parquet from it; at cluster scale the same code points at Iceberg/parquet
  * warehouse paths — the operators themselves are storage-agnostic
  * DataFrames, so only this module changes.
  */
object Tables {
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def lineitem(spark: SparkSession, sfDir: String): DataFrame  = load(spark, sfDir, "lineitem")
  def part(spark: SparkSession, sfDir: String): DataFrame      = load(spark, sfDir, "part")
  def events(spark: SparkSession, sfDir: String): DataFrame    = load(spark, sfDir, "events")
  def documents(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "embeddings")
}

/** Core row types of the engine (see SURVEY.md §1). */
object Model {
  /** A Common-Crawl-style web page (BASELINE.json input_hint shape). */
  case class Page(url: String, warc_ts: java.sql.Timestamp, html: Array[Byte],
                  text: String, lang: String)
}
