package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** S6 — assignments writer: header'd TSV/CSV of (object, cluster), the
  * reference's output format (src/io.h:88-123; separator selection
  * src/console.cpp:276; O4). One part file, like the reference's one
  * output file; its rows keep the caller's global order (O1).
  */
object AssignmentsSink {

  def write(assign: DataFrame, path: String, sep: String = "\t"): Unit =
    assign.coalesce(1).write
      .option("header", true)
      .option("sep", sep)
      .mode("overwrite")
      .csv(path)

  /** The reference's `--out-representatives` variant: column `cluster` is
    * replaced by each cluster's representative object before writing. */
  def writeWithRepresentatives(shaped: DataFrame, path: String, sep: String = "\t"): Unit =
    write(shaped.select(col("object"), col("cluster_rep").as("cluster")), path, sep)
}
