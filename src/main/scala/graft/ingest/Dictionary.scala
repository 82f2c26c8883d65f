package graft.ingest

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Ranking

/** String→dense-id dictionary encoding (clusty J1/J2: sequential
  * first-appearance local ids, reference src/graph_named.h:212-247 /
  * src/graph_numbered.h:215-244).
  *
  * The reference forces ids through a single ordered mapper thread to make
  * them deterministic; we instead derive ids from content (total sort +
  * zipWithIndex) or from an explicit rank column, both order-independent
  * under any parallelism. Two strategies:
  *
  *  - [[buildSorted]]  — ids = rank in lexicographic order, numbered by
  *    [[Ranking.withGlobalRank]] (one range-partitioned sort + the contained
  *    `zipWithIndex` hop SURVEY.md §7.2 allows). Dense and deterministic.
  *  - [[buildFromRank]] — ids = caller-provided priority rank (clusty's
  *    objects-file order, or first-appearance order of the edge table).
  *    No extra shuffle if ranks are precomputed.
  */
object Dictionary {

  /** @return (object: String, vid: Long) with vid dense 0..n-1 by sorted order. */
  def buildSorted(df: DataFrame, column: String): DataFrame =
    Ranking.withGlobalRank(
      df.select(col(column).as("object")).where(col("object").isNotNull).distinct(),
      "vid", col("object").asc)

  /** Dictionary from an explicit priority table (object, rank) — vid = rank. */
  def buildFromRank(universe: DataFrame): DataFrame =
    universe.select(col("object"), col("rank").cast("long").as("vid"))

  /** Encode a string edge table to long vertex ids via two dictionary joins.
    * Dictionary side is broadcast when small, else sort-merge — Catalyst/AQE
    * picks; at web scale this is the canonical big-join-small pattern. */
  def encodeEdges(edges: DataFrame, dict: DataFrame,
                  src: String = "src", dst: String = "dst"): DataFrame = {
    val d1 = dict.select(col("object").as("__s"), col("vid").as("src_id"))
    val d2 = dict.select(col("object").as("__d"), col("vid").as("dst_id"))
    val rest = edges.columns.filterNot(c => c == src || c == dst).map(col)
    edges.join(d1, edges(src) === col("__s"))
      .join(d2, edges(dst) === col("__d"))
      .select((Seq(col("src_id").as("src"), col("dst_id").as("dst")) ++ rest): _*)
  }

  /** Decode an assignment table (vid-keyed) back to object names. */
  def decode(assign: DataFrame, dict: DataFrame, vidCol: String = "vertex"): DataFrame = {
    val rest = assign.columns.filterNot(_ == vidCol).map(col)
    assign.join(dict, assign(vidCol) === dict("vid"))
      .select((Seq(col("object")) ++ rest): _*)
  }
}
