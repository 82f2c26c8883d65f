package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synchronous label propagation — the Spark-native counterpart of clusty's
  * Leiden community detection (SURVEY.md §2.6 C6; the reference itself
  * delegates Leiden to igraph and ships without it by default,
  * src/leiden.h:36-50).
  *
  * Deterministic variant: every superstep each vertex adopts the most
  * frequent label among its neighbors, ties broken by the smaller label id —
  * a pure (count desc, label asc) argmax, so results are independent of
  * partitioning/arrival order (our substitute for the reference's ordered
  * mapper determinism).
  *
  * Each superstep: one shuffle to group neighbor labels, one window argmax
  * (re-uses the same hash partitioning on dst), one join back. Lineage
  * truncated per superstep by the [[graft.core.Superstep]] driver.
  */
object LabelPropagation {

  /** @param edges (src, dst) undirected pairs (any orientation, dups ok).
    * @return (vertex: Long, label: Long) after `iterations` supersteps or
    *         earlier if a fixpoint is reached.
    */
  def run(spark: SparkSession, edges: DataFrame, iterations: Int = 10): DataFrame =
    graft.core.Superstep.run("LabelPropagation.run") { s =>
      val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
        .where(col("src") =!= col("dst"))
      // distinct leaves the table partitioned on (src, dst); re-partition on
      // src BEFORE checkpointing so the per-superstep ranks-into-neighbors
      // join reuses this partitioning (a pin preserves it) and only the small
      // label table moves each superstep — without this the full edge table
      // re-exchanged every superstep.
      val bi = s.pin(e.union(e.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
        .repartition(col("src")))

      val vertices = s.pin(bi.select(col("src").as("vertex")).distinct())
      var labels = s.pin(vertices.select(col("vertex"), col("vertex").as("label")))

      s.upTo(iterations) { _ =>
        // (count desc, label asc) argmax via max_by over (n, -label) — a hash
        // aggregate instead of a window sort. The previous label rides along
        // as a carrier row with n=0 (every vertex has >= 1 neighbor by
        // construction of `vertices`, so a real count row always outranks
        // the carrier), which removes the per-superstep join-back entirely.
        val msgs = bi.join(labels, bi("src") === labels("vertex"))
          .select(col("dst"), col("label"))
        val counts = msgs.groupBy(col("dst"), col("label")).agg(count(lit(1)).as("n"))
        val carrier = labels.select(col("vertex").as("dst"), col("label"), lit(0L).as("n"))

        val newLabels = s.state(counts.unionByName(carrier)
          .groupBy(col("dst")).agg(
            max_by(col("label"), struct(col("n"), -col("label"))).as("label"),
            max(when(col("n") === 0L, col("label"))).as("old_label"))
          .select(col("dst").as("vertex"), col("label"), col("old_label"))
        ) // materialized by the stability aggregate

        val changed = newLabels
          .agg(count(when(col("label") =!= col("old_label"), lit(1))).as("c"))
          .head().getLong(0)
        labels = newLabels.select(col("vertex"), col("label"))
        changed != 0L
      }
      labels
    }
}
