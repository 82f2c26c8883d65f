package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Superstep
import graft.ingest.EdgeOps

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
  * Layout (Pregel/GraphX): the symmetrized edge table `bi` is built by one
  * hash exchange on `src` and pinned, and the label state is
  * hash-partitioned on `vertex` with the same P partitions, so each
  * superstep joins them in place. The messages, plus one carrier row per
  * vertex with its old label, go through ONE exchange to `dst` and one
  * aggregate: `mode(label, deterministic = true)` is the (count desc,
  * label asc) argmax and ignores the carrier, whose old label rides in its
  * own column. The changed count is a metric of the state checkpoint, which
  * stores only (vertex, label), so a superstep is one Spark job. P stays fixed because the call runs with
  * [[graft.core.Superstep.NoCoalescing]]; lineage is truncated per
  * superstep by the [[graft.core.Superstep]] driver.
  */
object LabelPropagation {

  /** @param edges (src, dst) undirected pairs (any orientation, dups ok).
    * @return (vertex: Long, label: Long) after `iterations` supersteps or
    *         earlier if a fixpoint is reached.
    */
  def run(spark: SparkSession, edges: DataFrame, iterations: Int = 10): DataFrame =
    Superstep.run("LabelPropagation.run", Superstep.NoCoalescing) { s =>
      val e = EdgeOps.dropSelfLoops(edges.select(col("src").cast("long"), col("dst").cast("long")))
      // one exchange: hash on src; the distinct is satisfied by it (a
      // symmetrized EdgeOps.simple would exchange twice)
      val bi = s.pin(EdgeOps.symmetrize(e).repartition(col("src")).distinct())
      // every vertex has a neighbour, so every vertex gets a message
      var labels = s.state(bi.select(col("src").as("vertex")).distinct()
        .select(col("vertex"), col("vertex").as("label")))

      s.upTo(iterations) { _ =>
        val msgs = bi.join(labels.hint("shuffle_hash"), bi("src") === labels("vertex"))
          .select(col("dst"), col("label"), lit(null).cast("long").as("old"))
        val carrier = labels.select(col("vertex").as("dst"),
          lit(null).cast("long").as("label"), col("label").as("old"))
        val (next, m) = s.stateWith(msgs.unionByName(carrier)
          .groupBy(col("dst")).agg(
            mode(col("label"), deterministic = true).as("label"),
            max(col("old")).as("old"))
          .select(col("dst").as("vertex"), col("label"), col("old")),
          Seq("vertex", "label"), count(when(col("label") =!= col("old"), lit(1))))
        labels = next
        m.getLong(0) != 0L
      }
      labels
    }
}
