package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ingest.EdgeOps

/** k-core operators: single-k core extraction (degree peeling) and the full
  * core-number decomposition (h-index fixpoint). The core number of a vertex
  * is the largest k such that the vertex survives in the k-core (the maximal
  * subgraph where every vertex has degree >= k) — the classic web-graph
  * quality/centrality signal (no clusty counterpart — an addition for
  * link-graph analytics, like PageRank; SURVEY.md §2.6 note).
  *
  * Distributed algorithm: h-index iteration (Montresor, De Pellegrini,
  * Miorandi, "Distributed k-Core Decomposition", IEEE TPDS 2013). Each
  * vertex starts at its degree and repeatedly updates to the h-index of its
  * neighbors' current estimates (the largest h such that >= h neighbors have
  * estimate >= h). Estimates are always >= the true core number, decrease
  * monotonically, and the fixpoint IS the core decomposition — a driver
  * superstep loop of pure join/aggregate, O(diameter)-ish rounds in
  * practice.
  *
  * Scale design, same discipline as [[PageRank]]:
  *  - the symmetrized neighbor table is built once, partitioned on src, and
  *    persisted — each superstep exchanges only the (vertex, core) estimate
  *    table;
  *  - the h-index is a window rank over each vertex's neighbor estimates —
  *    sorting happens inside the neighbor-group partition, no extra
  *    exchange beyond the per-superstep groupBy;
  *  - integer state end to end: results are EXACT (no float-rounding
  *    concerns in the cross-engine oracle), and the update is
  *    order-independent, so the fixpoint is deterministic under any
  *    parallelism;
  *  - the [[graft.core.Superstep]] driver truncates lineage per superstep,
  *    releases dead superstep state eagerly, and throws at the step cap
  *    instead of returning unconverged estimates (a path of n vertices
  *    needs about n/2 supersteps).
  */
object KCore {

  /** Vertices of the single k-core, by iterative degree peeling. Each
    * round: one partial-aggregated degree count + two semi-joins that drop
    * edges touching sub-k vertices; a driver checkpoint per round keeps
    * the plan O(1) and counts its rows in its own job (one job per round,
    * same discipline as CC/PageRank). Rounds are O(peeling depth),
    * which is small on power-law graphs. For the whole decomposition in one
    * pass, use [[run]].
    *
    * @param edges (src, dst) any orientation; self-loops ignored.
    * @return (vertex: Long) — the vertices of the k-core (may be empty). */
  def coreVertices(spark: SparkSession, edges: DataFrame, k: Int,
                   maxIter: Int = 100): DataFrame =
    graft.core.Superstep.run("KCore.coreVertices") { s =>
      require(k >= 1)
      var bi = s.pin(EdgeOps.symmetrize(EdgeOps.simple(edges)))

      var nEdges = bi.count()
      if (nEdges > 0) s.loop(maxIter) { _ =>
        val deg = bi.groupBy(col("src")).agg(count(lit(1)).as("d"))
        val keep = deg.where(col("d") >= k).select(col("src").as("v"))
        val (next, m) = s.stateWith(bi
          .join(keep.withColumnRenamed("v", "src"), Seq("src"), "left_semi")
          .join(keep.withColumnRenamed("v", "dst"), Seq("dst"), "left_semi")
          .select(col("src"), col("dst")), count(lit(1)))
        bi = next
        val n2 = m.getLong(0)
        val peeled = n2 != nEdges
        nEdges = n2
        peeled && n2 > 0
      }
      bi.select(col("src").as("vertex")).distinct()
    }

  /** Full core-number decomposition.
    *
    * @param edges (src, dst) undirected pairs (any orientation, dups ok;
    *              self-loops ignored).
    * @return (vertex: Long, core: Long) — core = core number.
    */
  def run(spark: SparkSession, edges: DataFrame, maxIter: Int = 64): DataFrame =
    graft.core.Superstep.run("KCore.run") { s =>
      // Symmetrized neighbor list, partitioned ONCE on dst — the key of the
      // per-superstep estimates join — so the big table never re-exchanges;
      // each superstep moves the (vertex, core) table plus one ranked-message
      // exchange for the h-index window (the unavoidable message delivery).
      val nbrs = s.pin(EdgeOps.symmetrize(EdgeOps.simple(edges)).repartition(col("dst")))

      // init: estimate = degree
      var cores = s.pin(nbrs.groupBy(col("src").as("vertex"))
        .agg(count(lit(1)).as("core")))

      s.loop(maxIter) { _ =>
        // neighbor estimates, grouped per vertex: rank neighbors by estimate
        // descending (neighbor id as deterministic tiebreak — the h-index is
        // tie-insensitive, the ordering just fixes the physical sort), then
        // h = max over ranked neighbors of min(rank, estimate).
        val w = Window.partitionBy("v").orderBy(col("c").desc, col("nbr").asc)
        val msgs = nbrs
          .join(cores, nbrs("dst") === cores("vertex"))
          .select(nbrs("src").as("v"), col("dst").as("nbr"), col("core").as("c"))
        val h = msgs
          .withColumn("rn", row_number().over(w).cast("long"))
          .groupBy(col("v"))
          .agg(max(least(col("rn"), col("c"))).as("h"))
        // new estimate; join back to detect the fixpoint in the same pass.
        // h <= old estimate always (estimates start at degree and neighbors
        // only fall), so no explicit least(old, h) is needed — but keeping
        // old_core lets the checkpoint count the changed estimates.
        val (next, m) = s.stateWith(h.join(cores, h("v") === cores("vertex"))
          .select(col("vertex"), col("h").as("core"), col("core").as("old_core")),
          count(when(col("core") =!= col("old_core"), lit(1))))
        cores = next.select(col("vertex"), col("core"))
        m.getLong(0) != 0L
      }
      cores
    }
}
