package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.EdgeOps

/** Per-component bipartiteness: 2-color every component by BFS parity from
  * its canonical root and count the odd-cycle witness edges. On a link
  * graph this separates genuinely two-sided structures (directories ↔
  * leaves, query ↔ result pages) from triangle-rich communities, and the
  * conflict-edge count is a cheap odd-cycle density signal.
  *
  * A graph is bipartite iff it has no odd cycle iff BFS parity 2-colors it
  * with no monochromatic edge — so the parity coloring from ANY root is a
  * certificate either way, and rooting each component at its minimum vertex
  * (exactly the component label [[ConnectedComponents]] already produces)
  * makes the coloring deterministic and SQL-replayable.
  *
  * Scale shape: one simultaneous BFS over ALL components (roots seed the
  * same frontier; balls never cross components, so no per-component driver
  * loop and no collect of component representatives), each superstep a
  * frontier⋈edges join + min-dist settle with an anti-join, the same
  * delta-frontier discipline as [[ShortestPaths]]. The conflict count is
  * one parity self-join over the edge table + a partial-aggregated rollup.
  */
object Bipartite {

  /** @param edges (src, dst) any orientation; self-loops make their
    *              component trivially non-bipartite and are counted as
    *              conflict edges (an odd 1-cycle).
    * @return one row per component:
    *         (component, n_vertices, n_edges, n_conflict_edges,
    *          is_bipartite: 0/1) — conflict edges are distinct undirected
    *         edges whose endpoints share BFS parity. */
  def check(spark: SparkSession, edges: DataFrame, maxIter: Int = 64): DataFrame =
    graft.core.Superstep.run("Bipartite.check") { s =>
    val e0 = edges.select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
    val loops = e0.where(col("src") === col("dst"))
      .select(col("src").as("a"), col("dst").as("b")).distinct()
    val simple = EdgeOps.simple(edges)
    val canon = simple.toDF("a", "b")
    val bi = s.pin(EdgeOps.symmetrize(simple))

    // component = min vertex label (ConnectedComponents contract) = BFS
    // root; vertices incident ONLY to self-loops are invisible to CC (a
    // loop is no connectivity) — they are their own singleton components
    val verts = EdgeOps.vertices(edges)
    val cc0 = ConnectedComponents.run(spark, simple)
    val cc = s.pin(verts.join(cc0, Seq("vertex"), "left")
      .select(col("vertex"), coalesce(col("component"), col("vertex")).as("component")))

    var settled = s.state(cc.where(col("vertex") === col("component"))
      .select(col("vertex"), lit(0L).as("dist")))
    var frontier = settled
    // The round cap THROWS rather than silently dropping unreached vertices:
    // an unsettled vertex would get no parity row, the conflict join below
    // would drop its edges, and a non-bipartite component of radius >
    // maxIter would read is_bipartite=1 (round-5 ADVICE).
    s.loop(maxIter) { _ =>
      val cand = frontier.join(bi, frontier("vertex") === bi("src"))
        .select(bi("dst").as("vertex"), (frontier("dist") + lit(1L)).as("dist"))
        .groupBy("vertex").agg(min(col("dist")).as("dist"))
      val (next, m) = s.stateWith(cand.join(settled.select("vertex"), Seq("vertex"), "left_anti"),
        count(lit(1)))
      val more = m.getLong(0) > 0L
      if (more) {
        settled = s.state(settled.unionByName(next))
        frontier = next
      }
      more
    }

    val parity = settled.select(col("vertex"), (col("dist") % 2).as("p"))
    val conflicts = canon
      .join(parity.select(col("vertex").as("a"), col("p").as("pa")), "a")
      .join(parity.select(col("vertex").as("b"), col("p").as("pb")), "b")
      .where(col("pa") === col("pb"))
      .select(col("a"), col("b"))
      .unionByName(loops) // odd 1-cycles
    val perComp = cc.groupBy("component").agg(count(lit(1)).as("n_vertices"))
    val edgeComp = canon.unionByName(loops)
      .join(cc.select(col("vertex").as("a"), col("component")), "a")
      .groupBy("component").agg(count(lit(1)).as("n_edges"))
    val confComp = conflicts
      .join(cc.select(col("vertex").as("a"), col("component")), "a")
      .groupBy("component").agg(count(lit(1)).as("n_conflict_edges"))

    perComp
      .join(edgeComp, Seq("component"), "left")
      .join(confComp, Seq("component"), "left")
      .select(col("component"), col("n_vertices"),
        coalesce(col("n_edges"), lit(0L)).as("n_edges"),
        coalesce(col("n_conflict_edges"), lit(0L)).as("n_conflict_edges"),
        when(coalesce(col("n_conflict_edges"), lit(0L)) === 0L, lit(1L)).otherwise(lit(0L))
          .as("is_bipartite"))
  }
}
