package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** k-truss: the maximal subgraph in which every edge closes at least k−2
  * triangles WITHIN the subgraph (Cohen 2008, "Trusses: cohesive subgraphs
  * for social network analysis"). A strictly stronger cohesion filter than
  * k-core — on web link graphs it isolates tightly-knit link farms and
  * genuine communities that degree-based peeling lets through.
  *
  * Distributed peeling to a fixpoint: each round recomputes per-edge
  * support from [[TriangleCount.triangles]] — the degree-oriented wedge
  * join, so per-round work is O(m^1.5) regardless of hub skew and never
  * enumerates a hub's O(deg²) neighbor pairs in one task — then drops
  * edges below k−2 and repeats. Dropping an edge only ever lowers other
  * edges' support, so peeling is monotone and terminates in ≤ m rounds
  * (in practice a handful). Every round is scan + equi-join + partial
  * aggregate (AQE free to broadcast the shrinking edge set); loop-carried
  * state, each round's pinned triangle table included, goes through the
  * [[graft.core.Superstep]] driver so dead rounds free their blocks in the
  * next round and the round cap throws.
  */
object Truss {

  /** Edges of the k-truss with their fixpoint support.
    *
    * @param edges (src, dst) any orientation; self-loops/duplicates ignored.
    * @return (a, b, support) with a < b — the surviving undirected edges and
    *         the number of triangles each closes within the truss. */
  def truss(spark: SparkSession, edges: DataFrame, k: Int, maxIter: Int = 64): DataFrame =
    graft.core.Superstep.run("Truss.truss") { s =>
      require(k >= 3, s"k-truss needs k >= 3, got $k")
      val minSup = (k - 2).toLong

      val (ed0, n0) = s.stateWith(TriangleCount.canonicalEdges(edges), count(lit(1)))
      var ed = ed0
      var n = n0.getLong(0)
      var ws: DataFrame = null
      s.loop(maxIter) { _ =>
        // per-edge support: every triangle (a<b<c) supports its three edges
        // (ed is already canonical; the rename just satisfies the src/dst
        // input contract — re-canonicalization inside is a no-op)
        val tri = TriangleCount.triangles(spark,
          ed.select(col("a").as("src"), col("b").as("dst")))
        val triEdges = tri.select(explode(array(
            struct(col("a").as("x"), col("b").as("y")),
            struct(col("a").as("x"), col("c").as("y")),
            struct(col("b").as("x"), col("c").as("y")))).as("e"))
          .select(col("e.x").as("a"), col("e.y").as("b"))
        val sup = triEdges.groupBy("a", "b").agg(count(lit(1)).as("support"))
        val (next, m) = s.stateWith(ed.join(sup, Seq("a", "b"), "left")
          .select(col("a"), col("b"), coalesce(col("support"), lit(0L)).as("support")),
          count(when(col("support") >= minSup, lit(1))))
        ws = next
        val kept = ws.where(col("support") >= minSup)
        val nKept = m.getLong(0)
        // at the fixpoint ws's support reflects the final edge set
        val peeled = nKept != n
        if (peeled) { ed = s.state(kept.select("a", "b")); n = nKept }
        peeled
      }
      ws
    }
}
