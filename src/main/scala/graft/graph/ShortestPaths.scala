package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.EdgeOps

/** Unweighted single-source shortest paths (BFS hop levels) over the
  * undirected graph — "click distance" on a link graph.
  *
  * Pregel-style frontier expansion: one superstep = frontier ⋈ edges →
  * candidate neighbors (min-aggregated map-side), anti-joined against the
  * settled set; converges in eccentricity(source) supersteps (each a
  * constant number of hash-partitioned exchanges — no global funnel).
  * Loop state goes through the [[graft.core.Superstep]] driver, keeping the
  * logical plan O(1) across supersteps and freeing dead supersteps.
  * Returns (vertex, dist) for REACHABLE vertices only — at web scale the
  * unreachable complement is the overwhelming majority and materializing
  * it would be wasteful; left-join downstream if absent-means-infinity
  * semantics are needed.
  */
object ShortestPaths {

  /** Result of a converging weighted run: final distances + how many
    * supersteps were actually needed (≈ the weighted-path hop depth). */
  final case class Sssp(dist: DataFrame, supersteps: Int)

  /** Weighted single-source shortest paths (Bellman-Ford supersteps) over
    * the undirected graph with non-negative `weightCol` edge lengths —
    * "strongest path" distance when lengths are 1/similarity. Reachable
    * vertices only, like [[hops]].
    *
    * Two modes:
    *  - `fixedIters = Some(n)`: exactly n full-relaxation supersteps, no
    *    convergence test. This is what lets the DuckDB oracle replay the
    *    per-iteration min exactly (extra iterations past the fixpoint are
    *    no-ops; each candidate distance is a sum accumulated in path order
    *    on both engines, so the mins agree IEEE-bit-for-bit). Only for
    *    replay-style validation — it does Θ(E) work per superstep forever.
    *  - default (`fixedIters = None`): delta-frontier Bellman-Ford — only
    *    vertices whose distance improved last superstep re-relax their
    *    edges (the [[hops]] pattern), terminating on an empty delta after
    *    ~weighted-hop-diameter supersteps. Identical result bit-for-bit
    *    (both modes take the min over the same path-ordered sums; the
    *    delta mode merely skips relaxations that cannot improve anything).
    *    Throws if still improving after `maxIters` — a silently truncated
    *    distance is a wrong answer, not a partial one. */
  def weighted(spark: SparkSession, edges: DataFrame, source: Long,
               weightCol: String = "weight", fixedIters: Option[Int] = None,
               maxIters: Int = 256): DataFrame = fixedIters match {
    case Some(n) => graft.core.Superstep.run("ShortestPaths.weighted") { s =>
      import spark.implicits._
      val bi = s.pin(biweighted(edges, weightCol))
      var dist = s.state(Seq((source, 0.0)).toDF("vertex", "dist"))
      s.upTo(n) { _ =>
        val relaxed = dist.join(bi, dist("vertex") === bi("src"))
          .select(bi("dst").as("vertex"), (dist("dist") + bi("w")).as("dist"))
        dist = s.state(
          dist.unionByName(relaxed).groupBy("vertex").agg(min(col("dist")).as("dist")))
        true
      }
      dist
    }
    case None => weightedDelta(spark, edges, source, weightCol, maxIters).dist
  }

  /** Delta-frontier mode with the superstep count exposed (see [[weighted]]). */
  def weightedDelta(spark: SparkSession, edges: DataFrame, source: Long,
                    weightCol: String = "weight", maxIters: Int = 256): Sssp =
    graft.core.Superstep.run("ShortestPaths.weightedDelta") { s =>
      import spark.implicits._
      val bi = s.pin(biweighted(edges, weightCol))
      var dist = s.state(Seq((source, 0.0)).toDF("vertex", "dist"))
      var delta = dist
      // a cap below the weighted hop depth throws: a silently truncated
      // distance is a wrong answer, not a partial one
      val steps = s.loop(maxIters) { _ =>
        // relax only the vertices that improved last superstep
        val cand = delta.join(bi, delta("vertex") === bi("src"))
          .select(bi("dst").as("vertex"), (delta("dist") + bi("w")).as("cd"))
          .groupBy("vertex").agg(min(col("cd")).as("cd"))
        val (improved, m) = s.stateWith(
          cand.join(dist, Seq("vertex"), "left")
            .where(col("dist").isNull || col("cd") < col("dist"))
            .select(col("vertex"), col("cd").as("dist")),
          count(lit(1)))
        val more = m.getLong(0) > 0L
        if (more) {
          dist = s.state(
            dist.unionByName(improved).groupBy("vertex").agg(min(col("dist")).as("dist")))
          delta = improved
        }
        more
      }
      Sssp(dist, steps.size - 1)
    }

  private def biweighted(edges: DataFrame, weightCol: String): DataFrame =
    EdgeOps.symmetrize(EdgeOps.dropSelfLoops(edges.select(col("src").cast("long"),
      col("dst").cast("long"), col(weightCol).cast("double").as("w"))))

  def hops(spark: SparkSession, edges: DataFrame, source: Long,
           maxIter: Int = 64): DataFrame = {
    import spark.implicits._
    // parallel edges are harmless under the min-aggregate — no distinct
    frontierBfs(spark, "ShortestPaths.hops", edges, maxIter, Seq("vertex"),
      Seq((source, 0L)).toDF("vertex", "dist"))
  }

  /** Frontier BFS shared by [[hops]] and [[multiHops]]: `keys` identify a
    * settled row (the vertex, plus the source for multi-source runs). */
  private def frontierBfs(spark: SparkSession, op: String, edges: DataFrame, maxIter: Int,
                          keys: Seq[String], seeds: DataFrame): DataFrame =
    graft.core.Superstep.run(op) { s =>
      val bi = s.pin(EdgeOps.symmetrize(
        EdgeOps.dropSelfLoops(edges.select(col("src").cast("long"), col("dst").cast("long")))))

      var settled = s.state(seeds)
      var frontier = settled
      // maxIter is a budget the SQL twins replay (depth 40), not a cap
      s.upTo(maxIter) { _ =>
        val cand = frontier.join(bi, frontier("vertex") === bi("src"))
          .select(keys.filter(_ != "vertex").map(frontier(_)) ++ Seq(bi("dst").as("vertex"),
            (frontier("dist") + lit(1L)).as("dist")): _*)
          .groupBy(keys.map(col): _*).agg(min(col("dist")).as("dist"))
        val (next, m) = s.stateWith(
          cand.join(settled.select(keys.map(col): _*), keys, "left_anti"), count(lit(1)))
        val more = m.getLong(0) > 0L
        if (more) {
          settled = s.state(settled.unionByName(next))
          frontier = next
        }
        more
      }
      settled
    }

  /** Multi-source BFS: [[hops]] generalized to a source SET in one run —
    * the state/frontier key is (source, vertex), so k sources cost one
    * traversal with k-wide frontiers instead of k traversals (the k
    * expansions share every edge exchange). The landmark-distance primitive
    * behind closeness/harmonic-centrality estimates on web graphs
    * (Bavelas-style centrality over a pivot sample).
    *
    * @return (source, vertex, dist) for reachable pairs only. */
  def multiHops(spark: SparkSession, edges: DataFrame, sources: Seq[Long],
                maxIter: Int = 64): DataFrame = {
    import spark.implicits._
    require(sources.nonEmpty)
    frontierBfs(spark, "ShortestPaths.multiHops", edges, maxIter, Seq("source", "vertex"),
      sources.map(s => (s, s, 0L)).toDF("source", "vertex", "dist"))
  }
}
