package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.EdgeOps

/** Whole-graph structural summary statistics (no clusty counterpart — the
  * standard first-look metrics on a web link graph, next to the existing
  * triangle/modularity rows).
  */
object GraphStats {

  /** Degree assortativity (Newman, "Assortative mixing in networks", PRL
    * 89, 2002): the Pearson correlation of the degrees at the two ends of
    * an edge — positive when hubs link to hubs (social-like), negative when
    * hubs link to leaves (web/biological-like).
    *
    * Computed over the symmetrized edge list (each undirected edge counted
    * in both orientations, the standard convention), so Σx = Σy and one
    * aggregate row suffices:
    *
    *   r = (Σxy/2m − (Σx/2m)²) / (Σx²/2m − (Σx/2m)²)
    *
    * One degree shuffle + two broadcast-friendly joins + one global
    * aggregate — no per-vertex state, no iteration. All sums are sums of
    * integer-valued doubles (exact in any order below 2^53), and the final
    * scalar expression tree is mirrored verbatim by the DuckDB twin, so the
    * result is IEEE-bit-identical before the cosmetic rounding.
    *
    * @param edges (src, dst) any orientation; self-loops/dups dropped.
    * @return single row (assortativity: Double, rounded 6 dp; NaN-free —
    *         regular graphs with zero degree variance yield null). */
  def assortativity(spark: SparkSession, edges: DataFrame): DataFrame = {
    val bi = EdgeOps.symmetrize(EdgeOps.simple(edges)).toDF("u", "v")
    val deg = bi.groupBy(col("u")).agg(count(lit(1)).as("d"))

    // integer-valued doubles from the start: ANSI-safe and order-free exact
    val ends = bi
      .join(deg.select(col("u"), col("d").cast("double").as("x")), "u")
      .join(deg.select(col("u").as("v"), col("d").cast("double").as("y")), "v")

    val s = ends.agg(
      count(lit(1)).cast("double").as("m2"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x")).as("sx"),
      sum(col("x") * col("x")).as("sxx"))

    // mirror this parenthesization in any cross-engine twin
    s.select(round(
        (col("sxy") / col("m2") - (col("sx") / col("m2")) * (col("sx") / col("m2"))) /
          (col("sxx") / col("m2") - (col("sx") / col("m2")) * (col("sx") / col("m2"))),
        6).as("assortativity"))
  }

  /** Harmonic centrality from a landmark sample: h(v) = Σ_s 1/dist(s,v)
    * over the reachable landmarks s ≠ v (Boldi & Vigna, "Axioms for
    * centrality", Internet Math 10, 2014 — the form that handles
    * disconnection gracefully, which closeness does not). Exact all-pairs
    * harmonic centrality is Θ(V·E); the landmark estimate is the standard
    * web-scale approach and reuses [[ShortestPaths.multiHops]], so the k
    * BFS expansions share every edge exchange.
    *
    * The per-vertex fold is pinned to landmark-id order and each term is a
    * single IEEE division of integers → bit-exact across engines.
    *
    * @return (vertex, harmonic) for vertices reachable from ≥1 landmark;
    *         harmonic rounded 6 dp. */
  def harmonicFromLandmarks(spark: SparkSession, edges: DataFrame,
                            landmarks: Seq[Long], maxIter: Int = 64): DataFrame =
    ShortestPaths.multiHops(spark, edges, landmarks, maxIter)
      .where(col("dist") > 0)
      .groupBy(col("vertex"))
      .agg(sort_array(collect_list(struct(col("source"), col("dist").cast("double").as("dist"))))
        .as("ds"))
      .select(col("vertex"),
        round(aggregate(col("ds"), lit(0.0),
          (acc, sd) => acc + lit(1.0) / sd.getField("dist")), 6).as("harmonic"))
}
