package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.EdgeOps

/** Link prediction over the undirected graph: score NON-adjacent vertex
  * pairs by their common-neighbor structure — the classic "who should link
  * to whom" primitive on a web link graph (no clusty counterpart; a standard
  * link-graph analytics addition like PageRank/HITS).
  *
  * Scoring: the resource-allocation index (Zhou, Lü & Zhang, "Predicting
  * missing links via local information", Eur. Phys. J. B 71, 2009)
  *
  *   RA(a,b) = Σ_{z ∈ N(a) ∩ N(b)}  1 / deg(z)
  *
  * chosen over Adamic-Adar deliberately: 1/deg(z) is a single IEEE division
  * of integers — bit-identical on every engine — whereas 1/ln(deg) inherits
  * libm ulp differences across runtimes. With the per-pair terms folded in
  * a PINNED order (degree ascending), the final double is bit-exact across
  * Spark and the DuckDB oracle; rounding is cosmetic.
  *
  * Scale design:
  *  - wedges are generated from MIDDLE vertices only, with a degree cap
  *    (`maxMiddleDegree`): a degree-d middle emits C(d,2) candidate pairs,
  *    so an uncapped 10⁶-degree hub would emit 5·10¹¹ rows from one key.
  *    Capping is principled here, not just pragmatic — a hub middle
  *    contributes at most 1/d → 0 to every score, so dropping high-degree
  *    middles removes the quadratic blowup while perturbing scores by
  *    O(common/cap). The cap is part of the operator's declared semantics
  *    (both engines apply it identically).
  *  - one self-join partitioned on the middle id, one partial-aggregated
  *    groupBy on the pair, one anti-join against the edge set: three
  *    shuffles total, all on keys AQE can handle; no driver-side loops.
  *  - `minCommon` prunes the long tail of single-wedge pairs (score ≤ 1/2
  *    by construction after the cap) before the aggregate's output.
  */
object LinkPrediction {

  /** @param edges (src, dst) any orientation; self-loops/dups ignored.
    * @param maxMiddleDegree drop wedge middles with degree above this.
    * @param minCommon keep only pairs with at least this many (capped)
    *                  common neighbors.
    * @return (a, b, common, ra) for non-adjacent a < b, ra rounded 6 dp. */
  def resourceAllocation(spark: SparkSession, edges: DataFrame,
                         maxMiddleDegree: Int = 64,
                         minCommon: Int = 2): DataFrame = {
    val simple = EdgeOps.simple(edges)
    val e = simple.toDF("a", "b")
    val bi = EdgeOps.symmetrize(simple).toDF("z", "n")
    val deg = bi.groupBy(col("z")).agg(count(lit(1)).as("d"))

    // neighbor lists of LOW-degree middles only (see scaladoc); the join is
    // on z, the subsequent self-join reuses that partitioning
    val mids = bi.join(deg.where(col("d") <= maxMiddleDegree), "z")
      .select(col("z"), col("n"), col("d"))

    val wedges = mids.as("x").join(mids.as("y"), "z")
      .where(col("x.n") < col("y.n"))
      .select(col("x.n").as("a"), col("y.n").as("b"), col("x.d").as("d"))

    // link PREDICTION: only pairs that are not already edges
    val cand = wedges.join(e, Seq("a", "b"), "left_anti")

    // pinned-order fold: terms sorted by middle degree → bit-exact sum
    cand.groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("common"),
        sort_array(collect_list(col("d").cast("double"))).as("ds"))
      .where(col("common") >= minCommon)
      .select(col("a"), col("b"), col("common"),
        round(aggregate(col("ds"), lit(0.0),
          (acc, dv) => acc + lit(1.0) / dv), 6).as("ra"))
  }
}
