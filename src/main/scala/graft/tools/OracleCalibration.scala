package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.EdgeOps

/** Guard for the two hand-calibrated oracle replay depths in
  * [[graft.SparkEntry]].
  *
  * The greedy-cover and Louvain DuckDB twins replay iterative fixpoints with
  * a FIXED recursion depth ([[MisReplayRounds]], [[RefineReplaySteps]] — the
  * single source of truth; SparkEntry interpolates them into its SQL).
  * Extra rounds past a fixpoint are no-ops, so the replays are exact as long
  * as the fixpoint converges WITHIN the fixed depth — a margin over the
  * current testdata, not an invariant. If the testdata generator ever
  * produces deeper propagation chains, the SQL twin would under-propagate
  * and the driver gate would go red on a CORRECT engine.
  *
  * [[check]] measures the actual depths on the data under verification and
  * fails with an actionable recalibration message once either measurement
  * consumes more than HALF its margin — long before the replay could
  * actually go wrong.
  */
object OracleCalibration {

  /** Fixed recursion depth of the greedy-MIS status fixpoint in the cover
    * oracles (SparkEntry GREEDY_MIS). Measured depth on the round-4
    * testdata: 7–9 rounds. */
  val MisReplayRounds = 25

  /** Fixed per-level min-label refinement steps in the Louvain replay
    * (SparkEntry LOUVAIN_SQL ccSteps). Measured depth: <= 5. */
  val RefineReplaySteps = 16

  /** Rounds until the greedy-MIS status fixpoint stabilizes — the EXACT
    * update rule of the SQL replay: a vertex with status 0 becomes dead (2)
    * once any smaller-order neighbor is a seed (1), and becomes a seed once
    * every smaller-order neighbor is dead (vacuously, if it has none).
    * @param bi  (u, v) bi-directed adjacency (distinct pairs)
    * @param ord (v, pos) visiting order */
  def misDepth(spark: SparkSession, bi: DataFrame, ord: DataFrame, cap: Int = 64): Int =
    graft.core.Superstep.run("OracleCalibration.misDepth") { s =>
      val nb = s.pin(bi
        .join(ord.select(col("v").as("u"), col("pos").as("pu")), "u")
        .join(ord.select(col("v"), col("pos").as("pv")), "v")
        .where(col("pv") < col("pu"))
        .select(col("u"), col("v")))
      var st = s.pin(ord.select(col("v").as("vertex"), lit(0).as("status")))
      var depth = 0
      // the probe's cap is a budget: the guard compares the depth it reports
      s.upTo(cap) { _ =>
        val agg = nb.join(st.select(col("vertex").as("v"), col("status").as("ns")), "v")
          .groupBy(col("u"))
          .agg(max(when(col("ns") === 1, 1).otherwise(0)).as("any_seed"),
            min(when(col("ns") === 2, 1).otherwise(0)).as("all_dead"))
        val (ck, m) = s.stateWith(st.join(agg, st("vertex") === agg("u"), "left")
          .select(st("vertex"),
            when(col("status") =!= 0, col("status"))
              .when(col("any_seed") === 1, lit(2))
              .when(coalesce(col("all_dead"), lit(1)) === 1, lit(1)) // no smaller nbrs -> seed
              .otherwise(lit(0)).as("status"),
            col("status").as("old")),
          count(when(col("status") =!= col("old"), lit(1))))
        val moves = m.getLong(0)
        st = ck.select(col("vertex"), col("status"))
        if (moves > 0) depth += 1
        moves > 0
      }
      depth
    }

  /** Measure every calibrated depth over the given thresholded edge table
    * (src, dst, weight) — the same table the catalog queries run on — and
    * throw with a recalibration message if any margin is half-consumed. */
  def check(spark: SparkSession, edges: DataFrame): Unit = {
    val bi = EdgeOps.symmetrize(edges.select(col("src"), col("dst"))).distinct().toDF("u", "v")
    val ordRank = bi.select(col("u").as("v")).distinct()
      .select(col("v"), col("v").as("pos"))
    // global rank without a single-partition window (core.Ranking is the
    // range-partitioned sort the rest of the engine uses)
    val ordDegree = graft.core.Ranking.withGlobalRank(
        bi.groupBy(col("u").as("v")).agg(count(lit(1)).as("d")),
        "pos0", col("d").desc, col("v").asc)
      .select(col("v"), (col("pos0") + lit(1L)).as("pos"))
    val misRank = misDepth(spark, bi, ordRank)
    val misDeg = misDepth(spark, bi, ordDegree)

    def louvDepth(weighted: Boolean): Int =
      graft.graph.Louvain.run(spark, edges, resolution = 0.7,
          maxPasses = 4, maxLevels = 3,
          weightCol = if (weighted) Some("weight") else None,
          earlyStop = false, measureRefineDepth = true)
        .refineDepths.maxOption.getOrElse(0)
    val refine = math.max(louvDepth(weighted = false), louvDepth(weighted = true))

    def guard(name: String, measured: Int, margin: Int, knob: String): Unit =
      if (measured > margin / 2)
        throw new IllegalStateException(
          s"ORACLE CALIBRATION: measured $name fixpoint depth $measured exceeds half the " +
            s"replay margin ($margin) — the testdata has deepened. Recalibrate $knob in " +
            "graft.tools.OracleCalibration (and re-check the SparkEntry SQL twins) " +
            "BEFORE trusting any red driver gate on the affected queries.")
    guard("greedy-MIS (rank order)", misRank, MisReplayRounds, "MisReplayRounds")
    guard("greedy-MIS (degree order)", misDeg, MisReplayRounds, "MisReplayRounds")
    guard("Louvain refinement min-label", refine, RefineReplaySteps, "RefineReplaySteps")
    println(s"[calibration] ok: mis_rank=$misRank mis_degree=$misDeg " +
      s"refine=$refine (margins $MisReplayRounds/$RefineReplaySteps)")
  }
}
