package graft.graph

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Superstep
import graft.ingest.EdgeOps

/** Pregel-style PageRank as pure Dataset joins/aggregations (the north-rule
  * flagship; no clusty counterpart — clusty's iterative loops are BFS/greedy,
  * SURVEY.md §2.6 note).
  *
  * Design for 100 TB (the Pregel/GraphX layout: state partitioned like the
  * edges, only messages move):
  *  - `links` (edge list with each edge's share of its source's out-weight)
  *    is built by ONE hash exchange on `src` and pinned; the per-vertex
  *    state `(vertex, dangling, tele, rank)` is hash-partitioned on
  *    `vertex` with the same P partitions. Each superstep's ranks-into-links
  *    join reads both in place — no exchange.
  *  - the messages, plus one zero-contribution carrier row per vertex with
  *    its `(dangling, tele, old_rank)`, go through ONE exchange to `dst`,
  *    partial-aggregated map-side (`sum`), so hub fan-in skew is combined
  *    before the wire; the aggregate's output is the next state, already
  *    partitioned on `vertex`.
  *  - the convergence delta (`max |rank − old_rank|`) and the *next*
  *    superstep's dangling mass (`sum(rank where dangling)`) are metrics of
  *    the state checkpoint, and the initial counts (n, dangling, seeds) are
  *    metrics of the initial state: one Spark job per superstep, and no
  *    separate convergence query. Dangling-ness is a precomputed boolean
  *    on the state, not a per-step anti-join.
  *  - P stays fixed because the call runs with
  *    [[graft.core.Superstep.NoCoalescing]]; if a table's partitioning
  *    cannot be declared, its join falls back to an exchange.
  *  - the [[graft.core.Superstep]] driver's checkpoint truncates lineage to
  *    O(1) per superstep, frees superstep k−1 once k has materialized, and
  *    times every superstep. With `stateDir`, each superstep's checkpoint
  *    is also written durably (on a cluster, an Iceberg/parquet
  *    `ranks_step_k` table; same contract), which is what a re-run resumes
  *    from.
  *  - convergence = `max(abs(delta)) < tol`; both our runs and the in-test
  *    oracle converge to the same epsilon so float-sum reorder noise stays
  *    below the compare tolerance.
  */
object PageRank {

  /** @param stepSeconds wall seconds of each executed superstep (plan build
    *   + the checkpoint job), as the driver times them — the
    *   raw series behind the scaling bench's first-step vs steady-state
    *   decomposition. */
  final case class Result(ranks: DataFrame, iterations: Int, converged: Boolean,
                          stepSeconds: Seq[Double] = Nil)

  /** @param edges (src: Long, dst: Long) directed; parallel edges allowed
    *              (they weight the transition like multi-links).
    * @param stateDir when set, every superstep's (vertex, dangling, rank)
    *              state is committed durably under `stateDir/step=k` with
    *              per-partition metrics, and a re-run with the same dir
    *              RESUMES from the last committed superstep instead of
    *              starting over (north-rule resumability; parquet standing
    *              in for an Iceberg table).
    * @return ranks (vertex: Long, rank: Double), sum(rank) == 1 (±fp noise).
    */
  def run(spark: SparkSession, edges: DataFrame, damping: Double = 0.85,
          tol: Double = 1e-8, maxIter: Int = 100,
          stateDir: Option[String] = None,
          weightCol: Option[String] = None,
          seeds: Option[DataFrame] = None): Result =
    Superstep.run("PageRank.run", Superstep.NoCoalescing) { s =>
    // unweighted: every edge weighs 1; weighted: transition probability
    // proportional to the edge weight (share = w / Σ out-weights)
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"),
      weightCol.map(c => col(c).cast("double")).getOrElse(lit(1.0)).as("w"))

    // Pre-divide: contribution factor per edge = w/Σw(src). ONE exchange
    // builds the whole table: repartition on src, then out-degree as a
    // window sum over the src partition (WindowExec only sorts within the
    // already-co-located partition — no second shuffle).
    val wSrc = org.apache.spark.sql.expressions.Window.partitionBy("src")
    val links = s.pin(e.repartition(col("src"))
      .select(col("src"), col("dst"),
        (col("w") / sum(col("w")).over(wSrc)).as("share")))

    val ckpt = stateDir.map(new RankCheckpointer(spark, _))
    val resumeStep = ckpt.map(_.latestStep()).getOrElse(-1)

    // State (vertex, dangling, tele, rank) — dangling flag and teleport
    // weight computed once, not per step. tele is the teleport distribution:
    // uniform 1/n, or (personalized) 1/|seeds| on the seed set and 0
    // elsewhere; dangling mass is redistributed by tele, so uniform
    // PageRank is exactly the seeds=None special case.
    // Vertex set + dangling flag in ONE partial-aggregated shuffle (dangling
    // = never appears as src), partitioned on vertex like the state.
    val st0base = e.select(col("src").as("vertex"), lit(true).as("_has_out"))
      .unionByName(e.select(col("dst").as("vertex"), lit(false).as("_has_out")))
      .groupBy(col("vertex")).agg(max(col("_has_out")).as("_has_out"))
      .select(col("vertex"), (!col("_has_out")).as("dangling"))
    val st0pre = seeds match {
      case None => st0base.withColumn("seed", lit(false))
      case Some(sd) =>
        val sv = sd.select(col(sd.columns.head).cast("long").as("vertex")).distinct()
          .withColumn("_is_seed", lit(true))
        st0base.join(sv, Seq("vertex"), "left")
          .select(col("vertex"), col("dangling"),
            coalesce(col("_is_seed"), lit(false)).as("seed"))
    }
    def ones(c: Column) = coalesce(sum(when(c, lit(1L)).otherwise(lit(0L))), lit(0L))
    // the vertex, dangling and seed counts come with the checkpoint's job
    val (st0, r0) = s.stateWith(st0pre, count(lit(1)), ones(col("dangling")),
      ones(col("seed")), ones(col("dangling") && col("seed")))
    val n = r0.getLong(0)
    val nSeeds = r0.getLong(2)
    require(seeds.isEmpty || nSeeds > 0, "personalized PageRank needs >= 1 seed present in the graph")

    val teleCol =
      if (seeds.isEmpty) lit(1.0 / n)
      else when(col("seed"), lit(1.0 / nSeeds)).otherwise(lit(0.0))

    var danglingMass =
      if (seeds.isEmpty) r0.getLong(1).toDouble / n
      else r0.getLong(3).toDouble / nSeeds
    // initial state = narrow projection over the st0 checkpoint (no second
    // checkpoint copy — st0's blocks ARE the superstep-0 input)
    var state =
      if (resumeStep >= 0) ckpt.get.read(resumeStep)
      else st0.select(col("vertex"), col("dangling"), teleCol.as("tele"),
        teleCol.as("rank"))
    var it = math.max(resumeStep + 1, 0)
    // an empty graph has nothing to rank
    var converged = n == 0L
    if (resumeStep >= 0) ckpt.get.scalars(resumeStep).foreach { case (delta, carry) =>
      if (!carry.isNaN) danglingMass = carry
      if (!delta.isNaN) converged = delta < tol
    }

    // maxIter is a budget: running out is reported as converged = false
    val stepSecs = if (converged) Vector.empty[Double] else s.upTo(maxIter, from = it) { k =>
      // Pregel union-carrier: the state row rides along as a
      // zero-contribution message carrying (dangling, tele, old_rank), so
      // the new state is ONE aggregation — no contribs→state join, no sort,
      // and every vertex is guaranteed present.
      val msgs = links
        .join(state.select(col("vertex"), col("rank")).hint("shuffle_hash"),
          links("src") === col("vertex"))
        .select(col("dst"), (col("rank") * col("share")).as("contrib"),
          lit(null).cast("boolean").as("dangling"),
          lit(null).cast("double").as("tele"),
          lit(null).cast("double").as("old_rank"))
      val carrier = state.select(col("vertex").as("dst"), lit(0.0).as("contrib"),
        col("dangling"), col("tele"), col("rank").as("old_rank"))

      val stepT0 = System.nanoTime()
      // rank' = (1-d)·tele + d·in_mass + d·danglingMass·tele
      val next0 = msgs.unionByName(carrier)
        .groupBy(col("dst")).agg(
          sum(col("contrib")).as("in_mass"),
          first(col("dangling"), ignoreNulls = true).as("dangling"),
          first(col("tele"), ignoreNulls = true).as("tele"),
          first(col("old_rank"), ignoreNulls = true).as("old_rank"))
        .select(col("dst").as("vertex"), col("dangling"), col("tele"),
          (lit(1.0 - damping) * col("tele") + lit(damping) * col("in_mass")
            + lit(damping * danglingMass) * col("tele")).as("rank"),
          col("old_rank"))
      val (next, row) = s.stateWith(next0, Seq("vertex", "dangling", "tele", "rank"),
        max(abs(col("rank") - col("old_rank"))).as("delta"),
        coalesce(sum(when(col("dangling"), col("rank"))), lit(0.0)).as("dmass"))
      val delta = row.getDouble(0)
      danglingMass = row.getDouble(1)
      // the durable superstep record, written from the checkpoint's blocks
      ckpt.foreach { c =>
        c.write(k, next)
        c.seal(k, (System.nanoTime() - stepT0) / 1e9, delta, danglingMass)
      }

      state = next
      it = k + 1
      converged = delta < tol
      !converged
    }
    Result(state.select(col("vertex"), col("rank")), it, converged, stepSecs)
  }

  /** Undirected convenience: run on the symmetrized edge set. */
  def runUndirected(spark: SparkSession, edges: DataFrame, damping: Double = 0.85,
                    tol: Double = 1e-8, maxIter: Int = 100,
                    stateDir: Option[String] = None,
                    weightCol: Option[String] = None,
                    seeds: Option[DataFrame] = None): Result = {
    val bi = EdgeOps.symmetrize(edges.select(Seq(col("src"), col("dst")) ++ weightCol.map(col): _*))
    run(spark, bi, damping, tol, maxIter, stateDir, weightCol, seeds)
  }

  /** Personalized PageRank (random walk with restart to the seed set):
    * teleport and dangling redistribution go to the seeds instead of the
    * uniform vector. */
  def runPersonalized(spark: SparkSession, edges: DataFrame, seeds: DataFrame,
                      damping: Double = 0.85, tol: Double = 1e-8,
                      maxIter: Int = 100): Result =
    run(spark, edges, damping, tol, maxIter, seeds = Some(seeds))
}
