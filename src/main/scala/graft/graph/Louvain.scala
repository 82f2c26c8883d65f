package graft.graph

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.EdgeOps

/** Distributed Louvain community detection with a resolution parameter and
  * Leiden's connectedness guarantee — the engine's counterpart of clusty's
  * Leiden algorithm (reference src/leiden.h:19-24 exposes resolution/beta/
  * iterations; the reference delegates the algorithm itself to igraph and
  * ships without it by default, src/leiden.h:36-50). Deterministic
  * substitute for Leiden's randomized refinement (`beta` has no counterpart
  * here): synchronous vertex-parallel move passes with parity damping, then
  * graph coarsening, repeated per level — the standard distributed-Louvain
  * shape (one aggregation + bounded joins per pass, every stage partitioned
  * by vertex/community key, no driver-side data plane). Leiden's defining
  * OUTPUT property — every community induces a connected subgraph — is
  * enforced by running [[ensureConnected]] per level BEFORE aggregation
  * (on by default), exactly where Leiden places its refinement phase:
  * contraction then only merges connected sets and split parts re-merge
  * with their true neighbors at the next level. The pass is deterministic
  * and never lowers modularity.
  *
  * Move rule per pass: vertex v moves to the neighboring community c
  * maximizing the resolution-scaled modularity gain
  *
  *   score(v→c) = k_{v→c} − γ·k_v·(Σtot_c − [c = comm(v)]·k_v) / (2m)
  *
  * (argmax ties broken toward the smaller community id; a move happens only
  * on STRICT improvement over staying). Synchronous simultaneous moves can
  * oscillate (two vertices swapping communities forever), so each pass only
  * permits moves for vertices whose hashed parity bit equals `pass % 2` —
  * the classic parity-damping trick, deterministic under any partitioning.
  * The parity is HASHED, not `vertex % 2`: after contraction the vertex ids
  * are min-member community ids, whose raw parity is heavily skewed (a ring
  * of 4-cliques contracts to all-even ids, turning raw-parity damping into
  * no damping at all). The hash is md5 of the decimal id — the ONE parity
  * family, identical to what the driver's SQL-replay oracle recomputes, so
  * the shipped default and the oracled catalog run take the same move
  * sequence (an earlier xxhash64 fast path was removed: the digest is
  * computed once per level into the degree table, so the md5 cost is
  * O(V·levels) — noise — and carrying two families let the default path
  * diverge from everything the driver hash-verifies). The parity BIT
  * ROTATES per even/odd pass pair (pass pair t reads hex digit t mod 32 of
  * the digest): any single hash bit can be unluckily constant on a small
  * contracted vertex set — six supervertices all on one side means the
  * symmetric ring merges never happen — but no bad coloring survives the
  * next pass pair.
  *
  * Per level, passes stop when a full even+odd round moves nothing; the
  * level's partition is then contracted (communities → super-vertices,
  * intra-community mass → self-loops) and the next level runs on the coarse
  * graph. Labels compose back to original vertices by joining the per-level
  * mappings (each O(V), shrinking geometrically).
  */
object Louvain {

  /** @param refineDepths measured min-label propagation depth of each
    *                     level's refinement (filled only when `run` is
    *                     called with `measureRefineDepth = true`) — the
    *                     number the driver-oracle's fixed `ccSteps` replay
    *                     margin must cover (see
    *                     [[graft.tools.OracleCalibration]]). */
  final case class Result(assignment: DataFrame, levels: Int,
                          refineDepths: Seq[Int] = Nil)

  /** Leiden's connectedness guarantee as a deterministic post-pass: every
    * returned community induces a CONNECTED subgraph. Synchronous Louvain
    * move passes can strand a community across several components (the
    * classic badly-connected-community artifact Leiden was built to fix,
    * Traag et al. 2019); splitting such a community into its connected
    * components never lowers modularity — no inter-component edge is cut,
    * and the Σ(deg²) penalty only shrinks when a degree mass is split — so
    * the pass is a pure improvement. One extra CC run over the
    * intra-community edge set; new labels are the component's min member id
    * (globally unique across communities since vertex sets are disjoint).
    * Vertices with no intra-community edge become singletons. */
  /** Intra-community edge restriction — shared by [[ensureConnected]] and
    * the calibration probe ([[minLabelDepth]] via run's measure flag). */
  private[graft] def intraEdges(edges: DataFrame, assignment: DataFrame): DataFrame = {
    val a = assignment.select(col("vertex"), col("community"))
    edges
      .join(a.select(col("vertex").as("src"), col("community").as("cs")), "src")
      .join(a.select(col("vertex").as("dst"), col("community").as("cd")), "dst")
      .where(col("cs") === col("cd"))
      .select(col("src"), col("dst"))
  }

  /** Convergence depth of synchronous min-label propagation over `edges`:
    * the number of supersteps after which every vertex holds its
    * component's minimum id. This is EXACTLY the step count the DuckDB
    * oracle's fixed-schedule refinement replay needs per level — the Spark
    * refinement itself uses the (faster-converging) small/large-star CC, so
    * this probe exists purely to keep the replay margin honest. Bounded
    * loop on the [[graft.core.Superstep]] driver (O(1) plan). */
  private[graft] def minLabelDepth(spark: SparkSession, edges: DataFrame,
                                   cap: Int = 64): Int =
    graft.core.Superstep.run("Louvain.minLabelDepth") { s =>
      val bi = s.pin(EdgeOps.symmetrize(edges.select(col("src"), col("dst"))).toDF("u", "v"))
      var lbl = s.pin(bi.select(col("u").as("vertex")).distinct()
        .select(col("vertex"), col("vertex").as("lbl")))
      var depth = 0
      s.upTo(cap) { _ =>
        val nb = bi.join(lbl.select(col("vertex").as("v"), col("lbl").as("nl")), "v")
          .groupBy(col("u").as("vertex")).agg(min(col("nl")).as("nb"))
        val (ck, m) = s.stateWith(lbl.join(nb, Seq("vertex"), "left")
          .select(col("vertex"), least(col("lbl"), coalesce(col("nb"), col("lbl"))).as("lbl"),
            col("lbl").as("old")),
          count(when(col("lbl") =!= col("old"), lit(1))))
        val moves = m.getLong(0)
        lbl = ck.select(col("vertex"), col("lbl"))
        if (moves > 0) depth += 1
        moves > 0
      }
      depth
    }

  def ensureConnected(spark: SparkSession, edges: DataFrame, assignment: DataFrame,
                      inputCanonical: Boolean = false): DataFrame = {
    val a = assignment.select(col("vertex"), col("community"))
    val intra = intraEdges(edges, a)
    // intra edges inherit the caller graph's canonicalization: run() passes
    // inputCanonical = true (its level graphs are grouped by (a < b)), so
    // the refinement CC skips its re-canonicalization pass + exchange
    val comp = ConnectedComponents.run(spark, intra, inputCanonical = inputCanonical)
      .select(col("vertex").as("v"), col("component"))
    a.join(comp, a("vertex") === comp("v"), "left")
      .select(a("vertex"), coalesce(col("component"), a("vertex")).as("community"))
  }

  /** @param edges (src, dst[, weight]) undirected, any orientation;
    *              self-loops ignored at level 0.
    * @param resolution γ — larger values yield more, smaller communities
    *                   (γ = 1 is classic modularity; clusty's Leiden default
    *                   is 0.7).
    * @param maxPasses  move passes per level (each pass = one superstep).
    * @param maxLevels  coarsening levels.
    * @return (vertex: Long, community: Long); community ids are level-0
    *         vertex ids (deterministic, not dense — renumber downstream). */
  /** `earlyStop = false` runs EXACTLY maxPasses passes per level and
    * maxLevels levels (idle passes/levels are no-ops) — which makes the
    * whole multi-level fixpoint replayable in SQL: the driver's DuckDB twin
    * re-executes every pass, refinement step and contraction over the
    * composed assignment. On the UNWEIGHTED path (`weightCol = None`)
    * replay-exactness holds because every Louvain quantity (k, Σtot, k_v→c,
    * 2m) is an integer-valued double (sums of 1.0s are exact in any order up
    * to 2^53), so scores match IEEE-bit-for-bit across engines, and the
    * damping parity is md5-derived (computable in any engine — see the class
    * doc). With a weight column the sums are order-dependent in the last
    * place, so a replay can differ where two scores tie to within rounding.
    */
  def run(spark: SparkSession, edges: DataFrame, resolution: Double = 1.0,
          maxPasses: Int = 20, maxLevels: Int = 4,
          weightCol: Option[String] = None,
          connectedGuarantee: Boolean = true,
          earlyStop: Boolean = true,
          measureRefineDepth: Boolean = false): Result =
    graft.core.Superstep.run("Louvain.run") { s =>
    // canonical weighted undirected edges; parallel edges sum their weights
    // (EdgeOps.simple would keep one of them)
    val w0 = weightCol.map(c => col(c).cast("double")).getOrElse(lit(1.0))
    var g = s.state(edges.select(col("src").cast("long"), col("dst").cast("long"), w0.as("w"))
      .where(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"), greatest(col("src"), col("dst")).as("b"), col("w"))
      .groupBy(col("a"), col("b")).agg(sum(col("w")).as("w"))
      .withColumn("self", lit(0.0))) // self-loop mass appears on coarse levels

    // mapping from original vertices to current-level vertices
    var mapping = s.state(g.select(col("a").as("vertex")).union(g.select(col("b").as("vertex")))
      .distinct().select(col("vertex"), col("vertex").as("cur")))

    var level = 0
    val refineDepths = scala.collection.mutable.ArrayBuffer.empty[Int]
    // maxLevels is a budget the SQL twin replays; a level that moves nothing
    // ends the run early (earlyStop)
    s.upTo(maxLevels) { _ =>
      val (commRaw, moved0) = movePhase(spark, g, resolution, maxPasses, earlyStop)
      val moved = moved0 || !earlyStop // fixed schedule: always proceed (no-ops are harmless)
      if (measureRefineDepth && moved)
        refineDepths += minLabelDepth(spark,
          intraEdges(g.where(col("a") =!= col("b"))
              .select(col("a").as("src"), col("b").as("dst")),
            commRaw.select(col("vertex"), col("comm").as("community"))))
      // Leiden-style refinement BEFORE aggregation: split communities the
      // synchronous moves left internally disconnected, so contraction only
      // ever merges connected sets — the split parts are free to re-merge
      // with their true neighbors at the next level. By induction every
      // level's communities (and thus the composed level-0 partition)
      // induce connected subgraphs.
      val comm = if (connectedGuarantee && moved) {
        ensureConnected(spark,
          g.where(col("a") =!= col("b")).select(col("a").as("src"), col("b").as("dst")),
          commRaw.select(col("vertex"), col("comm").as("community")),
          inputCanonical = true)
          .select(col("vertex"), col("community").as("comm"))
      } else commRaw
      if (moved) {
        mapping = s.state(mapping.join(comm, mapping("cur") === comm("vertex"))
          .select(mapping("vertex"), col("comm").as("cur")))
        // contract: communities become vertices; intra-community edge mass
        // becomes self-loop weight (counted once, contributing 2w to degree)
        val ce = g
          .join(comm.select(col("vertex").as("a"), col("comm").as("ca")), "a")
          .join(comm.select(col("vertex").as("b"), col("comm").as("cb")), "b")
          .select(least(col("ca"), col("cb")).as("a"), greatest(col("ca"), col("cb")).as("b"),
            col("w"), (col("self") + when(col("ca") === col("cb"), col("w")).otherwise(0.0)).as("selfw"))
        g = s.state(ce.groupBy(col("a"), col("b"))
          .agg(sum(when(col("a") =!= col("b"), col("w")).otherwise(0.0)).as("w"),
            // keep a row even for pure self-loop super-vertices (a == b)
            sum(col("selfw")).as("self")))
        level += 1
      }
      moved
    }
    // per-level refinement already guarantees connectedness of the composed
    // partition (see loop)
    Result(mapping.select(col("vertex"), col("cur").as("community")), level,
      refineDepths.toSeq)
  }

  /** One level's move passes. Returns (vertex, comm) and whether any vertex
    * moved at this level. */
  private def movePhase(spark: SparkSession, g: DataFrame, resolution: Double,
                        maxPasses: Int, earlyStop: Boolean = true): (DataFrame, Boolean) =
    graft.core.Superstep.run("Louvain.movePhase") { s =>
    // bi-directed view of the weighted level graph for per-vertex neighbor
    // scans (self-loops excluded from neighbor mass, included in degree)
    val bi = s.pin(g.where(col("a") =!= col("b"))
      .select(col("a").as("u"), col("b").as("v"), col("w"))
      .union(g.where(col("a") =!= col("b"))
        .select(col("b").as("u"), col("a").as("v"), col("w"))))
    val selfs = g.groupBy(col("a").as("u")).agg(sum(col("self")).as("sw"))

    // k_v = incident edge mass (+2·self-loop); 2m = Σ k_v. The damping
    // digest rides along: one md5 per vertex per LEVEL here; each pass pair
    // just reads a different hex digit of the cached string.
    val kv = s.pin(bi.groupBy(col("u")).agg(sum(col("w")).as("kin"))
      .join(selfs, Seq("u"), "left")
      .select(col("u").as("vertex"), (col("kin") + lit(2.0) * coalesce(col("sw"), lit(0.0))).as("k"))
      .unionByName(
        // isolated super-vertices (only a self-loop) still carry degree
        selfs.join(bi.select(col("u")).distinct(), Seq("u"), "left_anti")
          .select(col("u").as("vertex"), (lit(2.0) * col("sw")).as("k")))
      .withColumn("ph", md5(col("vertex").cast("string"))))
    val m2 = kv.agg(coalesce(sum(col("k")), lit(0.0))).head().getDouble(0) // = 2m
    if (m2 == 0.0) (kv.select(col("vertex"), col("vertex").as("comm")), false)
    else {
      var comm = s.pin(kv.select(col("vertex"), col("vertex").as("comm")))
      var anyMove = false
      var idleStreak = 0
      // maxPasses is a budget the SQL twin replays
      s.upTo(maxPasses) { pass =>
        // Σtot per community
        val tot = comm.join(kv, "vertex").groupBy(col("comm")).agg(sum(col("k")).as("tot"))
        // k_{v→c}: neighbor mass of v into community c, with the current
        // community riding along as a zero-mass carrier row. ONE (u, c)
        // aggregation over the unioned messages — the previous shape
        // aggregated kvc first and re-aggregated after the carrier union,
        // exchanging the Θ(E) candidate table twice for the same sums
        // (sum∘union = sum of sums). On the unweighted path the masses are
        // integer-valued doubles, so the fused sum is IEEE-identical; weighted
        // masses may round differently in the last place.
        val kvcMsgs = bi.join(comm.select(col("vertex").as("v"), col("comm").as("c")), "v")
          .select(col("u"), col("c"), col("w").as("kc"))
        val cand = kvcMsgs.unionByName(
            comm.select(col("vertex").as("u"), col("comm").as("c"), lit(0.0).as("kc")))
          .groupBy(col("u"), col("c")).agg(sum(col("kc")).as("kc"))
          .join(tot.select(col("comm").as("c"), col("tot")), "c")
          .join(comm.select(col("vertex").as("u"), col("comm").as("cur")), "u")
          .join(kv.select(col("vertex").as("u"), col("k"), col("ph")), "u")
          .select(col("u"), col("c"), col("cur"), col("k"), col("ph"),
            (col("kc") - lit(resolution) * col("k") *
              (col("tot") - when(col("c") === col("cur"), col("k")).otherwise(0.0)) / lit(m2))
              .as("score"))
        val parity = pass % 2
        // rotating damping bit: pass pair t reads hex digit t%32 of the digest
        val bitPos = 1 + (pass / 2) % 32
        val next = cand.groupBy(col("u")).agg(
            max_by(col("c"), struct(col("score"), -col("c"))).as("best"),
            max(col("score")).as("best_score"), // == score(best): argmax is score-first
            max(when(col("c") === col("cur"), col("score"))).as("stay_score"),
            first(col("cur")).as("cur"),
            first(col("ph")).as("ph"))
          .select(col("u").as("vertex"),
            when(parityBit(col("ph"), bitPos) === lit(parity) && col("best_score") > col("stay_score"),
              col("best")).otherwise(col("cur")).as("comm"),
            col("cur").as("old_comm"))
        val (nextCk, m) = s.stateWith(next, count(when(col("comm") =!= col("old_comm"), lit(1))))
        val moves = m.getLong(0)
        comm = nextCk.select(col("vertex"), col("comm"))
        anyMove ||= moves > 0
        idleStreak = if (moves == 0) idleStreak + 1 else 0
        !earlyStop || idleStreak < 2
      }
      (comm, anyMove)
    }
  }

  /** Damping parity from a cached md5 hex digest: digit at `bitPos`
    * (1-based) < '8' → 0 — recomputable in any engine, which is what lets
    * the driver's SQL oracle replay the exact move sequence. */
  private def parityBit(digest: Column, bitPos: Int): Column =
    when(substring(digest, bitPos, 1) < lit("8"), lit(0)).otherwise(lit(1))
}
