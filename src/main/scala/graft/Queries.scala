package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ingest.EdgeOps
import graft.graph.{ConnectedComponents, LabelPropagation, PageRank, TriangleCount}
import graft.cluster.{GreedyClustering, Shaping}

/** The query catalog behind SparkEntry: every operator of SURVEY.md §2 as a
  * runnable (SparkSession, sfDir) => DataFrame over the driver testdata.
  *
  * The link graph for the graph operators is derived deterministically from
  * the testdata (parts = vertices, order co-occurrence = edges) so the DuckDB
  * oracle can reproduce the exact same input — see `Oracle` for the SQL twins.
  */
object Queries {

  /** Shared edge table: part co-occurrence, thresholded to keep the graph
    * sparse enough to have interesting component structure.
    *
    * Materialized once per (session, sfDir) and reused across the catalog —
    * the engine-level equivalent of keeping the extracted edge table as an
    * Iceberg table instead of re-deriving it from raw pages per query. */
  def edges(spark: SparkSession, sfDir: String): DataFrame =
    cached(spark, sfDir, "t2") {
      // layered view: threshold the cached BASE table instead of re-running
      // the lineitem self-join (the round-2 shape rebuilt the co-occurrence
      // from scratch for each of the two caches — measured +13% on q_cc,
      // which paid the second build). One base materialization, t2 = one
      // cheap filter pass over cached rows.
      edgesAll(spark, sfDir).where(col("weight") >= 2L)
    }

  def edgesAll(spark: SparkSession, sfDir: String): DataFrame =
    cached(spark, sfDir, "all") {
      EdgeOps.partCooccurrence(spark, sfDir, minWeight = 1L)
    }

  private val edgeCache =
    scala.collection.concurrent.TrieMap.empty[(String, String, String), DataFrame]

  private def cached(spark: SparkSession, sfDir: String, key: String)
                    (build: => DataFrame): DataFrame =
    edgeCache.getOrElseUpdate((spark.sparkContext.applicationId, sfDir, key), {
      val df = build.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      df.count() // materialize eagerly so every consumer pays the build once
      df
    })

  /** Release the session cache of the catalog's shared inputs (the edge and
    * cc tables above) and the memoized models. Call before `spark.stop()` in
    * batch mains, or whenever the data under an sfDir changes mid-session
    * (the cache is keyed by path, not content). Operator-internal tables
    * are not cached here: they live in [[graft.core.Superstep]] scopes. */
  def clearCaches(): Unit = {
    edgeCache.valuesIterator.foreach { df =>
      try df.unpersist(blocking = false)
      catch { case scala.util.control.NonFatal(_) => () } // session may already be stopped
    }
    edgeCache.clear()
    QueriesDoc.clearModels()
  }

  /** Components of the shared thresholded graph — nine catalog queries
    * consume this partition (shape/singleton/reps/greedy/modularity), so
    * like the edge table it is materialized once per session. */
  def cc(spark: SparkSession, sfDir: String): DataFrame =
    cached(spark, sfDir, "cc") {
      // the co-occurrence build already emits canonical (src < dst) distinct
      // edges, so CC can skip its re-canonicalization pass + exchange
      ConnectedComponents.run(spark, edges(spark, sfDir), inputCanonical = true)
    }

  /** Universe of objects (parts) with priority rank = part key order. */
  def universe(spark: SparkSession, sfDir: String): DataFrame =
    Tables.part(spark, sfDir)
      .select(col("p_partkey").as("object"), col("p_partkey").as("rank"))

  // ---- S/P/A operators -----------------------------------------------------

  def qEdgesBuild(spark: SparkSession, sfDir: String): DataFrame =
    edgesAll(spark, sfDir).orderBy("src", "dst")

  def qEdgeFilter(spark: SparkSession, sfDir: String): DataFrame = {
    val e = edgesAll(spark, sfDir)
    val filtered = EdgeOps.rangeFilters(
      EdgeOps.dropSelfLoops(e),
      Seq(EdgeOps.RangeFilter("weight", min = Some(2.0), max = Some(4.0))))
    filtered.orderBy("src", "dst")
  }

  def qDegree(spark: SparkSession, sfDir: String): DataFrame =
    EdgeOps.degrees(edges(spark, sfDir)).orderBy("vertex")

  def qWeightHist(spark: SparkSession, sfDir: String): DataFrame =
    EdgeOps.weightHistogram(
      edgesAll(spark, sfDir).select(col("src"), col("dst"), col("weight").cast("double")),
      lo = 0.0, hi = 5.0, width = 1.0)
      .orderBy("bucket")

  def qEdgeStats(spark: SparkSession, sfDir: String): DataFrame =
    EdgeOps.edgeStats(
      edgesAll(spark, sfDir).select(col("src"), col("dst"), col("weight").cast("double")))

  def qDedupMin(spark: SparkSession, sfDir: String): DataFrame = {
    // Parallel-edge dedup keeping min weight: feed both orientations to
    // prove orientation-insensitivity (A1 semantics). The flip doubles its
    // weights, the input shape the SQL twin expects, so it is not
    // EdgeOps.symmetrize.
    val e = edgesAll(spark, sfDir).select(col("src"), col("dst"), col("weight").cast("double"))
    val doubled = e.unionByName(
      e.select(col("dst").as("src"), col("src").as("dst"), (col("weight") * lit(2.0)).as("weight")))
    EdgeOps.dedupMinWeight(doubled).orderBy("src", "dst")
  }

  // ---- Graph operators -----------------------------------------------------

  def qConnectedComponents(spark: SparkSession, sfDir: String): DataFrame =
    cc(spark, sfDir).orderBy("vertex")

  def qClusterShape(spark: SparkSession, sfDir: String): DataFrame = {
    val assign = cc(spark, sfDir).select(col("vertex").as("object"), col("component").as("cluster"))
    Shaping.renumberBySize(assign).orderBy("cluster", "object")
  }

  def qClusterSingletons(spark: SparkSession, sfDir: String): DataFrame = {
    val assign = cc(spark, sfDir).select(col("vertex").as("object"), col("component").as("cluster"))
    Shaping.renumber(assign, Some(universe(spark, sfDir))).orderBy("cluster", "object")
  }

  def qClusterRepresentatives(spark: SparkSession, sfDir: String): DataFrame = {
    val assign = Shaping.renumberBySize(
        cc(spark, sfDir).select(col("vertex").as("object"), col("component").as("cluster")))
      .select(col("object"), col("cluster"))
    Shaping.fillRepresentatives(assign).orderBy("cluster", "object")
  }

  /** Degree computed through the salted adjacency-block layer (same oracle
    * as q_degree; exercises hub splitting + two-phase re-aggregation). */
  def qAdjacencyDegree(spark: SparkSession, sfDir: String): DataFrame = {
    val bi = EdgeOps.symmetrize(
      edges(spark, sfDir).select(col("src"), col("dst"), col("weight").cast("double")))
    graft.graph.Adjacency.degreesFromBlocks(
        graft.graph.Adjacency.blocks(spark, bi, blockSize = 8))
      .select(col("src").as("vertex"), col("degree"))
      .orderBy("vertex")
  }

  def qTriangles(spark: SparkSession, sfDir: String): DataFrame =
    TriangleCount.globalCount(spark, edges(spark, sfDir))

  def qTrianglesPerVertex(spark: SparkSession, sfDir: String): DataFrame =
    TriangleCount.perVertex(spark, edges(spark, sfDir)).orderBy("vertex")

  /** Catalog PageRank runs use a FIXED superstep count (tol = 0) so the
    * DuckDB recursive-CTE oracle can replay the identical power iteration —
    * the convergence-driven variant is exercised by GraphAlgoSpec and the
    * Bench north-rule run. 6-dp rounding absorbs cross-engine float-sum
    * reorder noise. */
  def qPageRank(spark: SparkSession, sfDir: String): DataFrame = {
    val r = PageRank.runUndirected(spark, edges(spark, sfDir), tol = 0.0, maxIter = 8)
    r.ranks.select(col("vertex"), round(col("rank"), 6).as("rank")).orderBy("vertex")
  }

  /** PageRank on the full (unthresholded) co-occurrence graph — the
    * north-rule headline job at its densest. */
  def qPageRankFull(spark: SparkSession, sfDir: String): DataFrame = {
    val r = PageRank.runUndirected(spark, edgesAll(spark, sfDir).select(col("src"), col("dst")),
      tol = 0.0, maxIter = 6)
    r.ranks.select(col("vertex"), round(col("rank"), 6).as("rank")).orderBy("vertex")
  }

  def qLabelPropagation(spark: SparkSession, sfDir: String): DataFrame =
    LabelPropagation.run(spark, edges(spark, sfDir), iterations = 10).orderBy("vertex")

  /** Weighted PageRank: transition probability ∝ co-occurrence weight. */
  def qPageRankWeighted(spark: SparkSession, sfDir: String): DataFrame = {
    val r = PageRank.runUndirected(spark,
      edges(spark, sfDir).select(col("src"), col("dst"), col("weight").cast("double")),
      tol = 0.0, maxIter = 8, weightCol = Some("weight"))
    r.ranks.select(col("vertex"), round(col("rank"), 6).as("rank")).orderBy("vertex")
  }

  /** Neighborhood-Jaccard of adjacent pairs (link-prediction signal;
    * full DuckDB oracle). */
  def qVertexJaccard(spark: SparkSession, sfDir: String): DataFrame =
    graft.graph.VertexSimilarity.edgeJaccard(spark, edges(spark, sfDir))
      .orderBy("a", "b")

  /** Link prediction: resource-allocation index of NON-adjacent pairs over
    * capped wedges (middle degree ≤ 64, ≥ 2 common neighbors). Pinned-order
    * term fold → the double is bit-exact vs the DuckDB twin. */
  def qLinkPredict(spark: SparkSession, sfDir: String): DataFrame =
    graft.graph.LinkPrediction.resourceAllocation(spark, edges(spark, sfDir))
      .orderBy("a", "b")

  /** Local clustering coefficient per vertex (2·tri / deg·(deg−1)) —
    * integer-exact inputs, single IEEE division, full DuckDB oracle. */
  def qClusteringCoef(spark: SparkSession, sfDir: String): DataFrame =
    graft.graph.TriangleCount.localClusteringCoefficient(spark, edges(spark, sfDir))
      .orderBy("vertex")

  /** Multi-source BFS from the 4 lowest-id vertices (landmark distances —
    * the closeness/harmonic-centrality primitive); reachable pairs only.
    * One traversal, k-wide frontier; depth cap 40 mirrored by the twin. */
  def qMultiBfs(spark: SparkSession, sfDir: String): DataFrame = {
    val e = edges(spark, sfDir)
    val srcs = landmarks(e)
    if (srcs.isEmpty) { // empty graph: empty result, like the SQL twin
      import spark.implicits._
      return Seq.empty[(Long, Long, Long)].toDF("source", "vertex", "dist")
    }
    graft.graph.ShortestPaths.multiHops(spark, e, srcs, maxIter = 40)
      .orderBy("source", "vertex")
  }

  /** The 4 lowest vertex ids of `e`: the landmarks of q_multi_bfs and
    * q_harmonic. */
  private def landmarks(e: DataFrame): Seq[Long] =
    EdgeOps.vertices(e).orderBy("vertex").limit(4).collect().map(_.getLong(0)).toSeq

  /** Degree assortativity of the t2 graph (Newman r) — one aggregate row,
    * integer-exact sums, mirrored scalar expression tree in the twin. */
  def qAssortativity(spark: SparkSession, sfDir: String): DataFrame =
    graft.graph.GraphStats.assortativity(spark, edges(spark, sfDir))

  /** Harmonic centrality estimated from the 4 lowest-id landmarks (shared-
    * frontier multi-BFS; pinned-order 1/dist fold → bit-exact vs twin). */
  def qHarmonic(spark: SparkSession, sfDir: String): DataFrame = {
    val e = edges(spark, sfDir)
    val srcs = landmarks(e)
    if (srcs.isEmpty) {
      import spark.implicits._
      return Seq.empty[(Long, Double)].toDF("vertex", "harmonic")
    }
    graft.graph.GraphStats.harmonicFromLandmarks(spark, e, srcs, maxIter = 40)
      .orderBy("vertex")
  }

  /** Personalized PageRank: random walk with restart to a fixed seed set
    * (5 lowest canonical source keys); fixed supersteps, DuckDB-oracled. */
  def qPageRankPersonalized(spark: SparkSession, sfDir: String): DataFrame = {
    val e = edges(spark, sfDir)
    val bi = EdgeOps.symmetrize(e.select(col("src"), col("dst")))
    val seeds = e.select(col("src").as("vertex")).distinct().orderBy("vertex").limit(5)
    val r = PageRank.runPersonalized(spark, bi, seeds, tol = 0.0, maxIter = 8)
    r.ranks.select(col("vertex"), round(col("rank"), 6).as("rank")).orderBy("vertex")
  }

  /** BFS hop distances ("click distance") from the lowest-id vertex;
    * reachable vertices only. */
  def qBfsHops(spark: SparkSession, sfDir: String): DataFrame = {
    val e = edges(spark, sfDir)
    val srcRow = e.agg(min(col("src"))).head()
    if (srcRow.isNullAt(0)) { // empty graph: empty result, like the SQL twin
      import spark.implicits._
      return Seq.empty[(Long, Long)].toDF("vertex", "dist")
    }
    graft.graph.ShortestPaths.hops(spark, e, srcRow.getLong(0), maxIter = 40)
      .orderBy("vertex")
  }

  /** Weighted shortest-path distances (edge length = 1/co-occurrence
    * weight) from the lowest-id vertex; fixed 30 Bellman-Ford supersteps
    * (converged by ~20 on this data — the no-op tail keeps the DuckDB
    * replay aligned). */
  def qSsspWeighted(spark: SparkSession, sfDir: String): DataFrame = {
    val e = distEdges(spark, sfDir)
    val srcRow = e.agg(min(col("src"))).head()
    if (srcRow.isNullAt(0)) { // empty graph: empty result, like the SQL twin
      import spark.implicits._
      return Seq.empty[(Long, Double)].toDF("vertex", "dist")
    }
    graft.graph.ShortestPaths.weighted(spark, e, srcRow.getLong(0), fixedIters = Some(30))
      .select(col("vertex"), round(col("dist"), 6).as("dist")).orderBy("vertex")
  }

  /** 3-core of the thresholded graph (iterative peeling). */
  def qKCore(spark: SparkSession, sfDir: String): DataFrame =
    graft.graph.KCore.coreVertices(spark, edges(spark, sfDir), k = 3).orderBy("vertex")

  /** HITS hubs/authorities over the directed co-occurrence graph (fixed
    * iterations; DuckDB recursive-CTE oracle iterates h via the co-citation
    * matrix A·Aᵀ — same fixpoint path). */
  def qHits(spark: SparkSession, sfDir: String): DataFrame = {
    val r = graft.graph.Hits.run(spark, edges(spark, sfDir), iterations = 8)
    r.scores.select(col("vertex"), round(col("hub"), 6).as("hub"),
      round(col("authority"), 6).as("authority")).orderBy("vertex")
  }

  /** SALSA hub/authority distributions after 8 fixed supersteps — the
    * degree-normalized (TKC-robust) counterpart of q_hits on the same
    * directed edge table; SQL-oracled via the same matrix-form recursive
    * replay (sum-order differs only in last-ulp IEEE noise, far inside the
    * 6-dp rounding margin — the q_hits precedent). */
  def qSalsa(spark: SparkSession, sfDir: String): DataFrame =
    graft.graph.Salsa.run(spark, edges(spark, sfDir), iterations = 8)
      .select(col("vertex"),
        round(col("salsa_hub"), 6).as("salsa_hub"),
        round(col("salsa_authority"), 6).as("salsa_authority"))
      .orderBy("vertex")

  /** Louvain communities at clusty's default Leiden resolution (0.7,
    * reference src/leiden.h:19-24); labels are deterministic level-0 vertex
    * ids. Rows-only driver check; exact-recovery and modularity-vs-LPA
    * oracles live in LouvainSpec. */
  /** ORACLED end-to-end: the catalog instance runs a FIXED schedule (4
    * passes/level × 3 levels, md5-derived damping parity, per-level
    * refinement) so the driver's DuckDB twin replays every pass, every
    * refinement min-label step and every contraction in one recursive CTE
    * over the composed assignment. Replay exactness holds because all
    * Louvain quantities are integer-valued doubles (order-free exact sums),
    * making the gain scores IEEE-identical across engines. The library
    * default differs ONLY in early-stopping; LouvainSpec asserts both
    * schedules yield the same partition on this input. */
  def qLouvain(spark: SparkSession, sfDir: String): DataFrame =
    graft.graph.Louvain.run(spark, edges(spark, sfDir), resolution = 0.7,
      maxPasses = 4, maxLevels = 3, earlyStop = false)
      .assignment.orderBy("vertex")

  /** Graph contraction: roll the part co-occurrence graph up to the BRAND
    * graph (parts → brands :: pages → hosts on a web corpus) — inter-brand
    * mass summed, intra-brand mass dropped. Oracled by a direct SQL
    * relabel-and-aggregate over the same edge CTE and part table. */
  def qContract(spark: SparkSession, sfDir: String): DataFrame = {
    val mapping = Tables.part(spark, sfDir)
      .select(col("p_partkey").as("vertex"), col("p_brand").as("group"))
    graft.graph.Contraction.contract(
        edges(spark, sfDir).select(col("src"), col("dst"), col("weight")), mapping)
      .orderBy("src", "dst")
  }

  /** Deterministic random-walk corpus (4 hops from every vertex, md5-picked
    * neighbor indices) — DeepWalk-style embedding training data; every hop
    * replayed by the DuckDB recursive-CTE twin. */
  def qWalks(spark: SparkSession, sfDir: String): DataFrame =
    graft.graph.RandomWalks.walks(spark, edges(spark, sfDir), length = 4)
      .orderBy("walk_id", "step")

  /** Full k-core decomposition (h-index fixpoint iteration): core number
    * per vertex on the undirected t2 graph — subsumes [[qKCore]]'s single-k
    * membership. Self-terminating and integer-exact — the DuckDB twin
    * replays the identical h-index update to ITS fixpoint, so there is no
    * calibrated replay depth to guard. */
  def qKcoreDecomp(spark: SparkSession, sfDir: String): DataFrame =
    graft.graph.KCore.run(spark, edges(spark, sfDir)).orderBy("vertex")

  /** 3-truss of the t2 graph (distributed triangle-support peeling to a
    * fixpoint): the surviving undirected edges with their fixpoint support.
    * Self-terminating — the DuckDB twin peels to ITS fixpoint too, so no
    * calibrated replay depth to guard. */
  def qTruss(spark: SparkSession, sfDir: String): DataFrame =
    graft.graph.Truss.truss(spark, edges(spark, sfDir), k = 3).orderBy("a", "b")

  /** ANF: per-vertex 3-hop reach estimate from k=16 KMV sketches. The
    * sketch propagation is exact (k smallest md5-hashes of the exact
    * 3-hop ball), so the DuckDB twin reproduces it from a bounded
    * recursive-CTE ball + the same order statistic. */
  def qAnf(spark: SparkSession, sfDir: String): DataFrame =
    graft.graph.NeighborhoodFunction.kmvReach(spark, edges(spark, sfDir),
      hops = 3, k = 16).orderBy("vertex")

  /** The neighborhood function / hop-plot rollup over the same sketches:
    * per-hop corpus reach totals + effective-diameter fractions. Per-vertex
    * estimates are rounded to 6 dp and summed as DECIMAL(38,6), so the
    * corpus totals are exact and order-independent — summable identically
    * by the DuckDB twin. */
  def qReachCurve(spark: SparkSession, sfDir: String): DataFrame =
    graft.graph.NeighborhoodFunction.reachCurve(spark, edges(spark, sfDir),
      maxHops = 3, k = 16).orderBy("hop")

  /** Per-component bipartiteness: BFS-parity 2-coloring from each
    * component's min-vertex root (the CC label), with odd-cycle witness
    * counts. Deterministic — the coloring is a pure function of the rooted
    * BFS distances, replayed by the oracle's recursive CTE. */
  def qBipartite(spark: SparkSession, sfDir: String): DataFrame =
    graft.graph.Bipartite.check(spark, edges(spark, sfDir)).orderBy("component")

  /** Log₂-binned degree distribution — the power-law readout every
    * web-graph study starts with. Bucketing is INTEGER-exact on both
    * engines (binary digit count here, float-log with an exact integer
    * shift-correction in the oracle), never a bare floor(log2(double))
    * whose last-ulp can flip at exact powers of two. */
  def qDegreeDist(spark: SparkSession, sfDir: String): DataFrame = {
    val e = edges(spark, sfDir)
    val deg = e.select(col("src").as("vertex"))
      .unionAll(e.select(col("dst").as("vertex")))
      .groupBy("vertex").agg(count(lit(1)).as("degree"))
    deg.select((length(conv(col("degree"), 10, 2)) - 1).cast("long").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_vertices"))
      .select(col("bucket"),
        expr("shiftleft(1L, cast(bucket as int))").as("lo"),
        expr("shiftleft(1L, cast(bucket + 1 as int)) - 1L").as("hi"),
        col("n_vertices"))
      .orderBy("bucket")
  }

  /** Strongly connected components of the md5-parity-ORIENTED edge table
    * (the canonical src<dst table is a DAG — every SCC a singleton — so the
    * catalog orients each edge by a deterministic cross-engine md5 coin to
    * create genuine directed cycles). Oracle is SEMANTIC ground truth, not
    * a replay: DuckDB computes the mutual transitive closure directly. */
  def qScc(spark: SparkSession, sfDir: String): DataFrame = {
    val par = conv(substring(md5(concat_ws("|", col("src"), col("dst"))), 1, 15), 16, 10)
      .cast("long") % 2
    val oriented = edges(spark, sfDir).select(
      when(par === 0, col("src")).otherwise(col("dst")).as("o_src"),
      when(par === 0, col("dst")).otherwise(col("src")).as("o_dst"))
      .select(col("o_src").as("src"), col("o_dst").as("dst"))
    graft.graph.StronglyConnectedComponents.run(spark, oriented).orderBy("vertex")
  }

  /** Newman modularity of the connected-components partition (SQL-oracled:
    * DuckDB recomputes Q from the same recursive-CTE components). */
  def qModularity(spark: SparkSession, sfDir: String): DataFrame =
    graft.graph.Modularity.of(spark, edges(spark, sfDir),
      cc(spark, sfDir).select(col("vertex"), col("component").as("label")))

  // ---- Greedy clusterings (clusty C2-C5; sequential-per-component) ---------

  /** Edge weights as distances: co-occurrence count is a similarity, so
    * d = 1/weight (more co-occurrences = closer). */
  private def distEdges(spark: SparkSession, sfDir: String): DataFrame =
    edges(spark, sfDir).select(col("src"), col("dst"),
      (lit(1.0) / col("weight")).as("weight"))

  private def vertexRanks(spark: SparkSession, sfDir: String): DataFrame =
    universe(spark, sfDir).select(col("object").as("vertex"), col("rank"))

  def qSetCover(spark: SparkSession, sfDir: String): DataFrame =
    GreedyClustering.run(spark, distEdges(spark, sfDir), vertexRanks(spark, sfDir),
      GreedyClustering.SetCover, precomputedCC = Some(cc(spark, sfDir))).orderBy("vertex")

  def qCdHit(spark: SparkSession, sfDir: String): DataFrame =
    GreedyClustering.run(spark, distEdges(spark, sfDir), vertexRanks(spark, sfDir),
      GreedyClustering.CdHit, precomputedCC = Some(cc(spark, sfDir))).orderBy("vertex")

  def qUclust(spark: SparkSession, sfDir: String): DataFrame =
    GreedyClustering.run(spark, distEdges(spark, sfDir), vertexRanks(spark, sfDir),
      GreedyClustering.Uclust, precomputedCC = Some(cc(spark, sfDir))).orderBy("vertex")

  /** Weighted Louvain (edge mass = co-occurrence count — clusty's Leiden
    * similarly weighs edges by similarity, src/leiden.h:85-106). Same fixed
    * replayable schedule as q_louvain; the exactness argument carries over
    * because the weights are integer counts. */
  def qLouvainWeighted(spark: SparkSession, sfDir: String): DataFrame =
    graft.graph.Louvain.run(spark, edges(spark, sfDir), resolution = 0.7,
      maxPasses = 4, maxLevels = 3, weightCol = Some("weight"),
      earlyStop = false)
      .assignment.orderBy("vertex")

  /** DuckDB-oracled since round 5 (previously the one rows-only row). The
    * earlier "heap tie order is not SQL-replayable" claim was wrong: the
    * lazy-deletion pop is a lexicographic argmin over (distance, clusterA,
    * clusterB) — a total order on CURRENT cluster ids, independent of
    * insertion sequence — and cluster-pair distance/adjacency are pure
    * functions of the partition, so the whole merge sequence replays as a
    * recursive CTE (batched Borůvka-style; derivation at the oracle entry
    * in SparkEntry). Engine-side correctness additionally lives in
    * GreedySpec, scalacheck properties (incl. the batched-equivalence
    * property backing the oracle, CompleteLinkagePropertySpec), and the
    * reference repo's own vir61 complete-linkage goldens (MainCliSpec). */
  def qCompleteLinkage(spark: SparkSession, sfDir: String): DataFrame =
    GreedyClustering.completeLinkage(spark, distEdges(spark, sfDir),
      precomputedCC = Some(cc(spark, sfDir))).orderBy("vertex")

  // ---- Multimodal binary plumbing (synthesized pages; sf-independent) ------

  /** Media-kind sniff + size rollup over the deterministic mixed-media
    * corpus (PNG/WAV/mp4-stub). DRIVER-ORACLED since round 3: Verify writes
    * the same corpus to a parquet fixture, and the DuckDB twin re-sniffs
    * the ACTUAL magic bytes with substr(hex(payload),...) — the sniffing
    * logic is verified against a second engine reading the same blobs, not
    * against our own generator parameters. */
  def qMediaMeta(spark: SparkSession, sfDir: String): DataFrame = {
    val media = graft.multimodal.MediaSynth.mediaTable(spark, nPerKind = 50, seed = 42L)
    graft.multimodal.BinaryOps.extractMeta(media, binCol = "payload").toDF()
      .groupBy("kind").agg(count(lit(1)).as("n"), sum(col("n_bytes")).as("total_bytes"))
      .orderBy("kind")
  }

  /** REAL decode over a mixed media corpus: PNG dimensions + luminance
    * histogram via the JDK's ImageIO, PCM-WAV geometry + amplitude stats via
    * byte parsing; only the video rows go through the documented stub.
    * DRIVER-ORACLED since round 4: the fixture PNGs carry stored-deflate
    * (uncompressed) IDAT scanlines, so the DuckDB twin recomputes the
    * luminance-histogram feature from the SAME bytes ImageIO decodes; WAV
    * amplitude stats replay from the PCM samples, and the video stub's
    * float32 fold is emulated step-for-step with ::REAL casts (SparkEntry
    * VIDEO_F0). The decode kernels additionally stay pixel/sample-exact
    * against MediaSynth's generator ground truth in MediaDecodeSpec. */
  def qMediaDecode(spark: SparkSession, sfDir: String): DataFrame = {
    val media = graft.multimodal.MediaSynth.mediaTable(spark, nPerKind = 50, seed = 42L)
    graft.multimodal.BinaryOps.decodeAll(media).toDF()
      .select(col("url"), col("kind"),
        col("width").cast("long").as("width"), col("height").cast("long").as("height"),
        col("sample_rate").cast("long").as("sample_rate"),
        col("n_samples").cast("long").as("n_samples"),
        round(element_at(col("feature"), 1).cast("double"), 6).as("f0"))
      .orderBy("url")
  }

  /** Media GEOMETRY through the real decoders — PNG dimensions via ImageIO,
    * WAV sample geometry via the chunk-walking PCM parser — over the same
    * fixture corpus as q_media_meta. DRIVER-ORACLED since round 3: the
    * DuckDB twin parses width/height (big-endian IHDR ints) and
    * sample_rate/n_samples (little-endian canonical-header ints) straight
    * from the fixture's bytes, so the Spark decode path is checked against
    * an independent byte-level re-parse. Since round 4 the FEATURE values
    * are oracled too (q_media_decode — stored-deflate PNG fixture makes the
    * pixels byte-addressable without ImageIO). */
  def qMediaGeometry(spark: SparkSession, sfDir: String): DataFrame = {
    val media = graft.multimodal.MediaSynth.mediaTable(spark, nPerKind = 50, seed = 42L)
    graft.multimodal.BinaryOps.decodeAll(media).toDF()
      .select(col("url"), col("kind"),
        col("width").cast("long").as("width"), col("height").cast("long").as("height"),
        col("sample_rate").cast("long").as("sample_rate"),
        col("n_samples").cast("long").as("n_samples"))
      .orderBy("url")
  }
}
