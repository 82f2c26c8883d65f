package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.cluster.{GreedyClustering, Shaping}
import graft.core.{Preload, Superstep}
import graft.graph.{ConnectedComponents, Louvain}
import graft.ingest.{Dictionary, EdgeOps}
import graft.sources.{AssignmentsSink, EdgeTableSource}

/** The clusty-equivalent CLI entry point: one end-to-end run of
  * `graft.Main [options] <distances> <assignments>` mirrors
  * `clusty [options] <distances> <assignments>` (reference
  * src/params.cpp:22-123) — same flags, same dataflow
  * (edge-table scan → filters/transform → dictionary → clustering →
  * output shaping → assignments sink), composed from the engine's
  * distributed operators instead of the reference's in-memory pipeline.
  *
  * Supported options (names identical to the reference):
  *   --algo single|complete|uclust|set-cover|cd-hit|leiden
  *   --objects-file F            object universe + representativeness order
  *   --id-cols c1 c2             id columns (default: first two)
  *   --distance-col c            distance column (default: third)
  *   --similarity | --percent-similarity
  *   --min col v / --max col v   repeatable range filters (repeated --min on
  *                               a column keeps the max threshold, --max the
  *                               min — reference src/params.cpp:94-101)
  *   --numeric-ids
  *   --out-representatives
  *   --out-csv
  *   -v                          load report + distance histogram (A2/A5)
  *   --leiden-resolution x (0.7) / --leiden-iterations n — leiden maps to
  *     [[graft.graph.Louvain]]; --leiden-beta is accepted and ignored (our
  *     refinement is deterministic, no randomness knob).
  *
  * The table is scanned once and cached. The load report (and the `-v`
  * histogram) runs on a second driver thread over that scan while the main
  * thread clusters; the report prints whole before the sink writes, and a
  * run whose report fails writes nothing.
  *
  * Small inputs run interpreted: when the edge table and the objects file
  * are uncompressed and together under 4 MiB (file listing only, no Spark
  * job), [[main]] turns off whole-stage codegen and generated expression
  * classes for its session, each setting only where the launch did not set
  * it ([[interpretedSettings]]). Compiling a class costs more than a
  * small table's rows take to interpret; on large tables the compiled code
  * wins. The output is the same either way. [[execute]] and the catalog
  * (`Queries`, `Bench`, `Verify`) keep codegen.
  *
  * Determinism note: without an objects file the reference assigns local ids
  * in first-appearance order of the (single-threaded) edge stream; each
  * scanned row carries its physical position, so
  * [[EdgeTableSource.firstAppearanceRanks]] recovers that order and ties
  * among equal-sized clusters break as in the reference. With an objects
  * file, ids are its line order.
  */
object Main {

  final case class Filter(min: Double = Double.NegativeInfinity,
                          max: Double = Double.PositiveInfinity)

  final case class Config(
      distances: String = "",
      output: String = "",
      algo: String = "single",
      objectsFile: Option[String] = None,
      idCols: Option[(String, String)] = None,
      distanceCol: Option[String] = None,
      distanceKind: EdgeOps.DistanceKind = EdgeOps.RawDistance,
      filters: Map[String, Filter] = Map.empty,
      numericIds: Boolean = false,
      verbose: Boolean = false,
      outRepresentatives: Boolean = false,
      outCsv: Boolean = false,
      leidenResolution: Double = 0.7,
      leidenIterations: Int = 2)

  def parse(argv: Seq[String]): Config = {
    require(argv.length >= 2, usage)
    var cfg = Config()
    val args = argv.toBuffer
    def takeOpt(name: String): Option[String] = {
      val i = args.indexOf(name)
      if (i >= 0 && i + 1 < args.length - 2) { // last two args are positional
        val v = args(i + 1); args.remove(i, 2); Some(v)
      } else None
    }
    def takeOpt2(name: String): Option[(String, String)] = {
      val i = args.indexOf(name)
      if (i >= 0 && i + 2 < args.length - 2) {
        val v = (args(i + 1), args(i + 2)); args.remove(i, 3); Some(v)
      } else None
    }
    def takeFlag(name: String): Boolean = {
      val i = args.indexOf(name)
      if (i >= 0) { args.remove(i); true } else false
    }

    takeOpt("--algo").foreach(a => cfg = cfg.copy(algo = a))
    // before any session starts, not after a cold start in `execute`
    require(Algos.contains(cfg.algo), s"unknown --algo ${cfg.algo}\n$usage")
    takeOpt("--objects-file").foreach(f => cfg = cfg.copy(objectsFile = Some(f)))
    takeOpt2("--id-cols").foreach(c => cfg = cfg.copy(idCols = Some(c)))
    takeOpt("--distance-col").foreach(c => cfg = cfg.copy(distanceCol = Some(c)))
    if (takeFlag("--percent-similarity")) cfg = cfg.copy(distanceKind = EdgeOps.PercentSimilarity)
    if (takeFlag("--similarity")) cfg = cfg.copy(distanceKind = EdgeOps.Similarity)
    var more = true
    while (more) takeOpt2("--min") match {
      case Some((c, v)) =>
        val f = cfg.filters.getOrElse(c, Filter())
        cfg = cfg.copy(filters = cfg.filters.updated(c, f.copy(min = math.max(f.min, v.toDouble))))
      case None => more = false
    }
    more = true
    while (more) takeOpt2("--max") match {
      case Some((c, v)) =>
        val f = cfg.filters.getOrElse(c, Filter())
        cfg = cfg.copy(filters = cfg.filters.updated(c, f.copy(max = math.min(f.max, v.toDouble))))
      case None => more = false
    }
    if (takeFlag("-v")) cfg = cfg.copy(verbose = true)
    takeOpt("-t") // thread count: accepted for script compatibility, ignored
                  // (parallelism is the Spark master/session's concern)
    if (takeFlag("--version")) println("graft (clusty-compatible CLI) 0.1.0")
    if (takeFlag("--numeric-ids")) cfg = cfg.copy(numericIds = true)
    if (takeFlag("--out-representatives")) cfg = cfg.copy(outRepresentatives = true)
    if (takeFlag("--out-csv")) cfg = cfg.copy(outCsv = true)
    takeOpt("--leiden-resolution").foreach(v => cfg = cfg.copy(leidenResolution = v.toDouble))
    takeOpt("--leiden-beta") // accepted, ignored (deterministic refinement)
    takeOpt("--leiden-iterations").foreach(v => cfg = cfg.copy(leidenIterations = v.toInt))

    // the two survivors must be the positionals, not leftover option tokens
    // (e.g. `--algo single` with no paths would otherwise "parse")
    require(args.length == 2 && !args.exists(_.startsWith("--")),
      s"expected <distances> <assignments>, got: ${args.mkString(" ")}\n$usage")
    cfg.copy(distances = args(0), output = args(1))
  }

  private val Algos = Seq("single", "complete", "uclust", "set-cover", "cd-hit", "leiden")

  private val usage =
    s"usage: graft.Main [--algo ${Algos.mkString("|")}] " +
      "[--objects-file F] [--id-cols c1 c2] [--distance-col c] [--similarity] " +
      "[--percent-similarity] [--min col v]... [--max col v]... [--numeric-ids] " +
      "[--out-representatives] [--out-csv] [-v] <distances> <assignments>"

  /** Inputs under this many bytes run interpreted (README "Cold start of
    * the CLI" has the crossover). */
  private val InterpretBelowBytes = 4L << 20

  /** The session settings under which [[main]] runs an input of `bytes`
    * bytes: whole-stage codegen and generated expression classes off when
    * no file is compressed and `bytes` is under the limit, less any key
    * in `setAtLaunch` (as in `graft.core.Session`, `-D`/`--conf` win);
    * none otherwise. */
  private[graft] def interpretedSettings(bytes: Long, compressed: Boolean,
                                         setAtLaunch: String => Boolean): Seq[(String, String)] =
    if (compressed || bytes >= InterpretBelowBytes) Nil
    else Seq("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
      .filterNot { case (k, _) => setAtLaunch(k) }

  /** The reference tokenizes on both ',' and tab; a distributed reader needs
    * ONE separator, so sniff it from the header line. */
  private def readOptions(cfg: Config, header: String): EdgeTableSource.Options =
    EdgeTableSource.Options(
      sep = if (header.contains("\t")) "\t" else ",",
      idCols = cfg.idCols,
      distanceCol = cfg.distanceCol,
      numericIds = cfg.numericIds,
      distanceKind = cfg.distanceKind,
      filters = cfg.filters.toSeq.sortBy(_._1).map { case (c, f) =>
        EdgeOps.RangeFilter(c,
          min = Option(f.min).filter(_.isFinite),
          max = Option(f.max).filter(_.isFinite))
      })

  /** End-to-end clustering run; returns the final assignments frame in
    * output order — (object, cluster) or (object, cluster_rep, cluster) with
    * `--out-representatives`. Separated from [[main]] so tests can compare
    * results without touching the filesystem. */
  def execute(spark: SparkSession, cfg: Config): DataFrame = {
    val header = EdgeTableSource.headerLine(spark, cfg.distances)
    val opts = readOptions(cfg, header)
    execute(spark, cfg, opts, EdgeTableSource.scan(spark, cfg.distances, opts, header))
  }

  /** Variant taking the table's (possibly cached) [[EdgeTableSource.scan]],
    * so [[main]] can share ONE scan between the load report and the
    * clustering run instead of re-reading the distance table. */
  private def execute(spark: SparkSession, cfg: Config, opts: EdgeTableSource.Options,
                      scanned: DataFrame): DataFrame =
    Superstep.run("Main.execute") { s =>
      // the objects file, read and numbered once: the dictionary joins,
      // the decode pin and the renumbering's anti-join all read this pin
      val universe = cfg.objectsFile.map(f => s.pin(EdgeTableSource.readObjects(spark, f)))

      // Dictionary: objects-file rank order when present (reference seeds
      // cluster ids in objects order, console.cpp:218/reorderObjects); without
      // one, FIRST-APPEARANCE order of the kept rows — the reference's
      // sequential local ids (graph_named.h:215-247) — so tie-breaks
      // renumber identically. Numeric ids with an objects file are already
      // the vids (ordinals into the list, reference README.md:217); the
      // dictionary then only DECODES them to the objects' names
      // (graph_numbered.h:322).
      val dict = Dictionary.buildFromRank(
        universe.getOrElse(EdgeTableSource.firstAppearanceRanks(scanned)))
      val rawEdges = EdgeTableSource.kept(scanned, opts)
      val enc =
        if (cfg.numericIds && universe.isDefined) rawEdges
        else Dictionary.encodeEdges(rawEdges, dict)

      // the greedy algorithms' priority: a vid IS its rank (objects-file
      // line or first appearance), and the dictionary holds every vertex
      // of enc (numeric ids with an objects file index the objects list)
      val ranks = dict.select(col("vid").as("vertex"), col("vid").as("rank"))

      val assignVid = cfg.algo match {
        case "single" =>
          ConnectedComponents.run(spark, enc).select(col("vertex"), col("component").as("cluster"))
        case "complete" =>
          GreedyClustering.completeLinkage(spark, enc).select(col("vertex"), col("cluster"))
        case "uclust" =>
          GreedyClustering.run(spark, enc, ranks, GreedyClustering.Uclust)
        case "set-cover" =>
          GreedyClustering.run(spark, enc, ranks, GreedyClustering.SetCover)
        case "cd-hit" =>
          GreedyClustering.run(spark, enc, ranks, GreedyClustering.CdHit)
        case "leiden" =>
          Louvain.run(spark, enc, resolution = cfg.leidenResolution,
              maxLevels = math.max(cfg.leidenIterations, 1) + 1)
            .assignment.select(col("vertex"), col("community").as("cluster"))
        case other => throw new IllegalArgumentException(s"unknown --algo $other\n$usage")
      }

      // decode vids → names once, into a pin that the global rank's input,
      // the member join and the output order all read; with an objects file
      // vid == rank, so the pin carries the rank the output is ordered by.
      // Then shape the output like the reference: size-renumber and append
      // universe singletons (one global rank), order by (cluster, rank) with
      // an objects file, else by (cluster, name) named / (cluster, numeric
      // id) numeric — the numeric path keeps `object` as long
      // (graph_named.h:307, graph_numbered.h:306)
      val rankCol = universe.map(_ => "rank")
      val named = s.pin(Dictionary.decode(
        rankCol.fold(assignVid)(assignVid.withColumn(_, col("vertex"))), dict, vidCol = "vertex"))
      val full = Shaping.renumber(named, universe)
      val shaped =
        if (cfg.outRepresentatives) Shaping.fillRepresentatives(full, rankCol) else full
      Shaping.ordered(shaped, rankCol).drop("rank")
    }

  /** The reference's load report (console.cpp:106-110: input/filtered
    * node+edge counts, printed at normal verbosity) and its `-v` distance
    * histogram (graph_sparse.h:122-150: 0.001-wide buckets to 0.05 plus an
    * overflow bucket over the TRANSFORMED distance) — the A2/A5 operators
    * surfaced through the CLI so a migrating clusty script keeps its load
    * diagnostics. Driver-dark by design (stdout diagnostics, not a catalog
    * row); the operators behind it are oracled via q_edge_stats /
    * q_weight_hist. */
  private def printLoadReport(cfg: Config, scanned: DataFrame, filtered: DataFrame): Unit = {
    // all four counts from one aggregate over the cached scan (the reference
    // counts during its single load pass, console.cpp:106-110)
    val c = EdgeTableSource.loadCounts(scanned)
    val counts = Seq(s"  input graph: ${c.inputNodes} nodes, ${c.inputEdges} edges",
      s"  filtered graph: ${c.keptNodes} nodes, ${c.keptEdges} edges")
    val histogram = if (!cfg.verbose) Nil else {
      // A5 over the transformed distance; reference bounds 0, 0.001..0.05,
      // +inf, printed as first-match "d < bound: n" counts
      val hist = EdgeOps.weightHistogram(
          filtered.select(col("src"), col("dst"), col("weight").cast("double")),
          lo = 0.0, hi = 0.05, width = 0.001)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      Seq("", "Distance histogram", "  d < 0: 0") ++
        (0 until 50).map(i => s"  d < ${(i + 1) * 0.001}: ${hist.getOrElse(i.toLong, 0L)}") ++
        Seq(s"  d < inf: ${hist.getOrElse(50L, 0L)}", "")
    }
    // one print: the report reaches stdout whole
    print((counts ++ histogram).mkString("", "\n", "\n"))
  }

  def main(args: Array[String]): Unit = {
    // load the engine's classes on a spare core while this thread starts
    // the session (load only: no static initializer runs; see Preload)
    Preload.start()
    // `--version` prints and exits BEFORE positional validation, like the
    // reference's early ShowVersion return (src/params.cpp:30-34) — a
    // migrating script's bare `clusty --version` probe must not die on the
    // missing-positionals usage error
    if (args.contains("--version")) { println("graft (clusty-compatible CLI) 0.1.0"); return }
    val cfg = parse(args.toSeq)
    val spark = graft.core.Session.getOrCreate()
    try {
      val size = EdgeTableSource.inputSize(spark, cfg.distances +: cfg.objectsFile.toSeq)
      interpretedSettings(size.bytes, size.compressed, spark.sparkContext.getConf.contains)
        .foreach { case (k, v) => spark.conf.set(k, v) }
      val header = EdgeTableSource.headerLine(spark, cfg.distances)
      val opts = readOptions(cfg, header)
      // ONE scan of the table, cached, shared by the load report and the
      // clustering run
      val scanned = EdgeTableSource.scan(spark, cfg.distances, opts, header)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val filtered = EdgeTableSource.kept(scanned, opts)
      // The load report runs on a second driver thread while this one
      // clusters; both read the one cached scan. It starts before any
      // Superstep scope opens (a thread inherits the scope of its parent)
      // and opens none. A daemon: a run that fails before joining it still
      // exits, and spark.stop() ends its jobs.
      var reportFailure: Option[Throwable] = None
      val report = new Thread(() =>
        try printLoadReport(cfg, scanned, filtered)
        catch { case t: Throwable => reportFailure = Some(t) }, "graft-load-report")
      report.setDaemon(true)
      report.start()
      val out = execute(spark, cfg, opts, scanned)
      // the report prints before the sink writes; a failed one writes nothing
      report.join()
      reportFailure.foreach(t => throw t)
      val sep = if (cfg.outCsv) "," else "\t"
      if (cfg.outRepresentatives)
        AssignmentsSink.writeWithRepresentatives(out, cfg.output, sep)
      else AssignmentsSink.write(out, cfg.output, sep)
      println(s"[graft] wrote ${cfg.output} (${cfg.algo})")
    } finally spark.stop()
  }
}
