package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.ingest.EdgeOps

/** clusty-compatible edge-table source: header'd TSV/CSV with column roles
  * resolved by NAME with positional defaults, reproducing the reference's
  * loader semantics (SURVEY.md §2.1-2.2):
  *
  *  - S1/S3/S4: block reads, tokenizing, number parsing — Spark's CSV
  *    datasource (splitting, schema cast); unparsed extra columns are
  *    pruned by Catalyst, like the reference's byte-wise column skipping.
  *  - S2: ids default to the first two columns, distance to the third
  *    (reference: src/graph.cpp:69-108); named columns override; the id
  *    pair is order-normalized to header order, so (id2, id1) ≡ (id1, id2)
  *    (reference swap at src/graph.cpp:83-85); missing column -> error.
  *  - P1: similarity→distance transform applied at plan build.
  *  - P2: per-column [min,max] range filters, AND-ed, evaluated BEFORE
  *    anything downstream (Catalyst pushes them into the scan — the
  *    reference's in-parser filtering, src/graph_named.h:168-181).
  *  - P3: self-loop elimination.
  *
  * Returns (src, dst, weight:double) — string ids in named mode, long in
  * numeric mode (reference's ordinal ids, README.md:217).
  */
object EdgeTableSource {

  final case class Options(
      sep: String = "\t",
      idCols: Option[(String, String)] = None,
      distanceCol: Option[String] = None,
      numericIds: Boolean = false,
      distanceKind: EdgeOps.DistanceKind = EdgeOps.RawDistance,
      filters: Seq[EdgeOps.RangeFilter] = Nil,
      dropSelfLoops: Boolean = true)

  def read(spark: SparkSession, path: String, opts: Options = Options()): DataFrame =
    kept(scan(spark, path, opts, headerLine(spark, path)), opts)

  /** Every row of the table as `(src, dst, weight, kept)`, where `kept` says
    * whether the row survives the P2 range filters and the P3 self-loop
    * drop; `weight` is the raw distance column. [[kept]] turns a scan into
    * [[read]]'s result, and [[loadCounts]] reports on both sides of the
    * filters, so one scan (cached by the caller) serves both. */
  def scan(spark: SparkSession, path: String, opts: Options, header: String): DataFrame = {
    val names = columns(spark, header, opts.sep)
    require(names.length >= 3,
      s"edge table needs >= 3 columns (two ids + distance), got ${names.length}") // graph.cpp:65-66
    // an explicit all-string schema: no header-inference job
    val raw = spark.read
      .schema(StructType(names.map(StructField(_, StringType))))
      .option("header", true)
      .option("sep", opts.sep)
      .csv(path)

    def resolve(name: String): String = {
      require(names.contains(name), s"column '$name' not in header ${names.mkString(",")}")
      name
    }
    // positional defaults + order normalization to header position
    val (c1, c2) = opts.idCols match {
      case None => (names(0), names(1))
      case Some((a, b)) =>
        val (ra, rb) = (resolve(a), resolve(b))
        if (names.indexOf(ra) <= names.indexOf(rb)) (ra, rb) else (rb, ra)
    }
    val dc = opts.distanceCol.map(resolve).getOrElse(names(2))

    // try_cast, not cast: this build runs Spark 4 with ANSI mode on, where a
    // plain cast of a malformed numeric string THROWS. The contract (mirrored
    // by the RDD dictionary pass in firstAppearanceRanks) is that malformed
    // numerics become null and the row is dropped by the range/self-loop
    // predicates — try_cast restores exactly those null-on-error semantics.
    val idType = if (opts.numericIds) "long" else "string"
    val projected = raw.select(
      (Seq(col(c1).try_cast(idType).as("src"), col(c2).try_cast(idType).as("dst"),
        col(dc).try_cast("double").as("weight")) ++
        opts.filters.map(f => col(resolve(f.column)).try_cast("double").as(f.column))): _*)

    // P2 and P3; a null predicate drops the row
    val survives = EdgeOps.rangePredicate(opts.filters) &&
      (if (opts.dropSelfLoops) col("src") =!= col("dst") else lit(true))
    projected.select(col("src"), col("dst"), col("weight"),
      coalesce(survives, lit(false)).as("kept"))
  }

  /** The kept rows of a [[scan]] as `(src, dst, weight)`, with the P1
    * distance transform applied. */
  def kept(scanned: DataFrame, opts: Options): DataFrame =
    EdgeOps.distanceTransform(
      scanned.where(col("kept")).select(col("src"), col("dst"), col("weight")),
      opts.distanceKind)

  /** Node and edge counts of a [[scan]] before and after its filters — the
    * reference's load report (console.cpp:106-110) — in one aggregate: both
    * endpoint columns stacked, countDistinct for nodes, rows / 2 for edges. */
  final case class LoadCounts(inputNodes: Long, inputEdges: Long,
                              keptNodes: Long, keptEdges: Long)

  def loadCounts(scanned: DataFrame): LoadCounts = {
    val row = scanned.select(explode(array(col("src"), col("dst"))).as("v"), col("kept"))
      .agg(countDistinct(col("v")), count(lit(1)),
        countDistinct(when(col("kept"), col("v"))), count(when(col("kept"), lit(1))))
      .head()
    LoadCounts(row.getLong(0), row.getLong(1) / 2, row.getLong(2), row.getLong(3) / 2)
  }

  /** The first non-blank line of the table — of its first visible file in
    * path order — read on the driver through the Hadoop FileSystem (any
    * compression codec the path names), so no Spark job runs for it. */
  def headerLine(spark: SparkSession, path: String): String = {
    import org.apache.hadoop.io.compress.CompressionCodecFactory
    val conf = spark.sparkContext.hadoopConfiguration
    val file = new org.apache.hadoop.fs.Path(listFiles(spark, path).head)
    val codec = new CompressionCodecFactory(conf).getCodec(file)
    val raw = file.getFileSystem(conf).open(file)
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(
      if (codec == null) raw else codec.createInputStream(raw),
      java.nio.charset.StandardCharsets.UTF_8))
    try Iterator.continually(in.readLine()).takeWhile(_ != null).find(_.trim.nonEmpty)
      .getOrElse(throw new IllegalArgumentException(s"edge table has no header line: $path"))
    finally in.close()
  }

  /** Column names of a header line exactly as Spark's CSV reader would infer
    * them (same tokenizer settings, `_cN` for blank names, index suffixes on
    * duplicates). */
  private def columns(spark: SparkSession, header: String, sep: String): Array[String] = {
    import org.apache.spark.sql.catalyst.csv.CSVOptions
    val options = new CSVOptions(Map("sep" -> sep, "header" -> "true"), true,
      spark.conf.get("spark.sql.session.timeZone"))
    val tokens = new com.univocity.parsers.csv.CsvParser(options.asParserSettings).parseLine(header)
    org.apache.spark.sql.execution.datasources.csv.CSVUtils.makeSafeHeader(tokens,
      spark.conf.get("spark.sql.caseSensitive").toBoolean, options)
  }

  /** S5 — objects-file scan: one-column header'd table; rank = line order
    * (decreasing representativeness; reference src/console.cpp:126-227).
    *
    * Line order must be exact, so this is one of the few genuinely forced
    * RDD hops: `textFile` (TextInputFormat) generates splits per file in
    * offset order with files in listing order, so `zipWithIndex` recovers
    * the physical line number with full parallelism. A DataFrame file scan
    * cannot — `FilePartition` packs splits by SIZE, so both a global
    * `row_number` window (single-partition funnel) and
    * `monotonically_increasing_id` (partition order ≠ file order) are wrong
    * at scale. Multi-file directories are ordered by (path asc, byte
    * offset) EXPLICITLY — Hadoop's split enumeration does not promise
    * listing order, so the files are listed and sorted here and every
    * record carries its (fileIdx, offset) sort key through one
    * range-partitioned sort. One file needs no sort: `TextInputFormat`
    * cuts a file's splits in offset order, so its lines are numbered by
    * `zipWithIndex` in split order. The header line of EVERY file is skipped
    * (byte offset 0 ⇔ first line of its file), so a directory of headered
    * part files does not ingest phantom header objects; blank lines are
    * dropped. */
  def readObjects(spark: SparkSession, path: String, sep: String = "\t"): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.LongType
    val files = listFiles(spark, path)
    val lines = orderedLines(spark, files)
    val inOrder =
      if (files.size == 1) lines
      else lines.sortBy(_._1) // range-partitioned sort on (fileIdx, byteOffset)
    val rows = inOrder.zipWithIndex().map { case ((_, line), i) =>
      val cut = line.indexOf(sep)
      Row(if (cut >= 0) line.substring(0, cut) else line, i)
    }
    spark.createDataFrame(rows, StructType(Seq(
      StructField("object", StringType, nullable = false),
      StructField("rank", LongType, nullable = false))))
  }

  /** The visible files a file/directory/glob names, sorted by path. */
  private def listFiles(spark: SparkSession, path: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // globStatus handles literal paths AND patterns (matching textFile's
    // old glob support); hidden-file filter mirrors FileInputFormat's
    // ('.'-prefixed sidecars like .crc, and '_'-prefixed markers)
    def visible(n: String) = !n.startsWith("_") && !n.startsWith(".")
    val matched = Option(fs.globStatus(p)).getOrElse(Array.empty)
    require(matched.nonEmpty, s"input path matches nothing: $path")
    matched.flatMap { st =>
      if (st.isDirectory) fs.listStatus(st.getPath).filter(_.isFile) else Array(st)
    }.map(_.getPath).filter(pp => visible(pp.getName)).map(_.toString).sorted.toSeq
  }

  /** Non-header, non-empty lines of `files` (a listing in path order), each keyed by its
    * deterministic physical position `(fileIdx, byteOffset)` — the shared
    * scanner behind [[readObjects]] and [[firstAppearanceRanks]] (see the S5
    * scaladoc above for why a DataFrame scan cannot recover line order). */
  private def orderedLines(spark: SparkSession, files: Seq[String])
      : org.apache.spark.rdd.RDD[((Int, Long), String)] = {
    import org.apache.hadoop.io.{LongWritable, Text}
    import org.apache.hadoop.mapred.TextInputFormat
    val sc = spark.sparkContext
    val tagged = files.zipWithIndex.map { case (f, fi) =>
      sc.hadoopFile[LongWritable, Text, TextInputFormat](f)
        .flatMap { case (off, t) =>
          if (off.get == 0L) None // this file's header line
          else {
            val line = t.toString.stripSuffix("\r")
            if (line.isEmpty) None else Some(((fi, off.get), line))
          }
        }
    }
    sc.union(tagged)
  }

  /** J1 first-appearance ranks: `(object, rank)` where rank is the dense
    * 0-based order in which each id is FIRST seen scanning the edge table
    * row by row, first id column before second (header order, the S2
    * normalization), counting only rows that survive the P2 range filters
    * and P3 self-loop drop — exactly the reference's sequential local-id
    * assignment (src/graph_named.h:215-247 registers names per surviving
    * edge; filtered rows never reach updateMappings). This is what makes a
    * no-`--objects-file` CLI run bit-compatible with the reference: cluster
    * ids there are seeded in local-id order (src/single_bfs.h), and the
    * size-renumber breaks ties by that order (stable_sort,
    * src/graph.cpp:42).
    *
    * Distributed shape: the line scan is embarrassingly parallel; order is
    * recovered from the (fileIdx, byteOffset) key by one range-partitioned
    * sort + zipWithIndex (same justified RDD hop as [[readObjects]]), then
    * a min-aggregate per name and one more dense ranking. */
  def firstAppearanceRanks(spark: SparkSession, path: String,
                           opts: Options = Options()): DataFrame =
    firstAppearanceRanks(spark, path, opts, headerLine(spark, path))

  /** [[firstAppearanceRanks]] with the table's header line already read. */
  def firstAppearanceRanks(spark: SparkSession, path: String, opts: Options,
                           headerLine: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.LongType
    val sepRegex = java.util.regex.Pattern.quote(opts.sep)
    // the names read() resolves, so both scans agree on every column
    val header = columns(spark, headerLine, opts.sep)
    require(header.length >= 3,
      s"edge table needs >= 3 columns (two ids + distance), got ${header.length}")
    def idx(name: String): Int = {
      val i = header.indexOf(name)
      require(i >= 0, s"column '$name' not in header ${header.mkString(",")}")
      i
    }
    val (a, b) = opts.idCols match {
      case None => (0, 1)
      case Some((x, y)) => (idx(x), idx(y))
    }
    val (i1, i2) = if (a <= b) (a, b) else (b, a) // S2 order normalization
    val filt: Array[(Int, Double, Double)] = opts.filters.map(f =>
      (idx(f.column), f.min.getOrElse(Double.NegativeInfinity),
        f.max.getOrElse(Double.PositiveInfinity))).toArray
    val dropSelf = opts.dropSelfLoops
    val numeric = opts.numericIds
    val needed = (Seq(i1, i2) ++ filt.map(_._1)).max + 1

    // Survival rules must mirror the DataFrame read path EXACTLY, or the two
    // scans can disagree on which rows register names (or this one can crash
    // on input the edge reader accepts): a malformed numeric field there is
    // try_cast("double") -> null -> dropped by the range predicate (ANSI mode
    // is on in Spark 4, so a plain cast would THROW — [[read]] uses try_cast
    // for precisely this parity), so here it parses to None -> row dropped,
    // never a NumberFormatException. Same for the self-loop drop in numeric
    // mode: `TRY_CAST(id) IS NULL` makes the src<>dst predicate null -> row
    // dropped, and the comparison is on the cast values ("01" == "1"), not
    // the raw tokens.
    def parseD(s: String): Option[Double] = {
      val t = s.trim
      if (t.isEmpty) None else try Some(t.toDouble) catch { case _: NumberFormatException => None }
    }
    def parseL(s: String): Option[Long] = {
      val t = s.trim
      if (t.isEmpty) None else try Some(t.toLong) catch { case _: NumberFormatException => None }
    }
    val pairs = orderedLines(spark, listFiles(spark, path)).flatMap { case ((fi, off), line) =>
      val toks = line.split(sepRegex, -1)
      val ok = toks.length >= needed &&
        filt.forall { case (c, mn, mx) =>
          parseD(toks(c)).exists(v => v >= mn && v <= mx) } &&
        (!dropSelf || {
          if (numeric) (parseL(toks(i1)), parseL(toks(i2))) match {
            case (Some(a), Some(b)) => a != b
            case _ => false // null id -> null predicate -> row dropped
          }
          else toks(i1) != toks(i2)
        })
      if (ok) Seq(((fi, off, 0), toks(i1)), ((fi, off, 1), toks(i2))) else Nil
    }
    val firstSeen = pairs
      .sortBy(_._1)
      .zipWithIndex()
      .map { case ((_, name), ord) => (name, ord) }
      .reduceByKey(math.min(_, _))
      .map { case (name, ord) => Row(name, ord) }
    val df = spark.createDataFrame(firstSeen, StructType(Seq(
      StructField("object", StringType, nullable = false),
      StructField("ord", LongType, nullable = false))))
    graft.core.Ranking.withGlobalRank(df, "rank", col("ord").asc)
      .select(col("object"), col("rank"))
  }
}
