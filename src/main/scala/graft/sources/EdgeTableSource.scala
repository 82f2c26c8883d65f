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
  *  - J1: first-appearance ranks, computed from the same scan (each row
  *    carries its physical position), so the table has one parser.
  *  - S5: the objects file, numbered in line order.
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
      filters: Seq[EdgeOps.RangeFilter] = Nil)

  def read(spark: SparkSession, path: String, opts: Options = Options()): DataFrame =
    kept(scan(spark, path, opts, headerLine(spark, path)), opts)

  /** Every row of the table as `(src, dst, weight, kept, position)`, where
    * `kept` says whether the row survives the P2 range filters and the P3
    * self-loop drop, `weight` is the raw distance column and `position`
    * orders rows as one sequential read of the table would. [[kept]] turns
    * a scan into [[read]]'s result, [[loadCounts]] reports on both sides of
    * the filters and [[firstAppearanceRanks]] numbers the kept ids, so one
    * scan (cached by the caller) serves all three. */
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

    // The file's index in listing order, the start of the split that read
    // the row, then an id that grows in read order within a split. Spark
    // names a file by its URL-encoded path, whose order is not the listing's
    // (`a b` → `a%20b` sorts after `a!`), so files are looked up, not sorted.
    val files = listFiles(spark, path)
    val file =
      if (files.size == 1) lit(0)
      else coalesce(
        element_at(typedLit(files.zipWithIndex.map { case (f, i) =>
          new org.apache.hadoop.fs.Path(f).toUri.toString -> i }.toMap), col("_metadata.file_path")),
        raise_error(concat(lit("file not in the edge table's listing: "), col("_metadata.file_path"))))
    val position = struct(file.as("file"), col("_metadata.file_block_start").as("start"),
      monotonically_increasing_id().as("row"))

    // try_cast, not cast: this build runs Spark 4 with ANSI mode on, where a
    // plain cast of a malformed numeric string THROWS. Malformed numerics
    // become null and the row is dropped by the range/self-loop predicates.
    val idType = if (opts.numericIds) "long" else "string"
    val projected = raw.select(
      (Seq(col(c1).try_cast(idType).as("src"), col(c2).try_cast(idType).as("dst"),
        col(dc).try_cast("double").as("weight"), position.as("position")) ++
        opts.filters.map(f => col(resolve(f.column)).try_cast("double").as(f.column))): _*)

    // P2 and P3; a null predicate drops the row
    val survives = EdgeOps.rangePredicate(opts.filters) && col("src") =!= col("dst")
    projected.select(col("src"), col("dst"), col("weight"),
      coalesce(survives, lit(false)).as("kept"), col("position"))
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
    * Read through `TextInputFormat`, not a DataFrame scan: its splits of one
    * file come in offset order, so `zipWithIndex` numbers the lines of a
    * one-file list without a sort, where a DataFrame scan would need
    * [[graft.core.Ranking.withGlobalRank]]'s global sort on every call. A
    * directory is ordered by (listing index, byte offset) through one
    * range-partitioned sort: Hadoop's split enumeration does not promise
    * listing order. The header of EVERY file is its first non-blank line,
    * as in [[headerLine]]: the split that starts at byte offset 0 skips the
    * lines up to and including it, so neither a leading blank line nor a
    * directory of headered part files ingests a phantom header object.
    * Empty lines are dropped; a line's object name ends at its first tab. */
  def readObjects(spark: SparkSession, path: String): DataFrame = {
    import org.apache.hadoop.io.{LongWritable, Text}
    import org.apache.hadoop.mapred.TextInputFormat
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.LongType
    val sc = spark.sparkContext
    val files = listFiles(spark, path)
    val lines = sc.union(files.zipWithIndex.map { case (f, fi) =>
      sc.hadoopFile[LongWritable, Text, TextInputFormat](f).mapPartitions { split =>
        var inHeader = false // from offset 0 to the end of the first non-blank line
        split.flatMap { case (off, t) =>
          val line = t.toString.stripSuffix("\r")
          if (off.get == 0L) inHeader = true
          if (inHeader) { inHeader = line.trim.isEmpty; None }
          else if (line.isEmpty) None
          else Some(((fi, off.get), line))
        }
      }
    })
    val inOrder = if (files.size == 1) lines else lines.sortBy(_._1)
    val rows = inOrder.zipWithIndex().map { case ((_, line), i) =>
      val cut = line.indexOf('\t')
      Row(if (cut >= 0) line.substring(0, cut) else line, i)
    }
    spark.createDataFrame(rows, StructType(Seq(
      StructField("object", StringType, nullable = false),
      StructField("rank", LongType, nullable = false))))
  }

  /** The visible files a file/directory/glob names, sorted by path. */
  private def listFiles(spark: SparkSession, path: String): Seq[String] = {
    val files = visibleFiles(spark, path)
    require(files.nonEmpty, s"input path matches nothing: $path")
    files.map(_.getPath.toString)
  }

  final case class InputSize(bytes: Long, compressed: Boolean)

  /** Bytes of the visible files that `paths` name, and whether any of them
    * is compressed (its name carries a Hadoop codec's extension), from the
    * file listing alone: no file is opened and no Spark job runs. A path
    * that matches nothing counts no bytes; the read that follows reports
    * it. */
  def inputSize(spark: SparkSession, paths: Seq[String]): InputSize = {
    val codecs = new org.apache.hadoop.io.compress.CompressionCodecFactory(
      spark.sparkContext.hadoopConfiguration)
    val files = paths.flatMap(visibleFiles(spark, _))
    InputSize(files.map(_.getLen).sum, files.exists(f => codecs.getCodec(f.getPath) != null))
  }

  /** [[listFiles]]' listing, empty when the path matches nothing. */
  private def visibleFiles(spark: SparkSession, path: String): Seq[org.apache.hadoop.fs.FileStatus] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // globStatus handles literal paths AND patterns; the hidden-file filter
    // mirrors FileInputFormat's ('.'-prefixed sidecars like .crc, and
    // '_'-prefixed markers)
    def visible(n: String) = !n.startsWith("_") && !n.startsWith(".")
    Option(fs.globStatus(p)).getOrElse(Array.empty).toSeq.flatMap { st =>
      if (st.isDirectory) fs.listStatus(st.getPath).filter(_.isFile).toSeq else Seq(st)
    }.filter(st => visible(st.getPath.getName)).sortBy(_.getPath.toString)
  }

  /** J1 first-appearance ranks of a [[scan]]: `(object, rank)`, where rank
    * is the dense 0-based order in which each id is FIRST seen reading the
    * table row by row, first id column before second (header order, the S2
    * normalization), counting only kept rows — the reference's sequential
    * local-id assignment (src/graph_named.h:215-247 registers names per
    * surviving edge; filtered rows never reach updateMappings). Cluster
    * ids there are seeded in local-id order (src/single_bfs.h) and the
    * size-renumber breaks ties by it (stable_sort, src/graph.cpp:42), so
    * this is what makes a no-`--objects-file` CLI run match the reference.
    * Ids keep the scan's type: string, or long in numeric mode.
    *
    * One aggregate takes each name's smallest (position, side) over the
    * kept rows, and one global ranking numbers the names by it. */
  def firstAppearanceRanks(scanned: DataFrame): DataFrame = {
    val first = scanned.where(col("kept"))
      .select(col("position"), posexplode(array(col("src"), col("dst"))).as(Seq("side", "object")))
      .groupBy(col("object"))
      .agg(min(struct(col("position"), col("side"))).as("first"))
    graft.core.Ranking.withGlobalRank(first, "rank", col("first").asc)
      .select(col("object"), col("rank"))
  }
}
