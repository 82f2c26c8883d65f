package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.cluster.Shaping
import graft.graph.ConnectedComponents
import graft.ingest.EdgeOps
import graft.sources.{AssignmentsSink, EdgeTableSource}

/** clusty-equivalent TSV/CSV source + assignments sink (SURVEY.md §2.1):
  * header resolution with positional defaults, id-order normalization,
  * decoy columns, numeric mode, range filters, and the end-to-end
  * `clusty --algo single --similarity --min ani 0.70` pipeline with a
  * byte-checked output file. */
class EdgeTableSourceSpec extends SparkTestBase {

  private def writeTemp(name: String, content: String): String = {
    val dir = Files.createTempDirectory("graft-src")
    val f = dir.resolve(name)
    Files.write(f, content.getBytes("UTF-8"))
    f.toString
  }

  private def ranks(path: String, opts: EdgeTableSource.Options): Map[Any, Long] =
    EdgeTableSource.firstAppearanceRanks(
        EdgeTableSource.scan(spark, path, opts, EdgeTableSource.headerLine(spark, path)))
      .collect().map(r => r.get(0) -> r.getLong(1)).toMap

  // same topology/weights as the reference's synth.ani (FIXTURES.md §1.1),
  // with decoy columns and ids NOT in the first positions (vir61-style)
  private val csv =
    """dummy1,id1,dummy2,id2,dummy3,ani
      |x,xxx,y,xx,z,0.93
      |x,aaa,y,aa,z,0.94
      |x,aaa,y,a,z,0.92
      |x,xx,y,x,z,0.94
      |x,bb,y,b,z,0.71
      |x,aa,y,a,z,0.89
      |x,b,y,bb,z,0.99
      |x,c,y,d,z,0.33
      |""".stripMargin

  test("named mode: resolution by name, id-order normalization, filters, transform") {
    val p = writeTemp("synth.csv", csv)
    val opts = EdgeTableSource.Options(
      sep = ",",
      idCols = Some(("id2", "id1")), // reversed on purpose — must normalize
      distanceCol = Some("ani"),
      distanceKind = EdgeOps.Similarity, // d = 1 - ani
      filters = Seq(EdgeOps.RangeFilter("ani", min = Some(0.70))))
    val e = EdgeTableSource.read(spark, p, opts)
      .collect().map(r => (r.getString(0), r.getString(1), math.round(r.getDouble(2) * 100)))
      .toSet
    // id normalization: src = id1 column (header position 1), dst = id2 (position 3)
    assert(e == Set(
      ("xxx", "xx", 7L), ("aaa", "aa", 6L), ("aaa", "a", 8L),
      ("xx", "x", 6L), ("bb", "b", 29L), ("aa", "a", 11L), ("b", "bb", 1L)))
    // c-d (ani .33) filtered before anything downstream
  }

  test("positional defaults: first two columns = ids, third = distance") {
    val p = writeTemp("default.tsv", "a\tb\td\textra\n1\t2\t0.5\tzz\n2\t2\t0.1\tzz\n")
    val e = EdgeTableSource.read(spark, p).collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
    assert(e == Set(("1", "2", 0.5))) // self-loop 2-2 dropped (P3)
  }

  test("numeric mode casts ids to long; <3 columns rejected") {
    val p = writeTemp("num.tsv", "i\tj\td\n10\t20\t0.5\n30\t10\t0.25\n")
    val e = EdgeTableSource.read(spark, p,
        EdgeTableSource.Options(numericIds = true)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(e == Set((10L, 20L, 0.5), (30L, 10L, 0.25)))

    val bad = writeTemp("bad.tsv", "a\tb\n1\t2\n")
    intercept[IllegalArgumentException] {
      EdgeTableSource.read(spark, bad)
    }
  }

  test("malformed numeric fields drop their row and register no name") {
    // Row 2 has a malformed distance ("oops") and row 4 a malformed numeric
    // id ("4x"): under ANSI mode a plain cast would crash the scan; try_cast
    // makes them null, so the row is dropped and its names never register.
    val p = writeTemp("malformed.tsv",
      "i\tj\td\n10\t20\t0.5\n30\t40\toops\n50\t60\t0.25\n4x\t70\t0.5\n")
    val filters = Seq(EdgeOps.RangeFilter("d", min = Some(0.0)))
    val numeric = EdgeTableSource.Options(numericIds = true, filters = filters)
    val e = EdgeTableSource.read(spark, p, numeric).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(e == Set((10L, 20L, 0.5), (50L, 60L, 0.25)))
    assert(ranks(p, numeric) == Map(10L -> 0L, 20L -> 1L, 50L -> 2L, 60L -> 3L))

    // string mode keeps "4x", a legal name there; the malformed distance
    // row still registers neither 30 nor 40
    val named = EdgeTableSource.Options(filters = filters)
    val eStr = EdgeTableSource.read(spark, p, named)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(eStr == Set(("10", "20"), ("50", "60"), ("4x", "70")))
    assert(ranks(p, named) == Map("10" -> 0L, "20" -> 1L, "50" -> 2L, "60" -> 3L,
      "4x" -> 4L, "70" -> 5L))
  }

  private def objectRanks(path: String): Map[String, Long] =
    EdgeTableSource.readObjects(spark, path).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  test("objects file: rank = line order") {
    val p = writeTemp("objs.tsv", "object\naaa\naa\na\nbb\nb\nc\n")
    assert(objectRanks(p) ==
      Map("aaa" -> 0L, "aa" -> 1L, "a" -> 2L, "bb" -> 3L, "b" -> 4L, "c" -> 5L))
    // the header is the first non-blank line, as in the edge table
    assert(objectRanks(writeTemp("objs.tsv", "\nobject\naaa\nbb\n")) ==
      Map("aaa" -> 0L, "bb" -> 1L))
    assert(objectRanks(writeTemp("objs.tsv", " \r\n\r\nobject\r\naaa\r\n\r\nbb\r\n")) ==
      Map("aaa" -> 0L, "bb" -> 1L))
  }

  test("objects directory: every part file's header skipped, blanks dropped") {
    def write(files: String*) = {
      val dir = Files.createTempDirectory("graft-objs-multi")
      files.zipWithIndex.foreach { case (text, i) =>
        Files.write(dir.resolve(s"part-$i.tsv"), text.getBytes("UTF-8")) }
      dir.toString
    }
    // no phantom "object" rows from file 2's header, no empty-string object
    assert(objectRanks(write("object\naaa\naa\n", "object\nbb\n\nb\n")) ==
      Map("aaa" -> 0L, "aa" -> 1L, "bb" -> 2L, "b" -> 3L))
    // each file's header is its first non-blank line
    assert(objectRanks(write("\n\nobject\naaa\naa\n", "\nobject\nbb\n\nb\n")) ==
      Map("aaa" -> 0L, "aa" -> 1L, "bb" -> 2L, "b" -> 3L))
  }

  test("inputSize: bytes of the visible files, compressed if any file names a codec") {
    val dir = Files.createTempDirectory("graft-input-size")
    Files.write(dir.resolve("a.tsv"), Array.fill[Byte](10)(1))
    Files.write(dir.resolve("b.tsv"), Array.fill[Byte](5)(1))
    Files.write(dir.resolve("_SUCCESS"), Array.fill[Byte](7)(1))
    val objs = writeTemp("objs.tsv", "object\na\n")
    assert(EdgeTableSource.inputSize(spark, Seq(dir.toString, objs)) ==
      EdgeTableSource.InputSize(10L + 5L + 9L, compressed = false))
    assert(EdgeTableSource.inputSize(spark, Seq(dir.resolve("missing.tsv").toString)) ==
      EdgeTableSource.InputSize(0L, compressed = false))
    Files.write(dir.resolve("c.tsv.gz"), Array.fill[Byte](3)(1))
    assert(EdgeTableSource.inputSize(spark, Seq(dir.toString)) ==
      EdgeTableSource.InputSize(18L, compressed = true))
  }

  test("firstAppearanceRanks: filtered rows never register, order = row-major id scan") {
    val p = writeTemp("synth.csv", csv)
    val opts = EdgeTableSource.Options(sep = ",", idCols = Some(("id1", "id2")),
      distanceCol = Some("ani"), distanceKind = graft.ingest.EdgeOps.Similarity,
      filters = Seq(graft.ingest.EdgeOps.RangeFilter("ani", min = Some(0.70), max = None)))
    val got = ranks(p, opts)
    // the c-d row fails the ani filter BEFORE registration, so c,d are
    // absent; otherwise ranks follow the reference's sequential scan
    // (first id column before second, per surviving row)
    assert(got == Map("xxx" -> 0L, "xx" -> 1L, "aaa" -> 2L, "aa" -> 3L,
      "a" -> 4L, "x" -> 5L, "bb" -> 6L, "b" -> 7L), s"got $got")
  }

  test("firstAppearanceRanks: multi-file directory scans files in name order, headers skipped") {
    val dir = Files.createTempDirectory("graft-fa-multi")
    Files.write(dir.resolve("b-second.tsv"),
      "u\tv\td\nn3\tn4\t0.5\nn1\tn5\t0.5\n".getBytes("UTF-8"))
    Files.write(dir.resolve("a-first.tsv"),
      "u\tv\td\nn1\tn2\t0.5\nn2\tn3\t0.5\n".getBytes("UTF-8"))
    val got = ranks(dir.toString, EdgeTableSource.Options(sep = "\t"))
    // a-first.tsv scans before b-second.tsv (path-sorted), each header skipped
    assert(got == Map("n1" -> 0L, "n2" -> 1L, "n3" -> 2L, "n4" -> 3L, "n5" -> 4L),
      s"got $got")
  }

  test("firstAppearanceRanks: many files and splits rank as one sequential read") {
    // `a b.tsv` lists before `a!.tsv`, but Spark names it `a%20b.tsv`,
    // which sorts after; rows are ~10 bytes, so a 256-byte split holds ~25
    val dir = Files.createTempDirectory("graft-fa-splits")
    val rnd = new scala.util.Random(7)
    val files = Seq("a b.tsv", "a!.tsv", "b.tsv", "c.tsv").map { name =>
      val rows = Seq.fill(150)((s"n${rnd.nextInt(300)}", s"n${rnd.nextInt(300)}", rnd.nextInt(10)))
      Files.write(dir.resolve(name), ("u\tv\td" +: rows.map { case (a, b, d) => s"$a\t$b\t$d" })
        .mkString("", "\n", "\n").getBytes("UTF-8"))
      name -> rows
    }
    // kept: d >= 3 and no self-loop; names in order of first appearance
    val expected = files.sortBy(_._1).flatMap(_._2)
      .collect { case (a, b, d) if d >= 3 && a != b => Seq(a, b) }.flatten
      .distinct.zipWithIndex.map { case (n, i) => n -> i.toLong }.toMap
    val opts = EdgeTableSource.Options(filters = Seq(EdgeOps.RangeFilter("d", min = Some(3.0))))
    withConf("spark.sql.files.maxPartitionBytes" -> "256",
        "spark.sql.files.openCostInBytes" -> "0") {
      val splits = EdgeTableSource.scan(spark, dir.toString, opts,
        EdgeTableSource.headerLine(spark, dir.toString)).rdd.getNumPartitions
      assert(splits >= 8, s"only $splits partitions")
      assert(ranks(dir.toString, opts) == expected)
    }
  }

  private def execute(args: String*) =
    Main.execute(spark, Main.parse(args :+ "unused-out"))

  test("--numeric-ids without objects file: 01 and 1 are one object") {
    // two 3-object clusters; the 5-6-7 one appears first, so it is cluster 0
    // although 1 is the smallest id
    val p = writeTemp("num.tsv", "i\tj\td\n7\t6\t0.1\n6\t5\t0.1\n01\t2\t0.1\n1\t3\t0.1\n")
    val got = execute("--numeric-ids", p).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((5L, 0L), (6L, 0L), (7L, 0L), (1L, 1L), (2L, 1L), (3L, 1L)))
  }

  test("a quoted CSV id holding the separator is one object, written quoted") {
    val p = writeTemp("quoted.csv", "query,target,d\n\"x,y\",z,0.1\na,b,0.2\n")
    val out = Files.createTempDirectory("graft-quoted").toString + "/assign"
    AssignmentsSink.write(execute(p), out, sep = ",")
    val part = Files.list(Paths.get(out)).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toList.head
    assert(new String(Files.readAllBytes(part), "UTF-8") ==
      "object,cluster\n\"x,y\",0\nz,0\na,1\nb,1\n")
  }

  test("end-to-end single-linkage pipeline writes the golden assignments bytes") {
    val p = writeTemp("synth.csv", csv)
    val objsP = writeTemp("objs.tsv", "object\naaa\naa\na\nbb\nb\nc\nd\ne\nf\ng\nxxx\nxx\nx\n")
    val e = EdgeTableSource.read(spark, p, EdgeTableSource.Options(
      sep = ",", idCols = Some(("id1", "id2")), distanceCol = Some("ani"),
      distanceKind = EdgeOps.Similarity,
      filters = Seq(EdgeOps.RangeFilter("ani", min = Some(0.70)))))
    val universe = EdgeTableSource.readObjects(spark, objsP)

    // dictionary ids = universe priority rank (clusty's objects-file order),
    // so min-id component labels renumber exactly like the reference's
    // seed-order numbering (SURVEY.md §2.6 C1 note)
    val dict = graft.ingest.Dictionary.buildFromRank(universe)
    val enc = graft.ingest.Dictionary.encodeEdges(e, dict)
    val cc = ConnectedComponents.run(spark, enc)
    val assign0 = graft.ingest.Dictionary.decode(cc, dict)
      .select(col("object"), col("component").as("cluster"))
    val shaped = Shaping.renumberBySize(assign0)
      .select(col("object"), col("cluster"))
    val full = Shaping.renumber(shaped, Some(universe))
      .join(universe, "object")
      .orderBy(col("cluster"), col("rank"))
      .select(col("object"), col("cluster"))

    val outDir = Files.createTempDirectory("graft-out").toString + "/assign"
    AssignmentsSink.write(full, outDir, sep = "\t")
    val part = Files.list(Paths.get(outDir)).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toList.head
    val bytes = new String(Files.readAllBytes(part), "UTF-8")
    assert(bytes ==
      """object	cluster
        |aaa	0
        |aa	0
        |a	0
        |xxx	1
        |xx	1
        |x	1
        |bb	2
        |b	2
        |c	3
        |d	4
        |e	5
        |f	6
        |g	7
        |""".stripMargin)
  }
}
