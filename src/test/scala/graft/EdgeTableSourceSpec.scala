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

  test("malformed numeric fields null-drop identically in both scan paths (ANSI parity)") {
    // Row 2 has a malformed distance ("oops") and row 4 a malformed numeric
    // id ("4x"): under ANSI mode a plain cast would crash the DataFrame scan
    // while the RDD dictionary pass silently drops — both must DROP (the
    // try_cast contract), and the dictionary pass must agree row-for-row on
    // which names register.
    val p = writeTemp("malformed.tsv",
      "i\tj\td\n10\t20\t0.5\n30\t40\toops\n50\t60\t0.25\n4x\t70\t0.5\n")
    val opts = EdgeTableSource.Options(numericIds = true,
      filters = Seq(EdgeOps.RangeFilter("d", min = Some(0.0))))
    val e = EdgeTableSource.read(spark, p, opts).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(e == Set((10L, 20L, 0.5), (50L, 60L, 0.25)))

    // same input through the string-id dictionary pass: the malformed
    // DISTANCE row must not register ids 30/40; the malformed-id row fails
    // only in numeric mode (string mode keeps "4x" — a legal name there)
    val ranks = EdgeTableSource.firstAppearanceRanks(spark, p,
        EdgeTableSource.Options(filters = Seq(EdgeOps.RangeFilter("d", min = Some(0.0)))))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ranks == Map("10" -> 0L, "20" -> 1L, "50" -> 2L, "60" -> 3L,
      "4x" -> 4L, "70" -> 5L), s"got $ranks")

    // and string-mode DataFrame read agrees with the dictionary pass
    val eStr = EdgeTableSource.read(spark, p,
        EdgeTableSource.Options(filters = Seq(EdgeOps.RangeFilter("d", min = Some(0.0)))))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(eStr == Set(("10", "20"), ("50", "60"), ("4x", "70")))
  }

  test("objects file: rank = line order") {
    val p = writeTemp("objs.tsv", "object\naaa\naa\na\nbb\nb\nc\n")
    val got = EdgeTableSource.readObjects(spark, p).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("aaa" -> 0L, "aa" -> 1L, "a" -> 2L, "bb" -> 3L, "b" -> 4L, "c" -> 5L))
  }

  test("objects directory: every part file's header skipped, blanks dropped") {
    val dir = java.nio.file.Files.createTempDirectory("graft-objs-multi")
    java.nio.file.Files.write(dir.resolve("part-0.tsv"),
      "object\naaa\naa\n".getBytes("UTF-8"))
    java.nio.file.Files.write(dir.resolve("part-1.tsv"),
      "object\nbb\n\nb\n".getBytes("UTF-8"))
    val got = EdgeTableSource.readObjects(spark, dir.toString).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // no phantom "object" rows from file 2's header, no empty-string object
    assert(got == Map("aaa" -> 0L, "aa" -> 1L, "bb" -> 2L, "b" -> 3L))
  }

  test("firstAppearanceRanks: filtered rows never register, order = row-major id scan") {
    val p = writeTemp("synth.csv", csv)
    val opts = EdgeTableSource.Options(sep = ",", idCols = Some(("id1", "id2")),
      distanceCol = Some("ani"), distanceKind = graft.ingest.EdgeOps.Similarity,
      filters = Seq(graft.ingest.EdgeOps.RangeFilter("ani", min = Some(0.70), max = None)))
    val got = EdgeTableSource.firstAppearanceRanks(spark, p, opts)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
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
    val got = EdgeTableSource.firstAppearanceRanks(spark, dir.toString,
        EdgeTableSource.Options(sep = "\t"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // a-first.tsv scans before b-second.tsv (path-sorted), each header skipped
    assert(got == Map("n1" -> 0L, "n2" -> 1L, "n3" -> 2L, "n4" -> 3L, "n5" -> 4L),
      s"got $got")
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
    AssignmentsSink.write(full, outDir, sep = "\t", singleFile = true)
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
