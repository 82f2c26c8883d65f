package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.sources.AssignmentsSink

/** Byte-exact golden for the reference's third (and last reachable) fixture
  * tier: `/root/reference/test/toy/` — a 100-genome objects list
  * (`toy.ids.tsv`), a 277-line ANI table (`toy.ani.tsv`, columns idx1 idx2
  * id1 id2 tani gani ani cov num_alns len_ratio) and the checked-in single-
  * linkage output `toy.single.tsv`.
  *
  * The invocation is recovered from the golden itself (no .bat is checked
  * in): `--algo single --objects-file toy.ids.tsv --id-cols id1 id2
  * --distance-col tani --similarity --min tani 0.95` is the unique standard
  * ANI workflow (README.md:37-41 uses the same flags on vir61/ictv) whose
  * partition matches: the three tani-symmetric edges inside
  * {NC_011038.1, NC_023715.1, NC_008694.1} are >= 0.951496 while every
  * other pair is <= 0.925954, giving exactly the golden's one 3-member
  * cluster 0 plus 97 singletons numbered 1..97 in objects order.
  *
  * ROW-ORDER CAVEAT (why the byte-compare reorders first): toy.single.tsv
  * lists all 100 rows in PURE objects-file order — the three cluster-0 rows
  * sit at their toy.ids.tsv positions (lines 75/78/79). The CURRENT
  * reference save path cannot produce that layout: GraphNamed::
  * saveAssignments (src/graph_named.h:324-359) writes the in-matrix objects
  * as a prefix sorted by (cluster, objects-rank) and only then the
  * out-of-matrix singletons, so HEAD output puts cluster 0 first — the
  * layout this engine also produces (and SynthCliSpec pins byte-exact
  * against HEAD's own synth goldens, where the objs variants ARE
  * cluster-major). toy.single.tsv therefore predates that sort. The spec
  * asserts the strongest available claims: (1) the (object -> cluster)
  * mapping is IDENTICAL byte-for-byte per row — same names, same cluster
  * ids including the size-renumbered 0 and the objects-order singleton
  * numbering; (2) re-emitting our rows in the golden's objects order
  * reproduces the golden file byte-for-byte; (3) our row order is exactly
  * HEAD's (cluster, rank) order.
  */
class ToyCliSpec extends SparkTestBase {

  private val toy = "/root/reference/test/toy"

  test("toy single-linkage output matches toy.single.tsv byte-for-byte (modulo the pre-HEAD row order)") {
    val out = Files.createTempDirectory("toycli").resolve("out").toString
    val cfg = Main.parse(Seq(
      "--algo", "single", "--objects-file", s"$toy/toy.ids.tsv",
      "--id-cols", "id1", "id2", "--distance-col", "tani",
      "--similarity", "--min", "tani", "0.95",
      s"$toy/toy.ani.tsv", out))
    val df = Main.execute(spark, cfg)
    AssignmentsSink.write(df, out, "\t")
    val part = Files.list(Paths.get(out)).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq
    assert(part.size == 1)
    val gotBytes = Files.readAllBytes(part.head)
    val goldenBytes = Files.readAllBytes(Paths.get(s"$toy/toy.single.tsv"))

    def lines(b: Array[Byte]): Seq[String] =
      new String(b, "UTF-8").split("\n", -1).toSeq
    val got = lines(gotBytes)
    val golden = lines(goldenBytes)
    assert(got.head == golden.head, "header mismatch")
    assert(got.last.isEmpty && golden.last.isEmpty, "both files end with a newline")

    val gotRows = got.tail.filter(_.nonEmpty)
    val goldenRows = golden.tail.filter(_.nonEmpty)
    // (1) identical per-row bytes as a SET: same names, same cluster ids
    assert(gotRows.sorted == goldenRows.sorted,
      s"row content mismatch:\n got=${gotRows.sorted.take(5)}\nwant=${goldenRows.sorted.take(5)}")

    // (2) golden order = objects-file order; our rows re-emitted in that
    // order reproduce the golden byte-for-byte
    val rankOf = Files.readAllLines(Paths.get(s"$toy/toy.ids.tsv")).asScala
      .drop(1).map(_.split("\t")(0)).zipWithIndex.toMap
    val reordered = gotRows.sortBy(r => rankOf(r.split("\t")(0)))
    val rebuilt = (golden.head +: reordered).mkString("", "\n", "\n")
    assert(rebuilt.getBytes("UTF-8").sameElements(goldenBytes),
      "byte mismatch after reordering to objects order")

    // (3) our emitted order is the HEAD reference order: cluster asc, then
    // objects rank asc
    val key = gotRows.map { r =>
      val Array(o, c) = r.split("\t"); (c.toLong, rankOf(o).toLong)
    }
    assert(key == key.sorted, "output not in (cluster, rank) order")
  }
}
