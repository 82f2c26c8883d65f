package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** End-to-end CLI runs against the reference's OWN test fixtures
  * (test/vir61: a 61-genome ANI table with goldens produced by both clusty
  * and an independent python implementation, driven by test/vir61/vir61.bat),
  * compared with a port of the reference's partition comparator
  * (test/cmp.py:4-50): mean over items of the Jaccard between the item's
  * cluster in each partition; pass iff > 0.999999 (= identical partitions).
  */
class MainCliSpec extends SparkTestBase {

  private val vir = "/root/reference/test/vir61"

  /** cmp.py-equivalent: mean per-item Jaccard between two partitions. */
  private def meanJaccard(a: Map[String, String], b: Map[String, String]): Double = {
    val ca = a.groupBy(_._2).map { case (c, m) => c -> m.keySet }
    val cb = b.groupBy(_._2).map { case (c, m) => c -> m.keySet }
    val items = a.keySet
    items.toSeq.map { it =>
      val s1 = ca(a(it)); val s2 = cb(b(it))
      s1.intersect(s2).size.toDouble / s1.union(s2).size
    }.sum / items.size
  }

  /** Load an assignments table (clusty TSV or python CSV golden): first
    * column = object, second = cluster id; header skipped. */
  private def loadAssign(path: String): Map[String, String] =
    Files.readAllLines(Paths.get(path)).asScala.drop(1)
      .filter(_.nonEmpty)
      .map { l => val c = l.split("[ ,\t]"); c(0) -> c(1) }
      .toMap

  private def runCli(algo: String, minAni: Double): Map[String, String] = {
    val cfg = Main.parse(Seq(
      "--algo", algo, "--objects-file", s"$vir/vir61.list",
      "--similarity", "--min", "ani", f"$minAni%.2f",
      "--id-cols", "id2", "id1", "--distance-col", "ani",
      s"$vir/vir61.ani", "/tmp/unused-out"))
    Main.execute(spark, cfg).collect()
      .map(r => r.getString(0) -> r.get(1).toString).toMap
  }

  for (algo <- Seq("single", "complete"); thr <- Seq(0.70, 0.95)) {
    val tag = f"$algo.${(thr * 100).toInt}%d"
    test(s"vir61 $tag matches the clusty golden (cmp.py criterion)") {
      val got = runCli(algo, thr)
      val clusty = loadAssign(s"$vir/vir61.$tag")
      assert(got.keySet == clusty.keySet, "object universe mismatch")
      val simClusty = meanJaccard(got, clusty)
      assert(simClusty > 0.999999, s"vs clusty golden: $simClusty")
      val python = loadAssign(s"$vir/vir61.$tag.python.csv")
      val simPy = meanJaccard(got, python)
      assert(simPy > 0.999999, s"vs python golden: $simPy")
    }
  }

  test("vir61 --out-representatives partitions match the reps golden") {
    val cfg = Main.parse(Seq(
      "--algo", "single", "--objects-file", s"$vir/vir61.list",
      "--similarity", "--min", "ani", "0.70",
      "--id-cols", "id2", "id1", "--distance-col", "ani", "--out-representatives",
      s"$vir/vir61.ani", "/tmp/unused-out"))
    val got = Main.execute(spark, cfg).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap // cluster_rep column
    val golden = loadAssign(s"$vir/vir61.single.70.reps")
    assert(meanJaccard(got, golden) > 0.999999)
    // representative fill: every object's cluster id IS one of its members
    got.groupBy(_._2).foreach { case (rep, members) =>
      assert(members.keySet.contains(rep), s"representative $rep not a member")
    }
  }

  test("parse: repeated --min keeps the max threshold; flags mirror clusty") {
    val cfg = Main.parse(Seq("--algo", "uclust", "--min", "ani", "0.5",
      "--min", "ani", "0.8", "--max", "qcov", "0.9", "--max", "qcov", "0.7",
      "--similarity", "--out-csv", "in.tsv", "out.tsv"))
    assert(cfg.algo == "uclust")
    assert(cfg.filters("ani").min == 0.8)  // max of repeated mins
    assert(cfg.filters("qcov").max == 0.7) // min of repeated maxes
    assert(cfg.outCsv && cfg.distanceKind == graft.ingest.EdgeOps.Similarity)
    assert(cfg.distances == "in.tsv" && cfg.output == "out.tsv")
  }

  test("parse: missing positionals is a usage error, not paths named like options") {
    intercept[IllegalArgumentException] { Main.parse(Seq("--algo", "single")) }
  }

  test("parse: an unknown --algo is a usage error, before any session starts") {
    val e = intercept[IllegalArgumentException] {
      Main.parse(Seq("--algo", "kmeans", "in.tsv", "out.tsv"))
    }
    assert(e.getMessage.contains("unknown --algo kmeans") && e.getMessage.contains("usage:"))
  }

  test("parse: clusty compatibility flags -t/-v/--version are accepted") {
    val cfg = Main.parse(Seq("-t", "8", "--algo", "single", "-v",
      "--version", "in.tsv", "out.tsv"))
    assert(cfg.verbose && cfg.distances == "in.tsv" && cfg.output == "out.tsv")
  }

  // the 4 MiB limit README's "Cold start of the CLI" names
  private val limit = 4L << 20
  private val interpreted = Seq("spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")

  test("interpretedSettings: uncompressed input under the limit runs interpreted") {
    for (bytes <- Seq(0L, 1L, limit - 1))
      assert(Main.interpretedSettings(bytes, compressed = false, Set.empty) == interpreted)
  }

  test("interpretedSettings: at or over the limit, or any compressed file, keeps codegen") {
    for (bytes <- Seq(limit, limit + 1, Long.MaxValue))
      assert(Main.interpretedSettings(bytes, compressed = false, Set.empty).isEmpty)
    for (bytes <- Seq(0L, limit - 1, limit))
      assert(Main.interpretedSettings(bytes, compressed = true, Set.empty).isEmpty)
  }

  test("interpretedSettings: a key set at launch is left alone") {
    for ((key, value) <- interpreted)
      assert(Main.interpretedSettings(1L, compressed = false, Set(key)) ==
        interpreted.filterNot(_._1 == key), key -> value)
    assert(Main.interpretedSettings(1L, compressed = false, interpreted.map(_._1).toSet).isEmpty)
  }
}
