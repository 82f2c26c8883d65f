package graft

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.sys.process._

/** One cold `graft.Main --algo single` process on a table written here —
  * no external fixtures. The input has planted clusters (two of equal size,
  * so the size tie-break shows), a below-threshold edge between two of
  * them, a self-loop, and universe objects that appear in no kept edge.
  * The assignments must equal union-find over the kept edges numbered by
  * clusty's rules (decreasing size, ties by smallest objects-file rank,
  * missing objects appended in rank order, rows by (cluster, rank)), and
  * the two load-report lines must be the reference's, byte for byte. */
class PlantedCliSpec extends SparkTestBase {

  // (query, target, ani): kept iff ani >= 0.95 and query != target
  private val rows: Seq[(String, String, Double)] = Seq(
    ("a1", "a2", 0.99), ("a3", "a2", 0.97), ("a3", "a4", 0.95), ("a5", "a1", 0.98),
    ("b2", "b1", 0.96), ("b3", "b1", 0.99), ("b4", "b3", 0.97), ("b5", "b4", 0.95),
    ("c1", "c2", 0.99), ("c3", "c2", 0.98),
    ("d1", "d2", 0.96),
    ("a4", "c1", 0.50), // below the threshold: a and c stay apart
    ("b2", "b5", 0.90), // below, inside a cluster
    ("s1", "s1", 1.00), // self-loop: s1 has no kept edge
    ("d2", "s2", 0.80)) // s2 only below the threshold

  // objects-file order (rank); u1..u3 appear in no edge at all
  private val universe = Seq("u2", "b3", "c3", "s1", "a4", "d2", "b1", "u1", "a2", "c1",
    "b5", "s2", "a1", "b2", "u3", "c2", "a3", "d1", "b4", "a5")

  private def expectedAssignments: Seq[(String, Int)] = {
    val rank = universe.zipWithIndex.toMap
    val parent = mutable.Map.empty[String, String]
    def find(x: String): String = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    rows.filter { case (a, b, ani) => ani >= 0.95 && a != b }.foreach { case (a, b, _) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ra) = rb
    }
    val comps = parent.keys.toSeq.groupBy(find).values.map(_.sortBy(rank)).toSeq
      .sortBy(m => (-m.size, rank(m.head)))
    val singles = universe.filterNot(parent.contains).map(Seq(_))
    (comps ++ singles).zipWithIndex.flatMap { case (m, c) => m.map(_ -> c) }
  }

  private def expectedReport: Seq[String] = {
    def line(label: String, rs: Seq[(String, String, Double)]) =
      s"  $label: ${rs.flatMap { case (a, b, _) => Seq(a, b) }.distinct.size} nodes, ${rs.size} edges"
    Seq(line("input graph", rows),
      line("filtered graph", rows.filter { case (a, b, ani) => ani >= 0.95 && a != b }))
  }

  private def write(p: Path, lines: Seq[String]): String = {
    Files.write(p, lines.asJava); p.toString
  }

  test("single linkage on a planted table: union-find partition, clusty numbering, load report") {
    val dir = Files.createTempDirectory("graft-planted-cli")
    val edges = write(dir.resolve("edges.tsv"), "query\ttarget\tani" +:
      rows.map { case (a, b, ani) => s"$a\t$b\t$ani" })
    val objects = write(dir.resolve("objects.tsv"), "object" +: universe)
    val out = dir.resolve("out").toString

    // a separate JVM: graft.Main builds and stops its own session
    val jvm = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filterNot(a => a.startsWith("-Xmx") || a.startsWith("-agentlib"))
    val cmd = Seq(s"${sys.props("java.home")}/bin/java") ++ jvm ++ Seq("-Xmx1g",
      "-cp", sys.props("java.class.path"), "graft.Main",
      "--algo", "single", "--similarity", "--min", "ani", "0.95",
      "--objects-file", objects, edges, out)
    val stdout = new StringBuilder
    val stderr = new StringBuilder
    val rc = Process(cmd, None, "SPARK_GRAFT_MASTER" -> "local[2]", "SPARK_GRAFT_CPUS" -> "2")
      .!(ProcessLogger(l => stdout.append(l).append('\n'), l => stderr.append(l).append('\n')))
    assert(rc == 0, s"graft.Main exited $rc\n${stderr.toString.takeRight(4000)}")

    val report = stdout.toString.split("\n").filter(_.matches("  (input|filtered) graph: .*")).toSeq
    assert(report == expectedReport, stdout.toString)

    val parts = Files.list(dir.resolve("out")).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq.sortBy(_.toString)
    val lines = parts.flatMap(p => Files.readAllLines(p).asScala)
    assert(lines.head == "object\tcluster")
    val got = lines.tail.filter(_.nonEmpty).map { l =>
      val Array(o, c) = l.split("\t"); o -> c.toInt
    }
    assert(got == expectedAssignments)
  }
}
