package graft

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.sys.process._

/** `graft.Main` on a table written here — no external fixtures. The input
  * has planted clusters (two of equal size, so the size tie-break shows), a
  * below-threshold edge between two of them, a self-loop, and universe
  * objects that appear in no kept edge. The assignments must equal
  * union-find over the kept edges numbered by clusty's rules (decreasing
  * size, ties by the smallest objects-file rank — or, without an objects
  * file, by first appearance in the table — missing objects appended in
  * rank order, rows by (cluster, rank) or by (cluster, name)). Cold
  * `graft.Main` processes check the load report and the failure path;
  * `Main.execute` in the test session checks the other output shapes, the
  * complete, uclust, set-cover and cd-hit partitions, and that every shape
  * comes out the same with codegen off. */
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

  private val kept = rows.filter { case (a, b, ani) => ani >= 0.95 && a != b }

  // objects-file order (rank); u1..u3 appear in no edge at all
  private val universe = Seq("u2", "b3", "c3", "s1", "a4", "d2", "b1", "u1", "a2", "c1",
    "b5", "s2", "a1", "b2", "u3", "c2", "a3", "d1", "b4", "a5")

  /** Union-find components of the kept edges, members in `order`, numbered
    * by decreasing size with ties by the first member in `order`. */
  private def clusters(order: Seq[String]): Seq[Seq[String]] = {
    val pos = order.zipWithIndex.toMap
    val parent = mutable.Map.empty[String, String]
    def find(x: String): String = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    kept.foreach { case (a, b, _) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ra) = rb
    }
    parent.keys.toSeq.groupBy(find).values.map(_.sortBy(pos)).toSeq
      .sortBy(m => (-m.size, pos(m.head)))
  }

  /** With the objects file: components, then the missing objects as
    * singletons in rank order; rows by (cluster, rank). */
  private def expectedClusters: Seq[Seq[String]] = {
    val comps = clusters(universe)
    comps ++ universe.filterNot(comps.flatten.contains).map(Seq(_))
  }

  private def expectedAssignments: Seq[(String, Int)] =
    expectedClusters.zipWithIndex.flatMap { case (m, c) => m.map(_ -> c) }

  private def expectedReport: Seq[String] = {
    def line(label: String, rs: Seq[(String, String, Double)]) =
      s"  $label: ${rs.flatMap { case (a, b, _) => Seq(a, b) }.distinct.size} nodes, ${rs.size} edges"
    Seq(line("input graph", rows), line("filtered graph", kept))
  }

  private lazy val dir: Path = Files.createTempDirectory("graft-planted-cli")

  private def write(name: String, lines: Seq[String]): String = {
    val p = dir.resolve(name)
    Files.write(p, lines.asJava); p.toString
  }

  private lazy val edges = write("edges.tsv", "query\ttarget\tani" +:
    rows.map { case (a, b, ani) => s"$a\t$b\t$ani" })
  private lazy val objects = write("objects.tsv", "object" +: universe)
  // the same table with each name replaced by its objects-file ordinal
  private lazy val numericEdges = {
    val rank = universe.zipWithIndex.toMap
    write("edges-numeric.tsv", "query\ttarget\tani" +:
      rows.map { case (a, b, ani) => s"${rank(a)}\t${rank(b)}\t$ani" })
  }

  private val threshold = Seq("--algo", "single", "--similarity", "--min", "ani", "0.95")

  /** One `graft.Main` process (it builds and stops its own session): its
    * exit code, stdout lines and stderr. Fails if the process is still
    * running after `timeoutS` seconds. */
  private def runMain(args: Seq[String], timeoutS: Int = 300): (Int, Seq[String], String) = {
    val jvm = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filterNot(a => a.startsWith("-Xmx") || a.startsWith("-agentlib"))
    val cmd = Seq(s"${sys.props("java.home")}/bin/java") ++ jvm ++ Seq("-Xmx1g",
      "-cp", sys.props("java.class.path"), "graft.Main") ++ args
    val stdout = mutable.ArrayBuffer.empty[String]
    val stderr = new StringBuilder
    val proc = Process(cmd, None, "SPARK_GRAFT_MASTER" -> "local[2]", "SPARK_GRAFT_CPUS" -> "2")
      .run(ProcessLogger(l => stdout.synchronized(stdout += l),
        l => stderr.synchronized(stderr.append(l).append('\n'))))
    val deadline = System.nanoTime() + timeoutS * 1000000000L
    while (proc.isAlive() && System.nanoTime() < deadline) Thread.sleep(100)
    if (proc.isAlive()) {
      proc.destroy()
      fail(s"graft.Main still running after $timeoutS s\n${stderr.toString.takeRight(4000)}")
    }
    val rc = proc.exitValue()
    (rc, stdout.synchronized(stdout.toSeq), stderr.synchronized(stderr.toString))
  }

  test("single linkage on a planted table: union-find partition, clusty numbering, load report") {
    val out = dir.resolve("out").toString
    val (rc, stdout, stderr) = runMain(threshold ++ Seq("--objects-file", objects, edges, out))
    assert(rc == 0, s"graft.Main exited $rc\n${stderr.takeRight(4000)}")

    // the report runs beside the clustering: each line once, whole, and
    // before the sink's line
    val report = stdout.filter(_.matches("  (input|filtered) graph: .*"))
    assert(report == expectedReport, stdout.mkString("\n"))
    val wrote = stdout.indexWhere(_.startsWith("[graft] wrote"))
    assert(wrote >= 0 && report.forall(stdout.indexOf(_) < wrote), stdout.mkString("\n"))

    val parts = Files.list(dir.resolve("out")).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq.sortBy(_.toString)
    val lines = parts.flatMap(p => Files.readAllLines(p).asScala)
    assert(lines.head == "object\tcluster")
    val got = lines.tail.filter(_.nonEmpty).map { l =>
      val Array(o, c) = l.split("\t"); o -> c.toInt
    }
    assert(got == expectedAssignments)
  }

  test("a run that fails after the report started exits non-zero and writes nothing") {
    val out = dir.resolve("out-failed")
    val (rc, stdout, stderr) = runMain(threshold ++ Seq(
      "--objects-file", dir.resolve("missing.tsv").toString, edges, out.toString))
    assert(rc != 0, stdout.mkString("\n"))
    assert(stderr.contains("input path matches nothing"), stderr.takeRight(4000))
    assert(!stdout.exists(_.startsWith("[graft] wrote")), stdout.mkString("\n"))
    assert(!Files.exists(out))
  }

  private def execute(args: String*): Seq[Seq[Any]] =
    Main.execute(spark, Main.parse(args :+ "unused-out")).collect().map(_.toSeq).toSeq

  test("--out-representatives: each object's cluster and its first member in rank order") {
    val got = execute(threshold ++ Seq("--out-representatives", "--objects-file", objects, edges): _*)
    val expected = expectedClusters.zipWithIndex.flatMap { case (m, c) =>
      m.map(o => Seq(o, m.head, c.toLong)) }
    assert(got == expected)
  }

  test("no objects file: first-appearance numbering, rows by (cluster, name)") {
    val got = execute(threshold :+ edges: _*)
    // ids in order of first appearance over the kept rows, query before target
    val firstSeen = kept.flatMap { case (a, b, _) => Seq(a, b) }.distinct
    val expected = clusters(firstSeen).zipWithIndex.flatMap { case (m, c) =>
      m.sorted.map(o => Seq(o, c.toLong)) }
    assert(got == expected)
  }

  test("--numeric-ids with an objects file: ordinals decode to the objects' names") {
    val got = execute(threshold ++ Seq("--numeric-ids", "--objects-file", objects, numericEdges): _*)
    assert(got == expectedAssignments.map { case (o, c) => Seq(o, c.toLong) })
  }

  /** `graft.Main` runs a table this small interpreted (no whole-stage
    * codegen, no generated expression classes); every output shape must
    * come out the same as compiled. */
  private val variants: Seq[(String, () => Seq[String])] =
    Seq("single", "complete", "uclust", "set-cover", "cd-hit", "leiden").map { algo =>
      s"--algo $algo" -> (() => Seq("--algo", algo, "--similarity", "--min", "ani", "0.95",
        "--objects-file", objects, edges))
    } ++ Seq(
      "--numeric-ids" -> (() => threshold ++ Seq("--numeric-ids", "--objects-file", objects,
        numericEdges)),
      "--out-representatives" -> (() => threshold ++ Seq("--out-representatives",
        "--objects-file", objects, edges)))

  for ((name, args) <- variants)
    test(s"$name: the same frame compiled and interpreted") {
      val compiled = execute(args(): _*)
      val interpreted = withConf("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(execute(args(): _*))
      assert(interpreted == compiled)
    }

  /** The other partitions through the CLI path. Each cluster is named by
    * its seed: complete linkage by its smallest member, uclust and cd-hit by
    * the member they visit first (the smallest rank), set-cover by the
    * member of highest degree (ties by rank); equal-size clusters are
    * numbered in their seeds' rank order. */
  for (algo <- Seq("complete", "uclust", "set-cover", "cd-hit"))
    test(s"--algo $algo: each object once, dense ids by size then seed rank, " +
        "missing objects last, every cluster inside one single-linkage component") {
      val got = execute(Seq("--algo", algo, "--similarity", "--min", "ani", "0.95",
        "--objects-file", objects, edges): _*).map(r => r(0).asInstanceOf[String] -> r(1))
      val pos = universe.zipWithIndex.toMap
      assert(got.map(_._1).sorted == universe.sorted)
      val ids = got.map(_._2.asInstanceOf[Long])
      assert(ids == ids.sorted && ids.distinct == ids.distinct.indices.map(_.toLong), ids)
      val byCluster = got.groupBy(_._2.asInstanceOf[Long]).toSeq.sortBy(_._1).map(_._2.map(_._1))
      assert(byCluster.forall(m => m == m.sortBy(pos)), byCluster)

      val inGraph = kept.flatMap { case (a, b, _) => Seq(a, b) }.toSet
      val (graphed, missing) = byCluster.span(_.exists(inGraph))
      assert(missing.forall(_.size == 1) && missing.flatten == universe.filterNot(inGraph), byCluster)
      assert(graphed.flatten.forall(inGraph), byCluster)

      val degree = kept.flatMap { case (a, b, _) => Seq(a -> b, b -> a) }.distinct
        .groupBy(_._1).map { case (o, ns) => o -> ns.size }
      def seed(m: Seq[String]): String =
        if (algo == "set-cover") m.minBy(o => (-degree(o), pos(o))) else m.minBy(pos)
      val keys = graphed.map(m => (-m.size, pos(seed(m))))
      assert(keys == keys.sorted, byCluster)

      val component = clusters(universe).zipWithIndex
        .flatMap { case (m, i) => m.map(_ -> i) }.toMap
      assert(graphed.forall(m => m.map(component).distinct.size == 1), byCluster)
    }
}
