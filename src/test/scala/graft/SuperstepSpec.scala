package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import graft.core.Superstep

/** The superstep driver's own contract: statistics reset, declared
  * partitioning, step release, the throwing cap, and the rules that no other
  * code path checkpoints and only the catalog cache and the CLI scan
  * persist. */
class SuperstepSpec extends SparkTestBase {
  import spark.implicits._

  private def persisted(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Plain localCheckpoint copies the pre-checkpoint plan's estimated
    * sizeInBytes into the truncated plan, so a loop whose state feeds k
    * places compounds the estimate to (2^63)^(k^step) and stats estimation
    * eventually pins the driver in million-digit BigInteger math. */
  test("loop-state checkpoint resets inherited statistics") {
    val before = persisted()
    val bits = Superstep.run("SuperstepSpec") { s =>
      var comm = s.pin(spark.range(10).toDF("v"))
      s.upTo(8) { _ =>
        // the pin plus the previous step's state, nothing older
        assert((persisted() -- before).size <= 2)
        val a = comm.select(col("v").as("a"))
        comm = s.state(a
          .join(comm.select(col("v").as("b")), col("a") === col("b"))
          .join(comm.select(col("v").as("c")), col("a") === col("c"))
          .select(col("a").as("v")))
        comm.count()
        true
      }
      assert(comm.count() == 10L)
      comm.queryExecution.optimizedPlan.stats.sizeInBytes.bitLength
    }
    // with inherited stats this is ~3^8 * 63 ≈ 413k bits; reset keeps it flat
    assert(bits < 128, s"sizeInBytes bitLength = $bits — stats are compounding again")
    assert(persisted() == before, "an Int result reads nothing, so nothing may stay pinned")
  }

  /** The partitioning a checkpointed frame declares to the planner. */
  private def declared(df: DataFrame): Partitioning =
    df.queryExecution.analyzed.collectFirst { case r: LogicalRDD => r.outputPartitioning }.get

  private def keyed = (0L until 40L).map(i => (i % 7, i)).toDF("k", "v")
  private def other = (0L until 10L).map(i => (i, s"x$i")).toDF("k", "name")
  private def joined(a: DataFrame) =
    a.join(other, "k").collect().map(_.toString).sorted.toSeq

  bothPartitionings("a pin built by a hash exchange on k declares HashPartitioning(k, P)") {
    val p = spark.conf.get("spark.sql.shuffle.partitions").toInt
    Superstep.run("SuperstepSpec") { s =>
      val pinned = s.pin(keyed.repartition(p, col("k")))
      declared(pinned) match {
        case HashPartitioning(Seq(k: Attribute), n) => assert(k.name == "k" && n == p)
        case other => fail(s"declared $other")
      }
      val state = s.state(keyed.groupBy("k").agg(count(lit(1)).as("n")))
      assert(joined(pinned) == joined(keyed))
      assert(joined(state) == joined(keyed.groupBy("k").agg(count(lit(1)).as("n"))))
      // a shuffled join reads the pin in place: only the other side moves
      val plan = pinned.join(other.hint("shuffle_hash"), "k").queryExecution.executedPlan.toString
      assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1, plan)
    }
  }

  bothPartitionings("a checkpoint whose exchange AQE coalesced declares nothing") {
    withConf("spark.sql.adaptive.coalescePartitions.enabled" -> "true") {
      Superstep.run("SuperstepSpec") { s =>
        val pinned = s.pin(keyed.repartition(col("k")))
        val state = s.state(keyed.repartition(col("k")))
        assert(declared(pinned) == UnknownPartitioning(0))
        assert(declared(state) == UnknownPartitioning(0))
        assert(joined(pinned) == joined(keyed))
        assert(joined(state) == joined(keyed))
      }
    }
  }

  private val path200 = (1L until 200L).map(i => (i, i + 1)).toDF("src", "dst")

  test("KCore.run's default cap throws on a 200-vertex path, naming the operator and step") {
    val ex = intercept[IllegalStateException](graft.graph.KCore.run(spark, path200).collect())
    assert(ex.getMessage.contains("KCore") && ex.getMessage.contains("step 64"), ex.getMessage)
  }

  test("KCore.run with a 128-step cap gives core 1 on every vertex of a 200-vertex path") {
    val cores = graft.graph.KCore.run(spark, path200, maxIter = 128).collect()
    assert(cores.length == 200)
    assert(cores.forall(_.getLong(1) == 1L))
  }

  test("ConnectedComponents.run throws instead of returning a truncated labelling") {
    // split partitions: on one partition the contraction alone finishes the path
    val ex = intercept[IllegalStateException](withSplitPartitions(
      graft.graph.ConnectedComponents.run(spark, path200, maxIter = 1).collect()))
    assert(ex.getMessage.contains("ConnectedComponents"), ex.getMessage)
  }

  test("KCore.coreVertices throws at its cap while peeling a 200-vertex path") {
    // k = 2 peels only the two ends of the path per round
    val ex = intercept[IllegalStateException](
      graft.graph.KCore.coreVertices(spark, path200, k = 2, maxIter = 5).collect())
    assert(ex.getMessage.contains("KCore.coreVertices") && ex.getMessage.contains("step 5"),
      ex.getMessage)
  }

  test("Truss.truss throws at its cap while peeling a triangulated cylinder") {
    // 7 rings of 4 vertices, each square between rings split by a diagonal:
    // every edge lies on two triangles except the end rings' edges, so the
    // 4-truss peel works inward from both ends, 8 rounds in all
    val rings = 7
    def v(i: Int, j: Int): Long = i * 4L + Math.floorMod(j, 4)
    val cylinder = (for {
      i <- 0 until rings; j <- 0 until 4
      e <- Seq((v(i, j), v(i, j + 1))) ++
        (if (i + 1 < rings) Seq((v(i, j), v(i + 1, j)), (v(i, j), v(i + 1, j + 1))) else Nil)
    } yield e).toDF("src", "dst")
    val ex = intercept[IllegalStateException](
      graft.graph.Truss.truss(spark, cylinder, k = 4, maxIter = 3).collect())
    assert(ex.getMessage.contains("Truss.truss") && ex.getMessage.contains("step 3"),
      ex.getMessage)
  }

  test("StronglyConnectedComponents.run throws when a min-label walk outruns its inner cap") {
    // a directed 40-cycle: trimming peels nothing, and label 1 needs 39 hops
    val cycle = (1L to 40L).map(i => (i, i % 40L + 1L)).toDF("src", "dst")
    val ex = intercept[IllegalStateException](
      graft.graph.StronglyConnectedComponents.run(spark, cycle, maxInner = 4).collect())
    assert(ex.getMessage.contains("StronglyConnectedComponents.minLabelFixpoint") &&
      ex.getMessage.contains("step 4"), ex.getMessage)
  }

  /** `src/main` files, other than `allowed` and the generated class list
    * (data: library class names such as `scala.concurrent.ExecutionContext`),
    * whose text matches a `banned` pattern. */
  private def offenders(allowed: Set[String], banned: Seq[Regex]): List[String] =
    Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        !(allowed + "ClassList.scala")(p.getFileName.toString))
      .flatMap { p =>
        val text = new String(Files.readAllBytes(p), "UTF-8")
        banned.filter(_.findFirstIn(text).isDefined).map(b => s"$p: $b")
      }.toList

  test("only the driver and the shim call localCheckpoint") {
    val found = offenders(Set("Superstep.scala", "GraftShim.scala"),
      Seq(".localCheckpoint(", "checkpointReleasable", "localCheckpointResetStats")
        .map(b => Regex.quote(b).r))
    assert(found.isEmpty, found.mkString("\n"))
  }

  /** One way to hold an intermediate: operators hold tables in a Superstep
    * scope (`s.persist(` is the scope's own, released on every exit). Only
    * the driver, the catalog's session cache of shared inputs, and the
    * CLI's one scan per process (which ends at `spark.stop()`) persist a
    * frame themselves. */
  test("only the driver, the catalog cache and the CLI scan persist or cache") {
    val found = offenders(Set("Superstep.scala", "Queries.scala", "Main.scala"),
      Seq("""(?<!\bs)\.persist\(""".r, """\.cache\(\)""".r))
    assert(found.isEmpty, found.mkString("\n"))
  }

  /** A Superstep scope and its SQL settings are single-threaded, so the
    * only other driver threads are the CLI's: its load report, which runs
    * outside any scope, and its class preloader, which runs no Spark code
    * (PreloadSpec checks that only `graft.Main` starts it). */
  test("only the CLI starts a driver thread") {
    val found = offenders(Set("Main.scala", "Preload.scala"),
      Seq("Future(", "new Thread(", "ExecutionContext").map(b => Regex.quote(b).r))
    assert(found.isEmpty, found.mkString("\n"))
  }

  /** One parser of the edge table: `EdgeTableSource.scan`. The only line
    * reader in `src/main` is `readObjects`' numbering of the objects file. */
  test("only EdgeTableSource.readObjects reads lines through Hadoop") {
    val reader = """\b(hadoopFile|textFile)\b""".r
    val source = Paths.get("src/main/scala/graft/sources/EdgeTableSource.scala")
    val text = new String(Files.readAllBytes(source), "UTF-8")
    val readObjects = """(?s)\n  def readObjects\(.*?\n  }\n""".r.findFirstIn(text)
      .getOrElse(fail(s"no readObjects in $source"))
    val found = offenders(Set("EdgeTableSource.scala"), Seq(reader)) ++
      reader.findFirstIn(text.replace(readObjects, "")).map(m => s"$source: $m outside readObjects")
    assert(found.isEmpty, found.mkString("\n"))
  }

  /** One definition of the undirected graph: operators take their simple
    * edge set from `EdgeOps.simple`. The only other canonical orientations
    * compute something else: connected components' small-star step and
    * Louvain's weighted level graph, which sums parallel edges. */
  test("only EdgeOps, the CC star loop and Louvain's level graph orient edges by hand") {
    val found = offenders(Set("EdgeOps.scala", "ConnectedComponents.scala", "Louvain.scala"),
      Seq(Regex.quote("""least(col("src"), col("dst"))""").r))
    assert(found.isEmpty, found.mkString("\n"))
  }

  /** Only the CLI's small-input gate turns codegen off, so catalog queries
    * and benches always run compiled. */
  test("only the CLI sets spark.sql.codegen settings") {
    val found = offenders(Set("Main.scala"), Seq(Regex.quote("spark.sql.codegen.").r))
    assert(found.isEmpty, found.mkString("\n"))
  }

  /** One way to build a session: every main gets its master, defaults and
    * log levels from `graft.core.Session`. */
  test("only the session helper builds a SparkSession") {
    val found = offenders(Set("Session.scala"), Seq(Regex.quote("SparkSession.builder").r))
    assert(found.isEmpty, found.mkString("\n"))
  }
}
