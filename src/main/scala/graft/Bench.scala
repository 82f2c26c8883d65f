package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, round}

import scala.util.control.NonFatal

import graft.graph.PageRank

/** Per-round benchmark main (driver contract): runs the headline queries on
  * SPARK_GRAFT_SF_DIR at local[SPARK_GRAFT_CPUS], prints exactly one JSON
  * line {"metric","value","unit","queries","sf",...}.
  *
  * The headline set covers each engine area: edge build + graph algorithms
  * (the north-rule flagship), dedup, text, similarity, events.
  *
  * The BASELINE.json metric (edges processed/sec for PageRank-to-convergence)
  * is measured on the *full* co-occurrence graph (unthresholded — the
  * realistic dense case) with the actual superstep count from the run:
  * `directed_edges × supersteps / wall`. Cross-parallelism scaling evidence
  * lives in ScalingBench/BASELINE.md.
  *
  * Self-adjudicating context embedded in the JSON line (so a reader can
  * judge the recording without trusting prose):
  *  - `loadavg_before`/`loadavg_after`: 1-min /proc/loadavg around the timed
  *    section — a hot box (loadavg >> cpus-in-use) explains drift on its face;
  *  - `protocol`: the warm/measure discipline used;
  *  - `pagerank_step_seconds` / `pagerank_full_step_seconds`: per-superstep
  *    wall seconds (PageRank.Result.stepSeconds) for the two PageRank rows —
  *    a uniformly-inflated series means external disturbance, a spiky tail
  *    means GC/residency trouble in the loop itself;
  *  - `true_pairs` + `seconds_per_true_pair` for the two pair-output queries
  *    (q_minhash_pairs, q_embed_neardup), whose OUTPUT grows superlinearly
  *    under the sf1 clone construction: flat seconds-per-pair across scales
  *    is the measured form of "work tracks output".
  */
object Bench {
  private def loadavg1m(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.split("\\s+")(0).toDouble
    catch { case NonFatal(_) => -1.0 }

  /** Queries whose row count is the natural output-size denominator. */
  private val pairQueries = Set("q_minhash_pairs", "q_embed_neardup")

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

    val headline = Seq(
      "q_edges_build", "q_cc", "q_cluster_shape", "q_triangles",
      "q_pagerank", "q_lpa",
      "q_exact_dedup", "q_minhash_pairs", "q_simhash",
      "q_text_quality", "q_langid",
      "q_ann_topk", "q_embed_neardup",
      "q_sessions", "q_window_counts")

    // Warm-up: run the whole headline set once at sf0.001 before timing.
    // The recorded numbers are then steady-state operator cost, not
    // first-evaluation JIT/codegen of whichever query happens to run a
    // pipeline shape first — the round-3 q_langid "regression" was exactly
    // such a cold-start artifact (BASELINE.md round-4 attribution). ~10 s,
    // untimed, standard warmup-then-measure benchmarking discipline; the
    // timed sf run still pays all of its own real work (scans, cache
    // materialization, shuffles) at full scale. Only NonFatal failures are
    // tolerated (and named) — a fatal error (OOM, linkage) must abort here
    // rather than be swallowed into the timed run.
    val loadBefore = loadavg1m()
    val warmDir = "/root/testdata/sf0.001"
    val protocol =
      if (new java.io.File(warmDir).isDirectory && warmDir != sfDir) {
        headline.foreach { name =>
          try SparkEntry.queries(name)(spark, warmDir)
            .write.mode("overwrite").format("noop").save()
          catch {
            case NonFatal(e) =>
              System.err.println(s"[bench] WARM-UP FAILED for $name (timed run will be cold): ${e.getMessage}")
          }
        }
        Queries.clearCaches() // drop the tiny warm-tier caches before timing
        "warm-sf0.001-untimed-then-timed"
      } else { spark.read.parquet(s"$sfDir/region.parquet").count(); "cold" }

    var stepSeconds = Map.empty[String, Seq[Double]]
    var truePairs = Map.empty[String, Long]

    var results = headline.map { name =>
      val t0 = System.nanoTime()
      val ok =
        try {
          if (name == "q_pagerank") {
            // Same computation as the catalog entry (Queries.qPageRank), run
            // inline so the per-superstep seconds reach the JSON line.
            val r = PageRank.runUndirected(spark, Queries.edges(spark, sfDir),
              tol = 0.0, maxIter = 8)
            r.ranks.select(col("vertex"), round(col("rank"), 6).as("rank"))
              .orderBy("vertex").write.mode("overwrite").format("noop").save()
            stepSeconds += name -> r.stepSeconds
          } else {
            SparkEntry.queries(name)(spark, sfDir)
              .write.mode("overwrite").format("noop").save()
          }
          true
        } catch {
          case NonFatal(e) => System.err.println(s"[bench] $name: ${e.getMessage}"); false
        }
      val sec = (System.nanoTime() - t0) / 1e9
      name -> (if (ok) sec else -1.0)
    }

    // Output-normalized metric for the pair-output queries (untimed: the
    // recount rebuilds each query, signatures included, after the recorded
    // seconds above, so it does not perturb them).
    pairQueries.foreach { name =>
      try truePairs += name -> SparkEntry.queries(name)(spark, sfDir).count()
      catch { case NonFatal(_) => () }
    }

    // North-rule metric: PageRank-to-convergence on the full graph. The
    // edge table is the catalog's session-cached one (already materialized),
    // so the metric times the iterative job itself, not the co-occurrence
    // extraction.
    val bi = Queries.edgesAll(spark, sfDir).select("src", "dst")
    val nDirected = bi.count() * 2 // runUndirected symmetrizes
    val t0 = System.nanoTime()
    val pr = PageRank.runUndirected(spark, bi, tol = 1e-6, maxIter = 25)
    pr.ranks.write.mode("overwrite").format("noop").save()
    val prSec = (System.nanoTime() - t0) / 1e9
    val prEdgesPerSec = nDirected.toDouble * pr.iterations / prSec
    results = results :+ ("q_pagerank_full" -> prSec)
    stepSeconds += "q_pagerank_full" -> pr.stepSeconds
    val loadAfter = loadavg1m()

    val qs = results.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val stepsJson = stepSeconds.toSeq.sortBy(_._1).map { case (k, ss) =>
      "\"" + k + "\":[" + ss.map(s => f"$s%.3f").mkString(",") + "]"
    }.mkString("{", ",", "}")
    val secBy = results.toMap
    val pairsJson = truePairs.toSeq.sortBy(_._1).map { case (k, n) =>
      val spp = if (n > 0 && secBy.getOrElse(k, -1.0) > 0) secBy(k) / n else -1.0
      "\"" + k + "\":{\"true_pairs\":" + n + ",\"seconds_per_true_pair\":" + f"$spp%.9f" + "}"
    }.mkString("{", ",", "}")
    println(
      s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec","queries":$qs,"sf":"$sfDir","cpus":$cpus,"pagerank_edges_per_sec":${f"$prEdgesPerSec%.0f"},"pagerank_directed_edges":$nDirected,"pagerank_supersteps":${pr.iterations},"loadavg_before":$loadBefore,"loadavg_after":$loadAfter,"protocol":"$protocol","step_seconds":$stepsJson,"pair_output":$pairsJson}""")
    Queries.clearCaches()
    spark.stop()
  }
}
