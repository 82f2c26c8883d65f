package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, round}

import scala.util.control.NonFatal

import graft.core.Session
import graft.graph.PageRank

/** Benchmark main: runs one query group on
  * SPARK_GRAFT_SF_DIR with the session of [[graft.core.Session]]
  * (SPARK_GRAFT_CPUS, else nproc, CPUs) and prints exactly one JSON line
  * {"metric","value","unit","queries","sf",...}.
  *
  *  - `graft.Bench` — the [[Headline]] group, `"metric":"total"`. It covers
  *    each engine area: edge build + graph algorithms (the north-rule
  *    flagship), dedup, text, similarity, events.
  *  - `graft.Bench graph` — the [[GraphGroup]], `"metric":"graph_total"`:
  *    the round-2+ graph operators that the headline predates.
  *
  * Both groups run the same loop: warm the whole group once at sf0.001
  * untimed, then time each query to a noop sink.
  *
  * The headline's BASELINE.json metric (edges processed/sec for
  * PageRank-to-convergence) is measured on the *full* co-occurrence graph
  * (unthresholded — the realistic dense case) with the actual superstep
  * count from the run: `directed_edges × supersteps / wall`.
  *
  * Self-adjudicating context embedded in the JSON line (so a reader can
  * judge the recording without trusting prose):
  *  - `loadavg_before`/`loadavg_after`: 1-min /proc/loadavg around the timed
  *    section — a hot box (loadavg >> cpus-in-use) explains drift on its face;
  *  - `protocol`: the warm/measure discipline used;
  *  - headline only, `step_seconds`: per-superstep wall seconds
  *    (PageRank.Result.stepSeconds) for the two PageRank rows — a
  *    uniformly-inflated series means external disturbance, a spiky tail
  *    means GC/residency trouble in the loop itself;
  *  - headline only, `true_pairs` + `seconds_per_true_pair` for the two
  *    pair-output queries (q_minhash_pairs, q_embed_neardup), whose OUTPUT
  *    grows superlinearly under the sf1 clone construction: flat
  *    seconds-per-pair across scales is the measured form of "work tracks
  *    output".
  */
object Bench {
  val Headline: Seq[String] = Seq(
    "q_edges_build", "q_cc", "q_cluster_shape", "q_triangles",
    "q_pagerank", "q_lpa",
    "q_exact_dedup", "q_minhash_pairs", "q_simhash",
    "q_text_quality", "q_langid",
    "q_ann_topk", "q_embed_neardup",
    "q_sessions", "q_window_counts")

  val GraphGroup: Seq[String] = Seq(
    "q_louvain", "q_kcore_decomp", "q_truss", "q_scc", "q_anf",
    "q_salsa", "q_sssp_weighted", "q_hits", "q_reach_curve", "q_vocab_stats")

  /** Queries whose row count is the natural output-size denominator. */
  private val pairQueries = Set("q_minhash_pairs", "q_embed_neardup")

  private def loadavg1m(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.split("\\s+")(0).toDouble
    catch { case NonFatal(_) => -1.0 }

  private def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  private def json(kvs: Seq[(String, String)]): String =
    kvs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    val graph = args match {
      case Array() => false
      case Array("graph") => true
      case _ => System.err.println("usage: graft.Bench [graph]"); sys.exit(2)
    }
    val names = if (graph) GraphGroup else Headline
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Session.cpus
    val spark = Session.getOrCreate(cpus)

    // Warm-up: run the whole group once at sf0.001 before timing. The
    // recorded numbers are then steady-state operator cost, not
    // first-evaluation JIT/codegen of whichever query happens to run a
    // pipeline shape first — the round-3 q_langid "regression" was exactly
    // such a cold-start artifact (BASELINE.md round-4 attribution). Untimed,
    // standard warmup-then-measure discipline; the timed sf run still pays
    // all of its own real work (scans, cache materialization, shuffles) at
    // full scale. Only NonFatal failures are tolerated (and named) — a
    // fatal error (OOM, linkage) must abort here rather than be swallowed
    // into the timed run.
    val loadBefore = loadavg1m()
    val warmDir = "/root/testdata/sf0.001"
    val protocol =
      if (new java.io.File(warmDir).isDirectory && warmDir != sfDir) {
        names.foreach { name =>
          try noop(SparkEntry.queries(name)(spark, warmDir))
          catch {
            case NonFatal(e) =>
              System.err.println(s"[bench] WARM-UP FAILED for $name (timed run will be cold): ${e.getMessage}")
          }
        }
        Queries.clearCaches() // drop the tiny warm-tier caches before timing
        "warm-sf0.001-untimed-then-timed"
      } else { spark.read.parquet(s"$sfDir/region.parquet").count(); "cold" }

    var stepSeconds = Map.empty[String, Seq[Double]]
    val timed = names.map { name =>
      spark.sparkContext.setJobDescription(s"bench:$name")
      val t0 = System.nanoTime()
      val ok =
        try {
          if (name == "q_pagerank") {
            // Same computation as the catalog entry (Queries.qPageRank), run
            // inline so the per-superstep seconds reach the JSON line.
            val r = PageRank.runUndirected(spark, Queries.edges(spark, sfDir),
              tol = 0.0, maxIter = 8)
            noop(r.ranks.select(col("vertex"), round(col("rank"), 6).as("rank"))
              .orderBy("vertex"))
            stepSeconds += name -> r.stepSeconds
          } else noop(SparkEntry.queries(name)(spark, sfDir))
          true
        } catch {
          case NonFatal(e) => System.err.println(s"[bench] $name: ${e.getMessage}"); false
        }
      val sec = (System.nanoTime() - t0) / 1e9
      name -> (if (ok) sec else -1.0)
    }
    spark.sparkContext.setJobDescription(null)

    val line =
      if (graph) {
        val loadAfter = loadavg1m()
        Seq("metric" -> "\"graph_total\"") ++ summary(timed, sfDir, cpus) ++ Seq(
          "loadavg_before" -> s"$loadBefore", "loadavg_after" -> s"$loadAfter",
          "protocol" -> s""""$protocol"""")
      } else headlineLine(spark, sfDir, cpus, timed, stepSeconds, loadBefore, protocol)
    println(json(line))
    Queries.clearCaches()
    spark.stop()
  }

  /** `value` … `cpus`: the keys both groups' lines share, in line order. */
  private def summary(results: Seq[(String, Double)], sfDir: String,
                      cpus: Int): Seq[(String, String)] = {
    val total = results.map(_._2).filter(_ >= 0).sum
    Seq("value" -> f"$total%.3f", "unit" -> "\"sec\"",
      "queries" -> json(results.map { case (k, v) => k -> f"$v%.3f" }),
      "sf" -> s""""$sfDir"""", "cpus" -> s"$cpus")
  }

  /** The headline's remaining rows: the pair-output recount, then the
    * north-rule PageRank-to-convergence row. */
  private def headlineLine(spark: SparkSession, sfDir: String, cpus: Int,
                           timed: Seq[(String, Double)],
                           steps: Map[String, Seq[Double]], loadBefore: Double,
                           protocol: String): Seq[(String, String)] = {
    // Output-normalized metric for the pair-output queries (untimed: the
    // recount rebuilds each query, signatures included, after the recorded
    // seconds above, so it does not perturb them).
    val truePairs = pairQueries.toSeq.sorted.flatMap { name =>
      try Some(name -> SparkEntry.queries(name)(spark, sfDir).count())
      catch { case NonFatal(_) => None }
    }

    // North-rule metric: PageRank-to-convergence on the full graph. The
    // edge table is the catalog's session-cached one (already materialized),
    // so the metric times the iterative job itself, not the co-occurrence
    // extraction.
    val bi = Queries.edgesAll(spark, sfDir).select("src", "dst")
    val nDirected = bi.count() * 2 // runUndirected symmetrizes
    val t0 = System.nanoTime()
    val pr = PageRank.runUndirected(spark, bi, tol = 1e-6, maxIter = 25)
    noop(pr.ranks)
    val prSec = (System.nanoTime() - t0) / 1e9
    val prEdgesPerSec = nDirected.toDouble * pr.iterations / prSec
    val results = timed :+ ("q_pagerank_full" -> prSec)
    val stepSeconds = steps + ("q_pagerank_full" -> pr.stepSeconds)
    val loadAfter = loadavg1m()

    val secBy = results.toMap
    val pairs = truePairs.map { case (k, n) =>
      val spp = if (n > 0 && secBy.getOrElse(k, -1.0) > 0) secBy(k) / n else -1.0
      k -> json(Seq("true_pairs" -> s"$n", "seconds_per_true_pair" -> f"$spp%.9f"))
    }
    Seq("metric" -> "\"total\"") ++ summary(results, sfDir, cpus) ++ Seq(
      "pagerank_edges_per_sec" -> f"$prEdgesPerSec%.0f",
      "pagerank_directed_edges" -> s"$nDirected",
      "pagerank_supersteps" -> s"${pr.iterations}",
      "loadavg_before" -> s"$loadBefore", "loadavg_after" -> s"$loadAfter",
      "protocol" -> s""""$protocol"""",
      "step_seconds" -> json(stepSeconds.toSeq.sortBy(_._1).map { case (k, ss) =>
        k -> ss.map(s => f"$s%.3f").mkString("[", ",", "]") }),
      "pair_output" -> json(pairs))
  }
}
