package graft

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import graft.graph._

/** Storage lifecycle of every operator that holds tables on the superstep
  * driver — the iterative ones and those that pin a per-call table
  * (triangle counting, the LSH operators) — from the outside: the
  * `getPersistentRDDs` delta of one call must be exactly the checkpoints
  * its returned frames read after a normal return, and empty after a
  * throw. */
class SuperstepLifecycleSpec extends SparkTestBase {
  import spark.implicits._

  private def persisted(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Ids of the RDDs `df` scans and everything they depend on. */
  private def reads(df: DataFrame): Set[Int] = {
    val seen = mutable.Set.empty[Int]
    def walk(r: RDD[_]): Unit = if (seen.add(r.id)) r.dependencies.foreach(d => walk(d.rdd))
    df.queryExecution.analyzed.collect { case r: LogicalRDD => r.rdd }.foreach(walk)
    seen.toSet
  }

  private def delta(call: => Unit): Set[Int] = {
    val before = persisted()
    call
    persisted() -- before
  }

  // two triangles joined by a path, a pendant, an isolated edge
  private val und = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
    (6L, 7L), (5L, 7L), (7L, 8L), (10L, 11L))
  private def g = und.toDF("src", "dst")
  private def gw = und.map { case (a, b) => (a, b, 1.0 + (a % 3)) }.toDF("src", "dst", "weight")
  // a directed graph with a 3-cycle, a 2-cycle and tails
  private def dg = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (5L, 4L), (6L, 1L))
    .toDF("src", "dst")
  private def path(n: Long) = (1L until n).map(i => (i, i + 1)).toDF("src", "dst")
  // a chain of triangles sharing edges peels one triangle per 4-truss round
  private def triChain = (1L to 6L).flatMap(i => Seq((i, i + 1), (i, i + 2))).toDF("src", "dst")
  // near-duplicate texts (0, 1, 3) and vectors (ids 0 and 1 share a direction)
  private def docs = Seq((0L, "the quick brown fox jumps over the lazy dog today"),
    (1L, "the quick brown fox jumps over the lazy dog tonight"),
    (2L, "completely different words about cooking pasta with basil"),
    (3L, "the quick brown fox jumps over the lazy dog today")).toDF("doc_id", "text")
  private def vecs = Seq((0L, Seq(1f, 2f, 3f, 4f)), (1L, Seq(1f, 2f, 3f, 4.01f)),
    (2L, Seq(-4f, 1f, 0f, 2f)), (3L, Seq(0f, -1f, 5f, -2f))).toDF("id", "vec")
  private def failing(df: DataFrame) =
    df.withColumn("src", when(col("src") === 5L, raise_error(lit("boom"))).otherwise(col("src")))

  private val returns: Seq[(String, () => Seq[DataFrame])] = Seq(
    "ConnectedComponents.run" -> (() => Seq(ConnectedComponents.run(spark, g))),
    "LabelPropagation.run" -> (() => Seq(LabelPropagation.run(spark, g))),
    "PageRank.run" -> (() => Seq(PageRank.run(spark, dg).ranks)),
    "PageRank.run (durable state)" -> (() => Seq(PageRank.run(spark, dg,
      stateDir = Some(Files.tmp("graft-lifecycle-pagerank"))).ranks)),
    "KCore.coreVertices" -> (() => Seq(KCore.coreVertices(spark, g, 2))),
    "KCore.run" -> (() => Seq(KCore.run(spark, g))),
    "Hits.run" -> (() => Seq(Hits.run(spark, dg).scores)),
    "Salsa.run" -> (() => Seq(Salsa.run(spark, dg))),
    "ShortestPaths.weighted (fixed)" -> (() => Seq(ShortestPaths.weighted(spark, gw, 1L,
      fixedIters = Some(4)))),
    "ShortestPaths.weightedDelta" -> (() => Seq(ShortestPaths.weightedDelta(spark, gw, 1L).dist)),
    "ShortestPaths.hops" -> (() => Seq(ShortestPaths.hops(spark, g, 1L))),
    "ShortestPaths.multiHops" -> (() => Seq(ShortestPaths.multiHops(spark, g, Seq(1L, 8L)))),
    "Bipartite.check" -> (() => Seq(Bipartite.check(spark, g))),
    "RandomWalks.walks" -> (() => Seq(RandomWalks.walks(spark, g))),
    "Louvain.run" -> (() => Seq(Louvain.run(spark, g).assignment)),
    "Louvain.run (fixed schedule, refine depth)" -> (() => Seq(Louvain.run(spark, gw,
      maxPasses = 4, maxLevels = 3, weightCol = Some("weight"), earlyStop = false,
      measureRefineDepth = true).assignment)),
    "Louvain.minLabelDepth" -> (() => { Louvain.minLabelDepth(spark, g); Nil }),
    "Truss.truss" -> (() => Seq(Truss.truss(spark, triChain, 4))),
    "TriangleCount.globalCount" -> (() => Seq(TriangleCount.globalCount(spark, g))),
    "Dedup.minhashPairs" -> (() => Seq(dedup.Dedup.minhashPairs(docs, 0.5))),
    "Similarity.lshTopK" -> (() => Seq(sim.Similarity.lshTopK(vecs,
      vecs.toDF("qid", "qvec"), k = 2, dim = 4))),
    "Similarity.nearDupPairs" -> (() => Seq(sim.Similarity.nearDupPairs(vecs, 0.99, dim = 4))),
    "NeighborhoodFunction.kmvReach" -> (() => Seq(NeighborhoodFunction.kmvReach(spark, g, 3, 4))),
    "NeighborhoodFunction.reachCurve" -> (() => Seq(NeighborhoodFunction.reachCurve(spark, g, 3, 4))),
    "StronglyConnectedComponents.run" -> (() => Seq(StronglyConnectedComponents.run(spark, dg))),
    "OracleCalibration.misDepth" -> (() => {
      val bi = g.select(col("src").as("u"), col("dst").as("v"))
        .union(g.select(col("dst").as("u"), col("src").as("v")))
      tools.OracleCalibration.misDepth(spark, bi,
        bi.select(col("u").as("v")).distinct().select(col("v"), col("v").as("pos")))
      Nil
    }))

  returns.foreach { case (name, call) =>
    test(s"$name: after a return, exactly the checkpoints the result reads stay") {
      var frames: Seq[DataFrame] = Nil
      val left = delta { frames = call() }
      val read = frames.flatMap(reads).toSet
      assert(left == (read & persisted()), s"left $left, result reads ${read & persisted()}")
      frames.foreach(_.collect()) // nothing the result reads was released
    }
  }

  private val throws: Seq[(String, () => Any)] = Seq(
    // split partitions: on one partition the contraction alone finishes the path
    "ConnectedComponents.run" -> (() => withSplitPartitions(
      ConnectedComponents.run(spark, path(20), maxIter = 1))),
    "KCore.coreVertices" -> (() => KCore.coreVertices(spark, path(20), 2, maxIter = 2)),
    "KCore.run" -> (() => KCore.run(spark, path(20), maxIter = 3)),
    "ShortestPaths.weightedDelta" -> (() => ShortestPaths.weightedDelta(spark,
      path(20).withColumn("weight", lit(1.0)), 1L, maxIters = 3)),
    "Bipartite.check" -> (() => Bipartite.check(spark, path(20), maxIter = 2)),
    "Truss.truss" -> (() => Truss.truss(spark, triChain, 4, maxIter = 1)),
    "StronglyConnectedComponents.run (outer cap)" -> (() =>
      StronglyConnectedComponents.run(spark, dg, maxOuter = 0)),
    "StronglyConnectedComponents.run (inner cap)" -> (() =>
      StronglyConnectedComponents.run(spark, dg, maxInner = 1)),
    "Hits.run (failing input)" -> (() => Hits.run(spark, failing(dg))),
    "PageRank.run (failing input)" -> (() => PageRank.run(spark, failing(dg))),
    "Salsa.run (failing input)" -> (() => Salsa.run(spark, failing(dg))),
    "TriangleCount.globalCount (failing input)" -> (() =>
      TriangleCount.globalCount(spark, failing(g)).collect()))

  throws.foreach { case (name, call) =>
    test(s"$name: after a throw, nothing stays") {
      val left = delta { intercept[Exception](call()) }
      assert(left.isEmpty, s"left $left")
    }
  }

  private object Files {
    def tmp(prefix: String): String = {
      val d = java.nio.file.Files.createTempDirectory(prefix)
      d.toFile.deleteOnExit()
      d.resolve("state").toString
    }
  }
}
