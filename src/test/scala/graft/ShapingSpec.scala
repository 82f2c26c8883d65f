package graft

import org.apache.spark.sql.functions._

import graft.cluster.Shaping
import graft.graph.ConnectedComponents
import graft.ingest.{Dictionary, EdgeOps}

/** Byte-level parity with the reference's synth goldens
  * (reference test/synth goldens, `named[.objs][.reps].clusty`): same 8-edge topology/weights as
  * synth.ani, objects universe synth.ids, single-linkage at --similarity
  * --min ani 0.70, size-renumbered clusters, singletons, representatives.
  * Expected tuples below are the golden files' contents (SURVEY.md §5).
  */
class ShapingSpec extends SparkTestBase {
  import spark.implicits._

  // synth.ani rows in file order (name1, name2, ani)
  val ani = Seq(
    ("xxx", "xx", 0.93), ("aaa", "aa", 0.94), ("aaa", "a", 0.92),
    ("xx", "x", 0.94), ("bb", "b", 0.71), ("aa", "a", 0.89),
    ("b", "bb", 0.99), ("c", "d", 0.33))
  // synth.ids universe in priority order
  val objs = Seq("aaa", "aa", "a", "bb", "b", "c", "d", "e", "f", "g", "xxx", "xx", "x")

  def cluster(dict: Map[String, Long]): Map[String, Long] = {
    val dictDf = dict.toSeq.toDF("object", "vid")
    val edges = ani.toDF("src", "dst", "weight")
    val filtered = EdgeOps.rangeFilters(edges, Seq(EdgeOps.RangeFilter("weight", min = Some(0.70))))
    val enc = Dictionary.encodeEdges(filtered, dictDf)
    val cc = ConnectedComponents.run(spark, enc)
    val named = Dictionary.decode(cc, dictDf).select(col("object"), col("component").as("cluster"))
    val shaped = Shaping.renumberBySize(named).select(col("object"), col("cluster"))
    shaped.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  test("named.objs golden: objects-rank ids, singletons appended") {
    val dict = objs.zipWithIndex.map { case (o, i) => o -> i.toLong }.toMap
    val inGraph = cluster(dict)
    // golden named.objs.clusty clusters
    assert(inGraph == Map(
      "aaa" -> 0L, "aa" -> 0L, "a" -> 0L,
      "xxx" -> 1L, "xx" -> 1L, "x" -> 1L,
      "bb" -> 2L, "b" -> 2L))

    val universe = objs.zipWithIndex.map { case (o, i) => (o, i.toLong) }.toDF("object", "rank")
    val assign = inGraph.toSeq.toDF("object", "cluster")
    val full = Shaping.renumber(assign, Some(universe))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(full == inGraph ++ Map("c" -> 3L, "d" -> 4L, "e" -> 5L, "f" -> 6L, "g" -> 7L))

    // representatives (named.objs.reps.clusty): first member in rank order
    val withRank = full.toSeq.toDF("object", "cluster")
      .join(universe, "object")
    val reps = Shaping.fillRepresentatives(withRank, rankCol = Some("rank"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(reps == Map(
      "aaa" -> "aaa", "aa" -> "aaa", "a" -> "aaa",
      "xxx" -> "xxx", "xx" -> "xxx", "x" -> "xxx",
      "bb" -> "bb", "b" -> "bb",
      "c" -> "c", "d" -> "d", "e" -> "e", "f" -> "f", "g" -> "g"))
  }

  test("named golden: first-appearance ids, no objects file") {
    // first-appearance order over the edge stream (reference J1 semantics)
    val firstSeen = ani.flatMap { case (a, b, _) => Seq(a, b) }.distinct
    val dict = firstSeen.zipWithIndex.map { case (o, i) => o -> i.toLong }.toMap
    val got = cluster(dict)
    // golden named.clusty: x-cluster 0, a-cluster 1, b-cluster 2
    assert(got == Map(
      "x" -> 0L, "xx" -> 0L, "xxx" -> 0L,
      "a" -> 1L, "aa" -> 1L, "aaa" -> 1L,
      "b" -> 2L, "bb" -> 2L))
  }

  test("dictionary buildSorted is dense, deterministic, collision-free") {
    val df = Seq("b", "a", "c", "a", "b").toDF("s")
    val d1 = Dictionary.buildSorted(df, "s").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(d1 == Map("a" -> 0L, "b" -> 1L, "c" -> 2L))
  }

  test("dedupMinWeight keeps minimum distance per undirected pair") {
    val e = Seq((1L, 2L, 0.29), (2L, 1L, 0.01), (1L, 3L, 0.5)).toDF("src", "dst", "weight")
    val got = EdgeOps.dedupMinWeight(e).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got == Map((1L, 2L) -> 0.01, (1L, 3L) -> 0.5))
  }

  test("distance transforms (P1)") {
    val e = Seq((1L, 2L, 0.93)).toDF("src", "dst", "weight")
    val d1 = EdgeOps.distanceTransform(e, EdgeOps.Similarity).head().getDouble(2)
    assert(math.abs(d1 - 0.07) < 1e-12)
    val e2 = Seq((1L, 2L, 93.0)).toDF("src", "dst", "weight")
    val d2 = EdgeOps.distanceTransform(e2, EdgeOps.PercentSimilarity).head().getDouble(2)
    assert(math.abs(d2 - 0.07) < 1e-12)
  }
}
