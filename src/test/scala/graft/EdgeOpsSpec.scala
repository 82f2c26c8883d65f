package graft

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.LongType

import graft.ingest.EdgeOps

/** The one definition of the undirected graph — `EdgeOps.simple`,
  * `symmetrize` and `vertices` — against the same sets computed in Scala,
  * compared as sorted row lists so a duplicate row fails. */
class EdgeOpsSpec extends SparkTestBase {
  import spark.implicits._

  private val extremes = Seq(
    (Long.MaxValue, Long.MinValue), (Long.MinValue, Long.MaxValue), // both orientations
    (Long.MaxValue, 0L), (Long.MaxValue, 0L),                       // parallel
    (Long.MinValue, Long.MinValue), (Long.MaxValue, Long.MaxValue)) // self-loops

  /** Edge lists with both orientations of a pair, parallel edges,
    * self-loops, isolated pairs and self-loop-only vertices. */
  private def samples: Seq[Seq[(Long, Long)]] = {
    val fixed = Seq(
      Seq.empty[(Long, Long)],
      Seq((1L, 2L), (2L, 1L), (1L, 2L), (3L, 3L), (10L, 11L), (4L, 4L), (4L, 5L)),
      extremes)
    val random = (0 until 4).map { i =>
      val r = new Random(61L + i)
      val n = 3 + r.nextInt(12)
      Seq.fill(5 + r.nextInt(40))((r.nextInt(n).toLong - 2L, r.nextInt(n).toLong - 2L)) ++
        extremes.take(r.nextInt(extremes.size + 1))
    }
    fixed ++ random
  }

  private def pairs(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  private def simpleSet(e: Seq[(Long, Long)]): Set[(Long, Long)] =
    e.collect { case (a, b) if a != b => (math.min(a, b), math.max(a, b)) }.toSet

  test("simple, symmetrize and vertices match the Scala sets under ANSI") {
    withConf("spark.sql.ansi.enabled" -> "true") {
      samples.foreach { e =>
        val df = e.toDF("src", "dst")
        val simple = EdgeOps.simple(df)
        assert(simple.columns.toSeq == Seq("src", "dst"))
        assert(simple.schema.map(_.dataType) == Seq(LongType, LongType))
        val want = simpleSet(e)
        assert(pairs(simple) == want.toSeq.sorted, s"simple of $e")
        assert(pairs(EdgeOps.symmetrize(simple)) ==
          (want ++ want.map(_.swap)).toSeq.sorted, s"symmetrize(simple) of $e")
        assert(EdgeOps.vertices(df).collect().map(_.getLong(0)).toSeq.sorted ==
          e.flatMap { case (a, b) => Seq(a, b) }.distinct.sorted, s"vertices of $e")
      }
    }
  }

  test("symmetrize keeps every row and its other columns, flipped once") {
    val e = Seq((1L, 2L, 50L), (2L, 1L, 25L), (1L, 2L, 50L), (3L, 3L, 100L),
      (Long.MinValue, Long.MaxValue, 200L))
    val got = EdgeOps.symmetrize(e.toDF("src", "dst", "weight").select("weight", "src", "dst"))
    assert(got.columns.toSeq == Seq("weight", "src", "dst"))
    assert(got.as[(Long, Long, Long)].collect().toSeq.sorted ==
      e.flatMap { case (a, b, w) => Seq((w, a, b), (w, b, a)) }.sorted)
  }

  test("simple and vertices cast int ids to long") {
    val df = Seq((2, 1), (1, 2), (5, 5)).toDF("src", "dst")
    assert(pairs(EdgeOps.simple(df)) == Seq((1L, 2L)))
    assert(EdgeOps.vertices(df).schema.map(_.dataType) == Seq(LongType))
    assert(EdgeOps.vertices(df).as[Long].collect().toSeq.sorted == Seq(1L, 2L, 5L))
  }
}
