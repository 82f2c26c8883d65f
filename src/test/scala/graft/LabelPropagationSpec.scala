package graft

import graft.graph.LabelPropagation

/** LPA against an in-test sequential reference of the synchronous rule:
  * every step each vertex takes its neighbours' most frequent label, the
  * smaller label on a count tie, for `iterations` steps or until nothing
  * changes. Each graph runs on the default and on split partitions. */
class LabelPropagationSpec extends SparkTestBase {
  import spark.implicits._

  private def reference(edges: Seq[(Long, Long)], iterations: Int): Map[Long, Long] = {
    val adj = (edges ++ edges.map(_.swap)).filter { case (a, b) => a != b }.distinct
      .groupBy(_._1).map { case (v, es) => v -> es.map(_._2) }
    var labels = adj.keys.map(v => v -> v).toMap
    var it = 0
    var changed = true
    while (changed && it < iterations) {
      val next = adj.map { case (v, nbrs) =>
        v -> nbrs.groupBy(labels).toSeq.minBy { case (l, xs) => (-xs.size, l) }._1
      }
      changed = next != labels
      labels = next
      it += 1
    }
    labels
  }

  private def check(name: String, edges: Seq[(Long, Long)], iterations: Int = 10): Unit =
    bothPartitionings(name) {
      val got = LabelPropagation.run(spark, edges.toDF("src", "dst"), iterations)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == reference(edges, iterations))
    }

  // vertex 1 sees labels 2, 3, 4 once each; 5 sees 6 and 7 twice each
  check("count ties go to the smaller label", Seq((1L, 4L), (1L, 3L), (1L, 2L),
    (5L, 7L), (5L, 6L), (6L, 7L), (8L, 7L), (8L, 6L), (8L, 5L)))

  private def clique(vs: Seq[Long]) = for (a <- vs; b <- vs if a < b) yield (a, b)
  check("two cliques joined by a bridge",
    clique(1L to 5L) ++ clique(10L to 16L) ++ Seq((5L, 10L)))

  // bipartite: the two sides swap labels every step until the budget ends
  check("an even cycle oscillates until the budget", (0L until 8L).map(i => (i, (i + 1) % 8)),
    iterations = 7)

  // the old (count, -label) tie key overflowed on Long.MinValue under ANSI
  check("ids at both ends of the long range", Seq(
    (Long.MinValue, Long.MinValue + 1), (Long.MinValue, 0L), (Long.MinValue + 1, 0L),
    (Long.MaxValue, Long.MaxValue - 1), (Long.MaxValue, Long.MinValue),
    (Long.MaxValue - 1, Long.MaxValue - 2), (Long.MaxValue - 2, Long.MaxValue)))
}
