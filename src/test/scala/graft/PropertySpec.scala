package graft

import scala.collection.mutable

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.cluster.Shaping
import graft.graph.{ConnectedComponents, PageRank, TriangleCount}

/** scalacheck-generated random graphs vs exact invariants (SURVEY.md §5c):
  * CC partition = BFS reachability, PageRank mass conservation + lower
  * bound, triangle count = brute force, shaping renumber properties.
  * Deterministic: generators sampled from a fixed seed. */
class PropertySpec extends SparkTestBase {
  import spark.implicits._

  private val graphGen: Gen[List[(Long, Long)]] = for {
    n <- Gen.choose(5, 36)
    m <- Gen.choose(4, 90)
    edges <- Gen.listOfN(m, for {
      a <- Gen.choose(0, n - 1)
      b <- Gen.choose(0, n - 1)
    } yield (a.toLong, b.toLong))
  } yield edges.filter { case (a, b) => a != b }

  /** Fixed-seed deterministic samples. */
  private def samples(k: Int): Seq[List[(Long, Long)]] =
    (0 until k).flatMap(i =>
      graphGen.apply(Gen.Parameters.default, Seed(42L + i)))

  private def bfsComponents(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val adj = mutable.Map.empty[Long, mutable.Set[Long]]
    edges.foreach { case (a, b) =>
      adj.getOrElseUpdate(a, mutable.Set.empty) += b
      adj.getOrElseUpdate(b, mutable.Set.empty) += a
    }
    val comp = mutable.Map.empty[Long, Long]
    adj.keys.toSeq.sorted.foreach { v =>
      if (!comp.contains(v)) {
        val seen = mutable.Set(v); val q = mutable.Queue(v)
        while (q.nonEmpty) { val u = q.dequeue(); adj(u).foreach(w => if (seen.add(w)) q.enqueue(w)) }
        val label = seen.min
        seen.foreach(comp(_) = label)
      }
    }
    comp.toMap
  }

  /** Union-find reference: label = min vertex of the component; self-loops
    * are dropped before anything (a self-loop-only vertex has no label). */
  private def unionFindComponents(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.filter { case (a, b) => a != b }.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.toSeq.map(v => v -> find(v)).toMap
  }

  // adversarial shapes: a chain longer than any one-pass contraction of a
  // split table finishes, a mega-hub, duplicate / reversed / self-loop edges,
  // and ids at the top of the long range (ANSI mode throws on overflow)
  private val shapes: Seq[(String, Seq[(Long, Long)])] = Seq(
    "300-vertex chain" -> (0L until 299L).map(i => (i, i + 1)),
    "mega-hub" -> ((1L to 400L).map(i => (0L, i)) ++ (401L to 420L).map(i => (i, i + 1))),
    "duplicate, reversed and self-loop edges" -> Seq((1L, 2L), (2L, 1L), (1L, 2L), (2L, 3L),
      (3L, 3L), (4L, 4L), (5L, 6L), (6L, 5L), (6L, 6L), (7L, 5L)),
    "ids near Long.MaxValue" -> ((0L until 40L).map(i => (Long.MaxValue - i, Long.MaxValue - i - 1)) ++
      Seq((Long.MaxValue - 100L, Long.MaxValue - 200L), (Long.MinValue, Long.MaxValue - 150L))))

  test("property: connected components equal BFS partition on random graphs") {
    def cc(edges: Seq[(Long, Long)]) = ConnectedComponents.run(spark, edges.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    samples(4).foreach { edges =>
      assert(cc(edges) == bfsComponents(edges), s"edges=$edges")
      assert(withSplitPartitions(cc(edges)) == bfsComponents(edges), s"split, edges=$edges")
    }
    shapes.foreach { case (name, edges) =>
      val want = unionFindComponents(edges)
      assert(cc(edges) == want, name)
      assert(withSplitPartitions(cc(edges)) == want, s"split, $name")
    }
  }

  test("property: pagerank conserves mass and respects the teleport floor") {
    samples(3).foreach { edges =>
      val r = PageRank.run(spark, edges.toDF("src", "dst"), tol = 1e-10, maxIter = 200)
      assert(r.converged)
      val ranks = r.ranks.collect().map(_.getDouble(1))
      val n = ranks.length
      assert(math.abs(ranks.sum - 1.0) < 1e-9, s"mass=${ranks.sum}")
      assert(ranks.forall(_ >= (1.0 - 0.85) / n - 1e-12), "teleport lower bound")
    }
  }

  test("property: triangle count equals brute force on random graphs") {
    samples(4).foreach { edges =>
      val canon = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
      val vs = canon.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
      var expect = 0L
      for {
        i <- vs.indices; j <- (i + 1) until vs.length
        if canon((vs(i), vs(j)))
        k <- (j + 1) until vs.length
        if canon((vs(j), vs(k))) && canon((vs(i), vs(k)))
      } expect += 1
      val got = TriangleCount.globalCount(spark, edges.toDF("src", "dst")).head().getLong(0)
      assert(got == expect, s"edges=$edges")
    }
  }

  test("property: edge neighborhood-jaccard equals brute force on random graphs") {
    samples(3).foreach { edges =>
      val canon = edges.map { case (x, y) => (math.min(x, y), math.max(x, y)) }.toSet
      val adjm = canon.toSeq.flatMap { case (x, y) => Seq(x -> y, y -> x) }
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
      val expect = canon.map { case (x, y) =>
        val common = adjm(x).intersect(adjm(y)).size
        val uni = adjm(x).size + adjm(y).size - common
        (x, y) -> (common.toLong,
          BigDecimal(common.toDouble / uni).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }.toMap
      val got = graft.graph.VertexSimilarity.edgeJaccard(spark, edges.toDF("src", "dst"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3))).toMap
      assert(got.keySet == expect.keySet)
      expect.foreach { case (k, (c, j)) =>
        assert(got(k)._1 == c, s"common$k")
        assert(math.abs(got(k)._2 - j) <= 1e-6, s"jaccard$k")
      }
    }
  }

  test("property: size renumbering is dense, size-sorted, partition-preserving") {
    samples(4).foreach { edges =>
      val assign = bfsComponents(edges).toSeq.toDF("object", "cluster")
      val out = Shaping.renumberBySize(assign).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val ids = out.map(_._2).distinct.sorted
      assert(ids.sameElements(0L until ids.length), "dense 0..k-1")
      // sizes non-increasing in new id order
      val bySize = out.groupBy(_._2).toSeq.sortBy(_._1).map(_._2.length)
      assert(bySize.sameElements(bySize.sortBy(-(_: Int))), "size-sorted")
      // same partition as input
      val inParts = bfsComponents(edges).groupBy(_._2).values
        .map(_.keys.toSet).toSet
      val outParts = out.groupBy(_._2).values.map(_.map(_._1).toSet).toSet
      assert(inParts == outParts, "partition preserved")
    }
  }
}
