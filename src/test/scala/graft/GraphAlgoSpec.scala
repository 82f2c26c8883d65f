package graft

import scala.collection.mutable
import scala.util.Random

import graft.graph.{ConnectedComponents, LabelPropagation, PageRank, TriangleCount}

/** Graph operators vs independent plain-Scala oracles (SURVEY.md §5: CC/LPA
  * exact, PageRank allclose 1e-6, triangles exact vs brute force). */
class GraphAlgoSpec extends SparkTestBase {
  import spark.implicits._

  // Deterministic seeded graph with several components and skewed degrees.
  val rnd = new Random(42)
  val n = 90
  val rawEdges: Seq[(Long, Long)] = {
    val base = (0 until 150).map { _ =>
      // three id "islands" to force multiple components
      val island = rnd.nextInt(3)
      val lo = island * 30
      (lo + rnd.nextInt(30)).toLong -> (lo + rnd.nextInt(30)).toLong
    }
    // a hub in island 0
    val hub = (0 until 25).map(i => 0L -> (rnd.nextInt(30)).toLong)
    (base ++ hub).filter { case (a, b) => a != b }
  }
  lazy val edgeDf = rawEdges.toDF("src", "dst")

  val adj: Map[Long, Set[Long]] = {
    val m = mutable.Map.empty[Long, mutable.Set[Long]]
    rawEdges.foreach { case (a, b) =>
      m.getOrElseUpdate(a, mutable.Set.empty) += b
      m.getOrElseUpdate(b, mutable.Set.empty) += a
    }
    m.map { case (k, v) => k -> v.toSet }.toMap
  }
  val vertices: Seq[Long] = adj.keys.toSeq.sorted

  test("connected components match BFS oracle exactly") {
    // oracle: BFS from each unvisited vertex; label = min vertex id
    val comp = mutable.Map.empty[Long, Long]
    vertices.foreach { v =>
      if (!comp.contains(v)) {
        val queue = mutable.Queue(v)
        val seen = mutable.Set(v)
        while (queue.nonEmpty) {
          val u = queue.dequeue()
          adj(u).foreach(w => if (seen.add(w)) queue.enqueue(w))
        }
        val label = seen.min
        seen.foreach(w => comp(w) = label)
      }
    }
    def got = ConnectedComponents.run(spark, edgeDf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == comp.toMap)
    assert(got.values.toSet.size > 1, "test graph should have several components")
    // and with the star loop finishing what the per-partition contraction left
    assert(withSplitPartitions(got) == comp.toMap)
  }

  test("pagerank matches power-iteration oracle to 1e-6") {
    // directed, same semantics: uniform dangling redistribution
    val outDeg = rawEdges.groupBy(_._1).map { case (k, v) => k -> v.size }
    val inEdges = rawEdges.groupBy(_._2)
    val d = 0.85
    val nn = vertices.size
    var r = vertices.map(_ -> 1.0 / nn).toMap
    var delta = 1.0
    while (delta > 1e-12) {
      val dangling = vertices.filterNot(outDeg.contains).map(r).sum
      val nr = vertices.map { v =>
        val in = inEdges.getOrElse(v, Seq.empty).map { case (u, _) => r(u) / outDeg(u) }.sum
        v -> ((1.0 - d) / nn + d * (in + dangling / nn))
      }.toMap
      delta = vertices.map(v => math.abs(nr(v) - r(v))).max
      r = nr
    }
    // converge the Spark side tighter than the compare tolerance (1e-8
    // residual → ~1e-7 true error, within the 1e-6 gate)
    val res = PageRank.run(spark, edgeDf, damping = d, tol = 1e-8, maxIter = 150)
    assert(res.converged)
    val got = res.ranks.collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(got.keySet == r.keySet)
    val maxErr = r.keys.map(v => math.abs(got(v) - r(v))).max
    assert(maxErr < 1e-6, s"max |spark - oracle| = $maxErr")
    assert(math.abs(got.values.sum - 1.0) < 1e-6, "total mass conserved")
  }

  test("weighted pagerank matches weighted power-iteration oracle to 1e-6") {
    val wEdges = rawEdges.zipWithIndex.map { case ((a, b), i) => (a, b, 0.5 + (i % 7)) }
    val outW = wEdges.groupBy(_._1).map { case (k, es) => k -> es.map(_._3).sum }
    val inE = wEdges.groupBy(_._2)
    val d = 0.85
    val nn = vertices.size
    var r = vertices.map(_ -> 1.0 / nn).toMap
    var delta = 1.0
    while (delta > 1e-12) {
      val dangling = vertices.filterNot(outW.contains).map(r).sum
      val nr = vertices.map { v =>
        val in = inE.getOrElse(v, Seq.empty).map { case (u, _, w) => r(u) * w / outW(u) }.sum
        v -> ((1.0 - d) / nn + d * (in + dangling / nn))
      }.toMap
      delta = vertices.map(v => math.abs(nr(v) - r(v))).max
      r = nr
    }
    val res = graft.graph.PageRank.run(spark, wEdges.toDF("src", "dst", "w"),
      damping = d, tol = 1e-8, maxIter = 200, weightCol = Some("w"))
    assert(res.converged)
    val got = res.ranks.collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    val maxErr = r.keys.map(v => math.abs(got(v) - r(v))).max
    assert(maxErr < 1e-6, s"max |spark - oracle| = $maxErr")
  }

  test("personalized pagerank matches seeded power-iteration oracle to 1e-6") {
    val seeds = Seq(0L, 7L)
    val outDeg = rawEdges.groupBy(_._1).map { case (k, v) => k -> v.size }
    val inEdges = rawEdges.groupBy(_._2)
    val d = 0.85
    val tele = vertices.map(v => v -> (if (seeds.contains(v)) 1.0 / seeds.size else 0.0)).toMap
    var r = tele // standard RWR start: mass on the seeds
    var delta = 1.0
    while (delta > 1e-12) {
      val dangling = vertices.filterNot(outDeg.contains).map(r).sum
      val nr = vertices.map { v =>
        val in = inEdges.getOrElse(v, Seq.empty).map { case (u, _) => r(u) / outDeg(u) }.sum
        v -> ((1.0 - d) * tele(v) + d * in + d * dangling * tele(v))
      }.toMap
      delta = vertices.map(v => math.abs(nr(v) - r(v))).max
      r = nr
    }
    val res = graft.graph.PageRank.runPersonalized(spark, edgeDf,
      seeds.toDF("vertex"), damping = d, tol = 1e-8, maxIter = 300)
    assert(res.converged)
    val got = res.ranks.collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    val maxErr = r.keys.map(v => math.abs(got(v) - r(v))).max
    assert(maxErr < 1e-6, s"max |spark - oracle| = $maxErr")
    assert(math.abs(got.values.sum - 1.0) < 1e-6, "total mass conserved")
    // seeds dominate their own neighborhoods
    assert(got(0L) > got.values.sum / got.size, "seed 0 above average mass")
  }

  test("label propagation matches synchronous oracle exactly") {
    val iters = 10
    var lab = vertices.map(v => v -> v).toMap
    var it = 0
    var stable = false
    while (!stable && it < iters) {
      val nl = vertices.map { v =>
        val neigh = adj(v).toSeq.map(lab)
        if (neigh.isEmpty) v -> lab(v)
        else {
          val counts = neigh.groupBy(identity).map { case (l, xs) => (l, xs.size) }
          val best = counts.toSeq.minBy { case (l, c) => (-c, l) }._1
          v -> best
        }
      }.toMap
      stable = nl == lab
      lab = nl
      it += 1
    }
    val got = LabelPropagation.run(spark, edgeDf, iterations = iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == lab)
  }

  test("triangle count matches brute force") {
    val canon = rawEdges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
    var cnt = 0L
    val vs = vertices.toArray
    for {
      i <- vs.indices; j <- (i + 1) until vs.length
      if canon((vs(i), vs(j)))
      k <- (j + 1) until vs.length
      if canon((vs(j), vs(k))) && canon((vs(i), vs(k)))
    } cnt += 1
    val got = TriangleCount.globalCount(spark, edgeDf).head().getLong(0)
    assert(got == cnt)

    // per-vertex sums to 3x global
    val pv = TriangleCount.perVertex(spark, edgeDf).collect().map(_.getLong(1)).sum
    assert(pv == 3 * cnt)
  }

  test("BFS hop distances match a plain-Scala BFS oracle; unreachable absent") {
    val source = vertices.min
    // plain-Scala level-order BFS
    val dist = mutable.Map(source -> 0L)
    var frontier = Set(source)
    var level = 0L
    while (frontier.nonEmpty) {
      level += 1
      frontier = frontier.flatMap(v => adj.getOrElse(v, Set.empty))
        .filterNot(dist.contains)
      frontier.foreach(v => dist(v) = level)
    }
    val got = graft.graph.ShortestPaths.hops(spark, edgeDf, source)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == dist.toMap)
    // the seeded graph has 3 islands: the other two must be absent, not 0
    assert(!got.keySet.exists(_ >= 30L))
  }

  test("weighted SSSP matches a plain-Scala Dijkstra oracle") {
    val source = vertices.min
    // seeded per-edge weights; undirected min per pair like the engine
    val wEdges = rawEdges.zipWithIndex.map { case ((a, b), i) =>
      (a, b, 0.5 + (i % 7) * 0.25)
    }
    val wadj = mutable.Map.empty[Long, mutable.Map[Long, Double]]
    wEdges.foreach { case (a, b, w) =>
      val ma = wadj.getOrElseUpdate(a, mutable.Map.empty)
      ma(b) = math.min(ma.getOrElse(b, Double.MaxValue), w)
      val mb = wadj.getOrElseUpdate(b, mutable.Map.empty)
      mb(a) = math.min(mb.getOrElse(a, Double.MaxValue), w)
    }
    val dist = mutable.Map(source -> 0.0)
    val pq = mutable.PriorityQueue((0.0, source))(Ordering.by(-_._1))
    val doneV = mutable.Set.empty[Long]
    while (pq.nonEmpty) {
      val (dv, v) = pq.dequeue()
      if (!doneV(v) && dv <= dist(v)) {
        doneV += v
        wadj.getOrElse(v, mutable.Map.empty).foreach { case (u, w) =>
          if (dv + w < dist.getOrElse(u, Double.MaxValue)) {
            dist(u) = dv + w; pq.enqueue((dv + w, u))
          }
        }
      }
    }
    val wdf = wEdges.toDF("src", "dst", "weight")
    val got = graft.graph.ShortestPaths.weighted(spark, wdf, source, fixedIters = Some(40))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.keySet == dist.keySet)
    got.foreach { case (v, d) => assert(math.abs(d - dist(v)) < 1e-9, s"vertex $v") }

    // delta-frontier default: identical distances BIT-for-bit (same
    // path-ordered sums min'ed on both modes)
    val deltaGot = graft.graph.ShortestPaths.weighted(spark, wdf, source)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(deltaGot == got)
  }

  test("random walks follow real edges, are deterministic, and salt replicas collision-free") {
    import spark.implicits._
    val ring = (0L until 12L).map(i => (i, (i + 1) % 12)) ++ Seq((0L, 6L), (3L, 9L))
    val df = ring.toDF("src", "dst")
    val biSet = ring.flatMap { case (a, b) => Seq((a, b), (b, a)) }.toSet
    val w1 = graft.graph.RandomWalks.walks(spark, df, length = 5).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(w1.length == 12 * 6) // 12 walks x steps 0..5
    // every consecutive hop is a real edge
    w1.groupBy(_._1).values.foreach { steps =>
      steps.sortBy(_._2).sliding(2).foreach {
        case Array((_, _, a), (_, _, b)) => assert(biSet.contains((a, b)), s"$a->$b not an edge")
        case _ => ()
      }
    }
    // determinism: identical table on a rerun
    val w2 = graft.graph.RandomWalks.walks(spark, df, length = 5).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(w1.toSet == w2.toSet)
    // replicas: walk ids disjoint, every walk still full-length
    val w3 = graft.graph.RandomWalks.walks(spark, df, length = 3, walksPerVertex = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(w3.map(_._1).distinct.length == 24)
    assert(w3.length == 24 * 4)
  }

  test("contraction rolls up groups, sums parallel mass, and routes self-loops by flag") {
    import spark.implicits._
    // vertices 0..5 in groups: {0,1}->g0, {2,3}->g1, {4,5}->g2; vertex 6 unmapped
    val mapping = Seq((0L, "g0"), (1L, "g0"), (2L, "g1"), (3L, "g1"), (4L, "g2"), (5L, "g2"))
      .toDF("vertex", "group")
    val edges = Seq(
      (0L, 2L, 1.0), (1L, 3L, 2.0),  // two g0-g1 edges -> summed mass 3
      (3L, 4L, 5.0),                 // g1-g2
      (0L, 1L, 7.0),                 // intra-g0 mass
      (2L, 6L, 9.0)                  // endpoint outside the mapping: drops
    ).toDF("src", "dst", "weight")
    val dropped = graft.graph.Contraction.contract(edges, mapping)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
    assert(dropped == Set(("g0", "g1", 3.0), ("g1", "g2", 5.0)))
    val kept = graft.graph.Contraction.contract(edges, mapping, keepSelfLoops = true)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
    assert(kept == Set(("g0", "g1", 3.0), ("g1", "g2", 5.0), ("g0", "g0", 7.0)))
  }

  test("delta-frontier weighted SSSP stops at the weighted hop depth and detects divergence") {
    import spark.implicits._
    // planted path 0-1-2-...-19 with decreasing weights: weighted shortest
    // paths follow the chain, so the frontier advances one hop per superstep
    val n = 20
    val chain = (0 until n - 1).map(i => (i.toLong, (i + 1).toLong, 1.0 + (i % 3) * 0.5))
    val res = graft.graph.ShortestPaths.weightedDelta(
      spark, chain.toDF("src", "dst", "weight"), 0L)
    assert(res.dist.count() == n)
    // eccentricity of vertex 0 on a path graph = n-1 supersteps (+0/1 slack)
    assert(res.supersteps == n - 1, s"supersteps = ${res.supersteps}")
    // a cap below the eccentricity must throw, not truncate distances
    intercept[IllegalStateException] {
      graft.graph.ShortestPaths.weightedDelta(
        spark, chain.toDF("src", "dst", "weight"), 0L, maxIters = 5)
    }
  }
}
