package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.EdgeOps

/** Connected components: per-partition union-find contraction (Łącki et
  * al., "Connected Components at Scale via Local Contractions", 2018),
  * then, only when that did not finish the job, alternating large-star /
  * small-star rounds (Kiveris et al., "Connected Components in MapReduce
  * and Beyond", SoCC'14) on the contracted table.
  *
  * This is the Spark-native counterpart of clusty's single-linkage BFS
  * (reference: src/single_bfs.h:23-81) — same partition of the vertex set,
  * computed by local union-find plus O(log n) rounds of pure join/aggregate
  * instead of a sequential frontier walk, so it scales to 10^12-edge graphs
  * where BFS cannot.
  *
  * Contraction: every partition of the canonical edge table (after the
  * canonicalizing `distinct` exchange, or the input's own partitions for
  * `inputCanonical` callers) runs a union-find with union-by-min over chunks
  * of at most [[ChunkVertices]] vertices, which bounds its memory, and
  * emits one star edge `(root, v)` per chunk vertex, `root ≤ v` (a root
  * links to itself). The stars connect exactly what the chunk's edges
  * connect. One aggregate then checks whether the stars of all chunks form
  * a star forest — every vertex has one root across all rows. If they do,
  * that is the answer: each root is its component's minimum. Small inputs
  * land in one partition (AQE coalesces the exchange), so they end here
  * after a handful of jobs. If they do not, a second pass contracts the
  * star rows re-partitioned by vertex, so that all roots of a vertex meet
  * in one union-find, and is checked the same way; a small input held in
  * several partitions (a cached `inputCanonical` table) ends there.
  *
  * Otherwise (a table too large for one partition or chunk) the second
  * pass's rows, self-links dropped, enter the star loop. Each round
  * is two shuffles (groupBy src for the per-vertex min, join back); the
  * [[graft.core.Superstep]] driver truncates lineage per round so Catalyst
  * analysis stays O(1) across iterations, and the round cap throws rather
  * than returning a partial labelling. Convergence is detected with a
  * content checksum (count + xor of pair hashes) rather than a set-compare,
  * computed as a metric of each round's state checkpoint.
  *
  * The final component label is the minimum vertex id of the component —
  * order-independent and deterministic under any parallelism, which is how
  * we reproduce the reference's thread-count-invariant outputs without its
  * ordered-mapper machinery (SURVEY.md §3.2).
  */
object ConnectedComponents {

  /** Most vertices one union-find chunk holds (about 20 MB of arrays). */
  private val ChunkVertices = 1 << 20

  /** @param edges DataFrame with long columns (src, dst); orientation/dups ok.
    * @param inputCanonical when the caller guarantees edges are already
    *              canonical (src < dst, distinct, no self-loops — e.g. the
    *              output of a groupBy(src, dst) co-occurrence build), skip
    *              the least/greatest + distinct pass and its exchange; the
    *              default re-canonicalizes, which is always correct.
    * @return DataFrame (vertex: Long, component: Long), component = min id.
    */
  def run(spark: SparkSession, edges: DataFrame, maxIter: Int = 64,
          inputCanonical: Boolean = false): DataFrame =
    graft.core.Superstep.run("ConnectedComponents.run") { s =>
      val canonical =
        if (inputCanonical) edges.select(col("src").cast("long"), col("dst").cast("long"))
        else EdgeOps.simple(edges)

      // The star-forest check of a pass's rows: (split, repeated) — how many
      // vertices have more than one root, and how many have more than one
      // (equal-root) row. Every input vertex is a row's dst.
      def check(st: DataFrame): (Long, Long) = {
        val row = st.groupBy(col("dst"))
          .agg(min(col("src")).as("lo"), max(col("src")).as("hi"), count(lit(1)).as("n"))
          .agg(
            coalesce(sum(when(col("lo") =!= col("hi"), 1L)), lit(0L)),
            coalesce(sum(when(col("n") > 1L, 1L)), lit(0L)))
          .head()
        (row.getLong(0), row.getLong(1))
      }
      val first = s.pin(contract(spark, canonical))
      // Pass 1 is checked only when it ran in one partition: the stars of
      // several partitions overlap in all but contrived inputs, so there
      // the check would only cost its jobs. Otherwise, or when it fails (an
      // input of several chunks), the rows of each vertex meet in one
      // partition of a second pass, which merges its roots (AQE coalesces
      // this exchange, so an input held in several partitions finishes here
      // when it is small).
      val firstCheck = if (first.rdd.getNumPartitions == 1) Some(check(first)) else None
      val (stars, (split, repeated)) = firstCheck match {
        case Some(c @ (0L, _)) => (first, c)
        case _ =>
          val second = s.pin(contract(spark, first.repartition(col("dst"))))
          (second, check(second))
      }

      if (split == 0L) {
        // A star forest: the root is the label (repeats carry one root).
        val assign = stars.select(col("dst").as("vertex"), col("src").as("component"))
        if (repeated == 0L) assign else assign.distinct()
      } else {
        // All input vertices (needed to emit singletons of the edge set,
        // i.e. components that contract away entirely).
        val vertices = s.pin(stars.select(col("dst").as("vertex")).distinct())
        var e = stars.where(col("src") =!= col("dst"))
        var prev = e.agg(checksum.head, checksum.tail: _*).head()
        s.loop(maxIter) { _ =>
          val (next, cs) = s.stateWith(smallStar(largeStar(e)), checksum: _*)
          e = next
          val changed = cs != prev
          prev = cs
          changed
        }

        // After convergence e is a forest of depth-1 stars (child > root).
        val assign = e.select(col("dst").as("vertex"), col("src").as("component"))
        vertices.join(assign, Seq("vertex"), "left")
          .select(col("vertex"), coalesce(col("component"), col("vertex")).as("component"))
      }
    }

  /** Per-partition union-find: `(src = root, dst = v)` for every vertex v of
    * each chunk, root = the smallest vertex v is linked to in the chunk. */
  private def contract(spark: SparkSession, edges: DataFrame): DataFrame = {
    import spark.implicits._
    edges.as[(Long, Long)].mapPartitions { it =>
      val uf = new UnionFind
      Iterator.continually {
        uf.clear()
        while (it.hasNext && uf.size <= ChunkVertices - 2) {
          val (a, b) = it.next()
          uf.union(a, b)
        }
        uf.stars
      }.takeWhile(_.hasNext).flatten
    }.toDF("src", "dst")
  }

  /** Union-find over long vertex ids with union-by-min and path halving; an
    * open-addressing index maps ids to slots, and the arrays grow on demand. */
  private final class UnionFind {
    private var ids = new Array[Long](1024)
    private var parent = new Array[Int](1024)
    private var table = Array.fill(2048)(-1)
    var size = 0

    def clear(): Unit = { java.util.Arrays.fill(table, -1); size = 0 }

    private def slot(v: Long, t: Array[Int]): Int = {
      val mask = t.length - 1
      var h = (java.lang.Long.hashCode(v * 0x9E3779B97F4A7C15L) ^ (v >>> 29).toInt) & mask
      while (t(h) >= 0 && ids(t(h)) != v) h = (h + 1) & mask
      h
    }

    private def index(v: Long): Int = {
      val h = slot(v, table)
      if (table(h) >= 0) table(h)
      else {
        if (size == ids.length) grow()
        ids(size) = v
        parent(size) = size
        table(slot(v, table)) = size
        size += 1
        size - 1
      }
    }

    private def grow(): Unit = {
      ids = java.util.Arrays.copyOf(ids, ids.length * 2)
      parent = java.util.Arrays.copyOf(parent, parent.length * 2)
      table = Array.fill(table.length * 2)(-1)
      var i = 0
      while (i < size) { table(slot(ids(i), table)) = i; i += 1 }
    }

    private def find(i: Int): Int = {
      var x = i
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }

    def union(a: Long, b: Long): Unit = {
      val ra = find(index(a))
      val rb = find(index(b))
      if (ra != rb) { if (ids(ra) < ids(rb)) parent(rb) = ra else parent(ra) = rb }
    }

    /** The current chunk's star rows; read them before the next `clear`. */
    def stars: Iterator[(Long, Long)] = {
      val n = size
      Iterator.range(0, n).map(i => (ids(find(i)), ids(i)))
    }
  }

  /** large-star: for every vertex u, connect every strictly-larger neighbor
    * to m(u) = min(N(u) ∪ {u}). Keeps canonical (small, large) orientation.
    * No dedup here: the algorithm tolerates parallel edges for one hop and
    * smallStar's final distinct (which the convergence checksum needs
    * anyway) collapses them — one less shuffle per round.
    *
    * Exploits the loop's canonical invariant (every e row has src < dst —
    * true of the contracted table without its self-links and preserved by
    * smallStar, whose outputs link minima to larger vertices): u's dst-side
    * neighbors are all > u, so m(u) = least(u, min src over u's IN-edges) —
    * computable from the E canonical rows directly. The previous formulation
    * materialized the 2E-row bidirected union twice per round (once through
    * the min aggregate's hash map, once through the join's probe side); this
    * one aggregates and joins E rows (round 6, guide §2.3: shuffle/process
    * fewer bytes for the same answer). The strictly-larger-neighbor pairs
    * are exactly the canonical rows themselves, so the join-back emits one
    * row per edge. */
  private def largeStar(e: DataFrame): DataFrame = {
    val m = e.select(col("dst").as("u"), col("src").as("s"))
      .groupBy("u").agg(min(col("s")).as("ms"))
    e.join(m, e("src") === m("u"), "left")
      .select(least(e("src"), coalesce(col("ms"), e("src"))).as("src"), e("dst").as("dst"))
      .where(col("src") =!= col("dst"))
  }

  /** small-star: orient edges (large→small); connect all smaller-or-equal
    * neighbors and u itself to the minimum neighbor. The orientation is this
    * step's own, not [[EdgeOps.simple]]'s canonical edge set. */
  private def smallStar(e: DataFrame): DataFrame = {
    val or = e.select(greatest(col("src"), col("dst")).as("u"), least(col("src"), col("dst")).as("v"))
    val m = or.groupBy("u").agg(min(col("v")).as("m"))
    val relink = or.join(m, "u")
      .select(col("m").as("src"), col("v").as("dst"))
      .where(col("src") =!= col("dst"))
    val selfEdge = m.select(col("m").as("src"), col("u").as("dst"))
    relink.union(selfEdge).distinct()
  }

  /** Order-insensitive content checksum of an edge set: its row count and
    * the xor of its pair hashes. bit_xor, not sum: ANSI mode (Spark 4
    * default) would throw on long overflow of a sum of 64-bit hashes. */
  private val checksum = Seq(count(lit(1)),
    coalesce(bit_xor(xxhash64(col("src"), col("dst"))), lit(0L)))
}
