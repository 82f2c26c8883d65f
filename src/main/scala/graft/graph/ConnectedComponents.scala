package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Connected components via alternating large-star / small-star contraction
  * (Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC'14).
  *
  * This is the Spark-native counterpart of clusty's single-linkage BFS
  * (reference: src/single_bfs.h:23-81) — same partition of the vertex set,
  * computed in O(log n) rounds of pure join/aggregate instead of a
  * sequential frontier walk, so it scales to 10^12-edge graphs where BFS
  * cannot.
  *
  * Each round is two shuffles (groupBy src for the per-vertex min, join back);
  * the [[graft.core.Superstep]] driver truncates lineage per round so
  * Catalyst analysis stays O(1) across iterations, and the round cap throws
  * rather than returning a partial labelling. Convergence is detected with a content checksum
  * (count + xor of pair hashes) rather than a set-compare, one cheap
  * aggregate per round.
  *
  * The final component label is the minimum vertex id of the component —
  * order-independent and deterministic under any parallelism, which is how
  * we reproduce the reference's thread-count-invariant outputs without its
  * ordered-mapper machinery (SURVEY.md §3.2).
  */
object ConnectedComponents {

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
      val base = edges.select(col("src").cast("long"), col("dst").cast("long"))
      var e = s.pin(if (inputCanonical) base
        else base
          .where(col("src") =!= col("dst"))
          .select(least(col("src"), col("dst")).as("src"), greatest(col("src"), col("dst")).as("dst"))
          .distinct())

      // All vertices present in the input (needed to emit singletons of the
      // edge set, i.e. components that contract away entirely).
      val vertices = s.pin(e.select(col("src").as("vertex"))
        .union(e.select(col("dst").as("vertex")))
        .distinct())

      var prev = checksum(e)
      s.loop(maxIter) { _ =>
        // Lazy checkpoint: the checksum aggregate below is a full scan, so it
        // materializes every partition — one Spark job per round, not two.
        e = s.state(smallStar(largeStar(e)))
        val cs = checksum(e)
        val changed = cs != prev
        prev = cs
        changed
      }

      // After convergence e is a forest of depth-1 stars (child > root).
      val assign = e.select(col("dst").as("vertex"), col("src").as("component"))
      vertices.join(assign, Seq("vertex"), "left")
        .select(col("vertex"), coalesce(col("component"), col("vertex")).as("component"))
    }

  /** large-star: for every vertex u, connect every strictly-larger neighbor
    * to m(u) = min(N(u) ∪ {u}). Keeps canonical (small, large) orientation.
    * No dedup here: the algorithm tolerates parallel edges for one hop and
    * smallStar's final distinct (which the convergence checksum needs
    * anyway) collapses them — one less shuffle per round.
    *
    * Exploits the loop's canonical invariant (every e row has src < dst —
    * true of run()'s input and preserved by smallStar, whose outputs link
    * minima to larger vertices): u's dst-side neighbors are all > u, so
    * m(u) = least(u, min src over u's IN-edges) — computable from the E
    * canonical rows directly. The previous formulation materialized the
    * 2E-row bidirected union twice per round (once through the min
    * aggregate's hash map, once through the join's probe side); this one
    * aggregates and joins E rows (round 6, guide §2.3: shuffle/process
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
    * neighbors and u itself to the minimum neighbor. */
  private def smallStar(e: DataFrame): DataFrame = {
    val or = e.select(greatest(col("src"), col("dst")).as("u"), least(col("src"), col("dst")).as("v"))
    val m = or.groupBy("u").agg(min(col("v")).as("m"))
    val relink = or.join(m, "u")
      .select(col("m").as("src"), col("v").as("dst"))
      .where(col("src") =!= col("dst"))
    val selfEdge = m.select(col("m").as("src"), col("u").as("dst"))
    relink.union(selfEdge).distinct()
  }

  /** Order-insensitive content checksum of the edge set. */
  private def checksum(e: DataFrame): (Long, Long) = {
    // bit_xor, not sum: ANSI mode (Spark 4 default) would throw on long
    // overflow of a sum of 64-bit hashes.
    val row = e.select(xxhash64(col("src"), col("dst")).as("h"))
      .agg(count(lit(1)).as("n"), coalesce(expr("bit_xor(h)"), lit(0L)).as("x"))
      .head()
    (row.getLong(0), row.getLong(1))
  }
}
