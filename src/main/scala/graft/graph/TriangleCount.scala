package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.EdgeOps

/** Triangle counting by degree-oriented wedge join ("compact-forward";
  * no clusty counterpart — new operator per the north rule).
  *
  * Every undirected edge is oriented from its lower-(degree, id) endpoint to
  * the higher one; wedges are generated at the middle vertex between ordered
  * out-neighbor pairs and closed by an equi-join back to the oriented edge
  * set. Each triangle appears exactly once.
  *
  * Why degree order and not id order: with id order a low-id HUB generates
  * O(deg²) wedges in one task. Degree orientation bounds every vertex's
  * out-degree by O(√m), so total wedges are O(m^1.5) regardless of skew —
  * this is the difference between a web-scale run finishing or one task
  * OOMing on the first big hub. Joins are plain equi-joins (AQE free to pick
  * broadcast/SHJ); aggregates partial-combine map-side.
  */
object TriangleCount {

  /** [[EdgeOps.simple]] as (a, b), a < b. */
  def canonicalEdges(edges: DataFrame): DataFrame = EdgeOps.simple(edges).toDF("a", "b")

  /** Edges oriented by (degree, id): (u, v, dv) with (du,u) < (dv,v). */
  private def oriented(e: DataFrame): DataFrame = {
    val deg = e.select(explode(array(col("a"), col("b"))).as("x"))
      .groupBy("x").agg(count(lit(1)).as("d"))
    val withDeg = e
      .join(deg.toDF("a", "da"), "a")
      .join(deg.toDF("b", "db"), "b")
    val aFirst = (col("da") < col("db")) ||
      (col("da") === col("db") && col("a") < col("b"))
    withDeg.select(
      when(aFirst, col("a")).otherwise(col("b")).as("u"),
      when(aFirst, col("b")).otherwise(col("a")).as("v"),
      when(aFirst, col("db")).otherwise(col("da")).as("dv"))
  }

  /** All triangles as (a, b, c) with a < b < c, each exactly once.
    *
    * The oriented edge table feeds THREE consumers below (both wedge sides
    * and the closing-edge probe); without a barrier the whole
    * canonicalize→degree→orient pipeline re-executes once per consumer
    * (no ReuseExchange fires — the broadcast sides differ). It is pinned
    * in a [[graft.core.Superstep]] scope, so it is computed once, when the
    * frame is built, and freed with the frame: inside an enclosing scope
    * (Truss's per-round call) by that scope's step rule, otherwise by
    * Spark's ContextCleaner once no live frame reads it. */
  def triangles(spark: SparkSession, edges: DataFrame): DataFrame =
    graft.core.Superstep.run("TriangleCount.triangles") { s =>
      val or = s.pin(oriented(canonicalEdges(edges)))
      val l = or.toDF("u", "va", "dva")
      val r = or.toDF("u", "vb", "dvb")
      // ordered out-neighbor pairs at the middle vertex: (dva,va) < (dvb,vb),
      // which is exactly the orientation of the closing edge va -> vb
      val wedges = l.join(r, "u")
        .where((col("dva") < col("dvb")) ||
          (col("dva") === col("dvb") && col("va") < col("vb")))
        .select(col("u"), col("va"), col("vb"))
      val closing = or.select(col("u").as("va"), col("v").as("vb"))
      val tri = wedges.join(closing, Seq("va", "vb"))
      // restore the id-canonical (a < b < c) output contract
      val sorted = array_sort(array(col("u"), col("va"), col("vb")))
      tri.select(
        element_at(sorted, 1).as("a"),
        element_at(sorted, 2).as("b"),
        element_at(sorted, 3).as("c"))
    }

  /** Global triangle count: single-row DataFrame (n_triangles: Long). */
  def globalCount(spark: SparkSession, edges: DataFrame): DataFrame =
    triangles(spark, edges).agg(count(lit(1)).as("n_triangles"))

  /** Per-vertex triangle participation count (vertices in no triangle get 0). */
  def perVertex(spark: SparkSession, edges: DataFrame): DataFrame = {
    val tri = triangles(spark, edges)
    val hits = tri.select(explode(array(col("a"), col("b"), col("c"))).as("vertex"))
      .groupBy("vertex").agg(count(lit(1)).as("n_triangles"))
    val vertices = canonicalEdges(edges)
      .select(explode(array(col("a"), col("b"))).as("vertex")).distinct()
    vertices.join(hits, Seq("vertex"), "left")
      .select(col("vertex"), coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
  }

  /** Local clustering coefficient: lcc(v) = 2·tri(v) / (deg(v)·(deg(v)−1)),
    * 0 for degree < 2 — how close each vertex's neighborhood is to a clique
    * (web-graph community/spam structure signal). Pure integer inputs → the
    * single IEEE division is bit-identical across engines; one extra
    * partial-aggregated degree count over [[perVertex]]'s plan.
    *
    * @return (vertex, degree, n_triangles, lcc) — lcc rounded 6 dp. */
  def localClusteringCoefficient(spark: SparkSession, edges: DataFrame): DataFrame = {
    val e = canonicalEdges(edges)
    val deg = e.select(col("a").as("vertex"))
      .union(e.select(col("b").as("vertex")))
      .groupBy("vertex").agg(count(lit(1)).as("degree"))
    perVertex(spark, edges).join(deg, "vertex")
      .select(col("vertex"), col("degree"), col("n_triangles"),
        round(when(col("degree") >= 2,
            lit(2.0) * col("n_triangles") / (col("degree") * (col("degree") - lit(1L))))
          .otherwise(lit(0.0)), 6).as("lcc"))
  }
}
