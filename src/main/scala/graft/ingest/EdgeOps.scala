package graft.ingest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Edge-table construction + the reference's load-time relational operators.
  *
  * Mirrors clusty's loader semantics (SURVEY.md §2.2-2.4) re-expressed as
  * declarative DataFrame transforms so Catalyst pushes filters/pruning into
  * the scan:
  *   - P1 distance transform            (reference: src/console.cpp:96-100)
  *   - P2 per-column range filters      (reference: src/graph_named.h:168-181)
  *   - P3 self-loop elimination         (reference: src/graph_named.h:187-190)
  *   - A1 parallel-edge dedup, keep min (reference: src/graph_sparse.h:88-119)
  *   - A4 degree count                  (reference: src/set_cover.h:36-43)
  *   - A5 distance histogram            (reference: src/graph_sparse.h:122-150)
  *   - J4 symmetrization ("both directions" adjacency insert,
  *                                       reference: src/graph_named.h:258-281)
  *
  * At 100 TB these all stay single-shuffle: the filters/transform are
  * scan-local, dedup and degree are partial-aggregated map-side before the
  * exchange on (src,dst) / src.
  *
  * This is the one definition of the undirected graph, as clusty's loader
  * builds it once for every algorithm: [[simple]] is the edge set (long
  * ids, src < dst, no self-loops, no parallel edges), [[symmetrize]] its
  * both-directions view and [[vertices]] its vertex set. Operators take
  * their graph from these three. Four hand-written orientations elsewhere
  * compute something else and stay where they are:
  *   - ConnectedComponents' small-star step orients each edge large→small
  *     to link every vertex to its smallest neighbour;
  *   - Louvain's level graph sums the weights of parallel edges instead of
  *     deduplicating them, and its move phase flips that weighted graph;
  *   - StronglyConnectedComponents' backward pass runs on the transpose of
  *     a directed graph;
  *   - the q_dedup_min query flips its edges with doubled weights, the
  *     input shape its DuckDB twin expects.
  */
object EdgeOps {

  /** Deterministic edge table derived from the driver testdata: parts are
    * vertices; an edge connects two parts that co-occur in an order, weighted
    * by co-occurrence count. Self-join on the order key (sort-merge, equi),
    * canonical orientation src < dst, then a count aggregate — both shuffles
    * are on keys Catalyst picks; AQE coalesces post-agg partitions.
    */
  def partCooccurrence(spark: SparkSession, sfDir: String, minWeight: Long = 1L): DataFrame = {
    val li = Tables.lineitem(spark, sfDir).select("l_orderkey", "l_partkey")
    val l1 = li.toDF("ok", "src")
    val l2 = li.toDF("ok", "dst")
    val pairs = l1.join(l2, "ok").where(col("src") < col("dst"))
    val edges = pairs.groupBy("src", "dst").agg(count(lit(1)).as("weight"))
    if (minWeight > 1L) edges.where(col("weight") >= lit(minWeight)) else edges
  }

  /** P1 — similarity→distance scalar transforms, chosen at plan-build time
    * (no UDF; constant-folded by Catalyst). */
  sealed trait DistanceKind
  case object RawDistance extends DistanceKind
  case object Similarity extends DistanceKind        // d = 1 - s
  case object PercentSimilarity extends DistanceKind // d = 1 - s/100

  def distanceTransform(edges: DataFrame, kind: DistanceKind, weightCol: String = "weight"): DataFrame =
    kind match {
      case RawDistance       => edges
      case Similarity        => edges.withColumn(weightCol, lit(1.0) - col(weightCol))
      case PercentSimilarity => edges.withColumn(weightCol, lit(1.0) - col(weightCol) * lit(0.01))
    }

  /** P2 — AND-ed per-column [min,max] range filters; repeated bounds on the
    * same column collapse to the tightest, like the reference's filter
    * accumulation (src/params.cpp:94-101). */
  case class RangeFilter(column: String, min: Option[Double] = None, max: Option[Double] = None)

  def rangeFilters(edges: DataFrame, filters: Seq[RangeFilter]): DataFrame =
    edges.where(rangePredicate(filters))

  /** The predicate of [[rangeFilters]]: true when there are no filters. */
  def rangePredicate(filters: Seq[RangeFilter]): Column =
    filters.groupBy(_.column).toSeq.sortBy(_._1).flatMap { case (c, fs) =>
      fs.flatMap(_.min).reduceOption((a: Double, b: Double) => math.max(a, b))
        .map(v => col(c) >= lit(v)) ++
      fs.flatMap(_.max).reduceOption((a: Double, b: Double) => math.min(a, b))
        .map(v => col(c) <= lit(v))
    }.reduceOption(_ && _).getOrElse(lit(true))

  /** P3 — drop self loops (diagonal is implicit, distance 0). */
  def dropSelfLoops(edges: DataFrame): DataFrame =
    edges.where(col("src") =!= col("dst"))

  /** A1 — dedup parallel edges keeping the minimum weight, on canonical
    * orientation (src<dst). Partial-aggregates map-side; one shuffle on the
    * pair key. */
  def dedupMinWeight(edges: DataFrame): DataFrame =
    canonicalize(edges)
      .groupBy("src", "dst")
      .agg(min("weight").as("weight"))

  /** Canonical undirected orientation: (min, max) id per pair. */
  def canonicalize(edges: DataFrame): DataFrame =
    edges.select(
      least(col("src"), col("dst")).as("src"),
      greatest(col("src"), col("dst")).as("dst"),
      col("weight"))

  /** The simple undirected edge set of `edges` (any orientation, any
    * extra columns dropped): `(src, dst)` as long ids with src < dst, no
    * self-loops (P3) and no parallel edges (A1 without weights). One
    * exchange, the `distinct`'s. */
  def simple(edges: DataFrame): DataFrame =
    dropSelfLoops(edges.select(col("src").cast("long"), col("dst").cast("long")))
      .select(least(col("src"), col("dst")).as("src"), greatest(col("src"), col("dst")).as("dst"))
      .distinct()

  /** Each endpoint of `edges` once, as `vertex` (long). One exchange. */
  def vertices(edges: DataFrame): DataFrame =
    edges.select(col("src").cast("long").as("vertex"))
      .union(edges.select(col("dst").cast("long").as("vertex")))
      .distinct()

  /** J4 — both-directions ("symmetrized") edge view, the declarative
    * equivalent of clusty inserting each edge into both endpoint rows.
    * Other columns ride along unchanged; no exchange. */
  def symmetrize(edges: DataFrame): DataFrame = {
    val cols = edges.columns
    val flipped = edges.select(
      (Seq(col("dst").as("src"), col("src").as("dst")) ++
        cols.filterNot(c => c == "src" || c == "dst").map(col)): _*
    ).select(cols.map(col): _*)
    edges.select(cols.map(col): _*).unionByName(flipped)
  }

  /** A4 — vertex degree over the undirected graph (one shuffle; map-side
    * partial count keeps hub-vertex skew off the wire). */
  def degrees(edges: DataFrame): DataFrame =
    symmetrize(edges)
      .groupBy(col("src").as("vertex")).agg(count(lit(1)).as("degree"))
      .select(col("vertex"), col("degree"))

  /** A5 — fixed-width weight histogram: buckets of `width` starting at lo,
    * values above hi collapse into an overflow bucket (reference buckets
    * [0,0.05) step 0.001 + overflow, src/graph_sparse.h:122-150). */
  def weightHistogram(edges: DataFrame, lo: Double, hi: Double, width: Double): DataFrame = {
    val nb = math.round((hi - lo) / width)
    val bucket = when(col("weight") >= lit(hi), lit(nb))
      .otherwise(floor((col("weight") - lit(lo)) / lit(width)))
    edges.select(bucket.cast("long").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n"))
  }

  /** A2 — load statistics in one pass (single aggregate job). */
  def edgeStats(edges: DataFrame): DataFrame =
    edges.agg(
      count(lit(1)).as("n_edges"),
      countDistinct(col("src")).as("n_src"),
      countDistinct(col("dst")).as("n_dst"),
      min("weight").as("min_weight"),
      max("weight").as("max_weight"))
}
