package graft.cluster

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType}

import graft.core.Ranking

/** clusty's output-shaping semantics as window/join transforms
  * (SURVEY.md §2.4-2.5):
  *
  *  - A3 renumber clusters decreasingly by size, stable ties
  *    (reference: src/graph.cpp:22-48)
  *  - O1 final ordering (cluster asc, member order asc)
  *    (reference: src/graph_named.h:307-309,355-357)
  *  - O2 singleton objects (in universe, absent from graph) get fresh ids
  *    appended after in-graph clusters (reference: src/graph_named.h:330-352)
  *  - O3 representative fill: cluster id column replaced by the first member
  *    in final order (reference: src/graph.h:126-149)
  *
  * The global dense renumbering (A3 with O2, [[renumber]]) is one
  * [[Ranking.withGlobalRank]] — a range-partitioned sort + zipWithIndex,
  * never a single-partition window: cluster count is O(V), and on a
  * web-scale universe MOST objects are singletons, so the ordering is a
  * full-size dataset. O3 is a per-cluster aggregate. The final orderings are
  * range-partitioned sorts, fine at scale because the assignment table is
  * O(vertices), not O(edges).
  */
object Shaping {

  /** A3 — renumber clusters 0..k-1 by decreasing size; ties keep ascending
    * old-cluster-id order (the stable_sort semantics: old ids are assignment
    * order in the reference, min-member id here — both stable/deterministic).
    *
    * @param assign (object, cluster) — any types.
    * @return (object, cluster) with dense new ids, plus `cluster_size`.
    */
  def renumberBySize(assign: DataFrame): DataFrame = {
    val sizes = assign.groupBy(col("cluster")).agg(count(lit(1)).as("cluster_size"))
    val renum = Ranking.withGlobalRank(sizes, "new_cluster",
      col("cluster_size").desc, col("cluster").asc)
    assign.join(renum, "cluster")
      .select(col("object"), col("new_cluster").as("cluster"), col("cluster_size"))
  }

  /** A3 + O2 in one global rank: in-graph clusters numbered 0..k-1 by
    * decreasing size (ties by ascending old cluster id, as in
    * [[renumberBySize]]), then each universe object that has no assignment
    * as a singleton cluster `k, k+1, …` in universe rank order. The rank key
    * is `(appended, size desc, cluster asc, rank asc)` over the clusters and
    * the missing objects together, so there is no cluster count to collect
    * and no second ranking; the numbering is the same for every caller,
    * in-graph size-1 clusters included.
    *
    * @param assign   (object, cluster) — any types — optionally with each
    *                 member's universe `rank`.
    * @param universe (object, rank) — full object universe + priority.
    * @return (object, cluster: long), plus `rank` when `assign` has it (a
    *         missing object takes its universe rank).
    */
  def renumber(assign: DataFrame, universe: Option[DataFrame]): DataFrame = {
    val typeOf = (df: DataFrame, c: String) => df.schema(c).dataType
    val clusters = assign.groupBy(col("cluster")).agg(count(lit(1)).as("size"))
      .select(lit(false).as("appended"), col("size"), col("cluster"),
        lit(null).cast(universe.fold(LongType: DataType)(typeOf(_, "rank"))).as("rank"),
        lit(null).cast(typeOf(assign, "object")).as("object"))
    val keyed = universe.fold(clusters) { u =>
      clusters.unionByName(u.join(assign, Seq("object"), "left_anti").select(
        lit(true).as("appended"), lit(1L).as("size"),
        lit(null).cast(typeOf(assign, "cluster")).as("cluster"), col("rank"), col("object")))
    }
    val ranked = Ranking.withGlobalRank(keyed, "new_cluster",
      col("appended").asc, col("size").desc, col("cluster").asc, col("rank").asc)
    // a missing object's null cluster matches no member: it keeps its own row
    val withRank = assign.columns.contains("rank")
    val members = assign.select((Seq(col("object").as("member"), col("cluster")) ++
      Option.when(withRank)(col("rank").as("member_rank"))): _*)
    ranked.join(members, Seq("cluster"), "left")
      .select((Seq(coalesce(col("member"), col("object")).as("object"),
        col("new_cluster").as("cluster")) ++
        Option.when(withRank)(coalesce(col("member_rank"), col("rank")).as("rank"))): _*)
  }

  /** O1 — final output order: cluster asc, then member order (name asc when
    * no universe ranks; universe rank asc otherwise). */
  def ordered(assign: DataFrame, rankCol: Option[String] = None): DataFrame = {
    val tie = rankCol.map(col).getOrElse(col("object"))
    assign.orderBy(col("cluster").asc, tie.asc)
  }

  /** O3 — replace the cluster id with the cluster's representative: the first
    * member in final order. Partial-aggregating min_by argmax + join back,
    * not a per-cluster window — a window would sort a giant cluster's full
    * member list in one task just to read its head (round 6). The key
    * `(tie, object)` is total, so the argmax is deterministic even when tie
    * values repeat within a cluster. The rank column, when given, is kept
    * for the final order. */
  def fillRepresentatives(assign: DataFrame, rankCol: Option[String] = None): DataFrame = {
    val tie = rankCol.map(col).getOrElse(col("object"))
    val reps = assign.groupBy(col("cluster"))
      .agg(min_by(col("object"), struct(tie, col("object"))).as("cluster_rep"))
    assign.join(reps, "cluster")
      .select((Seq(col("object"), col("cluster_rep"), col("cluster")) ++ rankCol.map(col)): _*)
  }
}
