package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.EdgeOps

/** Newman modularity of a vertex partition over an undirected graph:
  *
  *   Q = Σ_c ( e_c / m  −  (d_c / 2m)² )
  *
  * with m = |undirected edges|, e_c = intra-community edge count, d_c = total
  * degree of community c. The standard quality metric for LPA/Leiden-style
  * community detection (the reference's Leiden delegates this objective to
  * igraph; here it is three partial-aggregated shuffles: label join, per-
  * community intra-edge count, per-community degree).
  */
object Modularity {

  /** @param edges  (src, dst) any orientation; self-loops/dups collapsed
    * @param labels (vertex, label)
    * @return one row (modularity: double, m: long, n_communities: long) */
  def of(spark: SparkSession, edges: DataFrame, labels: DataFrame): DataFrame = {
    val e = EdgeOps.simple(edges).toDF("a", "b")
    val la = labels.select(col("vertex").as("a"), col("label").as("ca"))
    val lb = labels.select(col("vertex").as("b"), col("label").as("cb"))
    val tagged = e.join(la, "a").join(lb, "b")

    val m = tagged.count().toDouble
    val intra = tagged.where(col("ca") === col("cb"))
      .groupBy(col("ca").as("c")).agg(count(lit(1)).as("ec"))
    val deg = tagged.select(explode(array(struct(col("ca").as("c")), struct(col("cb").as("c")))).as("s"))
      .select(col("s.c"))
      .groupBy("c").agg(count(lit(1)).as("dc"))
    val q = deg.join(intra, Seq("c"), "left")
      .select((coalesce(col("ec"), lit(0L)) / lit(m)
        - pow(col("dc") / lit(2.0 * m), 2)).as("qc"))
      .agg(round(sum(col("qc")), 6).as("modularity"))
    val nComm = labels.select(col("label")).distinct().count()
    q.select(col("modularity"), lit(m.toLong).as("m"), lit(nComm).as("n_communities"))
  }
}
