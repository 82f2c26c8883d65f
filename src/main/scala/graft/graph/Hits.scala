package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.EdgeOps

/** HITS (Kleinberg hubs & authorities) — the other canonical link-analysis
  * operator, on the same superstep discipline as PageRank: the edge table is
  * partitioned once and persisted, per half-step one join + one partial-
  * aggregated sum, and ONE Spark job per full iteration.
  *
  *   authority(v) = Σ_{u→v} hub(u)   then L2-normalize
  *   hub(u)       = Σ_{u→v} auth(v)  then L2-normalize
  *
  * Normalization is a scalar multiple that passes linearly through the
  * next half-step (hub ∝ Eᵀ·auth regardless of auth's scale), so the hub
  * sums are computed from the UNNORMALIZED authority sums, and each L2 norm
  * is a metric of its state checkpoint's own job — no separate norm query.
  * Magnitudes stay bounded because each iteration's inputs are the previous
  * iteration's normalized scores.
  */
object Hits {

  final case class Result(scores: DataFrame, iterations: Int)

  /** @param edges (src, dst) directed.
    * @return (vertex, hub, authority), both L2-normalized; all-zero scores
    *         for degenerate inputs (empty edge set) rather than NaN. */
  def run(spark: SparkSession, edges: DataFrame, iterations: Int = 20): Result =
    graft.core.Superstep.run("Hits.run") { s =>
      // Dual-partitioned edge storage (the SALSA discipline, round-5 VERDICT
      // #3): eSrc feeds the authority half-step (joins on src), eDst the hub
      // half-step (joins on dst) — neither half-step re-exchanges the Θ(E)
      // edge table, only the Θ(V) score tables move per iteration.
      val eSrc = s.persist(edges.select(col("src").cast("long"), col("dst").cast("long"))
        .repartition(col("src")))
      val eDst = s.persist(eSrc.repartition(col("dst")))
      val nEdges = eDst.count() // materializes eSrc too (eDst reads through it)

      val vertices = s.pin(EdgeOps.vertices(eSrc))

      var hubs = s.pin(vertices.select(col("vertex"), lit(1.0).as("hub")))
      var auths: DataFrame = vertices.select(col("vertex"), lit(1.0).as("authority"))

      var it = 0
      var degenerate = nEdges == 0L
      if (!degenerate) s.upTo(iterations) { _ =>
        // each state's squared norm comes with its checkpoint's job
        val (aRaw, a2) = s.stateWith(
          eSrc.join(hubs, eSrc("src") === hubs("vertex"))
            .groupBy(col("dst")).agg(sum(col("hub")).as("a"))
            .select(col("dst").as("vertex"), col("a")),
          coalesce(sum(col("a") * col("a")), lit(0.0)))
        // hub sums from the unnormalized authority sums (scale cancels)
        val (hRaw, h2) = s.stateWith(
          eDst.join(aRaw, eDst("dst") === aRaw("vertex"))
            .groupBy(col("src")).agg(sum(col("a")).as("h"))
            .select(col("src").as("vertex"), col("h")),
          coalesce(sum(col("h") * col("h")), lit(0.0)))
        val aNorm = math.sqrt(a2.getDouble(0))
        val hNorm = math.sqrt(h2.getDouble(0))
        degenerate = aNorm == 0.0 || hNorm == 0.0
        if (!degenerate) {
          auths = aRaw.select(col("vertex"), (col("a") / lit(aNorm)).as("authority"))
          hubs = hRaw.select(col("vertex"), (col("h") / lit(hNorm)).as("hub"))
          it += 1
        }
        !degenerate
      }

      // vertices with no out-edges have hub 0 (and dually for authority);
      // degenerate inputs yield all-zero scores instead of NaN
      val (hFinal, aFinal) =
        if (degenerate && it == 0)
          (vertices.select(col("vertex"), lit(0.0).as("hub")),
            vertices.select(col("vertex"), lit(0.0).as("authority")))
        else (hubs, auths)
      val scores = vertices
        .join(hFinal, Seq("vertex"), "left")
        .join(aFinal, Seq("vertex"), "left")
        .select(col("vertex"),
          coalesce(col("hub"), lit(0.0)).as("hub"),
          coalesce(col("authority"), lit(0.0)).as("authority"))
      Result(scores, it)
    }
}
