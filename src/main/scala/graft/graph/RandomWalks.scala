package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ingest.EdgeOps

/** Deterministic random-walk corpus generation (DeepWalk/node2vec-style
  * training data for graph embeddings): one walk of `length` hops from
  * every vertex of the undirected graph, the next hop at step k chosen as
  * neighbor index u(walk, k) mod degree where u = int(first 8 hex chars of
  * md5("<walk>:<k>")) — a pure function of (walk id, step), so the walk
  * table is reproducible on any engine/partitioning (the DuckDB oracle
  * replays every hop) and stable across re-runs, which is what makes a
  * generated training corpus auditable.
  *
  * Scale shape: the adjacency gets a per-source neighbor rank once (window
  * PARTITIONED by src — no global funnel) and each hop is one equi-join of
  * the O(V) walk frontier against it, keyed (vertex, neighbor-rank). Walk
  * count scales with walksPerVertex by salting the walk id.
  */
object RandomWalks {

  /** @param edges (src, dst) any orientation; symmetrized + deduped here.
    * @return (walk_id, step, vertex) for steps 0..length, one walk per
    *         non-isolated vertex per replica. walk_id = vertex + replica·V′
    *         where V′ = max vertex id + 1 (collision-free salting). */
  def walks(spark: SparkSession, edges: DataFrame, length: Int = 4,
            walksPerVertex: Int = 1): DataFrame =
    graft.core.Superstep.run("RandomWalks.walks") { s =>
      require(length >= 0 && walksPerVertex >= 1)
      val bi = s.pin(EdgeOps.symmetrize(EdgeOps.simple(edges)))
      val adj = s.pin(bi
        .withColumn("rn",
          row_number().over(Window.partitionBy(col("src")).orderBy(col("dst"))) - lit(1))
        .select(col("src").as("asrc"), col("dst").as("adst"), col("rn")))
      val deg = s.pin(bi.groupBy(col("src")).agg(count(lit(1)).as("d"))
        .select(col("src").as("dsrc"), col("d")))

      val vmax = bi.agg(coalesce(max(col("src")) + 1, lit(0L))).head().getLong(0)
      val starts = (0 until walksPerVertex).map { r =>
        bi.select(col("src").as("vertex")).distinct()
          .select((col("vertex") + lit(r.toLong * vmax)).as("walk_id"),
            lit(0).as("step"), col("vertex"))
      }.reduce(_ unionByName _)

      // every hop is part of the output, so each is pinned for the whole
      // call rather than released as loop state
      var frontier = s.pin(starts)
      var out = frontier
      s.upTo(length) { k =>
        // u(walk, k) mod degree — md5-derived, engine-portable
        val u = conv(substring(md5(concat(col("walk_id").cast("string"),
          lit(":"), lit(k).cast("string"))), 1, 8), 16, 10).cast("long")
        frontier = s.pin(frontier
          .join(deg, frontier("vertex") === col("dsrc"))
          .select(col("walk_id"), col("vertex").as("cur"), (u % col("d")).as("pick"))
          .join(adj, col("cur") === col("asrc") && col("pick") === col("rn"))
          .select(col("walk_id"), lit(k + 1).as("step"), col("adst").as("vertex")))
        out = out.unionByName(frontier)
        true
      }
      out
    }
}
