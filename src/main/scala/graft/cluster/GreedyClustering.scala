package graft.cluster

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.graph.ConnectedComponents
import graft.ingest.EdgeOps

/** clusty's greedy clustering algorithms (SURVEY.md §2.6 C2-C5), Spark-first:
  * these are inherently sequential *within* a connected component (each
  * decision depends on previous ones), but components are independent — so we
  * distribute per-component via `cogroup` + sequential per-group logic:
  * parallelism = number of components, exactness = reference semantics.
  *
  * At web scale the post-threshold components are small (the reference makes
  * the same assumption: its versions are single-threaded whole-graph,
  * reference src/set_cover.h:21-68, src/cd_hit.h:20-58, src/uclust.h:20-68,
  * src/linkage_heaptrix.h:795-969); `maxComponentSize` guards against a
  * giant component landing in one task — callers must threshold harder or
  * fall back to single-linkage for such graphs.
  *
  * Inputs: edges (src, dst, weight=distance), ranks (vertex, rank) with rank
  * = priority/representativeness order (lower = more representative).
  * Output: (vertex, cluster) with cluster = seed vertex id.
  */
object GreedyClustering {

  sealed trait Algo
  case object SetCover extends Algo // visit by (degree desc, rank asc); seed captures unassigned neighbors
  case object CdHit extends Algo    // visit by rank asc; seed captures unassigned neighbors
  case object Uclust extends Algo   // visit by rank asc; join closest seed neighbor else become seed

  /** The preamble of [[run]] and [[completeLinkage]]: long ids and double
    * weights without self-loops, their components (`precomputedCC`, else
    * [[ConnectedComponents]]), and each edge tagged with its component as
    * (component, src, dst, weight). Returns (components, tagged edges). */
  private def componentEdges(spark: SparkSession, edges: DataFrame,
                             precomputedCC: Option[DataFrame])
      : (DataFrame, Dataset[(Long, Long, Long, Double)]) = {
    import spark.implicits._
    val e = EdgeOps.dropSelfLoops(edges.select(col("src").cast("long"), col("dst").cast("long"),
      col("weight").cast("double")))
    val cc = precomputedCC.getOrElse(ConnectedComponents.run(spark, e))
    (cc, e.join(cc.withColumnRenamed("vertex", "src"), "src")
      .select(col("component"), col("src"), col("dst"), col("weight"))
      .as[(Long, Long, Long, Double)])
  }

  def run(spark: SparkSession, edges: DataFrame, ranks: DataFrame, algo: Algo,
          maxComponentSize: Int = 5000000,
          precomputedCC: Option[DataFrame] = None): DataFrame = {
    import spark.implicits._

    // tag each edge and each vertex with its component
    val (cc, eTagged) = componentEdges(spark, edges, precomputedCC)
    val vTagged = ranks.select(col("vertex").cast("long"), col("rank").cast("long"))
      .join(cc, "vertex")
      .select(col("component"), col("vertex"), col("rank"))
      .as[(Long, Long, Long)]

    val grouped = eTagged.groupByKey(_._1).cogroup(vTagged.groupByKey(_._1)) {
      (comp, es, vs) =>
        val adj = mutable.Map.empty[Long, mutable.Map[Long, Double]]
        var nE = 0
        es.foreach { case (_, s, d, w) =>
          // undirected; parallel edges keep min distance (A1 semantics)
          val m1 = adj.getOrElseUpdate(s, mutable.Map.empty)
          m1.update(d, math.min(w, m1.getOrElse(d, Double.MaxValue)))
          val m2 = adj.getOrElseUpdate(d, mutable.Map.empty)
          m2.update(s, math.min(w, m2.getOrElse(s, Double.MaxValue)))
          nE += 1
          if (nE > maxComponentSize) throw new IllegalStateException(
            s"component $comp exceeds maxComponentSize=$maxComponentSize edges; " +
              "threshold harder or use single linkage")
        }
        val rankOf = mutable.Map.empty[Long, Long]
        vs.foreach { case (_, v, r) => rankOf(v) = r }
        // vertices possibly missing from ranks get lowest priority
        adj.keys.foreach(v => if (!rankOf.contains(v)) rankOf(v) = Long.MaxValue)

        sequential(algo, adj, rankOf.toMap).iterator
    }
    grouped.toDF("vertex", "cluster")
  }

  /** The reference-faithful sequential greedy pass over one component. */
  private[cluster] def sequential(algo: Algo,
      adj: mutable.Map[Long, mutable.Map[Long, Double]],
      rankOf: Map[Long, Long]): Seq[(Long, Long)] = {
    val vertices = adj.keys.toSeq
    val order = algo match {
      case SetCover =>
        // stable: degree desc, priority asc (reference sorts objects already
        // in priority order stably by degree, src/set_cover.h:36-43)
        vertices.sortBy(v => (-adj(v).size.toLong, rankOf(v), v))
      case _ => vertices.sortBy(v => (rankOf(v), v))
    }
    val assigned = mutable.Map.empty[Long, Long]
    algo match {
      case SetCover | CdHit =>
        order.foreach { v =>
          if (!assigned.contains(v)) {
            assigned(v) = v // v becomes a seed
            adj(v).keys.foreach { u => if (!assigned.contains(u)) assigned(u) = v }
          }
        }
      case Uclust =>
        val seeds = mutable.Set.empty[Long]
        order.foreach { v =>
          // closest neighbor that is already a seed (ties: earlier seed rank)
          val cand = adj(v).view.filter { case (u, _) => seeds(u) }.toSeq
          if (cand.isEmpty) { seeds += v; assigned(v) = v }
          else {
            val (bestSeed, _) = cand.minBy { case (u, w) => (w, rankOf(u), u) }
            assigned(v) = bestSeed
          }
        }
    }
    assigned.toSeq
  }

  /** Complete linkage (reference src/linkage_heaptrix.h:795-969 semantics):
    * agglomerative max-linkage merge of the closest cluster pair; after a
    * merge, a neighbor survives only if it had finite distance to BOTH merged
    * clusters; merging stalls when no mutually-connected pair remains (even
    * with threshold=+inf the result is greedy quasi-cliques, NOT connected
    * components). Distributed per component like the greedy covers.
    * Output cluster id = min member vertex id.
    */
  def completeLinkage(spark: SparkSession, edges: DataFrame, threshold: Double = Double.MaxValue,
                      maxComponentSize: Int = 5000000,
                      precomputedCC: Option[DataFrame] = None): DataFrame = {
    import spark.implicits._
    val (_, eTagged) = componentEdges(spark, edges, precomputedCC)

    eTagged.groupByKey(_._1).flatMapGroups { (comp, es) =>
      val dist = mutable.Map.empty[(Long, Long), Double]
      val members = mutable.Map.empty[Long, List[Long]]
      var nE = 0
      es.foreach { case (_, s, d, w) =>
        val k = if (s < d) (s, d) else (d, s)
        dist.update(k, math.min(w, dist.getOrElse(k, Double.MaxValue)))
        members.getOrElseUpdate(s, List(s)); members.getOrElseUpdate(d, List(d))
        nE += 1
        if (nE > maxComponentSize) throw new IllegalStateException(
          s"component $comp too large for complete linkage")
      }
      completeLinkageSequential(dist, members, threshold).iterator
    }.toDF("vertex", "cluster")
  }

  /** Heap-based agglomeration (complexity counterpart of the reference's
    * linkage heap, src/linkage_heaptrix.h:62-672, semantics unchanged):
    * closest-pair selection is a lazy-deletion min-heap pop — an entry is
    * valid iff both endpoints are still active and it carries the CURRENT
    * distance — and each merge touches only the two clusters' neighbor
    * sets, not the whole distance map. O((E + merges·deg) log E) total vs
    * the naive O(E) rescan per merge (O(E·V) per component), which the
    * round-1 review flagged as the scale ceiling for 10⁵-edge components.
    * Entries above `threshold` never enter the heap but stay in the
    * distance/neighbor maps: they cannot be merged, yet they DO count for
    * the connected-to-BOTH survival rule — exactly the old semantics. */
  private[cluster] def completeLinkageSequential(
      dist: mutable.Map[(Long, Long), Double],
      members: mutable.Map[Long, List[Long]],
      threshold: Double): Seq[(Long, Long)] = {
    def key(a: Long, b: Long): (Long, Long) = if (a < b) (a, b) else (b, a)
    val active = mutable.Set.empty[Long] ++ members.keys
    val nbr = mutable.Map.empty[Long, mutable.Set[Long]]
    dist.keys.foreach { case (a, b) =>
      nbr.getOrElseUpdate(a, mutable.Set.empty) += b
      nbr.getOrElseUpdate(b, mutable.Set.empty) += a
    }
    // min-heap on (w, a, b) — the same deterministic tie-break as a full scan
    val heap = mutable.PriorityQueue.empty[(Double, Long, Long)](
      Ordering.Tuple3[Double, Long, Long].reverse)
    dist.foreach { case ((a, b), w) => if (w <= threshold) heap.enqueue((w, a, b)) }

    var continue = true
    while (continue && active.size > 1) {
      // pop stale entries (endpoint merged away, or distance since updated)
      var top: Option[(Double, Long, Long)] = None
      while (top.isEmpty && heap.nonEmpty) {
        val (w, a, b) = heap.dequeue()
        if (active(a) && active(b) && dist.get((a, b)).contains(w)) top = Some((w, a, b))
      }
      top match {
        case None => continue = false
        case Some((_, a, b)) =>
          // merge b into a: new distances = max; neighbor must be connected to BOTH
          val keep = math.min(a, b); val drop = math.max(a, b)
          active -= drop
          members(keep) = members(keep) ++ members(drop)
          members.remove(drop)
          val nk = nbr.getOrElse(keep, mutable.Set.empty[Long]) - drop
          val nd = nbr.getOrElse(drop, mutable.Set.empty[Long]) - keep
          val common = nk & nd
          (nk diff common).foreach { c => dist.remove(key(keep, c)); nbr(c) -= keep }
          (nd diff common).foreach { c => dist.remove(key(drop, c)); nbr(c) -= drop }
          common.foreach { c =>
            val kKeep = key(keep, c)
            val w = math.max(dist(kKeep), dist(key(drop, c)))
            dist(kKeep) = w
            dist.remove(key(drop, c))
            nbr(c) -= drop
            if (w <= threshold) heap.enqueue((w, kKeep._1, kKeep._2))
          }
          dist.remove(key(keep, drop))
          nbr(keep) = common.to(mutable.Set)
          nbr.remove(drop)
      }
    }
    members.toSeq.flatMap { case (c, ms) =>
      val label = ms.min
      ms.map(_ -> label)
    }
  }
}
