package graft

import scala.collection.mutable

import org.apache.spark.graftsupport.ListenerBus
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.TimeLimits
import org.scalatest.time.SpanSugar._

import graft.graph.{LabelPropagation, PageRank}

/** The partitioned-state layout of the two large superstep loops: a step of
  * LPA or PageRank moves its messages through one shuffle and broadcasts
  * nothing, and degenerate inputs return instead of waiting on a metric. */
class PregelLayoutSpec extends SparkTestBase with TimeLimits with AdaptiveSparkPlanHelper {
  import spark.implicits._

  /** The query executions of the local checkpoints `call` runs, in order. */
  private def checkpointPlans(call: => Unit): Seq[QueryExecution] = {
    val seen = mutable.ArrayBuffer.empty[QueryExecution]
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (funcName == "localCheckpoint") seen.synchronized(seen += qe)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    ListenerBus.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try { call; ListenerBus.drain(spark.sparkContext) }
    finally spark.listenerManager.unregister(listener)
    seen.synchronized(seen.toList)
  }

  private def exchanges(qe: QueryExecution): (Int, Int) = {
    val plan = qe.executedPlan
    (collect(plan) { case e: ShuffleExchangeLike => e }.size,
      collect(plan) { case e: BroadcastExchangeLike => e }.size)
  }

  // two triangles joined by a path, a pendant, an isolated edge
  private val und = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
    (6L, 7L), (5L, 7L), (7L, 8L), (10L, 11L))

  bothPartitionings("one LPA superstep is one shuffle exchange and no broadcast") {
    // the edge pin, the initial labels, then one state per superstep
    val plans = checkpointPlans(LabelPropagation.run(spark, und.toDF("src", "dst"), 2).collect())
    assert(plans.size == 4, plans.size)
    plans.drop(2).foreach { qe =>
      assert(exchanges(qe) == (1, 0), qe.executedPlan.toString)
    }
  }

  bothPartitionings("one PageRank superstep is one shuffle exchange and no broadcast") {
    // the links pin, the initial state, then one state per superstep
    val plans = checkpointPlans(PageRank.runUndirected(spark, und.toDF("src", "dst"),
      tol = 0.0, maxIter = 2).ranks.collect())
    assert(plans.size == 4, plans.size)
    plans.drop(2).foreach { qe =>
      assert(exchanges(qe) == (1, 0), qe.executedPlan.toString)
    }
  }

  private val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
  private val single = Seq((1L, 2L)).toDF("src", "dst")

  bothPartitionings("LPA returns on empty and single-edge inputs") {
    failAfter(120.seconds) {
      assert(LabelPropagation.run(spark, empty).collect().isEmpty)
      // synchronous LPA on one edge swaps the labels every step: 10 is even
      val one = LabelPropagation.run(spark, single).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(one == Map(1L -> 1L, 2L -> 2L))
    }
  }

  bothPartitionings("PageRank returns on empty and single-edge inputs") {
    failAfter(120.seconds) {
      val none = PageRank.run(spark, empty)
      assert(none.ranks.collect().isEmpty && none.converged && none.iterations == 0)
      // 1 -> 2, 2 dangling: r1 = (1-d)/2 + d·r2/2, r2 = (1-d)/2 + d·r2/2 + d·r1
      val d = 0.85
      val r1 = 1.0 / (2.0 + d)
      val got = PageRank.run(spark, single, damping = d, tol = 1e-12, maxIter = 500)
      assert(got.converged)
      val ranks = got.ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(math.abs(ranks(1L) - r1) < 1e-9 && math.abs(ranks(2L) - (1.0 - r1)) < 1e-9, ranks)
    }
  }
}
