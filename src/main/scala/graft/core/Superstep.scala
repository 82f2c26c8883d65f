package graft.core

import scala.collection.mutable
import scala.util.DynamicVariable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row}
import org.apache.spark.sql.graftshim.GraftShim
import org.apache.spark.storage.StorageLevel

/** The superstep driver: the one way an operator holds its intermediates
  * and an iterative (Pregel-style) one runs its loop. An operator call
  * opens a scope with [[Superstep.run]] and registers every table it
  * materializes:
  *
  *  - [[state]] — loop state, an eager local checkpoint with plan
  *    STATISTICS reset. Plain `localCheckpoint` copies the pre-checkpoint
  *    plan's estimated statistics into the truncated plan; state that feeds
  *    k places in the next step compounds `sizeInBytes` to
  *    (2^63)^(k^step), and stats estimation ends up pinning the driver in
  *    million-digit BigInteger multiplication (a multi-minute "hang" at ~10
  *    steps, k=4). [[stateWith]] also returns aggregate metrics over the
  *    state's rows (a changed count, a delta) computed by the checkpoint's
  *    own job: this is how a loop reads its convergence, with no second
  *    query per step.
  *  - [[pin]] — a static per-call input computed once (edge tables, vertex
  *    sets): an eager local checkpoint that keeps the estimated statistics
  *    (computed once, they cannot compound).
  *  - [[persist]] — a `MEMORY_AND_DISK` cached table.
  *
  * A non-iterative operator whose lazy result reads a table it built once
  * (triangle counting's oriented edges, an LSH signature projection) opens
  * a scope and [[pin]]s that table: it is computed when the frame is built,
  * survives the scope because the result reads it, and is freed with the
  * result (see the exit rule below). Outside this driver, only the
  * catalog's session cache of shared inputs (`graft.Queries`) and the CLI's
  * one scan per process (`graft.Main`) persist a table (SuperstepSpec
  * guards this).
  *
  * A [[state]] or [[pin]] declares its real partitioning: when the final
  * adaptive plan that built it ends in a hash exchange on its own columns,
  * not coalesced by AQE, a later join on those columns reads it in place
  * (see `GraftShim.checkpoint`). An operator that relies on this keeps P
  * (`spark.sql.shuffle.partitions`) fixed for its scope with
  * [[Superstep.NoCoalescing]]; elsewhere AQE may coalesce, nothing is
  * declared, and a join exchanges as it would without checkpoints.
  *
  * Loops run through [[loop]] (a cap that throws) or [[upTo]] (a budget
  * that defines the answer). Per step k the driver:
  *  - releases step k−1's state once step k has materialized: after the
  *    step returns, every [[state]] checkpoint made before it that no
  *    checkpoint made in it still reads (by RDD lineage) is unpersisted.
  *    The step that ends the loop leaves this to the exit rule, since the
  *    result may read the previous step's state. Left to the
  *    ContextCleaner, dead steps pile up and slow late steps (observed
  *    9 s → 21 s by step 9 on a 19 M-edge PageRank);
  *  - records the step's wall seconds.
  *
  * On every exit of the scope, a throw included, it releases everything
  * registered except the checkpoints that the frames in the returned value
  * read; persisted tables are always released. Checkpoints that survive a
  * scope nested in another (an operator calling an operator) pass to the
  * enclosing scope as its state, so the enclosing loop's step rule frees
  * them (Truss frees each round's triangle table in the next round).
  * Checkpoints that survive an outermost scope are Spark's: its
  * ContextCleaner frees them once no live frame reads them.
  *
  * A scope and its `withConf` are single-threaded: the settings of [[run]]
  * are session-wide and a thread started inside a scope inherits it, so a
  * second driver thread (the CLI's load report) starts before any scope
  * opens and opens none itself.
  */
final class Superstep private (op: String) {
  import Superstep.{checkpointed, Held}

  private val held = mutable.ArrayBuffer.empty[Held]
  private var seq = 0L

  private def hold(h: Held): Unit = { seq += 1; h.seq = seq; held += h }

  /** Loop state: an eager stats-resetting local checkpoint, released by the
    * step rule (see the class doc). */
  def state(df: DataFrame): DataFrame = stateWith(df)._1

  /** [[state]] plus the values of `metrics` — aggregate columns over `df`'s
    * rows, e.g. `count(when(changed, 1))` — from the checkpoint's own job,
    * in a row in their order. */
  def stateWith(df: DataFrame, metrics: Column*): (DataFrame, Row) =
    stateWith(df, df.columns.toSeq, metrics: _*)

  /** [[stateWith]] that stores only the columns `keep`; the metrics may
    * read the others (an old value that only the changed count needs). */
  def stateWith(df: DataFrame, keep: Seq[String], metrics: Column*): (DataFrame, Row) = {
    val (out, rdd, row) = GraftShim.checkpoint(df, resetStats = true, metrics, keep)
    hold(checkpointed(rdd, stepScoped = true)); (out, row)
  }

  /** A static per-call input: an eager local checkpoint that keeps its
    * estimated statistics, released on exit unless the result reads it. */
  def pin(df: DataFrame): DataFrame = {
    val (out, rdd, _) = GraftShim.checkpoint(df, resetStats = false, Nil, df.columns.toSeq)
    hold(checkpointed(rdd, stepScoped = false)); out
  }

  /** A cached table, released on every exit (the result must not need it). */
  def persist(df: DataFrame): DataFrame = {
    val out = df.persist(StorageLevel.MEMORY_AND_DISK)
    hold(new Held(null, stepScoped = false, () => out.unpersist(blocking = false))); out
  }

  /** Runs `step(k)` for k = 0, 1, … while it returns true; throws
    * `IllegalStateException` naming the operator and the step if it still
    * wants to continue after step `cap − 1`. Returns each step's seconds. */
  def loop(cap: Int)(step: Int => Boolean): Vector[Double] =
    iterate(cap, 0, throwOnCap = true)(step)

  /** [[loop]] for a budget that defines the answer (a fixed schedule or an
    * iteration count): stops quietly after step `budget − 1`. A resumed
    * loop starts at step `from`. */
  def upTo(budget: Int, from: Int = 0)(step: Int => Boolean): Vector[Double] =
    iterate(budget, from, throwOnCap = false)(step)

  private def iterate(cap: Int, from: Int, throwOnCap: Boolean)
                     (step: Int => Boolean): Vector[Double] = {
    val seconds = Vector.newBuilder[Double]
    var k = from
    var more = true
    while (more && k < cap) {
      val t0 = System.nanoTime()
      val stepStart = seq
      more = step(k)
      if (more) {
        val (fresh, old) = held.filter(_.stepScoped).partition(_.seq > stepStart)
        val live = Superstep.lineage(fresh.map(_.rdd))
        release(old.filterNot(h => live(h.rdd.id)))
      }
      seconds += (System.nanoTime() - t0) / 1e9
      k += 1
    }
    if (more && throwOnCap)
      throw new IllegalStateException(
        s"$op did not settle in $cap steps (still changing at step $k) — raise its cap")
    seconds.result()
  }

  private def release(hs: Iterable[Held]): Unit = {
    hs.foreach(_.free())
    held --= hs
  }

  /** Releases all but what `result`'s frames read; returns the survivors. */
  private def close(result: Option[Any]): Seq[Held] = {
    val read = Superstep.lineage(result.toSeq.flatMap(Superstep.frames)
      .flatMap(GraftShim.scannedRdds))
    val (keep, drop) = held.toSeq.partition(h => h.rdd != null && read(h.rdd.id))
    release(drop)
    keep
  }
}

object Superstep {

  /** A registered table: its RDD (null for a persisted table), whether the
    * step rule may release it, and how to release it. */
  private final class Held(val rdd: RDD[_], val stepScoped: Boolean, val free: () => Unit) {
    var seq = 0L
  }
  private def checkpointed(rdd: RDD[_], stepScoped: Boolean) =
    new Held(rdd, stepScoped, () => rdd.unpersist(blocking = false))

  private val current = new DynamicVariable[Option[Superstep]](None)

  /** Keeps every shuffle of a scope at `spark.sql.shuffle.partitions` (P):
    * AQE partition coalescing off, so a state or pin built by a hash
    * exchange declares that partitioning and the next step joins it in
    * place. Map-side combine is unaffected. A setting, not a session
    * default: [[run]] applies it to one operator call (LPA and PageRank).
    * Measured with perfbench's traced `cooc-analytics` run (seed 7, 4-CPU
    * VM, P = 4), with and without it on otherwise the same code: LPA 22 vs
    * 39 Spark jobs (2.26 vs 2.20 s), PageRank 13 vs 21 jobs (2.23 vs
    * 2.53 s, 1.4 vs 4.0 MB shuffled), identical outputs. */
  val NoCoalescing: Seq[(String, String)] =
    Seq("spark.sql.adaptive.coalescePartitions.enabled" -> "false")

  /** Runs one operator call as a driver scope named `op` (see the class
    * doc), with the SQL settings `conf` in force for the call;
    * `body` registers tables and runs loops on the scope it gets. */
  def run[T](op: String, conf: Seq[(String, String)] = Nil)(body: Superstep => T): T = {
    val s = new Superstep(op)
    val parent = current.value
    val result =
      try withConf(conf)(current.withValue(Some(s))(body(s)))
      catch { case t: Throwable => s.close(None); throw t }
    val survivors = s.close(Some(result))
    parent.foreach(p => survivors.foreach(h => p.hold(new Held(h.rdd, stepScoped = true, h.free))))
    result
  }

  private def withConf[T](conf: Seq[(String, String)])(body: => T): T =
    if (conf.isEmpty) body
    else {
      val sqlConf = org.apache.spark.sql.SparkSession.active.conf
      val saved = conf.map { case (k, _) => k -> sqlConf.getOption(k) }
      conf.foreach { case (k, v) => sqlConf.set(k, v) }
      try body
      finally saved.foreach {
        case (k, Some(v)) => sqlConf.set(k, v)
        case (k, None) => sqlConf.unset(k)
      }
    }

  /** The frames reachable in a returned value (a frame, or case classes and
    * tuples holding frames). */
  private def frames(x: Any): Iterator[DataFrame] = x match {
    case d: Dataset[_] => Iterator(d.toDF())
    case p: Product => p.productIterator.flatMap(frames)
    case _ => Iterator.empty
  }

  /** Ids of `roots` and every RDD they depend on. */
  private def lineage(roots: Iterable[RDD[_]]): Set[Int] = {
    val seen = mutable.Set.empty[Int]
    var todo = roots.toList
    while (todo.nonEmpty) {
      val r = todo.head
      todo = todo.tail
      if (seen.add(r.id)) todo = r.dependencies.map(_.rdd).toList ::: todo
    }
    seen.toSet
  }
}
