package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole test JVM (guide: one per suite;
  * getOrCreate dedups across suites in the same fork). */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session

  /** Runs `body` with the given SQL confs set, restoring them afterwards. */
  def withConf[T](confs: (String, String)*)(body: => T): T = {
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Runs `body` where connected components' per-partition contraction
    * cannot finish a small graph in one pass: 8 shuffle partitions, none
    * coalesced, so the large-star/small-star loop runs after it. */
  def withSplitPartitions[T](body: => T): T =
    withConf("spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> "8")(body)

  /** Registers `name` on the default partitioning and on split partitions. */
  def bothPartitionings(name: String)(body: => Unit): Unit = {
    test(s"$name (default partitions)")(body)
    test(s"$name (split partitions)")(withSplitPartitions(body))
  }
}

object SparkTestBase {
  /** `local[4]`, 4 shuffle partitions, UTC, no UI. */
  lazy val session: SparkSession = graft.core.Session.getOrCreate(cpus = 4)
}
