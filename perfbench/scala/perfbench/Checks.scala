package perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.DataFrame

/** Output checks, always run outside the timed region. */
object Checks {

  /** The canonical hash of `tools/check_oracle.py` for all-integer results:
    * columns sorted by name, rows sorted by their values as strings, then
    * sha256 of Python's `repr` of the list of tuples, first 16 hex digits. */
  def canonicalHash(columns: Seq[String], rows: Seq[Seq[Long]]): String = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    val canon = rows.map(r => order.map(i => r(i).toString))
    val sorted = canon.sorted(Ordering.Implicits.seqOrdering[Seq, String])
    val repr = sorted.map { t =>
      if (t.size == 1) s"(${t.head},)" else t.mkString("(", ", ", ")")
    }.mkString("[", ", ", "]")
    MessageDigest.getInstance("SHA-256").digest(repr.getBytes(StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString.take(16)
  }

  /** Collected integer result of a catalog query: (columns, rows). */
  final case class Result(columns: Seq[String], rows: Seq[Seq[Long]]) {
    def hash: String = canonicalHash(columns, rows)
  }

  def collect(df: DataFrame): Result =
    Result(df.columns.toSeq, df.collect().toSeq.map(r => r.toSeq.map {
      case n: java.lang.Number => n.longValue()
      case other => throw new IllegalStateException(s"non-integer result value $other")
    }))

  /** Power iteration with exactly `graft.graph.PageRank.run`'s update and
    * stopping rule (uniform teleport, dangling mass redistributed uniformly,
    * stop once max |Δrank| < tol), over directed edges given as parallel
    * arrays of dense vertex indices `0 until n`. */
  def pageRank(n: Int, src: Array[Int], dst: Array[Int], damping: Double,
               tol: Double, maxIter: Int): Array[Double] = {
    val outDeg = new Array[Int](n)
    src.foreach(s => outDeg(s) += 1)
    var rank = Array.fill(n)(1.0 / n)
    var dangling = (0 until n).filter(outDeg(_) == 0).map(rank(_)).sum
    var it = 0
    var delta = Double.MaxValue
    while (delta >= tol && it < maxIter) {
      val in = new Array[Double](n)
      var k = 0
      while (k < src.length) { in(dst(k)) += rank(src(k)) / outDeg(src(k)); k += 1 }
      val next = Array.tabulate(n)(v =>
        (1.0 - damping) / n + damping * in(v) + damping * dangling / n)
      delta = (0 until n).map(v => math.abs(next(v) - rank(v))).max
      dangling = (0 until n).filter(outDeg(_) == 0).map(next(_)).sum
      rank = next
      it += 1
    }
    rank
  }

  /** Ranks keyed by vertex agree within `tol` (absolute) on the same key set. */
  def allClose(got: Map[Long, Double], want: Map[Long, Double], tol: Double): Boolean =
    got.keySet == want.keySet && want.forall { case (v, r) => math.abs(got(v) - r) <= tol }
}
