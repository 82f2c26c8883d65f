package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Seeded input generator for the warm workload. Every input is written
  * once per (parameters, seed) under the data directory and reused; a
  * `_meta.json` beside the data records the parameters and the counts. */
object Inputs {

  /** Fixed seed of the base lineitem table: the co-occurrence graph and its
    * expected outputs never change; the run seed only permutes the rows
    * across the files (so only the partition layout changes). */
  val LineitemBaseSeed = 20241017L

  /** TPC-H-shaped (l_orderkey, l_partkey, l_linenumber) rows at scale `sf`:
    * 1.5M·sf orders of 1–7 lines each, part keys uniform over 200k·sf parts. */
  def lineitemRows(sf: Double): Array[(Long, Long, Int)] = {
    val orders = math.round(1500000 * sf)
    val parts = math.round(200000 * sf)
    val rnd = new scala.util.Random(LineitemBaseSeed)
    val out = Array.newBuilder[(Long, Long, Int)]
    var o = 1L
    while (o <= orders) {
      val lines = 1 + rnd.nextInt(7)
      var l = 1
      while (l <= lines) { out += ((o * 4 - 3, 1L + rnd.nextLong(parts), l)); l += 1 }
      o += 1
    }
    out.result()
  }

  /** Σ C(k,2) over orders: the join pairs `EdgeOps.partCooccurrence` builds
    * before its src < dst filter and aggregate. */
  def cooccurrencePairs(rows: Array[(Long, Long, Int)]): Long =
    rows.groupBy(_._1).valuesIterator.map(g => g.length.toLong * (g.length - 1) / 2).sum

  private def ready(dir: Path): Boolean = Files.exists(dir.resolve("_meta.json"))

  private def writeMeta(dir: Path, kv: (String, Any)*): Unit =
    Files.write(dir.resolve("_meta.json"), Json.obj(kv: _*).getBytes(StandardCharsets.UTF_8))

  def readMeta(dir: String): Map[String, String] = Json.readFlat(s"$dir/_meta.json")

  /** `dir/lineitem.parquet/` as four part files holding a seeded
    * permutation of the base rows (the file count stays fixed: it sets the
    * scan's task count, which would otherwise vary the work with the seed). */
  def lineitem(spark: SparkSession, dir: String, sf: Double, seed: Long): Unit = {
    val root = Paths.get(dir)
    if (ready(root)) return
    val rows = lineitemRows(sf)
    val rnd = new scala.util.Random(seed)
    val perm = rnd.shuffle(rows.toSeq)
    val files = 4
    import spark.implicits._
    spark.sparkContext.parallelize(perm, files).toDF("l_orderkey", "l_partkey", "l_linenumber")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    writeMeta(root, "generator" -> "lineitem", "sf" -> sf, "base_seed" -> LineitemBaseSeed,
      "seed" -> seed, "files" -> files, "rows" -> rows.length,
      "orders" -> rows.map(_._1).distinct.length, "pairs" -> cooccurrencePairs(rows))
  }
}
