package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Write locations: query results land under `outDir/<name>/`; the media
  * byte fixture deliberately lands in a SIBLING directory
  * `<outDir>_fixtures/media` — i.e. OUTSIDE the caller-supplied outDir —
  * because the driver globs the children of outDir as query-result dirs and
  * a fixture dir inside it would register as a spurious no-oracle query. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = graft.core.Session.getOrCreate()
    new java.io.File(outDir).mkdirs()
    // Oracle-calibration guard FIRST: the greedy/Louvain SQL twins replay
    // fixpoints with fixed margins calibrated to this testdata — if the data
    // under verification has deepened past half a margin, fail the whole
    // dump with the recalibration message instead of letting the driver
    // gate go red on hash mismatches nobody can interpret.
    graft.tools.OracleCalibration.check(spark, Queries.edges(spark, sfDir))
    // Byte fixture for the media oracles: the SAME deterministic corpus the
    // q_media_* queries build in-memory, written where the driver's DuckDB
    // can re-read the payload blobs. SIBLING of outDir (not inside it) so the
    // driver's result glob never sees it as a spurious no-oracle query dir.
    // The __MEDIA_FIXTURE__ placeholder in the oracle SQL is substituted
    // with this path below.
    val mediaFixture = s"${outDir.stripSuffix("/")}_fixtures/media"
    // A pre-round-4 dump wrote the fixture INSIDE outDir — delete any stale
    // `$outDir/_fixtures` so the driver glob can't pick it up as a query dir.
    val stale = Paths.get(outDir, "_fixtures")
    if (Files.isDirectory(stale)) {
      Files.walk(stale).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.delete(p))
    }
    graft.multimodal.MediaSynth.mediaTable(spark, nPerKind = 50, seed = 42L)
      .coalesce(1).write.mode("overwrite").parquet(mediaFixture)
    SparkEntry.queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) =>
        s"${q(k)}: ${q(v.replace("__MEDIA_FIXTURE__", mediaFixture))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Queries.clearCaches()
    spark.stop()
  }
}
