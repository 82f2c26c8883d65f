package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftshim.GraftShim

/** Column-API entry points for the engine's native Catalyst expressions. */
package object functions {

  /** 64-bit SimHash sketch of a space-tokenized string (codegen).
    * `portable = true` switches the token hash from xxhash64 to md5 (first
    * 8 digest bytes) — cross-engine reproducible, see [[SimHash64]]. */
  def simhash64(text: Column, portable: Boolean = false): Column =
    GraftShim.column(SimHash64(GraftShim.expression(text), portable))

  /** k-wide MinHash signature over shingleN-token shingles (codegen,
    * zero-copy in-place shingle hashing). */
  def minhash64(text: Column, k: Int = 32, shingleN: Int = 3): Column =
    GraftShim.column(MinHash64(GraftShim.expression(text), k, shingleN))

  /** Anchor-target extraction from raw html bytes (codegen). */
  def extract_hrefs(html: Column): Column =
    GraftShim.column(ExtractHrefs(GraftShim.expression(html)))

  /** RFC-3986 href resolution + URL normalization (codegen); null for
    * non-http(s)/fragment-only/malformed links. */
  def resolve_url(base: Column, href: Column): Column =
    GraftShim.column(ResolveUrl(GraftShim.expression(base), GraftShim.expression(href)))

  /** Stopword-argmax language ID (codegen, one pass — see [[StringLangId]]). */
  def lang_id(text: Column): Column =
    GraftShim.column(StringLangId(GraftShim.expression(text)))

  /** Any-language stopword hit count, duplicates included (codegen). */
  def stopword_hits(text: Column): Column =
    GraftShim.column(StopwordHitCount(GraftShim.expression(text)))

  /** Register the native expressions as SQL functions on a live session,
    * e.g. `SELECT simhash64(text) FROM documents`. The Column API above
    * needs no registration. */
  def registerAll(spark: org.apache.spark.sql.SparkSession): Unit = {
    GraftShim.registerFunction(spark, "simhash64", es => SimHash64(es.head))
    GraftShim.registerFunction(spark, "simhash64_md5", es => SimHash64(es.head, portable = true))
    GraftShim.registerFunction(spark, "minhash64", es => MinHash64(es.head))
    GraftShim.registerFunction(spark, "extract_hrefs", es => ExtractHrefs(es.head))
    GraftShim.registerFunction(spark, "resolve_url", es => ResolveUrl(es(0), es(1)))
    GraftShim.registerFunction(spark, "lang_id", es => StringLangId(es.head))
    GraftShim.registerFunction(spark, "stopword_hits", es => StopwordHitCount(es.head))
  }
}
