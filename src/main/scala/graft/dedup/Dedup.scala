package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.text.TextOps

/** Deduplication suite for a web-text training pipeline: exact, MinHash+LSH,
  * SimHash, and n-gram Jaccard — all expressed as built-in (codegen'd)
  * expressions + hash-partitioned aggregations, the shapes that survive a
  * 100 TB corpus:
  *
  *  - exact: one shuffle on a 64-bit fingerprint (never on the raw text —
  *    grouping keys stay 8 bytes on the wire).
  *  - MinHash/LSH: per-row signature (narrow) → explode bands (×b) →
  *    one shuffle on (band, bandHash) → per-bucket pairs. Buckets are
  *    capped (`maxBucket`) so a degenerate bucket cannot quadratically
  *    explode a task — the standard guardrail at scale.
  *  - SimHash: per-row 64-bit sketch (narrow); near-dup = equal sketch
  *    (or banded sketch chunks for hamming<k candidates).
  */
object Dedup {

  // ---- exact ---------------------------------------------------------------

  /** Exact dedup on normalized text: canonical = min id per fingerprint
    * group. Returns (id, fingerprint, canonical_id, group_size). */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val fp = docs.select(col(idCol), TextOps.fingerprint(col(textCol)).as("fingerprint"))
    val groups = fp.groupBy("fingerprint")
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("group_size"))
    fp.join(groups, "fingerprint")
      .select(col(idCol), col("fingerprint"), col("canonical_id"), col("group_size"))
  }

  // ---- shingles / jaccard --------------------------------------------------

  /** Word n-gram shingles of a text column (array of strings). */
  def shingles(text: Column, n: Int = 3): Column = {
    val toks = TextOps.tokens(text)
    when(size(toks) < n, array(concat_ws(" ", toks)))
      .otherwise(transform(sequence(lit(0), size(toks) - lit(n)),
        i => concat_ws(" ", slice(toks, i + lit(1), lit(n)))))
  }

  /** Exact Jaccard similarity of two string-array columns. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val uni = size(array_union(a, b)).cast("double")
    when(uni === 0.0, lit(0.0)).otherwise(inter / uni)
  }

  // ---- MinHash + LSH -------------------------------------------------------

  /** MinHash signature: k permutations simulated by seeded xxhash64 over the
    * shingle set; element j = min over shingles of xxhash64(shingle, j).
    *
    * Delegates to the native codegen expression [[graft.functions.MinHash64]]
    * — single-pass, zero-copy (shingles are hashed as in-place byte spans,
    * never materialized). [[minhashSignatureHof]] is the bit-identical
    * declarative formulation, kept as the spec cross-check oracle. */
  def minhashSignature(text: Column, k: Int = 32, shingleN: Int = 3): Column =
    graft.functions.minhash64(text, k, shingleN)

  /** Declarative higher-order-function twin of [[minhashSignature]]: fold
    * with a k-wide running-min accumulator (each shingle constructed and
    * visited once, hashed k times). Interpreted (HOFs have no doGenCode) —
    * use the native form in data paths. */
  def minhashSignatureHof(text: Column, k: Int = 32, shingleN: Int = 3): Column =
    aggregate(
      shingles(text, shingleN),
      array_repeat(lit(Long.MaxValue), k),
      (acc, s) => zip_with(acc,
        transform(sequence(lit(0), lit(k - 1)), j => xxhash64(s, j)),
        (m, h) => least(m, h)))

  /** LSH banding: rows×bands decomposition of the signature; one row per
    * (doc, band) with the band's bucket hash. The signature job runs when
    * the frame is built (the projection is an eager pin, see below). */
  def lshBuckets(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
                 k: Int = 32, bands: Int = 8, shingleN: Int = 3): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    val r = k / bands
    graft.core.Superstep.run("Dedup.lshBuckets") { s =>
      // Pin the (id, sig) projection: without the barrier, projection
      // collapse inlines the k-hash signature into the per-band lambda and
      // it is recomputed `bands` times per row (and once more per self-join
      // side downstream). (id, sig[k]) is ~8k bytes/row — cheap at any scale.
      val sig = s.pin(docs.select(col(idCol), minhashSignature(col(textCol), k, shingleN).as("sig")))
      sig.select(col(idCol), posexplode(
          transform(sequence(lit(0), lit(bands - 1)),
            b => xxhash64(concat_ws(",", slice(col("sig"), b * lit(r) + lit(1), lit(r))), b))))
        .toDF(idCol, "band", "bucket")
    }
  }

  /** Candidate near-dup pairs from LSH buckets, verified with exact shingle
    * Jaccard; `maxBucket` caps pathological buckets (skew guardrail).
    * Returns (a, b, jaccard) with a < b, jaccard >= threshold. Building
    * the frame runs the signature and candidate jobs (both are pins). */
  def minhashPairs(docs: DataFrame, threshold: Double, idCol: String = "doc_id",
                   textCol: String = "text", k: Int = 32, bands: Int = 8,
                   shingleN: Int = 3, maxBucket: Int = 1000): DataFrame =
    graft.core.Superstep.run("Dedup.minhashPairs") { s =>
      val buckets = lshBuckets(docs, idCol, textCol, k, bands, shingleN)
      // Bucket cap via partial-aggregated count + join, NOT a window: a
      // window partitioned by (band, bucket) funnels a degenerate mega-bucket
      // — the exact thing the cap exists to defuse — through ONE sort task
      // before dropping it. The groupBy count combines map-side and the join
      // spreads the doomed bucket's rows across tasks (round 6; the
      // q_vocab_stats argmax argument applied to the guardrail itself).
      val sizes = buckets.groupBy(col("band"), col("bucket"))
        .agg(count(lit(1)).as("bn")).where(col("bn") <= maxBucket)
      val capped = buckets.join(sizes, Seq("band", "bucket"))
      val l = capped.select(col("band"), col("bucket"), col(idCol).as("a"))
      val rt = capped.select(col("band"), col("bucket"), col(idCol).as("b"))
      // the candidate id-pair set is tiny (8-byte keys, post-cap) and feeds
      // TWO consumers below — pin it so the bucket join runs once (the
      // signature pin is freed when this scope exits: nothing below reads it)
      val cand = s.pin(l.join(rt, Seq("band", "bucket")).where(col("a") < col("b"))
        .select("a", "b").distinct())
      // materialize shingles ONLY for docs that appear in a candidate pair
      // (semi-join prune): at corpus scale candidates are a sliver of the
      // corpus, and rebuilding every document's shingle set just to verify
      // that sliver would dominate the job
      val candIds = cand.select(col("a").as(idCol)).union(cand.select(col("b").as(idCol))).distinct()
      val sh = docs.join(candIds, Seq(idCol), "left_semi")
        .select(col(idCol), shingles(col(textCol), shingleN).as("sh"))
      cand
        .join(sh.select(col(idCol).as("a"), col("sh").as("sha")), "a")
        .join(sh.select(col(idCol).as("b"), col("sh").as("shb")), "b")
        .select(col("a"), col("b"), round(jaccard(array_distinct(col("sha")), array_distinct(col("shb"))), 6).as("jaccard"))
        .where(col("jaccard") >= threshold)
    }

  /** Benchmark decontamination: documents of `docs` that share at least
    * `minHits` distinct n-gram shingles with ANY document of `bench` — the
    * test-set-leakage sweep every training-data pipeline runs before a
    * corpus ships.
    *
    * Shape: both sides explode to distinct shingles, equality-join on the
    * shingle key, two-level partial-aggregated rollup per candidate doc.
    * The benchmark side is benchmark-sized (tiny next to the corpus) —
    * Catalyst broadcasts it; the corpus side stays a narrow scan.
    * `hashShingles = true` (default) joins on xxhash64 of the shingle —
    * 8-byte keys on the wire instead of n-token strings, the only sane
    * key at 100 TB (collision odds are negligible for candidate FINDING;
    * a hit-count off-by-one from a collision is harmless in a screening
    * sweep). The catalog row pins `hashShingles = false` so the DuckDB
    * twin can replay the join exactly on the raw shingle strings.
    *
    * @return (idCol, n_shingles_hit, n_bench_docs) for contaminated docs. */
  def contamination(docs: DataFrame, bench: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text", n: Int = 5, minHits: Long = 1L,
                    hashShingles: Boolean = true): DataFrame = {
    def exploded(df: DataFrame, as: String): DataFrame = {
      val sh = explode(array_distinct(shingles(col(textCol), n))).as("sh")
      val keyed = df.select(col(idCol).as(as), sh)
      if (hashShingles) keyed.select(col(as), xxhash64(col("sh")).as("sh")) else keyed
    }
    exploded(docs, idCol).join(exploded(bench, "bench_id"), "sh")
      .groupBy(col(idCol)).agg(
        countDistinct(col("sh")).as("n_shingles_hit"),
        countDistinct(col("bench_id")).as("n_bench_docs"))
      .where(col("n_shingles_hit") >= lit(minHits))
  }

  /** Brute-force n-gram Jaccard pairs (the small-scale oracle for
    * minhashPairs; O(n²) — only for bounded inputs). */
  def jaccardPairsBrute(docs: DataFrame, threshold: Double, idCol: String = "doc_id",
                        textCol: String = "text", shingleN: Int = 3): DataFrame = {
    val sh = docs.select(col(idCol), array_distinct(shingles(col(textCol), shingleN)).as("sh"))
    val l = sh.toDF("a", "sha")
    val r = sh.toDF("b", "shb")
    l.crossJoin(r).where(col("a") < col("b"))
      .select(col("a"), col("b"), round(jaccard(col("sha"), col("shb")), 6).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  // ---- SimHash -------------------------------------------------------------

  /** 64-bit SimHash over token hashes: bit i of the sketch = sign of the
    * sum over tokens of (bit i of hash(token) ? +1 : -1).
    *
    * Delegates to the native codegen expression [[graft.functions.SimHash64]]
    * — higher-order functions are interpreted in Spark, which made the
    * declarative fold ([[simhashHof]], kept as the spec cross-check oracle)
    * ~200x slower per row. `portable = true` selects the md5 token hash
    * (cross-engine reproducible sketch; see [[graft.functions.SimHash64]]). */
  def simhash(text: Column, portable: Boolean = false): Column =
    graft.functions.simhash64(text, portable)

  /** The declarative higher-order-function formulation of [[simhash]] —
    * bit-identical, used to cross-validate the native kernel. */
  def simhashHof(text: Column): Column = {
    val toks = TextOps.tokens(text)
    // counts[i] = number of tokens with bit i set, n = total tokens.
    // Fold over pre-hashed tokens so xxhash64 runs once per token, not once
    // per (token, bit) — the lambda variable h is a cheap bound reference.
    val counts = aggregate(
      transform(toks, t => xxhash64(t)),
      array_repeat(lit(0), 64),
      (acc, h) => zip_with(acc, transform(sequence(lit(0), lit(63)),
        i => call_function("shiftright", h, i).bitwiseAND(lit(1L)).cast("int")), _ + _))
    val n = size(toks)
    // bit i set iff counts[i]*2 > n  (majority of tokens have the bit)
    aggregate(
      zip_with(counts, sequence(lit(0), lit(63)),
        (c, i) => when(c * 2 > n, call_function("shiftleft", lit(1L), i)).otherwise(lit(0L))),
      lit(0L), (acc, b) => acc.bitwiseOR(b))
  }

  /** Documents sharing an identical SimHash sketch (cheap near-dup classes).
    * Returns (id, simhash, canonical_id, group_size). */
  def simhashGroups(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
                    portable: Boolean = false): DataFrame = {
    val s = docs.select(col(idCol), simhash(col(textCol), portable).as("simhash"))
    val g = s.groupBy("simhash").agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("group_size"))
    s.join(g, "simhash").select(col(idCol), col("simhash"), col("canonical_id"), col("group_size"))
  }

  /** Hamming distance between two 64-bit sketches. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))
}
