package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline over the `documents`
  * table: token counting, quality scoring, n-gram language ID, document
  * fingerprinting. All are built from codegen'd built-in / higher-order
  * functions — no UDFs — so they stay inside whole-stage codegen and scale
  * as narrow per-row transforms (no shuffle).
  */
object TextOps {

  /** Whitespace tokens (single-space split: the documents corpus is
    * space-joined; keeps DuckDB-oracle parity). */
  def tokens(text: Column): Column = split(text, " ")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** Ratio of punctuation (non-alphanumeric, non-space) chars. */
  def punctRatio(text: Column): Column =
    when(length(text) === 0, lit(0.0)).otherwise(
      length(regexp_replace(text, "[a-zA-Z0-9 ]", "")).cast("double") / length(text))

  /** Small public stopword lists per language (n-gram-heuristic lang ID). */
  val Stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "was", "that", "it"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "den"),
    "es" -> Seq("el", "la", "los", "las", "de", "que", "y", "en", "un", "por"),
    "fr" -> Seq("le", "les", "des", "une", "est", "et", "dans", "que", "pour", "au"),
    "it" -> Seq("il", "di", "che", "un", "per", "non", "sono", "da", "con", "come"),
    "pl" -> Seq("nie", "tak", "jest", "sie", "i", "w", "na", "to", "z", "do"))

  def stopwordHits(text: Column, lang: String): Column = {
    val words = array(Stopwords(lang).map(lit): _*)
    size(filter(tokens(lower(text)), t => array_contains(words, t)))
  }

  /** Total stopword hits across all languages (quality signal). Native
    * one-pass kernel ([[graft.functions.StopwordHitCount]]); the
    * interpreted-HOF twin below is the spec cross-check. NOTE on the union:
    * per-language lists overlap (e.g. "de" ∈ es∩fr), and a token counts
    * ONCE regardless of how many lists contain it — both formulations and
    * the DuckDB oracle's distinct-union list agree on that. */
  def stopwordRatio(text: Column): Column = {
    val n = tokenCount(text)
    when(n === 0, lit(0.0)).otherwise(
      graft.functions.stopword_hits(text).cast("double") / n)
  }

  /** Declarative (interpreted) twin of [[stopwordRatio]]. */
  def stopwordRatioHof(text: Column): Column = {
    val all = array(Stopwords.values.flatten.toSeq.distinct.sorted.map(lit): _*)
    val n = tokenCount(text)
    when(n === 0, lit(0.0)).otherwise(
      size(filter(tokens(lower(text)), t => array_contains(all, t))).cast("double") / n)
  }

  /** Deterministic train/val/test split: bucket = position of the uniform
    * hash value u(id) = int(first 8 hex chars of md5(id)) ∈ [0, 2^32)
    * among the cumulative weight cuts. Stable under any re-partitioning /
    * re-run / corpus growth (a document's split never changes when other
    * documents are added — the property a training pipeline needs), and
    * md5-derived so any engine reproduces the exact assignment
    * ([[splitCuts]] exposes the cut values the SQL twin inlines). */
  def splitAssign(docs: DataFrame, idCol: String = "doc_id",
                  weights: Seq[(String, Double)] =
                    Seq(("train", 0.9), ("val", 0.05), ("test", 0.05))): DataFrame = {
    require(weights.nonEmpty && weights.forall(_._2 > 0), "positive weights")
    val u = conv(substring(md5(col(idCol).cast("string")), 1, 8), 16, 10)
      .cast("long").cast("double")
    val cuts = splitCuts(weights)
    val split = weights.init.zip(cuts.init).foldLeft(Option.empty[Column]) {
      case (acc, ((name, _), cut)) =>
        Some(acc.map(_.when(u < lit(cut), name)).getOrElse(when(u < lit(cut), name)))
    }.map(_.otherwise(weights.last._1)).getOrElse(lit(weights.head._1))
    docs.select(col(idCol), split.as("split"))
  }

  /** Cumulative u-space cut points for [[splitAssign]] (last = 2^32). */
  def splitCuts(weights: Seq[(String, Double)]): Seq[Double] = {
    val total = weights.map(_._2).sum
    weights.map(_._2).scanLeft(0.0)(_ + _).tail.map(_ / total * 4294967296.0)
  }

  /** Within-document repetition (boilerplate) signals — the Gopher-style
    * quality rules: `dup_ratio` = fraction of n-gram occurrences that are
    * repeats of an earlier occurrence, `top_ratio` = mass of the single
    * most frequent n-gram. High values flag templated/boilerplate pages.
    *
    * Shape: explode n-grams → two partial-aggregated groupBys keyed by
    * (doc, ngram) then doc — no per-doc state on the driver, scales with
    * corpus size. Ratios are exact integer divisions (both counts ≤ 2^53),
    * so the DuckDB twin reproduces them bit-for-bit after 6-dp rounding.
    *
    * @return (idCol, n_ngrams, n_distinct, dup_ratio, top_ratio) */
  def repetitionStats(docs: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text", n: Int = 2): DataFrame = {
    val ex = docs.select(col(idCol),
      explode(graft.dedup.Dedup.shingles(col(textCol), n)).as("sh"))
    ex.groupBy(col(idCol), col("sh")).agg(count(lit(1)).as("c"))
      .groupBy(col(idCol)).agg(
        sum(col("c")).as("n_ngrams"),
        count(lit(1)).as("n_distinct"),
        round(lit(1.0) - count(lit(1)).cast("double") / sum(col("c")), 6).as("dup_ratio"),
        round(max(col("c")).cast("double") / sum(col("c")), 6).as("top_ratio"))
  }

  /** Language ID: argmax stopword hits, ties broken by lang name asc,
    * no hits at all → "und" (undetermined). Implemented as a single
    * least()-over-structs expression — fully codegen, no shuffle. */
  def langId(text: Column): Column = graft.functions.lang_id(text)

  /** Declarative twin of [[langId]]: one interpreted HOF filter per
    * language (the original formulation — q_langid's only above-noise
    * bench drift traced to its first-evaluation cost, so the catalog now
    * runs the native kernel; this stays as the parity cross-check). */
  def langIdHof(text: Column): Column = {
    val langs = Stopwords.keys.toSeq.sorted
    val scored = langs.map(l => struct((-stopwordHits(text, l)).as("neg"), lit(l).as("lang")))
    val best = least(scored: _*)
    when(best.getField("neg") === 0, lit("und")).otherwise(best.getField("lang"))
  }

  /** Composite quality score in [0,1]: length saturation, low punctuation,
    * stopword presence — the usual cheap pre-filter for web text. */
  def qualityScore(text: Column): Column = {
    val lenScore = least(tokenCount(text).cast("double") / lit(50.0), lit(1.0))
    val punct = lit(1.0) - least(punctRatio(text) * lit(4.0), lit(1.0))
    val stop = least(stopwordRatio(text) * lit(3.0), lit(1.0))
    round(lenScore * lit(0.4) + punct * lit(0.3) + stop * lit(0.3), 6)
  }

  /** 64-bit content fingerprint of normalized text (whitespace-collapsed,
    * lowercased) — exact-dup key. */
  def fingerprint(text: Column): Column =
    xxhash64(regexp_replace(lower(trim(text)), "\\s+", " "))

  /** Rolling fingerprint over tokens — order-sensitive, unlike a bag hash;
    * a fold of xxhash64(acc, token) via the `aggregate` higher-order
    * function (hash-chaining, not `acc*31+h`: long multiply would trip
    * ANSI overflow checks, on by default in Spark 4). */
  def rollingFingerprint(text: Column): Column =
    aggregate(tokens(text), lit(1125899906842597L), (acc, t) => xxhash64(acc, t))

  /** Portable content fingerprint: md5 hex of normalized text. Unlike the
    * xxhash64 forms above (the cheap in-flight keys), the md5 fingerprints
    * are **cross-engine reproducible** — any engine or script (DuckDB,
    * Python, a downstream consumer of the stored fingerprint column) can
    * recompute them byte-for-byte, which is what you want for fingerprints
    * that get persisted and re-checked outside Spark. md5 is a codegen
    * built-in, so this stays a narrow whole-stage-codegen transform. */
  def fingerprintPortable(text: Column): Column =
    md5(regexp_replace(lower(trim(text)), "\\s+", " "))

  /** Portable order-sensitive rolling fingerprint: left fold of
    * `md5(acc || '|' || token)` over the token stream (seed "graft").
    * Same cross-engine contract as [[fingerprintPortable]]. */
  def rollingFingerprintPortable(text: Column): Column =
    aggregate(tokens(text), lit("graft"), (acc, t) => md5(concat(acc, lit("|"), t)))

  /** Per-document top-k salient terms by TF-IDF with a LINEAR idf:
    * score = tf · (N / df). The conventional log-idf is deliberately
    * replaced by the raw inverse document frequency — log() is a libm call
    * whose last-ulp rounding differs across engines, while tf·N is an exact
    * integer-valued double product followed by ONE IEEE division, so the
    * score (and therefore the ranking, tie-broken by term asc) is
    * bit-identical in any engine. Linear idf induces the same within-
    * document order as log-idf whenever tf values are equal, and the same
    * "rare term wins" behavior overall — it is a keyword extractor, not a
    * retrieval weighting.
    *
    * Scale shape: explode is narrow; tf aggregates on (doc, term) and df on
    * term, both map-side partial-combined; the df side of the join is
    * vocabulary-sized (broadcastable); the top-k window partitions by
    * doc_id — millions of small partitions, never a global sort.
    *
    * @param totalDocs corpus size N (control-plane scalar — pass
    *                  `docs.count()` or a known table size).
    * @return (doc_id, rank, term, tf, score) — rank 1..k, score rounded 6. */
  def topTerms(docs: DataFrame, totalDocs: Long, k: Int): DataFrame = {
    val toks = docs.select(col("doc_id"), explode(tokens(lower(col("text")))).as("term"))
      .where(col("term") =!= "")
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    // mirror this shape in any cross-engine twin: (tf · N) first, then / df
    val scored = tf.join(dfreq, "term")
      .select(col("doc_id"), col("term"), col("tf"),
        (col("tf").cast("double") * lit(totalDocs.toDouble) / col("df")).as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("score").desc, col("term").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"),
        round(col("score"), 6).as("score"))
  }

  /** Vocabulary statistics per language — the Heaps/Zipf corpus-health
    * readout (vocabulary size vs token volume, hapax mass, head-term
    * concentration). All-integer except top_share, ONE IEEE division
    * rounded 6 dp — deterministic cross-engine. The per-language top term
    * is a partial-aggregating argmax — `min_by` over (−count, term), the
    * same (count desc, term asc) order the old per-language window sorted
    * by — so no task ever sorts a language's whole vocabulary (round-5
    * VERDICT #2: with ~7 languages the row_number window put 10⁸+ terms
    * through ONE task per language at corpus scale); everything combines
    * map-side and the stats/top join disappears into one aggregate.
    *
    * @param docs (lang, text, …) — one output row per language:
    *             (lang, n_terms, n_tokens, n_hapax, top_term, top_count,
    *              top_share). */
  def vocabStats(docs: DataFrame): DataFrame = {
    val tf = docs
      .select(col("lang"), explode(tokens(lower(col("text")))).as("term"))
      .where(col("term") =!= "")
      .groupBy("lang", "term").agg(count(lit(1)).as("c"))
    // (count desc, term asc) argmax: counts are >= 1 so -c never overflows;
    // (−c, term) is unique per language (term is the grouping key), making
    // the argmax deterministic without any window sort.
    tf.groupBy("lang").agg(
        count(lit(1)).as("n_terms"),
        sum(col("c")).as("n_tokens"),
        sum(when(col("c") === 1L, 1L).otherwise(0L)).as("n_hapax"),
        min_by(struct(col("term"), col("c")), struct(-col("c"), col("term"))).as("top"))
      .select(col("lang"), col("n_terms"), col("n_tokens"), col("n_hapax"),
        col("top.term").as("top_term"), col("top.c").as("top_count"),
        round(col("top.c").cast("double") / col("n_tokens"), 6).as("top_share"))
  }
}
