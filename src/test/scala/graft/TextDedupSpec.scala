package graft

import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.text.TextOps

class TextDedupSpec extends SparkTestBase {
  import spark.implicits._

  val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (1L, "the quick brown fox jumps over the lazy dog near the river bank tonight"), // near-dup of 0
    (2L, "spark dataset joins aggregate shuffle partitions broadcast skew salting adaptive"),
    (3L, "der hund ist nicht mit der katze und der maus im haus"),
    (4L, "el perro y el gato en la casa de los abuelos"),
    (5L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 0
    (6L, "completely different words about cooking pasta with tomato sauce and basil")
  ).toDF("doc_id", "text")

  test("exact dedup groups identical normalized texts") {
    val got = Dedup.exact(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(got(0L) == (0L, 2L) && got(5L) == (0L, 2L))
    assert(got(1L)._2 == 1L && got(2L)._2 == 1L)
  }

  test("minhash LSH finds the high-jaccard pairs that brute force finds") {
    val brute = Dedup.jaccardPairsBrute(docs, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.contains((0L, 5L))) // exact dup
    assert(brute.contains((0L, 1L)) || brute.contains((1L, 5L))) // near dup
    val lsh = Dedup.minhashPairs(docs, 0.5, k = 32, bands = 16).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // LSH must verify-filter to a subset of brute pairs, and catch the exact dup
    assert(lsh.subsetOf(brute))
    assert(lsh.contains((0L, 5L)))
  }

  test("simhash: identical texts same sketch; near-dups close; distinct far") {
    val s = docs.select(col("doc_id"), Dedup.simhash(col("text")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(s(0L) == s(5L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(s(0L), s(1L)) <= 16, s"near-dup hamming ${ham(s(0L), s(1L))}")
    assert(ham(s(0L), s(2L)) > 16, s"distinct hamming ${ham(s(0L), s(2L))}")
  }

  test("language id picks the stopword-matching language") {
    val got = docs.select(col("doc_id"), TextOps.langId(col("text")).as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(0L) == "en")
    assert(got(3L) == "de")
    assert(got(4L) == "es")
  }

  test("token/quality metrics are sane and deterministic") {
    val a = docs.select(TextOps.tokenCount(col("text")).as("n"),
      TextOps.qualityScore(col("text")).as("q")).collect()
    assert(a.forall(_.getInt(0) > 5))
    assert(a.forall(r => r.getDouble(1) >= 0.0 && r.getDouble(1) <= 1.0))
    val fp1 = docs.select(TextOps.rollingFingerprint(col("text"))).collect().map(_.getLong(0))
    val fp2 = docs.select(TextOps.rollingFingerprint(col("text"))).collect().map(_.getLong(0))
    assert(fp1.sameElements(fp2))
    // order sensitivity: permuted tokens change the rolling fingerprint
    val perm = Seq((0L, "quick the brown fox jumps over the lazy dog near the river bank today"))
      .toDF("doc_id", "text")
    val f0 = docs.where(col("doc_id") === 0).select(TextOps.rollingFingerprint(col("text"))).head().getLong(0)
    val fp = perm.select(TextOps.rollingFingerprint(col("text"))).head().getLong(0)
    assert(f0 != fp)
  }

  test("hash split: deterministic, stable under corpus growth, ~weight proportions") {
    val docs = (0L until 2000L).map(i => (i, s"text $i")).toDF("doc_id", "text")
    val full = graft.text.TextOps.splitAssign(docs).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // growth stability: the first 500 docs keep their assignment when the
    // other 1500 are absent — split is a pure per-id function
    val sub = graft.text.TextOps.splitAssign(docs.where(col("doc_id") < 500))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(sub == full.filter(_._1 < 500))
    // proportions track the weights (md5 u-values are uniform)
    val trainFrac = full.values.count(_ == "train") / 2000.0
    assert(math.abs(trainFrac - 0.9) < 0.03, s"train fraction $trainFrac")
    assert(full.values.toSet == Set("train", "val", "test"))
  }

  test("repetition stats: duplicate and top-ngram mass per document") {
    val docs = Seq(
      (1L, "a b a b a"), // bigrams: "a b","b a","a b","b a" -> dup 0.5, top 0.5
      (2L, "x"),         // short doc: single whole-text shingle
      (3L, "u v w x")    // all-distinct bigrams
    ).toDF("doc_id", "text")
    val got = graft.text.TextOps.repetitionStats(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    assert(got(1L) == ((4L, 2L, 0.5, 0.5)))
    assert(got(2L) == ((1L, 1L, 0.0, 1.0)))
    assert(got(3L) == ((3L, 3L, 0.0, round6(1.0 / 3))))
  }

  private def round6(x: Double): Double = math.rint(x * 1e6) / 1e6

  test("contamination flags shingle overlap with the benchmark set, hashed and raw keys agree") {
    val bench = Seq((900L, "p q r s t u")).toDF("doc_id", "text")
    val docs = Seq(
      (1L, "z p q r s t"),       // shares 5-gram "p q r s t" -> 1 hit
      (2L, "totally different words here"),
      (3L, "q r s t u and more") // shares "q r s t u" -> 1 hit
    ).toDF("doc_id", "text")
    def run(hashed: Boolean) = graft.dedup.Dedup.contamination(
        docs, bench, n = 5, hashShingles = hashed)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val raw = run(false)
    assert(raw == Set((1L, 1L, 1L), (3L, 1L, 1L)), s"got $raw")
    assert(run(true) == raw)
  }
}
