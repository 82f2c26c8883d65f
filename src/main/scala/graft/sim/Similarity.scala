package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor / similarity search over an embedding column
  * (`array<float>`).
  *
  *  - [[cosine]] — zip_with + aggregate dot product, pure codegen expression.
  *  - [[bruteForceTopK]] — exact baseline: broadcast the (small) query set
  *    against the corpus, bounded per-query top-k via the TopKAggregator
  *    (O(k) state, map-side partial merge — no per-group sort). One
  *    broadcast join, one shuffle of k rows per query.
  *  - [[lshTopK]] — scale path: random-hyperplane signature (deterministic
  *    seeded planes), candidates = same signature-band bucket, rerank
  *    exactly. Probe cost drops from O(|corpus|) to O(bucket).
  *  - [[nearDupPairs]] — embedding-cosine near-duplicate detection via the
  *    same LSH buckets.
  *
  * Plan-shape rules that matter at scale (and dominated the local profile):
  *  - vector norms are computed **once per vector** in a pre-projection, so
  *    per-pair work is a single dot-product pass instead of dot + two norms;
  *  - candidate pairs are deduplicated on **ids only** (8-byte keys on the
  *    shuffle wire), vectors are joined back after the distinct — never ship
  *    or hash-compare float arrays through an exchange.
  */
object Similarity {

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(aggregate(a, lit(0.0d), (acc, v) => acc + v * v))

  def cosine(a: Column, b: Column): Column = {
    val d = norm(a) * norm(b)
    when(d === 0.0, lit(0.0)).otherwise(dot(a, b) / d)
  }

  /** Cosine from a precomputed-norm pair: one array pass per comparison. */
  private[sim] def cosineWithNorms(a: Column, b: Column, na: Column, nb: Column): Column =
    when(na * nb === 0.0, lit(0.0)).otherwise(dot(a, b) / (na * nb))

  /** (id, v: array<double>, nrm) projection — norms computed once per row. */
  private[sim] def withNorm(df: DataFrame, idCol: String, vecCol: String,
                            vOut: String, nOut: String): DataFrame =
    df.select(col(idCol), col(vecCol).cast("array<double>").as(vOut))
      .withColumn(nOut, norm(col(vOut)))

  /** Bounded per-group top-k: (group, id, score) → (group, id, score, rank).
    * Uses the [[graft.functions.TopKAggregator]] `Aggregator` instead of a
    * window row_number: O(k) state per group with map-side partial merge —
    * only k rows per group cross the exchange, no full per-group sort.
    * Contract: id must be integral (emitted as long); null score/id rows
    * are dropped (a null cosine can only come from a null vector). */
  private[sim] def topKPerGroup(scored: DataFrame, k: Int,
                                groupCol: String, idCol: String): DataFrame = {
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
    val topk = udaf(new graft.functions.TopKAggregator(k), ExpressionEncoder[(Double, Long)]())
    scored.where(col("sim").isNotNull && col(idCol).isNotNull)
      .groupBy(col(groupCol))
      .agg(topk(col("sim"), col(idCol).cast("long")).as("top"))
      .select(col(groupCol), posexplode(col("top")).as(Seq("pos", "item")))
      .select(col(groupCol), col("item._2").as(idCol),
        col("item._1").as("sim"), (col("pos") + lit(1)).cast("int").as("rank"))
  }

  /** Exact top-k neighbors for each query vector.
    * @param corpus  (id, vec) — the full embedding table
    * @param queries (qid, qvec) — small enough to broadcast
    * @return (qid, id, sim, rank) — per query, k best by (sim desc, id asc) */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "id", vecCol: String = "vec",
                     qidCol: String = "qid", qvecCol: String = "qvec"): DataFrame = {
    val c = withNorm(corpus, idCol, vecCol, "_v", "_nv")
    val q = withNorm(queries, qidCol, qvecCol, "_qv", "_nq")
    val scored = c.join(broadcast(q), col(idCol) =!= col(qidCol))
      .select(col(qidCol), col(idCol),
        cosineWithNorms(col("_v"), col("_qv"), col("_nv"), col("_nq")).as("sim"))
    topKPerGroup(scored, k, qidCol, idCol)
  }

  /** Deterministic ±1 Rademacher hyperplane matrix: sign(p, j) = +1 iff the
    * top bit of md5("rhp:<seed>:<p>:<j>") is 0 (equivalently, the first hex
    * char is 0-7). md5-derived so ANY engine can regenerate the identical
    * matrix — the DuckDB oracle twin rebuilds it in SQL and replays the
    * whole LSH bucketing exactly. The matrix is tiny (nBits × dim doubles)
    * and baked into the plan as a literal: zero per-row hashing, no
    * broadcast needed. */
  def rhpPlanes(nBits: Int, dim: Int, seed: Long): Array[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(nBits, dim) { (p, j) =>
      val d = md.digest(s"rhp:$seed:$p:$j".getBytes("UTF-8"))
      if ((d(0) & 0x80) == 0) 1.0 else -1.0
    }
  }

  /** nBits-bit random-hyperplane signature of a `dim`-dimensional vector:
    * bit p = sign of the projection onto literal plane p (proj >= 0 → 1).
    * Native codegen kernel (the plane matrix rides along as a codegen
    * reference object); [[rhpSignatureHof]] is the bit-identical
    * declarative twin kept as the spec cross-check. */
  def rhpSignature(vec: Column, nBits: Int = 16, seed: Long = 42L, dim: Int = 64): Column = {
    import org.apache.spark.sql.graftshim.GraftShim
    GraftShim.column(graft.functions.RhpSignature64(
      GraftShim.expression(vec.cast("array<double>")), rhpPlanes(nBits, dim, seed)))
  }

  /** Declarative higher-order-function twin of [[rhpSignature]]. */
  def rhpSignatureHof(vec: Column, nBits: Int = 16, seed: Long = 42L, dim: Int = 64): Column = {
    val planes = rhpPlanes(nBits, dim, seed)
    val v = vec.cast("array<double>")
    (0 until nBits).map { p =>
      val proj = aggregate(
        zip_with(v, typedlit(planes(p).toSeq), (x, s) => x * s),
        lit(0.0d), (acc, x) => acc + x)
      when(proj >= 0.0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ bitwiseOR _)
  }

  /** (band, bucket) rows of an nBits signature split into `bands` chunks. */
  private def bandBuckets(sig: Column, nBits: Int, bands: Int): Column = {
    require(nBits % bands == 0, "bands must divide nBits")
    val r = nBits / bands
    val mask = (1L << r) - 1
    transform(sequence(lit(0), lit(bands - 1)),
      b => struct(b.as("band"),
        call_function("shiftright", sig, b * lit(r)).bitwiseAND(lit(mask)).as("bucket")))
  }

  /** Fail-fast guard: the literal plane matrix is dim-specific, and the
    * kernel's HOF-parity contract maps a length mismatch to an all-zero
    * signature — at scale that silently degenerates LSH to one bucket (or,
    * with the bucket cap, to zero results). Sampling ONE row (take(1)
    * early-exits — never a full scan) catches the common uniform-dimension
    * mistake and turns the silent wrong answer into an error; rows that
    * individually deviate in a mixed corpus still follow the documented
    * zero-signature contract (as does a null first vector — the check only
    * fires on a definite mismatch). */
  private def checkDim(df: DataFrame, vecCol: String, dim: Int, what: String): Unit =
    df.select(size(col(vecCol)).as("d")).take(1).foreach { r =>
      if (!r.isNullAt(0) && r.getInt(0) != dim && r.getInt(0) >= 0)
        throw new IllegalArgumentException(
          s"$what: embedding length ${r.getInt(0)} != configured dim $dim — pass dim explicitly")
    }

  /** (id, band, bucket) exploded banding of the signature table.
    *
    * The signature projection is **pinned** before the per-band explode:
    * otherwise Catalyst's projection collapse inlines the (nBits × dim
    * xxhash64) signature expression into the band lambda — recomputing it
    * once per band — and a downstream self-join doubles the whole subtree
    * again. The pinned table is (id, sig:long): tiny at any scale, and
    * exactly what a production pipeline would materialize anyway. The pin
    * is a [[graft.core.Superstep]] scope's: it is computed when the frame is
    * built and freed with the frame (by Spark's ContextCleaner once no live
    * frame reads it, or by an enclosing scope). */
  private def bandedIds(df: DataFrame, idCol: String, vecCol: String,
                        nBits: Int, bands: Int, seed: Long, dim: Int): DataFrame = {
    checkDim(df, vecCol, dim, s"rhpSignature($idCol)")
    graft.core.Superstep.run("Similarity.bandedIds") { s =>
      val sig = s.pin(df.select(col(idCol), rhpSignature(col(vecCol), nBits, seed, dim).as("sig")))
      sig.select(col(idCol), explode(bandBuckets(col("sig"), nBits, bands)).as("bb"))
        .select(col(idCol), col("bb.band"), col("bb.bucket"))
    }
  }

  /** LSH-bucketed ANN: candidates share at least one signature band; rerank
    * candidates with exact cosine, keep top-k per query.
    *
    * Parameterization (r = nBits/bands bits per band): a pair with cosine s
    * collides in one band with probability p^r where p = 1 − acos(s)/π, and
    * overall with 1 − (1 − p^r)^bands. Defaults (64 bits, 8 bands of 8) give
    * ≥ 0.93 recall at s ≥ 0.9 while a random pair (p ≈ 0.5) survives with
    * ~3% — the near-dup-grade operating point. Low-similarity targets need
    * more, shorter bands; never bands so wide that buckets have < 2^8
    * distinct values (a 2-bit bucket admits ¼ of the corpus per band —
    * LSH that filters nothing). `maxBucket` drops degenerate buckets so a
    * hot bucket cannot quadratically explode a task. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nBits: Int = 64, bands: Int = 8, seed: Long = 42L,
              maxBucket: Int = 10000, dim: Int = 64,
              idCol: String = "id", vecCol: String = "vec",
              qidCol: String = "qid", qvecCol: String = "qvec"): DataFrame = {
    val cs = capBuckets(bandedIds(corpus, idCol, vecCol, nBits, bands, seed, dim), maxBucket)
    val qs = bandedIds(queries, qidCol, qvecCol, nBits, bands, seed, dim)

    // dedup on ids before touching vectors again
    val cand = cs.join(broadcast(qs), Seq("band", "bucket"))
      .where(col(idCol) =!= col(qidCol))
      .select(col(qidCol), col(idCol))
      .distinct()

    val c = withNorm(corpus, idCol, vecCol, "_v", "_nv")
    val q = withNorm(queries, qidCol, qvecCol, "_qv", "_nq")
    val scored = cand.join(c, idCol).join(broadcast(q), qidCol)
      .select(col(qidCol), col(idCol),
        cosineWithNorms(col("_v"), col("_qv"), col("_nv"), col("_nq")).as("sim"))
    topKPerGroup(scored, k, qidCol, idCol)
  }

  /** Drop (band, bucket) groups larger than `maxBucket` — the skew guardrail
    * (same as [[graft.dedup.Dedup.minhashPairs]]): without it one hot bucket
    * makes the bucket self-join quadratic in a single task. Implemented as a
    * partial-aggregated count + join rather than a (band, bucket) window,
    * which would have funneled the very mega-bucket being dropped through
    * one sort task first (round 6). */
  private def capBuckets(banded: DataFrame, maxBucket: Int): DataFrame = {
    val sizes = banded.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("_bn")).where(col("_bn") <= maxBucket)
    banded.join(sizes, Seq("band", "bucket")).drop("_bn")
  }

  /** Embedding-cosine near-duplicate pairs (a < b, cosine >= threshold),
    * candidates restricted to shared LSH bands. Same (r, bands) recall
    * calculus and `maxBucket` skew cap as [[lshTopK]]. */
  def nearDupPairs(corpus: DataFrame, threshold: Double, nBits: Int = 64,
                   bands: Int = 8, seed: Long = 42L, maxBucket: Int = 10000,
                   dim: Int = 64,
                   idCol: String = "id", vecCol: String = "vec"): DataFrame = {
    val banded = capBuckets(bandedIds(corpus, idCol, vecCol, nBits, bands, seed, dim), maxBucket)

    val l = banded.select(col("band"), col("bucket"), col(idCol).as("a"))
    val rt = banded.select(col("band"), col("bucket"), col(idCol).as("b"))
    val pairs = l.join(rt, Seq("band", "bucket")).where(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()

    val base = withNorm(corpus, idCol, vecCol, "_v", "_nv")
    pairs
      .join(base.select(col(idCol).as("a"), col("_v").as("_va"), col("_nv").as("_na")), "a")
      .join(base.select(col(idCol).as("b"), col("_v").as("_vb"), col("_nv").as("_nb")), "b")
      .select(col("a"), col("b"),
        cosineWithNorms(col("_va"), col("_vb"), col("_na"), col("_nb")).as("sim"))
      .where(col("sim") >= threshold)
  }
}
