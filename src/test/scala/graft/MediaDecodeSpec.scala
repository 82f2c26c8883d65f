package graft

import graft.multimodal.{BinaryOps, MediaSynth}

/** The REAL decode kernels vs the generator's ground truth: PNG is lossless
  * so the decoded pixels (and thus the luminance histogram) must be exact;
  * the WAV parser must recover the exact sample geometry and amplitude
  * stats. */
class MediaDecodeSpec extends SparkTestBase {

  test("PNG decode is pixel-exact: dimensions + luminance histogram match ground truth") {
    val (seed, w, h) = (7L, 11, 5)
    val Some((gw, gh, hist)) = BinaryOps.decodeImage(MediaSynth.pngBytes(seed, w, h))
    assert((gw, gh) == (w, h))
    // expected histogram straight from the generator's pixel function
    val expect = new Array[Float](8)
    for (y <- 0 until h; x <- 0 until w) {
      val rgb = MediaSynth.pixel(seed, x, y)
      val lum = (299 * ((rgb >> 16) & 0xff) + 587 * ((rgb >> 8) & 0xff) + 114 * (rgb & 0xff)) / 1000
      expect((lum * 8) / 256) += 1f / (w * h)
    }
    hist.zip(expect).foreach { case (g, e) => assert(math.abs(g - e) < 1e-7f) }
    assert(math.abs(hist.sum - 1f) < 1e-5f)
  }

  test("WAV parse is sample-exact: geometry + amplitude stats match ground truth") {
    val (seed, n, sr) = (13L, 300, 16000)
    val Some((gsr, gn, feat)) = BinaryOps.decodeWav(MediaSynth.wavBytes(seed, n, sr))
    assert((gsr, gn) == (sr, n))
    val samples = (0 until n).map(i => MediaSynth.sample(seed, i).toInt)
    val meanAbs = samples.map(math.abs(_).toDouble).sum / n / 32768.0
    val rms = math.sqrt(samples.map(s => s.toDouble * s).sum / n) / 32768.0
    assert(math.abs(feat(0) - meanAbs) < 1e-6)
    assert(math.abs(feat(1) - rms) < 1e-6)
  }

  test("non-media payloads are rejected by the real decoders, not misparsed") {
    val html = "<html>not an image</html>".getBytes("UTF-8")
    assert(BinaryOps.decodeImage(html).isEmpty)
    assert(BinaryOps.decodeWav(html).isEmpty)
    // a RIFF header that is not WAVE must not parse
    val riffNotWave = "RIFF____AVI LIST".getBytes("US-ASCII")
    assert(BinaryOps.decodeWav(riffNotWave).isEmpty)
  }

  test("malformed RIFF chunk lengths reject cleanly instead of spinning") {
    // valid RIFF/WAVE magic, then a chunk with len = -8: the naive walk
    // `off += 8 + len + (len & 1)` would never advance
    val evil = java.nio.ByteBuffer.allocate(44).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .put("RIFF".getBytes("US-ASCII")).putInt(36)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(-8)
      .array()
    assert(BinaryOps.decodeWav(evil).isEmpty)
    // huge positive length must not wrap `off` negative either
    val huge = java.nio.ByteBuffer.allocate(44).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .put("RIFF".getBytes("US-ASCII")).putInt(36)
      .put("WAVE".getBytes("US-ASCII"))
      .put("junk".getBytes("US-ASCII")).putInt(Int.MaxValue - 2)
      .array()
    assert(BinaryOps.decodeWav(huge).isEmpty)
    // the stats layout needs dim >= 4 — reject loudly, not out-of-bounds
    intercept[IllegalArgumentException] {
      BinaryOps.decodeWav(MediaSynth.wavBytes(1L, 10), dim = 3)
    }
  }

  test("decodeAll routes each kind to its decoder over a mixed corpus") {
    val media = MediaSynth.mediaTable(spark, nPerKind = 10, seed = 5L)
    val rows = BinaryOps.decodeAll(media).collect()
    assert(rows.length == 30)
    val byKind = rows.groupBy(_.kind)
    assert(byKind.keySet == Set("image/png", "audio/wav", "video/mp4"))
    // images decoded for real: positive dimensions, audio axes absent
    assert(byKind("image/png").forall(r => r.width > 0 && r.height > 0 && r.sample_rate == -1))
    // audio decoded for real: correct rate and per-payload sample counts
    assert(byKind("audio/wav").forall(r => r.sample_rate == 8000 && r.n_samples >= 200))
    // video goes through the stub: no decoded axes, feature still populated
    assert(byKind("video/mp4").forall(r => r.width == -1 && r.n_samples == -1
      && r.feature.exists(_ != 0f)))
  }
}
