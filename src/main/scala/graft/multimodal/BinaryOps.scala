package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: treat image/audio/video payloads as opaque
  * `binary` columns with typed metadata, and run decode / feature-extract /
  * frame-sample as batched per-partition transforms.
  *
  * Decode status by kind:
  *  - **images (PNG/JPEG/GIF/BMP): REAL decode** via the JDK's
  *    `javax.imageio` (ships in the JRE, headless-safe — no external
  *    codec); feature = normalized luminance histogram, spec-verified
  *    pixel-exact against the generator's ground truth;
  *  - **audio (RIFF/WAVE PCM): REAL decode** — the container format is pure
  *    byte parsing, spec-verified sample-exact;
  *  - **video (mp4 etc.): STUB** — no video codec exists in this container,
  *    so the frame-sampler treats the payload as opaque frame windows and
  *    the per-frame feature is the clearly-marked deterministic fake. At
  *    scale that stub body is swapped for a JNI/process-pool codec; the
  *    Spark-side shape (schema, batching, narrow no-shuffle plan) is
  *    identical and fully exercised.
  *
  * Scala-native counterpart of a Pandas-UDF/mapInPandas pipeline: a typed
  * `mapPartitions` gives the same batch-at-a-time execution shape without
  * Python interop.
  */
object BinaryOps {

  case class MediaMeta(url: String, kind: String, n_bytes: Long, magic: String)

  /** Sniff payload kind from magic bytes — real logic, no codec needed. */
  def sniffKind(bytes: Array[Byte]): String = {
    def at(i: Int): Int = if (i < bytes.length) bytes(i) & 0xff else -1
    if (at(0) == 0x89 && at(1) == 'P' && at(2) == 'N' && at(3) == 'G') "image/png"
    else if (at(0) == 0xff && at(1) == 0xd8) "image/jpeg"
    else if (at(0) == 'R' && at(1) == 'I' && at(2) == 'F' && at(3) == 'F') "audio/wav"
    else if (at(4) == 'f' && at(5) == 't' && at(6) == 'y' && at(7) == 'p') "video/mp4"
    else if (at(0) == '<') "text/html"
    else "application/octet-stream"
  }

  /** Metadata extraction over a (url, payload binary) DataFrame: narrow,
    * codegen-friendly where possible, mapPartitions for the sniffing. */
  def extractMeta(df: DataFrame, urlCol: String = "url", binCol: String = "html"): Dataset[MediaMeta] = {
    import df.sparkSession.implicits._
    df.select(col(urlCol).as("url"), col(binCol).as("payload"))
      .as[(String, Array[Byte])]
      .mapPartitions(_.map { case (url, payload) =>
        MediaMeta(url, sniffKind(payload), payload.length.toLong,
          payload.take(4).map(b => f"${b & 0xff}%02x").mkString)
      })
  }

  /** Decoded-media row: dimensions for images, sample geometry for audio,
    * NULL-equivalents (-1) where the axis does not apply. */
  case class MediaDecoded(url: String, kind: String, width: Int, height: Int,
                          sample_rate: Int, n_samples: Int, feature: Array[Float])

  /** REAL image decode (JDK javax.imageio — PNG/JPEG/GIF/BMP, no external
    * codec). Returns (width, height, dim-bin luminance histogram normalized
    * to sum 1); None if the payload is not a decodable image. */
  def decodeImage(payload: Array[Byte], dim: Int = 8): Option[(Int, Int, Array[Float])] = {
    // ImageIO plugins throw RuntimeExceptions (not just IOException) on
    // corrupt bodies — any decode failure must mean None, never a dead task
    val img = try {
      javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
    } catch { case scala.util.control.NonFatal(_) => null }
    if (img == null) None
    else {
      val (w, h) = (img.getWidth, img.getHeight)
      val hist = new Array[Float](dim)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y)
          // integer ITU-R 601 luma, bucketed into dim bins
          val lum = (299 * ((rgb >> 16) & 0xff) + 587 * ((rgb >> 8) & 0xff) +
            114 * (rgb & 0xff)) / 1000
          hist((lum * dim) / 256) += 1f
          x += 1
        }
        y += 1
      }
      val n = (w * h).toFloat
      Some((w, h, hist.map(_ / n)))
    }
  }

  /** REAL RIFF/WAVE PCM parse (format tag 1, 16-bit): walks the chunk list
    * to `fmt ` and `data` — pure byte parsing, no codec. Returns
    * (sampleRate, nSamples, dim-stat feature = [meanAbs, rms, zeroCrossRate,
    * ...per-eighth meanAbs] normalized to 16-bit full scale); None if not
    * parseable PCM. */
  def decodeWav(payload: Array[Byte], dim: Int = 8): Option[(Int, Int, Array[Float])] = {
    require(dim >= 4, s"decodeWav needs dim >= 4 (3 global stats + windows), got $dim")
    if (payload.length < 44 || sniffKind(payload) != "audio/wav") return None
    val buf = java.nio.ByteBuffer.wrap(payload).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    if (buf.getInt(8) != 0x45564157) return None // "WAVE" LE
    var off = 12
    var fmtOk = false
    var sampleRate = 0
    var dataOff = -1
    var dataLen = 0
    while (off + 8 <= payload.length) {
      val id = buf.getInt(off)
      val len = buf.getInt(off + 4)
      // malformed chunk lengths must reject, not spin (len = -8 makes the
      // walk non-advancing) or overflow Int (huge len wraps `off` negative)
      if (len < 0) return None
      if (id == 0x20746d66 && off + 24 <= payload.length) { // "fmt "
        fmtOk = buf.getShort(off + 8) == 1 && buf.getShort(off + 22) == 16 &&
          buf.getShort(off + 10) == 1 // PCM, 16-bit, mono
        sampleRate = buf.getInt(off + 12)
      } else if (id == 0x61746164) { // "data"
        dataOff = off + 8
        dataLen = len min (payload.length - dataOff)
      }
      val next = off.toLong + 8L + len.toLong + (len & 1)
      if (next > payload.length.toLong) off = payload.length // clean terminate
      else off = next.toInt
    }
    if (!fmtOk || dataOff < 0) return None
    val n = dataLen / 2
    if (n == 0) return Some((sampleRate, 0, new Array[Float](dim)))
    val feat = new Array[Float](dim)
    var sumAbs = 0.0; var sumSq = 0.0; var zc = 0
    var prev = 0
    val eighth = math.max(1, n / (dim - 3))
    var i = 0
    while (i < n) {
      val s = buf.getShort(dataOff + 2 * i).toInt
      sumAbs += math.abs(s); sumSq += s.toDouble * s
      if (i > 0 && (s ^ prev) < 0) zc += 1
      if (dim > 3) feat(3 + math.min((i / eighth), dim - 4)) += math.abs(s).toFloat
      prev = s
      i += 1
    }
    feat(0) = (sumAbs / n / 32768.0).toFloat
    feat(1) = (math.sqrt(sumSq / n) / 32768.0).toFloat
    feat(2) = zc.toFloat / n
    var k = 3
    while (k < dim) { feat(k) = (feat(k) / eighth / 32768.0).toFloat; k += 1 }
    Some((sampleRate, n, feat))
  }

  /** STUB decode for kinds with no in-container codec (video, unknown
    * binaries): this deterministic fake hashes fixed-size byte windows into
    * a feature vector so the pipeline (batching, schema, downstream ANN
    * joins) is fully exercisable. Marked per the builder contract: replace
    * body with the real codec at deployment. */
  def stubDecodeFeature(payload: Array[Byte], dim: Int = 8): Array[Float] = {
    // ??? real codec goes here; deterministic fake below
    val out = new Array[Float](dim)
    var i = 0
    while (i < payload.length) {
      out(i % dim) += ((payload(i) & 0xff) - 128) / 128.0f
      i += 1
    }
    val n = math.sqrt(out.map(x => x.toDouble * x).sum)
    if (n > 0) out.map(x => (x / n).toFloat) else out
  }

  /** Frame sampling shape for video-like payloads: split payload into
    * `frameBytes` windows, keep every `stride`-th, feature per frame.
    * STUB decode per frame, real partition/batch shape. */
  def sampleFrames(payload: Array[Byte], frameBytes: Int = 1024, stride: Int = 4): Seq[Array[Byte]] =
    payload.grouped(frameBytes).zipWithIndex.collect {
      case (frame, idx) if idx % stride == 0 => frame
    }.toSeq

  /** Full decode pass over a mixed media table: REAL image decode (JDK
    * ImageIO) and REAL PCM-WAV parse, deterministic stub for codec-less
    * kinds (video, unknown). One narrow mapPartitions — no shuffle;
    * per-row decode work is embarrassingly parallel, the shape that holds
    * at any corpus size. */
  def decodeAll(df: DataFrame, urlCol: String = "url", binCol: String = "payload",
                dim: Int = 8): Dataset[MediaDecoded] = {
    import df.sparkSession.implicits._
    df.select(col(urlCol).as("url"), col(binCol).as("payload"))
      .as[(String, Array[Byte])]
      .mapPartitions(_.map { case (url, payload) =>
        val kind = sniffKind(payload)
        if (kind.startsWith("image")) {
          decodeImage(payload, dim) match {
            case Some((w, h, f)) => MediaDecoded(url, kind, w, h, -1, -1, f)
            case None => MediaDecoded(url, kind, -1, -1, -1, -1, stubDecodeFeature(payload, dim))
          }
        } else if (kind == "audio/wav") {
          decodeWav(payload, dim) match {
            case Some((sr, n, f)) => MediaDecoded(url, kind, -1, -1, sr, n, f)
            case None => MediaDecoded(url, kind, -1, -1, -1, -1, stubDecodeFeature(payload, dim))
          }
        } else {
          val frames = if (kind.startsWith("video")) sampleFrames(payload) else Seq(payload)
          val feats = frames.map(stubDecodeFeature(_, dim))
          val pooled = new Array[Float](dim)
          feats.foreach(f => (0 until dim).foreach(i => pooled(i) += f(i) / feats.size))
          MediaDecoded(url, kind, -1, -1, -1, -1, pooled)
        }
      })
  }
}
