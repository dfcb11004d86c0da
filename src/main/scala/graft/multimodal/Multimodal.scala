package graft.multimodal

import org.apache.spark.sql.Dataset

/**
 * Multimodal-column operators for a training-data pipeline: media travel
 * as opaque `binary` columns with typed metadata; decode / feature
 * extraction runs partition-batched on executors.
 *
 * IMAGE decode is real for LOSSLESS formats: the JVM-bundled
 * `javax.imageio` codecs decode PNG/GIF/BMP pixels bit-exactly and produce
 * a luminance histogram. JPEG is sniffed out and stubbed (its IDCT is
 * implementation-dependent — see isLosslessImage). Payloads that are not
 * lossless images (and audio/video, for which the container has no codecs)
 * fall back to the clearly-marked deterministic `stubDecode`; the
 * surrounding plumbing —
 * schema, partition batching, per-partition codec state, output shape —
 * is identical on both paths and is tested.
 */
object Multimodal {

  /** Typed metadata for an opaque media payload. */
  case class MediaMeta(kind: String, width: Int, height: Int,
      sampleRateHz: Int, durationMs: Long)

  case class MediaRow(media_id: Long, payload: Array[Byte], meta: MediaMeta)

  /** `decoder` records which path produced the features: "imageio" (real
    * pixel decode) or "stub" (deterministic fallback). */
  case class MediaFeatures(media_id: Long, kind: String, n_bytes: Long,
      checksum: Long, features: Array[Float], decoder: String)

  /** True iff the payload's magic bytes identify a LOSSLESS format whose
    * decode is bit-exact across JVM builds (PNG / GIF / BMP). JPEG is
    * deliberately excluded: its IDCT is implementation-dependent, so JPEG
    * checksums/histograms can differ across JVM versions — routing it
    * through ImageIO would quietly break the framework's determinism
    * contract. JPEG (and anything else) takes the deterministic stub path. */
  def isLosslessImage(payload: Array[Byte]): Boolean =
    payload != null && payload.length >= 6 && (
      (payload(0) == 0x89.toByte && payload(1) == 'P' && payload(2) == 'N' &&
        payload(3) == 'G') ||
      (payload(0) == 'G' && payload(1) == 'I' && payload(2) == 'F' &&
        payload(3) == '8') ||
      (payload(0) == 'B' && payload(1) == 'M'))

  /** Real image decode via ImageIO. Returns (checksum over ARGB pixels,
    * luminance histogram normalized to the pixel count, width, height), or
    * None when the payload is not a decodable image — callers fall back to
    * `stubDecode`. Deterministic: PNG/GIF/BMP decoding is exact. */
  def decodeImage(payload: Array[Byte], dim: Int)
      : Option[(Long, Array[Float], Int, Int)] =
    try {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(payload))
      if (img == null) None
      else {
        val w = img.getWidth
        val h = img.getHeight
        val f = new Array[Float](dim)
        var cs = 1125899906842597L
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            val lum = (((rgb >> 16) & 0xFF) * 299 + ((rgb >> 8) & 0xFF) * 587 +
              (rgb & 0xFF) * 114) / 1000
            f(lum * dim / 256) += 1.0f
            cs = 31 * cs + rgb
            x += 1
          }
          y += 1
        }
        val n = (w.toLong * h).toFloat
        var j = 0
        while (j < dim) { f(j) /= n; j += 1 }
        Some((cs, f, w, h))
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Deterministic fake decode: byte histogram folded to `dim` float
    * features + a content checksum. STUB — stands in for a real
    * image/audio decoder (none available in this container). */
  def stubDecode(payload: Array[Byte], dim: Int): (Long, Array[Float]) = {
    val f = new Array[Float](dim)
    var h = 1125899906842597L
    var i = 0
    while (i < payload.length) {
      val b = payload(i) & 0xFF
      f(b % dim) += 1.0f
      h = 31 * h + b
      i += 1
    }
    if (payload.length > 0) {
      var j = 0
      while (j < dim) { f(j) /= payload.length; j += 1 }
    }
    (h, f)
  }

  /** Feature extraction over a media table: partition-batched map keeping
    * per-partition decoder state (`init` once per partition — where a real
    * codec/model handle would live), executor-parallel, no shuffle. */
  def extractFeatures(media: Dataset[MediaRow], dim: Int = 64)
      : Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // per-partition init: disable ImageIO's temp-file cache once per
      // partition (in-memory streams only); a heavier codec/model handle
      // would be created here and amortized over the batch the same way.
      javax.imageio.ImageIO.setUseCache(false)
      rows.map { r =>
        // format sniff BEFORE ImageIO: only lossless formats (PNG/GIF/BMP)
        // take the real-decode path — see isLosslessImage for why JPEG
        // deliberately falls through to the deterministic stub.
        val real =
          if (r.meta.kind == "image" && isLosslessImage(r.payload))
            decodeImage(r.payload, dim)
          else None
        real match {
          case Some((checksum, feats, _, _)) =>
            MediaFeatures(r.media_id, r.meta.kind, r.payload.length.toLong,
              checksum, feats, "imageio")
          case None =>
            val (checksum, feats) = stubDecode(r.payload, dim)
            MediaFeatures(r.media_id, r.meta.kind, r.payload.length.toLong,
              checksum, feats, "stub")
        }
      }
    }
  }

  /** Deterministic small PNG: pixels are a pure hash of (id, x, y), so
    * content is reproducible at any parallelism; PNG is lossless, so the
    * imageio decode path recovers exactly these pixels. Fixture
    * generator for exercising the REAL decode path in driver queries and
    * specs (the page-corpus html payloads only ever hit the stub). */
  def syntheticPng(id: Long, w: Int = 24, h: Int = 16): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        var m = id * 1000003L + y * 131L + x + 0x9E3779B97F4A7C15L
        m = (m ^ (m >>> 30)) * 0xBF58476D1CE4E5B9L
        img.setRGB(x, y, (m ^ (m >>> 27)).toInt & 0xFFFFFF)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }
}
