package graft.multimodal

import graft.SparkSuite
import graft.gen.PageGen
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkSuite {
  import spark.implicits._

  test("binary media plumbing: schema, batching, deterministic features") {
    // page html bytes as opaque image payloads, typed the way the
    // multimodal_features query types its mm_media stage
    val media = PageGen.pages(spark, 50, seed = 9L)
      .select(xxhash64($"url").as("media_id"), $"html".as("payload"))
      .withColumn("meta", struct(
        lit("image").as("kind"), lit(640).as("width"), lit(480).as("height"),
        lit(0).as("sampleRateHz"), lit(0L).as("durationMs")))
      .as[Multimodal.MediaRow]
    val feats = Multimodal.extractFeatures(media, dim = 16)
    val rows = feats.collect()
    assert(rows.length === media.count())
    assert(rows.forall(_.features.length === 16))
    assert(rows.forall(_.n_bytes > 0))
    // deterministic across partitionings
    val feats2 = Multimodal.extractFeatures(
      media.repartition(7), dim = 16).collect()
    val a = rows.map(r => r.media_id -> r.checksum).toMap
    val b = feats2.map(r => r.media_id -> r.checksum).toMap
    assert(a === b)
    // histogram features are L1-normalized by construction
    assert(rows.forall(r => math.abs(r.features.sum - 1.0f) < 1e-3))
  }

  test("real PNG payloads decode through ImageIO; non-images fall back to stub") {
    // deterministic 48x32 RGB gradient, PNG-encoded in-memory
    val img = new java.awt.image.BufferedImage(
      48, 32, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 32; x <- 0 until 48)
      img.setRGB(x, y, ((x * 5) << 16) | ((y * 7) << 8) | ((x + y) & 0xFF))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val png = bos.toByteArray

    val meta = Multimodal.MediaMeta("image", 48, 32, 0, 0L)
    val rows = Seq(
      Multimodal.MediaRow(1L, png, meta),
      Multimodal.MediaRow(2L, "<html>not an image</html>".getBytes("UTF-8"), meta))
    val feats = Multimodal.extractFeatures(rows.toDS(), dim = 16)
      .collect().map(f => f.media_id -> f).toMap

    assert(feats(1L).decoder === "imageio")
    assert(feats(2L).decoder === "stub")
    // JPEG decodes are IDCT/implementation-dependent — the format sniff
    // must route them to the deterministic stub, not ImageIO
    val jbos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", jbos)
    val jpg = jbos.toByteArray
    assert(jpg(0) == 0xFF.toByte && jpg(1) == 0xD8.toByte) // really a JPEG
    assert(!Multimodal.isLosslessImage(jpg))
    val jfeat = Multimodal.extractFeatures(
      Seq(Multimodal.MediaRow(3L, jpg, meta)).toDS(), dim = 16).collect()(0)
    assert(jfeat.decoder === "stub")
    assert(jfeat.checksum === Multimodal.stubDecode(jpg, 16)._1)
    // the real decode saw the pixels we wrote: direct decode agrees
    val Some((cs, hist, w, h)) = Multimodal.decodeImage(png, 16)
    assert((w, h) === (48, 32))
    assert(feats(1L).checksum === cs)
    assert(feats(1L).features.toSeq === hist.toSeq)
    assert(math.abs(hist.sum - 1.0f) < 1e-3)
    // PNG is lossless: re-encoding the same pixels decodes identically
    val bos2 = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos2)
    assert(Multimodal.decodeImage(bos2.toByteArray, 16).get._1 === cs)
  }
}
