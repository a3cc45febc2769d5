package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Multimodal plumbing: schema, the typed mapPartitions decode path,
  * and the BMP and WAV parsers.
  */
class MultimodalSpec extends SparkTestBase {

  test("asMedia: binary payload + metadata struct") {
    val m = Multimodal.asMedia(spark, sf)
    val f = m.schema("payload")
    assert(f.dataType.typeName == "binary")
    val meta = m.schema("meta").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(meta.fieldNames.toSeq == Seq("mime", "n_bytes", "origin"))
    val r = m.select(col("meta.n_bytes"), length(col("payload"))).head()
    assert(r.getInt(0) == r.getInt(1))
  }

  test("decodeFeatures: typed mapPartitions path, one row per doc") {
    val feats = Multimodal.decodeFeatures(spark, sf)
    val docs = graft.Tables.documents(spark, sf).count()
    assert(feats.count() == docs)
    assert(feats.schema.fieldNames.toSeq ==
      Seq("doc_id", "n_bytes", "n_frames", "features"))
    val r = feats.orderBy("doc_id").head()
    assert(r.getAs[scala.collection.Seq[Double]]("features").length == 8)
    assert(r.getInt(2) > 0)
  }

  test("synthesized BMPs are real files: the JDK's ImageIO decodes them identically") {
    // independent system decoder — if ImageIO (which knows nothing of
    // our generator) reads the same geometry and pixels, the bytes are
    // a genuinely valid BMP and our parser's walk is correct
    for (doc <- Seq(0L, 7L, 123L, 4096L)) {
      val bytes = Multimodal.makeBmp(doc)
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      assert(img != null, s"ImageIO rejected the BMP for doc $doc")
      val got = Multimodal.parseBmp(doc, bytes)
      assert(img.getWidth == got.width && img.getHeight == got.height)
      var sb = 0L; var sg = 0L; var sr = 0L
      for (y <- 0 until img.getHeight; x <- 0 until img.getWidth) {
        val rgb = img.getRGB(x, y)
        sr += (rgb >> 16) & 0xff; sg += (rgb >> 8) & 0xff; sb += rgb & 0xff
      }
      assert((sb, sg, sr) == ((got.sum_b, got.sum_g, got.sum_r)),
        s"pixel sums disagree with ImageIO for doc $doc")
    }
  }

  test("synthesized WAVs are real files: the JDK's AudioSystem decodes them identically") {
    for (doc <- Seq(0L, 7L, 123L, 4096L)) {
      val bytes = Multimodal.makeWav(doc)
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      val fmt = in.getFormat
      assert(fmt.getSampleRate == 8000f && fmt.getChannels == 1 &&
        fmt.getSampleSizeInBits == 16)
      val got = Multimodal.parseWav(doc, bytes)
      assert(in.getFrameLength == got.n_samples)
      val data = in.readAllBytes()
      var sum = 0L
      val bb = java.nio.ByteBuffer.wrap(data)
        .order(if (fmt.isBigEndian) java.nio.ByteOrder.BIG_ENDIAN
          else java.nio.ByteOrder.LITTLE_ENDIAN)
      (0 until data.length / 2).foreach(i => sum += bb.getShort(2 * i))
      assert(sum == got.sum_amp, s"sample sums disagree with AudioSystem for doc $doc")
    }
  }

  test("parsers reject corrupted payloads instead of zero-filling") {
    val bmp = Multimodal.makeBmp(5L)
    bmp(0) = 'X'.toByte
    intercept[IllegalArgumentException](Multimodal.parseBmp(5L, bmp))
    val wav = Multimodal.makeWav(5L)
    wav(8) = 'Z'.toByte
    intercept[IllegalArgumentException](Multimodal.parseWav(5L, wav))
    val short = Multimodal.makeBmp(5L).take(40)
    intercept[IllegalArgumentException](Multimodal.parseBmp(5L, short))
  }
}
