package graft

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Multimodal

class MultimodalSpec extends AnyFunSuite {
  import TestSpark._

  test("media table has binary payload + typed metadata schema") {
    val m = Multimodal.mediaTable(spark, sf)
    val s = m.schema
    assert(s("payload").dataType == BinaryType)
    assert(s("meta_lang").dataType == StringType)
    assert(m.count() > 0)
  }

  test("decode stage is deterministic, partition-parallel, schema-stable") {
    val m = Multimodal.mediaTable(spark, sf)
    val f1 = Multimodal.decodeFeatures(m).collect().sortBy(_.doc_id)
    val f2 = Multimodal.decodeFeatures(m.repartition(7)).collect().sortBy(_.doc_id)
    assert(f1.length == f2.length)
    f1.zip(f2).foreach { case (a, b) =>
      assert(a.width == b.width && a.height == b.height &&
        a.feature.sameElements(b.feature))
    }
    assert(f1.forall(_.feature.length == 8))
    assert(f1.forall(r => r.byte_len > 0 && r.width >= 64))
  }

  test("a custom MediaDecoder plugs in without touching plumbing (identical schema)") {
    // a codec-bearing deployment implements the one-method trait; schema,
    // partitioning and downstream handoff are untouched
    object TestCodec extends Multimodal.MediaDecoder {
      def decode(r: Multimodal.MediaRow): Multimodal.MediaFeatures =
        Multimodal.MediaFeatures(r.doc_id, r.kind, r.payload.length,
          width = 1920, height = 1080,
          n_frames = if (r.kind == "video") 24 else 1,
          feature = Array.fill(8)(0.5f))
    }
    val m = Multimodal.mediaTable(spark, sf)
    val stub = Multimodal.decodeFeatures(m)
    val real = Multimodal.decodeFeatures(m, TestCodec)
    assert(real.schema == stub.schema, "decoders must not change the plumbing schema")
    assert(real.count() == stub.count())
    val r = real.collect()
    assert(r.forall(_.width == 1920))
    assert(r.filter(_.kind == "video").forall(_.n_frames == 24))
  }

  test("frame sampling explodes only videos, every k-th window") {
    val m = Multimodal.mediaTable(spark, sf)
    val frames = Multimodal.sampleFrames(m, every = 2, window = 32)
    val kinds = Multimodal.decodeFeatures(m).collect()
    val nVideos = kinds.count(_.kind == "video")
    assert(frames.select("doc_id").distinct().count() == nVideos)
    assert(frames.groupBy("doc_id").count().collect().forall(_.getLong(1) >= 1))
  }

  test("ImageIoDecoder really decodes PNG payloads (dims + content features)") {
    import spark.implicits._
    // render a known 40x20 image: left half pure red, right half pure blue
    val img = new java.awt.image.BufferedImage(40, 20,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 20; x <- 0 until 40)
      img.setRGB(x, y, if (x < 20) 0xff0000 else 0x0000ff)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val png = bos.toByteArray
    val rows = Seq(
      Multimodal.MediaRow(1L, "image", png, "en", png.length.toLong),
      Multimodal.MediaRow(2L, "image", png, "en", png.length.toLong))
    // through the REAL distributed decode stage (serialization + retries)
    val feats = Multimodal.decodeFeatures(
        spark.createDataset(rows).repartition(2), Multimodal.ImageIoDecoder)
      .collect().sortBy(_.doc_id)
    assert(feats.length == 2)
    val f = feats.head
    assert(f.width == 40 && f.height == 20 && f.n_frames == 1)
    // mean R = mean B = 0.5, mean G = 0; PNG is lossless so exact
    assert(math.abs(f.feature(0) - 0.5f) < 1e-3, s"mean R ${f.feature(0)}")
    assert(f.feature(1) == 0f, s"mean G ${f.feature(1)}")
    assert(math.abs(f.feature(2) - 0.5f) < 1e-3, s"mean B ${f.feature(2)}")
    // quadrants: left (red) luma ~0.299, right (blue) luma ~0.114
    assert(math.abs(f.feature(4) - 0.298f) < 2e-2 &&
      f.feature(4) > f.feature(5), "left quadrant must be brighter (red>blue)")
    assert(feats(0).feature.sameElements(feats(1).feature),
      "identical payloads must decode identically")
    // corrupt payload fails loudly, not silently
    val bad = Seq(Multimodal.MediaRow(3L, "image",
      "not an image".getBytes, "en", 12L))
    intercept[Exception] {
      Multimodal.decodeFeatures(spark.createDataset(bad),
        Multimodal.ImageIoDecoder).collect()
    }
    // the other JDK formats decode through the same path: BMP losslessly
    // (exact features), JPEG lossily (exact dims, features within the
    // codec's error)
    for ((fmtName, lossless) <- Seq(("bmp", true), ("jpg", false))) {
      val bo = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmtName, bo),
        s"JDK writer missing for $fmtName")
      val enc = Seq(Multimodal.MediaRow(9L, "image", bo.toByteArray, "en", 1L))
      val g = Multimodal.decodeFeatures(spark.createDataset(enc),
        Multimodal.ImageIoDecoder).collect().head
      assert(g.width == 40 && g.height == 20, s"$fmtName dims")
      val tol = if (lossless) 1e-3f else 5e-2f
      f.feature.zip(g.feature).zipWithIndex.foreach { case ((a, b), i) =>
        assert(math.abs(a - b) <= tol, s"$fmtName feature($i): $a vs $b")
      }
    }
  }

  test("WavDecoder really decodes WAV payloads (rate/channels/frames + RMS envelope)") {
    import spark.implicits._
    // synthesize 1600 frames of 16-bit mono PCM at 8kHz: first half
    // silence, second half a full-scale square wave (RMS 0 -> 1)
    val sampleRate = 8000f
    val nFrames = 1600
    val pcm = new Array[Byte](nFrames * 2)
    val bb = java.nio.ByteBuffer.wrap(pcm)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    for (i <- 0 until nFrames)
      bb.putShort(i * 2,
        if (i < nFrames / 2) 0
        else if (i % 2 == 0) 32767 else -32768)
    val fmt = new javax.sound.sampled.AudioFormat(sampleRate, 16, 1, true, false)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, nFrames.toLong),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    val wav = bos.toByteArray
    val rows = Seq(Multimodal.MediaRow(7L, "audio", wav, "en", wav.length.toLong))
    val f = Multimodal.decodeFeatures(spark.createDataset(rows),
      Multimodal.WavDecoder).collect().head
    assert(f.width == 8000 && f.height == 1 && f.n_frames == 1600)
    // octiles 0-3 silent, 4-7 full-scale
    assert(f.feature.take(4).forall(_ == 0f), f.feature.mkString(","))
    assert(f.feature.drop(4).forall(v => math.abs(v - 1f) < 1e-3),
      f.feature.mkString(","))
  }

  /** Build a standards-shaped MJPEG AVI: RIFF(AVI ) > LIST(hdrl){avih,
    * LIST(strl){strh,strf}} > LIST(movi){00dc…} — the layout every
    * MJPEG capture device writes. */
  private def writeAvi(frames: Seq[Array[Byte]], w: Int, h: Int): Array[Byte] = {
    def le32(v: Int): Array[Byte] = Array[Byte](
      v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    def chunk(id: String, data: Array[Byte]): Array[Byte] =
      id.getBytes("US-ASCII") ++ le32(data.length) ++ data ++
        (if (data.length % 2 == 1) Array(0.toByte) else Array.emptyByteArray)
    def list(typ: String, body: Array[Byte]): Array[Byte] =
      chunk("LIST", typ.getBytes("US-ASCII") ++ body)
    val avih = le32(100000) ++ le32(0) ++ le32(0) ++ le32(0) ++
      le32(frames.length) ++ le32(0) ++ le32(1) ++ le32(0) ++
      le32(w) ++ le32(h) ++ Array.fill(16)(0.toByte)
    val strh = "vids".getBytes("US-ASCII") ++ "MJPG".getBytes("US-ASCII") ++
      le32(0) ++ le32(0) ++ le32(0) ++ le32(1) ++ le32(10) ++ le32(0) ++
      le32(frames.length) ++ le32(0) ++ le32(-1) ++ le32(0) ++
      Array.fill(8)(0.toByte)
    val strf = le32(40) ++ le32(w) ++ le32(h) ++
      Array[Byte](1, 0, 24, 0) ++ "MJPG".getBytes("US-ASCII") ++
      le32(w * h * 3) ++ Array.fill(16)(0.toByte)
    val hdrl = list("hdrl", chunk("avih", avih) ++
      list("strl", chunk("strh", strh) ++ chunk("strf", strf)))
    val movi = list("movi",
      frames.map(f => chunk("00dc", f)).foldLeft(Array.emptyByteArray)(_ ++ _))
    val body = "AVI ".getBytes("US-ASCII") ++ hdrl ++ movi
    "RIFF".getBytes("US-ASCII") ++ le32(body.length) ++ body
  }

  private def jpegFrame(w: Int, h: Int, rgb: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    bos.toByteArray
  }

  test("MjpegAviDecoder really decodes AVI video (dims/frames + luma envelope)") {
    import spark.implicits._
    // 16 frames at 48x32: first half black, second half white — the
    // temporal luma envelope must read 0,0,0,0,1,1,1,1 (a hard cut)
    val frames = Seq.fill(8)(jpegFrame(48, 32, 0x000000)) ++
      Seq.fill(8)(jpegFrame(48, 32, 0xffffff))
    val avi = writeAvi(frames, 48, 32)
    val rows = Seq(
      Multimodal.MediaRow(1L, "video", avi, "en", avi.length.toLong),
      Multimodal.MediaRow(2L, "video", avi, "en", avi.length.toLong))
    // through the REAL distributed decode stage (serialization + retries)
    val feats = Multimodal.decodeFeatures(
        spark.createDataset(rows).repartition(2), Multimodal.MjpegAviDecoder)
      .collect().sortBy(_.doc_id)
    assert(feats.length == 2)
    val f = feats.head
    assert(f.width == 48 && f.height == 32 && f.n_frames == 16)
    // JPEG is lossy: black/white solid frames stay within codec error
    assert(f.feature.take(4).forall(_ < 0.05f), f.feature.mkString(","))
    assert(f.feature.drop(4).forall(_ > 0.95f), f.feature.mkString(","))
    assert(feats(0).feature.sameElements(feats(1).feature),
      "identical payloads must decode identically")
    // non-AVI and frame-corrupt payloads fail loudly, not silently
    intercept[Exception] {
      Multimodal.decodeFeatures(spark.createDataset(Seq(
        Multimodal.MediaRow(3L, "video", "not a video".getBytes, "en", 11L))),
        Multimodal.MjpegAviDecoder).collect()
    }
    val corrupt = writeAvi(Seq(jpegFrame(8, 8, 0), "junk frame".getBytes), 8, 8)
    intercept[Exception] {
      Multimodal.decodeFeatures(spark.createDataset(Seq(
        Multimodal.MediaRow(4L, "video", corrupt, "en", 1L))),
        Multimodal.MjpegAviDecoder).collect()
    }
  }

  test("corrupt AVI with a wrapping chunk size throws — never spins") {
    // A u32 size field above Int.MaxValue wraps negative after .toInt; the
    // old walker then failed to advance `p` — an executor hang on corrupt
    // media. The contract is fails-LOUDLY: such payloads must throw.
    def le32(v: Int): Array[Byte] = Array[Byte](
      v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    val corrupt = "RIFF".getBytes("US-ASCII") ++ le32(64) ++
      "AVI ".getBytes("US-ASCII") ++
      "00dc".getBytes("US-ASCII") ++ le32(0xFFFFFFF8) ++ // size = -8 as Int
      Array.fill(16)(0.toByte)
    val e = intercept[IllegalArgumentException] {
      Multimodal.MjpegAviDecoder.decode(
        Multimodal.MediaRow(9L, "video", corrupt, "en", corrupt.length.toLong))
    }
    assert(e.getMessage.contains("corrupt AVI"), e.getMessage)
  }

  test("decoded features feed the similarity operators (end-to-end handoff)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // plant a byte-identical duplicate media object under a new id, then run
    // decode → feature embedding → hyperplane-LSH near-dup over the features
    val m = Multimodal.mediaTable(spark, sf).limit(50)
    val dup = m.toDF().withColumn("doc_id", $"doc_id" + 100000L)
      .as[Multimodal.MediaRow]
    val emb = Multimodal.decodeFeatures(m.union(dup))
      .select($"doc_id".as("vec_id"), $"feature".as("embedding"))
    val pairs = operators.Similarity.cosineNearDups(emb.toDF(), planes = 4,
      threshold = 0.999)
      .collect().map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"))).toSet
    val ids = m.collect().map(_.doc_id)
    assert(ids.forall(i => pairs.contains((i, i + 100000L))),
      s"every planted duplicate must be found; got ${pairs.size} pairs")
  }
}
