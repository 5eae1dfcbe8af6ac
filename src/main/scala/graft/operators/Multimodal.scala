package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column processing: images/audio/video as opaque binary columns
  * with typed metadata, processed batch-wise on executors.
  *
  * Decoders: [[ImageIoDecoder]] (PNG/JPEG/BMP/GIF), [[WavDecoder]]
  * (WAV/AIFF PCM) and [[MjpegAviDecoder]] (MJPEG-in-AVI video: RIFF
  * container walk + per-frame ImageIO JPEG decode) are REAL — the JDK
  * ships those codecs, no native libs — and spec-gated on round-tripped
  * payloads. Inter-frame codecs (H.264/VP9 etc.) still need native
  * libraries this container lacks, so `FakeDecoder` remains the
  * clearly-marked deterministic stand-in there and for the gate queries
  * (whose testdata payloads are utf8 text, not media). The Spark-side
  * plumbing is identical for all three: schema (binary payload + struct
  * metadata), partition-parallel `mapPartitions` over a typed Dataset
  * (the Scala analogue of `mapInPandas` batch UDFs), and a stable output
  * schema downstream stages can rely on.
  *
  * Scale: decode is embarrassingly parallel; the only knobs that matter at
  * 100 TB are input split size (spark.sql.files.maxPartitionBytes vs media
  * object size) and avoiding any shuffle before the decode — this pipeline
  * has none (map-only until the caller aggregates features).
  */
object Multimodal {

  case class MediaRow(doc_id: Long, kind: String, payload: Array[Byte],
      meta_lang: String, meta_chars: Long)
  case class MediaFeatures(doc_id: Long, kind: String, byte_len: Int,
      width: Int, height: Int, n_frames: Int, feature: Array[Float])

  /** The decode extension point: a codec-bearing deployment implements this
    * one method (JPEG/WAV/H.264 via its native libs) and passes it to
    * [[decodeFeatures]] — no operator, schema, or partitioning code changes.
    * Implementations must be Serializable (they ship to executors) and
    * deterministic per payload (reruns/retries must agree). */
  trait MediaDecoder extends Serializable {
    def decode(r: MediaRow): MediaFeatures
  }

  /** STUB: deterministic fake decode — derives pseudo width/height/frames
    * and an 8-dim feature vector from the payload bytes. A real deployment
    * swaps this for an image/audio codec; everything around it stays. */
  object FakeDecoder extends MediaDecoder {
    def decode(r: MediaRow): MediaFeatures = {
      val bytes = r.payload
      val h = java.util.Arrays.hashCode(bytes)
      val width = 64 + math.abs(h % 1024)
      val height = 64 + math.abs((h / 1024) % 1024)
      val frames = if (r.kind == "video") 1 + math.abs(h % 32) else 1
      val feat = Array.tabulate(8) { i =>
        if (bytes.isEmpty) 0f
        else bytes(i * math.max(bytes.length / 8, 1) % bytes.length).toFloat / 127f
      }
      MediaFeatures(r.doc_id, r.kind, bytes.length, width, height, frames, feat)
    }
  }

  /** REAL image decode — the JDK's built-in `javax.imageio` codecs
    * (PNG / JPEG / BMP / GIF), no native libraries: width/height come from
    * the decoded raster and the 8-dim feature is a deterministic content
    * summary (mean R, G, B, global mean luma, then mean luma of the 2×2
    * quadrant grid — a tiny perceptual signature that is stable across
    * re-encodes of the same pixels, usable for embedding-style grouping
    * and near-dup blocking downstream). Fails LOUDLY on undecodable
    * payloads: a corrupt object must surface, not silently produce fake
    * dimensions (callers quarantine with a try/filter stage if the corpus
    * is dirty). Deterministic per payload — safe under task retries. */
  object ImageIoDecoder extends MediaDecoder {
    def decode(r: MediaRow): MediaFeatures = {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(r.payload))
      require(img != null,
        s"doc ${r.doc_id}: payload is not a JDK-decodable image")
      val w = img.getWidth
      val h = img.getHeight
      var sr, sg, sb = 0L
      val quadLuma = new Array[Long](4)
      val quadN = new Array[Long](4)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y)
          val cr = (rgb >> 16) & 0xff
          val cg = (rgb >> 8) & 0xff
          val cb = rgb & 0xff
          sr += cr; sg += cg; sb += cb
          val q = (if (y * 2 >= h) 2 else 0) + (if (x * 2 >= w) 1 else 0)
          quadLuma(q) += (299 * cr + 587 * cg + 114 * cb) / 1000
          quadN(q) += 1
          x += 1
        }
        y += 1
      }
      val n = w.toLong * h
      val feat = Array(
        sr.toFloat / n / 255f, sg.toFloat / n / 255f, sb.toFloat / n / 255f,
        (299f * sr + 587f * sg + 114f * sb) / 1000f / n / 255f) ++
        quadLuma.indices.map(q =>
          if (quadN(q) == 0) 0f else quadLuma(q).toFloat / quadN(q) / 255f)
      MediaFeatures(r.doc_id, r.kind, r.payload.length, w, h, 1, feat)
    }
  }

  /** REAL audio decode — the JDK's built-in `javax.sound.sampled` WAV/AIFF
    * PCM reader, no native libraries: width carries the sample rate (Hz),
    * height the channel count, n_frames the PCM frame count, and the 8-dim
    * feature is the per-octile RMS envelope (normalized to [0,1]) — the
    * standard cheap loudness signature for silence trimming, segment
    * sampling and near-dup blocking. Fails LOUDLY on undecodable
    * payloads (see [[ImageIoDecoder]]); deterministic per payload. */
  object WavDecoder extends MediaDecoder {
    def decode(r: MediaRow): MediaFeatures = {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(r.payload))
      try {
        val fmt = in.getFormat
        require(fmt.getSampleSizeInBits == 16,
          s"doc ${r.doc_id}: only 16-bit PCM supported, " +
            s"got ${fmt.getSampleSizeInBits}-bit")
        val bytes = in.readAllBytes()
        val frameSize = fmt.getFrameSize
        val nFrames = bytes.length / frameSize
        val bb = java.nio.ByteBuffer.wrap(bytes).order(
          if (fmt.isBigEndian) java.nio.ByteOrder.BIG_ENDIAN
          else java.nio.ByteOrder.LITTLE_ENDIAN)
        val nSamples = bytes.length / 2
        val sumSq = new Array[Double](8)
        val cnt = new Array[Long](8)
        var i = 0
        while (i < nSamples) {
          val v = bb.getShort(i * 2).toDouble / 32768.0
          val oct = math.min(i * 8L / math.max(nSamples, 1), 7L).toInt
          sumSq(oct) += v * v
          cnt(oct) += 1
          i += 1
        }
        val feat = Array.tabulate(8)(o =>
          if (cnt(o) == 0) 0f else math.sqrt(sumSq(o) / cnt(o)).toFloat)
        MediaFeatures(r.doc_id, r.kind, r.payload.length,
          fmt.getSampleRate.toInt, fmt.getChannels, nFrames, feat)
      } finally in.close()
    }
  }

  /** REAL video decode — MJPEG-in-AVI via the JDK alone: the AVI RIFF
    * container is walked chunk-by-chunk (LIST recursion, even-byte
    * padding, `##dc`/`##db` stream-data chunks collected in order) and
    * each frame is an independent JPEG decoded by `javax.imageio` — no
    * inter-frame prediction, so no native codec needed. MJPEG/AVI is the
    * standard capture format for webcams, dashcams and lab instruments,
    * so a real corpus hits it; H.264-class codecs stay behind the
    * [[MediaDecoder]] plug-in boundary.
    *
    * Output: width/height from the first decoded frame, n_frames = video
    * chunk count, and the 8-dim feature is the temporal mean-luma
    * envelope — frames bucketed into 8 octiles of the timeline, mean
    * luma per octile — the video analogue of [[WavDecoder]]'s RMS
    * envelope (scene-change/fade signature, stable across container
    * remux). Fails LOUDLY on non-AVI payloads or undecodable frames;
    * deterministic per payload — safe under task retries. */
  object MjpegAviDecoder extends MediaDecoder {

    private def fourcc(b: Array[Byte], off: Int): String =
      new String(b, off, 4, java.nio.charset.StandardCharsets.US_ASCII)

    private def u32(b: Array[Byte], off: Int): Long =
      (b(off) & 0xffL) | ((b(off + 1) & 0xffL) << 8) |
        ((b(off + 2) & 0xffL) << 16) | ((b(off + 3) & 0xffL) << 24)

    /** Walk the RIFF chunk tree and return the video stream-data chunk
      * payloads (`##dc` compressed / `##db` uncompressed DIB) in file
      * order. Exposed for the frame-sampling operator. */
    private[operators] def aviFrames(bytes: Array[Byte]): Vector[Array[Byte]] = {
      require(bytes.length >= 12 && fourcc(bytes, 0) == "RIFF" &&
        fourcc(bytes, 8) == "AVI ", "payload is not a RIFF/AVI container")
      val frames = Vector.newBuilder[Array[Byte]]
      def walk(start: Int, end: Int): Unit = {
        var p = start
        while (p + 8 <= end) {
          val id = fourcc(bytes, p)
          // A size field above Int.MaxValue would wrap negative after .toInt
          // and leave `p` unadvanced — an executor hang on corrupt media. The
          // fails-LOUDLY contract means such payloads throw here instead.
          val szL = u32(bytes, p + 4)
          require(szL <= Int.MaxValue - 9L,
            s"corrupt AVI: chunk '$id' at offset $p declares size $szL")
          val sz = szL.toInt
          val dataStart = p + 8
          val dataEnd = math.min(dataStart + sz, end)
          if (id == "LIST" && sz >= 4) {
            walk(dataStart + 4, dataEnd) // skip the 4-byte list type
          } else if (id.length == 4 && id(0).isDigit && id(1).isDigit &&
              (id.substring(2) == "dc" || id.substring(2) == "db")) {
            frames += java.util.Arrays.copyOfRange(bytes, dataStart, dataEnd)
          }
          p = dataStart + sz + (sz & 1) // chunks pad to even byte boundary
        }
      }
      walk(12, bytes.length)
      frames.result()
    }

    private[graft] def frameMeanLuma(img: java.awt.image.BufferedImage): Float = {
      var luma = 0L
      var y = 0
      while (y < img.getHeight) {
        var x = 0
        while (x < img.getWidth) {
          val rgb = img.getRGB(x, y)
          luma += (299 * ((rgb >> 16) & 0xff) + 587 * ((rgb >> 8) & 0xff) +
            114 * (rgb & 0xff)) / 1000
          x += 1
        }
        y += 1
      }
      luma.toFloat / (img.getWidth.toLong * img.getHeight) / 255f
    }

    def decode(r: MediaRow): MediaFeatures = {
      val chunks = aviFrames(r.payload)
      require(chunks.nonEmpty, s"doc ${r.doc_id}: AVI has no video frames")
      var w, h = 0
      val lumaSum = new Array[Double](8)
      val lumaN = new Array[Long](8)
      var i = 0
      while (i < chunks.length) {
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(chunks(i)))
        require(img != null,
          s"doc ${r.doc_id}: frame $i is not a JDK-decodable JPEG")
        if (i == 0) { w = img.getWidth; h = img.getHeight }
        val oct = math.min(i * 8L / chunks.length, 7L).toInt
        lumaSum(oct) += frameMeanLuma(img)
        lumaN(oct) += 1
        i += 1
      }
      val feat = Array.tabulate(8)(o =>
        if (lumaN(o) == 0) 0f else (lumaSum(o) / lumaN(o)).toFloat)
      MediaFeatures(r.doc_id, r.kind, r.payload.length, w, h, chunks.length, feat)
    }
  }

  /** Binary-ingest view over `documents` (payload = utf8 bytes stands in for
    * a media object; metadata typed alongside). */
  def mediaTable(s: SparkSession, dir: String): Dataset[MediaRow] = {
    import s.implicits._
    graft.Tables.documents(s, dir)
      .select($"doc_id",
        when($"doc_id" % 3 === 0, "image")
          .when($"doc_id" % 3 === 1, "audio").otherwise("video").as("kind"),
        $"text".cast(BinaryType).as("payload"),
        $"lang".as("meta_lang"),
        $"n_chars".as("meta_chars"))
      .as[MediaRow]
  }

  /** The batch decode stage: partition-parallel, no shuffle. The decoder is
    * pluggable ([[MediaDecoder]]); the default is the documented stub. */
  def decodeFeatures(media: Dataset[MediaRow],
      decoder: MediaDecoder = FakeDecoder): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map(decoder.decode))
  }

  /** Frame-sampling shape: explode a video payload into every k-th "frame"
    * (byte-window stand-in), keyed for downstream grouping. */
  def sampleFrames(media: Dataset[MediaRow], every: Int, window: Int): DataFrame = {
    import media.sparkSession.implicits._
    media.flatMap { r =>
      if (r.kind != "video") Iterator.empty
      else r.payload.grouped(window).zipWithIndex.collect {
        case (chunk, i) if i % every == 0 => (r.doc_id, i, chunk)
      }
    }.toDF("doc_id", "frame_no", "frame_bytes")
  }
}
