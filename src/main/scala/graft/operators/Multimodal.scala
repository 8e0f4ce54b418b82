package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** A row of opaque media: payload bytes + typed metadata. */
case class MediaRow(doc_id: Long, payload: Array[Byte], format: String,
    width: Int, height: Int)

/** Decoded per-item features. */
case class MediaFeatures(doc_id: Long, n_bytes: Int, checksum: Long,
    brightness: Double, histogram: Seq[Double])

/** Multimodal column plumbing (SURVEY.md §2.8): image/audio/video handled as
  * opaque `binary` columns with typed metadata, decoded/feature-extracted in
  * batched partition-local passes — the Scala analogue of a Pandas-UDF
  * `mapInPandas` pipeline (same shape: schema in, batches through a
  * vectorized kernel, schema out; no shuffle, no driver involvement).
  *
  * Two tiers:
  *  - REAL decode for library-free formats: binary PPM (P6) images —
  *    magic/header/comment parsing, raster extraction, true
  *    nearest-neighbor resize on pixels — and 16-bit PCM WAV — RIFF chunk
  *    walking, fmt validation, sample statistics. See m_image_decode /
  *    m_image_resize / m_audio_decode.
  *  - STUBS where a codec genuinely is required (JPEG/H.264 class):
  *    [[Multimodal.decodeStub]] is a clearly-marked DETERMINISTIC STUB that
  *    consumes the real bytes and emits stable features (checksum, mean
  *    byte value as "brightness", a byte-histogram as the "embedding").
  *    Everything around it — binary schema, metadata struct, batching,
  *    partition preservation — is the real production plumbing and is
  *    spec-verified.
  *
  * 100 TB notes: payloads never leave their partition; the decode kernel is
  * per-batch (amortizing codec init exactly like Arrow batches do); output
  * rows are small fixed-width features, so the expensive bytes are dropped
  * before anything downstream shuffles.
  */
object Multimodal {

  val BatchSize = 64

  /** Decode-once under a presentation sort (round 18, guide §1.4/§2.4 —
    * the deferred r17 class-1 fix, payload variant): every m_* entry ends
    * in `orderBy`, whose range partitioner SAMPLES its child before the
    * real pass — with an opaque decode below the sort, the whole
    * decode ran TWICE per query. The x_* family fixed this by moving the
    * sort below the kernels, but here that would range-shuffle the heavy
    * BYTE PAYLOADS to save recompute (inverting the §8 move-small-bytes
    * rule), so instead the SMALL decoded feature rows are pinned
    * (`Checkpoints.pin`): the sampler job stores the blocks (the one
    * decode), the sort's map stage re-reads them, and nothing larger than
    * the feature rows is ever stored. Lazy is race-free here — the sampler
    * and the exchange map run strictly in sequence. */
  private def decodedOnce(features: DataFrame): DataFrame =
    Checkpoints.pin(features)

  /** Assemble the media frame: documents' text bytes act as the opaque
    * payload; metadata derived deterministically from doc_id. */
  def mediaFrame(spark: SparkSession, dir: String): DataFrame =
    Tables.t(spark, dir, "documents").select(
      col("doc_id"),
      col("text").cast("binary").as("payload"),
      when(col("doc_id") % 2 === 0, "img/fake-rgb").otherwise("img/fake-gray").as("format"),
      (lit(64) + pmod(col("doc_id"), lit(448))).cast("int").as("width"),
      (lit(64) + pmod(col("doc_id") * 7, lit(448))).cast("int").as("height"))

  /** ======== STUB: stands in for a real per-batch media decoder ========
    * A production build would decode `payload` with an image library here
    * (one codec init per batch). This stub derives deterministic features
    * from the raw bytes so the pipeline is fully testable without codecs. */
  def decodeStub(batch: Seq[MediaRow]): Seq[MediaFeatures] =
    batch.map { m =>
      val bytes = m.payload
      var checksum = 1469598103934665603L // FNV-1a over the payload
      var sum = 0L
      val hist = new Array[Double](8)
      var i = 0
      while (i < bytes.length) {
        val b = bytes(i) & 0xFF
        checksum = (checksum ^ b) * 1099511628211L
        sum += b
        hist((b >> 5) & 7) += 1.0
        i += 1
      }
      val n = math.max(bytes.length, 1)
      MediaFeatures(m.doc_id, bytes.length, checksum,
        sum.toDouble / n, hist.map(_ / n).toSeq)
    }

  /** The batched partition-local decode pass (mapInPandas-shaped). */
  def decodeAll(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.grouped(BatchSize).flatMap(g => decodeStub(g.toSeq)))
  }

  /** m_decode_stub: end-to-end media pipeline. Rows-only gate (stub decode
    * has no SQL oracle); MultimodalSpec verifies determinism, counts,
    * partition preservation and checksum semantics. */
  def mDecodeStub(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    decodeAll(mediaFrame(spark, dir).as[MediaRow])
      .toDF()
      .select(col("doc_id"), col("n_bytes"), col("checksum"),
        round(col("brightness"), 4).as("brightness"),
        array_join(transform(col("histogram"), h => round(h, 4)), ",").as("histogram"))
      .transform(decodedOnce)
      .orderBy("doc_id")
  }

  /** ======== STUB: stands in for a real resize kernel ========
    * Deterministic downsample: every stride-th byte, recomputed checksum.
    * Target dims derived from the metadata (half resolution). */
  def resizeStub(batch: Seq[MediaRow]): Seq[MediaFeatures] =
    batch.map { m =>
      val stride = 2
      var checksum = 1469598103934665603L
      var sum = 0L
      val hist = new Array[Double](8)
      var i = 0
      var n = 0
      while (i < m.payload.length) {
        val b = m.payload(i) & 0xFF
        checksum = (checksum ^ b) * 1099511628211L
        sum += b; hist((b >> 5) & 7) += 1.0; n += 1
        i += stride
      }
      MediaFeatures(m.doc_id, n, checksum,
        if (n == 0) 0.0 else sum.toDouble / n,
        hist.map(h => if (n == 0) 0.0 else h / n).toSeq)
    }

  /** m_resize_stub: the resize pass over the same media frame — payload
    * shrinks partition-locally BEFORE anything downstream shuffles (the
    * property that matters at 100 TB: resize early, move less). */
  def mResizeStub(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    mediaFrame(spark, dir).as[MediaRow]
      .mapPartitions(_.grouped(BatchSize).flatMap(g => resizeStub(g.toSeq)))
      .toDF()
      .select(col("doc_id"), col("n_bytes").as("n_sampled"), col("checksum"),
        round(col("brightness"), 4).as("brightness"))
      .transform(decodedOnce)
      .orderBy("doc_id")
  }

  /** m_frame_sample: treat the payload as a "video" of fixed-size frames,
    * keep every 4th frame (temporal subsampling), emit one row per kept
    * frame with a per-frame checksum. Row-explosion happens AFTER the
    * payload is cut down — output rows are small fixed-width records. */
  def mFrameSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val FrameBytes = 64
    val EveryNth = 4
    mediaFrame(spark, dir).as[MediaRow]
      .mapPartitions(_.flatMap { m =>
        m.payload.grouped(FrameBytes).zipWithIndex
          .filter(_._2 % EveryNth == 0)
          .map { case (frame, idx) =>
            var checksum = 1469598103934665603L
            frame.foreach(b => checksum = (checksum ^ (b & 0xFF)) * 1099511628211L)
            (m.doc_id, idx, frame.length, checksum)
          }
      })
      .toDF("doc_id", "frame_idx", "frame_bytes", "frame_checksum")
      .transform(decodedOnce)
      .orderBy("doc_id", "frame_idx")
  }

  // ===================================================================
  // REAL decoders — PPM (P6) images and PCM WAV audio are library-free
  // binary formats, so unlike the codec-dependent stubs above these paths
  // parse actual file bytes: magic numbers, headers, RIFF chunk walking,
  // pixel/sample extraction. The payloads are valid files generated
  // deterministically from doc_id (no image/audio libs exist in the
  // container to produce them either), so specs can assert exact decoded
  // values against hand-built files.
  // ===================================================================

  /** splitmix64 — deterministic per-(doc, index) byte stream. */
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** A valid binary P6 PPM: "P6\n<w> <h>\n255\n" + w*h RGB triples. */
  def encodePpm(w: Int, h: Int, pixel: (Int, Int) => (Int, Int, Int)): Array[Byte] = {
    val header = s"P6\n$w $h\n255\n".getBytes("US-ASCII")
    val out = new Array[Byte](header.length + w * h * 3)
    System.arraycopy(header, 0, out, 0, header.length)
    var i = header.length
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val (r, g, b) = pixel(x, y)
        out(i) = r.toByte; out(i + 1) = g.toByte; out(i + 2) = b.toByte
        i += 3; x += 1
      }
      y += 1
    }
    out
  }

  /** Parsed P6 image: dims + raw interleaved RGB. A REAL decoder: validates
    * the magic, consumes whitespace-delimited header tokens (including the
    * comment lines the format allows), checks maxval and payload length. */
  final case class PpmImage(width: Int, height: Int, rgb: Array[Byte])

  def decodePpm(bytes: Array[Byte]): PpmImage = {
    require(bytes.length >= 2 && bytes(0) == 'P' && bytes(1) == '6',
      "not a P6 PPM: bad magic")
    var i = 2
    def skipSpace(): Unit = {
      var done = false
      while (!done && i < bytes.length) {
        val c = bytes(i).toChar
        if (c == '#') { while (i < bytes.length && bytes(i) != '\n') i += 1 }
        else if (c.isWhitespace) i += 1
        else done = true
      }
    }
    def token(): Int = {
      skipSpace()
      var v = 0
      var digits = 0
      while (i < bytes.length && !bytes(i).toChar.isWhitespace) {
        require(bytes(i) >= '0' && bytes(i) <= '9',
          s"non-digit byte in PPM header token: '${bytes(i).toChar}'")
        v = v * 10 + (bytes(i) - '0'); i += 1; digits += 1
      }
      require(digits > 0, "missing PPM header token")
      v
    }
    val w = token(); val h = token(); val maxval = token()
    require(maxval == 255, s"unsupported maxval $maxval")
    i += 1 // the single whitespace byte after maxval, then raster
    require(bytes.length - i == w * h * 3,
      s"truncated raster: ${bytes.length - i} bytes for ${w}x$h")
    PpmImage(w, h, java.util.Arrays.copyOfRange(bytes, i, bytes.length))
  }

  /** REAL nearest-neighbor resize on decoded pixels → re-encoded PPM. */
  def resizePpmNearest(img: PpmImage, outW: Int, outH: Int): PpmImage = {
    val out = new Array[Byte](outW * outH * 3)
    var y = 0
    while (y < outH) {
      val sy = y * img.height / outH
      var x = 0
      while (x < outW) {
        val sx = x * img.width / outW
        val si = (sy * img.width + sx) * 3
        val di = (y * outW + x) * 3
        out(di) = img.rgb(si); out(di + 1) = img.rgb(si + 1); out(di + 2) = img.rgb(si + 2)
        x += 1
      }
      y += 1
    }
    PpmImage(outW, outH, out)
  }

  private def channelMeans(img: PpmImage): (Double, Double, Double) = {
    var r = 0L; var g = 0L; var b = 0L
    var i = 0
    while (i < img.rgb.length) {
      r += img.rgb(i) & 0xFF; g += img.rgb(i + 1) & 0xFF; b += img.rgb(i + 2) & 0xFF
      i += 3
    }
    val n = math.max(img.rgb.length / 3, 1).toDouble
    (r / n, g / n, b / n)
  }

  /** The media frame with REAL image payloads: a valid PPM per document,
    * pixels a deterministic function of (doc_id, x, y). */
  def ppmFrame(spark: SparkSession, dir: String): Dataset[(Long, Array[Byte])] = {
    import spark.implicits._
    Tables.t(spark, dir, "documents").select("doc_id").as[Long]
      .mapPartitions(_.map { id =>
        val w = 8 + (id % 9).toInt  // 8..16
        val h = 8 + (id % 7).toInt  // 8..14
        id -> encodePpm(w, h, (x, y) => {
          val v = mix(id * 1000003L + y * 1024L + x)
          (((v >>> 16) & 0xFF).toInt, ((v >>> 24) & 0xFF).toInt, ((v >>> 32) & 0xFF).toInt)
        })
      })
  }

  /** m_image_decode: binary PPM → parsed dims + per-channel means +
    * BT.601 luminance. Every number comes from real pixel bytes that
    * passed a real header parse. Rows-only + exactness specs. */
  def mImageDecode(spark: SparkSession, dir: String): DataFrame =
    imageFeaturesOn(ppmFrame(spark, dir))

  /** PPM decode + channel statistics over any (id, payload) dataset —
    * graft.api.MediaApi's entry point; partition-local decode, narrow. */
  def imageFeaturesOn(d: Dataset[(Long, Array[Byte])]): DataFrame = {
    val spark = d.sparkSession
    import spark.implicits._
    d.mapPartitions(_.map { case (id, payload) =>
        val img = decodePpm(payload)
        val (r, g, b) = channelMeans(img)
        (id, img.width, img.height, r, g, b,
          0.299 * r + 0.587 * g + 0.114 * b)
      })
      .toDF("doc_id", "width", "height", "mean_r", "mean_g", "mean_b", "luma")
      .select(col("doc_id"), col("width"), col("height"),
        round(col("mean_r"), 4).as("mean_r"), round(col("mean_g"), 4).as("mean_g"),
        round(col("mean_b"), 4).as("mean_b"), round(col("luma"), 4).as("luma"))
      .transform(decodedOnce)
      .orderBy("doc_id")
  }

  /** m_image_resize: decode → REAL half-resolution nearest-neighbor resize
    * → re-encode → decode AGAIN (the round trip proves the re-encoded file
    * is itself valid). Payload shrinks 4× partition-locally before
    * anything downstream would shuffle — the resize-early shape. */
  def mImageResize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    ppmFrame(spark, dir)
      .mapPartitions(_.map { case (id, payload) =>
        val img = decodePpm(payload)
        val half = resizePpmNearest(img, math.max(img.width / 2, 1),
          math.max(img.height / 2, 1))
        val again = decodePpm(encodePpm(half.width, half.height,
          (x, y) => {
            val i = (y * half.width + x) * 3
            ((half.rgb(i) & 0xFF, half.rgb(i + 1) & 0xFF, half.rgb(i + 2) & 0xFF))
          }))
        val (r, g, b) = channelMeans(again)
        (id, again.width, again.height, again.rgb.length, r, g, b)
      })
      .toDF("doc_id", "width", "height", "n_bytes", "mean_r", "mean_g", "mean_b")
      .select(col("doc_id"), col("width"), col("height"), col("n_bytes"),
        round(col("mean_r"), 4).as("mean_r"), round(col("mean_g"), 4).as("mean_g"),
        round(col("mean_b"), 4).as("mean_b"))
      .transform(decodedOnce)
      .orderBy("doc_id")
  }

  /** A valid 16-bit mono PCM WAV: RIFF/WAVE with fmt + a junk LIST chunk
    * (so decoders must actually walk chunks, not hardcode offsets) + data. */
  def encodeWav(sampleRate: Int, samples: Array[Short]): Array[Byte] = {
    val junk = "graft".getBytes("US-ASCII")
    // RIFF word-alignment: odd-length chunk data carries a pad byte that is
    // NOT counted in the chunk length (the rule the decoder must honor)
    val pad = junk.length & 1
    val dataLen = samples.length * 2
    val riffLen = 4 + (8 + 16) + (8 + junk.length + pad) + (8 + dataLen)
    val bb = java.nio.ByteBuffer.allocate(8 + riffLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(riffLen)
      .put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1) // PCM, mono
      .putInt(sampleRate).putInt(sampleRate * 2)
      .putShort(2).putShort(16) // block align, bits
    bb.put("LIST".getBytes("US-ASCII")).putInt(junk.length).put(junk)
    if (pad == 1) bb.put(0.toByte)
    bb.put("data".getBytes("US-ASCII")).putInt(dataLen)
    samples.foreach(bb.putShort)
    bb.array()
  }

  final case class WavAudio(sampleRate: Int, samples: Array[Short])

  /** REAL RIFF parser: validates magics, walks chunks (skipping unknown
    * ones, honoring the odd-length pad rule), reads fmt fields, extracts
    * little-endian 16-bit samples. */
  def decodeWav(bytes: Array[Byte]): WavAudio = {
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def fourcc(): String = {
      val b = new Array[Byte](4); bb.get(b); new String(b, "US-ASCII")
    }
    require(fourcc() == "RIFF", "not a RIFF file")
    bb.getInt // riff size
    require(fourcc() == "WAVE", "not a WAVE file")
    var sampleRate = -1
    var samples: Array[Short] = null
    while (bb.remaining() >= 8) {
      val id = fourcc(); val len = bb.getInt
      // validate the declared length up front: a corrupt/truncated file must
      // fail the decoder's IllegalArgumentException contract, not surface a
      // raw BufferUnderflow/NegativeArraySize from deeper in
      require(len >= 0 && len <= bb.remaining(),
        s"chunk '$id' declares $len bytes but ${bb.remaining()} remain")
      id match {
        case "fmt " =>
          require(len >= 16, s"fmt chunk too short: $len")
          val fmt = bb.getShort; val ch = bb.getShort
          sampleRate = bb.getInt
          bb.getInt; bb.getShort
          val bits = bb.getShort
          require(fmt == 1 && ch == 1 && bits == 16,
            s"unsupported WAV: fmt=$fmt ch=$ch bits=$bits")
          bb.position(bb.position() + (len - 16))
        case "data" =>
          samples = Array.fill(len / 2)(bb.getShort)
        case _ => // unknown chunk: skip (+ pad byte for odd lengths)
          bb.position(bb.position() + math.min(len + (len & 1), bb.remaining()))
      }
    }
    require(sampleRate > 0 && samples != null, "missing fmt or data chunk")
    WavAudio(sampleRate, samples)
  }

  /** m_audio_decode: WAV payload → RIFF walk → sample statistics (count,
    * RMS, peak, zero-crossing rate — the standard audio-QC features).
    * Payloads are deterministic sinusoids with doc-dependent frequency and
    * amplitude. Rows-only + exactness specs on hand-built files. */
  def mAudioDecode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    audioFeaturesOn(
      Tables.t(spark, dir, "documents").select("doc_id").as[Long]
        .mapPartitions(_.map { id =>
          val n = 256 + (id % 8).toInt * 32
          val freq = 100.0 + (id % 40).toDouble * 10.0
          val amp = 8000.0 + (id % 10).toDouble * 2000.0
          val wave = Array.tabulate(n)(i =>
            (amp * math.sin(2 * math.Pi * freq * i / 8000.0)).toShort)
          id -> encodeWav(8000, wave)
        }))
  }

  /** WAV decode + RMS/peak/ZCR over any (id, payload) dataset —
    * graft.api.MediaApi's entry point; partition-local decode, narrow. */
  def audioFeaturesOn(d: Dataset[(Long, Array[Byte])]): DataFrame = {
    val spark = d.sparkSession
    import spark.implicits._
    d.map { case (id, payload) =>
        val audio = decodeWav(payload)
        val s = audio.samples
        var sumSq = 0.0; var peak = 0; var crossings = 0
        var i = 0
        while (i < s.length) {
          val v = s(i).toInt
          sumSq += v.toDouble * v
          if (math.abs(v) > peak) peak = math.abs(v)
          if (i > 0 && ((s(i - 1) < 0) != (v < 0))) crossings += 1
          i += 1
        }
        (id, audio.sampleRate, s.length,
          math.sqrt(sumSq / math.max(s.length, 1)), peak,
          crossings.toDouble / math.max(s.length - 1, 1))
      }
      .toDF("doc_id", "sample_rate", "n_samples", "rms", "peak", "zcr")
      .select(col("doc_id"), col("sample_rate"), col("n_samples"),
        round(col("rms"), 4).as("rms"), col("peak"), round(col("zcr"), 4).as("zcr"))
      .transform(decodedOnce)
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------- m_video_decode
  /** REAL video decode — Y4M (YUV4MPEG2), the uncompressed video container
    * every ffmpeg pipeline can emit, and like PPM/WAV fully parseable
    * without a codec library: a space-delimited ASCII stream header
    * (`YUV4MPEG2 W.. H.. F..:.. ...`), then per frame a `FRAME` marker
    * line followed by raw planar YUV 4:2:0 (Y = w·h bytes, U and V =
    * (w/2)·(h/2) each). The decoder validates the magic, parses tagged
    * header tokens (unknown tags skipped, per spec), walks frame markers,
    * and checks every plane length. Completes the REAL-decoder triple:
    * PPM image, WAV audio, Y4M video. */
  final case class Y4mClip(width: Int, height: Int, fpsNum: Int, fpsDen: Int,
      frames: Array[Array[Byte]]) // luma planes only (chroma validated+skipped)

  def encodeY4m(w: Int, h: Int, nFrames: Int,
      luma: (Int, Int, Int) => Int): Array[Byte] = {
    val header = s"YUV4MPEG2 W$w H$h F25:1 Ip A1:1 C420jpeg\n".getBytes("US-ASCII")
    val frameHdr = "FRAME\n".getBytes("US-ASCII")
    val cw = w / 2; val ch = h / 2
    val out = new java.io.ByteArrayOutputStream()
    out.write(header)
    var f = 0
    while (f < nFrames) {
      out.write(frameHdr)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { out.write(luma(f, x, y) & 0xFF); x += 1 }
        y += 1
      }
      // neutral chroma planes (128 = grey) — validated by length on decode
      var i = 0
      while (i < 2 * cw * ch) { out.write(128); i += 1 }
      f += 1
    }
    out.toByteArray
  }

  def decodeY4m(bytes: Array[Byte]): Y4mClip = {
    val nl = bytes.indexOf('\n'.toByte)
    require(nl > 0, "no Y4M stream header")
    val header = new String(bytes, 0, nl, "US-ASCII")
    val toks = header.split(" ")
    require(toks.head == "YUV4MPEG2", s"bad Y4M magic: ${toks.head}")
    var w = -1; var h = -1; var fn = 25; var fd = 1
    toks.tail.foreach { t =>
      if (t.nonEmpty) t.charAt(0) match {
        case 'W' => w = t.drop(1).toInt
        case 'H' => h = t.drop(1).toInt
        case 'F' =>
          val p = t.drop(1).split(":"); fn = p(0).toInt; fd = p(1).toInt
        case _ => () // Ip / A / C / X tags — valid, not needed here
      }
    }
    require(w > 0 && h > 0, s"missing W/H in Y4M header: $header")
    require(w % 2 == 0 && h % 2 == 0, "4:2:0 needs even dimensions")
    val frameBytes = w * h + 2 * (w / 2) * (h / 2)
    val frames = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    var i = nl + 1
    while (i < bytes.length) {
      var j = i
      while (j < bytes.length && bytes(j) != '\n'.toByte) j += 1
      val marker = new String(bytes, i, j - i, "US-ASCII")
      require(marker.startsWith("FRAME"), s"expected FRAME marker, got '$marker'")
      require(bytes.length - (j + 1) >= frameBytes,
        s"truncated frame: ${bytes.length - j - 1} of $frameBytes bytes")
      frames += java.util.Arrays.copyOfRange(bytes, j + 1, j + 1 + w * h)
      i = j + 1 + frameBytes
    }
    Y4mClip(w, h, fn, fd, frames.toArray)
  }

  /** Per-doc deterministic clip: 3–6 frames of a moving gradient. */
  def y4mFrame(spark: SparkSession, dir: String): Dataset[(Long, Array[Byte])] = {
    import spark.implicits._
    Tables.t(spark, dir, "documents").select("doc_id").as[Long]
      .mapPartitions(_.map { id =>
        val w = 8 + 2 * (id % 3).toInt   // 8/10/12, even
        val h = 8 + 2 * ((id / 3) % 2).toInt
        val n = 3 + (id % 4).toInt
        id -> encodeY4m(w, h, n,
          (f, x, y) => ((mix(id) & 0x7F) + 4 * f + 2 * x + y).toInt & 0xFF)
      })
  }

  /** m_video_decode: parse the Y4M container for real — stream header,
    * frame markers, plane lengths — then per-clip stats a video pipeline
    * filters on: frame count, fps, mean luma of first/last frame, and the
    * mean absolute inter-frame luma delta (the scene-change signal).
    * Decode is partition-local (the multimodal charter); rows-only +
    * byte-exact round-trip and malformed-input specs. */
  def mVideoDecode(spark: SparkSession, dir: String): DataFrame =
    videoFeaturesOn(y4mFrame(spark, dir))

  /** Y4M decode + per-clip statistics (dimensions, fps, first/last-frame
    * luma, mean inter-frame delta) over any (id, payload) dataset —
    * graft.api.MediaApi's entry point; partition-local decode. */
  def videoFeaturesOn(d: Dataset[(Long, Array[Byte])]): DataFrame = {
    val spark = d.sparkSession
    import spark.implicits._
    d.mapPartitions(_.map { case (id, payload) =>
        val c = decodeY4m(payload)
        def mean(p: Array[Byte]): Double = {
          var s = 0L; var i = 0
          while (i < p.length) { s += p(i) & 0xFF; i += 1 }
          s.toDouble / p.length
        }
        var dsum = 0.0; var dn = 0
        var f = 1
        while (f < c.frames.length) {
          val a = c.frames(f - 1); val b = c.frames(f)
          var i = 0; var s = 0L
          while (i < a.length) { s += math.abs((a(i) & 0xFF) - (b(i) & 0xFF)); i += 1 }
          dsum += s.toDouble / a.length; dn += 1; f += 1
        }
        (id, c.width, c.height, c.frames.length,
          c.fpsNum.toDouble / c.fpsDen,
          mean(c.frames.head), mean(c.frames.last),
          if (dn == 0) 0.0 else dsum / dn)
      })
      .toDF("doc_id", "width", "height", "n_frames", "fps",
        "luma_first", "luma_last", "mean_frame_delta")
      .select(col("doc_id"), col("width"), col("height"), col("n_frames"),
        col("fps"), round(col("luma_first"), 4).as("luma_first"),
        round(col("luma_last"), 4).as("luma_last"),
        round(col("mean_frame_delta"), 4).as("mean_frame_delta"))
      .transform(decodedOnce)
      .orderBy("doc_id")
  }

  // ----------------------------------------------------------- m_phash_dedup
  /** Perceptual-hash image dedup — the multimodal counterpart of d_simhash,
    * over the REAL PPM decode path: aHash (resize to an 8×8 grid with the
    * real nearest-neighbor kernel, threshold luma at the grid mean → 64
    * bits), then the d_simhash chunk-pigeonhole blocking (4×16-bit chunks;
    * hamming ≤ 3 ⇒ some chunk equal) and the native `hamming_distance`
    * verify. aHash is what makes this PERCEPTUAL: the planted duplicates
    * are re-encodes at 2× resolution with a +3 brightness shift and two
    * corrupted blocks — byte-level hashing (d_exact on the payload) finds
    * none of them, while aHash is invariant to both transforms by
    * construction (scaling resamples the same block grid; a uniform
    * brightness shift moves every luma AND the mean together) and the two
    * corrupted blocks surface as hamming exactly 2.
    *
    * The test images are block-structured (an 8×8 pattern painted at
    * 8m×8n resolution) so the scale-invariance claim is exact, not
    * approximate — the spec asserts recall AND hamming values precisely.
    * 100 TB shape: decode + hash are partition-local mapPartitions (the
    * one imperative stage, per the multimodal charter), everything after
    * is the audited d_simhash join geometry — blocking bounded by chunk
    * buckets, no O(n²).
    *
    * Hot-chunk handling (same class as d_simhash's): a POPULAR 16-bit
    * chunk value makes a hot join key — the canonical case is uniform
    * images (a flat color hashes to aHash 0, so ALL uniform images share
    * all four chunk buckets). [[phashPairs]] pre-aggregates EXACT hash
    * duplicates (groupBy ahash → sorted member list) so k identical images
    * cost ONE row in the chunk join, their C(k,2) hamming-0 pairs coming
    * from a per-group expansion instead of k² join rows; residual
    * distinct-hash skew is split by AQE skew-join (audited in
    * PlanAuditSpec for the shared geometry). MultimodalSpec's
    * uniform-image skew test pins the correctness side (exactly
    * C(k,2)·hamming-0 pairs, no chunk double-count). */
  def phashFrame(spark: SparkSession, dir: String): Dataset[(Long, Array[Byte])] = {
    import spark.implicits._
    Tables.t(spark, dir, "documents").select("doc_id").as[Long]
      .flatMap { id =>
        def bit(bx: Int, by: Int): Boolean =
          (mix(id * 8191L + by * 8L + bx) & 1L) == 1L
        def img(scale: Int, shift: Int, corrupt: Boolean): Array[Byte] = {
          val w = 8 * (1 + (id % 2).toInt) * scale
          val h = 8 * (1 + ((id / 2) % 2).toInt) * scale
          encodePpm(w, h, (x, y) => {
            val bx = x * 8 / w; val by = y * 8 / h
            val inv = corrupt && ((bx == 0 && by == 0) || (bx == 7 && by == 7))
            val v = (if (bit(bx, by) ^ inv) 200 else 50) + shift
            (v, v, v)
          })
        }
        val orig = Seq(id -> img(1, 0, corrupt = false))
        if (id % 10 == 0)
          orig :+ ((id + 3000000L) -> img(2, 3, corrupt = true))
        else orig
      }
  }

  /** Average hash: real resize to 8×8, luma thresholded at the grid mean. */
  def aHash(bytes: Array[Byte]): Long = {
    val g = resizePpmNearest(decodePpm(bytes), 8, 8)
    val lum = Array.tabulate(64) { i =>
      0.299 * (g.rgb(i * 3) & 0xFF) + 0.587 * (g.rgb(i * 3 + 1) & 0xFF) +
        0.114 * (g.rgb(i * 3 + 2) & 0xFF)
    }
    val mean = lum.sum / 64
    (0 until 64).foldLeft(0L)((acc, k) =>
      if (lum(k) > mean) acc | (1L << k) else acc)
  }

  /** Chunk-pigeonhole pair generation over a (doc_id, ahash) frame —
    * factored from [[mPhashDedup]] so the uniform-image (hot-chunk) skew
    * spec can drive it with a planted hash frame directly.
    *
    * EXACT-duplicate pre-aggregation (ADVICE r10 — previously only a
    * deployment note): images are grouped by ahash first, so the chunk
    * self-join runs over DISTINCT hashes — k byte-identical-hash images
    * cost ONE row per chunk bucket instead of k, collapsing the former
    * ~4k²/2 hot-bucket join rows to 4 per chunk. Their C(k,2) hamming-0
    * pairs (inherent output — identical images ARE mutual dups) are
    * enumerated per group with a slice/explode expansion that never enters
    * the join; cross-group pairs expand member lists only AFTER the
    * hamming≤3 filter on the distinct-hash pair, i.e. exactly the rows the
    * output needs. The per-group member array is bounded by the group
    * size — at any k where that array is a concern, the C(k,2) output
    * itself dominates it quadratically. */
  private[graft] def phashPairs(hashes: DataFrame): DataFrame = {
    val groups = hashes.groupBy("ahash")
      .agg(sort_array(collect_list("doc_id")).as("members"))
    // intra-group: identical hashes are hamming-0 pairs by definition —
    // sorted members make doc_a < doc_b structural
    val intra = groups.filter(size(col("members")) >= 2)
      .select(col("members"), posexplode(col("members")).as(Seq("i", "doc_a")))
      .select(col("doc_a"),
        explode(slice(col("members"), col("i") + lit(2),
          size(col("members")))).as("doc_b"),
        lit(0).as("hamming"))
    // cross-group: chunk-pigeonhole join over distinct hashes only
    val chunks = groups.select(col("ahash"), col("members"),
      posexplode(array((0 until 4).map(i =>
        shiftrightunsigned(col("ahash"), i * 16).bitwiseAND(lit(0xFFFFL))): _*))
        .as(Seq("chunk_id", "chunk_val")))
    val cross = chunks.as("x").join(chunks.as("y"),
        col("x.chunk_id") === col("y.chunk_id") &&
          col("x.chunk_val") === col("y.chunk_val") &&
          col("x.ahash") < col("y.ahash"))
      .select(col("x.members").as("ma"), col("y.members").as("mb"),
        expr("hamming_distance(x.ahash, y.ahash)").as("hamming"))
      .filter(col("hamming") <= 3)
      .distinct()
      .select(explode(col("ma")).as("a"), col("mb"), col("hamming"))
      .select(col("a"), explode(col("mb")).as("b"), col("hamming"))
      .select(least(col("a"), col("b")).as("doc_a"),
        greatest(col("a"), col("b")).as("doc_b"), col("hamming"))
    intra.unionAll(cross).orderBy("doc_a", "doc_b")
  }

  /** Per-image 64-bit average hash over any (id, PPM payload) dataset —
    * the MediaApi building block for image near-dup (decode + 8×8
    * downsample + mean threshold, partition-local). */
  def aHashOn(d: Dataset[(Long, Array[Byte])]): DataFrame = {
    val spark = d.sparkSession
    import spark.implicits._
    d.mapPartitions(_.map { case (id, bytes) => (id, aHash(bytes)) })
      .toDF("doc_id", "ahash")
  }

  def mPhashDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // Both sides of the chunk self-join read the hashes, and AQE runs them
    // as concurrent stages: a lazily stored frame let two tasks compute the
    // same block ("Block rdd_… already exists"). Pinned eagerly, the
    // blocks exist before either side starts.
    val hashes = Checkpoints.pin(aHashOn(phashFrame(spark, dir)), eager = true)
    // The hash frame (corpus-sized: one long per image) must not outlive
    // the query — ADVICE r9 flagged the session-lifetime leak in a long
    // Verify run. Pin the (tiny, dup-pairs-sized) result eagerly, then
    // release the hash frame; the returned plan reads only the pinned rows.
    val out = Checkpoints.pin(phashPairs(hashes), eager = true)
    Checkpoints.release(hashes)
    out
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "m_decode_stub" -> (mDecodeStub _), "m_resize_stub" -> (mResizeStub _),
    "m_frame_sample" -> (mFrameSample _),
    "m_image_decode" -> (mImageDecode _), "m_image_resize" -> (mImageResize _),
    "m_audio_decode" -> (mAudioDecode _), "m_phash_dedup" -> (mPhashDedup _),
    "m_video_decode" -> (mVideoDecode _))

  val oracle: Map[String, String] = Map.empty
}
