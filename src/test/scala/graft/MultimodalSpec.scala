package graft

import graft.operators.{MediaRow, Multimodal}
import org.apache.spark.sql.functions._

/** §2.8: the multimodal plumbing around the stubbed decoder is real —
  * schema, batching, partition preservation, determinism. */
class MultimodalSpec extends SparkSpec {

  test("media frame has the binary payload + typed metadata schema") {
    val df = Multimodal.mediaFrame(spark, sf)
    val types = df.schema.fields.map(f => f.name -> f.dataType.simpleString).toMap
    assert(types("payload") == "binary")
    assert(types("width") == "int" && types("height") == "int")
    assert(df.filter(col("width") < 64 || col("width") >= 512).count() == 0)
  }

  test("m_decode_stub preserves row count and is deterministic") {
    val a = Multimodal.mDecodeStub(spark, sf).collect()
    val b = Multimodal.mDecodeStub(spark, sf).collect()
    assert(a.length == Tables.t(spark, sf, "documents").count())
    assert(a.map(_.toString).toSeq == b.map(_.toString).toSeq)
  }

  test("decode pass is partition-local (no shuffle, partitions preserved)") {
    import spark.implicits._
    // partition count survives the decode pass (narrow transform)
    val media7 = Multimodal.mediaFrame(spark, sf).repartition(7).as[MediaRow]
    assert(Multimodal.decodeAll(media7).rdd.getNumPartitions == 7)
    // and the decode itself introduces no Exchange beyond the scan
    val decoded = Multimodal.decodeAll(Multimodal.mediaFrame(spark, sf).as[MediaRow])
    val plan = decoded.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle in decode:\n$plan")
  }

  test("checksum identifies identical payloads and separates distinct ones") {
    val feats = Multimodal.mDecodeStub(spark, sf)
    val n = feats.count()
    // corpus texts are all distinct → all checksums distinct
    assert(feats.select("checksum").distinct().count() == n)
    // and equal payloads hash equal: decode a copy, join, compare
    val again = Multimodal.mDecodeStub(spark, sf)
      .withColumnRenamed("checksum", "checksum2").select("doc_id", "checksum2")
    assert(feats.join(again, "doc_id")
      .filter(col("checksum") =!= col("checksum2")).count() == 0)
  }

  test("m_resize_stub samples half the bytes; m_frame_sample keeps every 4th frame") {
    val media = Multimodal.mediaFrame(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Array[Byte]]("payload").length).toMap
    Multimodal.mResizeStub(spark, sf).collect().foreach { r =>
      val full = media(r.getAs[Long]("doc_id"))
      assert(r.getAs[Int]("n_sampled") == (full + 1) / 2)
    }
    val frames = Multimodal.mFrameSample(spark, sf)
    frames.collect().groupBy(_.getAs[Long]("doc_id")).foreach { case (id, rows) =>
      val expect = (math.ceil(media(id) / 64.0).toInt + 3) / 4
      assert(rows.length == expect, s"doc $id: ${rows.length} frames, expected $expect")
      assert(rows.forall(_.getAs[Int]("frame_idx") % 4 == 0))
    }
  }

  test("histogram is a probability distribution over byte buckets") {
    val rows = Multimodal.mDecodeStub(spark, sf).collect()
    rows.foreach { r =>
      val h = r.getAs[String]("histogram").split(",").map(_.toDouble)
      assert(h.length == 8 && math.abs(h.sum - 1.0) < 0.01)
      assert(r.getAs[Double]("brightness") >= 0 && r.getAs[Double]("brightness") <= 255)
    }
  }

  test("PPM decoder recovers a hand-built image exactly and rejects junk") {
    // 2x1 image, known pixels, plus a header comment (the format allows it)
    val bytes = "P6\n# test\n2 1\n255\n".getBytes("US-ASCII") ++
      Array[Byte](10, 20, 30, 40, 50, 60)
    val img = Multimodal.decodePpm(bytes)
    assert(img.width == 2 && img.height == 1)
    assert(img.rgb.toSeq == Seq[Byte](10, 20, 30, 40, 50, 60))
    intercept[IllegalArgumentException] {
      Multimodal.decodePpm("JFIF not a ppm".getBytes("US-ASCII"))
    }
    intercept[IllegalArgumentException] { // truncated raster must not decode
      Multimodal.decodePpm("P6\n2 2\n255\n".getBytes("US-ASCII") ++ Array[Byte](1, 2, 3))
    }
  }

  test("nearest-neighbor resize picks exactly the expected source pixels") {
    // 4x4 image whose pixel (x,y) = (16x+y, 0, 0); half-res picks x∈{0,2}, y∈{0,2}
    val img = Multimodal.decodePpm(
      Multimodal.encodePpm(4, 4, (x, y) => (16 * x + y, 0, 0)))
    val half = Multimodal.resizePpmNearest(img, 2, 2)
    val reds = (0 until 4).map(i => half.rgb(i * 3) & 0xFF)
    assert(reds == Seq(0, 32, 2, 34), s"got $reds")
  }

  test("WAV decoder walks RIFF chunks and recovers hand-built samples exactly") {
    val samples = Array[Short](1000, -1000, 32767, -32768, 0)
    val audio = Multimodal.decodeWav(Multimodal.encodeWav(16000, samples))
    assert(audio.sampleRate == 16000)
    assert(audio.samples.toSeq == samples.toSeq,
      "samples must survive the encode/decode round trip bit-exactly")
    intercept[IllegalArgumentException] {
      Multimodal.decodeWav("not riff data....".getBytes("US-ASCII"))
    }
    // a data chunk declaring more bytes than remain must fail the decoder's
    // IllegalArgumentException contract, not a raw BufferUnderflow
    val truncated = Multimodal.encodeWav(8000, Array[Short](1, 2, 3, 4))
      .dropRight(4)
    intercept[IllegalArgumentException] { Multimodal.decodeWav(truncated) }
  }

  test("PPM decoder rejects non-digit header tokens") {
    intercept[IllegalArgumentException] {
      Multimodal.decodePpm("P6\n12a 8\n255\n".getBytes("US-ASCII") ++
        new Array[Byte](169 * 8 * 3))
    }
  }

  test("m_image_decode/resize/audio: real parses, exact dims, deterministic") {
    val dec = Multimodal.mImageDecode(spark, sf).collect()
    assert(dec.nonEmpty)
    dec.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(r.getAs[Int]("width") == 8 + (id % 9).toInt)
      assert(r.getAs[Int]("height") == 8 + (id % 7).toInt)
      val luma = 0.299 * r.getAs[Double]("mean_r") +
        0.587 * r.getAs[Double]("mean_g") + 0.114 * r.getAs[Double]("mean_b")
      assert(math.abs(luma - r.getAs[Double]("luma")) < 0.01)
    }
    val rs = Multimodal.mImageResize(spark, sf).collect()
    rs.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(r.getAs[Int]("width") == (8 + (id % 9).toInt) / 2)
      assert(r.getAs[Int]("height") == (8 + (id % 7).toInt) / 2)
      assert(r.getAs[Int]("n_bytes") ==
        r.getAs[Int]("width") * r.getAs[Int]("height") * 3)
    }
    val au = Multimodal.mAudioDecode(spark, sf).collect()
    au.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(r.getAs[Int]("sample_rate") == 8000)
      assert(r.getAs[Int]("n_samples") == 256 + (id % 8).toInt * 32)
      assert(r.getAs[Int]("peak") <= 8000 + (id % 10).toInt * 2000)
      val zcr = r.getAs[Double]("zcr")
      assert(zcr > 0 && zcr < 0.5, s"doc $id zcr $zcr out of band")
    }
    // decode is a pure function of doc_id → byte-identical reruns
    assert(Multimodal.mAudioDecode(spark, sf).collect().map(_.toString).toSeq ==
      au.map(_.toString).toSeq)
  }

  test("Y4M decoder round-trips a hand-built clip byte-exactly and rejects " +
    "malformed streams") {
    // hand-built 4x2, 2 frames: luma = f*16 + x + y
    val clip = Multimodal.encodeY4m(4, 2, 2, (f, x, y) => f * 16 + x + y)
    val dec = Multimodal.decodeY4m(clip)
    assert(dec.width == 4 && dec.height == 2 && dec.frames.length == 2)
    assert(dec.fpsNum == 25 && dec.fpsDen == 1)
    for (f <- 0 until 2; y <- 0 until 2; x <- 0 until 4)
      assert((dec.frames(f)(y * 4 + x) & 0xFF) == f * 16 + x + y,
        s"luma mismatch at f=$f x=$x y=$y")
    // malformed: bad magic, truncated frame, garbage marker
    intercept[IllegalArgumentException] {
      Multimodal.decodeY4m("NOTY4M W4 H2\n".getBytes("US-ASCII"))
    }
    intercept[IllegalArgumentException] {
      Multimodal.decodeY4m(java.util.Arrays.copyOf(clip, clip.length - 3))
    }
    val garbage = clip.clone()
    val fIdx = new String(clip, "ISO-8859-1").indexOf("FRAME")
    garbage(fIdx) = 'X'.toByte
    intercept[IllegalArgumentException] { Multimodal.decodeY4m(garbage) }
  }

  test("m_video_decode: real container walk — frame counts, fps, and the " +
    "constant inter-frame delta of the synthetic motion") {
    val rows = Multimodal.mVideoDecode(spark, sf).collect()
    val nDocs = Tables.t(spark, sf, "documents").count()
    assert(rows.length.toLong == nDocs)
    rows.foreach { r =>
      val id = r.getLong(0)
      assert(r.getInt(1) == 8 + 2 * (id % 3).toInt, s"doc $id width")
      assert(r.getInt(2) == 8 + 2 * ((id / 3) % 2).toInt, s"doc $id height")
      assert(r.getInt(3) == 3 + (id % 4).toInt, s"doc $id frame count")
      assert(r.getDouble(4) == 25.0)
      // luma = base + 4f + 2x + y (mod 256): wherever no wraparound occurs
      // in the clip, consecutive frames differ by exactly 4 everywhere;
      // wraparound rows make the delta larger, never smaller
      assert(r.getDouble(7) >= 4.0 - 1e-9, s"doc $id delta ${r.getDouble(7)}")
      // and last-frame mean luma exceeds first (same modulo caveat benign
      // here: width<=12, height<=10, base<=127+4*5+2*11+9 < 256-ish; allow
      // equality only if wraparound hit)
      assert(r.getDouble(6) >= r.getDouble(5) - 64.0)
    }
    // determinism
    assert(Multimodal.mVideoDecode(spark, sf).collect().map(_.toString).toSeq ==
      rows.map(_.toString).toSeq)
  }

  test("m_phash_dedup: every 2x-rescaled +3-brightness 2-block-corrupted " +
    "copy found at hamming exactly 2; zero false positives") {
    val pairs = Multimodal.mPhashDedup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val docIds = Tables.t(spark, sf, "documents")
      .select("doc_id").collect().map(_.getLong(0))
    val planted = docIds.filter(_ % 10 == 0)
      .map(id => (id, id + 3000000L)).toSet
    assert(planted.nonEmpty)
    // recall 100%: block-aligned construction makes aHash scale/brightness
    // invariance EXACT, so every planted pair must surface
    val found = pairs.map(p => (p._1, p._2)).toSet
    assert(planted.subsetOf(found),
      s"missed planted pairs: ${planted.diff(found).take(5)}")
    // the two corrupted blocks are the only differing bits
    pairs.filter(p => planted((p._1, p._2))).foreach { p =>
      assert(p._3 == 2, s"pair $p: hamming ${p._3} != 2")
    }
    // precision 100%: distinct docs carry independent random 64-bit
    // patterns — P(hamming<=3) is ~2^-45; any extra pair is a bug
    val extras = found.diff(planted)
    assert(extras.isEmpty, s"false-positive pairs: ${extras.take(5)}")
    // the same copies are INVISIBLE to byte-level exact hashing — the
    // perceptual claim, negatively controlled
    val frame = Multimodal.phashFrame(spark, sf).collect().toMap
    planted.take(5).foreach { case (a, b) =>
      assert(!java.util.Arrays.equals(frame(a), frame(b)),
        "copies must differ at byte level or the control is vacuous")
      assert(Multimodal.aHash(frame(a)) != Multimodal.aHash(frame(b)),
        "corrupted blocks must perturb the hash (hamming 2, not 0)")
    }
  }

  test("m_phash_dedup hot chunk: planted uniform images (all four chunk " +
    "buckets shared) dedup correctly — C(k,2) hamming-0 pairs, no chunk " +
    "double-count") {
    import spark.implicits._
    // k uniform images: flat color → every luma equals the grid mean →
    // aHash 0 for all of them → one hot 16-bit bucket per chunk holding
    // all k rows. Plus decoys with well-separated random patterns.
    val k = 40
    val uniformHash = {
      val px = Multimodal.encodePpm(8, 8, (_, _) => (120, 120, 120))
      Multimodal.aHash(px)
    }
    assert(uniformHash == 0L, "flat image must hash to 0 (no luma > mean)")
    val uniform = (1L to k.toLong).map(id => (id, uniformHash))
    val decoys = (1001L to 1040L).map(id =>
      (id, scala.util.hashing.MurmurHash3.stringHash(id.toString).toLong * 0x9E3779B97F4A7C15L))
    val hashes = (uniform ++ decoys).toDF("doc_id", "ahash")
    val pairs = Multimodal.phashPairs(hashes)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // every uniform pair surfaces exactly once (distinct collapses the 4x
    // chunk multiplicity) at hamming 0
    val uniformPairs = pairs.filter(p => p._1 <= k && p._2 <= k)
    assert(uniformPairs.length == k * (k - 1) / 2,
      s"expected C($k,2)=${k * (k - 1) / 2} uniform pairs, got ${uniformPairs.length}")
    assert(uniformPairs.forall(_._3 == 0), "uniform pairs must be hamming 0")
    // no uniform-decoy or decoy-decoy pair sneaks in through the hot bucket
    assert(pairs.length == uniformPairs.length ||
      pairs.filterNot(p => p._1 <= k && p._2 <= k)
        .forall(p => java.lang.Long.bitCount(
          hashes.filter(col("doc_id") === p._1).head.getLong(1) ^
            hashes.filter(col("doc_id") === p._2).head.getLong(1)) <= 3),
      "non-uniform pair reported outside the hamming<=3 contract")
  }
}
