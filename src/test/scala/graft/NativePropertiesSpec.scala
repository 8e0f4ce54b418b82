package graft

import graft.functions.{Gcd, Lcm}

/** Property-based checks of the native expression kernels (the Scala compute
  * objects shared by interpreted eval and generated code). Deterministic
  * seeded sampling (the scalatest-scalacheck bridge artifact is not in the
  * offline cache). */
class NativePropertiesSpec extends SparkSpec {

  private def samples: Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(42)
    val edge = Seq(0L, 1L, -1L, 2L, -2L, 999983L, -999983L)
    (for (a <- edge; b <- edge) yield (a, b)) ++
      Seq.fill(500)((rnd.nextLong() % 1000000L, rnd.nextLong() % 1000000L))
  }

  test("gcd: divides both args, commutative, gcd(a,0)=|a|") {
    samples.foreach { case (a: Long, b: Long) =>
      val g = Gcd.compute(a, b)
      assert(g >= 0)
      if (g != 0) assert(a % g == 0 && b % g == 0)
      assert(g == Gcd.compute(b, a))
      assert(Gcd.compute(a, 0) == math.abs(a))
    }
  }

  test("lcm: multiple of both args, lcm*gcd = |a*b|") {
    samples.foreach { case (a: Long, b: Long) =>
      val l = Lcm.compute(a, b)
      if (a != 0 && b != 0) {
        assert(l % a == 0 && l % b == 0)
        assert(l == math.abs(a * b) / Gcd.compute(a, b))
      } else assert(l == 0)
    }
  }

  test("hamming via SQL: symmetric, triangle inequality, zero iff equal") {
    val xs = Seq(0L, 1L, -1L, 5L, 0x00FFL, Long.MaxValue, Long.MinValue, 12345678L)
    val rows = for (a <- xs; b <- xs; c <- Seq(0L, -1L, 77L)) yield (a, b, c)
    import spark.implicits._
    val df = rows.toDF("a", "b", "c")
    val bad = df.selectExpr(
      "hamming_distance(a, b) AS ab", "hamming_distance(b, a) AS ba",
      "hamming_distance(a, c) AS ac", "hamming_distance(c, b) AS cb",
      "a = b AS eq").collect().count { r =>
      val (ab, ba, ac, cb) = (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3))
      !(ab == ba && ab <= ac + cb && ((ab == 0) == r.getBoolean(4)))
    }
    assert(bad == 0)
  }

  test("cosine via SQL: bounded in [-1,1], scale-invariant, self=1") {
    import spark.implicits._
    val vecs = Seq(
      Seq(1f, 2f, 3f), Seq(-1f, 0.5f, 2f), Seq(0.1f, -0.2f, 0.3f), Seq(5f, 5f, 5f))
    val df = (for (a <- vecs; b <- vecs) yield (a, b)).toDF("a", "b")
    val rows = df.selectExpr(
      "cosine_similarity(a, b) AS c",
      "cosine_similarity(transform(a, x -> x * 3.0F), b) AS c_scaled",
      "cosine_similarity(a, a) AS self").collect()
    rows.foreach { r =>
      assert(r.getDouble(0) >= -1.0 - 1e-9 && r.getDouble(0) <= 1.0 + 1e-9)
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-6, "not scale-invariant")
      assert(math.abs(r.getDouble(2) - 1.0) < 1e-9)
    }
  }

  test("date_bin_us: idempotent and aligned to origin + k*width") {
    val df = spark.sql(
      """SELECT date_bin_us(w, ts, o) AS b1,
        |       date_bin_us(w, date_bin_us(w, ts, o), o) AS b2,
        |       unix_micros(date_bin_us(w, ts, o)) - unix_micros(o) AS off, w
        |FROM VALUES
        |  (900000000L, TIMESTAMP '1996-03-05 10:11:12.345678', TIMESTAMP '1996-01-01 00:00:00'),
        |  (3600000000L, TIMESTAMP '1994-12-31 23:59:59', TIMESTAMP '1995-01-01 00:30:00'),
        |  (86400000000L, TIMESTAMP '2000-06-15 13:00:00', TIMESTAMP '1970-01-01 00:00:00')
        |  t(w, ts, o)""".stripMargin).collect()
    df.foreach { r =>
      assert(r.getTimestamp(0) == r.getTimestamp(1), "not idempotent")
      assert(Math.floorMod(r.getLong(2), r.getLong(3)) == 0L, "not origin-aligned")
    }
  }

  test("PPM codec: encode∘decode is the identity over random images") {
    import graft.operators.Multimodal
    val rnd = new scala.util.Random(7)
    (1 to 50).foreach { _ =>
      val w = 1 + rnd.nextInt(24); val h = 1 + rnd.nextInt(24)
      val px = Array.fill(w * h * 3)(rnd.nextInt(256))
      val img = Multimodal.decodePpm(Multimodal.encodePpm(w, h,
        (x, y) => { val i = (y * w + x) * 3; (px(i), px(i + 1), px(i + 2)) }))
      assert(img.width == w && img.height == h)
      assert(img.rgb.map(_ & 0xFF).toSeq == px.toSeq)
      // resize to the same dims is the identity (nearest-neighbor property)
      assert(Multimodal.resizePpmNearest(img, w, h).rgb.toSeq == img.rgb.toSeq)
    }
  }

  test("WAV codec: encode∘decode is the identity over random sample buffers") {
    import graft.operators.Multimodal
    val rnd = new scala.util.Random(11)
    (1 to 50).foreach { _ =>
      val n = 1 + rnd.nextInt(500)
      val rate = 8000 + rnd.nextInt(40000)
      val samples = Array.fill(n)(rnd.nextInt(65536).toShort)
      val audio = Multimodal.decodeWav(Multimodal.encodeWav(rate, samples))
      assert(audio.sampleRate == rate)
      assert(audio.samples.toSeq == samples.toSeq)
    }
  }
}
