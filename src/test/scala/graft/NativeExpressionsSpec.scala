package graft

import graft.operators.NativeOps
import org.apache.spark.sql.functions._

/** §2.10 native expressions: edge cases + proof they run inside whole-stage
  * codegen (no fallback interpretation, no UDF). */
class NativeExpressionsSpec extends SparkSpec {

  private def one(sql: String) =
    spark.sql(s"SELECT $sql AS v").collect().head

  test("z_interleave equals the HOF aggregate fold it replaced, for the " +
    "full 10-bit bucket range and beyond") {
    // the old sink_zorder spelling, kept verbatim as the equality oracle
    val fold =
      """aggregate(sequence(0, 9), 0L, (acc, i) -> acc
        |  + shiftleft(shiftright(cb, i) & 1L, i + i)
        |  + shiftleft(shiftright(sb, i) & 1L, i + i + 1))""".stripMargin
    val pairs = spark.range(0, 2000).selectExpr(
      "CAST(pmod(hash(id), 1024) AS BIGINT) AS cb",
      "CAST(pmod(hash(id + 7919), 1024) AS BIGINT) AS sb")
    val diff = pairs.selectExpr(s"($fold) AS a", "z_interleave(cb, sb) AS b")
      .where("a <> b").count()
    assert(diff == 0L, "native interleave diverged from the fold")
    // boundary values
    assert(one("z_interleave(0L, 0L)").getLong(0) == 0L)
    assert(one("z_interleave(1023L, 0L)").getLong(0) == 0x55555L)
    assert(one("z_interleave(0L, 1023L)").getLong(0) == 0xAAAAAL)
    // 32-bit capacity: bit 31 of each arg lands at 62/63
    assert(one("z_interleave(2147483648L, 2147483648L)").getLong(0) ==
      (1L << 62 | 1L << 63))
  }

  test("gcd/lcm edge cases match number theory") {
    assert(one("gcd(0L, 0L)").getLong(0) == 0L)
    assert(one("gcd(0L, 7L)").getLong(0) == 7L)
    assert(one("gcd(-12L, 18L)").getLong(0) == 6L)
    assert(one("lcm(0L, 5L)").getLong(0) == 0L)
    assert(one("lcm(-4L, 6L)").getLong(0) == 12L)
    assert(one("gcd(CAST(NULL AS BIGINT), 3L)").isNullAt(0))
  }

  test("lcm overflow raises an explicit error instead of wrapping") {
    // 2^40 and 3·2^40 are fine; two coprime ~2^40 values overflow
    assert(one("lcm(1099511627776L, 3298534883328L)").getLong(0) == 3298534883328L)
    val e = intercept[Exception](one("lcm(1099511627777L, 1099511627779L)"))
    assert(e.getMessage != null)
  }

  test("date_bin_us rejects non-positive widths with a clear message") {
    val e = intercept[Exception](
      one("date_bin_us(0L, TIMESTAMP '1995-01-01 00:00:00', TIMESTAMP '1995-01-01 00:00:00')"))
    assert(e.getMessage.contains("positive") ||
      e.getCause != null && e.getCause.getMessage.contains("positive"), e.getMessage)
  }

  test("rolling_fingerprint: equal strings equal, order-sensitive, null-safe") {
    assert(one("rolling_fingerprint('a b c')").getLong(0) ==
      one("rolling_fingerprint('a b c')").getLong(0))
    assert(one("rolling_fingerprint('a b c')").getLong(0) !=
      one("rolling_fingerprint('c b a')").getLong(0))
    assert(one("rolling_fingerprint('ab c')").getLong(0) !=
      one("rolling_fingerprint('a bc')").getLong(0))
    assert(one("rolling_fingerprint(CAST(NULL AS STRING))").isNullAt(0))
  }

  test("word_shingles/char_shingles: counts, set semantics, width edge cases") {
    val ws = one("word_shingles('a b c d', 3)").getSeq[Long](0)
    assert(ws.length == 2) // (a b c), (b c d)
    assert(ws == ws.sorted && ws.distinct == ws)
    // too-short text → empty, not null
    assert(one("word_shingles('a b', 3)").getSeq[Long](0).isEmpty)
    // repeated shingles dedup: "x y z x y z x y z" has non-distinct 3-grams
    val rep = one("word_shingles('x y z x y z x y z', 3)").getSeq[Long](0)
    assert(rep.length == 3, s"expected 3 distinct shingles, got ${rep.length}")
    val cs = one("char_shingles('abcdef', 5)").getSeq[Long](0)
    assert(cs.length == 2) // abcde, bcdef
    assert(one("char_shingles('abc', 5)").getSeq[Long](0).isEmpty)
  }

  test("minhash_sig: deterministic, set-based, bounded-min under union") {
    val a = one("minhash_sig(word_shingles('the quick brown fox jumps', 3), 128)").getSeq[Long](0)
    val a2 = one("minhash_sig(word_shingles('the quick brown fox jumps', 3), 128)").getSeq[Long](0)
    assert(a.length == 128 && a == a2)
    // signature of a superset is element-wise unsigned-≤ the subset's
    val sup = one("minhash_sig(word_shingles('the quick brown fox jumps over dogs', 3), 128)").getSeq[Long](0)
    assert(a.zip(sup).forall { case (x, y) =>
      java.lang.Long.compareUnsigned(y, x) <= 0 })
    // disjoint texts give (w.h.p.) different signatures
    val b = one("minhash_sig(word_shingles('entirely different words here now', 3), 128)").getSeq[Long](0)
    assert(a != b)
  }

  test("l2_normalize: unit norm, zero-vector guard, direction preserved") {
    val u = one("l2_normalize(array(3.0F, 4.0F))").getSeq[Double](0)
    assert(math.abs(u(0) - 0.6) < 1e-12 && math.abs(u(1) - 0.8) < 1e-12)
    val z = one("l2_normalize(array(0.0F, 0.0F))").getSeq[Double](0)
    assert(z == Seq(0.0, 0.0))
  }

  test("quantize_int8: codes within [-127,127], dequantize error bounded by scale/2") {
    val r = one("quantize_int8(array(1.0F, -0.5F, 0.25F, 0.0F))")
    val s = r.getStruct(0)
    val scale = s.getDouble(0)
    val codes = s.getSeq[Int](1)
    assert(math.abs(scale - 1.0 / 127.0) < 1e-12)
    assert(codes.forall(c => c >= -127 && c <= 127))
    val orig = Seq(1.0, -0.5, 0.25, 0.0)
    codes.zip(orig).foreach { case (c, x) =>
      assert(math.abs(c * scale - x) <= scale / 2 + 1e-12,
        s"dequant error for $x: code $c scale $scale") }
  }

  test("topk_pairs keeps the k best pairs, best-first, deterministic ties") {
    import spark.implicits._
    val df = Seq((1L, 10L, 0.5), (1L, 11L, 0.9), (1L, 12L, 0.9), (1L, 13L, 0.1),
      (2L, 20L, 0.3)).toDF("qid", "vid", "cos")
    val rows = df.groupBy("qid")
      .agg(org.apache.spark.sql.functions.expr("topk_pairs(cos, vid, 2)").as("t"))
      .orderBy("qid").collect()
    val q1 = rows(0).getSeq[org.apache.spark.sql.Row](1)
    assert(q1.map(r => (r.getDouble(0), r.getLong(1))) ==
      Seq((0.9, 11L), (0.9, 12L)), s"got $q1") // tie → lower vid first
    val q2 = rows(1).getSeq[org.apache.spark.sql.Row](1)
    assert(q2.map(_.getLong(1)) == Seq(20L))
  }

  test("hamming_distance identity, symmetry, known value") {
    assert(one("hamming_distance(5L, 5L)").getInt(0) == 0)
    assert(one("hamming_distance(0L, -1L)").getInt(0) == 64)
    assert(one("hamming_distance(5L, 3L)").getInt(0) == 2)
  }

  test("cosine_similarity known values and zero-norm guard") {
    val r = one("cosine_similarity(array(1.0F, 0.0F), array(0.0F, 1.0F))")
    assert(math.abs(r.getDouble(0)) < 1e-12)
    val same = one("cosine_similarity(array(1.0F, 2.0F), array(2.0F, 4.0F))")
    assert(math.abs(same.getDouble(0) - 1.0) < 1e-12)
    val zero = one("cosine_similarity(array(0.0F, 0.0F), array(1.0F, 1.0F))")
    assert(zero.getDouble(0) == 0.0)
  }

  test("inner_product and l2_distance known values (the ip/l2 metric kernels)") {
    val ip = one("inner_product(array(1.0F, 2.0F), array(3.0F, 4.0F))")
    assert(math.abs(ip.getDouble(0) - 11.0) < 1e-12)
    val ortho = one("inner_product(array(1.0F, 0.0F), array(0.0F, 1.0F))")
    assert(ortho.getDouble(0) == 0.0)
    val l2 = one("l2_distance(array(1.0F, 2.0F), array(4.0F, 6.0F))")
    assert(math.abs(l2.getDouble(0) - 5.0) < 1e-12)
    val self = one("l2_distance(array(1.5F, -2.5F), array(1.5F, -2.5F))")
    assert(self.getDouble(0) == 0.0)
  }

  test("nearest_centroid metric arg: l2 picks the closest, ip the largest " +
    "dot, 3-arg form stays cosine; bad metric errors loudly") {
    // cell 0 = (3,0) (long, near x-axis), cell 1 = (0,1) (unit, y-axis)
    val m = "array(3.0F, 0.0F, 0.0F, 1.0F)"
    val v = "array(0.5F, 0.8F)" // closer (L2) to cell 1; bigger dot with cell 0
    assert(one(s"nearest_centroid($v, $m, 2, 1)").getInt(0) == 1, "l2")
    assert(one(s"nearest_centroid($v, $m, 2, 2)").getInt(0) == 0, "ip")
    // cosine ignores length: angle to (1,0) vs (0,1) — (0.5,0.8) leans y
    assert(one(s"nearest_centroid($v, $m, 2, 0)").getInt(0) == 1, "cos")
    assert(one(s"nearest_centroid($v, $m, 2)").getInt(0) ==
      one(s"nearest_centroid($v, $m, 2, 0)").getInt(0), "default = cosine")
    val e = intercept[Exception](one(s"nearest_centroid($v, $m, 2, 9)"))
    assert((e.getMessage != null && e.getMessage.contains("metric")) ||
      (e.getCause != null && e.getCause.getMessage.contains("metric")))
  }

  test("pq_table metric arg: neg-squared-l2 table sums to -||q - recon||^2") {
    // m=1 segment, k=2 codes, d=2: books = [(1,0), (0,1)] flattened
    val books = "array(1.0D, 0.0D, 0.0D, 1.0D)"
    val q = "array(0.5D, 0.5D)"
    val dotTab = one(s"pq_table($q, $books, 1, 0)").getSeq[Double](0)
    assert(dotTab == Seq(0.5, 0.5))
    val l2Tab = one(s"pq_table($q, $books, 1, 1)").getSeq[Double](0)
    // -((0.5-1)^2 + 0.5^2) = -0.5 for both codes
    assert(l2Tab.forall(v => math.abs(v - (-0.5)) < 1e-12), l2Tab.toString)
    // pq_score sums the selected entries — the full negated squared L2
    val s = one(s"pq_score(array(0), pq_table($q, $books, 1, 1))")
    assert(math.abs(s.getDouble(0) - (-0.5)) < 1e-12)
    val e = intercept[Exception](one(s"pq_table($q, $books, 1, 7)"))
    assert((e.getMessage != null && e.getMessage.contains("metric")) ||
      (e.getCause != null && e.getCause.getMessage.contains("metric")))
  }

  test("nearest_centroid: argmax cell, ties to highest index, shape errors loud") {
    // 2 cells of dim 2: cell 0 = (1,0), cell 1 = (0,1)
    val m = "array(1.0F, 0.0F, 0.0F, 1.0F)"
    assert(one(s"nearest_centroid(array(0.9F, 0.1F), $m, 2)").getInt(0) == 0)
    assert(one(s"nearest_centroid(array(0.1F, 0.9F), $m, 2)").getInt(0) == 1)
    // exact tie (45°) → highest cell, the greatest(struct) order
    assert(one(s"nearest_centroid(array(1.0F, 1.0F), $m, 2)").getInt(0) == 1)
    // zero-norm query: every score is 0.0 → ties all the way → highest
    assert(one(s"nearest_centroid(array(0.0F, 0.0F), $m, 2)").getInt(0) == 1)
    // model length not a multiple of cells fails loudly, not garbage
    val e = intercept[Exception](
      one(s"nearest_centroid(array(1.0F, 0.0F), array(1.0F, 0.0F, 1.0F), 2)"))
    assert(e.getMessage.contains("nearest_centroid") ||
      e.getCause != null && e.getCause.getMessage.contains("nearest_centroid"))
  }

  test("date_bin_us aligns to origin, incl. pre-origin timestamps") {
    val r = one(
      "date_bin_us(3600000000L, TIMESTAMP '1995-01-01 10:47:33', TIMESTAMP '1995-01-01 00:30:00')")
    assert(r.getTimestamp(0).toString == "1995-01-01 10:30:00.0")
    val pre = one(
      "date_bin_us(3600000000L, TIMESTAMP '1994-12-31 23:45:00', TIMESTAMP '1995-01-01 00:30:00')")
    assert(pre.getTimestamp(0).toString == "1994-12-31 23:30:00.0")
  }

  test("native expressions run inside WholeStageCodegen (no fallback)") {
    val df = Tables.t(spark, sf, "embeddings")
      .select(expr("cosine_similarity(embedding, reverse(embedding))").as("c"))
      .filter(col("c") > -2)
    // whole-stage codegen renders as "*(n)" stage markers in this format
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [cosine_similarity"), s"no codegen span in:\n$plan")
    assert(df.count() > 0) // forces the generated code to actually compile+run
  }

  test("f_native cross-checks interpreted vs codegen paths") {
    // collect() runs codegen; eval() path exercised via literal folding
    val df = NativeOps.fNative(spark, sf)
    val row = df.filter(col("c_custkey") === 6).collect().head
    val nk = Tables.t(spark, sf, "customer").filter(col("c_custkey") === 6)
      .collect().head.getAs[Int]("c_nationkey").toLong
    assert(row.getAs[Long]("g") == graft.functions.Gcd.compute(6L, nk))
    assert(row.getAs[Int]("hd") == java.lang.Long.bitCount(6L ^ nk))
  }

  test("rep_stats: exact counts under split-on-single-space semantics, " +
    "empty tokens from leading/consecutive/trailing spaces included") {
    import spark.implicits._
    def stats(s: String): (Int, Int, Int, Int) = {
      val r = Seq(s).toDF("text")
        .selectExpr("rep_stats(text) AS s")
        .selectExpr("s.n_words", "s.n_distinct", "s.top_word_c", "s.top_bigram_c")
        .collect().head
      (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3))
    }
    assert(stats("a b a b") == ((4, 2, 2, 2)))       // bigram "a b" twice
    assert(stats("a  b") == ((3, 3, 1, 1)))           // [a, "", b]
    assert(stats("a b ") == ((3, 3, 1, 1)))           // trailing empty kept
    assert(stats(" a") == ((2, 2, 1, 1)))             // leading empty kept
    assert(stats("x") == ((1, 1, 1, 0)))              // no bigram
    assert(stats("") == ((1, 1, 1, 0)))               // split("") -> [""]
    assert(stats("w w w w w") == ((5, 1, 5, 4)))      // degenerate repeat
    // cross-check vs Spark's own split-based decomposition on random docs
    val words = Seq("a", "b", "cc", "", "d")
    val rnd = new scala.util.Random(7)
    (1 to 25).foreach { _ =>
      val doc = Seq.fill(1 + rnd.nextInt(30))(words(rnd.nextInt(words.length)))
        .mkString(" ")
      val exp = Seq(doc).toDF("text")
        .selectExpr("split(text, ' ') AS ws")
        .selectExpr("size(ws) AS nw", "size(array_distinct(ws)) AS nd",
          "array_max(transform(array_distinct(ws), w -> size(filter(ws, x -> x = w)))) AS tw")
        .collect().head
      val (nw, nd, tw, _) = stats(doc)
      assert((nw, nd, tw) == ((exp.getInt(0), exp.getInt(1), exp.getInt(2))),
        s"mismatch vs split decomposition on: '$doc'")
    }
  }
}
