package graft

import graft.operators.FunctionLib
import org.apache.spark.sql.functions._

/** §2.3 families: run + semantic checks. Value gate = DuckDB oracle except
  * where algorithms are non-portable (a_approx) or DuckDB lacks the builtin
  * (sha224/384/512, sha1, crc32) — those get known-answer tests here. */
class FunctionLibSpec extends SparkSpec {

  FunctionLib.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name runs and returns rows at sf0.001") {
      val df = fn(spark, sf)
      assert(df.columns.nonEmpty && df.count() > 0)
    }
  }

  test("f_trig: circular and hyperbolic identities hold at 6dp") {
    FunctionLib.fTrig(spark, sf).collect().foreach { r =>
      val (sn, cs) = (r.getAs[Double]("sn"), r.getAs[Double]("cs"))
      val (snh, csh) = (r.getAs[Double]("snh"), r.getAs[Double]("csh"))
      assert(math.abs(sn * sn + cs * cs - 1.0) < 1e-5)
      assert(math.abs(csh * csh - snh * snh - 1.0) < 1e-4)
      assert(math.abs(r.getAs[Double]("tn") - sn / cs) < 1e-4)
    }
  }

  test("f_tz: conversion semantics pinned against hand-computed instants " +
    "across the US/EU DST transitions and a half-hour-offset zone — the " +
    "spec-only gate the DuckDB oracle can't provide (SURVEY §7a)") {
    import spark.implicits._
    // (utc instant, expected NY wall, expected Berlin wall, expected
    //  Kolkata wall, expected NY round-trip) — offsets hand-derived from
    // the zone rules: US transition 2021-03-14 07:00 UTC / 2021-11-07
    // 06:00 UTC; EU transition 2021-03-28 01:00 UTC / 2021-10-31 01:00 UTC
    val cases = Seq(
      // pre-spring-forward: NY still EST (-5), Berlin CET (+1)
      ("2021-03-14 06:30:00", "01:30:00", "07:30:00", "12:00:00", true),
      // post-gap: NY 02:30 local never exists — lands at 03:30 EDT (-4)
      ("2021-03-14 07:30:00", "03:30:00", "08:30:00", "13:00:00", true),
      // fall-back FIRST pass of the repeated hour: 01:30 EDT (-4);
      // to_utc resolves the ambiguous wall-clock to the EARLIER offset
      // (java.time overlap rule) = this very instant → round-trips true
      ("2021-11-07 05:30:00", "01:30:00", "06:30:00", "11:00:00", true),
      // SECOND pass: same 01:30 wall-clock, now EST (-5); the reverse
      // mapping picks the first pass → round-trip FALSE by design
      ("2021-11-07 06:30:00", "01:30:00", "07:30:00", "12:00:00", false),
      // EU spring-forward: Berlin 02:30 local never exists → 03:30 CEST
      ("2021-03-28 00:30:00", "20:30:00", "01:30:00", "06:00:00", true),
      ("2021-03-28 01:30:00", "21:30:00", "03:30:00", "07:00:00", true),
      // plain summer instant: NY EDT (-4), Berlin CEST (+2), Kolkata +5:30
      ("2021-06-01 00:00:00", "20:00:00", "02:00:00", "05:30:00", true))
    val got = cases.map(_._1).toDF("s")
      .select(to_timestamp(col("s")).as("ts")) // session is UTC → instants
      .select(col("ts"),
        date_format(from_utc_timestamp(col("ts"), "America/New_York"),
          "HH:mm:ss").as("ny"),
        date_format(from_utc_timestamp(col("ts"), "Europe/Berlin"),
          "HH:mm:ss").as("berlin"),
        date_format(from_utc_timestamp(col("ts"), "Asia/Kolkata"),
          "HH:mm:ss").as("kolkata"),
        (to_utc_timestamp(from_utc_timestamp(col("ts"), "America/New_York"),
          "America/New_York") === col("ts")).as("rt"))
      .collect().map(r => (r.getAs[String]("ny"), r.getAs[String]("berlin"),
        r.getAs[String]("kolkata"), r.getAs[Boolean]("rt")))
    cases.zip(got).foreach { case ((utc, ny, be, ko, rt), (gNy, gBe, gKo, gRt)) =>
      assert(gNy == ny, s"$utc NY wall: got $gNy want $ny")
      assert(gBe == be, s"$utc Berlin wall: got $gBe want $be")
      assert(gKo == ko, s"$utc Kolkata wall: got $gKo want $ko")
      assert(gRt == rt, s"$utc NY round-trip: got $gRt want $rt")
    }
    // the entry itself: every event converts, and round-trip is true for
    // all events whose NY wall-clock avoids the repeated hour (the corpus
    // spans 1995-2000 summer/winter dates — ambiguous instants are rare
    // but not impossible, so assert the overwhelming majority, not all)
    val e = FunctionLib.fTz(spark, sf).cache()
    try {
      val n = e.count()
      assert(n > 0)
      val rtTrue = e.filter(col("ny_round_trip")).count()
      assert(rtTrue >= n - (n / 100),
        s"round-trip true for only $rtTrue/$n events")
      assert(e.filter(col("kolkata_wall").isNull).count() == 0)
    } finally e.unpersist()
    // convert_timezone (reference convert_timezone.slt — the 3-arg NTZ
    // form): re-interprets an NTZ wall-clock from source to target zone;
    // must agree with the from_utc/to_utc composition on the same instants
    val cz = Seq("x").toDF("x").select(
      expr("convert_timezone('UTC', 'America/New_York', " +
        "TIMESTAMP_NTZ '2021-06-01 00:00:00')").cast("string").as("ny"),
      expr("convert_timezone('Asia/Kolkata', 'UTC', " +
        "TIMESTAMP_NTZ '2021-06-01 05:30:00')").cast("string").as("fromK"),
      // 2-arg form: source defaults to the session zone (UTC here)
      expr("convert_timezone('Europe/Berlin', " +
        "TIMESTAMP_NTZ '2021-03-28 00:30:00')").cast("string").as("gap"))
      .collect().head
    assert(cz.getAs[String]("ny") == "2021-05-31 20:00:00")
    assert(cz.getAs[String]("fromK") == "2021-06-01 00:00:00")
    // EU spring-forward: 00:30 UTC = 01:30 CET pre-gap... the transition
    // fires at 01:00 UTC, so this instant is still +1
    assert(cz.getAs[String]("gap") == "2021-03-28 01:30:00")
  }

  test("sha1/sha2-224/384/512 match java.security.MessageDigest; crc32 matches zlib") {
    import spark.implicits._
    val s = "Customer#000000001"
    val row = Seq(s).toDF("x").select(
      sha1(col("x").cast("binary")).as("h1"),
      sha2(col("x").cast("binary"), 224).as("h224"),
      sha2(col("x").cast("binary"), 384).as("h384"),
      sha2(col("x").cast("binary"), 512).as("h512"),
      crc32(col("x").cast("binary")).as("c32")).collect().head

    def jdk(alg: String): String =
      java.security.MessageDigest.getInstance(alg)
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val crc = new java.util.zip.CRC32()
    crc.update(s.getBytes("UTF-8"))

    assert(row.getAs[String]("h1") == jdk("SHA-1"))
    assert(row.getAs[String]("h224") == jdk("SHA-224"))
    assert(row.getAs[String]("h384") == jdk("SHA-384"))
    assert(row.getAs[String]("h512") == jdk("SHA-512"))
    assert(row.getAs[Long]("c32") == crc.getValue)
  }

  test("nanvl/isnan handle actual NaN (not exercised by clean table data)") {
    import spark.implicits._
    val row = Seq(1.0).toDF("x").select(
      isnan(sqrt(lit(-1.0))).as("is_nan"),
      nanvl(sqrt(lit(-1.0)), lit(42.0)).as("repl")).collect().head
    assert(row.getAs[Boolean]("is_nan") && row.getAs[Double]("repl") == 42.0)
  }

  test("a_approx within HLL/quantile-sketch error bounds of exact values") {
    val approx = FunctionLib.aApprox(spark, sf01).collect()
      .map(r => r.getAs[String]("o_orderstatus") -> r).toMap
    val exact = Tables.t(spark, sf01, "orders")
      .groupBy("o_orderstatus")
      .agg(countDistinct("o_custkey").as("cd"),
        percentile(col("o_totalprice"), lit(0.5)).as("p50")).collect()
    exact.foreach { r =>
      val a = approx(r.getAs[String]("o_orderstatus"))
      val cdExact = r.getAs[Long]("cd").toDouble
      val cdApprox = a.getAs[Long]("acd_cust").toDouble
      assert(math.abs(cdApprox - cdExact) / cdExact < 0.05,
        s"HLL err ${cdApprox} vs ${cdExact}")
      val p50Exact = r.getAs[Double]("p50")
      val p50Approx = a.getAs[Double]("ap50")
      assert(math.abs(p50Approx - p50Exact) / p50Exact < 0.05,
        s"approx_percentile err ${p50Approx} vs ${p50Exact}")
      val amed = a.getAs[Double]("amed")
      assert(math.abs(amed - p50Exact) / p50Exact < 0.05,
        s"approx_median err ${amed} vs exact median ${p50Exact}")
    }
  }

  test("a_hll_rollup: unioned daily sketches estimate the true distinct users") {
    val r = FunctionLib.aHllRollup(spark, sf01).collect().head
    val exact = Tables.t(spark, sf01, "events")
      .select(countDistinct("user_id")).collect().head.getLong(0)
    val est = r.getAs[Long]("est_distinct_users")
    assert(math.abs(est - exact).toDouble / exact < 0.05,
      s"sketch union estimate $est vs exact $exact")
    assert(r.getAs[Long]("n_events") ==
      Tables.t(spark, sf01, "events").count())
  }

  test("a_kll_rollup: merged daily quantile sketches land inside the exact " +
    "rank-error band; sketch n is exact through the merge") {
    val r = FunctionLib.aKllRollup(spark, sf01).collect().head
    val ev = Tables.t(spark, sf01, "events")
    def exactQ(p: Double): Double =
      ev.agg(expr(s"percentile(value, $p)")).collect().head.getDouble(0)
    // KLL's guarantee is on RANK, not value: the estimate must sit between
    // the exact quantiles at p ± 3% (k=200 ⇒ ~1.65% rank error, doubled
    // for headroom since merges compound it)
    Seq(0.5 -> "est_p50", 0.9 -> "est_p90", 0.99 -> "est_p99").foreach {
      case (p, c) =>
        val est = r.getAs[Double](c)
        val lo = exactQ(math.max(0.0, p - 0.03))
        val hi = exactQ(math.min(1.0, p + 0.03))
        assert(est >= lo && est <= hi, s"$c=$est outside rank band [$lo, $hi]")
    }
    assert(r.getAs[Long]("n_events") == ev.count())
    // n is EXACT in a KLL sketch and must survive the daily→total merge;
    // the one-shot sketch over raw values sits in the same rank band
    val daily = ev.groupBy(to_date(col("ts")).as("day"))
      .agg(expr("kll_sketch_agg_double(value)").as("sk"))
    val merged = daily.agg(
      expr("kll_sketch_get_n_double(kll_merge_agg_double(sk))").as("n"),
      expr("kll_sketch_get_quantile_double(kll_merge_agg_double(sk), 0.9)").as("q90"))
      .collect().head
    assert(merged.getAs[Long]("n") == ev.count(),
      "sketch n must be exact through the merge")
    val oneShot = ev.agg(expr(
      "kll_sketch_get_quantile_double(kll_sketch_agg_double(value), 0.9)"))
      .collect().head.getDouble(0)
    assert(oneShot >= exactQ(0.87) && oneShot <= exactQ(0.93),
      s"one-shot sketch p90 $oneShot outside rank band")
  }

  test("a_theta_ops: sketch set algebra EXACT below nominal capacity; " +
    "union/intersection/difference partition consistently") {
    val r = FunctionLib.aThetaOps(spark, sf01).collect().head
    val ev = Tables.t(spark, sf01, "events")
    val clickers = ev.filter(col("event_type") === "click")
      .select("user_id").distinct().collect().map(_.getLong(0)).toSet
    val buyers = ev.filter(col("event_type") === "purchase" && col("value") > 300)
      .select("user_id").distinct().collect().map(_.getLong(0)).toSet
    // both audiences are far below the sketch's 2^12 nominal capacity, so
    // theta runs in exact mode — estimates must equal the true counts
    assert(r.getAs[Long]("est_clickers") == clickers.size.toLong)
    assert(r.getAs[Long]("est_hi_buyers") == buyers.size.toLong)
    assert(r.getAs[Long]("est_either") == clickers.union(buyers).size.toLong)
    assert(r.getAs[Long]("est_both") == clickers.intersect(buyers).size.toLong)
    assert(r.getAs[Long]("est_click_only") == clickers.diff(buyers).size.toLong)
    // algebra self-consistency: |A∖B| + |A∩B| == |A|
    assert(r.getAs[Long]("est_click_only") + r.getAs[Long]("est_both") ==
      r.getAs[Long]("est_clickers"))
    // the construction must be non-degenerate or the set ops prove nothing
    assert(buyers.nonEmpty && buyers.size < clickers.size)
  }

  test("f_array set ops verified on a hand-computed row") {
    val r = FunctionLib.fArray(spark, sf).filter(col("vec_id") === 0).collect().head
    val a = r.getAs[String]("a").split(",").map(_.toInt)
    assert(r.getAs[Int]("card") == a.length)
    assert(r.getAs[String]("srt").split(",").map(_.toInt).toSeq == a.sorted.toSeq)
    assert(r.getAs[Int]("asum") == a.sum)
    assert(r.getAs[String]("dbl").split(",").map(_.toInt).toSeq == a.map(_ * 2).toSeq)
  }

  test("f_datetime2: calendar edge semantics on hand-picked dates — " +
    "end-of-month clamp, leap-day ym addition without intermediate clamp, " +
    "next_day strictly-after, months_between's 31-day fraction") {
    import spark.implicits._
    val r = Seq("x").toDF("x").select(
      expr("add_months(DATE '1995-01-31', 1)").as("clamp"),
      expr("CAST(DATE '1996-02-29' + make_ym_interval(1, 2) AS DATE)").as("leap"),
      expr("next_day(DATE '1995-03-14', 'TUE')").as("ndnext"), // a Tuesday
      expr("next_day(DATE '1995-03-13', 'TUE')").as("ndsame"),
      expr("months_between(DATE '1996-06-15', DATE '1996-05-14')").as("mbfrac"),
      expr("months_between(DATE '1996-06-15', DATE '1996-05-15')").as("mbint"),
      // the BOTH-LAST-DAYS rule (untouched by the oracle/fuzz sweeps,
      // which pin the anchor to day 15 precisely to keep it out of reach):
      // Feb-29 and Jan-31 are both month-ends -> exactly 1.0, no fraction
      expr("months_between(DATE '1996-02-29', DATE '1996-01-31')").as("mblast"),
      // ...but only when BOTH are last days: Apr-30 vs Mar-31 = 1.0, while
      // Apr-30 vs Mar-30 (day match) is also 1.0 and Apr-29 vs Mar-31
      // falls back to the 31-day fraction
      expr("months_between(DATE '1996-04-29', DATE '1996-03-31')").as("mbmix"),
      expr("weekday(DATE '2021-06-07')").as("wdmon")) // a Monday
      .collect().head
    assert(r.getAs[java.sql.Date]("clamp").toString == "1995-02-28")
    // one 14-month step, NOT (+1y → 1997-02-28 clamp → +2m → Apr 28)
    assert(r.getAs[java.sql.Date]("leap").toString == "1997-04-29")
    assert(r.getAs[java.sql.Date]("ndnext").toString == "1995-03-21") // strictly after
    assert(r.getAs[java.sql.Date]("ndsame").toString == "1995-03-14")
    assert(math.abs(r.getAs[Double]("mbfrac") - (1.0 + 1.0 / 31.0)) < 1e-8)
    assert(r.getAs[Double]("mbint") == 1.0)
    assert(r.getAs[Double]("mblast") == 1.0)
    assert(math.abs(r.getAs[Double]("mbmix") - (1.0 + (29.0 - 31.0) / 31.0)) < 1e-6)
    assert(r.getAs[Int]("wdmon") == 0)
  }

  test("f_math2: banker's rounding lands on the even neighbor for exact " +
    "halves; conv round-trips decimal->hex->decimal and binary") {
    import spark.implicits._
    val r = Seq("x").toDF("x").select(
      expr("bround(2.5, 0)").as("b25"), expr("bround(3.5, 0)").as("b35"),
      expr("rint(CAST(2.5 AS DOUBLE))").as("r25"),
      expr("rint(CAST(3.5 AS DOUBLE))").as("r35"),
      expr("conv('255', 10, 16)").as("hex"),
      expr("conv('FF', 16, 10)").as("dec"),
      expr("conv(bin(42), 2, 10)").as("rt"),
      expr("width_bucket(50, 1, 51, 5)").as("wtop"),
      expr("width_bucket(1, 1, 51, 5)").as("wbot")).collect().head
    assert(r.getAs[java.math.BigDecimal]("b25").doubleValue == 2.0)
    assert(r.getAs[java.math.BigDecimal]("b35").doubleValue == 4.0)
    assert(r.getAs[Double]("r25") == 2.0 && r.getAs[Double]("r35") == 4.0)
    assert(r.getAs[String]("hex") == "FF" && r.getAs[String]("dec") == "255")
    assert(r.getAs[String]("rt") == "42")
    assert(r.getAs[Long]("wtop") == 5L && r.getAs[Long]("wbot") == 1L)
  }

  test("f_string2: soundex known answers match the published US-census " +
    "algorithm; luhn_check canonical vector and its off-by-one") {
    import spark.implicits._
    // hand-derived: first letter + bfpv=1 cgjkqsxz=2 dt=3 l=4 mn=5 r=6,
    // vowels/h/w/y skipped, adjacent duplicate codes collapsed, 0-padded
    val expected = Map("anvil" -> "A514", "bolt" -> "B430", "gear" -> "G600",
      "gizmo" -> "G250", "plate" -> "P430", "ring" -> "R520",
      "rod" -> "R300", "widget" -> "W323", "robert" -> "R163",
      "tymczak" -> "T522") // the two census reference examples
    val got = expected.keys.toSeq.toDF("w")
      .select(col("w"), soundex(col("w")).as("sx")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    expected.foreach { case (w, sx) => assert(got(w) == sx, s"soundex($w)") }
    val l = Seq("x").toDF("x").select(
      expr("luhn_check('79927398713')").as("ok"),
      expr("luhn_check('79927398714')").as("bad")).collect().head
    assert(l.getAs[Boolean]("ok") && !l.getAs[Boolean]("bad"))
  }

  test("f_try: the NULL-on-error contract is ANSI-invariant — every try_* " +
    "leg returns the same rows with spark.sql.ansi.enabled flipped") {
    withSession { spark =>
      spark.conf.set("spark.sql.ansi.enabled", "false")
      val off = FunctionLib.fTry(spark, sf).collect().map(_.toString).sorted
      spark.conf.set("spark.sql.ansi.enabled", "true")
      val on = FunctionLib.fTry(spark, sf).collect().map(_.toString).sorted
      assert(off.sameElements(on), "try_* results must not depend on ANSI mode")
      // and the error legs really are NULL, not wrapped values
      val r = FunctionLib.fTry(spark, sf).limit(1).collect().head
      assert(r.isNullAt(r.fieldIndex("ta_of")) && r.isNullAt(r.fieldIndex("ts_of")))
    }
  }

  test("f_nondet: uuids are distinct per row (the per-row format boolean " +
    "can't see cross-row duplication)") {
    import spark.implicits._
    val uuids = spark.range(1000).select(expr("uuid()").as("u"))
      .collect().map(_.getString(0))
    assert(uuids.distinct.length == uuids.length)
  }
}
