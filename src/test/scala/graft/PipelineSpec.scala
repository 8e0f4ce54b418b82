package graft

import graft.operators.Pipeline
import org.apache.spark.sql.functions._

/** Pipeline composites: value-level gate is the DuckDB oracle; these specs
  * cover the statistical/determinism properties the oracle can't. */
class PipelineSpec extends SparkSpec {

  test("p_e2e buckets every surviving doc exactly once") {
    val stats = Pipeline.pE2e(spark, sf)
    assert(stats.count() > 0)
    val total = stats.agg(sum("n_docs")).collect().head.getLong(0)
    assert(total <= Tables.t(spark, sf, "documents").count())
  }

  test("p_e2e observed metrics: the piggybacked quality counters are exact") {
    val df = Pipeline.pE2e(spark, sf)
    df.collect()
    val m = df.queryExecution.observedMetrics("p_e2e_quality")
    val docs = Tables.t(spark, sf, "documents")
    val expectChars = docs
      .select(sum(length(trim(regexp_replace(regexp_replace(lower(col("text")),
        "[^a-z0-9\\s]", ""), "\\s+", " ")))).as("c"))
      .collect().head.getLong(0)
    assert(m.getAs[Long]("docs_in") == docs.count(),
      s"docs_in ${m.getAs[Long]("docs_in")} != ${docs.count()}")
    assert(m.getAs[Long]("total_chars") == expectChars,
      s"total_chars ${m.getAs[Long]("total_chars")} != $expectChars")
    assert(m.getAs[Long]("empty_docs") >= 0L)
  }

  test("p_e2e avg_chars rounds a tie mean as its DuckDB oracle does") {
    import spark.implicits._
    // 39 docs of 304 chars and one of 305: the mean is the double nearest
    // 304.025, which lies just below the tie, so 304.02 (not 304.03)
    def doc(i: Int, len: Int): String = {
      val head = s"doc$i one two three four "
      head + "x" * (len - head.length)
    }
    val dir = new java.io.File("target/p_e2e_tie").getAbsolutePath
    (0 until 40).map(i => (i.toLong, "src1", doc(i, if (i == 0) 305 else 304)))
      .toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assert(12161.0 / 40 == 304.025)
    val got = Pipeline.pE2e(spark, dir).collect().toSeq
      .map(r => Seq(r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got == Seq(Seq("src1", 40L, 240L, 304.02)), got)

    import scala.sys.process._
    val probe = Process(Seq("python3", "-c", "import duckdb"))
      .run(ProcessLogger(_ => ())).exitValue()
    if (probe != 0)
      cancel("python3+duckdb unavailable — oracle leg skipped")
    val duck = (Process(Seq("python3", "-c",
      "import duckdb, sys; con = duckdb.connect(); " +
        "con.execute(\"CREATE VIEW documents AS SELECT * FROM read_parquet('\" + " +
        "sys.argv[1] + \"/documents.parquet/*.parquet')\"); " +
        "print('|'.join(map(repr, con.execute(sys.stdin.read()).fetchone())))",
      dir)) #< new java.io.ByteArrayInputStream(Pipeline.pE2eSql.getBytes)).!!
    assert(duck.trim == got.head.map {
      case s: String => s"'$s'"
      case v => v.toString
    }.mkString("|"))
  }

  test("p_sample is deterministic and hits the per-source rates") {
    val a = Pipeline.pSample(spark, sf).collect().map(_.getLong(0)).toSeq
    val b = Pipeline.pSample(spark, sf).collect().map(_.getLong(0)).toSeq
    assert(a == b, "content-hash sampling must be reproducible")

    val docs = Tables.t(spark, sf, "documents")
      .withColumn("even", expr("CAST(substring(source, 4, 10) AS INT)") % 2 === 0)
    val sampled = Pipeline.pSample(spark, sf)
      .withColumn("even", expr("CAST(substring(source, 4, 10) AS INT)") % 2 === 0)
    Seq(true -> 0.25, false -> 0.75).foreach { case (even, expected) =>
      val n = docs.filter(col("even") === even).count().toDouble
      val k = sampled.filter(col("even") === even).count().toDouble
      val rate = k / n
      assert(math.abs(rate - expected) < 0.12,
        s"even=$even rate $rate too far from $expected (n=$n)")
    }
  }

  test("p_token_budget: per-source totals within budget, maximal, priority-ordered") {
    val kept = Pipeline.pTokenBudget(spark, sf).collect()
      .groupBy(_.getString(0))
    val allDocs = Tables.t(spark, sf, "documents")
      .select(col("source"), col("doc_id"), size(split(col("text"), " ")).as("toks"))
      .collect().groupBy(_.getString(0))
    kept.foreach { case (src, rows) =>
      val budget = if (src.drop(3).toInt % 2 == 0) 800 else 400
      val total = rows.map(_.getInt(2)).sum
      assert(total <= budget, s"$src kept $total tokens > budget $budget")
      // maximality: the highest-priority doc NOT kept would bust the budget
      val keptIds = rows.map(_.getLong(1)).toSet
      val next = allDocs(src).filter(r => !keptIds.contains(r.getLong(1)))
        .sortBy(r => (-r.getInt(2), r.getLong(1))).headOption
      next.foreach { n =>
        assert(total + n.getInt(2) > budget,
          s"$src left doc ${n.getLong(1)} (${n.getInt(2)} toks) on the table " +
            s"with only $total/$budget used")
      }
      // priority order: kept docs are a prefix of the (toks desc, id) order
      val keptSorted = rows.sortBy(r => (-r.getInt(2), r.getLong(1))).map(_.getLong(1)).toSeq
      val prefix = allDocs(src).sortBy(r => (-r.getInt(2), r.getLong(1)))
        .map(_.getLong(1)).take(rows.length).toSeq
      assert(keptSorted == prefix, s"$src kept a non-prefix of the priority order")
    }
  }

  test("p_pack: two-level prefix scan equals the naive global cumsum exactly") {
    // the scalable plan is a pure transformation of the naive global-window
    // packing — verify window assignment agrees with a brute-force in-JVM
    // stream layout, and token accounting is lossless
    val docs = Tables.t(spark, sf, "documents")
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("toks"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    var start = 0L
    val expected = scala.collection.mutable.Map[Long, (Long, Long, Long, Long)]()
    docs.foreach { case (id, toks) =>
      val w = start / Pipeline.PackWindow
      val (n, lo, hi, t) = expected.getOrElse(w, (0L, Long.MaxValue, Long.MinValue, 0L))
      expected(w) = (n + 1, math.min(lo, id), math.max(hi, id), t + toks)
      start += toks
    }
    val got = Pipeline.pPack(spark, sf).collect().map { r =>
      r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    }.toMap
    assert(got == expected.toMap,
      s"two-level packing diverges from the naive layout: got ${got.size} " +
        s"windows vs ${expected.size}")
    // lossless: every token lands in exactly one window
    assert(got.values.map(_._4).sum == docs.map(_._2).sum)
  }

  test("p_split_leakfree: planted near-dup pairs never straddle the split; " +
    "the naive doc_id split provably does") {
    val out = Pipeline.pSplitLeakfree(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    // withPlantedNear: every 10th doc re-appears under id+1000000 with ~0.9
    // Jaccard — each such pair MUST land on one side
    val planted = out.keys.filter(_ >= 1000000L).map(id => (id - 1000000L, id))
    assert(planted.nonEmpty, "corpus must contain planted near-dup pairs")
    val straddling = planted.filter { case (a, b) => out(a) != out(b) }
    assert(straddling.isEmpty,
      s"near-dup pairs straddle the split: ${straddling.take(5)}")
    // negative control — the SAME corpus under a doc_id-keyed md5 split
    // leaks: at least one planted pair lands train/val (the bug this
    // operator exists to prevent). Same threshold, key = doc_id not group.
    def naive(id: Long): String = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      if (f"${h(0) & 0xff}%02x" < "19") "val" else "train"
    }
    val naiveStraddle = planted.count { case (a, b) => naive(a) != naive(b) }
    assert(naiveStraddle > 0,
      "control failed: the naive split should leak on this corpus " +
        "(if it ever stops, re-plant with a different threshold)")
    // sanity: both sides populated, val fraction in a plausible band
    val valFrac = out.values.count(_ == "val").toDouble / out.size
    assert(valFrac > 0.02 && valFrac < 0.30, s"val fraction $valFrac")
  }

  test("p_split_leakfree is deterministic and covers every doc exactly once") {
    val a = Pipeline.pSplitLeakfree(spark, sf).collect().map(_.toSeq).toSeq
    val b = Pipeline.pSplitLeakfree(spark, sf).collect().map(_.toSeq).toSeq
    assert(a == b, "split assignment must be restart-stable")
    val nDocs = operators.Dedup
      .withPlantedNear(Tables.t(spark, sf, "documents")).count()
    assert(a.size.toLong == nDocs, "one split row per corpus doc")
    assert(a.map(_.head).distinct.size == a.size, "doc_id unique")
  }

  test("p_stratified: two-phase candidate-bounded rank equals the naive " +
    "full rank exactly, K per stratum, deterministic") {
    val got = Pipeline.pStratified(spark, sf)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSeq
    // naive formulation: rank EVERY doc in each stratum, keep r <= K
    import org.apache.spark.sql.expressions.Window
    val naive = Tables.t(spark, sf, "documents")
      .select(col("doc_id"), col("source"),
        md5(concat(lit("strat:"), col("doc_id").cast("string"))).as("h"))
      .withColumn("r", row_number().over(
        Window.partitionBy("source").orderBy(col("h"), col("doc_id"))))
      .filter(col("r") <= Pipeline.StratQuota)
      .select("source", "r", "doc_id").orderBy("source", "r")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSeq
    assert(got == naive, "candidate filter changed the selection")
    // exactly K per stratum wherever the stratum has >= K docs
    val counts = Tables.t(spark, sf, "documents")
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    got.groupBy(_._1).foreach { case (src, rows) =>
      val expect = math.min(Pipeline.StratQuota.toLong, counts(src))
      assert(rows.size.toLong == expect, s"$src: ${rows.size} != $expect")
    }
    assert(got == Pipeline.pStratified(spark, sf)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSeq,
      "selection must be restart-stable")
  }

  test("p_stratified guard: when the candidate bound starves a stratum " +
    "below min(K, n) the full-rank fallback fires and the selection still " +
    "equals the naive rank exactly") {
    import org.apache.spark.sql.expressions.Window
    val naive = Tables.t(spark, sf, "documents")
      .select(col("doc_id"), col("source"),
        md5(concat(lit("strat:"), col("doc_id").cast("string"))).as("h"))
      .withColumn("r", row_number().over(
        Window.partitionBy("source").orderBy(col("h"), col("doc_id"))))
      .filter(col("r") <= Pipeline.StratQuota)
      .select("source", "r", "doc_id").orderBy("source", "r")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSeq
    // mult = 0 ⇒ bound 0 ⇒ ZERO admitted candidates in every stratum — the
    // worst case (also covers the zero-admitted hole where a stratum is
    // absent from the candidate aggregate entirely). Every stratum must take
    // the fallback path and the result must be the naive rank.
    val allShort = Pipeline.pStratifiedWithBound(spark, sf, 0.0)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSeq
    assert(allShort == naive, "all-strata fallback diverged from naive rank")
    // mult = 0.5 ⇒ bound K/(2n): large strata admit ~Poisson(5) < K=10 with
    // high probability (shortfall), small strata keep bound=1 (healthy) —
    // exercises the union of both branches on the same run. Deterministic
    // for fixed data (md5-driven, no RNG).
    val mixed = Pipeline.pStratifiedWithBound(spark, sf, 0.5)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSeq
    assert(mixed == naive, "mixed healthy+fallback run diverged from naive rank")
  }

  test("p_curriculum: distributed two-phase ntile equals the naive " +
    "single-reducer ntile exactly; stage sizes front-load the remainder") {
    val got = Pipeline.pCurriculum(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    // naive form: one global-order ntile window (the oracle's shape)
    import org.apache.spark.sql.expressions.Window
    val naive = Tables.t(spark, sf, "documents")
      .select(col("doc_id"),
        (length(col("text")).cast("double") /
          size(split(col("text"), " "))).as("difficulty"))
      .withColumn("stage", ntile(Pipeline.CurriculumStages)
        .over(Window.orderBy(asc("difficulty"), asc("doc_id"))).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(got == naive, "two-phase rank diverges from ntile")
    // SQL ntile contract: first n%k buckets have ceil(n/k) rows, rest floor
    val n = got.size; val k = Pipeline.CurriculumStages
    val sizes = got.values.groupBy(identity).map { case (s, v) => s -> v.size }
    (1 to k).foreach { s =>
      val expect = if (s <= n % k) n / k + 1 else n / k
      assert(sizes(s.toLong) == expect, s"stage $s: ${sizes(s.toLong)} != $expect")
    }
  }

  test("p_mix_report: accounting consistent with the samplers it reports on " +
    "— kept counts equal p_sample, epochs equal p_upsample, shares sum to 1") {
    val rep = Pipeline.pMixReport(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    // kept_docs per source must equal what p_sample actually keeps
    val sampled = Pipeline.pSample(spark, sf).groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rep.foreach { case (src, r) =>
      assert(r.getAs[Long]("kept_docs") == sampled.getOrElse(src, 0L),
        s"$src: kept_docs != p_sample survivors")
    }
    // epochs per source must equal p_upsample's max epoch index
    val epochs = Pipeline.pUpsample(spark, sf).groupBy("source")
      .agg(max("epoch")).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    rep.foreach { case (src, r) =>
      assert(r.getAs[Int]("epochs") == epochs(src), s"$src: epochs mismatch")
    }
    // effective mass = kept tokens x epochs; shares partition the mix
    rep.values.foreach { r =>
      assert(r.getAs[Long]("eff_toks") ==
        r.getAs[Long]("kept_toks") * r.getAs[Int]("epochs"))
    }
    val shareSum = rep.values.map(_.getAs[Double]("share")).sum
    assert(math.abs(shareSum - 1.0) < 1e-3, s"shares sum to $shareSum")
  }

  test("ntileStage formula equals Spark's ntile for every (n, k) up to 40x7 " +
    "including the n < k degenerate path") {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    // one exhaustive frame: for each (n, k), rows r = 1..n; the corpus
    // entry only ever exercises n >> k, so the short-corpus branch (q = 0)
    // is proven here instead
    (1 to 7).foreach { k =>
      val rows = (1 to 40).flatMap(n => (1 to n).map(r => (n, r.toLong)))
      val df = rows.toDF("n", "r")
      val got = df.withColumn("stage",
        Pipeline.ntileStage(col("r"), col("n"), k))
        .collect().map(x => (x.getInt(0), x.getLong(1)) -> x.getLong(2)).toMap
      (1 to 40).foreach { n =>
        val expect = Seq.range(1, n + 1).toDF("r")
          .withColumn("stage", ntile(k).over(Window.orderBy("r")).cast("long"))
          .collect().map(x => x.getInt(0).toLong -> x.getLong(1)).toMap
        (1 to n).foreach { r =>
          assert(got((n, r.toLong)) == expect(r.toLong),
            s"n=$n k=$k r=$r: ${got((n, r.toLong))} != ${expect(r.toLong)}")
        }
      }
    }
  }

  test("p_shard: assignment is a narrow projection, shards balanced, " +
    "every doc counted once") {
    val out = Pipeline.pShard(spark, sf).collect()
    val nDocs = Tables.t(spark, sf, "documents").count()
    assert(out.map(_.getLong(1)).sum == nDocs, "every doc in exactly one shard")
    // uniform md5 prefix → shard sizes concentrate around n/256; at small n
    // allow a generous Poisson-ish band rather than a tight percent bound
    val mean = nDocs.toDouble / 256
    val maxShard = out.map(_.getLong(1)).max.toDouble
    assert(maxShard < mean + 6 * math.sqrt(mean) + 6,
      s"shard skew: max $maxShard vs mean $mean")
    // shard ids are 2-char hex and stable across runs
    assert(out.forall(_.getString(0).matches("[0-9a-f]{2}")))
    val again = Pipeline.pShard(spark, sf).collect().map(_.toSeq).toSeq
    assert(out.map(_.toSeq).toSeq == again, "sharding must be restart-stable")
    // scale shape: the per-doc assignment itself must not shuffle — project
    // + filter only between the scan and the doc->shard map
    val assignPlan = Tables.t(spark, sf, "documents")
      .withColumn("shard", substring(
        md5(concat(lit("shard:"), col("doc_id").cast("string"))), 1, 2))
      .queryExecution.executedPlan.toString
    assert(!assignPlan.contains("Exchange"),
      "shard assignment must be narrow (writer partitions by it)")
  }
}
