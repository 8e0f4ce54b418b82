package graft

/** Driver-run benchmark (SURVEY.md §6): headline queries over
  * SPARK_GRAFT_SF_DIR, one JSON line on stdout.
  *
  * Materialization is a noop-format write — a full computation of every
  * output row with zero sink cost; `count()` would let Catalyst prune the
  * plan to whatever feeds a row count and under-measure wide queries. A
  * one-query warmup amortizes JVM/codegen startup out of the first number.
  */
object Bench {

  /** SURVEY §6 headline set: scan-heavy, join-heavy, subquery-heavy TPC-H
    * plus one of each LLM-pipeline family, plus the round-3 pipeline layer
    * (iterative clustering, n-gram dedup, text-quality kernels, h2o-style
    * groupby, fused end-to-end pipeline), plus — round 5 — the whole ANN
    * tier (LSH / IVF / int8 / PQ) so every approximate-search kernel has a
    * regression net, not just the brute-force baseline; round 6 adds the
    * composed IVFADC tier. */
  val Headline: Seq[String] = Seq(
    "q1", "q3", "q5", "q6", "q9", "q18",
    "d_exact", "d_minhash", "n_brute_topk", "x_quality",
    "d_cluster", "d_ngram_jaccard", "x_gopher", "x_repetition",
    "cb_h2o_gb", "p_e2e",
    "n_lsh_topk", "n_ivf_topk", "n_quant_topk", "n_pq_topk",
    "n_ivfpq_topk",
    // round 9: one per new family — sliding windows, soft dedup, the
    // third two-level-scan member, RRF fusion (BASELINE.md r9 records
    // the 21-query shared subset for round-over-round comparison)
    "e_hopping", "d_soft", "p_curriculum", "n_rrf_hybrid",
    // round 11: the production-shaped IVF config (a 64-cell model)
    // and the incremental-dedup delta entry
    "n_ivf_big", "d_minhash_delta")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // SPARK_GRAFT_QUERIES: comma-separated override of the headline set —
    // used by the scale-stress protocol (BASELINE.md) to run only the
    // heavy entries against a ScaleGen 10× directory. Unknown names fail
    // loudly (the Verify convention); the driver never sets this.
    val headline: Seq[String] = sys.env.get("SPARK_GRAFT_QUERIES") match {
      case Some(qs) =>
        val names = qs.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        val unknown = names.toSet.diff(SparkEntry.queries.keySet)
        require(unknown.isEmpty, s"unknown query names: ${unknown.mkString(", ")}")
        names
      case None => Headline
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // SPARK_GRAFT_SHUFFLE: shuffle width independent of core count — the
    // 1000×-directory runs need partitions sized to the DATA (SURVEY §1
    // spill rule; see graft.Audit's note), with AQE coalescing the small
    // ones. Default unchanged: cpus (the driver's bench protocol).
    val shuffle = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus)
    // the session users get: CBO + join reorder on and the graft rules
    // installed, over stat-less reads (bench entries read parquet paths
    // directly and never see catalog stats — the stats-present case is
    // graft.Audit's lane)
    val spark = Graft.session(s"local[$cpus]", "graft-bench", shuffle.toInt)
    spark.sparkContext.setLogLevel("WARN")

    def runOnce(name: String, dir: String): Double = {
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}"); return -1.0
      }
      (System.nanoTime() - t0) / 1e9
    }

    // Warm each query's generated code on the tiny SF: janino compilation of
    // the wide generated classes (e.g. the 128-buffer minhash aggregate) is
    // multi-second and one-time per plan shape — profiled 3/4 of the first
    // d_minhash run. Steady-state is what a long-lived cluster sees.
    val warmDir = "/root/testdata/sf0.001"
    headline.foreach(n => runOnce(n, warmDir))
    // …then once at the TARGET sf: AQE finalizes different physical shapes
    // there (broadcast vs shuffle, coalesced partition counts), each with its
    // own one-time janino compile — without this pass the first measured run
    // absorbs those compiles and the recorded spread hits 50–90%.
    headline.foreach { n => spark.catalog.clearCache(); runOnce(n, sfDir) }

    // MEDIAN of five runs (VERDICT r14 #8 — the min-of-3 protocol's band
    // was wide enough to hide a real 10% regression: q1's two-fastest gap
    // was 63% of its 0.28 s wall). The median rejects BOTH one-sided GC/JIT
    // outliers AND the lucky page-cache run the min would anoint; five reps
    // give the median two-deep cover on each side. Per-query `spread` = the
    // relative width of the TRIMMED range (drop the single fastest and
    // slowest, (s[n-2]-s[1])/median): it measures whether the steady state
    // reproduces — small → the median is trustworthy; large → treat the
    // number as noisy, not as a regression. SPARK_GRAFT_BENCH_REPS
    // overrides (the scale-stress decades keep 3 — a 1000× rep costs
    // minutes and the linearity question tolerates decade-level noise).
    // clearCache first so operators with internal persist() (minhash
    // family) are timed cold — measuring cache hits would flatter them;
    // System.gc() so one query's garbage is not another's pause.
    val reps = sys.env.get("SPARK_GRAFT_BENCH_REPS").map(_.toInt).getOrElse(5)
    // SPARK_GRAFT_BENCH_METRICS=1: per-rep task metrics (graft.Audit's
    // AuditMetrics discipline) for ATTRIBUTING a bench row's cost — round
    // 17 (VERDICT r16 #7): the d_minhash_inc_serve drift (r14 1.64 →
    // r16 1.90 s) needed read/shuffle/spill/CPU per rep to be explained,
    // not guessed at. Off by default: the post-run listener-drain pause
    // would stretch the driver's bench wall for no benefit.
    val metricsOn = sys.env.get("SPARK_GRAFT_BENCH_METRICS").contains("1")
    val benchAgg = new AuditMetrics
    if (metricsOn) spark.sparkContext.addSparkListener(benchAgg)
    def withMetrics(name: String)(f: => Double): Double =
      if (!metricsOn) f
      else {
        benchAgg.reset()
        val w = f
        Thread.sleep(1000) // async listener bus drain (AuditMetrics note)
        println(f"[bench-metrics] $name%-24s wall=$w%7.3fs ${benchAgg.report}")
        w
      }
    def medianSpread(runs: Seq[Double]): (Double, Double) =
      if (runs.exists(_ < 0) || runs.isEmpty) (-1.0, -1.0)
      else {
        val s = runs.sorted
        // true median for even n too (ADVICE r15: s(n/2) reported the
        // slower upper-middle run under an even SPARK_GRAFT_BENCH_REPS)
        val med =
          if (s.size % 2 == 1) s(s.size / 2)
          else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
        val (lo, hi) =
          if (s.size >= 5) (s(1), s(s.size - 2)) else (s.head, s.last)
        (med, if (med > 0) (hi - lo) / med else 0.0)
      }
    // reps<5 can't trim an outlier per side — the JSON must say which
    // definition the spread numbers carry (ADVICE r15)
    val spreadDef = if (reps >= 5) "trimmed_range" else "full_range"
    val results = headline.map { n =>
      def cold(): Double = {
        spark.catalog.clearCache(); System.gc(); runOnce(n, sfDir)
      }
      n -> medianSpread(Seq.fill(reps)(withMetrics(n)(cold())))
    }

    // ---- build vs serve split for the trained-index ANN tiers ----
    // The e2e n_ivf/n_pq/n_ivfpq numbers above are dominated by quantizer
    // TRAINING (Lloyd corpus passes); a production user asks "what does a
    // query cost against a BUILT index" — so each tier is also timed as
    // BUILD (train + materialize the stored index, persist + noop-write)
    // and SERVE (the probe/score/top-k query against that materialized
    // index), the same setup-vs-measured-iterations separation the
    // reference bench makes (benchmarks/src/util/run.rs). Same median-of-N
    // / trimmed-spread protocol; serve runs against the LAST build's index
    // (cache kept warm across serve runs — that IS the serve scenario).
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.storage.StorageLevel
    import graft.operators.Similarity
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime()
      try f catch { case e: Throwable =>
        System.err.println(s"[bench] build/serve failed: ${e.getMessage}"); return -1.0
      }
      (System.nanoTime() - t0) / 1e9
    }
    // each tier: build() materializes the index and returns (cached frames,
    // an untimed post-build setup — e.g. laying out the stored index — and
    // the serve variants timed against the final build)
    type TierParts = (Seq[DataFrame], () => Unit, Seq[(String, () => Unit)])
    val ivfpqStore = "target/bench_ivfpq_store"
    val minhashStore = "target/bench_minhash_index"
    val tiers: Seq[(String, String => TierParts)] = Seq(
      // incremental dedup priced like the trained-index tiers: BUILD =
      // shingle+sign the corpus and write the shingles+postings index
      // (once per corpus), SERVE = the day's delta against the stored
      // index (no base-side compute — the number a production deployment
      // actually pays per batch; see Dedup.minhashDeltaPairsFromStore)
      "d_minhash_inc" -> { dir: String =>
        import org.apache.spark.sql.functions._
        import graft.operators.Dedup
        val docs = graft.Tables.t(spark, dir, "documents")
          .select("doc_id", "text")
        // scale-safe planted delta: the INDEX covers the full corpus; the
        // day's arrivals are a 10% sample re-encoded with the
        // withPlantedNear perturbation, id-offset above the TRUE max id
        // (the entry's fixed 1e6 offset collides with real ids on ScaleGen
        // corpora past 1e6 docs, silently inverting the base/delta split —
        // caught by the round-11 1000× serve profile)
        val off = docs.agg(max("doc_id")).head.getLong(0) + 1L
        def delta = docs.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + off).as("doc_id"),
            concat_ws(" ",
              slice(split(col("text"), " "), 3, 1000000)).as("text"))
        Dedup.minhashIndexWrite(Dedup.wordShingleSets(docs), minhashStore)
        (Seq.empty, () => (),
          // unlike the ANN tiers (whose serve-side state is a per-query
          // probe), the delta's shingle/signature caches would be HIT by
          // the next run's identical logical plan — pricing a daily batch
          // at zero delta compute. clearCache makes each serve run pay
          // the full per-batch cost: delta shingling+signing, the
          // postings-join and the candidate-restricted store fetch.
          Seq("serve" -> (() => {
            spark.catalog.clearCache()
            noop(Dedup.minhashDeltaPairsFromStore(
              spark, minhashStore, Dedup.wordShingleSets(delta), 0.5))
          })))
      },
      "n_ivf" -> { dir: String =>
        val (c, a0) = Similarity.ivfBuild(spark, dir)
        val a = a0.persist(StorageLevel.MEMORY_AND_DISK)
        noop(a)
        (Seq(a), () => (),
          Seq("serve" -> (() => noop(Similarity.ivfServe(spark, dir, c, a)))))
      },
      "n_pq" -> { dir: String =>
        val (books, codes0) = Similarity.pqBuild(spark, dir)
        val codes = codes0.persist(StorageLevel.MEMORY_AND_DISK)
        noop(codes)
        (Seq(codes), () => (),
          Seq("serve" -> (() => noop(Similarity.pqServe(spark, dir, books, codes)))))
      },
      "n_ivfpq" -> { dir: String =>
        val (c, books, idx0) = Similarity.ivfpqBuild(spark, dir)
        val idx = idx0.persist(StorageLevel.MEMORY_AND_DISK)
        noop(idx)
        (Seq(idx),
          // the cell-partitioned store layout is written once per built
          // index, OUTSIDE the build timing (it is a sink choice, not part
          // of training) and before the serve variants run
          () => Similarity.ivfpqWriteIndex(idx, ivfpqStore),
          Seq(
            "serve" -> (() => noop(Similarity.ivfpqServe(spark, dir, c, books, idx))),
            // the partition-pruned stored-index serve — the per-query cost a
            // production deployment actually pays (VERDICT r6 #8)
            "serve_store" -> (() =>
              noop(Similarity.ivfpqServeFromStore(spark, dir, ivfpqStore, c, books))),
            // n_ivfpq_delta priced at scale (VERDICT r13 #4): ONE daily
            // batch — 10% of the corpus as new arrivals, id-offset above
            // the STORE's current max (ADVICE r14: offsetting from the
            // immutable embeddings table made every timed rep append the
            // same ids; a real batch allocates above everything already
            // stored, so reps stay id-disjoint) — encoded with the FROZEN
            // model and appended to the stored index. Each timed run
            // appends one fresh batch: that IS the per-batch maintenance
            // cost (delta-proportional encode + append, zero base rewrite;
            // the max() scan is part of a real batch's id allocation).
            // Runs LAST so the growing store never pollutes the
            // serve_store timings above.
            "delta" -> (() => {
              import org.apache.spark.sql.functions.{col, max => fmax}
              val emb = graft.Tables.t(spark, dir, "embeddings")
              val off = spark.read.parquet(ivfpqStore)
                .agg(fmax("vec_id")).head.getLong(0) + 1L
              val delta = emb.filter(col("vec_id") % 10 === 0)
                .withColumn("vec_id", col("vec_id") + off)
              Similarity.ivfpqIndexAppend(delta, c, books, ivfpqStore)
            })))
      })
    // With an explicit SPARK_GRAFT_QUERIES override (scale-stress runs),
    // each build/serve tier only runs if a query of its family was asked
    // for — the stress protocol measures named heavy entries by default,
    // not the tiers.
    val overridden = sys.env.contains("SPARK_GRAFT_QUERIES")
    def tierWanted(tier: String): Boolean = !overridden || (tier match {
      case "d_minhash_inc" => headline.contains("d_minhash_delta")
      case _ => headline.exists(n => n.startsWith("n_ivf") || n.startsWith("n_pq"))
    })
    val buildServe: Seq[(String, (Double, Double))] =
      tiers.filter(t => tierWanted(t._1)).flatMap {
      case (tier, mk) =>
        // warm codegen for this tier's plan shapes on the tiny SF
        val (wCached, wSetup, wServes) = mk(warmDir)
        wSetup(); wServes.foreach(_._2())
        wCached.foreach(_.unpersist(blocking = true))
        var cached: Seq[DataFrame] = Seq.empty
        var setup: () => Unit = () => ()
        var serves: Seq[(String, () => Unit)] = Seq.empty
        def buildCold(): Double = {
          cached.foreach(_.unpersist(blocking = true))
          spark.catalog.clearCache(); System.gc()
          timed { val r = mk(sfDir); cached = r._1; setup = r._2; serves = r._3 }
        }
        val bRuns = Seq.fill(reps)(withMetrics(s"${tier}_build")(buildCold()))
        // a failed build must fail its serve rows too: timing the fallback
        // no-op (all builds failed) or a stale earlier index (only the last
        // failed) would report a great serve number for a broken tier
        // (ADVICE r6). Row names come from the warm build so the JSON keys
        // are stable either way.
        val serveRows: Seq[(String, (Double, Double))] =
          if (bRuns.exists(_ < 0))
            wServes.map { case (sn, _) => s"${tier}_$sn" -> ((-1.0, -1.0)) }
          else {
            setup()
            // serve runs against the warm index — no clearCache between them
            serves.map { case (sn, f) =>
              val sRuns =
                Seq.fill(reps)(withMetrics(s"${tier}_$sn")(timed(f())))
              s"${tier}_$sn" -> medianSpread(sRuns)
            }
          }
        cached.foreach(_.unpersist(blocking = true))
        Seq(s"${tier}_build" -> medianSpread(bRuns)) ++ serveRows
    }

    val all = results ++ buildServe
    def fmt(v: Double): String = BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toString
    val qs = all.map { case (k, (v, _)) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    val spreads = all.map { case (k, (_, s)) => "\"" + k + "\":" + fmt(s) }.mkString("{", ",", "}")
    // total stays the HEADLINE sum: the build/serve rows decompose e2e
    // numbers already counted there — adding them would double-count.
    // Any failed headline query (-1) invalidates the TOTAL too: summing the
    // survivors reads as an improvement while a benchmark is broken (round 8
    // recorded 17.98s "beating" 19.07s with cb_h2o_gb dead — ADVICE r8).
    val failed = results.collect { case (n, (v, _)) if v < 0 => n }
    val total = if (failed.nonEmpty) -1.0 else results.map(_._2._1).sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // Host-state block (VERDICT r15 #6): the r15 20.12 s driver read cost a
    // judge re-run to distinguish "shared-box contention" from "regression"
    // — the artifact now declares its own environment. loadavg is sampled
    // at END of run (the contended state that inflated the medians is the
    // steady one, and a start sample would mostly see this JVM's warmup);
    // java_procs counts OTHER JVMs sharing the box (this one excluded);
    // cpu_pressure is PSI some-avg60 (% of the last minute anything was
    // stalled on CPU, cgroup-wide) when the kernel exposes it.
    // BASELINE.md interpretation (tightened round 17, VERDICT r16 #3):
    // java_procs > 0, cpu_pressure_avg60 > 5, or load15 > 3.5 ⇒ treat the
    // total as a contaminated upper bound — load1 alone missed the r16
    // driver run's ~9% contamination (load1 "clean", load15 4.55).
    val hostEnv: String = AuditEnv.hostJson(cpus)
    val json = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","failed":$failedJson,"queries":$qs,"spread":$spreads,"runs":$reps,"protocol":"median","spread_def":"$spreadDef","host":$hostEnv,"sf":"$sfDir"}"""
    // stdout gets wrapped in sbt [info] noise when run via `sbt runMain`, so
    // the canonical copy goes to a file the driver can read verbatim.
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (json + "\n").getBytes("UTF-8"))
    println(json)
    spark.stop()
  }
}
