package graft

import graft.operators.{Dedup, Relational, Similarity, TextAnalysis, Tpch}
import org.apache.spark.sql.DataFrame

/** Plan-shape audit (SURVEY.md §5): the properties that make these plans
  * survive a 100× scale-up, asserted on the executed plan so regressions
  * (lost pushdown, broadcast falling back to shuffle, extra exchanges) fail
  * loudly rather than silently degrading.
  */
class PlanAuditSpec extends SparkSpec {

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** An executed AQE plan prints "== Final Plan ==" AND "== Initial Plan ==";
    * counting operators across both double-counts every exchange. */
  private def finalPlan(df: DataFrame): String =
    plan(df).split("== Initial Plan ==").head

  private def countOccurrences(s: String, sub: String): Int =
    s.sliding(sub.length).count(_ == sub)

  test("q1: shipdate filter reaches the parquet scan; schema pruned") {
    val p = plan(Tpch.q1(spark, sf))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), p)
    assert(p.contains("ReadSchema"))
    assert(!p.contains("l_orderkey"), "q1 reads columns it never uses")
  }

  test("q3: dimension filters pushed; fact joins keyed, not cross") {
    val p = plan(Tpch.q3(spark, sf))
    assert(p.contains("PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)"), p)
    assert(!p.contains("CartesianProduct"), "unexpected cartesian join")
  }

  test("q5: small dims are broadcast, not shuffled") {
    val p = plan(Tpch.q5(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q6: fully pushed selective scan, single aggregate, no join") {
    val p = plan(Tpch.q6(spark, sf))
    assert(p.contains("PushedFilters") && p.contains("l_shipdate"), p)
    assert(!p.contains("Join"), "q6 should not join")
  }

  test("n_brute_topk: query side broadcast; no sort-merge join of the corpus") {
    val p = plan(Similarity.nBruteTopk(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin"), "corpus must not be shuffle-joined")
  }

  test("x_quality: pure narrow pipeline — zero shuffles") {
    val p = plan(TextAnalysis.xQuality(spark, sf))
    // the only allowed exchange is the final presentation orderBy
    assert(countOccurrences(p, "Exchange") <= 1, p)
  }

  test("d_exact: exactly one aggregation shuffle (plus presentation sort)") {
    val p = plan(Dedup.dExact(spark, sf))
    assert(countOccurrences(p, "Exchange hashpartitioning") == 1, p)
  }

  test("e_session: single shuffle on user_id feeds both window passes") {
    val p = plan(Relational.eSession(spark, sf))
    assert(countOccurrences(p, "Exchange hashpartitioning") == 1,
      s"sessionization should shuffle once on user_id:\n$p")
  }

  test("partitioned sink layout enables partition pruning on read") {
    graft.sources.Sources.sinkPartitioned(spark, sf).collect() // writes layout
    val df = spark.read.parquet(graft.sources.Sources.partitionedOutPath)
      .filter(org.apache.spark.sql.functions.col("o_orderstatus") === "F")
    df.collect()
    val p = plan(df)
    assert(p.contains("PartitionFilters: [isnotnull(o_orderstatus"),
      s"status filter did not prune partitions:\n$p")
  }

  test("topK runs as a partial-aggregated bounded-heap aggregate, not a window sink") {
    import org.apache.spark.sql.functions._
    val corpus = Tables.t(spark, sf, "embeddings").select("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val scored = corpus.crossJoin(broadcast(queries))
      .select(col("qid"), col("vec_id").as("vid"),
        expr("cosine_similarity(embedding, qv)").as("cos"))
    val top = Similarity.topK(scored, 10)
    top.collect()
    val p = plan(top)
    // map-side partial + final merge: two ObjectHashAggregate nodes means the
    // shuffle carries k-row heaps, never the full scored set
    assert(countOccurrences(p, "ObjectHashAggregate") >= 2,
      s"topk_pairs is not partial-aggregated:\n$p")
    assert(!p.contains("Window"), s"topK still uses a window sink:\n$p")
    // and the aggregate loses nothing: equals single-window top-k
    val viaAgg = top.select("qid", "vid").collect().toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(desc("cos"), asc("vid"))
    val oneWindow = scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 10).select("qid", "vid").collect().toSet
    assert(viaAgg == oneWindow, "topk_pairs diverges from single-window top-k")
  }

  test("x_fingerprint runs codegen'd — native expression, no HOF fallback") {
    val df = Dedup.xFingerprint(spark, sf)
    df.collect()
    val p = plan(df)
    assert(p.contains("rolling_fingerprint"), p)
    assert(!p.toLowerCase.contains("lambdafunction"),
      s"fingerprint still uses interpreted HOF lambdas:\n$p")
    assert(p.contains("*("), s"no codegen stage in:\n$p")
  }

  test("ddl_bucketed: co-located join reads bucketed tables with ZERO shuffle") {
    val df = Relational.ddlBucketed(spark, sf)
    df.collect()
    val p = plan(df)
    assert(p.contains("SortMergeJoin"), p)
    // the only allowed exchanges: the post-join aggregation + presentation
    // sort — the JOIN inputs themselves must come straight from the bucketed
    // scans (Spark plans bottom-up: a shuffle under the join would print
    // between the scans and the join node)
    // scope to the FINAL plan (AQE appends the pre-adaptive "Initial Plan"
    // after it); everything below the join node is its bucketed inputs
    val finalPlan = p.split("== Initial Plan ==").head
    val belowJoin = finalPlan.substring(finalPlan.indexOf("SortMergeJoin"))
    assert(!belowJoin.contains("Exchange hashpartitioning"),
      s"bucketed join still shuffles its inputs:\n$p")
    assert(p.contains("SelectedBucketsCount") || p.contains("Bucketed: true"),
      s"scan does not report bucketed read:\n$p")
  }

  test("AQE splits a skewed join partition (the documented skew mitigation)") {
    import org.apache.spark.sql.functions._
    val conf = spark.conf
    val saved = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.files.maxPartitionBytes")
      .map(k => k -> conf.getOption(k)).toMap
    try {
      // several map tasks per scan: AQE splits a skewed REDUCER partition by
      // mapper ranges, so a single-mapper shuffle can never be split
      conf.set("spark.sql.files.maxPartitionBytes", "262144")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      // ~95% of fact rows land on key 0 — one reducer partition dwarfs the
      // rest (sf0.01: ~57k rows on the hot key, well past the 16KB threshold).
      // repartition(8) first: the testdata parquet is a single row group =
      // one real mapper, and a skewed reducer partition is split along
      // mapper boundaries — data must arrive from several mappers at all.
      val fact = Tables.t(spark, sf01, "lineitem")
        .select((when(col("l_orderkey") % 20 === 0, col("l_orderkey") % 5 + 1)
          .otherwise(0L)).as("k"), col("l_quantity"))
        .repartition(8)
      val dim = spark.range(0, 6).select(col("id").as("k"),
        concat(lit("dim"), col("id")).as("name"))
      // no aggregation after the join: a downstream distribution requirement
      // makes AQE skip the skew split (it won't add an extra shuffle unless
      // forceOptimizeSkewedJoin) — the bare join IS the scenario
      val joined = fact.join(dim, "k").select("name", "l_quantity")
      joined.collect()
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"),
        s"AQE did not mark the skewed join (no skew=true in plan):\n$p")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("srt_lineitem: global sort runs as a distributed range-partitioned sort") {
    val df = Relational.srtLineitem(spark, sf)
    df.collect()
    val p = plan(df)
    assert(p.contains("Exchange rangepartitioning"),
      s"global sort is not range-partitioned:\n$p")
    assert(!p.contains("SinglePartition"),
      s"sort collapsed to a single partition:\n$p")
  }

  test("srt_wide: the wide-payload multi-key sort (sort_tpch Q7/Q10 shape) " +
    "stays a distributed range-partitioned sort") {
    val df = Relational.srtWide(spark, sf)
    df.collect()
    val p = plan(df)
    assert(p.contains("Exchange rangepartitioning"),
      s"wide sort is not range-partitioned:\n$p")
    assert(!p.contains("SinglePartition"),
      s"wide sort collapsed to a single partition:\n$p")
  }

  test("srt_topk: ORDER BY + LIMIT (sort_tpch --limit variant) plans as " +
    "TakeOrderedAndProject — bounded per-partition heaps, no sort exchange") {
    val df = Relational.srtTopk(spark, sf)
    df.collect()
    val p = finalPlan(df)
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k degenerated to a global sort:\n$p")
    assert(!p.contains("Exchange rangepartitioning"),
      s"LIMIT 10 must not pay a distributed global sort:\n$p")
  }

  test("g_pivot plans as aggregate passes — no per-value shuffles or joins") {
    val df = Relational.gPivot(spark, sf)
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    assert(!p.contains("Join"), s"pivot must not join per value:\n$p")
    // Spark pivots in two aggregate phases: groupBy(yr, priority) sum, then
    // pivotfirst on yr — 2 hashpartitioning exchanges regardless of how many
    // pivot values there are (the second carries years × priorities rows,
    // nothing fact-sized). More would mean a shuffle/join per value.
    assert(countOccurrences(p, "Exchange hashpartitioning") <= 2, p)
    assert(p.contains("partial_pivotfirst"),
      s"pivot phase is not partial-aggregated:\n$p")
  }

  test("u_unpivot plans as a single Expand pass over the input") {
    val p = plan(Relational.uUnpivot(spark, sf))
    assert(p.contains("Expand"), s"unpivot should use Expand, not unions:\n$p")
    assert(!p.contains("Union"), s"unpivot re-scans the input per metric:\n$p")
  }

  test("j_range: interval join broadcasts the band side; fact side unshuffled") {
    val df = Relational.jRange(spark, sf)
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("x_gopher and x_repetition stay codegen'd — no interpreted lambdas") {
    Seq(TextAnalysis.xGopher(spark, sf), TextAnalysis.xRepetition(spark, sf))
      .foreach { df =>
        df.collect()
        val p = plan(df)
        assert(!p.toLowerCase.contains("lambdafunction"),
          s"interpreted HOF lambda in hot path:\n$p")
        assert(p.contains("*("), s"no codegen stage in:\n$p")
      }
  }

  test("x_repetition is a narrow projection — the rep_stats kernel leaves " +
    "only the presentation sort's exchange") {
    val df = TextAnalysis.xRepetition(spark, sf)
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    assert(p.contains("rep_stats"),
      s"native kernel missing from the plan:\n$p")
    // the per-doc statistics need NO shuffle: the only exchange is the
    // ORDER BY doc_id range partitioning (the r10 kernel replaced the
    // exploded-token sort that went spill-bound at the 1000× stress scale)
    assert(countOccurrences(p, "Exchange") == 1 &&
      p.contains("Exchange rangepartitioning(doc_id"),
      s"expected exactly the presentation-sort exchange:\n$p")
    assert(!p.toLowerCase.contains("explode"),
      s"token explode resurfaced:\n$p")
  }

  test("d_cluster contraction round: constant shuffle count, no cartesian, bounded lineage") {
    import spark.implicits._
    // per-round cost must not depend on graph size or iteration count:
    // each star step is groupBy-min + equi-join on node id — a fixed
    // handful of hash exchanges — and localCheckpoint inside
    // connectedComponents truncates lineage so round N's plan is the same
    // shape as round 1's (no plan growth, no cartesian ever)
    val edges = (0L until 64L).map(i => (i, i + 1)).toDF("u", "v")
      .localCheckpoint()
    val round = Dedup.contractionRound(edges)
    round.collect()
    val p = finalPlan(round)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the r8 fusion dropped the back-to-back large-star-trailing /
    // small-star-leading distincts: 5 hash exchanges per round, was 7
    assert(countOccurrences(p, "Exchange hashpartitioning") <= 5,
      s"contraction round shuffle count grew:\n$p")
  }

  test("p_e2e: dedup is the single fact shuffle; normalize fuses into the scan") {
    val df = graft.operators.Pipeline.pE2e(spark, sf)
    df.collect() // AQE-finalized plan
    val p = finalPlan(df)
    // exactly two hash exchanges end-to-end: the groupBy(t) dedup (the only
    // shuffle that carries per-document data) and the tiny per-source stats
    // aggregate; the regex-normalize prefix must ride inside a codegen stage
    // with the scan, never materialize or shuffle raw text twice
    assert(countOccurrences(p, "Exchange hashpartitioning") == 2, p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("*("), s"no codegen stage in:\n$p")
  }

  test("p_token_budget: priority prefix scan is range-bucketed — no per-source-unbounded corpus window") {
    // the round-6 spelling was sum(toks) OVER (PARTITION BY source ORDER BY
    // priority): an entire source in one reducer — the hot-source straggler
    // (VERDICT r6 #1). The bucketing fragment must slice the (source,
    // priority) order with a RANGE exchange (contiguity is what makes the
    // two-level decomposition exact; doc_id/B would interleave)...
    val parted = graft.operators.Pipeline.tokenBudgetParted(spark, sf)
    parted.collect()
    val pp = finalPlan(parted)
    assert(pp.contains("Exchange rangepartitioning"),
      s"bucketing lost its contiguous range slice:\n$pp")
    assert(pp.contains("toks") && pp.contains("DESC"),
      s"range slice not on the priority order:\n$pp")
    // ...and the main plan must window the corpus only WITHIN (source,
    // bucket); the sole source-partitioned window is over the bucket
    // summary (an aggregate, ≤ slices rows), with the offsets
    // coming back via broadcast, never a corpus reshuffle
    val df = graft.operators.Pipeline.pTokenBudget(spark, sf)
    df.collect()
    val p = finalPlan(df)
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val windows = df.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(windows.size == 2, s"expected corpus + summary windows:\n$p")
    windows.foreach { w =>
      val keys = w.partitionSpec.flatMap(_.references.map(_.name)).toSet
      if (keys.contains("bucket")) assert(keys.contains("source"))
      else {
        // the per-source window: legal only over the bucket summary
        assert(w.child.collectFirst { case a: Aggregate => a }.isDefined,
          s"per-source window runs over corpus rows, not the summary:\n$p")
      }
    }
    assert(p.contains("BroadcastHashJoin"),
      s"bucket offsets not broadcast back:\n$p")
  }

  test("p_token_budget: AQE-sized slices — identical rows at shuffle " +
      "widths 1, 3 and 64") {
    // the range exchange takes the session's shuffle width and AQE
    // coalesces adjacent slices; every slicing is contiguous in the
    // priority order, so cum_toks (and the admitted rows) cannot move.
    // Coalescing is switched off at widths 3 and 64 so those runs really
    // cut 3 and 64 slices; the last run lets AQE coalesce the 64.
    import graft.operators.Pipeline
    def run(width: Int, coalesce: Boolean) = withSession { s =>
      s.conf.set("spark.sql.shuffle.partitions", width.toString)
      s.conf.set("spark.sql.adaptive.coalescePartitions.enabled",
        coalesce.toString)
      val slices = Pipeline.tokenBudgetParted(s, sf01)
        .select("bucket").distinct().count()
      (slices, Pipeline.pTokenBudget(s, sf01).collect().toSeq)
    }
    val (s1, one) = run(1, coalesce = true)
    val (s3, three) = run(3, coalesce = false)
    val (s64, sixtyFour) = run(64, coalesce = false)
    val (sAqe, coalesced) = run(64, coalesce = true)
    assert(s1 == 1 && s3 == 3 && s64 > 3 && sAqe < s64,
      s"slices: width 1 → $s1, 3 → $s3, 64 → $s64, 64 coalesced → $sAqe")
    assert(one.nonEmpty)
    assert(three == one && sixtyFour == one && coalesced == one)
  }

  test("connectedComponents over a small pair frame runs no contraction " +
      "round — its broadcast-sized edge list is labeled on the driver") {
    import spark.implicits._
    val pairs = Seq((5L, 3L), (3L, 9L), (20L, 21L), (9L, 12L), (30L, 30L))
      .toDF("doc_a", "doc_b")
    // construction is the fit test alone: one take of the pair rows, which
    // scans the local frame's first partition and then the other three
    // (2 jobs); a count, a checkpoint or a contraction round would add more
    val (labels, jobs) = jobsDuring(Dedup.connectedComponents(pairs))
    assert(jobs == 2, s"building the components ran $jobs Spark jobs")
    assert(labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(3L -> 3L, 5L -> 3L, 9L -> 3L, 12L -> 3L, 20L -> 20L, 21L -> 20L,
        30L -> 30L))
  }

  test("construction jobs per entry at sf0.01: corpus entries at most their " +
      "pins, relational entries none") {
    // steady state, as a benchmark pass sees it: the entry has been built
    // and run once (its tables' schemas are memoized) and the cache is
    // clear. The pins may fall; a rise is a regression in construction.
    // d_cluster: the shingle cache's count and the pair graph's fit test
    // (the pair pipeline's shuffle stages, run by AQE, and the take, which
    // scans the first of the final stage's partitions, then the rest);
    // p_token_budget: the slice checkpoint's range sampler and exchange.
    val pins = Seq("d_exact" -> 0, "x_quality" -> 0, "m_image_decode" -> 0,
      "p_token_budget" -> 2, "d_cluster" -> 9,
      "q3" -> 0, "q5" -> 0, "q9" -> 0, "q18" -> 0)
    val counts = pins.map { case (name, _) =>
      val entry = SparkEntry.queries(name)
      entry(spark, sf01).collect()
      spark.catalog.clearCache()
      val (df, jobs) = jobsDuring(entry(spark, sf01))
      df.collect()
      spark.catalog.clearCache()
      name -> jobs
    }.toMap
    pins.foreach { case (name, pin) =>
      assert(counts(name) <= pin,
        s"$name ran ${counts(name)} construction jobs, pinned at $pin; all: $counts")
    }
  }

  test("x_boilerplate: count-distinct is partial-aggregated before the shuffle") {
    val df = graft.operators.TextAnalysis.xBoilerplate(spark, sf)
    df.collect()
    val p = finalPlan(df)
    // two-phase distinct aggregation: partial_ nodes below the exchange mean
    // each partition collapses to its distinct (sentence, doc) pairs before
    // anything moves — the property that keeps the shuffle ∝ distinct
    // sentences, not corpus size
    assert(p.contains("partial_count"), s"no partial aggregation:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("n_pq_topk: corpus never shuffle-joined; ADC scoring runs the native expression") {
    val df = Similarity.nPqTopk(spark, sf)
    df.collect()
    val p = finalPlan(df)
    // the scored cross is query-tables-broadcast against the 8-byte code
    // frame; a SortMergeJoin would mean the corpus representation moved
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("pq_score"), s"native ADC scorer missing from plan:\n$p")
    assert(countOccurrences(p, "ObjectHashAggregate") >= 2,
      s"top-k sink lost partial aggregation:\n$p")
    // round-4 verdict: corpus ENCODE ran interpreted aggregate(zip_with(...))
    // HOFs. The whole PQ path (encode, query tables, ADC scoring) must now
    // be codegen — no scalar CodegenFallback expression anywhere in the
    // plan. (TypedImperativeAggregates like topk_pairs nominally extend
    // CodegenFallback but execute through ObjectHashAggregate with partial
    // aggregation — that IS their codegen story, so aggregates are exempt.)
    val fallbacks = df.queryExecution.optimizedPlan.collect { case n =>
      n.expressions.flatMap(_.collect {
        case e: org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
          if !e.isInstanceOf[
            org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction] =>
          e.prettyName
      })
    }.flatten.distinct
    assert(fallbacks.isEmpty, s"interpreted expressions in PQ plan: $fallbacks")
  }

  test("d_lines: first-occurrence decision is partial-aggregated — no Window, hot-line immune") {
    val df = Dedup.dLines(spark, sf)
    df.collect()
    val p = finalPlan(df)
    // the round-5 spelling was row_number() OVER (PARTITION BY sha2(line)):
    // every copy of a boilerplate line shipped to ONE reducer — the exact
    // straggler shape line-dedup exists to remove (VERDICT r5). The
    // min(struct(doc_id, pos)) aggregate must show a map-side partial pair
    // so a hot line collapses per input partition BEFORE the shuffle.
    assert(!p.contains("Window"),
      s"d_lines regressed to a window-based first-occurrence:\n$p")
    assert(p.contains("partial_min"),
      s"first-occurrence min is not partial-aggregated:\n$p")
  }

  test("n_ivfpq_topk: probes broadcast against the code index; whole path codegen'd") {
    val df = Similarity.nIvfpqTopk(spark, sf)
    df.collect()
    val p = finalPlan(df)
    // the serve join is (cell, qtab) probes — queries × nprobe rows —
    // broadcast against the stored (cell, vec_id, codes) index; a
    // SortMergeJoin would mean the index moved for the query
    assert(p.contains("BroadcastHashJoin"), s"probe side not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"index shuffled for the probe join:\n$p")
    assert(p.contains("pq_score"), s"native ADC scorer missing from plan:\n$p")
    assert(countOccurrences(p, "ObjectHashAggregate") >= 2,
      s"top-k sink lost partial aggregation:\n$p")
    // same no-interpreted-scalar bar as n_pq_topk (aggregates exempt — see
    // that audit for why TypedImperativeAggregate is nominal fallback)
    val fallbacks = df.queryExecution.optimizedPlan.collect { case n =>
      n.expressions.flatMap(_.collect {
        case e: org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
          if !e.isInstanceOf[
            org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction] =>
          e.prettyName
      })
    }.flatten.distinct
    assert(fallbacks.isEmpty, s"interpreted expressions in IVFADC plan: $fallbacks")
  }

  test("ivf corpus assignment is a narrow per-row argmax — zero shuffle in the index build") {
    // the round-5 crossJoin + groupBy(vec_id) spelling exchanged every
    // (vec_id, embedding) row for its final aggregate — a full-corpus
    // embedding shuffle inside every index build and Lloyd iteration
    val assigned = Similarity.ivfAssigned(spark, sf)
    assigned.collect()
    val p = finalPlan(assigned)
    assert(!p.contains("Exchange"),
      s"index-build assignment shuffles the corpus:\n$p")
    // the default 16-cell model runs the one fused kernel, not a per-cell
    // expression chain
    assert(p.contains("nearest_centroid"),
      s"${Similarity.IvfCells}-cell assignment does not use nearest_centroid:\n$p")
  }

  test("ivfpq stored-index serve: scan prunes to the probed cells' partitions") {
    val (c, books, idx) = Similarity.ivfpqBuild(spark, sf)
    val path = "target/ivfpq_index_audit"
    Similarity.ivfpqWriteIndex(idx, path)
    // over a parquet query frame, building the serve runs one job, the
    // probe rows' collect; the query frame is opened first, outside the
    // count, because the first opening of a table infers its schema in a
    // job of its own (Tables.read)
    val queries = Tables.t(spark, sf, "embeddings")
      .filter(org.apache.spark.sql.functions.col("vec_id") < Similarity.NumQueries)
      .selectExpr("vec_id AS qid", "embedding AS qv")
    val (built, jobs) = jobsDuring(Similarity.ivfpqServeFromStoreOn(
      queries, path, c, books, excludeSelf = true))
    assert(jobs == 1, s"building the stored-index serve ran $jobs Spark jobs")
    // over a local query frame the per-query probe Project is evaluated by
    // the optimizer on the driver: building runs no job, and running runs
    // three (the broadcast, the scan with the partial top-k, the result)
    val local = spark.createDataFrame(queries.collectAsList(), queries.schema)
    val (builtLocal, localJobs) = jobsDuring(Similarity.ivfpqServeFromStoreOn(
      local, path, c, books, excludeSelf = true))
    assert(localJobs == 0,
      s"building the serve over a local query frame ran $localJobs Spark jobs")
    val (localRows, execJobs) = jobsDuring(builtLocal.collect().toSeq)
    assert(execJobs <= 3, s"running the stored-index serve took $execJobs jobs")
    val df = Similarity.ivfpqServeFromStore(spark, sf, path, c, books)
    val want = df.collect().toSeq
    assert(built.collect().toSeq == want && localRows == want)
    val p = finalPlan(df)
    // the probed cell ids become a static IN-filter → partition pruning on
    // the cell-partitioned index layout: the scan reads nprobe directories,
    // not the whole index — the 100 TB serve story
    assert(p.contains("PartitionFilters: [cell"),
      s"probe cells did not prune index partitions:\n$p")
    assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"),
      s"stored index shuffled for the probe join:\n$p")
    // queries × k rows: a bounded sort merged on the driver, not a range
    // sampler job and a range exchange
    assert(p.contains("TakeOrderedAndProject") &&
      !p.contains("rangepartitioning"),
      s"the serve's result sort is not bounded:\n$p")
    assert(finalPlan(builtLocal).contains("TakeOrderedAndProject"),
      s"local-frame serve lost its bounded sort:\n${finalPlan(builtLocal)}")
  }

  test("d_cluster: labels finished on the driver feed the cluster-size " +
      "window and the doc_id sort without an exchange") {
    val pairs = Dedup.lshPairs(Dedup.wordShingleSets(Dedup.withPlantedNear(
      Tables.t(spark, sf, "documents"))), 0.5)
    assert(Dedup.components(pairs, 15).finishedOnDriver,
      "the sf0.001 pair graph no longer fits the driver; this audit " +
        "covers only the driver finish")
    val df = Dedup.dCluster(spark, sf)
    df.collect()
    val p = finalPlan(df)
    assert(p.contains("LocalTableScan") && !p.contains("Exchange"),
      s"d_cluster shuffles labels the driver already holds:\n$p")
  }

  test("cb_stddev_topn: dispersion stats partial-aggregated; top-10 is TakeOrdered, not a global sort") {
    val df = graft.operators.ClickBench.cbStddevTopn(spark, sf)
    df.collect()
    val p = finalPlan(df)
    // stddev/var merge as (n, Σx, Σx²) sufficient statistics — the map-side
    // partial pair is what keeps the shuffle ∝ groups, not rows
    assert(p.contains("partial_stddev") || p.contains("partial_var"),
      s"dispersion aggregate lost map-side partials:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"ORDER BY s DESC LIMIT 10 degenerated to a global sort:\n$p")
  }

  test("p_pack: corpus prefix scan runs bucket-partitioned; only the summary window is single-partition") {
    val df = graft.operators.Pipeline.pPack(spark, sf)
    df.collect()
    val p = finalPlan(df)
    // the doc-level cumulative sum is a window PARTITIONED BY bucket — the
    // corpus never collapses to one task (the naive global cumsum would)
    assert(p.contains("hashpartitioning(bucket"),
      s"corpus prefix scan lost its bucket partitioning:\n$p")
    // the n/B-row bucket SUMMARY window is keyed on Tables.summaryKey — one
    // partition by design, but spelled as a (constant-valued) hash
    // partitioning so WindowExec's no-partition WARN stays reserved for
    // accidental global windows; the corpus itself never single-partitions
    // and no SinglePartition exchange appears anywhere
    assert(countOccurrences(p, "Exchange SinglePartition") == 0,
      s"no SinglePartition exchange expected anywhere in p_pack:\n$p")
    assert(countOccurrences(p, "Window") >= 2,
      s"expected both the bucket window and the summary window:\n$p")
    // bucket offsets come back via broadcast — no corpus reshuffle to join
    assert(p.contains("BroadcastHashJoin"),
      s"bucket offsets not broadcast back:\n$p")
  }

  test("cb_h2o_join: small dim broadcasts; no cartesian anywhere in the 3-tier join") {
    val df = graft.operators.ClickBench.cbH2oJoin(spark, sf)
    df.collect()
    val p = finalPlan(df)
    assert(p.contains("BroadcastHashJoin"), s"nation dim not broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"h2o join degenerated to a cross product:\n$p")
  }

  test("cb_multi_uniq: N distincts plan as ONE pass — Expand + partial aggregation") {
    val df = graft.operators.ClickBench.cbMultiUniq(spark, sf)
    df.collect()
    val p = finalPlan(df)
    // one Expand node (one replica per distinct column) fed by a single
    // scan; partial aggregation collapses each partition's replicas to its
    // distinct values BEFORE the shuffle
    assert(p.contains("Expand"), s"multi-distinct lost the Expand plan:\n$p")
    assert(countOccurrences(p, "Scan parquet") == 1,
      s"multi-distinct re-scanned the table:\n$p")
    assert(p.contains("partial_count"), s"no partial aggregation:\n$p")
  }

  test("cb_h2o_win: all per-user windows share one shuffle; global sum is broadcast not SinglePartition") {
    val df = graft.operators.ClickBench.cbH2oWin(spark, sf)
    df.collect()
    val p = finalPlan(df)
    // the four user_id-ordered window columns + the user_id partition sum
    // must reuse one hashpartitioning(user_id) exchange; the whole-table
    // sum must arrive via broadcast, never Exchange SinglePartition (the
    // unscalable unpartitioned-window plan)
    assert(countOccurrences(p, "Exchange hashpartitioning(user_id") <= 1,
      s"per-user windows split into multiple shuffles:\n$p")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastQueryStage"),
      s"global sum not broadcast:\n$p")
    // no unpartitioned Window operator anywhere (OVER () would show as a
    // windowspecdefinition with no partition columns and put the whole
    // table on one partition; the scalar aggregate's Exchange
    // SinglePartition is fine — it moves one row per partition)
    assert(!p.contains("windowspecdefinition(specifiedwindowframe"),
      s"unpartitioned window materialized on one partition:\n$p")
  }

  test("cb_h2o_topn: top-2 per key runs as a partial-aggregated bounded heap, not a window sort") {
    val df = graft.operators.ClickBench.cbH2oTopn(spark, sf)
    df.collect()
    val p = finalPlan(df)
    // h2o's ROW_NUMBER spelling would shuffle + sort every row; the
    // topk_pairs form must keep <=2 rows per key per partition map-side
    assert(countOccurrences(p, "ObjectHashAggregate") >= 2,
      s"top-n lost partial aggregation:\n$p")
    assert(!p.contains("Window"), s"top-n degenerated to a window sort:\n$p")
  }

  test("sub_exists_in: every predicate subquery plans as a hash semi/anti join") {
    // EXISTS / NOT EXISTS / IN / NOT IN must all decorrelate to keyed hash
    // joins with the filtered orders/nation side built + broadcast — at
    // 100 TB the customer probe streams once past four hashed filters. The
    // scale hazards pinned here: NOT IN on a nullable key degenerating to
    // BroadcastNestedLoopJoin (Spark plans it as a null-aware ANTI *hash*
    // join — the ",true)" build flag — only for single-column not-in), and
    // any subquery losing its pushed filter and hashing the full fact.
    val p = plan(Relational.subExistsIn(spark, sf))
    assert(countOccurrences(p, "BroadcastHashJoin") == 4, p)
    assert(countOccurrences(p, "LeftSemi") == 2, p)
    assert(countOccurrences(p, "LeftAnti") == 2, p)
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"a predicate subquery fell back to nested-loop:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(o_totalprice), GreaterThan(o_totalprice"),
      s"EXISTS subquery filter did not reach the orders scan:\n$p")
  }

  test("u_unnest family: generators are narrow — no shuffle before the presentation sort") {
    // explode/inline/posexplode are per-row Generate nodes; flattening nested
    // parquet must never move data. Only the final orderBy may exchange.
    Seq(Relational.uUnnest(spark, sf), Relational.uUnnestStruct(spark, sf),
        Relational.uUnnestMap(spark, sf), Relational.uUnnestNested(spark, sf),
        Relational.uUnnestOuter(spark, sf))
      .foreach { df =>
        val p = plan(df)
        assert(p.contains("Generate"), s"no generator node:\n$p")
        assert(countOccurrences(p, "Exchange") <= 1,
          s"unnest plan shuffles beyond the presentation sort:\n$p")
      }
  }

  test("cb_funnel: step filters pushed, per-user mins partial-aggregated, only scalar cross joins") {
    val df = graft.operators.ClickBench.cbFunnel(spark, sf)
    df.collect()
    val p = finalPlan(df)
    assert(p.contains("PushedFilters: [IsNotNull(event_type), EqualTo(event_type,view)"),
      s"step filter did not reach the events scan:\n$p")
    // per-user distinct/min state must partial-aggregate before its exchange
    assert(p.contains("HashAggregate(keys=[user_id"), p)
    // the ONLY nested-loop joins allowed are the two 1-row scalar crosses
    assert(countOccurrences(p, "BroadcastNestedLoopJoin") == 2, p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"), "funnel must not window the event history")
  }

  test("cb_bitmap_uniq: bitmap partials aggregate map-side; no window, no raw-id rebroadcast") {
    val df = graft.operators.ClickBench.cbBitmapUniq(spark, sf)
    df.collect()
    val p = finalPlan(df)
    // the property that makes bitmap distinct scale: the fixed-size bitmap
    // partial is built BEFORE the (type, bucket) exchange — raw user ids
    // never cross the wire unaggregated
    assert(p.contains("partial_bitmap_construct_agg"),
      s"bitmap construct lost its partial phase:\n$p")
    assert(p.contains("partial_sum"), s"count rollup lost partial agg:\n$p")
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("join strategy hints are honored: BROADCAST forces the build side, MERGE forces sort-merge") {
    // the manual override for when neither file sizes nor statistics tell
    // the truth (fresh tables, remote stores with opaque sizes): a
    // BROADCAST hint must build the hinted side even when it's above the
    // auto threshold, and MERGE must hold sort-merge even for a tiny side.
    import org.apache.spark.sql.functions.col
    graft.Tables.registerViews(spark, sf)
    def planOf(sql: String): String =
      spark.sql(sql).queryExecution.sparkPlan.toString
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // auto off
    try {
      val hinted = planOf(
        """SELECT /*+ BROADCAST(n) */ count(*) AS c
          |FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey""".stripMargin)
      assert(hinted.contains("BroadcastHashJoin"),
        s"BROADCAST hint ignored with auto-broadcast off:\n$hinted")
      val unhinted = planOf(
        """SELECT count(*) AS c
          |FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey""".stripMargin)
      assert(!unhinted.contains("BroadcastHashJoin"),
        s"control: auto-broadcast should be off:\n$unhinted")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    val merged = planOf(
      """SELECT /*+ MERGE(n) */ count(*) AS c
        |FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey""".stripMargin)
    assert(merged.contains("SortMergeJoin"),
      s"MERGE hint did not force sort-merge:\n$merged")
  }

  test("ANALYZE statistics feed the planner: row counts, CBO selectivity, stats-driven broadcast") {
    // The reference plans off table/column statistics (parquet_statistics /
    // listing_table_statistics surfaces); Spark's equivalent is ANALYZE
    // TABLE + CBO. At 100 TB this is the difference between shuffling a
    // fact table and broadcasting its filtered slice: the 2%-selective
    // filter below is provably broadcast-able ONLY via column statistics,
    // because the file-size estimate can't see through the predicate.
    import org.apache.spark.sql.functions.col
    graft.Tables.registerViews(spark, sf)
    Relational.dropManaged(spark, "graft_stats_orders")
    spark.sql("CREATE TABLE graft_stats_orders USING PARQUET AS SELECT * FROM orders")
    val nRows = graft.Tables.t(spark, sf, "orders").count()
    def withConf[T](kvs: (String, String)*)(body: => T): T = {
      val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
      kvs.foreach { case (k, v) => spark.conf.set(k, v) }
      try body finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    withConf("spark.sql.cbo.enabled" -> "true") {
      val pre = spark.table("graft_stats_orders").queryExecution.optimizedPlan.stats
      assert(pre.rowCount.isEmpty, s"row count known before ANALYZE: ${pre.rowCount}")
      spark.sql("ANALYZE TABLE graft_stats_orders COMPUTE STATISTICS FOR COLUMNS o_totalprice")
      val post = spark.table("graft_stats_orders").queryExecution.optimizedPlan.stats
      assert(post.rowCount.contains(BigInt(nRows)),
        s"ANALYZE row count ${post.rowCount} != $nRows")
      val filtered = spark.table("graft_stats_orders")
        .filter(col("o_totalprice") > 490000.0)
      val est = filtered.queryExecution.optimizedPlan.stats
      assert(est.rowCount.exists(_ < nRows / 5),
        s"column stats did not shrink the filter estimate: ${est.rowCount} of $nRows")
      assert(est.sizeInBytes < post.sizeInBytes, "filter size estimate not reduced")
      // the size-only estimator can't see through the predicate: its filter
      // estimate stays at the table's on-disk size. A threshold halfway
      // between the two estimates separates the planners.
      val sizeOnly = withConf("spark.sql.cbo.enabled" -> "false") {
        spark.table("graft_stats_orders")
          .filter(col("o_totalprice") > 490000.0)
          .queryExecution.optimizedPlan.stats.sizeInBytes
      }
      assert(est.sizeInBytes < sizeOnly,
        s"CBO filtered estimate ${est.sizeInBytes} not below size-only $sizeOnly")
      val thr = ((est.sizeInBytes + sizeOnly) / 2).toString
      def joinPlan(cbo: String): String =
        withConf("spark.sql.cbo.enabled" -> cbo,
            "spark.sql.autoBroadcastJoinThreshold" -> thr) {
          // sparkPlan = the initial planner decision, before AQE's runtime
          // rescue — exactly where catalog statistics must earn their keep
          spark.table("graft_stats_orders")
            .filter(col("o_totalprice") > 490000.0)
            .join(graft.Tables.t(spark, sf, "lineitem"),
              col("o_orderkey") === col("l_orderkey"))
            .queryExecution.sparkPlan.toString
        }
      val withStats = joinPlan(cbo = "true")
      assert(withStats.contains("BroadcastHashJoin"),
        s"stats-based estimate did not drive the broadcast:\n$withStats")
      val sizeOnlyPlan = joinPlan(cbo = "false")
      assert(!sizeOnlyPlan.contains("BroadcastHashJoin") && sizeOnlyPlan.contains("SortMergeJoin"),
        s"size-only estimate should NOT broadcast at this threshold:\n$sizeOnlyPlan")
    }
  }

  test("optimizer hygiene: identical subplans reuse one exchange; superseded sorts are eliminated") {
    import org.apache.spark.sql.functions.{count, lit}
    // self-join of the same aggregate: the shuffle must be computed ONCE
    // (ReusedExchange) — at 100 TB recomputing a shared subplan doubles the
    // heaviest stage (reference surface: cse.slt common-subexpression reuse)
    val ev = graft.Tables.t(spark, sf, "events")
    val agg = ev.groupBy("event_type").agg(count(lit(1)).as("n"))
    val joined = agg.as("a").join(agg.as("b"), "event_type")
    joined.collect()
    val p = finalPlan(joined)
    assert(p.contains("ReusedExchange"),
      s"identical aggregate subplans were shuffled twice:\n$p")
    // a sort superseded by a later sort must vanish entirely — including
    // its sort column's scan (reference surface: sort-elimination tests)
    val ds = ev.orderBy("ts").orderBy("event_id").select("event_id")
    val sp = plan(ds)
    assert(countOccurrences(sp, "Sort [") == 1,
      s"superseded sort survived:\n$sp")
    assert(!sp.contains("ts#"), s"eliminated sort still reads its column:\n$sp")
  }

  test("d_semantic: cell-keyed self-join — no cartesian; at scale the assigned frame shuffles once and is reused") {
    // under defaults the tiny test corpus broadcasts one side — fine, but
    // the join must still be KEYED on the cell (cosine only as residual)
    val df = Dedup.dSemantic(spark, sf)
    df.collect()
    val p = finalPlan(df)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"within-cell candidate generation must be a keyed join:\n$p")
    // the 100 TB shape: with broadcast off (a 100 TB assigned frame never
    // broadcasts), both self-join inputs are the SAME subtree — the cell
    // exchange must be computed once and reused, not re-run the argmax
    // assignment twice over the corpus
    val thr = "spark.sql.autoBroadcastJoinThreshold"
    val prior = spark.conf.get(thr)
    try {
      spark.conf.set(thr, "-1")
      val big = Dedup.dSemantic(spark, sf)
      big.collect()
      val bp = finalPlan(big)
      assert(bp.contains("ReusedExchange"),
        s"self-join shuffled the assigned frame twice:\n$bp")
      assert(!bp.contains("CartesianProduct"), bp)
    } finally spark.conf.set(thr, prior)
  }

  test("x_bpe_train: corpus scanned once into the vocab; merge rounds iterate on the checkpoint with partial-aggregated pair counts") {
    import org.apache.spark.sql.functions.col
    val corpus = graft.Tables.t(spark, sf, "documents").select(col("text"))
    // the single corpus-wide pass: explode + one aggregation exchange
    val vp = finalPlan {
      val v = TextAnalysis.bpeVocab(corpus); v.collect(); v
    }
    assert(countOccurrences(vp, "Exchange") == 1,
      s"vocab build must shuffle exactly once:\n$vp")
    // per-round pair counting reads the PINNED vocab (ExistingRDD), never
    // the corpus files, and partial-aggregates before its exchange
    val vocab = graft.operators.Checkpoints.pin(TextAnalysis.bpeVocab(corpus))
    val pc = TextAnalysis.bpePairCounts(vocab)
    pc.collect()
    val p = finalPlan(pc)
    assert(p.contains("ExistingRDD"), s"pair counts must read the pinned vocab:\n$p")
    assert(!p.toLowerCase.contains("parquet"),
      s"pair counting re-scans the corpus:\n$p")
    assert(p.contains("partial_sum"),
      s"pair counts are not partial-aggregated:\n$p")
  }

  test("set_config: a session config materially changes execution, and the entry restores it") {
    import org.apache.spark.sql.functions.{count, lit}
    val sp = "spark.sql.shuffle.partitions"
    val aqe = "spark.sql.adaptive.enabled"
    val priorSp = spark.conf.get(sp)
    val priorAqe = spark.conf.get(aqe)
    try {
      // the configured partition count must be what the exchange executes
      // with — proven at the RDD level (AQE coalescing off so the planned
      // and executed counts coincide)
      spark.sql(s"SET $aqe=false")
      spark.sql(s"SET $sp=7")
      val agg = graft.Tables.t(spark, sf, "events")
        .groupBy("event_type").agg(count(lit(1)).as("n"))
      assert(agg.rdd.getNumPartitions == 7,
        s"SET $sp=7 did not reach the exchange")
      spark.sql(s"SET $sp=13")
      assert(agg.rdd.getNumPartitions == 7,
        "an analyzed plan must keep the partition count it was planned with")
      val agg2 = graft.Tables.t(spark, sf, "events")
        .groupBy("event_type").agg(count(lit(1)).as("n"))
      assert(agg2.rdd.getNumPartitions == 13,
        s"SET $sp=13 did not reach a newly planned exchange")
    } finally {
      spark.sql(s"RESET $sp"); spark.sql(s"RESET $aqe")
    }
    assert(spark.conf.get(sp) == priorSp && spark.conf.get(aqe) == priorAqe,
      "RESET must restore the builder defaults")
    // the ANSI flag flips SEMANTICS: 1/0 errors under the default (ansi on),
    // yields NULL with ansi off — and the set_config ENTRY leaves the
    // session with the default restored, which this error proves
    Relational.setConfig(spark, sf).collect()
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
    val err = intercept[ArithmeticException] { // SparkArithmeticException
      spark.sql("SELECT 1/0 AS d").collect()
    }
    assert(err.getMessage.contains("DIVIDE_BY_ZERO"), err.getMessage)
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try assert(spark.sql("SELECT 1/0 AS d").head().isNullAt(0))
    finally spark.sql("RESET spark.sql.ansi.enabled")
  }

  test("e_hopping: 4-way window expansion is narrow (Expand fused into the " +
    "scan), one partial-aggregated shuffle, no join") {
    val df = Relational.eHopping(spark, sf)
    df.collect()
    val p = finalPlan(df)
    assert(p.contains("Expand"), s"sliding windows lost the Expand plan:\n$p")
    assert(!p.contains("Join"), s"window generation must not join:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"hopping agg not partial-aggregated before its shuffle:\n$p")
    assert(countOccurrences(p, "Scan parquet") == 1,
      s"events scanned more than once:\n$p")
  }

  test("p_curriculum: corpus ranked inside range buckets — the only " +
    "single-partition window is the <=32-row offset summary") {
    // pre-checkpoint fragment: the global order comes from ONE range
    // exchange on the sort key, not a global sort into one task
    val frag = graft.operators.Pipeline.curriculumParted(spark, sf)
    frag.collect()
    val fp = finalPlan(frag)
    assert(fp.contains("rangepartitioning(difficulty"),
      s"curriculum lost its range bucketing:\n$fp")
    assert(!fp.contains("Exchange SinglePartition"),
      s"range fragment must not single-partition the corpus:\n$fp")
    // main plan: corpus row_number is partitioned by pid; the only
    // SinglePartition exchanges feed the per-partition count summary
    // (≤32 rows), and offsets come back via broadcast
    val df = graft.operators.Pipeline.pCurriculum(spark, sf)
    df.collect()
    val p = finalPlan(df)
    assert(p.contains("hashpartitioning(pid"),
      s"corpus rank lost its pid partitioning:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"stage offsets not broadcast back:\n$p")
  }

  test("p_stratified: candidate filter is narrow off a broadcast count " +
    "join; the rank window sees only admitted candidates") {
    val df = graft.operators.Pipeline.pStratified(spark, sf)
    df.collect()
    val p = finalPlan(df)
    // per-stratum counts partial-aggregate, then broadcast back — the
    // corpus is never shuffled just to learn its stratum sizes
    assert(p.contains("BroadcastHashJoin"),
      s"stratum counts not broadcast:\n$p")
    // the partial aggregation prints in the pre-execution plan; in the AQE
    // final plan the count's broadcast stage collapses to a ReusedExchange
    // reference whose subtree (with the HashAggregate) doesn't reprint
    val pre = plan(graft.operators.Pipeline.pStratified(spark, sf))
    assert(pre.contains("partial_count"),
      s"stratum counts not partial-aggregated:\n$pre")
    assert(!p.contains("CartesianProduct"), p)
    // the r10 shortfall guard's fallback branch must be FREE on healthy
    // data: AQE proves the short-strata set empty and prunes the second
    // full-rank pass to an EmptyRelation instead of re-ranking the corpus
    assert(p.contains("EmptyRelation"),
      s"shortfall fallback branch did not collapse on healthy data:\n$p")
  }

  test("d_minhash_delta stored-index serve: NO base-side signature work — " +
    "minhash_sig runs only on the delta; the index arrives by scan") {
    import org.apache.spark.sql.functions.col
    import graft.operators.Dedup
    val all = Dedup.withPlantedNear(
      Tables.t(spark, sf, "documents").select("doc_id", "text"))
    val path = "target/minhash_index_audit"
    Dedup.minhashIndexWrite(
      Dedup.wordShingleSets(all.filter(col("doc_id") < 1000000L)), path)
    val df = Dedup.minhashDeltaPairsFromStore(spark, path,
      Dedup.wordShingleSets(all.filter(col("doc_id") >= 1000000L)), 0.5)
    df.collect()
    val p = finalPlan(df)
    // the whole point of the stored index: the BASE corpus text is never
    // read in serve — every documents scan carries the delta's pushed
    // >= 1e6 filter, and no scan carries the base's < 1e6 filter (which
    // would mean re-shingling/re-signing the corpus)
    assert(p.contains("GreaterThanOrEqual(doc_id,1000000)"),
      s"delta filter not pushed to the documents scan:\n$p")
    assert(!p.contains("LessThan(doc_id,1000000)"),
      s"BASE corpus documents scanned in the stored serve:\n$p")
    // the index arrives by parquet scan (the shingle-store scan sits
    // inside the cached candidate-fetch subtree, whose reprint truncates),
    // and the postings scan is BUCKETED on the join keys — the layout that
    // lets the corpus-sized index stream without a per-batch shuffle/sort
    assert(p.contains("graft_minhash_postings"),
      s"stored postings not scanned:\n$p")
    assert(p.contains("Bucketed: true"),
      s"postings store lost its bucketed layout:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("d_soft: copy counts partial-aggregate map-side and join back " +
    "keyed on the 32-byte hash — no window over the copies") {
    val df = Dedup.dSoft(spark, sf)
    df.collect()
    val p = finalPlan(df)
    assert(p.contains("partial_count"),
      s"sha2 copy counts not partial-aggregated:\n$p")
    assert(!p.contains("Window"),
      s"soft dedup must not run a window over the copies:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"count join degenerated:\n$p")
  }

  test("x_pii: redaction plus audit counts are one narrow projection — " +
    "no shuffle before the presentation sort, one scan") {
    val df = TextAnalysis.xPii(spark, sf)
    df.collect()
    val p = finalPlan(df)
    assert(countOccurrences(p, "Scan parquet") == 1,
      s"documents scanned more than once:\n$p")
    // the ONLY exchange is the presentation orderBy's range partitioning —
    // redaction and counting themselves are shuffle-free
    assert(countOccurrences(p, "Exchange") <= 1,
      s"PII redaction shuffles beyond the presentation sort:\n$p")
  }

  test("AQE skew join: a hot key's partition is split across tasks " +
    "(skew=true), result unchanged") {
    import org.apache.spark.sql.functions.{col, lit, when}
    import spark.implicits._
    // one key carries ~all rows — the 100 TB boilerplate-join shape that
    // stalls a sort-merge join on one reducer unless the engine splits it
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1", // force sort-merge
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32KB")
    val prior = confs.map { case (k, _) => k -> spark.conf.get(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val fact = spark.range(200000)
        .select(when(col("id") % 100 =!= 0, lit(7L)).otherwise(col("id"))
          .as("k"), col("id").as("v"))
      val dim = spark.range(300).select(col("id").as("k"),
        (col("id") * 2).as("w"))
      val joined = fact.join(dim, "k")
      val n = joined.count()
      // 99% of fact rows carry k=7 (dim has it) + every 100th row k=id
      // joins when id < 300 → 198000 + 3
      assert(n == 198003L, s"skew join row count $n")
      joined.collect()
      val p = finalPlan(joined)
      assert(p.contains("skew=true"),
        s"AQE did not mark the skewed join for splitting:\n$p")
    } finally prior.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("dynamic partition pruning: a filtered dim prunes the partitioned " +
    "fact scan at runtime (dynamicpruning in the plan)") {
    import org.apache.spark.sql.functions.{avg, col}
    // partitioned fact on disk — the 100 TB layout sink_partitioned writes;
    // DPP is what makes `fact JOIN dim WHERE dim.pred` read only the
    // partitions the dim rows name, without a static literal filter
    val out = new java.io.File("target/ioqueries/orders_dpp").getAbsolutePath
    val orders = Tables.t(spark, sf, "orders")
    orders.select("o_orderkey", "o_totalprice", "o_orderstatus")
      .write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
    val fact = spark.read.parquet(out)
    // the dim predicate must be on a NON-join column: a literal filter on
    // the join key itself gets constraint-propagated into a STATIC
    // partition filter (verified — Catalyst infers `status = F` without
    // any runtime machinery), which is pruning but not DPP. Predicating on
    // an aggregate makes the qualifying statuses unknowable until runtime.
    val dim = orders.groupBy(col("o_orderstatus").as("st"))
      .agg(avg("o_totalprice").as("avg_price"))
      .filter(col("avg_price") > 100000.0)
    val joined = fact.join(dim, fact("o_orderstatus") === dim("st"))
    val n = joined.count()
    val expect = orders.join(dim, orders("o_orderstatus") === dim("st")).count()
    assert(n == expect, s"DPP join returned $n rows, expected $expect")
    assert(n > 0, "degenerate: no status qualifies — lower the threshold")
    val p = joined.queryExecution.executedPlan.toString
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"partitioned fact scan carries no dynamic pruning filter:\n$p")
  }

  test("runtime bloom filter: a selective dim filter is pushed to the fact " +
    "side as might_contain before the shuffle") {
    import org.apache.spark.sql.functions.col
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1", // SMJ keeps the filter useful
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0")
    val prior = confs.map { case (k, _) => k -> spark.conf.get(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val fact = Tables.t(spark, sf01, "lineitem")
        .select("l_orderkey", "l_quantity")
      val dim = Tables.t(spark, sf01, "orders")
        .filter(col("o_totalprice") > 400000.0) // selective creation side
        .select("o_orderkey")
      val joined = fact.join(dim, fact("l_orderkey") === dim("o_orderkey"))
      joined.collect()
      val p = finalPlan(joined)
      assert(p.contains("might_contain"),
        s"no runtime bloom filter on the fact scan:\n$p")
      assert(p.contains("bloom_filter_agg") || p.contains("BloomFilter"),
        s"no bloom filter creation on the dim side:\n$p")
    } finally prior.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("w_run_distinct: both windows share ONE user-keyed exchange — the " +
    "lag-based flag avoids the (user,type) repartition") {
    val df = Relational.wRunDistinct(spark, sf)
    df.collect()
    val p = finalPlan(df)
    assert(countOccurrences(p, "Exchange hashpartitioning") == 1,
      s"first-occurrence flag forced a second hash exchange:\n$p")
    assert(countOccurrences(p, "Scan parquet") == 1, p)
  }

  test("job_* suite: every JOB-family plan is a broadcast-built join web — " +
    "no cartesian or nested-loop, filtered dims become broadcast builds, " +
    "selective predicates reach the scans") {
    import graft.operators.Job
    Job.queries.foreach { case (name, fn) =>
      val df = fn(spark, sf01)
      df.collect()
      val p = finalPlan(df)
      assert(!p.contains("CartesianProduct"),
        s"$name degenerated to a cartesian:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$name degenerated to a nested loop:\n$p")
      assert(countOccurrences(p, "BroadcastHashJoin") >= 2,
        s"$name: selective dims did not become broadcast builds:\n$p")
      assert(p.contains("PushedFilters: ["),
        s"$name: no predicate reached a parquet scan:\n$p")
    }
  }

  test("job_10a: the bridge-fact predicates are pushed to the lineitem " +
    "scan itself — the fact shrinks before any join") {
    import graft.operators.Job
    val p = plan(Job.queries("job_10a")(spark, sf01))
    assert(p.contains("EqualTo(l_returnflag,R)"),
      s"l_returnflag not pushed to the fact scan:\n$p")
    // the PushedFilters print truncates long lists — assert the linestatus
    // predicate via the scan's DataFilters spelling instead
    assert(p.contains("(l_linestatus#") && p.contains(" = F)"),
      s"l_linestatus not pushed to the fact scan:\n$p")
  }

  test("job_16b: the build side is size-driven, not hardcoded — tiny " +
    "thresholds flip the big joins to sort-merge while the genuinely tiny " +
    "dims stay broadcast") {
    import graft.operators.Job
    val conf = spark.conf
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> conf.getOption(k)).toMap
    try {
      keys.foreach(conf.set(_, "4KB"))
      val df = Job.queries("job_16b")(spark, sf01)
      df.collect()
      val p = finalPlan(df)
      assert(p.contains("SortMergeJoin"),
        s"4KB threshold but no join flipped to sort-merge:\n$p")
      assert(p.contains("BroadcastHashJoin"),
        s"region/nation (<4KB) lost their broadcast build:\n$p")
      assert(!p.contains("CartesianProduct"), p)
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("job_33a: the hub self-join stays an equi-join on the link key — " +
    "the o1<o2 asymmetry rides as a post-join filter, never a nested loop, " +
    "and both part dims broadcast independently") {
    import graft.operators.Job
    val df = Job.queries("job_33a")(spark, sf01)
    df.collect()
    val p = finalPlan(df)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"o1<o2 inequality degenerated the link join:\n$p")
    // two separate p_type-filtered part builds (one per tree)
    assert(countOccurrences(p, "p_type") >= 2,
      s"expected both part trees' dim filters in the plan:\n$p")
    // both order scans keep their priority pushdown — each tree is reduced
    // BEFORE the link join
    assert(p.contains("EqualTo(o_orderpriority,1-URGENT)") &&
      p.contains("EqualTo(o_orderpriority,2-HIGH)"),
      s"order-priority predicates not pushed to both hub scans:\n$p")
  }

  test("job_15a: each of the four same-table fact roles keeps its OWN " +
    "pushed predicate; the redundant closure edges don't degenerate the web") {
    import graft.operators.Job
    val df = Job.queries("job_15a")(spark, sf01)
    df.collect()
    val p = plan(df)
    // l3's returnflag and l4's shipdate must each reach a lineitem scan —
    // four scans of one table, two with distinct pushed filters
    assert(p.contains("EqualTo(l_returnflag,A)"),
      s"l3's returnflag predicate not pushed to its role's scan:\n$p")
    assert(p.contains("GreaterThan(l_shipdate,"),
      s"l4's shipdate predicate not pushed to its role's scan:\n$p")
    val fp = finalPlan(df)
    assert(!fp.contains("CartesianProduct") &&
      !fp.contains("BroadcastNestedLoopJoin"),
      s"redundant closure edges degenerated the join web:\n$fp")
  }

  test("cb_point_lookup: the equality predicate reaches the parquet scan " +
    "for row-group pruning — no full-scan filter") {
    import graft.operators.ClickBench
    val df = ClickBench.queries("cb_point_lookup")(spark, sf01)
    df.collect()
    val p = plan(df)
    assert(p.contains("PushedFilters: [IsNotNull(user_id), EqualTo(user_id,7)"),
      s"point predicate not pushed to the scan:\n$p")
  }

  test("cb_narrow_sort: the scan prunes to the referenced columns and the " +
    "sort+limit runs as TakeOrderedAndProject, never a global sort") {
    import graft.operators.ClickBench
    val df = ClickBench.queries("cb_narrow_sort")(spark, sf01)
    df.collect()
    val p = finalPlan(df)
    assert(p.contains("TakeOrderedAndProject"),
      s"narrow top-N degenerated to a global sort:\n$p")
    assert(!p.contains("Exchange rangepartitioning"),
      s"unexpected sort exchange in a LIMIT-10 query:\n$p")
    // props (the widest column) must not be read
    assert(!p.contains("props"),
      s"scan did not prune to the referenced columns:\n$p")
  }

  test("cb_wide_sort: the wide-scan top-N runs as TakeOrderedAndProject " +
    "(bounded per-partition heaps), never a global sort") {
    import graft.operators.ClickBench
    val df = ClickBench.queries("cb_wide_sort")(spark, sf01)
    df.collect()
    val p = finalPlan(df)
    assert(p.contains("TakeOrderedAndProject"),
      s"wide top-N lost its bounded-heap shape:\n$p")
    assert(!p.contains("Exchange rangepartitioning"),
      s"LIMIT 10 must not trigger a distributed global sort:\n$p")
  }

  test("n_rrf_hybrid keyword pool: inverted-index join — broadcast hash " +
    "join on the term, partial-aggregated counts, no corpus×queries " +
    "nested loop") {
    val (d, kwQ) = Similarity.hybridWordFrames(spark, sf01)
    val df = Similarity.kwTopInverted(d, kwQ)
    df.collect()
    val p = finalPlan(df)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"keyword pool degenerated to a nested loop:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"query terms not broadcast onto the postings:\n$p")
    assert(p.contains("partial_count"),
      s"shared-word counts not partial-aggregated:\n$p")
  }

  test("sink_zorder z-value projection: whole path codegen — the native " +
    "z_interleave replaced the interpreted HOF fold (VERDICT r9)") {
    val df = graft.sources.Sources.zorderDims(spark, sf)
    df.collect()
    val fallbacks = df.queryExecution.optimizedPlan.collect { case n =>
      n.expressions.flatMap(_.collect {
        case e: org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
          if !e.isInstanceOf[
            org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction] =>
          e.prettyName
      })
    }.flatten.distinct
    assert(fallbacks.isEmpty,
      s"interpreted expressions in the z-value projection: $fallbacks")
    assert(finalPlan(df).contains("z_interleave"),
      s"native interleave missing from plan:\n${finalPlan(df)}")
  }

  test("whole-stage codegen spans cover the hot paths") {
    Seq(Tpch.q1(spark, sf), Tpch.q6(spark, sf),
      TextAnalysis.xTokcount(spark, sf)).foreach { df =>
      df.collect() // AQE finalizes (and shows codegen stages) only when THIS
                   // plan executes; count() would execute a different one
      assert(plan(df).contains("*("), s"no codegen stage in:\n${plan(df)}")
    }
  }

  test("no unpartitioned Window anywhere in the registry's plans — " +
    "WindowExec's 'No Partition Defined' WARN (emitted from " +
    "requiredChildDistribution when partitionSpec is empty) stays reserved " +
    "for genuinely accidental global windows (Tables.summaryKey keys the " +
    "deliberate model/summary-sized frames)") {
    // Plan-level check (VERDICT r14 #6): the r14 version captured the log4j
    // WARN itself, which was suite-order fragile (the appender missed
    // events when the suite ran standalone). The plan property is the
    // thing the WARN reports, so assert it directly: a logical Window with
    // an EMPTY partitionSpec is exactly what makes WindowExec warn and
    // single-partition the data.
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    def unpartitioned(df: DataFrame): Seq[String] =
      df.queryExecution.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty => w.simpleString(120)
      }
    // positive control: a REAL unpartitioned window must be detected, or
    // the sweep below is vacuous
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val control = Seq((1, 10), (2, 20)).toDF("k", "v")
      .withColumn("s", org.apache.spark.sql.functions.sum("v").over(
        Window.orderBy("k").rowsBetween(Long.MinValue, 0)))
    assert(unpartitioned(control).nonEmpty,
      "control failed: the walker missed a genuinely unpartitioned window")
    // …and the summaryKey device must NOT be folded away by the optimizer
    // (a foldable partition key would be removed and resurrect the WARN)
    val keyed = Seq((1, 10), (2, 20)).toDF("k", "v")
      .withColumn("s", org.apache.spark.sql.functions.sum("v").over(
        Window.partitionBy(graft.Tables.summaryKey(
            org.apache.spark.sql.functions.col("k"))).orderBy("k")
          .rowsBetween(Long.MinValue, 0)))
    assert(unpartitioned(keyed).isEmpty,
      "summaryKey was optimized away — the summary windows would WARN again")
    // sweep EVERY registry entry: the engine ships zero accidental global
    // windows (the r14 bench tail carried Similarity.centroidsOn's WARN
    // through every IVF-family entry; its ≤cells-row model seed is now
    // summaryKey'd like the Pipeline bucket summaries)
    // an entry that cannot even CONSTRUCT is collected and failed loudly —
    // a swallowed Throwable here would silently exclude the entry from the
    // audit, letting the WARN this test forbids ship inside it (review
    // r15; probed: zero entries throw at sf0.001 today, so any name below
    // is a regression, not an environment quirk)
    val failures = scala.collection.mutable.ListBuffer.empty[String]
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val windows =
          try unpartitioned(fn(spark, sf))
          catch { case e: Throwable =>
            failures += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}"
            Nil
          }
        windows.map(w => s"$name: $w")
    }
    assert(failures.isEmpty,
      s"entries excluded from the window audit by construction failure:\n" +
        failures.mkString("\n"))
    assert(offenders.isEmpty,
      s"unpartitioned windows in registry plans:\n${offenders.mkString("\n")}")
  }

  test("codegen cache holds the corpus working set: a second run of the " +
    "corpus entries compiles no class") {
    import org.apache.spark.metrics.source.CodegenMetrics
    import org.apache.spark.sql.internal.StaticSQLConf
    // these entries need about 180 generated classes at sf0.001; Spark's
    // 100-entry default evicts each before the next run needs it again
    val entries = Seq("d_exact", "d_cluster", "x_quality", "p_token_budget",
      "m_image_decode")
    def runAll(): Unit =
      entries.foreach(n => SparkEntry.queries(n)(spark, sf).collect())
    runAll()
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    val before = compiles.getCount
    runAll()
    assert(compiles.getCount - before == 0,
      s"the second run of ${entries.mkString(", ")} compiled " +
        s"${compiles.getCount - before} generated classes again")
    assert(spark.conf.get(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key) ==
      Graft.codegenCacheEntries.toString)
  }

  test("HammingZeroAsEquality runs in one place on a graft session: the " +
    "extension's optimizer batch, not extraOptimizations as well") {
    import graft.functions.HammingZeroAsEquality
    import org.apache.spark.sql.functions.expr
    // the spec session comes from Graft.session, which calls register
    assert(!spark.experimental.extraOptimizations.contains(HammingZeroAsEquality),
      "register appended the rule the extension already runs")
    val docs = Tables.t(spark, sf, "documents").selectExpr("doc_id",
      "xxhash64(text) AS h")
    val joined = docs.as("x").join(docs.as("y"),
      expr("hamming_distance(x.h, y.h) = 0"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoopJoin") && !plan.contains("Cartesian"),
      s"the rule did not fire:\n$plan")
  }
}
