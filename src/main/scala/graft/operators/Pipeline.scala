package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** End-to-end training-data pipeline composite (SURVEY §2.5–§2.7): the
  * operators composed the way a real corpus build uses them —
  *
  *   normalize → exact-dedup on normalized text → quality filter →
  *   per-source corpus stats
  *
  * in ONE Catalyst plan: the normalize/filter stages fuse into the scan
  * (narrow, codegen'd), dedup is the single hash shuffle, and the final
  * stats aggregate is partial-aggregated. Entirely SQL-expressible, so
  * unlike the individual fuzzy-dedup operators this composite is
  * hash-checked against DuckDB end to end. */
object Pipeline {

  def pE2e(spark: SparkSession, dir: String): DataFrame = {
    val norm = Tables.t(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        trim(regexp_replace(regexp_replace(lower(col("text")),
          "[^a-z0-9\\s]", ""), "\\s+", " ")).as("t"))
      // free data-quality counters piggybacked on the pass (CollectMetrics
      // accumulates per-task during the SAME scan — at 100 TB the audit
      // costs zero extra reads, vs a second count/sum job over the corpus).
      // Read after any action via queryExecution.observedMetrics
      // ("p_e2e_quality"); transparent to the result and the oracle.
      .observe("p_e2e_quality",
        count(lit(1)).as("docs_in"),
        count_if(length(col("t")) === 0).as("empty_docs"),
        sum(length(col("t"))).as("total_chars"))
    val deduped = norm
      .groupBy("t")
      .agg(min("doc_id").as("doc_id"), min_by(col("source"), col("doc_id")).as("source"))
    deduped
      .withColumn("n_words", size(split(col("t"), " ")))
      .filter(col("n_words") >= 5)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_words").as("total_words"),
        // round(x, 2) rounds the decimal string of x (304.025 → 304.03);
        // scaling first rounds its binary value, as the oracle's DuckDB does
        (round(avg(length(col("t"))) * 100, 0) / 100).as("avg_chars"))
      .orderBy("source")
  }

  val pE2eSql: String =
    """WITH norm AS (
      |  SELECT doc_id, source,
      |    trim(regexp_replace(regexp_replace(lower(text),
      |      '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g')) AS t
      |  FROM documents),
      |deduped AS (
      |  SELECT t, min(doc_id) AS doc_id, arg_min(source, doc_id) AS source
      |  FROM norm GROUP BY t),
      |kept AS (
      |  SELECT source, t, len(string_split(t, ' ')) AS n_words
      |  FROM deduped WHERE len(string_split(t, ' ')) >= 5)
      |SELECT source, count(*) AS n_docs,
      |       CAST(sum(n_words) AS BIGINT) AS total_words,
      |       round(avg(length(t)), 2) AS avg_chars
      |FROM kept GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- p_sample
  /** Deterministic stratified sampling — the source-mixing step of a corpus
    * build ("web at 25%, curated at 75%"). The keep decision is a pure
    * function of the document CONTENT (md5 prefix vs a per-source
    * threshold), so it is reproducible across runs and clusters, stable
    * under repartitioning, and needs no RNG state — the property that makes
    * a 100 TB mixing job restartable and auditable (`rand()` sampling is
    * none of those). Hex-prefix thresholds: '3f' ≈ 25%, 'bf' ≈ 75%; md5 hex
    * is lowercase in both engines so the string compare is portable.
    * Narrow filter, no shuffle. */
  def pSample(spark: SparkSession, dir: String): DataFrame = {
    val srcNum = expr("CAST(substring(source, 4, 10) AS INT)")
    val thr = when(srcNum % 2 === 0, lit("3f")).otherwise(lit("bf"))
    Tables.t(spark, dir, "documents")
      .filter(substring(md5(col("text").cast("binary")), 1, 2) <= thr)
      .select("doc_id", "source")
      .orderBy("doc_id")
  }

  val pSampleSql: String =
    """SELECT doc_id, source FROM documents
      |WHERE substring(md5(text), 1, 2) <=
      |  CASE WHEN CAST(substring(source, 4, 10) AS INT) % 2 = 0
      |       THEN '3f' ELSE 'bf' END
      |ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------- p_upsample
  /** Deterministic up-sampling — the other half of source mixing (p_sample
    * covers weights < 1): a mixture that weights a source ABOVE 1 ("four
    * epochs of the curated set") replicates each of its documents k times
    * with an explicit epoch index, so the loader sees distinct (doc_id,
    * epoch) rows and shuffles them independently. Per-source k derives from
    * the source id the same deterministic way p_sample derives its rates
    * (id%4==0 → 3 epochs, id%4==1 → 2, else 1). The replication is a
    * per-row `explode(sequence(1, k))` — a narrow Generate at read time:
    * zero shuffle, zero storage blowup at 100 TB (the copies exist only in
    * the stream feeding the packer), and restart-stable because nothing is
    * random. */
  def pUpsample(spark: SparkSession, dir: String): DataFrame = {
    val srcNum = expr("CAST(substring(source, 4, 10) AS INT)")
    val k = when(srcNum % 4 === 0, lit(3))
      .when(srcNum % 4 === 1, lit(2)).otherwise(lit(1))
    Tables.t(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).as("toks"))
      .withColumn("epoch", explode(sequence(lit(1), k)))
      .select(col("doc_id"), col("source"), col("epoch"), col("toks"))
      .orderBy("doc_id", "epoch")
  }

  val pUpsampleSql: String =
    """SELECT doc_id, source,
      |  CAST(unnest(range(1, CASE
      |    WHEN CAST(substring(source, 4, 10) AS INT) % 4 = 0 THEN 4
      |    WHEN CAST(substring(source, 4, 10) AS INT) % 4 = 1 THEN 3
      |    ELSE 2 END)) AS INTEGER) AS epoch,
      |  CAST(len(string_split(text, ' ')) AS INTEGER) AS toks
      |FROM documents ORDER BY doc_id, epoch""".stripMargin

  // ---------------------------------------------------------- p_token_budget
  /** Budget-constrained source mixing — the "N billion tokens per source"
    * allocation step of a corpus build: within each source, take documents
    * in priority order (longest first, deterministic tie-break) until the
    * source's token budget is exhausted. Per-source budgets derive from the
    * source id (even sources 800 tokens, odd 400) the same deterministic way
    * p_sample derives its rates.
    *
    * The naive spelling — `sum(toks) OVER (PARTITION BY source ORDER BY
    * priority)` — puts an entire source in ONE reducer partition; a corpus
    * where one crawl is most of the data (common) makes that a straggler
    * (VERDICT r6 #1). This is the same TWO-LEVEL PREFIX SCAN p_pack proves,
    * applied within each source, with one twist p_pack doesn't need: the
    * priority order is (toks DESC, doc_id), so a bucket must be a CONTIGUOUS
    * range of that order — `doc_id / B` bucketing would interleave buckets
    * and break the decomposition. `repartitionByRange(source, toks DESC,
    * doc_id)` is exactly that operator: the sampled range partitioner cuts
    * the global (source, priority) order into balanced contiguous slices —
    * a hot source simply spans many slices, and because the unique doc_id is
    * part of the range key, even an all-ties source (every doc the same
    * length) still splits. `spark_partition_id()` then names the slice.
    * Level 1 windows the running sum within (source, bucket) — B-bounded
    * partitions; level 2 cumulates per-(source, bucket) totals over the
    * BUCKET SUMMARY (≤ slices rows, never the corpus) and broadcasts the
    * offsets back. cum_toks = bucket_offset + within_bucket_cum is exact for
    * ANY contiguous slicing, so run-to-run variation in sampled boundaries
    * cannot change the output and the DuckDB oracle (the naive per-source
    * window) is unchanged. Cost: the corpus moves twice (range slice + the
    * level-1 window's hash shuffle), but every partition is bounded — the
    * scalable trade against one unbounded shuffle.
    *
    * Consistency: the slice id is `spark_partition_id()` over a SAMPLED
    * exchange, so it is execution-scoped — the corpus branch and the
    * summary branch must read the SAME materialization or their bucket ids
    * could diverge (exchange reuse makes that true today, but a correctness
    * property must not hang off a best-effort physical optimization).
    * `Checkpoints.pin` fixes one assignment: both branches read the one
    * persisted (doc_id, source, toks, bucket) slice — 32 B/row, ~320 GB at
    * 10^10 docs, the price of making the bucketing a fact rather than a plan
    * coincidence; a lost block is recomputed from the range exchange, whose
    * slices do not change. The pin runs the range sampler and exchange at
    * the call, the 2 jobs p_token_budget runs at construction.
    *
    * Slice count: the range exchange takes `spark.sql.shuffle.partitions`
    * and AQE coalesces adjacent slices to its advisory size. A coalesced
    * slice is a run of adjacent range slices, so it is still one contiguous
    * range of (source, toks DESC, doc_id) and the decomposition above stays
    * exact. A few thousand documents make one slice instead of a fixed 64
    * that put 64 tasks in every later stage, and at 10^10 documents the
    * slices are byte-bounded.
    *
    * `tokenBudgetParted` is the bucketing fragment below the pin, exposed
    * for PlanAuditSpec (the pinned leaf hides the range exchange from the
    * main plan). */
  def tokenBudgetParted(spark: SparkSession, dir: String): DataFrame =
    tokenBudgetPartedOn(Tables.t(spark, dir, "documents"))

  def tokenBudgetPartedOn(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).as("toks"))
      .repartitionByRange(asc("source"), desc("toks"), asc("doc_id"))
      .withColumn("bucket", spark_partition_id())

  def pTokenBudget(spark: SparkSession, dir: String): DataFrame = {
    val srcNum = expr("CAST(substring(source, 4, 10) AS INT)")
    val budget = when(srcNum % 2 === 0, lit(800)).otherwise(lit(400))
    tokenBudgetOn(Tables.t(spark, dir, "documents"), budget)
  }

  /** Per-source token-budget admission over any (doc_id, source, text)
    * frame with a caller-supplied per-source `budget` column — the
    * two-level prefix scan (graft.api.PipelineApi's entry point; the gate
    * entry is this core with the driver corpus's budget formula). */
  def tokenBudgetOn(docs: DataFrame, budget: org.apache.spark.sql.Column)
      : DataFrame = {
    val parted = Checkpoints.pin(tokenBudgetPartedOn(docs))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source", "bucket").orderBy(desc("toks"), asc("doc_id"))
      .rowsBetween(Long.MinValue, 0)
    val withCum = parted.withColumn("cum", sum("toks").over(w))
    val wb = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("bucket").rowsBetween(Long.MinValue, -1)
    val offsets = parted
      .groupBy("source", "bucket").agg(sum("toks").as("btoks"))
      .withColumn("boff", coalesce(sum("btoks").over(wb), lit(0L)))
      .select("source", "bucket", "boff")
    withCum.join(broadcast(offsets), Seq("source", "bucket"))
      .withColumn("cum_toks", col("boff") + col("cum"))
      .filter(col("cum_toks") <= budget)
      .select("source", "doc_id", "toks", "cum_toks")
      .orderBy("source", "cum_toks")
  }

  val pTokenBudgetSql: String =
    """WITH d AS (SELECT doc_id, source,
      |             len(string_split(text, ' ')) AS toks FROM documents),
      |c AS (SELECT doc_id, source, toks,
      |        sum(toks) OVER (PARTITION BY source
      |                        ORDER BY toks DESC, doc_id
      |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |          AS cum_toks
      |      FROM d)
      |SELECT source, doc_id, CAST(toks AS INTEGER) AS toks,
      |       CAST(cum_toks AS BIGINT) AS cum_toks
      |FROM c
      |WHERE cum_toks <= CASE WHEN CAST(substring(source, 4, 10) AS INT) % 2 = 0
      |                       THEN 800 ELSE 400 END
      |ORDER BY source, cum_toks""".stripMargin

  // ---------------------------------------------------------------- p_pack
  /** Sequence packing — the pretraining step that lays documents out as one
    * continuous token stream and cuts it into fixed context windows
    * (GPT-style packing: a doc belongs to the window its first token lands
    * in; windows hold multiple short docs, long docs straddle). Output is
    * the per-window manifest (window_id, docs, token count) a loader needs.
    *
    * The naive spelling is a GLOBAL running token total — one window over
    * the full doc_id order = Exchange SinglePartition of the corpus, the
    * unscalable plan shape cb_h2o_win exists to avoid. This implementation
    * is a TWO-LEVEL PREFIX SCAN instead: (1) within-bucket cumulative sums
    * (window partitioned by bucket = doc_id / B — B-bounded partitions,
    * fully parallel), (2) per-bucket totals cumulated in a second window
    * over the BUCKET SUMMARY (n/B rows — the only single-partition step,
    * and it never touches the corpus), broadcast-joined back as offsets.
    * start(doc) = bucket_offset + within_bucket_cum − toks; window_id =
    * floor(start / L). Sizing rule: B ≈ √n balances the two levels (both
    * 10^5 at 10^10 docs). Two levels are ALL this implementation ships,
    * and all any realistic corpus needs: the single-partition summary is
    * n/B ≈ √n rows of 16 B, so a 10^10-doc corpus (≈40 PB of raw text at
    * 4 KB/doc) puts ~10^5 rows ≈ 1.6 MB through the summary task — five
    * orders of magnitude below where a third level would start to matter
    * (√n ≈ 10^8 rows ⇒ n ≈ 10^16 docs). No recursive level is implemented;
    * this bound is the claim. PlanAuditSpec pins: corpus window hash-partitioned by
    * bucket, offsets broadcast, and the one intentionally-single-partition
    * summary window keyed on lit(0) (spelled as a hash partitioning so the
    * WindowExec no-partition WARN stays meaningful). The DuckDB oracle is
    * the naive global cumsum — same
    * result, which is the point: the two-level scan is a pure plan
    * transformation. */
  val PackWindow = 2048
  val PackBucket = 100L

  def pPack(spark: SparkSession, dir: String): DataFrame =
    packOn(Tables.t(spark, dir, "documents"))

  /** Sequence packing over any (doc_id, text) frame — graft.api
    * .PipelineApi's entry point; the gate entry is this core on the
    * driver corpus. */
  def packOn(docs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("bucket").orderBy("doc_id")
      .rowsBetween(Long.MinValue, 0)
    val d = docs
      .select(col("doc_id"), floor(col("doc_id") / PackBucket).as("bucket"),
        size(split(col("text"), " ")).cast("long").as("toks"))
    val withCum = d.withColumn("cum", sum("toks").over(w))
    val bucketTotals = d.groupBy("bucket").agg(sum("toks").as("btoks"))
    // summaryKey: the frame is the n/B-row bucket summary — one partition
    // is the design, and the non-foldable key keeps the WindowExec
    // no-partition WARN meaningful elsewhere (see Tables.summaryKey).
    val wb = org.apache.spark.sql.expressions.Window
      .partitionBy(graft.Tables.summaryKey(col("bucket")))
      .orderBy("bucket").rowsBetween(Long.MinValue, -1)
    val offsets = bucketTotals
      .withColumn("boff", coalesce(sum("btoks").over(wb), lit(0L)))
      .select("bucket", "boff")
    withCum.join(broadcast(offsets), "bucket")
      .withColumn("start", col("boff") + col("cum") - col("toks"))
      .withColumn("window_id", floor(col("start") / PackWindow))
      .groupBy("window_id")
      .agg(count(lit(1)).as("n_docs"),
        min("doc_id").as("doc_lo"), max("doc_id").as("doc_hi"),
        sum("toks").as("win_toks"))
      .orderBy("window_id")
  }

  val pPackSql: String =
    s"""WITH d AS (SELECT doc_id, len(string_split(text, ' ')) AS toks
       |           FROM documents),
       |c AS (SELECT doc_id, toks,
       |        sum(toks) OVER (ORDER BY doc_id
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - toks
       |          AS start
       |      FROM d)
       |SELECT CAST(floor(start / $PackWindow) AS BIGINT) AS window_id,
       |       count(*) AS n_docs, min(doc_id) AS doc_lo, max(doc_id) AS doc_hi,
       |       CAST(sum(toks) AS BIGINT) AS win_toks
       |FROM c GROUP BY window_id ORDER BY window_id""".stripMargin

  // ------------------------------------------------------- p_split_leakfree
  /** Leak-free train/validation split — the contamination guard a
    * pretraining corpus build needs before any loss is trusted: a naive
    * `hash(doc_id)`-keyed split puts a fraction of near-duplicate PAIRS on
    * opposite sides, so validation measures text the model effectively
    * trained on. The fix is to assign by near-dup GROUP, not by document:
    * [[Dedup.connectedComponents]] over the verified minhash pair graph
    * labels every paired doc with its component (docs with no near-dup are
    * their own group), and the deterministic md5-threshold assignment
    * (p_sample's no-RNG convention, restart-stable) is keyed on the GROUP
    * id — a whole component lands on one side by construction, for any
    * chain length (near-dups are transitive in practice; pairwise guards
    * are not enough).
    *
    * 100 TB shape: the pair graph covers only docs with a verified
    * near-dup (a small corpus fraction); labeling is the audited d_cluster
    * contraction loop; the rest is ONE hash join of (doc_id → group) back
    * to the corpus ids plus a narrow md5 threshold — no new shuffle shape.
    * Split threshold '19' = 25/256 ≈ 9.8% validation. Rows-only (hash
    * pipeline); PipelineSpec proves planted near-dup pairs NEVER straddle
    * the split while the naive doc_id-keyed split provably DOES on the
    * same corpus, plus determinism and a sane val fraction. */
  def pSplitLeakfree(spark: SparkSession, dir: String): DataFrame = {
    val corpus = Dedup.withPlantedNear(Tables.t(spark, dir, "documents"))
    val pairs = Dedup.lshPairs(Dedup.wordShingleSets(corpus), 0.5)
    val labeled = Dedup.connectedComponents(pairs)
    splitByGroup(corpus.select("doc_id"), labeled)
  }

  /** The split decision, factored for the spec: group = component label
    * where one exists, else the doc itself; side = md5(group) threshold. */
  private[graft] def splitByGroup(ids: DataFrame, labeled: DataFrame): DataFrame =
    ids.join(labeled, Seq("doc_id"), "left")
      .withColumn("group_id", coalesce(col("cluster_id"), col("doc_id")))
      .withColumn("split",
        when(substring(md5(col("group_id").cast("string").cast("binary")), 1, 2)
          < lit("19"), lit("val")).otherwise(lit("train")))
      .select("doc_id", "group_id", "split")
      .orderBy("doc_id")

  // ------------------------------------------------------------ p_stratified
  /** Exact-quota stratified sampling — "keep exactly K docs per source",
    * the fixed-size counterpart of p_sample's fixed-RATE mixing (eval-set
    * carving, per-language caps, balanced fine-tune mixes all need exact
    * counts). Selection is the K smallest salted-md5 values per stratum —
    * content-deterministic like every sampler here (restart-stable, no RNG).
    *
    * The naive formulation ranks the WHOLE corpus inside each stratum —
    * at 100 TB with few strata that is a giant skewed sort. This one is
    * two-phase: (1) count per stratum (partial-aggregated, bytes of
    * traffic); (2) keep only rows whose 32-bit hash prefix falls under a
    * 3×K/n uniform-hash bound — a NARROW filter that passes ~3K rows per
    * stratum — and rank just those. Small strata (n ≤ 3K) degenerate to
    * bound=1 = keep-all. For a large stratum the admitted count is
    * ~Binomial(n, 3K/n) ≈ Poisson(3K); at K=10 that is Poisson(30), and
    * P(admitted < 10) ≈ 1e-5 per stratum (Chernoff ≈ e^-6.7) — rare but
    * NOT negligible on a corpus with millions of strata (ADVICE r9
    * corrected the earlier e^-20 claim), so the plan carries a runtime
    * GUARD instead of trusting the bound: per-stratum admitted counts are
    * compared against min(K, n), and any shortfall stratum is re-ranked
    * from the FULL corpus (its naive rank), restoring exact equality with
    * the naive formulation for every input. The guard is declarative —
    * the shortfall list is a per-stratum aggregate (bytes), broadcast
    * into a semi-join against the corpus; when it is empty (the ~always
    * case) AQE's empty-relation propagation collapses the fallback branch
    * without ever scanning the corpus a second time, so the healthy-path
    * plan is unchanged. PipelineSpec proves equality on the gate data AND
    * on a forced-shortfall bound where the fallback must fire. The final
    * window sorts ~3K rows per stratum instead of n. */
  val StratQuota = 10
  def pStratified(spark: SparkSession, dir: String): DataFrame =
    pStratifiedWithBound(spark, dir, 3.0)

  /** The bound multiplier is a parameter only so the spec can force the
    * admitted-candidate shortfall path (mult < 1 starves large strata). */
  private[graft] def pStratifiedWithBound(
      spark: SparkSession, dir: String, mult: Double): DataFrame =
    stratifiedOn(Tables.t(spark, dir, "documents"), mult)

  /** Exact per-stratum quota sampling over any (doc_id, source) frame —
    * the two-phase bounded-candidate plan with the shortfall guard. */
  def stratifiedOn(d: DataFrame, mult: Double = 3.0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = d
      .select(col("doc_id"), col("source"),
        md5(concat(lit("strat:"), col("doc_id").cast("string"))).as("h"))
    val counts = docs.groupBy("source").agg(count(lit(1)).as("n"))
    val bound = least(lit(1.0), lit(mult * StratQuota) / col("n"))
    val candidates = docs.join(broadcast(counts), "source")
      .filter(conv(substring(col("h"), 1, 8), 16, 10).cast("double") <
        bound * 4294967296.0)
    // Guard: strata whose admitted candidate count fell below min(K, n)
    // cannot honor the exact-quota contract from candidates alone. LEFT
    // join from counts so a stratum with ZERO admitted rows (absent from
    // the candidates aggregate entirely) is still caught.
    val admitted = candidates.groupBy("source").agg(count(lit(1)).as("adm"))
    val short = counts.join(admitted, Seq("source"), "left")
      .filter(coalesce(col("adm"), lit(0L)) <
        least(lit(StratQuota.toLong), col("n")))
      .select("source")
    val w = Window.partitionBy("source").orderBy(col("h"), col("doc_id"))
    val healthy = candidates
      .join(broadcast(short), Seq("source"), "left_anti")
      .withColumn("r", row_number().over(w))
      .filter(col("r") <= StratQuota)
      .select(col("source"), col("r"), col("doc_id"))
    val fallback = docs
      .join(broadcast(short), Seq("source"), "left_semi")
      .withColumn("r", row_number().over(w))
      .filter(col("r") <= StratQuota)
      .select(col("source"), col("r"), col("doc_id"))
    healthy.unionAll(fallback).orderBy("source", "r")
  }

  /** Oracle = the naive full rank; the two-phase plan must select the
    * identical set. */
  val pStratifiedSql: String =
    """SELECT source, r, doc_id FROM (
      |  SELECT source, doc_id,
      |    row_number() OVER (PARTITION BY source
      |      ORDER BY md5('strat:' || CAST(doc_id AS VARCHAR)), doc_id) AS r
      |  FROM documents)
      |WHERE r <= 10 ORDER BY source, r""".stripMargin

  // ---------------------------------------------------------------- p_shard
  /** Deterministic output sharding — the last step before a corpus ships:
    * assign every document a stable shard id (first two hex chars of a
    * salted md5 → 256 shards) and report per-shard balance stats. The
    * assignment is a narrow projection (no shuffle; the training-job writer
    * uses it as `partitionBy("shard")`, and a uniform hash keeps shard
    * sizes within a few percent of each other regardless of doc_id or
    * source skew — PipelineSpec pins the balance bound). Re-running the
    * pipeline maps every doc to the SAME shard, so incremental corpus
    * refreshes rewrite only the shards whose membership changed. */
  def pShard(spark: SparkSession, dir: String): DataFrame =
    Tables.t(spark, dir, "documents")
      .withColumn("shard",
        substring(md5(concat(lit("shard:"), col("doc_id").cast("string"))), 1, 2))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"),
        min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
      .orderBy("shard")

  val pShardSql: String =
    """SELECT substring(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 2) AS shard,
      |       count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |       min(doc_id) AS min_doc, max(doc_id) AS max_doc
      |FROM documents GROUP BY 1 ORDER BY shard""".stripMargin

  // ----------------------------------------------------------- p_curriculum
  /** Curriculum ordering — bin the corpus into k difficulty stages for an
    * easy→hard training schedule (difficulty here = mean word length, the
    * cheap classic proxy; any score column slots in). The naive spelling is
    * `ntile(k) OVER (ORDER BY difficulty)` — a GLOBAL sort pushing the
    * whole corpus through ONE reducer (the Exchange SinglePartition shape
    * cb_h2o_win exists to avoid). This is the distributed exact
    * equivalent: `repartitionByRange` on the sort key yields ordered,
    * CONTIGUOUS partitions (pinned, as in p_token_budget, since partition
    * ids over a sampled exchange are execution-scoped; the pin runs the
    * range sampler and exchange, see tokenBudgetParted); per-partition
    * counts (≤ #partitions rows) cumulate into offsets; global rank = offset + local
    * row_number; the SQL ntile bucket formula — first n%k buckets get
    * ⌈n/k⌉ rows — applied arithmetically to (rank, n). Deterministically
    * identical to the single-reducer ntile, which IS the DuckDB oracle.
    * (floor((r−1)·k/n)+1 is NOT that formula — it Bresenham-spreads the
    * big buckets instead of front-loading them; n=10,k=4,r=6 gives 3 vs
    * ntile's 2.) */
  val CurriculumStages = 5

  /** Range-bucketing fragment below the pin, exposed for PlanAuditSpec
    * (the pinned leaf hides the range exchange from the main plan — the
    * tokenBudgetParted convention). */
  private[graft] def curriculumParted(spark: SparkSession, dir: String): DataFrame =
    Tables.t(spark, dir, "documents")
      .select(col("doc_id"),
        (length(col("text")).cast("double") /
          size(split(col("text"), " "))).as("difficulty"))
      // partition count from spark.sql.shuffle.partitions (round 17): the
      // explicit 32 was a local-mode constant — at 100 TB it meant 32 giant
      // range slices regardless of cluster width. The exact-ntile math is
      // invariant to the slicing (any contiguous slicing gives the same
      // global rank), so only the parallelism changes.
      .repartitionByRange(asc("difficulty"), asc("doc_id"))
      .withColumn("pid", spark_partition_id())

  /** The SQL ntile bucket of global rank `r` (1-based) among `n` rows in
    * `k` buckets, as arithmetic: the first n%k buckets get ⌈n/k⌉ rows, the
    * rest ⌊n/k⌋ (front-loaded remainder). When q = ⌊n/k⌋ = 0 (fewer rows
    * than buckets) the cutoff equals n, so the otherwise-branch (and its
    * division by q) is never taken. Factored for the exhaustive
    * formula-equality spec — floor((r−1)k/n)+1 is a DIFFERENT function
    * (it Bresenham-spreads the big buckets; n=10,k=4,r=6 gives 3 vs 2). */
  private[graft] def ntileStage(r: Column, n: Column, k: Int): Column = {
    val q = floor(n / lit(k)).cast("long")
    val rem = n % lit(k)
    val cutoff = rem * (q + lit(1L))
    when(r <= cutoff, floor((r - 1) / (q + lit(1L))) + 1)
      .otherwise(rem + floor((r - cutoff - 1) / q) + 1)
  }

  def pCurriculum(spark: SparkSession, dir: String): DataFrame =
    curriculumOn(Tables.t(spark, dir, "documents")
      .select(col("doc_id"),
        (length(col("text")).cast("double") /
          size(split(col("text"), " "))).as("difficulty")))

  /** Distributed exact-ntile curriculum staging over any (doc_id,
    * difficulty) frame — any score column slots in (graft.api
    * .PipelineApi's entry point; the gate entry is this core with the
    * mean-word-length proxy). */
  def curriculumOn(scored: DataFrame,
      stages: Int = CurriculumStages): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val parted = Checkpoints.pin(scored
      // scale-adaptive slice count — see curriculumParted
      .repartitionByRange(asc("difficulty"), asc("doc_id"))
      .withColumn("pid", spark_partition_id()))
    // summaryKey(pid): the frame is the 32-row partition summary, so a
    // single partition is the DESIGN; the non-foldable key keeps
    // WindowExec's "No Partition Defined" WARN reserved for genuinely
    // accidental corpus-wide windows (see Tables.summaryKey).
    val wOff = Window.partitionBy(graft.Tables.summaryKey(col("pid")))
      .orderBy("pid").rowsBetween(Long.MinValue, -1)
    val offsets = parted.groupBy("pid").agg(count(lit(1)).as("pn"))
      .withColumn("off", coalesce(sum("pn").over(wOff), lit(0L)))
      .withColumn("n", sum("pn").over(
        Window.partitionBy(graft.Tables.summaryKey(col("pid")))
          .orderBy("pid").rowsBetween(Long.MinValue, Long.MaxValue)))
      .select("pid", "off", "n")
    val wLocal = Window.partitionBy("pid")
      .orderBy(asc("difficulty"), asc("doc_id"))
    parted.withColumn("lrn", row_number().over(wLocal).cast("long"))
      .join(broadcast(offsets), "pid")
      .withColumn("stage",
        ntileStage(col("off") + col("lrn"), col("n"), stages))
      .select(col("doc_id"), round(col("difficulty"), 4).as("difficulty"),
        col("stage"))
      .orderBy("doc_id")
  }

  val pCurriculumSql: String =
    s"""SELECT doc_id, round(difficulty, 4) AS difficulty,
       |       ntile($CurriculumStages)
       |         OVER (ORDER BY difficulty, doc_id) AS stage
       |FROM (SELECT doc_id,
       |        CAST(length(text) AS DOUBLE) / len(string_split(text, ' '))
       |          AS difficulty
       |      FROM documents)
       |ORDER BY doc_id""".stripMargin

  // ----------------------------------------------------------- p_mix_report
  /** Mixture accounting — the dataset card every training run publishes:
    * per source, the raw corpus mass, the post-sampling survivors (the
    * p_sample md5-threshold convention), the per-source epoch multiplier
    * (the p_upsample convention), the EFFECTIVE token mass the loader will
    * actually stream (survivor tokens × epochs), and each source's share
    * of the final mix. This is the auditable answer to "what is this model
    * actually trained on" — and because every input is deterministic
    * (content-hash sampling, id-derived epochs), the report is exactly
    * reproducible from the raw corpus at any time. One partial-aggregated
    * shuffle on source; the share denominator is a ~#sources-row window,
    * not a second corpus pass. */
  def pMixReport(spark: SparkSession, dir: String): DataFrame = {
    val srcNum = expr("CAST(substring(source, 4, 10) AS INT)")
    val thr = when(srcNum % 2 === 0, lit("3f")).otherwise(lit("bf"))
    val epochs = when(srcNum % 4 === 0, lit(3))
      .when(srcNum % 4 === 1, lit(2)).otherwise(lit(1))
    val kept = substring(md5(col("text").cast("binary")), 1, 2) <= thr
    val perSource = Tables.t(spark, dir, "documents")
      .select(col("source"),
        size(split(col("text"), " ")).cast("long").as("toks"),
        kept.as("kept"), epochs.as("epochs"))
      .groupBy("source")
      .agg(count(lit(1)).as("raw_docs"), sum("toks").as("raw_toks"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("kept_docs"),
        sum(when(col("kept"), col("toks")).otherwise(0L)).as("kept_toks"),
        first("epochs").as("epochs"))
      .withColumn("eff_toks", col("kept_toks") * col("epochs"))
    perSource
      .withColumn("share", round(col("eff_toks") /
        sum("eff_toks").over(org.apache.spark.sql.expressions.Window
          .partitionBy(graft.Tables.summaryKey(col("epochs")))), 6))
      .select("source", "raw_docs", "raw_toks", "kept_docs", "kept_toks",
        "epochs", "eff_toks", "share")
      .orderBy("source")
  }

  val pMixReportSql: String =
    """WITH d AS (SELECT source,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
      |    substring(md5(text), 1, 2) <=
      |      CASE WHEN CAST(substring(source, 4, 10) AS INT) % 2 = 0
      |           THEN '3f' ELSE 'bf' END AS kept,
      |    CASE WHEN CAST(substring(source, 4, 10) AS INT) % 4 = 0 THEN 3
      |         WHEN CAST(substring(source, 4, 10) AS INT) % 4 = 1 THEN 2
      |         ELSE 1 END AS epochs
      |  FROM documents),
      |s AS (SELECT source, count(*) AS raw_docs,
      |        CAST(sum(toks) AS BIGINT) AS raw_toks,
      |        CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS kept_docs,
      |        CAST(sum(CASE WHEN kept THEN toks ELSE 0 END) AS BIGINT) AS kept_toks,
      |        CAST(first(epochs) AS INT) AS epochs
      |      FROM d GROUP BY source)
      |SELECT source, raw_docs, raw_toks, kept_docs, kept_toks, epochs,
      |  kept_toks * epochs AS eff_toks,
      |  round(CAST(kept_toks * epochs AS DOUBLE)
      |    / sum(kept_toks * epochs) OVER (), 6) AS share
      |FROM s ORDER BY source""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Map("p_e2e" -> (pE2e _), "p_sample" -> (pSample _),
      "p_upsample" -> (pUpsample _), "p_split_leakfree" -> (pSplitLeakfree _),
      "p_token_budget" -> (pTokenBudget _), "p_pack" -> (pPack _),
      "p_stratified" -> (pStratified _), "p_shard" -> (pShard _),
      "p_curriculum" -> (pCurriculum _), "p_mix_report" -> (pMixReport _))

  val oracle: Map[String, String] = Map("p_e2e" -> pE2eSql,
    "p_sample" -> pSampleSql, "p_upsample" -> pUpsampleSql,
    "p_token_budget" -> pTokenBudgetSql, "p_pack" -> pPackSql,
    "p_stratified" -> pStratifiedSql, "p_shard" -> pShardSql,
    "p_curriculum" -> pCurriculumSql, "p_mix_report" -> pMixReportSql)
}
