package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType,
  StructField, StructType}
import graft.Tables

/** Approximate-nearest-neighbor search over `embeddings` (SURVEY.md §2.6).
  * Six tiers: exact brute force (baseline + oracle), random-hyperplane LSH
  * (Charikar 2002), IVF coarse quantization, int8-quantized scoring (the
  * 4× scan cut), product quantization with native ADC scoring (Jégou
  * et al. 2011 — the 32× tier), and the composition of the last two axes:
  * n_ivfpq_topk (IVFADC, Jégou §IV) — LSH/IVF prune candidates, int8/PQ
  * shrink what scoring touches, and the composed tier does both at once.
  * The trained tiers split index BUILD from query SERVE ([[ivfBuild]]/
  * [[ivfServe]] etc.) so the bench can price each side separately.
  *
  * 100 TB design notes:
  *  - The query set is always the broadcast side; the corpus is never
  *    replicated or shuffled whole.
  *  - Brute force: broadcast-nested-loop score (narrow, codegen'd cosine) +
  *    a per-query top-k window. The window shuffles only (qid, vid, cos)
  *    triples — 16 bytes/row — not embeddings.
  *  - LSH: corpus signature is 8 sign bits (one pass, no shuffle); probing
  *    joins on the integer bucket → shuffle of candidate triples only.
  *  - IVF: cell assignment is a per-row argmax over the literal centroid
  *    model (genuinely zero shuffle — plan-audited); probe joins on cell
  *    id. Candidate fraction ~nprobe/cells.
  *  - Measured on this corpus (random vectors — the hard case):
  *    LSH recall ≈ 0.27 probing 14% of corpus; IVF recall ≈ 0.89 probing
  *    18%. SimilaritySpec asserts recall floors and candidate-fraction
  *    ceilings so regressions in either direction fail.
  */
object Similarity {

  val K = 10
  val NumQueries = 10

  /** Hyperplane-sign bits for LSH bucketing. Sizing rule (mirrors
    * `Dedup.EmbedBlockBits`): buckets (2^bits) should scale with corpus
    * size so a bucket holds roughly the candidate budget —
    * bits ≈ log2(n / target_candidates_per_probe). With multi-probing the
    * scanned fraction ≈ Σ_{d ≤ r} C(bits, d) / 2^bits, and recall moves
    * INVERSELY with bits at fixed probe radius (smaller buckets prune
    * harder): measured on this corpus (random vectors, the no-structure
    * worst case) — 4 bits: recall 0.63 @ 69% scanned; 8 bits (default):
    * 0.27 @ 14%; 12 bits: 0.11 @ 1.9%. A 10^10-vector corpus wants ~20+
    * bits with radius 2–3, or bucket sizes explode. SimilaritySpec sweeps
    * the knob and asserts this curve every run. */
  val LshBits = 8
  /** Multi-probe radius: also probe every bucket within this Hamming
    * distance of the query's signature — trades scan fraction for recall
    * without re-hashing (Lv et al., multi-probe LSH). */
  val LshMaxHamming = 2
  val IvfCells = 16
  val IvfNprobe = 3
  /** The production-shaped IVF config the n_ivf_big gate entry exercises:
    * 4× the default cells, so the Verify gate covers a model past the
    * 16-cell toy (VERDICT r10 #7). Sizing rule unchanged (cells ≈ √n,
    * nprobe sets the scanned fraction). */
  val BigIvfCells = 64
  val BigIvfNprobe = 8

  private def emb(spark: SparkSession, dir: String): DataFrame =
    Tables.t(spark, dir, "embeddings").select("vec_id", "embedding")

  private def queriesDf(spark: SparkSession, dir: String): DataFrame =
    emb(spark, dir).filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))

  private val cos: Column =
    round(expr("cosine_similarity(embedding, qv)"), 6)

  // ------------------------------------------------------------ metric knob
  /** The ANN tier's similarity metric: `"cosine"` (default), `"l2"`
    * (Euclidean), or `"ip"` (inner product / MIPS) — the three objectives
    * the IVF/PQ literature serves and the reference exposes via
    * `array_distance` (functions-nested = L2). A user switching engines
    * must get the SAME ranking, so the metric threads through every
    * lifecycle stage — brute force, quantizer assignment, probe selection,
    * ADC tables (VERDICT r11 #5). Scores are normalized to
    * HIGHER-IS-CLOSER everywhere: l2 scores as the NEGATED distance, so
    * the one bounded-heap top-k sink serves all three. */
  private[graft] def metricId(metric: String): Int = metric match {
    case "cosine" => graft.functions.VecMetric.Cosine
    case "l2" => graft.functions.VecMetric.L2
    case "ip" => graft.functions.VecMetric.Ip
    case other => throw new IllegalArgumentException(
      s"graft ANN metric must be cosine, l2 or ip, got '$other'")
  }

  /** Higher-is-closer score column for a (vector, vector) pair. */
  private[graft] def scoreCol(metric: String, a: Column, b: Column): Column =
    metric match {
      case "cosine" => call_function("cosine_similarity", a, b)
      case "l2" => -call_function("l2_distance", a, b)
      case "ip" => call_function("inner_product", a, b)
      case other => throw new IllegalArgumentException(
        s"graft ANN metric must be cosine, l2 or ip, got '$other'")
    }

  /** Public API: per-query top-k of any (qid, vid, cos) scored frame.
    *
    * Implemented with the native `topk_pairs` bounded-heap aggregate
    * (graft.functions.TopKPairs — the Spark-idiomatic analogue of the
    * reference's dedicated TopK operator,
    * datafusion/physical-plan/src/topk/mod.rs). Because it is an aggregate,
    * Catalyst's partial-aggregation phase runs it map-side: each input
    * partition emits at most k pairs per qid, the shuffle carries only those
    * bounded heaps, and the final merge per qid touches ≤ k × partitions
    * rows. No task ever holds one query's full candidate set (the round-1
    * row_number-window sink shuffled the whole scored set into one
    * partition per qid), and memory is O(k) per group on every path.
    *
    * `queries` bounds the number of distinct qids in `scored`, when the
    * caller already knows it. The result then ends in
    * `orderBy(qid, rn).limit(queries × k)`, which Spark plans as
    * `TakeOrderedAndProject`: each partition keeps its first rows and the
    * driver merges them, so the sort runs no range sampler and no range
    * exchange. The limit never cuts a row (each qid has at most k), so the
    * rows and their (qid, rn) order are those of the unbounded form. A
    * result too large for the driver to merge keeps the unbounded form. */
  def topK(scored: DataFrame, k: Int, queries: Option[Int] = None)
      : DataFrame = {
    val ranked = scored
      .groupBy("qid")
      .agg(expr(s"topk_pairs(cos, vid, $k)").as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("pos", "p")))
      .select(col("qid"), col("p.id").as("vid"), col("p.score").as("cos"),
        (col("pos") + 1).as("rn"))
      .orderBy("qid", "rn")
    queries.fold(ranked)(nq => ranked.limit(Math.multiplyExact(nq, k)))
  }

  /** Public API: exact cosine top-k of `queries` (qid, qv) against `corpus`
    * (vec_id, embedding) — the query side is broadcast.
    *
    * `excludeSelf` drops pairs where `vec_id == qid`. It is OFF by default:
    * in a caller frame the query-id and corpus-id namespaces are unrelated,
    * and silently dropping the corpus vector that happens to share a
    * query's id would be a wrong answer (ADVICE r11). The dir-based gate
    * entries turn it ON because there the queries ARE corpus rows and the
    * self-match is a degenerate cos=1 hit. `metric` per [[metricId]]; the
    * score column keeps its historical name `cos` across metrics (for l2
    * it holds the NEGATED distance — higher is closer everywhere). */
  def bruteTopk(corpus: DataFrame, queries: DataFrame, k: Int,
      excludeSelf: Boolean = false, metric: String = "cosine"): DataFrame = {
    val paired = corpus.crossJoin(broadcast(queries))
    val scored = if (excludeSelf) paired.filter(col("vec_id") =!= col("qid"))
                 else paired
    topK(scored.select(col("qid"), col("vec_id").as("vid"),
      round(scoreCol(metric, col("embedding"), col("qv")), 6).as("cos")), k)
  }

  // ------------------------------------------------------------ n_brute_topk
  /** Exact cosine top-k: the correctness baseline, oracle-checked. */
  def nBruteTopk(spark: SparkSession, dir: String): DataFrame =
    bruteTopk(emb(spark, dir), queriesDf(spark, dir), K, excludeSelf = true)

  val nBruteTopkSql: String =
    s"""WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
       |           FROM embeddings WHERE vec_id < $NumQueries),
       |scored AS (
       |  SELECT qid, e.vec_id AS vid,
       |         round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), qv), 6) AS cos
       |  FROM embeddings e, q WHERE e.vec_id <> qid)
       |SELECT qid, vid, cos, CAST(rn AS INTEGER) AS rn
       |FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rn
       |      FROM scored)
       |WHERE rn <= $K ORDER BY qid, rn""".stripMargin

  // ------------------------------------------------- n_l2_topk / n_ip_topk
  /** The metric knob's OWN oracle-checked entries (round 12): exact top-k
    * under l2 and inner-product, hash-verified against DuckDB's native
    * `list_distance` / `list_inner_product` — so the metric tier is gated
    * by a second engine, not only by the recall specs. Score column stays
    * `cos` (higher-is-closer; l2 = negated distance) per the tier-wide
    * convention. */
  def nL2Topk(spark: SparkSession, dir: String): DataFrame =
    bruteTopk(emb(spark, dir), queriesDf(spark, dir), K,
      excludeSelf = true, metric = "l2")

  def nIpTopk(spark: SparkSession, dir: String): DataFrame =
    bruteTopk(emb(spark, dir), queriesDf(spark, dir), K,
      excludeSelf = true, metric = "ip")

  private def bruteMetricSql(scoreExpr: String): String =
    s"""WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
       |           FROM embeddings WHERE vec_id < $NumQueries),
       |scored AS (
       |  SELECT qid, e.vec_id AS vid,
       |         round($scoreExpr, 6) AS cos
       |  FROM embeddings e, q WHERE e.vec_id <> qid)
       |SELECT qid, vid, cos, CAST(rn AS INTEGER) AS rn
       |FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rn
       |      FROM scored)
       |WHERE rn <= $K ORDER BY qid, rn""".stripMargin

  val nL2TopkSql: String =
    bruteMetricSql("-list_distance(CAST(e.embedding AS DOUBLE[]), qv)")

  val nIpTopkSql: String =
    bruteMetricSql("list_inner_product(CAST(e.embedding AS DOUBLE[]), qv)")

  // ---------------------------------------------------------- LSH machinery
  /** Sign-bit signature w.r.t. fixed splitmix64-derived hyperplanes → int
    * bucket, via the native `hyperplane_sign_bits` kernel (the round-1
    * zip_with/aggregate HOF form was CodegenFallback — interpreted per
    * corpus row; same plane derivation, same buckets). */
  private def sig(c: Column, bits: Int): Column =
    call_function("hyperplane_sign_bits", c, lit(bits))

  /** All bit-masks with popcount ≤ maxHamming (multi-probe offsets),
    * enumerated as position combinations — C(bits, ≤r) masks, a few hundred
    * even at the 20–30 bits a large corpus wants. (Scanning all 2^bits
    * masks would cost a billion driver iterations at 30 bits and silently
    * produce an EMPTY range at 31 via int overflow.) */
  private def probeMasks(bits: Int, maxHamming: Int): Seq[Int] = {
    require(bits >= 1 && bits <= 30, s"LSH bits must be in [1, 30], got $bits")
    require(maxHamming >= 0, s"probe radius must be >= 0, got $maxHamming")
    def combos(start: Int, k: Int): Seq[Int] =
      if (k == 0) Seq(0)
      else (start until bits).flatMap(p => combos(p + 1, k - 1).map(_ | (1 << p)))
    (0 to math.min(maxHamming, bits)).flatMap(k => combos(0, k))
  }

  private[graft] def lshCandidates(spark: SparkSession, dir: String,
      bits: Int = LshBits, maxHamming: Int = LshMaxHamming): DataFrame = {
    val corpus = emb(spark, dir).withColumn("bucket", sig(col("embedding"), bits))
    val probes = queriesDf(spark, dir)
      .withColumn("qsig", sig(col("qv"), bits))
      .select(col("qid"), col("qv"),
        explode(transform(typedLit(probeMasks(bits, maxHamming)),
          m => col("qsig").bitwiseXOR(m))).as("bucket"))
    corpus.join(probes, "bucket")
      .filter(col("vec_id") =!= col("qid"))
  }

  // ------------------------------------------------------------- n_lsh_topk
  /** Multi-probe random-hyperplane LSH top-k. Defaults: 8-bit buckets,
    * hamming ≤ 2 probes = 37 of 256 buckets; see the [[LshBits]] sizing
    * rule for how to choose at other corpus sizes. Rows-only;
    * SimilaritySpec measures recall vs n_brute_topk across the bits sweep. */
  def nLshTopk(spark: SparkSession, dir: String): DataFrame =
    nLshTopkWith(spark, dir, LshBits, LshMaxHamming)

  /** The parameterized form: the knob a 100 TB user turns. */
  def nLshTopkWith(spark: SparkSession, dir: String,
      bits: Int, maxHamming: Int): DataFrame =
    topK(lshCandidates(spark, dir, bits, maxHamming)
      .select(col("qid"), col("vec_id").as("vid"), cos.as("cos")), K)

  // ---------------------------------------------------------- IVF machinery
  /** Lloyd iterations for IVF/PQ quantizer training. Sizing rule (mirrors
    * [[LshBits]]): iteration cost is one full corpus pass each, so the knob
    * trades index-BUILD time for quantizer quality — recall is
    * non-decreasing in iters on clustered data (asserted on a synthetic
    * clustered corpus in SimilaritySpec; pure-random vectors have no
    * structure for Lloyd to find, so there the default suffices). 0 = raw
    * deterministic-sample seeds; production PQ/IVF builds typically use
    * 5–25 on a corpus SAMPLE, then one final full-corpus assignment. */
  val QuantIters = 1

  /** Coarse quantizer seeds: the `cells` lowest-id vectors act as centroids
    * (a deterministic sample — IVF training normally samples the corpus).
    * Order-independent derivation (ADVICE r11): orderBy(vec_id).limit —
    * not `vec_id < cells` — so sparse, large, or non-zero-based caller id
    * spaces seed correctly; cell ids are densified 0..cells-1 by rank. The
    * window runs over `cells` rows post-limit — model-sized, never the
    * corpus. */
  private def centroidsOn(vecs: DataFrame, cells: Int): DataFrame =
    // summaryKey: the frame is the ≤`cells`-row MODEL seed (limit above),
    // so one partition is the design; the non-foldable key keeps
    // WindowExec's "No Partition Defined" WARN reserved for genuinely
    // accidental corpus-wide windows (see Tables.summaryKey; this was the
    // last warning-emitting site — PlanAuditSpec now pins zero such
    // windows engine-wide).
    vecs.orderBy("vec_id").limit(cells)
      .select((row_number().over(Window
        .partitionBy(graft.Tables.summaryKey(col("vec_id")))
        .orderBy("vec_id")) - 1).as("cell"),
        col("embedding").as("cv"))

  /** A centroid model in the IVF kernels' layout; see [[cellModel]]. */
  private final class CellModel(val cells: Int, val flat: Column,
      ids: Seq[Int]) {
    /** The cell id of a kernel's centroid index. */
    def cellAt(idx: Column): Column = element_at(typedLit(ids), idx + 1)
    /** [[cellAt]] on the driver, for indices already collected. */
    def cellOf(idx: Int): Int = ids(idx)
    /** The indices of the `nprobe` (capped at `cells`) best cells for
      * `qv`, ranked (score desc, index asc) by the `top_cells` kernel. */
    def topCells(qv: Column, nprobe: Int, metric: String): Column =
      call_function("top_cells", qv, flat, lit(cells),
        lit(math.min(nprobe, cells)), lit(metricId(metric)))
  }

  /** Collect `cents` (cell, cv) into the layout the IVF kernels
    * (`nearest_centroid`, `top_cells`) read — the one place it is decided.
    * The rows are MODEL values (≤ cells × dims floats), never corpus rows.
    * They are sorted by cell and flattened cell-major into one array
    * literal (`flat(i * d + j)` is dimension j of the i-th cell), so kernel
    * index order is cell order and a kernel's tie order over indices is
    * the same order over cell ids. */
  private def cellModel(cents: DataFrame): CellModel = {
    val sorted = cents.select(col("cell"), col("cv")).collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1))).sortBy(_._1)
    require(sorted.nonEmpty, "ivf needs a non-empty centroid model")
    val d = sorted.head._2.length
    require(sorted.forall(_._2.length == d),
      "centroid model is ragged — all cells must share one dimension")
    new CellModel(sorted.length, typedLit(sorted.flatMap(_._2).toSeq),
      sorted.map(_._1).toSeq)
  }

  /** Nearest-centroid assignment of the corpus to `cents` (cell, cv) as a
    * PER-ROW argmax: one native `nearest_centroid` call per corpus row over
    * the flattened model ([[cellModel]]) — narrow, codegen'd, ZERO
    * shuffle. The round-5 crossJoin + groupBy(vec_id) + max_by form
    * partial-aggregated map-side but still EXCHANGED every
    * (vec_id, embedding) row for its final aggregate — a full-corpus
    * embedding shuffle in the index-BUILD path, the single heaviest
    * avoidable movement at 100 TB (plan audit pins the no-Exchange shape).
    * Cell count is the kernel's loop bound, not a size of the expression
    * tree, so one spelling serves 16 cells and the √n ≈ tens of thousands
    * a 1B-vector corpus wants, where one inlined expression per cell
    * would trip JVM codegen limits (VERDICT r10 #1). Ties take the HIGHEST
    * cell. */
  private[graft] def assignTo(corpus: DataFrame, cents: DataFrame,
      metric: String = "cosine"): DataFrame = {
    val m = cellModel(cents)
    require(m.cells >= 2, s"centroid model too small: ${m.cells}")
    val idx = call_function("nearest_centroid", col("embedding"), m.flat,
      lit(m.cells), lit(metricId(metric)))
    corpus.select(col("vec_id"), col("embedding"), m.cellAt(idx).as("cell"))
  }

  /** One Lloyd refinement: each cell's centroid becomes the per-dimension
    * mean of its assigned vectors (classic IVF training). On this corpus
    * (pure random vectors, the no-structure worst case) refinement measures
    * 0.84 recall @ 18.5% scanned vs 0.89 for raw sample centroids; on
    * clustered embeddings recall rises with iterations (SimilaritySpec
    * asserts).
    *
    * Spelled as ONE hash aggregate with `dim` per-dimension avg buffers
    * (round 17, guide §2.3/§2.4): the round-5…16 form posexploded the
    * corpus to corpus × dims (cell, pos, v) rows and aggregated TWICE
    * (groupBy(cell, pos) mean, then groupBy(cell) collect_list) — two
    * exchanges and a corpus × dims row materialization per Lloyd
    * iteration. The single groupBy(cell) with `avg(element_at(...))` per
    * dimension emits the same per-cell means (same row visit order, same
    * double math) through one exchange of ≤ cells × partitions rows and no
    * Generate pass over the corpus. */
  private def refine(assigned: DataFrame, dim: Int): DataFrame =
    assigned.groupBy("cell")
      .agg(array((0 until dim).map(i =>
        avg(element_at(col("embedding"), i + 1)).cast("float")): _*).as("cv"))

  /** Sample centroids → `iters` Lloyd refinements (see [[QuantIters]]), each
    * one corpus pass. The trained quantizer comes back as a LocalRelation
    * of MODEL values (≤ cells × dims floats, what MLlib's KMeansModel
    * holds on the driver), so corpus assignment and query-side probing
    * share one materialized model: unlike round 4's persist() it cannot
    * leak a cache entry (ADVICE r4), and each Lloyd step's lineage stops
    * at the model instead of doubling the plan per round. Lloyd
    * empty-cell rule: a cell that captured no vectors keeps its previous
    * centroid — the quantizer always has exactly `cells` rows, so cell ids
    * never misalign downstream (ADVICE r4).
    *
    * `trainSampleMod` makes the sample-training mode the [[QuantIters]]
    * sizing note describes real: each Lloyd pass reads only vectors with
    * vec_id ≡ 0 (mod trainSampleMod) — a deterministic 1/mod sample — so
    * training cost shrinks by mod× while the FINAL corpus assignment
    * (outside this method) stays full. Lloyd needs cluster MEANS, which a
    * uniform sample estimates with √ sampling error — the standard
    * production trade (SimilaritySpec pins recall at mod=4). */
  private[graft] def ivfQuantizer(spark: SparkSession, dir: String,
      iters: Int = QuantIters, cells: Int = IvfCells,
      trainSampleMod: Int = 1): DataFrame =
    ivfQuantizerOn(emb(spark, dir), iters, cells, trainSampleMod)

  /** The frame-based trainer (graft.api.AnnApi) — the dir form above is
    * this core on the driver corpus. */
  private[graft] def ivfQuantizerOn(vecs: DataFrame,
      iters: Int = QuantIters, cells: Int = IvfCells,
      trainSampleMod: Int = 1, metric: String = "cosine"): DataFrame = {
    require(trainSampleMod >= 1, s"trainSampleMod must be >= 1")
    // hash the id before the modulus (ADVICE r11): raw `vec_id % mod` is a
    // SKEWED sample on structured id spaces (every 4th snapshot id, one
    // shard's range, …); the hash makes the 1/mod sample uniform for any
    // caller id distribution while staying deterministic
    val trainEmb =
      if (trainSampleMod == 1) vecs
      else vecs.filter(pmod(xxhash64(col("vec_id")), lit(trainSampleMod)) === 0)
    val spark = vecs.sparkSession
    val seed = centroidsOn(vecs, cells)
    // ONE driver action per Lloyd step, model-sized rows only (round 17,
    // guide §1.2/§5): the seed collect doubles as the size check (the old
    // separate `c.count()` was a second full action), and the empty-cell
    // coalesce runs on the DRIVER over the ≤cells-row model instead of a
    // per-iteration (LocalRelation ⋈ refined) join inside the collected
    // plan — each iteration's Spark work is exactly assign + one aggregate.
    val seedRows = seed.collectAsList()
    require(seedRows.size == cells,
      s"corpus has fewer than $cells vectors to seed the quantizer")
    var model: Map[Int, Seq[Float]] = {
      import scala.jdk.CollectionConverters._
      seedRows.asScala.map(r => r.getInt(0) -> r.getSeq[Float](1)).toMap
    }
    val dim = model.valuesIterator.next().length
    def localModel: DataFrame = spark.createDataFrame(
      { import scala.jdk.CollectionConverters._
        model.toSeq.sortBy(_._1)
          .map { case (cell, cv) => org.apache.spark.sql.Row(cell, cv) }
          .asJava },
      seed.schema)
    var c = localModel
    var i = 0
    while (i < iters) {
      // Lloyd under the serving metric: assignment uses `metric`, the
      // update step stays the per-dimension mean (exact for l2/ip;
      // spherical k-means' mean-then-use is the standard cosine form)
      val refined = refine(assignTo(trainEmb, c, metric = metric), dim)
        .collect()
      // Lloyd empty-cell rule: a cell that captured no vectors keeps its
      // previous centroid — the model always has exactly `cells` rows
      val updated = refined.map(r => r.getInt(0) -> r.getSeq[Float](1)).toMap
      model = model.map { case (cell, prev) =>
        cell -> updated.getOrElse(cell, prev) }
      c = localModel
      i += 1
    }
    c
  }

  /** Sample centroids → Lloyd training → final assignment. */
  private[graft] def ivfAssigned(spark: SparkSession, dir: String): DataFrame =
    assignTo(emb(spark, dir), ivfQuantizer(spark, dir))

  /** The `nprobe` nearest cells per query — (qid, qv, cell). The window
    * runs over queries × cells rows (tiny — the model side), never the
    * corpus. */
  private[graft] def ivfProbes(spark: SparkSession, dir: String,
      c: DataFrame, nprobe: Int = IvfNprobe): DataFrame =
    ivfProbesOn(queriesDf(spark, dir), c, nprobe)

  /** Frame-based probe selection: queries are any (qid, qv) frame.
    *
    * One `top_cells` kernel call per query row (round 18): the centroids
    * ride as a single flattened array literal ([[cellModel]], the layout
    * [[assignTo]]'s `nearest_centroid` reads), the kernel returns the nprobe
    * best-scoring cell INDICES ranked (score desc, cell asc), and
    * `explode` + an id lookup emit (qid, qv, cell) — zero shuffle, zero
    * Window, at ANY model size, and the expression tree is three nodes.
    * History: the pre-r17 spelling crossJoined the broadcast model and ran
    * row_number() over a qid-hash exchange (at 100 TB serve that exchanged
    * queries × cells rows carrying the full query vectors); r17's inline
    * `least`-selection chain removed the exchange but built an
    * nprobe × cells expression tree per serve call whose driver-side
    * construction + analysis cost ~250 ms at 16 cells (the n_ivf_serve
    * 0.72× local regression, VERDICT r17 #3) and which still needed a
    * crossJoin fallback past 16 cells. The kernel's cell count changes a
    * loop bound, not the tree, so the fallback is gone. Ties go to the
    * lowest index, which [[cellModel]]'s order makes the lowest cell —
    * the window's (score desc, cell asc), ties included; NaN scores rank
    * first like the window sort (fixes ADVICE r17's -1-sentinel
    * divergence). */
  private[graft] def ivfProbesOn(queries: DataFrame,
      c: DataFrame, nprobe: Int = IvfNprobe,
      metric: String = "cosine"): DataFrame = {
    val m = cellModel(c)
    queries
      .select(col("qid"), col("qv"),
        explode(m.topCells(col("qv"), nprobe, metric)).as("ci"))
      .select(col("qid"), col("qv"), m.cellAt(col("ci")).as("cell"))
  }

  private[graft] def ivfCandidates(spark: SparkSession, dir: String,
      iters: Int = QuantIters, cells: Int = IvfCells,
      nprobe: Int = IvfNprobe): DataFrame = {
    val c = ivfQuantizer(spark, dir, iters, cells)
    val assigned = assignTo(emb(spark, dir), c)
    assigned.join(ivfProbes(spark, dir, c, nprobe), "cell")
      .filter(col("vec_id") =!= col("qid"))
  }

  // ------------------------------------------------------------- n_ivf_topk
  /** IVF top-k: probe the 3 nearest of 16 cells. Rows-only + recall spec. */
  def nIvfTopk(spark: SparkSession, dir: String): DataFrame =
    nIvfTopkWith(spark, dir, QuantIters)

  /** The parameterized form — `iters` Lloyd rounds of quantizer training,
    * `cells`/`nprobe` the production sizing knobs (VERDICT r10 #1). */
  def nIvfTopkWith(spark: SparkSession, dir: String, iters: Int,
      cells: Int = IvfCells, nprobe: Int = IvfNprobe): DataFrame = {
    val (c, assigned) = ivfBuild(spark, dir, iters, cells)
    ivfServe(spark, dir, c, assigned, nprobe)
  }

  // -------------------------------------------------------------- n_ivf_big
  /** The IVF tier at its production-shaped config — [[BigIvfCells]] cells /
    * [[BigIvfNprobe]] probes, so the Verify gate exercises a 64-cell model
    * end-to-end, not just the 16-cell toy (VERDICT r10 #7). Rows-only
    * (approximate — not DuckDB-portable); SimilaritySpec pins recall
    * floors, and holds `nearest_centroid` assignment against a scalar
    * cross-join reference at 16 and 64 cells. */
  def nIvfBig(spark: SparkSession, dir: String): DataFrame =
    nIvfTopkWith(spark, dir, QuantIters, BigIvfCells, BigIvfNprobe)

  // -------------------------------------------------- build / serve split
  /** INDEX BUILD for the IVF tier: train the coarse quantizer (`iters`
    * Lloyd corpus passes) and assign every corpus vector to its cell.
    * Production stores `assigned` bucketed by cell; BENCH r6 times this
    * separately from [[ivfServe]] because an e2e number is ~all training
    * (the reference bench likewise separates setup from measured
    * iterations, benchmarks/src/util/run.rs) — a production user asks
    * "what does a query cost against a BUILT index". */
  private[graft] def ivfBuild(spark: SparkSession, dir: String,
      iters: Int = QuantIters, cells: Int = IvfCells,
      trainSampleMod: Int = 1): (DataFrame, DataFrame) = {
    val c = ivfQuantizer(spark, dir, iters, cells, trainSampleMod)
    (c, assignTo(emb(spark, dir), c))
  }

  /** QUERY SERVE for the IVF tier: probe the nearest cells, exact-score
    * inside them, top-k. The probe set (queries × nprobe rows) is the
    * broadcast side; the stored index never shuffles. */
  private[graft] def ivfServe(spark: SparkSession, dir: String,
      c: DataFrame, assigned: DataFrame,
      nprobe: Int = IvfNprobe): DataFrame =
    topK(assigned
      .join(broadcast(ivfProbes(spark, dir, c, nprobe)), "cell")
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("vid"), cos.as("cos")), K)

  // ----------------------------------------------------------- e_normalize
  /** Unit-L2 embeddings via the native `l2_normalize` kernel (double-math,
    * division not reciprocal — bit-compatible with the oracle's x/norm).
    * The preprocessing step every ANN/serving path wants stored.
    *
    * Output is the element-exploded form (vec_id, pos, val): the driver's
    * pandas-based compare cannot sort/hash raw array columns (round-2
    * CORRECTNESS err "unhashable type: numpy.ndarray"), and exploding
    * hash-checks every element instead of an opaque blob. The stored-array
    * form is `expr("l2_normalize(embedding)")` — one expression away. */
  def eNormalize(spark: SparkSession, dir: String): DataFrame = {
    // presentation sort BELOW the kernel+explode (round 17 — see
    // TextAnalysis.langidOn): the trailing orderBy's range-sample pass
    // re-ran l2_normalize + posexplode over the corpus, and the exchange
    // carried the 64×-exploded rows (~4× the input bytes). Sorting the raw
    // (vec_id, embedding) rows first moves fewer bytes AND runs the kernel
    // once; posexplode emits pos ascending per row, so (vec_id, pos) order
    // is preserved exactly.
    Tables.t(spark, dir, "embeddings")
      .orderBy("vec_id")
      .select(col("vec_id"),
        posexplode(expr("l2_normalize(embedding)")).as(Seq("pos", "val")))
  }

  val eNormalizeSql: String =
    """WITH b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      |n AS (SELECT vec_id, e,
      |        sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM b),
      |x AS (SELECT vec_id, nrm, e,
      |        unnest(generate_series(1, len(e))) AS i FROM n)
      |SELECT vec_id, CAST(i - 1 AS INTEGER) AS pos,
      |       CASE WHEN nrm = 0 THEN 0.0 ELSE e[CAST(i AS INTEGER)] / nrm END AS val
      |FROM x ORDER BY vec_id, pos""".stripMargin

  // ------------------------------------------------------------ e_quantize
  /** Symmetric int8 quantization (scale = max|x|/127, half-up rounding) via
    * the native `quantize_int8` kernel — the 4× storage cut for a float32
    * embedding corpus. Element-exploded output for the same driver-compare
    * reason as e_normalize. */
  def eQuantize(spark: SparkSession, dir: String): DataFrame = {
    // orderBy below the kernel+explode — see eNormalize
    Tables.t(spark, dir, "embeddings")
      .orderBy("vec_id")
      .select(col("vec_id"), expr("quantize_int8(embedding)").as("q"))
      .select(col("vec_id"), round(col("q.scale"), 9).as("scale"),
        posexplode(col("q.codes")).as(Seq("pos", "code")))
  }

  val eQuantizeSql: String =
    """WITH b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      |s AS (SELECT vec_id, e,
      |        CASE WHEN list_max(list_transform(e, x -> abs(x))) = 0 THEN 1.0
      |             ELSE list_max(list_transform(e, x -> abs(x))) / 127.0
      |        END AS sc FROM b),
      |x AS (SELECT vec_id, sc, e,
      |        unnest(generate_series(1, len(e))) AS i FROM s)
      |SELECT vec_id, round(sc, 9) AS scale, CAST(i - 1 AS INTEGER) AS pos,
      |       CAST(floor(e[CAST(i AS INTEGER)] / sc + 0.5) AS INTEGER) AS code
      |FROM x ORDER BY vec_id, pos""".stripMargin

  // ------------------------------------------------------------ n_quant_topk
  /** Brute-force top-k over int8-QUANTIZED embeddings — the serving-path
    * variant: cosine is scale-invariant so the per-vector quantization
    * scale cancels and scoring touches only the int8 codes (4× less data
    * per row than float32; at 100 TB that is the difference between the
    * corpus fitting executor page cache or not). Rows-only;
    * SimilaritySpec measures recall vs the exact float top-k. */
  def nQuantTopk(spark: SparkSession, dir: String): DataFrame = {
    val q = emb(spark, dir)
      .select(col("vec_id"), expr("quantize_int8(embedding).codes").as("codes"))
    val queries = q.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("codes").as("qcodes"))
    topK(q.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("vid"),
        round(expr("cosine_similarity_int(codes, qcodes)"), 6).as("cos")), K)
  }

  // -------------------------------------------------------------- n_pq_topk
  /** Product-quantization segments/codebook size: 64-dim vectors split into
    * 8 subvectors of 8 dims, each quantized against 16 centroids → a
    * corpus vector is 8 small codes (8 ints here; 4 bits of information
    * each — 32× smaller than the 256-byte float32 vector). Sizing rule:
    * distortion falls with K per segment and rises with segment width;
    * 16–256 centroids per 4–16-dim segment is the standard band, trained
    * on a corpus sample. */
  val PqSegments = 8
  val PqCodebook = 16
  private val PqDim = 64

  /** Train the per-segment PQ codebooks [Jégou et al. 2011] and return them
    * FLATTENED seg-major — books(((seg*K)+code)*D + dim) — the layout
    * `pq_encode`/`pq_table`/`pq_score` index directly.
    *
    * Topology: centroids live on the driver between Lloyd iterations and
    * ship to executors inside the `pq_encode` literal — the same
    * driver-held-model / broadcast-parameter loop as MLlib KMeans. The only
    * rows ever collected are MODEL values (≤ segs×K×D = 1024 doubles and
    * the K seed vectors), never corpus data; each iteration's corpus pass
    * is one narrow codegen'd encode + one partial-aggregated mean (the
    * per-partition state collapses to ≤ segs×K×D groups map-side).
    * Replaces the round-4 DataFrame training path, whose full-corpus
    * assignment ran interpreted `aggregate(zip_with(...))` HOFs per
    * subvector and leaked a persisted codebook frame (VERDICT/ADVICE r4).
    *
    * Lloyd empty-cell rule: a (seg, code) cell that captured no vectors
    * keeps its previous centroid, so the flat array always holds exactly
    * segs×K×D values and code ids can never misalign `pq_score`'s
    * seg-major indexing (ADVICE r4).
    *
    * `dim` is the embedding dimension of `vecs` (the dir-based entries
    * pass [[PqDim]]). */
  private[graft] def pqTrainOn(vecs: DataFrame, dim: Int,
      iters: Int = QuantIters, segments: Int = PqSegments,
      codebook: Int = PqCodebook, trainSampleMod: Int = 1): Array[Double] = {
    require(segments > 0 && dim % segments == 0,
      s"segments=$segments must divide the corpus dimension $dim")
    require(trainSampleMod >= 1, s"trainSampleMod must be >= 1")
    // sample-training mode, as in ivfQuantizer: Lloyd passes read 1/mod of
    // the corpus; the final full-corpus encode (in pqBuild) is unchanged.
    // Hash-based like ivfQuantizerOn (ADVICE r11): uniform on any id space.
    def trainEmb: DataFrame =
      if (trainSampleMod == 1) vecs
      else vecs.filter(pmod(xxhash64(col("vec_id")), lit(trainSampleMod)) === 0)
    val (k, d) = (codebook, dim / segments)
    // seeds: segment s of corpus vector c → centroid (s, c) — the k
    // lowest-id vectors, derived order-independently (ADVICE r11: a
    // `vec_id < k` filter assumed dense zero-based ids)
    val seeds = vecs.orderBy("vec_id").limit(k)
      .select(col("embedding").cast("array<double>")).collect()
      .map(_.getSeq[Double](0))
    require(seeds.length == k, s"corpus has fewer than $k seed vectors")
    val books = new Array[Double](segments * k * d)
    for (code <- 0 until k; seg <- 0 until segments; j <- 0 until d)
      books((seg * k + code) * d + j) = seeds(code)(seg * d + j)
    var i = 0
    while (i < iters) {
      val flat = typedLit(books.toVector)
      // ONE Generate pass of corpus × segments (seg, code, subvector) rows
      // into ONE d-buffer aggregate (round 17, guide §2.3): the previous
      // spelling chained a second posexplode to corpus × dim rows and
      // grouped on (seg, code, pos) — 8× the exploded volume and a wider
      // aggregate key for the same per-(seg, code) means. Same double
      // math, same row visit order.
      val means = trainEmb
        .select(col("embedding").cast("array<double>").as("v"))
        .withColumn("codes",
          call_function("pq_encode", col("v"), flat, lit(segments)))
        .select(posexplode(col("codes")).as(Seq("seg", "code")), col("v"))
        .select(col("seg"), col("code"),
          expr(s"slice(v, seg * $d + 1, $d)").as("sub"))
        .groupBy("seg", "code")
        .agg(array((0 until d).map(j =>
          avg(element_at(col("sub"), j + 1))): _*).as("m"))
        .collect()
      means.foreach { r =>
        val base = (r.getInt(0) * k + r.getInt(1)) * d
        val m = r.getSeq[Double](2)
        var j = 0
        while (j < d) { books(base + j) = m(j); j += 1 }
      }
      i += 1
    }
    books
  }

  /** n_pq_topk: ADC top-k. Corpus vectors are encoded ONCE to 8 codes via
    * the native `pq_encode` kernel (nearest centroid per segment — narrow,
    * codegen'd, no shuffle); each query precomputes its 8×16 table of
    * partial dot products via the native `pq_table`; scoring is the native
    * `pq_score` — 8 table loads per corpus vector instead of a 64-float
    * dot product. The whole path is HOF-free whole-stage codegen
    * (PlanAuditSpec asserts no CodegenFallback). At 100 TB this is the
    * tier where the corpus's scored representation drops from 256 B to 8
    * codes per vector (32×): the scan becomes memory-bandwidth-cheap
    * enough to brute-force, and IVF-style cell pruning composes on top
    * unchanged. Rows-only + recall spec (random vectors are PQ's worst
    * case — no cluster structure to quantize around). */
  def nPqTopk(spark: SparkSession, dir: String): DataFrame =
    nPqTopkWith(spark, dir, QuantIters)

  /** The parameterized form — `iters` Lloyd rounds of codebook training,
    * `segments`/`codebook` the compression knobs (VERDICT r10 #1). */
  def nPqTopkWith(spark: SparkSession, dir: String, iters: Int,
      segments: Int = PqSegments, codebook: Int = PqCodebook): DataFrame = {
    val (books, codes) = pqBuild(spark, dir, iters, segments, codebook)
    pqServe(spark, dir, books, codes, segments)
  }

  /** INDEX BUILD for the PQ tier: train the codebooks and encode the whole
    * corpus to m codes per vector (the 32× stored representation) via the
    * native `pq_encode`. The codes frame is what production stores;
    * see [[ivfBuild]] for why BENCH times build and serve separately. */
  private[graft] def pqBuild(spark: SparkSession, dir: String,
      iters: Int = QuantIters, segments: Int = PqSegments,
      codebook: Int = PqCodebook, trainSampleMod: Int = 1)
      : (Array[Double], DataFrame) =
    pqBuildOn(emb(spark, dir), PqDim, iters, segments, codebook, trainSampleMod)

  /** Frame-based PQ build (graft.api.AnnApi). */
  private[graft] def pqBuildOn(vecs: DataFrame, dim: Int,
      iters: Int = QuantIters, segments: Int = PqSegments,
      codebook: Int = PqCodebook, trainSampleMod: Int = 1)
      : (Array[Double], DataFrame) = {
    val books = pqTrainOn(vecs, dim, iters, segments, codebook, trainSampleMod)
    // structural by construction (empty cells keep their centroid); cheap
    // last line of defense for the seg-major indexing contract (ADVICE r4)
    require(books.length == segments * codebook * (dim / segments),
      s"PQ codebook misshapen: ${books.length}")
    val flat = typedLit(books.toVector)
    val codes = vecs.select(col("vec_id"),
      call_function("pq_encode", col("embedding").cast("array<double>"),
        flat, lit(segments)).as("codes"))
    (books, codes)
  }

  /** QUERY SERVE for the PQ tier: each query precomputes its m×k table of
    * partial dot products (`pq_table`), scoring is `pq_score` ADC over the
    * stored codes — m table loads per corpus vector. */
  private[graft] def pqServe(spark: SparkSession, dir: String,
      books: Array[Double], codes: DataFrame,
      segments: Int = PqSegments): DataFrame = {
    val flat = typedLit(books.toVector)
    val qTables = queriesDf(spark, dir).select(col("qid"),
      call_function("pq_table", col("qv").cast("array<double>"),
        flat, lit(segments)).as("qtab"))
    topK(codes.join(broadcast(qTables), codes("vec_id") =!= qTables("qid"))
      .select(col("qid"), col("vec_id").as("vid"),
        round(expr("pq_score(codes, qtab)"), 6).as("cos")), K)
  }

  // ------------------------------------------------------------ n_ivfpq_topk
  /** IVF + PQ composed — IVFADC [Jégou et al. 2011 §IV], the standard
    * production ANN index: the coarse quantizer prunes WHICH vectors are
    * scored (nprobe of IvfCells cells), PQ compresses WHAT scoring reads
    * (8 codes instead of 64 floats). The two axes the header advertises,
    * in one query: the stored index is (cell, vec_id, codes) — bucketed by
    * cell, 32× smaller than the raw corpus — the probe side is
    * queries × nprobe rows of precomputed ADC tables (broadcast), and the
    * scan touches ~nprobe/cells of the codes. At 100 TB this is the tier
    * where BOTH knobs matter: cell pruning bounds what is read, code
    * compression bounds bytes per read — neither factor alone gives the
    * product. Rows-only + recall/candidate-fraction specs (the composed
    * recall is bounded by IVF's candidate recall; PlanAuditSpec pins the
    * scoring path codegen'd and the index side unshuffled). */
  def nIvfpqTopk(spark: SparkSession, dir: String): DataFrame =
    nIvfpqTopkWith(spark, dir, QuantIters)

  /** The parameterized form — `iters` Lloyd rounds for both quantizers,
    * plus the full production knob set (VERDICT r10 #1): `cells`/`nprobe`
    * size the coarse pruning, `segments`/`codebook` the code compression. */
  def nIvfpqTopkWith(spark: SparkSession, dir: String, iters: Int,
      cells: Int = IvfCells, nprobe: Int = IvfNprobe,
      segments: Int = PqSegments, codebook: Int = PqCodebook): DataFrame = {
    val (c, books, index) = ivfpqBuild(spark, dir, iters, cells, segments, codebook)
    ivfpqServe(spark, dir, c, books, index, nprobe, segments)
  }

  /** INDEX BUILD for IVFADC: coarse quantizer + codebooks trained, corpus
    * assigned to cells AND encoded to codes in one narrow pass — the
    * (cell, vec_id, codes) frame production stores bucketed by cell. */
  private[graft] def ivfpqBuild(spark: SparkSession, dir: String,
      iters: Int = QuantIters, cells: Int = IvfCells,
      segments: Int = PqSegments, codebook: Int = PqCodebook)
      : (DataFrame, Array[Double], DataFrame) = {
    val c = ivfQuantizer(spark, dir, iters, cells)
    val books = pqTrainOn(emb(spark, dir), PqDim, iters, segments, codebook)
    (c, books, ivfpqEncode(emb(spark, dir), c, books, segments))
  }

  /** IVFADC probe selection, one row per query: (qid, cells — the kernel
    * indices of the `nprobe` best cells, ranked as [[ivfProbesOn]] ranks
    * them — and qtab, the query's ADC table). The table depends on the
    * query alone, so it is built once per query, not once per probed cell.
    * The frame is a per-query Project with no explode: over a local query
    * frame Catalyst's `ConvertToLocalRelation` evaluates it on the driver,
    * so collecting it starts no job. The model comes back with it, because
    * its [[CellModel.cellAt]] / [[CellModel.cellOf]] is the one index →
    * cell mapping. */
  private def ivfpqProbesOn(queries: DataFrame,
      c: DataFrame, books: Array[Double], nprobe: Int,
      segments: Int, metric: String): (CellModel, DataFrame) = {
    val m = cellModel(c)
    val flat = typedLit(books.toVector)
    // ADC table metric: l2 uses negated squared-distance partials; cosine
    // and ip share the dot-product table (their rankings differ only in
    // probe selection upstream — see pq_table's Scaladoc)
    val tableMetric = if (metric == "l2") 1 else 0
    (m, queries.select(col("qid"),
      m.topCells(col("qv"), nprobe, metric).as("cells"),
      call_function("pq_table", col("qv").cast("array<double>"),
        flat, lit(segments), lit(tableMetric)).as("qtab")))
  }

  /** QUERY SERVE for IVFADC: probe cells, broadcast the per-(query, cell)
    * ADC tables, `pq_score` only the codes in probed cells. */
  private[graft] def ivfpqServe(spark: SparkSession, dir: String,
      c: DataFrame, books: Array[Double], index: DataFrame,
      nprobe: Int = IvfNprobe, segments: Int = PqSegments): DataFrame =
    ivfpqServeOn(queriesDf(spark, dir), c, books, index, nprobe, segments,
      excludeSelf = true)

  /** Frame-based IVFADC serve: queries (qid, qv) against an in-memory
    * (cell, vec_id, codes) index. The probe rows ([[ivfpqProbesOn]]) are
    * exploded lazily to (qid, cell, qtab), the broadcast side. `excludeSelf`
    * as on [[bruteTopk]]: off for caller frames (unrelated id namespaces),
    * on for the dir gate entries whose queries are corpus rows. */
  private[graft] def ivfpqServeOn(queries: DataFrame,
      c: DataFrame, books: Array[Double], index: DataFrame,
      nprobe: Int = IvfNprobe, segments: Int = PqSegments,
      excludeSelf: Boolean = false, metric: String = "cosine"): DataFrame = {
    val (m, probes) =
      ivfpqProbesOn(queries, c, books, nprobe, segments, metric)
    val perCell = probes
      .select(col("qid"), explode(col("cells")).as("ci"), col("qtab"))
      .select(col("qid"), m.cellAt(col("ci")).as("cell"), col("qtab"))
    scoreProbed(index.join(broadcast(perCell), "cell"), excludeSelf, None)
  }

  /** ADC-score the index rows joined to their probe rows and keep each
    * query's top [[K]]; `queries` as on [[topK]]. */
  private def scoreProbed(probed: DataFrame, excludeSelf: Boolean,
      queries: Option[Int]): DataFrame = {
    val scored = if (excludeSelf) probed.filter(col("vec_id") =!= col("qid"))
                 else probed
    topK(scored.select(col("qid"), col("vec_id").as("vid"),
      round(expr("pq_score(codes, qtab)"), 6).as("cos")), K, queries)
  }

  /** Assign + PQ-encode a vector frame with an EXISTING model — the one
    * corpus pass shared by the initial build ([[ivfpqBuild]]) and every
    * incremental append ([[ivfpqIndexAppend]]): narrow, codegen'd, no
    * shuffle (the model rides as literals). */
  private[graft] def ivfpqEncode(vecs: DataFrame, c: DataFrame,
      books: Array[Double], segments: Int = PqSegments,
      metric: String = "cosine"): DataFrame = {
    val flat = typedLit(books.toVector)
    // cell assignment follows the serving metric; the PQ code itself is
    // always the L2-nearest sub-centroid (standard PQ — reconstruction
    // error is L2 regardless of the query objective, Jégou §II)
    assignTo(vecs, c, metric = metric)
      .select(col("cell"), col("vec_id"),
        call_function("pq_encode", col("embedding").cast("array<double>"),
          flat, lit(segments)).as("codes"))
  }

  /** The stored index's columns, as [[ivfpqEncode]] emits them and
    * [[writeCells]] lands them. Readers pass it to `spark.read.schema`, so
    * opening a store runs no Parquet schema-inference job; `cell` is the
    * partition column in every layout (plain, and the streamed
    * `batch_id=<id>/cell=<c>/` epochs). */
  private[graft] val IndexSchema: StructType = StructType(Seq(
    StructField("cell", IntegerType),
    StructField("vec_id", LongType),
    StructField("codes", ArrayType(IntegerType, containsNull = false))))

  /** The one writer of the cell layout: every build, append, streamed
    * epoch and compaction lands through it. Rows are clustered by `cell`
    * first, so each write adds at most one file per cell. Unclustered,
    * every task writes its own file into every cell it holds — up to
    * tasks × cells tiny files per write, each one a file open and footer
    * read for every later serve that probes the cell.
    *
    * `repartition(col("cell"))`, not the `REBALANCE(cell)` hint: rebalance
    * lets AQE split a skewed cell across tasks, i.e. into several files,
    * so "one file per cell" would depend on data size. A cell needs no
    * splitting here: sizing keeps cells ≈ √n, so a cell's codes stay
    * small, and the scan still splits a large file by row group. The one
    * exchange carries only (cell, vec_id, codes) rows, and AQE coalesces
    * it to the write's size. */
  private[graft] def writeCells(index: DataFrame, path: String,
      mode: SaveMode): Unit =
    index.select(IndexSchema.fieldNames.toSeq.map(col): _*)
      .repartition(col("cell"))
      .write.mode(mode).partitionBy("cell").parquet(path)

  /** Open a stored index (any layout [[writeCells]] produced) with the
    * fixed [[IndexSchema]]. */
  private[graft] def readIndex(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(IndexSchema).parquet(path)

  /** Persist an IVFADC index partitioned by cell — the storage layout a
    * production deployment serves from: each coarse cell is its own
    * parquet prefix holding one file, so a query opens only nprobe
    * files. */
  private[graft] def ivfpqWriteIndex(index: DataFrame, path: String): Unit =
    writeCells(index, path, SaveMode.Overwrite)

  /** INCREMENTAL index maintenance — the ANN twin of d_minhash_delta's
    * stored-index serve: a DELTA of new vectors is assigned and encoded
    * with the FROZEN production model (quantizer + codebooks — no
    * retraining per batch; retrain cadence is an offline decision) and
    * APPENDED to the stored cell-partitioned index. Work is
    * delta-proportional: one encode pass over the arrivals, then one
    * exchange of the delta's encoded rows by cell ([[writeCells]]), so
    * the append adds at most one file per touched cell instead of one per
    * (task, cell) — without it every append multiplies the files each
    * later serve opens. The exchange is sized to the delta, never the
    * store; existing index files are not rewritten, and the serve path is
    * unchanged — the new vectors are immediately probe-visible. Because
    * assignment and encoding are deterministic given the model,
    * base-build + append is BYTE-IDENTICAL to a full build with the same
    * model (SimilaritySpec proves serve-result equality). */
  private[graft] def ivfpqIndexAppend(delta: DataFrame, c: DataFrame,
      books: Array[Double], path: String,
      segments: Int = PqSegments, metric: String = "cosine"): Unit =
    writeCells(ivfpqEncode(delta, c, books, segments, metric), path,
      SaveMode.Append)

  /** Serve from the STORED index with partition pruning: the probed cell
    * ids (≤ queries × nprobe ints — model-sized, like the quantizer
    * itself) become a static IN-filter, so the parquet scan reads ONLY the
    * probed cells' partitions — at 100 TB the difference between reading
    * nprobe/cells of the index and all of it. See [[ivfpqServeFromStoreOn]]
    * for its jobs. PlanAuditSpec asserts the PartitionFilters actually
    * reach the scan; SimilaritySpec asserts byte-identical results to the
    * in-memory serve. */
  private[graft] def ivfpqServeFromStore(spark: SparkSession, dir: String,
      path: String, c: DataFrame, books: Array[Double]): DataFrame =
    ivfpqServeFromStoreOn(queriesDf(spark, dir), path, c, books,
      excludeSelf = true)

  /** Frame-based stored-index serve (graft.api.AnnApi): queries (qid, qv)
    * against the cell-partitioned store, partition-pruned to probed
    * cells. `excludeSelf` as on [[bruteTopk]].
    *
    * Construction collects the per-query probe rows ([[ivfpqProbesOn]]:
    * queries × nprobe ADC tables, the rows the broadcast ships through the
    * driver anyway) once. Over a local query frame Catalyst folds them on
    * the driver and construction runs no job; over a scanned frame it runs
    * one. The driver expands them to (qid, cell, qtab), and both the cell
    * IN-filter and the broadcast side come from those rows. The store is
    * read with [[IndexSchema]], so no schema-inference job runs either.
    *
    * Execution runs three jobs: the broadcast, the pruned scan with the
    * partial top-k, and the result. The distinct qids of the probe rows
    * bound [[topK]], so the result sort is a `TakeOrderedAndProject`,
    * not a range sampler and a range exchange. */
  private[graft] def ivfpqServeFromStoreOn(queries: DataFrame,
      path: String, c: DataFrame, books: Array[Double],
      nprobe: Int = IvfNprobe, segments: Int = PqSegments,
      excludeSelf: Boolean = false, metric: String = "cosine"): DataFrame = {
    import scala.jdk.CollectionConverters._
    val spark = queries.sparkSession
    val (m, probes) =
      ivfpqProbesOn(queries, c, books, nprobe, segments, metric)
    val rows = probes.collect().toSeq.flatMap { r =>
      if (r.isNullAt(1)) Nil
      else r.getSeq[Int](1).map(i => Row(r.get(0), m.cellOf(i), r.get(2)))
    }
    val local = spark.createDataFrame(rows.asJava, StructType(Seq(
      probes.schema("qid"), StructField("cell", IntegerType),
      probes.schema("qtab"))))
    val cells = rows.map(_.getInt(1)).distinct.sorted
    val index = readIndex(spark, path)
      .filter(col("cell").isin(cells.map(Integer.valueOf): _*))
    scoreProbed(index.join(broadcast(local), "cell"), excludeSelf,
      Some(rows.map(_.get(0)).distinct.size))
  }

  // ---------------------------------------------------------- n_ivfpq_delta
  /** Incremental IVFADC maintenance end-to-end: train the model, write
    * the stored index over the BASE vectors (vec_id < [[DeltaSplitId]]),
    * [[ivfpqIndexAppend]] the arrivals with the frozen model, serve from
    * the store with partition pruning. The gate thus exercises the whole
    * grow-an-index-in-place lifecycle, not just build-once. Rows-only;
    * SimilaritySpec proves the served rows are byte-identical to the
    * all-at-once n_ivfpq_topk (deterministic model ⇒ same assignments and
    * codes ⇒ same index content) and that the append rewrites no base
    * file. */
  val DeltaSplitId = 400L

  def nIvfpqDelta(spark: SparkSession, dir: String): DataFrame = {
    val c = ivfQuantizer(spark, dir)
    val books = pqTrainOn(emb(spark, dir), PqDim)
    val path = "target/ivfpq_delta_index"
    ivfpqWriteIndex(
      ivfpqEncode(emb(spark, dir).filter(col("vec_id") < DeltaSplitId),
        c, books), path)
    ivfpqIndexAppend(
      emb(spark, dir).filter(col("vec_id") >= DeltaSplitId), c, books, path)
    ivfpqServeFromStore(spark, dir, path, c, books)
  }

  // --------------------------------------------------------- n_range_search
  /** Cosine RANGE search: every (query, corpus) pair with similarity ≥ τ —
    * the "all neighbors within a radius" companion to top-k (dedup
    * candidate mining wants this shape, not k-nearest). Exact scoring,
    * query side broadcast, oracle-checked; the bucketed scale path is the
    * same `lshCandidates` pruning n_lsh_topk uses, with this threshold
    * filter in place of the top-k sink. */
  val RangeTau = 0.2

  def nRangeSearch(spark: SparkSession, dir: String): DataFrame =
    rangeSearch(emb(spark, dir), queriesDf(spark, dir), RangeTau,
      excludeSelf = true)

  /** Frame-based range search (graft.api.AnnApi): every (query, corpus)
    * pair within the radius, query side broadcast. `excludeSelf` as on
    * [[bruteTopk]]. Radius semantics per metric: for `cosine`/`ip`, pairs
    * with score ≥ tau; for `l2`, pairs with DISTANCE ≤ tau (the natural
    * radius phrasing — internally the score column is the negated
    * distance, so the filter is `cos ≥ −tau`). */
  def rangeSearch(corpus: DataFrame, queries: DataFrame,
      tau: Double, excludeSelf: Boolean = false,
      metric: String = "cosine"): DataFrame = {
    val paired = corpus.crossJoin(broadcast(queries))
    val scored = if (excludeSelf) paired.filter(col("vec_id") =!= col("qid"))
                 else paired
    val bound = if (metric == "l2") -tau else tau
    scored
      .select(col("qid"), col("vec_id").as("vid"),
        round(scoreCol(metric, col("embedding"), col("qv")), 6).as("cos"))
      .filter(col("cos") >= bound)
      .orderBy("qid", "vid")
  }

  val nRangeSearchSql: String =
    s"""WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
       |           FROM embeddings WHERE vec_id < $NumQueries)
       |SELECT qid, e.vec_id AS vid,
       |       round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), qv), 6) AS cos
       |FROM embeddings e, q
       |WHERE e.vec_id <> qid
       |  AND round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), qv), 6) >= $RangeTau
       |ORDER BY qid, vid""".stripMargin

  // ----------------------------------------------------------- n_rrf_hybrid
  /** Hybrid retrieval — keyword and vector rankings fused with Reciprocal
    * Rank Fusion (Cormack/Clarke/Buettcher, SIGIR 2009): score(d) =
    * Σᵣ 1/(60 + rankᵣ(d)) over each ranker's top-N pool. RRF is the
    * standard production fusion because it needs no score calibration
    * between retrievers — only ranks — and a document found by BOTH
    * rankers beats one found by either alone.
    *
    * Both rankers here run over the shared item universe (vec_id ≡
    * doc_id): the keyword side scores shared-distinct-word counts against
    * the query document's word set; the vector side is the exact cosine
    * ranker (bruteTopk). Each pools its top-N via the bounded-heap
    * `topk_pairs` aggregate (partial-aggregated map-side, ≤ N rows per
    * query per partition on the shuffle); fusion is a full-outer join of
    * two q×N-row manifests — negligible at any scale, and INDEPENDENT of
    * the rankers feeding it: at 100 TB the vector pool comes from the
    * IVFPQ tier (n_ivfpq_topk) and this fusion stage is unchanged.
    * Absent-from-pool contributes 0 — the standard top-N RRF truncation.
    *
    * The keyword pool runs as an INVERTED-INDEX join ([[kwTopInverted]]):
    * corpus words exploded into postings, query terms broadcast onto
    * them, shared-word counts partial-aggregated per (query, doc) — the
    * scale shape, O(matching pairs) instead of the O(corpus × queries)
    * nested intersect of the naive form ([[kwTopExact]], kept as the
    * spec's equality baseline). The DuckDB oracle IS the naive intersect,
    * so the gate hash proves the two formulations agree end-to-end;
    * SimilaritySpec proves pool-level equality directly plus the
    * precondition that makes it exact (every query has ≥ PoolN nonzero-
    * overlap candidates — an inverted index cannot see zero-overlap
    * docs, which is also the correct IR semantics at scale). */
  val RrfDamp = 60
  val RrfPoolN = 50
  val HybridQueries = 5

  private[graft] def hybridWordFrames(
      spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val d = Tables.t(spark, dir, "documents")
      .select(col("doc_id"),
        array_distinct(split(lower(col("text")), " ")).as("words"))
    val kwQ = d.filter(col("doc_id") < HybridQueries)
      .select(col("doc_id").as("qid"), col("words").as("qwords"))
    (d, kwQ)
  }

  /** Naive keyword pool: corpus × queries nested intersect. Correct but
    * O(|corpus| × |queries|) compute — the equality baseline the spec
    * holds [[kwTopInverted]] against, not the shipped path. */
  private[graft] def kwTopExact(d: DataFrame, kwQ: DataFrame): DataFrame =
    topK(
      d.crossJoin(broadcast(kwQ))
        .filter(col("doc_id") =!= col("qid"))
        .select(col("qid"), col("doc_id").as("vid"),
          size(array_intersect(col("words"), col("qwords")))
            .cast("double").as("cos")), RrfPoolN)
      .select(col("qid"), col("vid"), col("rn").as("rk"))

  /** Inverted-index keyword pool — the scale path: explode corpus words
    * into postings, broadcast the (query, term) list onto them (terms ≤
    * queries × vocab-per-doc — model-sized), count shared words per
    * (query, doc) with a partial-aggregated groupBy, then the same
    * bounded-heap top-N. Work is proportional to MATCHING (query, doc,
    * word) triples, never corpus × queries; `words` is array_distinct'd
    * so the match count equals the intersect size exactly. At 100 TB the
    * postings frame is a prebuilt table (write once, serve many) and the
    * broadcast join becomes a postings-key lookup — same plan shape;
    * plan-audited: broadcast hash join on the term, partial_count, no
    * cartesian/nested-loop anywhere in the pool. */
  private[graft] def kwTopInverted(d: DataFrame, kwQ: DataFrame): DataFrame =
    topK(
      d.select(col("doc_id"), explode(col("words")).as("word"))
        .join(broadcast(
          kwQ.select(col("qid"), explode(col("qwords")).as("word"))), "word")
        .filter(col("doc_id") =!= col("qid"))
        .groupBy("qid", "doc_id")
        .agg(count(lit(1)).cast("double").as("cos"))
        .select(col("qid"), col("doc_id").as("vid"), col("cos")), RrfPoolN)
      .select(col("qid"), col("vid"), col("rn").as("rk"))

  def nRrfHybrid(spark: SparkSession, dir: String): DataFrame = {
    val (d, kwQ) = hybridWordFrames(spark, dir)
    val kwTop = kwTopInverted(d, kwQ)
    val corpus = emb(spark, dir)
      .join(d.select(col("doc_id").as("vec_id")), "vec_id")
    val vq = emb(spark, dir).filter(col("vec_id") < HybridQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val vecTop = bruteTopk(corpus, vq, RrfPoolN, excludeSelf = true)
      .select(col("qid"), col("vid"), col("rn").as("rv"))
    val fused = kwTop.join(vecTop, Seq("qid", "vid"), "full_outer")
      .select(col("qid"), col("vid"), round(
        coalesce(lit(1.0) / (lit(RrfDamp) + col("rk")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(RrfDamp) + col("rv")), lit(0.0)), 6)
        .as("cos"))
    topK(fused, K)
      .select(col("qid"), col("vid"), col("cos").as("rrf"), col("rn"))
  }

  val nRrfHybridSql: String =
    s"""WITH d AS (SELECT doc_id,
       |             list_distinct(string_split(lower(text), ' ')) AS words
       |           FROM documents),
       |kwq AS (SELECT doc_id AS qid, words AS qwords FROM d
       |        WHERE doc_id < $HybridQueries),
       |kws AS (SELECT qid, d.doc_id AS vid,
       |          CAST(len(list_intersect(d.words, qwords)) AS DOUBLE) AS s
       |        FROM d, kwq WHERE d.doc_id <> qid),
       |kwt AS (SELECT qid, vid, rk FROM (
       |          SELECT qid, vid, row_number() OVER (PARTITION BY qid
       |            ORDER BY s DESC, vid) AS rk FROM kws)
       |        WHERE rk <= $RrfPoolN),
       |vq AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
       |       FROM embeddings WHERE vec_id < $HybridQueries),
       |vs AS (SELECT qid, e.vec_id AS vid,
       |         round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), qv), 6) AS cos
       |       FROM embeddings e JOIN d ON e.vec_id = d.doc_id, vq
       |       WHERE e.vec_id <> qid),
       |vt AS (SELECT qid, vid, rv FROM (
       |         SELECT qid, vid, row_number() OVER (PARTITION BY qid
       |           ORDER BY cos DESC, vid) AS rv FROM vs)
       |       WHERE rv <= $RrfPoolN),
       |fused AS (SELECT coalesce(kwt.qid, vt.qid) AS qid,
       |            coalesce(kwt.vid, vt.vid) AS vid,
       |            round(coalesce(CAST(1.0 AS DOUBLE)/($RrfDamp + rk), 0)
       |                + coalesce(CAST(1.0 AS DOUBLE)/($RrfDamp + rv), 0), 6) AS rrf
       |          FROM kwt FULL OUTER JOIN vt
       |            ON kwt.qid = vt.qid AND kwt.vid = vt.vid)
       |SELECT qid, vid, rrf, CAST(rn AS INTEGER) AS rn
       |FROM (SELECT *, row_number() OVER (PARTITION BY qid
       |        ORDER BY rrf DESC, vid) AS rn FROM fused)
       |WHERE rn <= $K ORDER BY qid, rn""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "n_brute_topk" -> (nBruteTopk _), "n_lsh_topk" -> (nLshTopk _),
    "n_l2_topk" -> (nL2Topk _), "n_ip_topk" -> (nIpTopk _),
    "n_ivf_topk" -> (nIvfTopk _), "n_ivf_big" -> (nIvfBig _),
    "n_quant_topk" -> (nQuantTopk _),
    "n_pq_topk" -> (nPqTopk _), "n_ivfpq_topk" -> (nIvfpqTopk _),
    "n_ivfpq_delta" -> (nIvfpqDelta _),
    "n_range_search" -> (nRangeSearch _), "n_rrf_hybrid" -> (nRrfHybrid _),
    "e_normalize" -> (eNormalize _), "e_quantize" -> (eQuantize _))

  val oracle: Map[String, String] = Map("n_brute_topk" -> nBruteTopkSql,
    "n_l2_topk" -> nL2TopkSql, "n_ip_topk" -> nIpTopkSql,
    "n_range_search" -> nRangeSearchSql, "n_rrf_hybrid" -> nRrfHybridSql,
    "e_normalize" -> eNormalizeSql, "e_quantize" -> eQuantizeSql)
}
