package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.internal.StaticSQLConf

/** Registration for graft's native expressions.
  *
  * Two paths to the same registry entries:
  *  - `GraftExtensions` for `spark.sql.extensions=graft.functions.GraftExtensions`
  *    (the production wiring — survives session cloning and works from pure
  *    SQL). `graft.Graft.configure` sets it, so every session graft builds
  *    (`Graft.session`, the mains, the spec suite) gets the functions here;
  *  - `GraftFunctions.register(spark)` for programmatic use on a session
  *    created without the extension. `Graft.session` calls it for a session
  *    that already existed, and the `graft.api` façade and the public
  *    `graft.streaming` entries call it on their input's session, so they
  *    also work on a user's own session. The operators behind them do not.
  *
  * After registration the functions are plain Catalyst expressions: they
  * participate in whole-stage codegen, constant folding and filter pushdown
  * like any builtin.
  */
object GraftFunctions {

  private[graft] val fns: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "cosine_similarity" -> (c => CosineSimilarity(c(0), c(1))),
    "inner_product" -> (c => InnerProduct(c(0), c(1))),
    "l2_distance" -> (c => L2Distance(c(0), c(1))),
    "hamming_distance" -> (c => HammingDistance(c(0), c(1))),
    "gcd" -> (c => Gcd(c(0), c(1))),
    "z_interleave" -> (c => ZInterleave(c(0), c(1))),
    "lcm" -> (c => Lcm(c(0), c(1))),
    "date_bin_us" -> (c => DateBin(c(0), c(1), c(2))),
    "rolling_fingerprint" -> (c => RollingFingerprint(c(0))),
    "word_shingles" -> (c => WordShingles(c(0), c(1))),
    "char_shingles" -> (c => CharShingles(c(0), c(1))),
    "minhash_sig" -> (c => MinHashSig(c(0), c(1))),
    "hyperplane_sign_bits" -> (c => HyperplaneSignBits(c(0), c(1))),
    "sorted_overlap_count" -> (c => SortedOverlapCount(c(0), c(1))),
    "l2_normalize" -> (c => L2Normalize(c(0))),
    "quantize_int8" -> (c => QuantizeInt8(c(0))),
    "stopword_hits" -> (c => StopwordHits(c(0), c(1))),
    "rep_stats" -> (c => RepStats(c(0))),
    "cosine_similarity_int" -> (c => CosineSimilarityInt(c(0), c(1))),
    "pq_score" -> (c => PqScore(c(0), c(1))),
    "pq_encode" -> (c => PqEncode(c(0), c(1), c(2))),
    // optional trailing metric literal (see VecMetric): 3-arg form = cosine
    "pq_table" -> (c => if (c.length > 3) PqTable(c(0), c(1), c(2), c(3))
                        else PqTable(c(0), c(1), c(2))),
    "nearest_centroid" -> (c =>
      if (c.length > 3) NearestCentroid(c(0), c(1), c(2), c(3))
      else NearestCentroid(c(0), c(1), c(2))),
    "top_cells" -> (c =>
      if (c.length > 4) TopCells(c(0), c(1), c(2), c(3), c(4))
      else TopCells(c(0), c(1), c(2), c(3))),
    "topk_pairs" -> (c => TopKPairs(c(0), c(1), c(2)).toAggregateExpression()),
    // Spark's OWN bloom-filter pair (catalyst .aggregate.BloomFilterAggregate
    // / BloomFilterMightContain — the machinery behind runtime row-group
    // filters), registered under graft names because Spark keeps them
    // internal: the membership sketch the d_bloom_delta ingest gate builds
    // over corpus content hashes. No new kernel code — reusing the engine's
    // battle-tested implementation is the Spark-first move.
    "bloom_filter_agg" -> (c =>
      org.apache.spark.sql.catalyst.expressions.aggregate
        .BloomFilterAggregate(c(0), c(1), c(2), 0, 0).toAggregateExpression()),
    "bloom_might_contain" -> (c =>
      org.apache.spark.sql.catalyst.expressions
        .BloomFilterMightContain(c(0), c(1))))

  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    fns.foreach { case (name, builder) =>
      // idempotent: the api façade calls register() on every entry;
      // re-registering an existing name would WARN "function replaced"
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.registerFunction(
          FunctionIdentifier(name),
          new ExpressionInfo("graft.functions.GraftFunctions", name),
          builder)
    }
    // the extension already runs the rule inside the optimizer's own
    // batches; adding it to extraOptimizations as well would run it twice
    if (!extensionActive(spark) &&
      !spark.experimental.extraOptimizations.contains(HammingZeroAsEquality))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ HammingZeroAsEquality
  }

  /** True when `spark` was built with [[GraftExtensions]]: Spark applies
    * `spark.sql.extensions` from the SparkContext's conf to every session
    * on that context (including `newSession` and stream clones). */
  private def extensionActive(spark: SparkSession): Boolean =
    spark.sparkContext.getConf
      .get(StaticSQLConf.SPARK_SESSION_EXTENSIONS.key, "")
      .split(",").map(_.trim).contains(classOf[GraftExtensions].getName)

  // Column-API helpers (the session must have been registered first).
  def cosineSimilarity(a: Column, b: Column): Column =
    callFn("cosine_similarity", a, b)
  def hammingDistance(a: Column, b: Column): Column =
    callFn("hamming_distance", a, b)

  private def callFn(name: String, cols: Column*): Column =
    org.apache.spark.sql.functions.call_function(name, cols: _*)

  /** SQL expression text helpers for readability at call sites. */
  def sql(s: String): Column = expr(s)
}

/** `--conf spark.sql.extensions=graft.functions.GraftExtensions` */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => HammingZeroAsEquality)
    // same builder list as GraftFunctions.register — one source of truth, so
    // a kernel added there is automatically available through the extension
    GraftFunctions.fns.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft.functions.GraftFunctions", name),
        builder))
    }
  }
}
