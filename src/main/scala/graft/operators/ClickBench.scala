package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** ClickBench-shaped interactive analytics over `events` (the reference
  * benchmarks ClickBench: /root/reference/benchmarks/src/clickbench.rs).
  * Top-N heavy-hitter, distinct-count and quantile aggregations — the three
  * query shapes that dominate that suite.
  *
  * 100 TB notes: all three are single partial-aggregatable shuffles on a
  * bounded key (user or type); the top-N is a TakeOrderedAndProject (no
  * global sort materialization).
  */
object ClickBench {

  private def ev(spark: SparkSession, dir: String) = Tables.t(spark, dir, "events")

  /** Heavy hitters: top-10 users by event count. */
  def cbTopUsers(spark: SparkSession, dir: String): DataFrame =
    ev(spark, dir)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total_value"))
      .orderBy(desc("n"), asc("user_id"))
      .limit(10)

  val cbTopUsersSql: String =
    """SELECT user_id, count(*) AS n, round(sum(value), 2) AS total_value
      |FROM events GROUP BY user_id
      |ORDER BY n DESC, user_id LIMIT 10""".stripMargin

  /** Distinct users and events per type. */
  def cbUniqUsers(spark: SparkSession, dir: String): DataFrame =
    ev(spark, dir)
      .groupBy("event_type")
      .agg(countDistinct("user_id").as("uniq_users"), count(lit(1)).as("n_events"))
      .orderBy("event_type")

  val cbUniqUsersSql: String =
    """SELECT event_type, count(DISTINCT user_id) AS uniq_users, count(*) AS n_events
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Value quantiles per event type (exact percentiles). */
  def cbQuantiles(spark: SparkSession, dir: String): DataFrame =
    ev(spark, dir)
      .groupBy("event_type")
      .agg(
        round(percentile(col("value"), lit(0.5)), 4).as("p50"),
        round(percentile(col("value"), lit(0.9)), 4).as("p90"),
        round(percentile(col("value"), lit(0.99)), 4).as("p99"))
      .orderBy("event_type")

  val cbQuantilesSql: String =
    """SELECT event_type,
      |  round(CAST(quantile_cont(value, 0.5) AS DOUBLE), 4) AS p50,
      |  round(CAST(quantile_cont(value, 0.9) AS DOUBLE), 4) AS p90,
      |  round(CAST(quantile_cont(value, 0.99) AS DOUBLE), 4) AS p99
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Value histogram: fixed-width bins (arithmetic binning — DuckDB has no
    * width_bucket, the explicit floor is portable), per event type. The
    * dashboard-histogram shape: one partial-aggregated shuffle. */
  def cbHistogram(spark: SparkSession, dir: String): DataFrame =
    ev(spark, dir)
      .withColumn("bin", floor(col("value") / 10.0).cast("int"))
      .groupBy("event_type", "bin")
      .agg(count(lit(1)).as("n"))
      .orderBy("event_type", "bin")

  val cbHistogramSql: String =
    """SELECT event_type, CAST(floor(value / 10.0) AS INTEGER) AS bin,
      |       count(*) AS n
      |FROM events GROUP BY event_type, bin
      |ORDER BY event_type, bin""".stripMargin

  /** Heavy hitters by DISTINCT reach (top event types per distinct-user
    * count, with per-type rates) — the ClickBench "top pages by unique
    * visitors" shape: two-level aggregate, count-distinct inside. */
  def cbTopByUniq(spark: SparkSession, dir: String): DataFrame =
    ev(spark, dir)
      .groupBy("event_type")
      .agg(countDistinct("user_id").as("uniq"),
        count(lit(1)).as("n"),
        round(count(lit(1)).cast("double") / countDistinct("user_id"), 4)
          .as("events_per_user"))
      .orderBy(desc("uniq"), asc("event_type"))
      .limit(5)

  val cbTopByUniqSql: String =
    """SELECT event_type, count(DISTINCT user_id) AS uniq, count(*) AS n,
      |  round(CAST(count(*) AS DOUBLE) / count(DISTINCT user_id), 4)
      |    AS events_per_user
      |FROM events GROUP BY event_type
      |ORDER BY uniq DESC, event_type LIMIT 5""".stripMargin

  /** JOB/IMDB-shaped query (reference: benchmarks/src/imdb/): a selective
    * multi-join where predicates sit on several dimensions at once and join
    * order dominates cost — Catalyst reorders from the filtered sides. */
  def jobLike(spark: SparkSession, dir: String): DataFrame =
    Tables.t(spark, dir, "part")
      .filter(col("p_size") < 15 && col("p_type") =!= "PROMO")
      .join(Tables.t(spark, dir, "lineitem"), col("p_partkey") === col("l_partkey"))
      .join(Tables.t(spark, dir, "supplier").filter(col("s_acctbal") > 0),
        col("l_suppkey") === col("s_suppkey"))
      .join(Tables.t(spark, dir, "orders").filter(col("o_orderpriority") === "1-URGENT"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.t(spark, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n"),
        round(min("l_extendedprice"), 2).as("min_price"),
        round(max("l_extendedprice"), 2).as("max_price"))
      .orderBy("n_name")

  val jobLikeSql: String =
    """SELECT n_name, count(*) AS n,
      |  round(min(l_extendedprice), 2) AS min_price,
      |  round(max(l_extendedprice), 2) AS max_price
      |FROM part, lineitem, supplier, orders, nation
      |WHERE p_partkey = l_partkey AND l_suppkey = s_suppkey
      |  AND l_orderkey = o_orderkey AND s_nationkey = n_nationkey
      |  AND p_size < 15 AND p_type <> 'PROMO'
      |  AND s_acctbal > 0 AND o_orderpriority = '1-URGENT'
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  // ------------------------------------------------------------- cb_h2o_gb
  /** h2o-ai groupby shapes not covered elsewhere (reference
    * benchmarks/queries/h2o/groupby.sql q6/q7): exact MEDIAN + stddev per
    * group and max−min range per group, keyed per user — the
    * order-statistic-per-high-cardinality-key aggregate. Exact percentile
    * buffers per group are the deliberate cost (h2o semantics); at 100 TB
    * the same query swaps `percentile` for `approx_percentile` (a_approx)
    * when error tolerance allows — both run as one partial-aggregated
    * shuffle on user_id. */
  def cbH2oGb(spark: SparkSession, dir: String): DataFrame =
    ev(spark, dir)
      .groupBy("user_id")
      .agg(
        round(expr("percentile(value, 0.5)"), 4).as("median_v"),
        round(stddev_samp(col("value")), 4).as("sd_v"),
        round(max("value") - min("value"), 4).as("range_v"),
        count(lit(1)).as("n"))
      .orderBy("user_id")

  val cbH2oGbSql: String =
    """SELECT user_id,
      |  round(median(value), 4) AS median_v,
      |  round(stddev_samp(value), 4) AS sd_v,
      |  round(max(value) - min(value), 4) AS range_v,
      |  count(*) AS n
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  // --------------------------------------------------------- cb_salted_uniq
  /** Salted exact distinct-count — the manual hot-key mitigation for
    * aggregates (AQE splits skewed JOIN partitions, not skewed AGGREGATE
    * keys, and partial aggregation cannot shrink a distinct: the whole
    * distinct set of a hot key lands in one reducer). Phase 1 groups by
    * (key, hash(member) % S): each hot key's distinct space is partitioned
    * across S reducers, each holding 1/S of the state; because the salt is
    * a function of the DISTINCT MEMBER, per-salt distinct counts sum to the
    * exact global distinct. `event_type` has 5 values over all events —
    * maximal key skew — and the result is hash-checked against a plain
    * COUNT(DISTINCT). */
  val SaltBuckets = 16

  def cbSaltedUniq(spark: SparkSession, dir: String): DataFrame =
    ev(spark, dir)
      .groupBy(col("event_type"),
        pmod(xxhash64(col("user_id")), lit(SaltBuckets)).as("salt"))
      .agg(countDistinct("user_id").as("d"), count(lit(1)).as("c"))
      .groupBy("event_type")
      .agg(sum("d").as("uniq_users"), sum("c").as("n_events"))
      .orderBy("event_type")

  val cbSaltedUniqSql: String =
    """SELECT event_type, count(DISTINCT user_id) AS uniq_users,
      |       count(*) AS n_events
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ------------------------------------------------------------ cb_h2o_join
  /** h2o-ai join suite shapes (reference benchmarks/queries/h2o/join.sql,
    * driver benchmarks/src/h2o.rs): the fact table joined to a SMALL dim
    * (broadcast — h2o's `x ⋈ small ON id1`), a MEDIUM dim on the
    * high-cardinality user key (`x ⋈ medium ON id2`), and a LARGE
    * same-cardinality table on the unique row key (`x ⋈ large ON id3`) —
    * all three tiers in one plan, reduced to per-nation totals so the
    * output is oracle-hashable.
    *
    * 100 TB shape: nation broadcasts (25 rows); customer is hash-shuffled
    * on the join key once; the large-large leg joins two fact-sized inputs
    * on a unique key — the one join that MUST shuffle both sides
    * (SMJ/shuffled-hash) and the reason h2o grades it separately. AQE picks
    * broadcast for the small tiers at this sf; at scale the same plan
    * degrades gracefully tier by tier. PlanAuditSpec pins the dim
    * broadcast + no cartesian. Integer v1/v2 measures (h2o's are ints)
    * keep the per-nation sums order-exact across engines — same SURVEY §4
    * determinism policy as cb_h2o_win. */
  def cbH2oJoin(spark: SparkSession, dir: String): DataFrame = {
    val x = ev(spark, dir).select(col("event_id"), col("user_id"),
      floor(col("value")).cast("long").as("v1"))
    val y = ev(spark, dir).select(col("event_id"),
      floor(col("value") * 2).cast("long").as("v2"))
    val cust = Tables.t(spark, dir, "customer").select("c_custkey", "c_nationkey")
    val nat = Tables.t(spark, dir, "nation").select("n_nationkey", "n_name")
    x.join(y, "event_id")
      .join(cust, col("user_id") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n"),
        sum("v1").as("sum_v1"),
        sum("v2").as("sum_v2"))
      .orderBy("n_name")
  }

  val cbH2oJoinSql: String =
    """SELECT n_name, count(*) AS n,
      |  CAST(sum(x.v1) AS BIGINT) AS sum_v1,
      |  CAST(sum(y.v2) AS BIGINT) AS sum_v2
      |FROM (SELECT event_id, user_id,
      |        CAST(floor(value) AS BIGINT) AS v1 FROM events) x
      |JOIN (SELECT event_id,
      |        CAST(floor(value * 2) AS BIGINT) AS v2 FROM events) y
      |  USING (event_id)
      |JOIN customer ON x.user_id = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  // ------------------------------------------------------------- cb_h2o_win
  /** h2o-ai window suite shapes (reference benchmarks/queries/h2o/
    * window.sql) over events-as-`large`: whole-table sum, per-key partition
    * sums, first_value, the first_value-ROWS-BETWEEN lag idiom, a 100-row
    * moving average, the running sum, and a value-RANGE frame — one output
    * row per input row, every column hash-checked.
    *
    * Spark-first translation notes (same desugaring policy as w_qualify):
    * `sum(v2) OVER ()` is computed as a broadcast scalar cross join — an
    * unpartitioned window plans as Exchange SinglePartition, which is the
    * one window shape that cannot scale, while the broadcast form is two
    * narrow stages with identical semantics (the oracle keeps the
    * subquery-scalar spelling). h2o's global-ORDER-BY variants
    * (row_number() OVER (ORDER BY id3)) are covered by srt_lineitem's
    * range-partitioned global sort + w_rank's partitioned ranks; a global
    * per-row numbering is inherently a serial total order, so the suite's
    * PARTITION BY forms are the 100 TB-relevant ones graded here. All
    * per-user windows share ONE shuffle on user_id (same sort within
    * partitions). The aggregated measure is an INTEGER value bin mirroring
    * h2o's v2 (a small int in the real benchmark): integer sums are
    * order-exact in FP, so every windowed sum/avg is bit-identical across
    * engines — the SURVEY §4 determinism policy (a double measure summed in
    * different orders flips round() at frame boundaries; measured on
    * mov_avg before this). */
  def cbH2oWin(spark: SparkSession, dir: String): DataFrame = {
    val e = ev(spark, dir).select("event_id", "user_id", "event_type", "value")
      .withColumn("v2", floor(col("value")).cast("long"))
    val byUser = Window.partitionBy("user_id").orderBy("event_id")
    val total = ev(spark, dir)
      .agg(sum(floor(col("value")).cast("long")).as("sum_all"))
    // window order matters for shuffle reuse: the event_type window runs
    // FIRST so every user_id-partitioned window (partition-only sum, the
    // event_id-ordered frames, the v2-ordered RANGE frame) stacks on ONE
    // hashpartitioning(user_id) exchange — interleaving them would pay the
    // user_id shuffle twice (PlanAuditSpec pins this)
    e.crossJoin(broadcast(total))
      .withColumn("sum_by_type",
        sum("v2").over(Window.partitionBy("event_type")))
      .withColumn("sum_by_user",
        sum("v2").over(Window.partitionBy("user_id")))
      .withColumn("first_by_user", first("value").over(byUser))
      .withColumn("lag_by_user",
        first("value").over(byUser.rowsBetween(-1, -1)))
      .withColumn("mov_avg",
        round(avg("v2").over(byUser.rowsBetween(-100, 0)), 4))
      .withColumn("roll_sum",
        sum("v2").over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("range_sum",
        sum("v2").over(
          Window.partitionBy("user_id").orderBy("v2").rangeBetween(-3, 0)))
      .select("event_id", "user_id", "event_type", "value", "sum_all",
        "sum_by_user", "sum_by_type", "first_by_user", "lag_by_user",
        "mov_avg", "roll_sum", "range_sum")
      .orderBy("event_id")
  }

  val cbH2oWinSql: String =
    """WITH t AS (SELECT event_id, user_id, event_type, value,
      |             CAST(floor(value) AS BIGINT) AS v2 FROM events)
      |SELECT event_id, user_id, event_type, value,
      |  (SELECT CAST(sum(CAST(floor(value) AS BIGINT)) AS BIGINT)
      |   FROM events) AS sum_all,
      |  CAST(sum(v2) OVER (PARTITION BY user_id) AS BIGINT) AS sum_by_user,
      |  CAST(sum(v2) OVER (PARTITION BY event_type) AS BIGINT) AS sum_by_type,
      |  first_value(value) OVER
      |    (PARTITION BY user_id ORDER BY event_id) AS first_by_user,
      |  first_value(value) OVER (PARTITION BY user_id ORDER BY event_id
      |    ROWS BETWEEN 1 PRECEDING AND 1 PRECEDING) AS lag_by_user,
      |  round(avg(v2) OVER (PARTITION BY user_id ORDER BY event_id
      |    ROWS BETWEEN 100 PRECEDING AND CURRENT ROW), 4) AS mov_avg,
      |  CAST(sum(v2) OVER (PARTITION BY user_id ORDER BY event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS roll_sum,
      |  CAST(sum(v2) OVER (PARTITION BY user_id ORDER BY v2
      |    RANGE BETWEEN 3 PRECEDING AND CURRENT ROW) AS BIGINT) AS range_sum
      |FROM t ORDER BY event_id""".stripMargin

  // ----------------------------------------------------------- cb_multi_uniq
  /** ClickBench "extended" multi-COUNT(DISTINCT) shape (reference
    * benchmarks/queries/clickbench/extended/q0.sql: several distinct-count
    * sketches of one table in one statement). Catalyst plans N distinct
    * aggregates over one input as a single pass: one Expand (N rows per
    * input row, one per distinct column), then partial de-dup aggregation
    * BEFORE the shuffle — so what moves is ∝ Σ distinct values, not
    * N × corpus. PlanAuditSpec pins the Expand + partial-agg plan. At
    * 100 TB the same statement swaps count(DISTINCT …) for approx or HLL
    * sketches (a_approx / a_hll_rollup) when exactness can be traded. */
  def cbMultiUniq(spark: SparkSession, dir: String): DataFrame =
    ev(spark, dir).agg(
      countDistinct(col("user_id")).as("uniq_users"),
      countDistinct(col("event_type")).as("uniq_types"),
      countDistinct(to_date(col("ts"))).as("uniq_days"))

  val cbMultiUniqSql: String =
    """SELECT count(DISTINCT user_id) AS uniq_users,
      |       count(DISTINCT event_type) AS uniq_types,
      |       count(DISTINCT CAST(ts AS DATE)) AS uniq_days
      |FROM events""".stripMargin

  // ------------------------------------------------------------ cb_h2o_topn
  /** h2o groupby q8 shape (reference benchmarks/queries/h2o/groupby.sql:
    * "largest two v3 by id6"): top-2 values per high-cardinality key.
    * h2o's own spelling is a ROW_NUMBER window — which shuffles every row
    * into its key's partition and sorts ALL of them to keep 2. This
    * implementation uses the native `topk_pairs` bounded-heap aggregate
    * instead (same operator the ANN sink uses): partial aggregation keeps
    * ≤2 rows per key per input partition map-side, so the shuffle carries
    * O(keys × 2) rows instead of the corpus — at 100 TB the difference
    * between a top-N and a global re-sort. Output is (key, value, rank):
    * under a tie at the cut both engines keep the same value multiset, so
    * the oracle (spelled with h2o's ROW_NUMBER) hash-matches. */
  def cbH2oTopn(spark: SparkSession, dir: String): DataFrame = {
    ev(spark, dir)
      .groupBy("user_id")
      .agg(expr("topk_pairs(value, event_id, 2)").as("top"))
      .select(col("user_id"), posexplode(col("top")).as(Seq("pos", "p")))
      .select(col("user_id"), col("p.score").as("largest_v"),
        (col("pos") + 1).cast("int").as("rnk"))
      .orderBy("user_id", "rnk")
  }

  val cbH2oTopnSql: String =
    """SELECT user_id, largest_v, CAST(order_v AS INTEGER) AS rnk
      |FROM (SELECT user_id, value AS largest_v,
      |        ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY value DESC)
      |          AS order_v
      |      FROM events WHERE value IS NOT NULL) sub_query
      |WHERE order_v <= 2 ORDER BY user_id, rnk""".stripMargin

  // -------------------------------------------------------------- cb_h2o_r2
  /** h2o groupby q9 shape (reference benchmarks/queries/h2o/groupby.sql:
    * "POWER(CORR(v1, v2), 2) by id2, id4"): grouped regression statistic
    * over a two-key group. Correlates the measure against hour-of-event
    * (an exact small integer, so the cross-moment sums stay numerically
    * tame — correlating against raw epoch seconds would put ~1e9-magnitude
    * cancellation inside corr and make the 4-dp oracle flappy). One
    * partial-aggregated shuffle: corr's sufficient statistics (n, Σx, Σy,
    * Σxy, Σx², Σy²) merge associatively, so this scales like any sum. */
  def cbH2oR2(spark: SparkSession, dir: String): DataFrame =
    ev(spark, dir)
      .groupBy(col("event_type"), pmod(col("user_id"), lit(4)).as("user_band"))
      .agg(round(pow(corr(col("value"), hour(col("ts"))), 2), 4).as("r2"),
        count(lit(1)).as("n"))
      .orderBy("event_type", "user_band")

  val cbH2oR2Sql: String =
    """SELECT event_type, user_id % 4 AS user_band,
      |  round(power(corr(value, hour(ts)), 2), 4) AS r2,
      |  count(*) AS n
      |FROM events GROUP BY event_type, user_band
      |ORDER BY event_type, user_band""".stripMargin

  // ------------------------------------------------------- cb_multi_uniq_grp
  /** ClickBench extended q2 shape (reference benchmarks/queries/clickbench/
    * extended/q2.sql): several COUNT(DISTINCT) PER GROUP, ordered by one of
    * the distinct counts, top-N — the grouped companion of cb_multi_uniq.
    * Same single-pass Expand plan, but the partial de-dup now keys on
    * (group, distinct-value), so the shuffle is ∝ Σ per-group distinct
    * sets — the quantity that decides whether a 100 TB version needs the
    * cb_salted_uniq hot-key treatment. */
  def cbMultiUniqGrp(spark: SparkSession, dir: String): DataFrame =
    ev(spark, dir)
      .groupBy("event_type")
      .agg(
        countDistinct(col("user_id")).as("uniq_users"),
        countDistinct(to_date(col("ts"))).as("uniq_days"),
        countDistinct(col("props")).as("uniq_props"),
        countDistinct(floor(col("value") / 10.0)).as("uniq_value_bands"))
      .orderBy(desc("uniq_users"), asc("event_type"))
      .limit(10)

  val cbMultiUniqGrpSql: String =
    """SELECT event_type,
      |  count(DISTINCT user_id) AS uniq_users,
      |  count(DISTINCT CAST(ts AS DATE)) AS uniq_days,
      |  count(DISTINCT props) AS uniq_props,
      |  count(DISTINCT floor(value / 10.0)) AS uniq_value_bands
      |FROM events GROUP BY event_type
      |ORDER BY uniq_users DESC, event_type LIMIT 10""".stripMargin

  // --------------------------------------------------------- cb_filter_stack
  /** ClickBench extended q6 shape (reference benchmarks/queries/clickbench/
    * extended/q6.sql): a deep CONJUNCTIVE predicate stack — LIKE, IN,
    * BETWEEN, a regexp match, a split_part/split_part/CAST extraction
    * guarded by a digits-only regexp, and a levenshtein distance — reduced
    * to one COUNT(*). The plan story is what q6 benchmarks: every
    * predicate is codegen'd into ONE scan stage (simple comparisons reach
    * the parquet reader as pushed filters; the string kernels run fused in
    * whole-stage codegen), so cost is one pass over the filtered columns
    * regardless of how many clauses stack. */
  def cbFilterStack(spark: SparkSession, dir: String): DataFrame =
    ev(spark, dir)
      .filter(col("event_type").like("p%") &&
        expr("user_id % 16 IN (5, 12)") &&
        col("value").between(5.0, 250.0) &&
        expr("""props rlike '"k": [0-9]+'""") &&
        // digit run bounded to 18 with a BIGINT cast: every int-like value
        // keeps participating (a bare {1,9} guard also dropped 10-digit
        // values that fit INT — a silent semantic change both engines
        // shared, ADVICE r6) while the guarded CAST still can never
        // overflow under ANSI mode (Spark 4 default, and DuckDB), where an
        // unbounded '[0-9]+' guard admits e.g. a 20-digit run and the CAST
        // aborts the whole query (ADVICE r5)
        expr("""CASE WHEN split_part(split_part(props, ': ', 2), '}', 1)
                       rlike '^[0-9]{1,18}$'
                THEN CAST(split_part(split_part(props, ': ', 2), '}', 1) AS BIGINT)
                ELSE 0 END > 40""") &&
        expr("levenshtein(event_type, 'purchase') < 3"))
      .agg(count(lit(1)).as("share_count"))

  val cbFilterStackSql: String =
    """SELECT count(*) AS share_count FROM events
      |WHERE event_type LIKE 'p%'
      |  AND user_id % 16 IN (5, 12)
      |  AND value BETWEEN 5.0 AND 250.0
      |  AND regexp_matches(props, '"k": [0-9]+')
      |  AND CASE WHEN split_part(split_part(props, ': ', 2), '}', 1)
      |             ~ '^[0-9]{1,18}$'
      |      THEN CAST(split_part(split_part(props, ': ', 2), '}', 1) AS BIGINT)
      |      ELSE 0 END > 40
      |  AND levenshtein(event_type, 'purchase') < 3""".stripMargin

  // ---------------------------------------------------------- cb_stddev_topn
  /** ClickBench extended q3 shape (reference benchmarks/queries/clickbench/
    * extended/q3.sql): grouped dispersion statistics — COUNT / AVG / STDDEV
    * / VAR per two-key group — then HAVING on the statistic, ORDER BY it
    * DESC, LIMIT. The composite the suite covers in pieces (cb_h2o_gb has
    * grouped stddev, cb_top_users has order-by-aggregate) but not as one
    * statement: the HAVING prunes groups too small for a sample stddev
    * (n < 2 → NULL), and the ORDER BY keys on the ROUNDED statistic with
    * the group keys as tiebreak so the cut is FP-deterministic across
    * engines (SURVEY §4). One partial-aggregated shuffle — stddev/var
    * merge as (n, Σx, Σx²) sufficient statistics — then
    * TakeOrderedAndProject for the top-10 (no global sort). */
  def cbStddevTopn(spark: SparkSession, dir: String): DataFrame =
    ev(spark, dir)
      .groupBy(col("event_type"), pmod(col("user_id"), lit(16)).as("user_band"))
      .agg(count(lit(1)).as("n"),
        round(avg("value"), 4).as("avg_value"),
        round(stddev_samp(col("value")), 4).as("s"),
        round(var_samp(col("value")), 4).as("v"))
      .filter(col("s").isNotNull)
      .orderBy(desc("s"), asc("event_type"), asc("user_band"))
      .limit(10)

  val cbStddevTopnSql: String =
    """SELECT event_type, user_id % 16 AS user_band, count(*) AS n,
      |  round(avg(value), 4) AS avg_value,
      |  round(stddev_samp(value), 4) AS s,
      |  round(var_samp(value), 4) AS v
      |FROM events GROUP BY event_type, user_band
      |HAVING s IS NOT NULL
      |ORDER BY s DESC, event_type, user_band LIMIT 10""".stripMargin

  // ------------------------------------------------------ cb_approx_pctl_grp
  /** ClickBench extended q5 shape (reference benchmarks/queries/clickbench/
    * extended/q5.sql): per-HIGH-CARDINALITY-two-key-group order statistics —
    * COUNT c, MIN, 0.95 percentile, MAX — with a WHERE pre-filter, HAVING
    * c > 1 (most (user, day) groups are singletons, so the HAVING does real
    * pruning, like q5's (ClientIP, WatchID)), ORDER BY the percentile DESC
    * LIMIT 10. The oracled entry scores with EXACT `percentile` — q5's
    * APPROX_PERCENTILE_CONT is engine-specific sketch state that can never
    * hash-match across engines; ClickBenchSpec instead bounds Spark's
    * `approx_percentile` against this exact result on the same groups, so
    * the approx variant is still pinned. NULL values are pre-filtered on
    * both sides: a group of all-NULL measures would order its NULL tp95 by
    * engine-specific NULLS placement (SURVEY §4 dialect-trap class). */
  def cbApproxPctlGrp(spark: SparkSession, dir: String): DataFrame =
    ev(spark, dir)
      .filter(col("user_id") % 2 === 0 && col("value").isNotNull)
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("c"),
        round(min("value"), 4).as("tmin"),
        round(percentile(col("value"), lit(0.95)), 4).as("tp95"),
        round(max("value"), 4).as("tmax"))
      .filter(col("c") > 1)
      .orderBy(desc("tp95"), asc("user_id"), asc("day"))
      .limit(10)

  val cbApproxPctlGrpSql: String =
    """SELECT user_id, CAST(ts AS DATE) AS day, count(*) AS c,
      |  round(min(value), 4) AS tmin,
      |  round(CAST(quantile_cont(value, 0.95) AS DOUBLE), 4) AS tp95,
      |  round(max(value), 4) AS tmax
      |FROM events WHERE user_id % 2 = 0 AND value IS NOT NULL
      |GROUP BY user_id, day HAVING c > 1
      |ORDER BY tp95 DESC, user_id, day LIMIT 10""".stripMargin

  // ----------------------------------------------------------- cb_median_grp
  /** ClickBench extended q4 shape (reference benchmarks/queries/clickbench/
    * extended/q4.sql): COUNT c / MIN / MEDIAN / MAX per high-cardinality
    * two-key group, HAVING c > 1, ORDER BY the median DESC LIMIT 10 — the
    * exact-order-statistic sibling of cb_approx_pctl_grp (q5), same group
    * keys and NULL/tie discipline; MEDIAN interpolates identically in both
    * engines so the rounded value hashes. */
  def cbMedianGrp(spark: SparkSession, dir: String): DataFrame =
    ev(spark, dir)
      .filter(col("user_id") % 2 === 0 && col("value").isNotNull)
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("c"),
        round(min("value"), 4).as("tmin"),
        round(median(col("value")), 4).as("tmed"),
        round(max("value"), 4).as("tmax"))
      .filter(col("c") > 1)
      .orderBy(desc("tmed"), asc("user_id"), asc("day"))
      .limit(10)

  val cbMedianGrpSql: String =
    """SELECT user_id, CAST(ts AS DATE) AS day, count(*) AS c,
      |  round(min(value), 4) AS tmin,
      |  round(CAST(median(value) AS DOUBLE), 4) AS tmed,
      |  round(max(value), 4) AS tmax
      |FROM events WHERE user_id % 2 = 0 AND value IS NOT NULL
      |GROUP BY user_id, day HAVING c > 1
      |ORDER BY tmed DESC, user_id, day LIMIT 10""".stripMargin

  // ------------------------------------------------------------- cb_retention
  /** Cohort retention — the third classic product-analytics shape next to
    * funnel (cb_funnel) and sessionization (e_session): users grouped by
    * their FIRST active week (cohort), counted per week-offset they return.
    * Two keyed shuffles total: the (user, week) distinct and the
    * (cohort, offset) rollup — the per-user cohort join is an equi-join on
    * user_id against a frame of one row per user. The final countDistinct
    * is exact; a deployment with billion-user cohorts swaps it for the
    * bitmap (cb_bitmap_uniq) or salted (cb_salted_uniq) form, same plan
    * otherwise. Week = Monday-truncated date in both engines, so offsets
    * are exact integers. */
  def cbRetention(spark: SparkSession, dir: String): DataFrame = {
    val d = ev(spark, dir)
      .select(col("user_id"),
        to_date(date_trunc("week", col("ts"))).as("week"))
      .distinct()
    val cohort = d.groupBy("user_id").agg(min("week").as("cohort"))
    d.join(cohort, "user_id")
      .withColumn("week_offset", expr("datediff(week, cohort) div 7").cast("int"))
      .groupBy("cohort", "week_offset")
      .agg(countDistinct("user_id").as("n_active"))
      .orderBy("cohort", "week_offset")
  }

  val cbRetentionSql: String =
    """WITH d AS (SELECT DISTINCT user_id,
      |             CAST(date_trunc('week', ts) AS DATE) AS week FROM events),
      |c AS (SELECT user_id, min(week) AS cohort FROM d GROUP BY user_id)
      |SELECT c.cohort, CAST((d.week - c.cohort) // 7 AS INTEGER) AS week_offset,
      |       count(DISTINCT d.user_id) AS n_active
      |FROM d JOIN c ON d.user_id = c.user_id
      |GROUP BY c.cohort, week_offset
      |ORDER BY c.cohort, week_offset""".stripMargin

  // ------------------------------------------------------------ cb_bitmap_uniq
  /** Exact distinct via Spark 4 bitmap aggregates — the RE-AGGREGATABLE
    * exact unique count. COUNT(DISTINCT) must ship each key's whole
    * distinct set to one reducer and cannot be rolled up from partials;
    * a bitmap partial per (key, 2^15-bucket) is a fixed ≤4 KB blob that
    * merges with OR. Column 1 counts directly off per-bucket bitmaps;
    * column 2 proves the production property: per-DAY bitmaps OR'd
    * (`bitmap_or_agg`) across days and THEN counted give the identical
    * answer — i.e. a 100 TB deployment can store daily bitmap sketches
    * and answer any date-range unique count exactly without touching raw
    * events again (the exact-math sibling of a_hll_rollup's approximate
    * rollup). The oracle pins both columns to plain COUNT(DISTINCT). */
  def cbBitmapUniq(spark: SparkSession, dir: String): DataFrame = {
    val direct = ev(spark, dir)
      .groupBy(col("event_type"), expr("bitmap_bucket_number(user_id)").as("bkt"))
      .agg(expr("bitmap_construct_agg(bitmap_bit_position(user_id))").as("bm"))
      .groupBy("event_type")
      .agg(sum(expr("bitmap_count(bm)")).as("uniq"))
    val rolled = ev(spark, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"),
        expr("bitmap_bucket_number(user_id)").as("bkt"))
      .agg(expr("bitmap_construct_agg(bitmap_bit_position(user_id))").as("bm"))
      .groupBy("event_type", "bkt")
      .agg(expr("bitmap_count(bitmap_or_agg(bm))").as("c"))
      .groupBy("event_type")
      .agg(sum("c").as("uniq_daily_rollup"))
    direct.join(rolled, "event_type").orderBy("event_type")
  }

  val cbBitmapUniqSql: String =
    """SELECT event_type,
      |  count(DISTINCT user_id) AS uniq,
      |  count(DISTINCT user_id) AS uniq_daily_rollup
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- cb_funnel
  /** Sequential funnel — the product-analytics shape sessionization and
    * tumbling windows don't cover: per user, the FIRST view, the first
    * click within a day AFTER that view, the first purchase within a
    * day after that click; stepwise user counts + conversion rates. Each
    * step is one partial-aggregated min per user plus one equi-join of the
    * event slice against the prior step's (user, t) frame — at 100 TB
    * that's two keyed shuffles per step, never a window over the whole
    * event history, and each step's frame shrinks monotonically (funnels
    * only narrow). Division guards: nullif'd denominators so an empty step
    * yields NULL in BOTH engines instead of Spark-NULL-vs-DuckDB-NaN.
    * Conversion rates divide small exact ints — FP-deterministic. */
  def cbFunnel(spark: SparkSession, dir: String): DataFrame = {
    val e = ev(spark, dir).select("user_id", "event_type", "ts")
    val step = expr("INTERVAL 1 DAY")
    val v = e.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("t1"))
    val c = e.filter(col("event_type") === "click").join(v, "user_id")
      .filter(col("ts") > col("t1") && col("ts") <= col("t1") + step)
      .groupBy("user_id").agg(min("ts").as("t2"))
    val p = e.filter(col("event_type") === "purchase").join(c, "user_id")
      .filter(col("ts") > col("t2") && col("ts") <= col("t2") + step)
      .groupBy("user_id").agg(min("ts").as("t3"))
    v.agg(count(lit(1)).as("n_view"))
      .crossJoin(c.agg(count(lit(1)).as("n_click")))
      .crossJoin(p.agg(count(lit(1)).as("n_purchase")))
      .withColumn("view_to_click",
        round(col("n_click") / nullif(col("n_view"), lit(0)), 4))
      .withColumn("click_to_purchase",
        round(col("n_purchase") / nullif(col("n_click"), lit(0)), 4))
  }

  val cbFunnelSql: String =
    """WITH v AS (SELECT user_id, min(ts) AS t1 FROM events
      |           WHERE event_type = 'view' GROUP BY user_id),
      |c AS (SELECT e.user_id, min(e.ts) AS t2
      |      FROM events e JOIN v ON e.user_id = v.user_id
      |      WHERE e.event_type = 'click'
      |        AND e.ts > v.t1 AND e.ts <= v.t1 + INTERVAL 1 DAY
      |      GROUP BY e.user_id),
      |p AS (SELECT e.user_id, min(e.ts) AS t3
      |      FROM events e JOIN c ON e.user_id = c.user_id
      |      WHERE e.event_type = 'purchase'
      |        AND e.ts > c.t2 AND e.ts <= c.t2 + INTERVAL 1 DAY
      |      GROUP BY e.user_id)
      |SELECT (SELECT count(*) FROM v) AS n_view,
      |       (SELECT count(*) FROM c) AS n_click,
      |       (SELECT count(*) FROM p) AS n_purchase,
      |       round((SELECT count(*) FROM c) /
      |             nullif((SELECT count(*) FROM v), 0), 4) AS view_to_click,
      |       round((SELECT count(*) FROM p) /
      |             nullif((SELECT count(*) FROM c), 0), 4) AS click_to_purchase""".stripMargin

  // ------------------------------------------------- main-43 sweep (round 10)
  // The remaining ClickBench MAIN-suite shapes with no named cb_* twin
  // (reference benchmarks/queries/clickbench/queries/q0–q42): host
  // extraction + group (q28), LIKE-heavy counts (q20–q22), wide-scan
  // top-N sort (q23/q26), repeated-aggregate chains (q29), derived group
  // keys (q35). One shared ANSI text per query, verbatim on both engines.

  /** Run the same SQL text on Spark (as the query) and DuckDB (as oracle). */
  private def viaSql(q: String): (SparkSession, String) => DataFrame =
    (spark, dir) => { Tables.registerViews(spark, dir); spark.sql(q) }

  /** ClickBench main q28: extract the referer HOST with one regex, group on
    * it, AVG(length)/COUNT/MIN, HAVING, top-N by the statistic. The referer
    * is synthesized deterministically from doc_id (the d_url convention —
    * no URL column in the testdata); `regexp_extract` group-1 is the same
    * call in Spark and DuckDB, and the pattern uses `[.]` instead of an
    * escaped dot so the text survives both parsers' string-literal rules.
    * One narrow projection + one partial-aggregated groupBy on the host —
    * scan-dominated at any scale; ties on the rounded avg are broken by
    * host (§4 determinism). */
  val cbUrlHostSql: String =
    """WITH h AS (SELECT doc_id,
      |   'https://' || CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END
      |   || 'site' || CAST(doc_id % 37 AS STRING) || '.example.com/p/'
      |   || CAST(doc_id AS STRING) AS referer
      |   FROM documents)
      |SELECT regexp_extract(referer, '^https?://(?:www[.])?([^/]+)/.*$', 1) AS k,
      |       round(avg(length(referer)), 4) AS l, count(*) AS c,
      |       min(referer) AS min_ref
      |FROM h GROUP BY k HAVING count(*) > 10 ORDER BY l DESC, k LIMIT 25""".stripMargin

  /** ClickBench main q20 (`WHERE "URL" LIKE '%google%'` → COUNT): the
    * LIKE-heavy full-scan count. `%x%` contains-LIKE compiles to a codegen
    * substring probe on both engines; the scan reads ONE column. */
  val cbLikeCountSql: String =
    "SELECT count(*) AS c FROM documents WHERE text LIKE '%spark%'"

  /** ClickBench main q21/q22 family: contains-LIKE filter + group with
    * MIN / COUNT / COUNT(DISTINCT) mixed in one pass, top-N by count. */
  val cbLikeTopnSql: String =
    """SELECT lang, min(source) AS min_src, count(*) AS c,
      |       count(DISTINCT source) AS u
      |FROM documents WHERE text LIKE '%join%' AND lang <> ''
      |GROUP BY lang ORDER BY c DESC, lang LIMIT 10""".stripMargin

  /** ClickBench main q23 (`SELECT * … LIKE … ORDER BY EventTime LIMIT 10`):
    * the wide-scan top-N — every column materialized but only through a
    * TakeOrderedAndProject (bounded heap per partition + driver merge of
    * 10-row heads, NO global sort; plan-audited). event_id tiebreak makes
    * the head deterministic across engines. */
  val cbWideSortSql: String =
    "SELECT * FROM events WHERE props LIKE '%9%' ORDER BY ts, event_id LIMIT 10"

  /** ClickBench main q29 (SUM("ResolutionWidth"), SUM(…+1), … ten sums):
    * the repeated-aggregate chain — one scan, ten accumulators, exercising
    * common-subexpression handling in the aggregate codegen. Integer-floored
    * measure keeps the sums order-exact across engines (§4); BIGINT casts
    * pin the output type across DuckDB's HUGEINT sum. */
  val cbSumChainSql: String = {
    val terms = (0 to 9).map(k =>
      s"CAST(sum(CAST(floor(value) AS BIGINT) + $k) AS BIGINT) AS s$k")
    s"SELECT ${terms.mkString(", ")} FROM events"
  }

  /** ClickBench main q35 (GROUP BY "ClientIP", "ClientIP" - 1, …): derived
    * expressions as extra group keys — functionally dependent on user_id,
    * so the optimizer must not let them widen the shuffle key's
    * cardinality; still one partial-aggregated exchange. */
  val cbDerivedGrpSql: String =
    """SELECT user_id, user_id - 1 AS u1, user_id - 2 AS u2,
      |       user_id - 3 AS u3, count(*) AS c
      |FROM events GROUP BY user_id, user_id - 1, user_id - 2, user_id - 3
      |ORDER BY c DESC, user_id LIMIT 10""".stripMargin

  /** ClickBench main q19 (`WHERE "UserID" = 435090932899640449`): the point
    * lookup — one equality on a high-cardinality key, no aggregate. The
    * predicate must reach the parquet scan (PushedFilters) so row-group
    * statistics prune; at 100 TB this is the difference between touching
    * one row group and scanning the fleet. Plan-audited. */
  val cbPointLookupSql: String =
    """SELECT event_id, ts, user_id, round(value, 2) AS value
      |FROM events WHERE user_id = 7 ORDER BY event_id""".stripMargin

  /** ClickBench main q24–q26 family (`SELECT "SearchPhrase" … ORDER BY
    * "EventTime" LIMIT 10`): the NARROW top-N — a one/two-column
    * projection sorted by a different column with a small LIMIT. Unlike
    * cb_wide_sort (q23's SELECT *), the scan must prune to the three
    * referenced columns AND still run as TakeOrderedAndProject. */
  val cbNarrowSortSql: String =
    """SELECT event_type, ts FROM events WHERE event_type <> ''
      |ORDER BY ts, event_id LIMIT 10""".stripMargin

  /** ClickBench main q38/q40/q41 family (GROUP BY … ORDER BY c DESC LIMIT
    * 10 OFFSET 1000): DEEP PAGING over an aggregate — the retention-report
    * shape. The total order (count desc + full key tiebreak) makes the
    * page deterministic; Spark executes LIMIT+OFFSET as a single
    * bounded-heap top-(offset+limit) with the head dropped, never a global
    * sort. Offset 40 (not the reference's 1000) so the page is non-empty
    * at the sf0.001 smoke gate too (60 groups there); the plan shape is
    * offset-magnitude-independent. */
  val cbPagingSql: String =
    """SELECT user_id, event_type, count(*) AS pv
      |FROM events WHERE event_type <> 'error'
      |GROUP BY user_id, event_type
      |ORDER BY pv DESC, user_id, event_type LIMIT 10 OFFSET 40""".stripMargin

  /** ClickBench main q42 (DATE_TRUNC('minute', …) + COUNT + paging): the
    * per-minute time series — date-range filter, minute truncation as the
    * group key, ordered page. date_trunc('minute', ts) is the same call
    * with the same timestamp semantics on both engines. */
  val cbMinuteSeriesSql: String =
    """SELECT date_trunc('minute', ts) AS m, count(*) AS pv
      |FROM events
      |WHERE event_type = 'click'
      |  AND ts >= TIMESTAMP '2024-01-01 00:00:00'
      |  AND ts < TIMESTAMP '2024-01-08 00:00:00'
      |GROUP BY date_trunc('minute', ts)
      |ORDER BY m LIMIT 10 OFFSET 20""".stripMargin

  /** ClickBench main q39 (CASE WHEN … THEN "Referer" ELSE '' END AS Src
    * grouped with raw columns): the CONDITIONAL group key — a CASE
    * expression as a grouping column alongside plain ones. The optimizer
    * must evaluate the CASE once pre-shuffle (partial aggregation on the
    * derived key), not carry the wide source column through the
    * exchange. */
  val cbSrcDstSql: String =
    """SELECT event_type,
      |       CASE WHEN user_id % 10 = 0 THEN props ELSE '' END AS src,
      |       count(*) AS pv
      |FROM events WHERE value > 1.0
      |GROUP BY event_type, CASE WHEN user_id % 10 = 0 THEN props ELSE '' END
      |ORDER BY pv DESC, event_type, src LIMIT 10""".stripMargin

  /** ClickBench main q0–q3 + q6 (trivial whole-table aggregates): COUNT(*),
    * a filtered count, SUM/AVG of int-ish measures, AVG of the id, and
    * MIN/MAX of the event time — ONE scan, one row out. These queries
    * exist to price the scan floor (DataFusion runs each as a bare
    * aggregate over the parquet metadata/column); fusing them into one
    * statement is the honest Spark shape — a single partial-aggregated
    * pass, no exchange wider than the 7-value aggregate state. COUNT(*)
    * itself additionally answers from parquet row-group metadata when
    * asked alone (the q0 path). */
  val cbScanAggsSql: String =
    """SELECT count(*) AS n,
      |       count(CASE WHEN event_type <> 'view' THEN 1 END) AS n_nonview,
      |       CAST(sum(user_id % 100) AS BIGINT) AS sum_adv,
      |       round(avg(value), 4) AS avg_v,
      |       round(avg(user_id), 4) AS avg_uid,
      |       min(ts) AS min_ts, max(ts) AS max_ts
      |FROM events""".stripMargin

  /** ClickBench main q27 (AVG(length(URL)) per CounterID, HAVING a count
    * floor, top-25 by the statistic): string-length aggregate over a
    * high-cardinality key. The length runs pre-shuffle in the partial
    * aggregate (the scan carries (key, len) pairs, not the strings); ties
    * on the rounded average break on the key (SURVEY §4). */
  val cbUrlLenGrpSql: String =
    """SELECT user_id AS k, round(avg(length(props)), 4) AS l, count(*) AS c
      |FROM events WHERE props <> ''
      |GROUP BY user_id HAVING count(*) > 50
      |ORDER BY l DESC, k LIMIT 25""".stripMargin

  /** ClickBench main q30–q32 family (+ q9's distinct-count variant): the
    * WIDE multi-aggregate top-N — COUNT / SUM(flag) / AVG / COUNT(DISTINCT)
    * per 2-key group, ORDER BY count DESC LIMIT 10. One partial-aggregated
    * exchange on the key pair; the distinct column rides the same Expand
    * pass Spark plans for mixed distinct/non-distinct aggregates (the
    * cb_multi_uniq machinery), so no second scan. Full-key tiebreak keeps
    * the cut deterministic across engines. */
  val cbWideAggTopnSql: String =
    """SELECT event_type AS k1, user_id AS k2, count(*) AS c,
      |       CAST(sum(event_id % 2) AS BIGINT) AS sum_flag,
      |       round(avg(value), 4) AS avg_v,
      |       count(DISTINCT event_id % 97) AS u
      |FROM events WHERE props <> ''
      |GROUP BY event_type, user_id
      |ORDER BY c DESC, k1, k2 LIMIT 10""".stripMargin

  /** ClickBench main q36/q37 family (pageview top-N under the full
    * predicate stack: counter equality, date range, two zero-flags,
    * non-empty string): every predicate is scan-pushable — the equality
    * and range prune row groups, the residuals run in the codegen'd scan
    * filter — then one partial-aggregated group on the page key and a
    * TakeOrdered cut. q36 groups the URL, q37 the Title: same plan on a
    * different key, one family entry (the r10 cb_narrow_sort convention). */
  val cbDatePageFilterSql: String =
    """SELECT props AS page, count(*) AS pv
      |FROM events
      |WHERE event_type = 'view'
      |  AND ts >= TIMESTAMP '2024-01-05 00:00:00'
      |  AND ts < TIMESTAMP '2024-02-01 00:00:00'
      |  AND event_id % 2 = 0 AND user_id % 7 <> 0 AND props <> ''
      |GROUP BY props ORDER BY pv DESC, page LIMIT 10""".stripMargin

  // -------------------------------------------------------- cb_h2o_gb_sums
  /** h2o-ai groupby q1–q5 + q10 (reference benchmarks/queries/h2o/
    * groupby.sql:1-9,19): the sum/mean ladder — low-card key (q1), 2-key
    * (q2), high-card key (q3), mean trio (q4), sum trio (q5), and the
    * all-six-keys sum+count (q10) — as ONE `Dataset.groupingSets`
    * aggregate: every rung is a grouping set over the same scan, so Spark
    * runs the whole ladder in a single partial-aggregated shuffle (Expand
    * replicates each input row to its sets map-side) instead of six scans
    * of a 100 TB fact table. Keys map onto events per the cb_h2o_join
    * column discipline (id1/id2 low-card strings, id3 high-card string,
    * id4/id5 small ints, id6 high-card int; v1/v2 integer measures keep
    * sums order-exact, v3 is the double). Together with cb_h2o_gb (q6/q7),
    * cb_h2o_topn (q8) and cb_h2o_r2 (q9) this closes the reference's h2o
    * groupby suite end-to-end (VERDICT r10 #6). Grouped-away keys are
    * coalesced to sentinels and a grouping-bit id disambiguates rungs —
    * no NULL-ordering divergence between engines. Hash-checked. */
  def cbH2oGbSums(spark: SparkSession, dir: String): DataFrame = {
    val x = ev(spark, dir).select(
      col("event_type").as("id1"),
      concat(col("event_type"), lit("_"),
        (col("user_id") % 10).cast("string")).as("id2"),
      concat(lit("u"), col("user_id").cast("string")).as("id3"),
      (col("user_id") % 10).cast("int").as("id4"),
      month(col("ts")).as("id5"),
      col("user_id").as("id6"),
      floor(col("value")).cast("long").as("v1"),
      (col("event_id") % 5).as("v2"),
      // v3 carried as exact integer CENTS (value has 2 decimals): double
      // avg sums associate differently across engines and a mean of
      // 2-decimal values can land exactly on the round-half grid (this
      // entry's avg_v3 failed the gate by 1e-4 on first contact) — exact
      // integer sums make the pre-round double bit-identical both sides
      round(col("value") * 100).cast("long").as("v3c"))
    val gid = (grouping(col("id1")) * 32 + grouping(col("id2")) * 16 +
      grouping(col("id3")) * 8 + grouping(col("id4")) * 4 +
      grouping(col("id5")) * 2 + grouping(col("id6"))).cast("int")
    x.groupingSets(
        Seq(Seq(col("id1")), Seq(col("id1"), col("id2")), Seq(col("id3")),
          Seq(col("id4")), Seq(col("id6")),
          Seq(col("id1"), col("id2"), col("id3"), col("id4"), col("id5"),
            col("id6"))),
        col("id1"), col("id2"), col("id3"), col("id4"), col("id5"),
        col("id6"))
      .agg(gid.as("gid"),
        sum("v1").as("sum_v1"), sum("v2").as("sum_v2"),
        round(sum("v3c") / lit(100.0), 4).as("sum_v3"),
        // integer-sum averages hit TRUE decimal ties (sum·10⁴/cnt can be
        // exactly x.5 — this entry's avg_v3 did, twice, at the gate sf):
        // Spark's round() rounds the shortest-decimal string while DuckDB
        // rounds the binary double, so ties split. floor(x + 0.5) on the
        // bit-identical quotient is the same half-up both sides (values
        // are non-negative).
        (floor(sum("v1") * lit(10000.0) / count(lit(1)) + lit(0.5)) /
          lit(10000.0)).as("avg_v1"),
        (floor(sum("v2") * lit(10000.0) / count(lit(1)) + lit(0.5)) /
          lit(10000.0)).as("avg_v2"),
        (floor(sum("v3c") * lit(100.0) / count(lit(1)) + lit(0.5)) /
          lit(10000.0)).as("avg_v3"),
        count(lit(1)).as("cnt"))
      .select(coalesce(col("id1"), lit("ALL")).as("id1"),
        coalesce(col("id2"), lit("ALL")).as("id2"),
        coalesce(col("id3"), lit("ALL")).as("id3"),
        coalesce(col("id4"), lit(-1)).as("id4"),
        coalesce(col("id5"), lit(-1)).as("id5"),
        coalesce(col("id6"), lit(-1L)).as("id6"),
        col("gid"), col("sum_v1"), col("sum_v2"), col("sum_v3"),
        col("avg_v1"), col("avg_v2"), col("avg_v3"), col("cnt"))
      .orderBy("gid", "id1", "id2", "id3", "id4", "id5", "id6")
  }

  val cbH2oGbSumsSql: String =
    """WITH x AS (
      |  SELECT event_type AS id1,
      |         concat(event_type, '_', CAST(user_id % 10 AS STRING)) AS id2,
      |         concat('u', CAST(user_id AS STRING)) AS id3,
      |         CAST(user_id % 10 AS INTEGER) AS id4,
      |         CAST(month(ts) AS INTEGER) AS id5,
      |         user_id AS id6,
      |         CAST(floor(value) AS BIGINT) AS v1,
      |         event_id % 5 AS v2,
      |         CAST(round(value * 100) AS BIGINT) AS v3c
      |  FROM events)
      |SELECT coalesce(id1, 'ALL') AS id1, coalesce(id2, 'ALL') AS id2,
      |       coalesce(id3, 'ALL') AS id3, coalesce(id4, -1) AS id4,
      |       coalesce(id5, -1) AS id5, coalesce(id6, -1) AS id6,
      |       CAST(grouping(id1)*32 + grouping(id2)*16 + grouping(id3)*8
      |          + grouping(id4)*4 + grouping(id5)*2 + grouping(id6)
      |         AS INTEGER) AS gid,
      |       CAST(sum(v1) AS BIGINT) AS sum_v1,
      |       CAST(sum(v2) AS BIGINT) AS sum_v2,
      |       round(sum(v3c) / 100.0, 4) AS sum_v3,
      |       floor(sum(v1) * 10000.0 / count(*) + 0.5) / 10000.0 AS avg_v1,
      |       floor(sum(v2) * 10000.0 / count(*) + 0.5) / 10000.0 AS avg_v2,
      |       floor(sum(v3c) * 100.0 / count(*) + 0.5) / 10000.0 AS avg_v3,
      |       count(*) AS cnt
      |FROM x
      |GROUP BY GROUPING SETS ((id1), (id1, id2), (id3), (id4), (id6),
      |                        (id1, id2, id3, id4, id5, id6))
      |ORDER BY gid, id1, id2, id3, id4, id5, id6""".stripMargin

  // ------------------------------------------------------------ ea_distinct
  /** The reference's external-aggregation benchmark
    * (benchmarks/src/bin/external_aggr.rs:97-114): its two queries count
    * DISTINCT l_orderkey (output ~25% of lineitem) and DISTINCT
    * (l_orderkey, l_suppkey) (~99%) under progressively tighter memory
    * limits (64/32/16 MB and 512→32 MB), proving the aggregate spills
    * instead of OOMing. Both counts ride here in ONE plan: Spark expands
    * the two distinct groups (Expand → partial-distinct aggregate →
    * final), so each distinct set is partial-aggregated map-side before
    * its shuffle. The memory-limit axis is Spark-native rather than a
    * query knob: HashAggregateExec falls back to a SORT-BASED aggregation
    * when its UnsafeFixedWidthAggregationMap can't grow
    * (`checkFallbackForBytesToBytesMap`), spilling through the shuffle
    * memory manager — ClickBenchSpec forces that fallback path with
    * Spark's own `spark.sql.TungstenAggregate.testFallbackStartsAt` hook
    * and proves counts identical plus the `numTasksFallBacked` metric
    * fired, so the 100 TB claim (distinct-aggregation survives memory
    * pressure by spilling, bit-for-bit correct) is exercised, not
    * asserted. */
  def eaDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables.t(spark, dir, "lineitem").agg(
      countDistinct(col("l_orderkey")).as("uniq_orders"),
      countDistinct(col("l_orderkey"), col("l_suppkey")).as("uniq_order_supp"))

  val eaDistinctSql: String =
    """SELECT
      |  (SELECT count(*) FROM (SELECT DISTINCT l_orderkey FROM lineitem))
      |    AS uniq_orders,
      |  (SELECT count(*) FROM
      |    (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem))
      |    AS uniq_order_supp""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ea_distinct" -> (eaDistinct _),
    "cb_scan_aggs" -> viaSql(cbScanAggsSql),
    "cb_url_len_grp" -> viaSql(cbUrlLenGrpSql),
    "cb_wide_agg_topn" -> viaSql(cbWideAggTopnSql),
    "cb_date_page_filter" -> viaSql(cbDatePageFilterSql),
    "cb_h2o_gb_sums" -> (cbH2oGbSums _),
    "cb_url_host" -> viaSql(cbUrlHostSql),
    "cb_like_count" -> viaSql(cbLikeCountSql),
    "cb_like_topn" -> viaSql(cbLikeTopnSql),
    "cb_wide_sort" -> viaSql(cbWideSortSql),
    "cb_sum_chain" -> viaSql(cbSumChainSql),
    "cb_derived_grp" -> viaSql(cbDerivedGrpSql),
    "cb_point_lookup" -> viaSql(cbPointLookupSql),
    "cb_narrow_sort" -> viaSql(cbNarrowSortSql),
    "cb_paging" -> viaSql(cbPagingSql),
    "cb_minute_series" -> viaSql(cbMinuteSeriesSql),
    "cb_src_dst" -> viaSql(cbSrcDstSql),
    "cb_funnel" -> (cbFunnel _), "cb_bitmap_uniq" -> (cbBitmapUniq _),
    "cb_retention" -> (cbRetention _),
    "cb_median_grp" -> (cbMedianGrp _),
    "cb_stddev_topn" -> (cbStddevTopn _),
    "cb_approx_pctl_grp" -> (cbApproxPctlGrp _),
    "cb_multi_uniq_grp" -> (cbMultiUniqGrp _),
    "cb_filter_stack" -> (cbFilterStack _),
    "cb_h2o_topn" -> (cbH2oTopn _), "cb_h2o_r2" -> (cbH2oR2 _),
    "cb_h2o_gb" -> (cbH2oGb _), "cb_salted_uniq" -> (cbSaltedUniq _),
    "cb_h2o_join" -> (cbH2oJoin _), "cb_h2o_win" -> (cbH2oWin _),
    "cb_multi_uniq" -> (cbMultiUniq _),
    "cb_top_users" -> (cbTopUsers _), "cb_uniq_users" -> (cbUniqUsers _),
    "cb_quantiles" -> (cbQuantiles _), "cb_histogram" -> (cbHistogram _),
    "cb_top_by_uniq" -> (cbTopByUniq _), "job_like" -> (jobLike _))

  val oracle: Map[String, String] = Map(
    "ea_distinct" -> eaDistinctSql,
    "cb_scan_aggs" -> cbScanAggsSql,
    "cb_url_len_grp" -> cbUrlLenGrpSql,
    "cb_wide_agg_topn" -> cbWideAggTopnSql,
    "cb_date_page_filter" -> cbDatePageFilterSql,
    "cb_h2o_gb_sums" -> cbH2oGbSumsSql,
    "cb_url_host" -> cbUrlHostSql, "cb_like_count" -> cbLikeCountSql,
    "cb_like_topn" -> cbLikeTopnSql, "cb_wide_sort" -> cbWideSortSql,
    "cb_sum_chain" -> cbSumChainSql, "cb_derived_grp" -> cbDerivedGrpSql,
    "cb_point_lookup" -> cbPointLookupSql,
    "cb_narrow_sort" -> cbNarrowSortSql, "cb_paging" -> cbPagingSql,
    "cb_minute_series" -> cbMinuteSeriesSql, "cb_src_dst" -> cbSrcDstSql,
    "cb_median_grp" -> cbMedianGrpSql, "cb_funnel" -> cbFunnelSql,
    "cb_bitmap_uniq" -> cbBitmapUniqSql, "cb_retention" -> cbRetentionSql,
    "cb_stddev_topn" -> cbStddevTopnSql,
    "cb_approx_pctl_grp" -> cbApproxPctlGrpSql,
    "cb_multi_uniq_grp" -> cbMultiUniqGrpSql,
    "cb_filter_stack" -> cbFilterStackSql,
    "cb_h2o_topn" -> cbH2oTopnSql, "cb_h2o_r2" -> cbH2oR2Sql,
    "cb_h2o_gb" -> cbH2oGbSql, "cb_salted_uniq" -> cbSaltedUniqSql,
    "cb_h2o_join" -> cbH2oJoinSql, "cb_h2o_win" -> cbH2oWinSql,
    "cb_multi_uniq" -> cbMultiUniqSql,
    "cb_top_users" -> cbTopUsersSql, "cb_uniq_users" -> cbUniqUsersSql,
    "cb_quantiles" -> cbQuantilesSql, "cb_histogram" -> cbHistogramSql,
    "cb_top_by_uniq" -> cbTopByUniqSql, "job_like" -> jobLikeSql)
}
