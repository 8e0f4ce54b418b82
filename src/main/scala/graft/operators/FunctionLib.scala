package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Scalar + aggregate function-library coverage (SURVEY.md §2.3), one query
  * per family, each function exercised over real table columns. Reference
  * surface: DataFusion's function crates
  * (/root/reference/datafusion/functions/src/{string,unicode,math,datetime,
  * regex,crypto,encoding,core}/ and functions-aggregate/src/).
  *
  * Every query is a narrow projection over one scan — no shuffle except the
  * aggregate families (single hash-aggregate on a low-cardinality key).
  * All expressions are Catalyst builtins → fully codegen'd; the DuckDB
  * oracle uses dialect equivalents (emulations noted inline) with identical
  * output aliases and rounding (SURVEY §4).
  *
  * Spark 4.1 gaps found (gcd, lcm, date_bin, numeric trunc, array_resize)
  * are implemented as native Catalyst expressions in graft.functions
  * (SURVEY §2.10) and covered by f_native — see NativeFunctions.scala.
  */
object FunctionLib {

  private def t(n: String)(spark: SparkSession, dir: String) = Tables.t(spark, dir, n)

  // ---------------------------------------------------------------- f_string
  /** String family over nation names. */
  def fString(spark: SparkSession, dir: String): DataFrame =
    t("nation")(spark, dir).select(
        col("n_name").as("name"),
        concat_ws("-", col("n_name"), col("n_nationkey")).as("cw"),
        split_part(concat_ws("-", col("n_name"), col("n_nationkey")), lit("-"), lit(1)).as("sp"),
        repeat(substring(col("n_name"), 1, 2), 2).as("rep"),
        regexp_replace(col("n_name"), "A", "@").as("repl"),
        trim(concat(lit("  "), col("n_name"), lit("  "))).as("tr"),
        ascii(col("n_name")).as("asc_code"),
        expr("chr(ascii(n_name))").as("first_chr"),
        lower(hex(col("n_nationkey"))).as("hx"),
        bit_length(col("n_name")).as("bl"),
        octet_length(col("n_name")).as("ol"),
        col("n_name").contains("AN").as("ct"),
        col("n_name").startsWith("A").as("sw"),
        col("n_name").endsWith("A").as("ew"),
        levenshtein(col("n_name"), lit("ALGERIA")).as("lev"),
        overlay(col("n_name"), lit("XX"), lit(2), lit(2)).as("ov"))
      .orderBy("name")

  /** DuckDB: overlay emulated via substr concat. */
  val fStringSql: String =
    """SELECT n_name AS name,
      |  concat_ws('-', n_name, n_nationkey) AS cw,
      |  split_part(concat_ws('-', n_name, n_nationkey), '-', 1) AS sp,
      |  repeat(substr(n_name, 1, 2), 2) AS rep,
      |  regexp_replace(n_name, 'A', '@', 'g') AS repl,
      |  trim('  ' || n_name || '  ') AS tr,
      |  ascii(n_name) AS asc_code,
      |  chr(ascii(n_name)) AS first_chr,
      |  lower(to_hex(n_nationkey)) AS hx,
      |  bit_length(n_name) AS bl,
      |  octet_length(CAST(n_name AS BLOB)) AS ol,
      |  contains(n_name, 'AN') AS ct,
      |  starts_with(n_name, 'A') AS sw,
      |  ends_with(n_name, 'A') AS ew,
      |  levenshtein(n_name, 'ALGERIA') AS lev,
      |  substr(n_name, 1, 1) || 'XX' || substr(n_name, 4) AS ov
      |FROM nation ORDER BY name""".stripMargin

  // --------------------------------------------------------------- f_unicode
  /** Unicode/positional family over customer names (single-token strings so
    * the DuckDB initcap emulation is exact). */
  def fUnicode(spark: SparkSession, dir: String): DataFrame = {
    val segs = "AUTOMOBILE,BUILDING,FURNITURE,HOUSEHOLD,MACHINERY"
    t("customer")(spark, dir).select(
        col("c_custkey"),
        initcap(lower(col("c_name"))).as("ic"),
        substring(col("c_name"), 1, 4).as("lf"),
        col("c_name").substr(length(col("c_name")) - 3, lit(4)).as("rt"),
        lpad(col("c_name"), 22, "*").as("lp"),
        rpad(col("c_name"), 22, "*").as("rp"),
        reverse(col("c_name")).as("rev"),
        locate("#", col("c_name")).as("pos"),
        substring(col("c_name"), 10, 3).as("sub"),
        substring_index(col("c_name"), "0", 2).as("si"),
        find_in_set(col("c_mktsegment"), lit(segs)).as("fis"),
        char_length(col("c_name")).as("cl"),
        translate(col("c_name"), "Cust", "Kost").as("tl"))
      .orderBy("c_custkey")
  }

  /** DuckDB: initcap/substring_index/find_in_set emulated; left/right via
    * substr; strpos for locate. */
  val fUnicodeSql: String =
    """SELECT c_custkey,
      |  upper(substr(lower(c_name), 1, 1)) || substr(lower(c_name), 2) AS ic,
      |  substr(c_name, 1, 4) AS lf,
      |  substr(c_name, length(c_name) - 3, 4) AS rt,
      |  lpad(c_name, 22, '*') AS lp,
      |  rpad(c_name, 22, '*') AS rp,
      |  reverse(c_name) AS rev,
      |  strpos(c_name, '#') AS pos,
      |  substr(c_name, 10, 3) AS sub,
      |  split_part(c_name, '0', 1) || '0' || split_part(c_name, '0', 2) AS si,
      |  coalesce(list_position(string_split('AUTOMOBILE,BUILDING,FURNITURE,HOUSEHOLD,MACHINERY', ','), c_mktsegment), 0) AS fis,
      |  length(c_name) AS cl,
      |  translate(c_name, 'Cust', 'Kost') AS tl
      |FROM customer ORDER BY c_custkey""".stripMargin

  // ------------------------------------------------------------------ f_math
  /** Math family over part (p_size int 1..50, positive retail prices). */
  def fMath(spark: SparkSession, dir: String): DataFrame =
    t("part")(spark, dir).select(
        col("p_partkey"),
        round(col("p_retailprice"), 1).as("rnd"),
        floor(col("p_retailprice")).cast("double").as("trunc_pos"),
        round(pow(col("p_size"), 2), 1).as("pw"),
        round(log(2.0, col("p_size")), 6).as("lg2"),
        round(log10(col("p_size")), 6).as("lg10"),
        round(log(col("p_size")), 6).as("lnx"),
        round(sqrt(col("p_size")), 6).as("sq"),
        abs(col("p_size") - 25).as("ab"),
        signum(col("p_size") - 25).cast("double").as("sg"),
        ceil(col("p_retailprice") / 100.0).as("cl"),
        factorial(pmod(col("p_size"), lit(10))).as("fact"),
        round(cot(col("p_size").cast("double")), 6).as("ctn"),
        round(degrees(radians(col("p_size"))), 6).as("dg"),
        round(lit(math.Pi), 6).as("pi_6"),
        isnan(col("p_retailprice")).as("nn"),
        round(nanvl(col("p_retailprice"), lit(0.0)), 2).as("nv"),
        // iszero (reference functions/src/math/iszero.rs) — Spark spells it
        // as an equality predicate
        (col("p_retailprice") === 0.0).as("zz"))
      .orderBy("p_partkey")

  /** DuckDB: signum→sign, nanvl→CASE isnan, log(x)→ln, two-arg log via ln
    * ratio (bit-identical: Spark computes log(b,x) the same way). */
  val fMathSql: String =
    """SELECT p_partkey,
      |  round(p_retailprice, 1) AS rnd,
      |  CAST(floor(p_retailprice) AS DOUBLE) AS trunc_pos,
      |  round(pow(p_size, 2), 1) AS pw,
      |  round(ln(p_size) / ln(2.0), 6) AS lg2,
      |  round(log10(p_size), 6) AS lg10,
      |  round(ln(p_size), 6) AS lnx,
      |  round(sqrt(p_size), 6) AS sq,
      |  abs(p_size - 25) AS ab,
      |  CAST(sign(p_size - 25) AS DOUBLE) AS sg,
      |  CAST(ceil(p_retailprice / 100.0) AS BIGINT) AS cl,
      |  CAST(factorial(p_size % 10) AS BIGINT) AS fact,
      |  round(cot(CAST(p_size AS DOUBLE)), 6) AS ctn,
      |  round(degrees(radians(p_size)), 6) AS dg,
      |  round(pi(), 6) AS pi_6,
      |  isnan(p_retailprice) AS nn,
      |  round(CASE WHEN isnan(p_retailprice) THEN 0.0 ELSE p_retailprice END, 2) AS nv,
      |  p_retailprice = 0.0 AS zz
      |FROM part ORDER BY p_partkey""".stripMargin

  // ------------------------------------------------------------------ f_trig
  /** Trigonometric + hyperbolic family (reference functions/src/math/mod.rs
    * exports sin/cos/tan, asin/acos/atan/atan2, sinh/cosh/tanh,
    * asinh/acosh/atanh, cbrt, exp). Inputs are scaled into each function's
    * domain from p_size (1..50): d = p_size/50 ∈ (0,1] for the circular +
    * hyperbolic args, p_size/51 for atanh's open |x|<1 interval, 1+d for
    * acosh's [1,∞). The scaling divisions are single IEEE ops, so both
    * engines see bit-identical arguments; outputs round to 6 dp (the f_math
    * discipline) to absorb last-ulp libm differences. */
  def fTrig(spark: SparkSession, dir: String): DataFrame = {
    val d  = col("p_size").cast("double") / 50.0
    val d2 = col("p_size").cast("double") / 51.0
    t("part")(spark, dir).select(
        col("p_partkey"),
        round(sin(d), 6).as("sn"),
        round(cos(d), 6).as("cs"),
        round(tan(d), 6).as("tn"),
        round(asin(d), 6).as("asn"),
        round(acos(d), 6).as("acs"),
        round(atan(d), 6).as("at"),
        round(atan2(col("p_size").cast("double"), lit(7.0)), 6).as("at2"),
        round(sinh(d), 6).as("snh"),
        round(cosh(d), 6).as("csh"),
        round(tanh(d), 6).as("tnh"),
        round(asinh(d), 6).as("asnh"),
        round(acosh(d + 1.0), 6).as("acsh"),
        round(atanh(d2), 6).as("atnh"),
        round(cbrt(col("p_size")), 6).as("cbr"),
        round(exp(d), 6).as("ex"))
      .orderBy("p_partkey")
  }

  /** DuckDB has no hyperbolic builtins — emulated via exp/ln identities
    * (sinh=(eˣ−e⁻ˣ)/2 etc.); both sides' values agree within an ulp, and
    * the shared 6-dp rounding makes the hash compare exact. */
  val fTrigSql: String =
    """SELECT p_partkey,
      |  round(sin(d), 6) AS sn,
      |  round(cos(d), 6) AS cs,
      |  round(tan(d), 6) AS tn,
      |  round(asin(d), 6) AS asn,
      |  round(acos(d), 6) AS acs,
      |  round(atan(d), 6) AS at,
      |  round(atan2(CAST(p_size AS DOUBLE), 7.0), 6) AS at2,
      |  round((exp(d) - exp(-d)) / 2, 6) AS snh,
      |  round((exp(d) + exp(-d)) / 2, 6) AS csh,
      |  round((exp(2*d) - 1) / (exp(2*d) + 1), 6) AS tnh,
      |  round(ln(d + sqrt(d*d + 1)), 6) AS asnh,
      |  round(ln((d+1) + sqrt((d+1)*(d+1) - 1)), 6) AS acsh,
      |  round(0.5 * ln((1 + d2) / (1 - d2)), 6) AS atnh,
      |  round(cbrt(p_size), 6) AS cbr,
      |  round(exp(d), 6) AS ex
      |FROM (SELECT p_partkey, p_size,
      |        CAST(p_size AS DOUBLE) / 50.0 AS d,
      |        CAST(p_size AS DOUBLE) / 51.0 AS d2 FROM part)
      |ORDER BY p_partkey""".stripMargin

  // ------------------------------------------------------------------ f_bitwise
  /** Scalar bitwise operators (reference: DataFusion's `&`/`|`/`#`/`<<`/`>>`
    * binary operators and bit_count, expr/src/operator.rs) — AND/OR/XOR/NOT,
    * shifts, popcount, single-bit probe. All codegen'd comparisons on
    * integer columns; getbit's oracle is the shift-and identity. */
  def fBitwise(spark: SparkSession, dir: String): DataFrame =
    t("part")(spark, dir).select(
        col("p_partkey"),
        col("p_partkey").bitwiseAND(col("p_size")).as("band"),
        col("p_partkey").bitwiseOR(col("p_size")).as("bor"),
        col("p_partkey").bitwiseXOR(col("p_size")).as("bxor"),
        bitwise_not(col("p_size")).as("bnot"),
        shiftleft(col("p_size"), 3).as("shl"),
        shiftright(col("p_partkey"), 2).as("shr"),
        bit_count(col("p_partkey")).as("bcnt"),
        expr("getbit(p_size, 2)").as("gb"))
      .orderBy("p_partkey")

  val fBitwiseSql: String =
    """SELECT p_partkey,
      |  p_partkey & p_size AS band,
      |  p_partkey | p_size AS bor,
      |  xor(p_partkey, p_size) AS bxor,
      |  ~p_size AS bnot,
      |  p_size << 3 AS shl,
      |  p_partkey >> 2 AS shr,
      |  bit_count(p_partkey) AS bcnt,
      |  (p_size >> 2) & 1 AS gb
      |FROM part ORDER BY p_partkey""".stripMargin

  // -------------------------------------------------------------- f_datetime
  /** Datetime family over orders. date_bin (10-day buckets anchored at
    * 1995-01-01) via epoch-µs arithmetic — the portable origin-aligned form;
    * the native DateBin expression (f_native) is the Spark-first version. */
  def fDatetime(spark: SparkSession, dir: String): DataFrame = {
    val originUs = 788918400000000L // 1995-01-01 00:00:00 UTC in µs
    val widthUs = 10L * 86400L * 1000000L
    // parquet TIMESTAMP(isAdjustedToUTC=false) loads as TIMESTAMP_NTZ; cast
    // to session-local TIMESTAMP (UTC session → same instant) for epoch fns.
    val us = unix_micros(col("o_orderdate").cast("timestamp"))
    t("orders")(spark, dir).select(
        col("o_orderkey"),
        date_trunc("month", col("o_orderdate")).as("month_start"),
        extract(lit("year"), col("o_orderdate")).cast("int").as("yr"),
        date_part(lit("month"), col("o_orderdate")).cast("int").as("mo"),
        extract(lit("day"), col("o_orderdate")).cast("int").as("dy"),
        timestamp_micros(us - pmod(us - originUs, lit(widthUs))).as("bin10d"),
        col("o_orderdate").cast("date").as("od"),
        make_date(year(col("o_orderdate")), month(col("o_orderdate")), lit(1)).as("md"),
        from_unixtime(unix_timestamp(col("o_orderdate").cast("timestamp"))).as("fu"),
        us.as("ut"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("fmt"),
        datediff(col("o_orderdate"), lit("1995-01-01").cast("date")).as("dd"))
      .orderBy("o_orderkey")
  }

  val fDatetimeSql: String =
    """SELECT o_orderkey,
      |  date_trunc('month', o_orderdate) AS month_start,
      |  CAST(extract(year FROM o_orderdate) AS INTEGER) AS yr,
      |  CAST(date_part('month', o_orderdate) AS INTEGER) AS mo,
      |  CAST(extract(day FROM o_orderdate) AS INTEGER) AS dy,
      |  make_timestamp(epoch_us(o_orderdate)
      |    - ((((epoch_us(o_orderdate) - 788918400000000) % 864000000000)
      |        + 864000000000) % 864000000000)) AS bin10d,
      |  CAST(o_orderdate AS DATE) AS od,
      |  make_date(CAST(extract(year FROM o_orderdate) AS INTEGER),
      |            CAST(extract(month FROM o_orderdate) AS INTEGER), 1) AS md,
      |  strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS fu,
      |  epoch_us(o_orderdate) AS ut,
      |  strftime(o_orderdate, '%Y-%m-%d') AS fmt,
      |  date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS dd
      |FROM orders ORDER BY o_orderkey""".stripMargin

  // -------------------------------------------------------------- f_interval
  /** INTERVAL arithmetic (reference sqllogictest interval.slt; arrow
    * interval kernels): timestamp ± minute/day/month/year intervals — month
    * addition exercises end-of-month clamping, which both engines apply —
    * plus a timestampdiff. Same operator text runs in DuckDB. */
  def fInterval(spark: SparkSession, dir: String): DataFrame = {
    val ts = col("o_orderdate").cast("timestamp")
    t("orders")(spark, dir)
      .filter(col("o_orderkey") % 10 === 0)
      .select(col("o_orderkey"),
        (ts + expr("INTERVAL 90 MINUTE")).as("plus90m"),
        (ts - expr("INTERVAL 1 DAY")).as("minus1d"),
        (ts + expr("INTERVAL 2 MONTH")).as("plus2mo"),
        (ts + expr("INTERVAL 1 YEAR")).as("plus1y"),
        expr("""timestampdiff(HOUR, TIMESTAMP '1995-01-01 00:00:00',
                CAST(o_orderdate AS TIMESTAMP))""").as("hrs_since"))
      .orderBy("o_orderkey")
  }

  val fIntervalSql: String =
    """SELECT o_orderkey,
      |  o_orderdate + INTERVAL 90 MINUTE AS plus90m,
      |  o_orderdate - INTERVAL 1 DAY AS minus1d,
      |  o_orderdate + INTERVAL 2 MONTH AS plus2mo,
      |  o_orderdate + INTERVAL 1 YEAR AS plus1y,
      |  date_diff('hour', TIMESTAMP '1995-01-01 00:00:00', o_orderdate) AS hrs_since
      |FROM orders WHERE o_orderkey % 10 = 0 ORDER BY o_orderkey""".stripMargin

  // -------------------------------------------------------------------- f_tz
  /** Cross-timezone conversion — the reference's to_local_time /
    * AT TIME ZONE surface (datafusion/functions/src/datetime/
    * to_local_time.rs; timestamps.slt) and the last user-visible §7a gap.
    * Deliberately SPEC-GATED rather than DuckDB-oracled: the engines'
    * timezone machinery is configured at different levels (DuckDB renders
    * TIMESTAMPTZ through its ICU session zone; Spark renders instants in
    * spark.sql.session.timeZone), so a text-identical oracle would test
    * session configuration, not conversion semantics — exactly the
    * passes-by-construction trap §7a documents. The SEMANTICS are pinned
    * by FunctionLibSpec against hand-computed instants on both sides of
    * the US and EU DST transitions (spring-forward gap hour, fall-back
    * repeated hour) and a half-hour-offset zone (Asia/Kolkata).
    *
    * Shape: events.ts is a UTC instant. For three zones the entry emits
    * the LOCAL wall-clock (`from_utc_timestamp` — the engine-native
    * to_local_time), a rendered form (to pin formatting stability), and
    * the `to_utc_timestamp` round trip vs the original instant:
    * round-trip equality holds for every instant whose local wall-clock
    * is unambiguous; instants rendering into the fall-back REPEATED hour
    * map back to the zone's canonical pick (Java time: the EARLIER
    * offset), so first-pass instants round-trip true and second-pass
    * false — the spec pins exactly that, because silently asserting
    * always-true would paper over the ambiguity every tz library must
    * resolve. At 100 TB this is a pure per-row projection (codegen'd,
    * no shuffle) — conversion cost is embarrassingly parallel. */
  def fTz(spark: SparkSession, dir: String): DataFrame = {
    def loc(z: String) = from_utc_timestamp(col("ts"), z)
    graft.Tables.t(spark, dir, "events")
      .select(col("event_id"), col("ts"))
      .select(
        col("event_id"),
        col("ts"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("utc_wall"),
        loc("America/New_York").as("ny_wall"),
        loc("Europe/Berlin").as("berlin_wall"),
        loc("Asia/Kolkata").as("kolkata_wall"),
        (to_utc_timestamp(loc("America/New_York"), "America/New_York")
          === col("ts")).as("ny_round_trip"))
      .orderBy("event_id")
  }

  // --------------------------------------------------------------- f_decimal
  /** DECIMAL exact arithmetic (reference decimal.slt; Decimal128 kernels):
    * the TPC-H money discipline done in decimals — cast the double columns
    * to DECIMAL(12,2) and run sum(price), sum(price·(1−disc)),
    * sum(price·(1−disc)·(1+tax)) with the standard scale-addition rules
    * (2→4→6 digits), so every intermediate is EXACT; only the final result
    * converts to DOUBLE (values ≤ 1e10 at 6dp sit well inside the 2^53
    * integer range, so the conversion is the same nearest double in both
    * engines). avg() is deliberately absent: decimal division scale rules
    * are engine-specific (documented dialect gap). */
  def fDecimal(spark: SparkSession, dir: String): DataFrame = {
    val price = col("l_extendedprice").cast("decimal(12,2)")
    val disc = col("l_discount").cast("decimal(12,2)")
    val tax = col("l_tax").cast("decimal(12,2)")
    t("lineitem")(spark, dir)
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        sum(price).cast("double").as("sum_base"),
        sum(price * (lit(1) - disc)).cast("double").as("sum_disc"),
        sum(price * (lit(1) - disc) * (lit(1) + tax)).cast("double").as("sum_charge"))
      .orderBy("l_returnflag")
  }

  val fDecimalSql: String =
    """WITH d AS (SELECT l_returnflag,
      |  CAST(l_extendedprice AS DECIMAL(12,2)) AS price,
      |  CAST(l_discount AS DECIMAL(12,2)) AS disc,
      |  CAST(l_tax AS DECIMAL(12,2)) AS tax FROM lineitem)
      |SELECT l_returnflag, count(*) AS n,
      |  CAST(sum(price) AS DOUBLE) AS sum_base,
      |  CAST(sum(price * (1 - disc)) AS DOUBLE) AS sum_disc,
      |  CAST(sum(price * (1 - disc) * (1 + tax)) AS DOUBLE) AS sum_charge
      |FROM d GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ------------------------------------------------------------------ f_cast
  /** Cast matrix + TRY_CAST null-on-failure (reference cast.slt; ANSI
    * failure semantics): int↔string, truncating double→int (spelled
    * floor-then-cast because bare CAST truncates in Spark but ROUNDS in
    * DuckDB — a dialect trap made explicit), int→boolean, string→date, and
    * try_cast returning NULL for malformed input instead of the ANSI
    * runtime error. */
  def fCast(spark: SparkSession, dir: String): DataFrame =
    t("orders")(spark, dir)
      .filter(col("o_orderkey") % 20 === 0)
      .select(col("o_orderkey"),
        col("o_orderkey").cast("string").as("key_str"),
        floor(col("o_totalprice")).cast("long").as("price_floor"),
        (col("o_orderkey") % 2).cast("boolean").as("odd_key"),
        expr("try_cast(o_orderstatus AS INT)").as("bad_int"),
        expr("try_cast(substring(o_orderpriority, 1, 1) AS INT)").as("pri_num"),
        lit("2024-02-29").cast("date").as("leap_day"),
        // mixed success/NULL (an all-NULL date column round-trips as a
        // typeless object column in the driver's pandas compare)
        expr("""try_cast(CASE WHEN o_orderkey % 40 = 0 THEN '1999-01-01'
                ELSE 'not a date' END AS DATE)""").as("bad_date"),
        expr("try_cast('123.5' AS DOUBLE)").as("str_dbl"))
      .orderBy("o_orderkey")

  val fCastSql: String =
    """SELECT o_orderkey,
      |  CAST(o_orderkey AS VARCHAR) AS key_str,
      |  CAST(floor(o_totalprice) AS BIGINT) AS price_floor,
      |  CAST(o_orderkey % 2 AS BOOLEAN) AS odd_key,
      |  TRY_CAST(o_orderstatus AS INTEGER) AS bad_int,
      |  TRY_CAST(substring(o_orderpriority, 1, 1) AS INTEGER) AS pri_num,
      |  DATE '2024-02-29' AS leap_day,
      |  TRY_CAST(CASE WHEN o_orderkey % 40 = 0 THEN '1999-01-01'
      |           ELSE 'not a date' END AS DATE) AS bad_date,
      |  TRY_CAST('123.5' AS DOUBLE) AS str_dbl
      |FROM orders WHERE o_orderkey % 20 = 0 ORDER BY o_orderkey""".stripMargin

  // ----------------------------------------------------------------- f_regex
  /** Regex family over events.props (JSON strings — always contain digits). */
  def fRegex(spark: SparkSession, dir: String): DataFrame =
    t("events")(spark, dir).select(
        col("event_id"),
        col("props").rlike("[0-9]+").as("has_num"),
        regexp_extract(col("props"), "[0-9]+", 0).as("num"),
        regexp_replace(col("props"), "[0-9]", "#").as("masked"),
        regexp_count(col("props"), lit("[0-9]")).as("n_digits"),
        regexp_instr(col("props"), lit("[0-9]+")).as("num_pos"),
        regexp_substr(col("event_type"), lit("[a-z]+")).as("word"))
      .orderBy("event_id")

  /** DuckDB: regexp_count via regexp_extract_all length; regexp_instr via
    * strpos of the first match (leftmost-match property makes this exact for
    * these self-matching patterns). */
  val fRegexSql: String =
    """SELECT event_id,
      |  regexp_matches(props, '[0-9]+') AS has_num,
      |  regexp_extract(props, '[0-9]+') AS num,
      |  regexp_replace(props, '[0-9]', '#', 'g') AS masked,
      |  len(regexp_extract_all(props, '[0-9]')) AS n_digits,
      |  strpos(props, regexp_extract(props, '[0-9]+')) AS num_pos,
      |  regexp_extract(event_type, '[a-z]+') AS word
      |FROM events ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------- f_crypto
  /** Crypto + encoding over customer names. sha224/384/512, sha1 and crc32
    * have no DuckDB builtin — they are validated against
    * java.security.MessageDigest / zlib in FunctionLibSpec instead. */
  def fCrypto(spark: SparkSession, dir: String): DataFrame =
    t("customer")(spark, dir).filter(col("c_custkey") <= 200).select(
        col("c_custkey"),
        md5(col("c_name").cast("binary")).as("m5"),
        sha2(col("c_name").cast("binary"), 256).as("s256"),
        lower(hex(col("c_name").cast("binary"))).as("hx"),
        base64(col("c_name").cast("binary")).as("b64"),
        unbase64(base64(col("c_name").cast("binary"))).cast("string").as("roundtrip"))
      .orderBy("c_custkey")

  val fCryptoSql: String =
    """SELECT c_custkey,
      |  md5(c_name) AS m5,
      |  sha256(c_name) AS s256,
      |  lower(hex(CAST(c_name AS BLOB))) AS hx,
      |  to_base64(CAST(c_name AS BLOB)) AS b64,
      |  c_name AS roundtrip
      |FROM customer WHERE c_custkey <= 200 ORDER BY c_custkey""".stripMargin

  // ------------------------------------------------------------------ f_hash
  /** Hash family beyond what DuckDB can recompute (reference:
    * /root/reference/datafusion/sqllogictest/test_files/spark/hash/
    * {sha1,sha,md5,crc32,sha2}.slt): sha1, the full sha2 family
    * (224/384/512 — 256 is oracled directly in f_crypto), crc32, and
    * Spark's own partitioning hashes `hash` (Murmur3_x86_32, seed 42) and
    * `xxhash64` (seed 42). DuckDB has none of these, so the oracle is the
    * known-answer form the verdict sanctioned: fixed UTF-8 test vectors
    * (NIST/RFC published values for sha1/sha2, zlib for crc32, and the
    * Spark-pinned values for hash/xxhash64 — stable across Spark versions
    * by contract, since bucketed-table layout depends on them). Spark
    * genuinely computes every column; the oracle carries the expected
    * constants. All codegen'd scalar kernels — narrow, scan-fused, and at
    * 100 TB this is exactly the fingerprint/bucketing family d_exact and
    * ddl_bucketed lean on. */
  def fHash(spark: SparkSession, dir: String): DataFrame = {
    spark.sql(
      """SELECT id,
        |  sha1(s) AS h_sha1,
        |  sha2(s, 224) AS h_sha224,
        |  sha2(s, 384) AS h_sha384,
        |  sha2(s, 512) AS h_sha512,
        |  crc32(cast(s AS binary)) AS h_crc32,
        |  hash(s) AS h_murmur3,
        |  xxhash64(s) AS h_xx64
        |FROM VALUES
        |  (1, 'abc'),
        |  (2, ''),
        |  (3, 'The quick brown fox jumps over the lazy dog'),
        |  (4, 'graft: spark-native analytics'),
        |  (5, 'héllo wörld ✓') AS t(id, s)
        |ORDER BY id""".stripMargin)
  }

  val fHashSql: String =
    """SELECT id, h_sha1, h_sha224, h_sha384, h_sha512,
      |  CAST(h_crc32 AS BIGINT) AS h_crc32,
      |  CAST(h_murmur3 AS INTEGER) AS h_murmur3,
      |  CAST(h_xx64 AS BIGINT) AS h_xx64
      |FROM (VALUES
      |  (1, 'a9993e364706816aba3e25717850c26c9cd0d89d',
      |   '23097d223405d8228642a477bda255b32aadbce4bda0b3f7e36c9da7',
      |   'cb00753f45a35e8bb5a03d699ac65007272c32ab0eded1631a8b605a43ff5bed8086072ba1e7cc2358baeca134c825a7',
      |   'ddaf35a193617abacc417349ae20413112e6fa4e89a97ea20a9eeee64b55d39a2192992a274fc1a836ba3c23a3feebbd454d4423643ce80e2a9ac94fa54ca49f',
      |   891568578, 1322437556, 1423657621850124518),
      |  (2, 'da39a3ee5e6b4b0d3255bfef95601890afd80709',
      |   'd14a028c2a3a2bc9476102bb288234c415a2b01f828ea62ac5b3e42f',
      |   '38b060a751ac96384cd9327eb1b1e36a21fdb71114be07434c0cc7bf63f6e1da274edebfe76f65fbd51ad2f14898b95b',
      |   'cf83e1357eefb8bdf1542850d66d8007d620e4050b5715dc83f4a921d36ce9ce47d0d13c5d85f2b0ff8318d2877eec2f63b931bd47417a81a538327af927da3e',
      |   0, 142593372, -7444071767201028348),
      |  (3, '2fd4e1c67a2d28fced849ee1bb76e7391b93eb12',
      |   '730e109bd7a8a32b1cb9d9a09aa2325d2430587ddbc0c38bad911525',
      |   'ca737f1014a48f4c0b6dd43cb177b0afd9e5169367544c494011e3317dbf9a509cb1e5dc1e85a941bbee3d7f2afbc9b1',
      |   '07e547d9586f6a73f73fbac0435ed76951218fb7d0c8d788a309d785436bbb642e93a252a954f23912547d1e8a3b5ed6e1bfd7097821233fa0538f3db854fee6',
      |   1095738169, 466024576, -6152153990451020481),
      |  (4, '994baaa2e24628a7d80de699d68562d5d8ac4394',
      |   'c737004d9a6d6035a3a887d32ea12694fbcd739536dd80c3f2c0d66d',
      |   '74513fb1a2c0ffee6e62cdab74f9f40ffcf2f8ca8bb17f00fdc1c5378422742fd52ae3102c9746884b3ba51e0c564255',
      |   '0bd1e503db2761bfd8f9dcc902996920d087ae62907fdd7e7b74923b2152218ffc4947ccde6fa969c1e4621a42ec03ca3517f7469f3a5de29f4997c737025f4c',
      |   2500691155, -1000080581, 5354046115350460655),
      |  (5, 'a5e7f35caea50aa6f3bc37d2f24a540fc0b3cb32',
      |   '870d8196724667b3adc2a35563d3cb8a4b00c97dc648b0243566659f',
      |   '6f2cef0c605dcbe324f4af6fedaa6e709668db1968586ac440ae40f255bd161cb429dad5679f792efe9cace08e50df08',
      |   '73caa564cb3c4c7f36170f3a113d34fb9ab766e6eb866da8442891d8f2214482dad7a1cd7144d425ee73c63bd84a23129dff476ed37b82743d41dca6396176d8',
      |   180982638, -594605681, 1267430004352973977)
      |) AS t(id, h_sha1, h_sha224, h_sha384, h_sha512, h_crc32, h_murmur3, h_xx64)
      |ORDER BY id""".stripMargin

  // ----------------------------------------------------------- f_conditional
  /** Conditional family over customer. */
  def fConditional(spark: SparkSession, dir: String): DataFrame =
    t("customer")(spark, dir).select(
        col("c_custkey"),
        when(col("c_mktsegment") === "BUILDING", 1)
          .when(col("c_mktsegment") === "MACHINERY", 2).otherwise(0).as("seg_code"),
        round(coalesce(nullif(col("c_acctbal"), lit(0.0)), lit(-1.0)), 2).as("nz"),
        round(nvl(nullif(col("c_acctbal"), col("c_acctbal")), lit(7.5)), 2).as("nv"),
        nvl2(nullif(col("c_mktsegment"), lit("BUILDING")), lit("other"), lit("bld")).as("nv2"),
        round(greatest(col("c_acctbal"), lit(0.0)), 2).as("gt"),
        round(least(col("c_acctbal"), lit(0.0)), 2).as("lt"),
        expr("if(c_acctbal > 0, 'pos', 'nonpos')").as("iff"))
      .orderBy("c_custkey")

  val fConditionalSql: String =
    """SELECT c_custkey,
      |  CASE WHEN c_mktsegment = 'BUILDING' THEN 1
      |       WHEN c_mktsegment = 'MACHINERY' THEN 2 ELSE 0 END AS seg_code,
      |  round(coalesce(nullif(c_acctbal, 0.0), -1.0), 2) AS nz,
      |  round(ifnull(nullif(c_acctbal, c_acctbal), 7.5), 2) AS nv,
      |  CASE WHEN nullif(c_mktsegment, 'BUILDING') IS NOT NULL
      |       THEN 'other' ELSE 'bld' END AS nv2,
      |  round(greatest(c_acctbal, 0.0), 2) AS gt,
      |  round(least(c_acctbal, 0.0), 2) AS lt,
      |  CASE WHEN c_acctbal > 0 THEN 'pos' ELSE 'nonpos' END AS iff
      |FROM customer ORDER BY c_custkey""".stripMargin

  // ----------------------------------------------------------------- f_array
  /** Array family over embeddings: ints derived from the first 8 floats so
    * every op is exact. Arrays are rendered to csv strings for the compare
    * (parquet list vs DuckDB list dtypes differ in pandas).
    * DuckDB list_distinct does not preserve order → both sides sort before
    * rendering wherever order is unspecified. */
  def fArray(spark: SparkSession, dir: String): DataFrame = {
    val a = transform(slice(col("embedding"), 1, 8),
      x => round(x * 100, 0).cast("int"))
    val b = array(lit(0), lit(5), lit(10), lit(-5), lit(1), lit(2), lit(3), lit(4))
    def csv(c: Column) = array_join(c, ",")
    t("embeddings")(spark, dir).select(
        col("vec_id"),
        csv(a).as("a"),
        csv(array_sort(array_distinct(a))).as("dist"),
        csv(array_sort(array_except(a, b))).as("exc"),
        csv(array_sort(array_intersect(a, b))).as("inter"),
        csv(array_sort(array_union(a, b))).as("uni"),
        csv(flatten(array(a, b))).as("flat"),
        coalesce(nullif(array_position(a, 5), lit(0L)), lit(0L)).as("pos5"),
        csv(array_sort(array_remove(a, 0))).as("rm0"),
        csv(array_repeat(lit(7), 3)).as("rep7"),
        csv(reverse(a)).as("rev"),
        csv(slice(a, 2, 3)).as("sl"),
        csv(sort_array(a)).as("srt"),
        size(a).as("card"),
        array_contains(a, 0).as("has0"),
        csv(zip_with(a, b, (x, y) => x + y)).as("zsum"),
        csv(array_sort(filter(a, x => x > 0))).as("fpos"),
        csv(transform(a, x => x * 2)).as("dbl"),
        aggregate(a, lit(0), (acc, x) => acc + x).as("asum"),
        array_max(a).as("amax"),
        array_min(a).as("amin"),
        csv(transform(a, x => when(x === 0, 99).otherwise(x))).as("repl"),
        round(sqrt(aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, x) => acc + x)), 4).as("l2_dist"))
      .orderBy("vec_id")
  }

  val fArraySql: String = {
    val a = "list_transform(embedding[1:8], x -> CAST(round(x * 100, 0) AS INTEGER))"
    val b = "[0, 5, 10, -5, 1, 2, 3, 4]"
    s"""WITH base AS (SELECT vec_id, $a AS a, $b AS b FROM embeddings)
       |SELECT vec_id,
       |  coalesce(array_to_string(a, ','), '') AS a,
       |  coalesce(array_to_string(list_sort(list_distinct(a)), ','), '') AS dist,
       |  coalesce(array_to_string(list_sort(list_distinct(list_filter(a, x -> NOT list_contains(b, x)))), ','), '') AS exc,
       |  coalesce(array_to_string(list_sort(list_distinct(list_filter(a, x -> list_contains(b, x)))), ','), '') AS inter,
       |  coalesce(array_to_string(list_sort(list_distinct(list_concat(a, b))), ','), '') AS uni,
       |  coalesce(array_to_string(list_concat(a, b), ','), '') AS flat,
       |  coalesce(list_position(a, 5), 0) AS pos5,
       |  coalesce(array_to_string(list_sort(list_filter(a, x -> x != 0)), ','), '') AS rm0,
       |  coalesce(array_to_string(list_transform(range(3), x -> 7), ','), '') AS rep7,
       |  coalesce(array_to_string(list_reverse(a), ','), '') AS rev,
       |  coalesce(array_to_string(list_slice(a, 2, 4), ','), '') AS sl,
       |  coalesce(array_to_string(list_sort(a), ','), '') AS srt,
       |  len(a) AS card,
       |  list_contains(a, 0) AS has0,
       |  coalesce(array_to_string(list_transform(range(8), i -> a[CAST(i AS INTEGER) + 1] + b[CAST(i AS INTEGER) + 1]), ','), '') AS zsum,
       |  coalesce(array_to_string(list_sort(list_filter(a, x -> x > 0)), ','), '') AS fpos,
       |  coalesce(array_to_string(list_transform(a, x -> x * 2), ','), '') AS dbl,
       |  CAST(list_aggregate(a, 'sum') AS INTEGER) AS asum,
       |  CAST(list_aggregate(a, 'max') AS INTEGER) AS amax,
       |  CAST(list_aggregate(a, 'min') AS INTEGER) AS amin,
       |  coalesce(array_to_string(list_transform(a, x -> CASE WHEN x = 0 THEN 99 ELSE x END), ','), '') AS repl,
       |  round(sqrt(CAST(list_aggregate(list_transform(range(8),
       |    i -> (a[CAST(i AS INTEGER) + 1] - b[CAST(i AS INTEGER) + 1])
       |       * (a[CAST(i AS INTEGER) + 1] - b[CAST(i AS INTEGER) + 1])), 'sum') AS DOUBLE)), 4) AS l2_dist
       |FROM base ORDER BY vec_id""".stripMargin
  }

  // ---------------------------------------------------------------- f_struct
  /** Struct family over nation: build, field access, JSON render. */
  def fStruct(spark: SparkSession, dir: String): DataFrame =
    t("nation")(spark, dir).select(
        col("n_nationkey"),
        struct(col("n_name"), col("n_regionkey")).getField("n_name").as("via_struct"),
        expr("named_struct('key', n_nationkey, 'name', n_name).name").as("via_named"),
        to_json(expr("named_struct('key', n_nationkey, 'name', n_name)")).as("js"))
      .orderBy("n_nationkey")

  val fStructSql: String =
    """SELECT n_nationkey,
      |  struct_extract(struct_pack(n_name := n_name, n_regionkey := n_regionkey), 'n_name') AS via_struct,
      |  struct_extract(struct_pack(key := n_nationkey, name := n_name), 'name') AS via_named,
      |  to_json(struct_pack(key := n_nationkey, name := n_name)) AS js
      |FROM nation ORDER BY n_nationkey""".stripMargin

  // ------------------------------------------------------------------- f_map
  /** Map family over events.props JSON kv-strings: parse to a map, rebuild
    * via entries, extract keys/values. */
  def fMap(spark: SparkSession, dir: String): DataFrame = {
    val m = from_json(col("props"), lit("map<string,int>"))
    t("events")(spark, dir).select(
        col("event_id"),
        array_join(map_keys(m), ",").as("ks"),
        element_at(m, "k").as("v"),
        element_at(map_from_entries(map_entries(m)), "k").as("v_rebuilt"),
        map_contains_key(m, "k").as("has_k"),
        size(m).as("n_entries"))
      .orderBy("event_id")
  }

  val fMapSql: String =
    """SELECT event_id,
      |  array_to_string(json_keys(props), ',') AS ks,
      |  CAST(json_extract_string(props, '$.k') AS INTEGER) AS v,
      |  CAST(json_extract_string(props, '$.k') AS INTEGER) AS v_rebuilt,
      |  json_extract_string(props, '$.k') IS NOT NULL AS has_k,
      |  len(json_keys(props)) AS n_entries
      |FROM events ORDER BY event_id""".stripMargin

  // ------------------------------------------------------------------ f_like
  /** SQL pattern-matching operator family (reference strings.slt: LIKE /
    * NOT LIKE / ILIKE / NOT ILIKE / SIMILAR TO / ~*): the first four run as
    * the same operator text in both engines (Spark has native ILIKE); LIKE
    * ... ESCAPE exercises a literal `_` match through the escape char; the
    * two Spark-absent operators desugar to regexp_like — SIMILAR TO is
    * full-match, which `^(alts).*` reproduces exactly under partial-match
    * semantics (the anchored prefix decides the match), and `~*` is
    * partial-match with the (?i) inline flag (the bundled DuckDB lacks
    * `~*` too, so the oracle emulates it via regexp_matches(..., 'i') —
    * the flag-argument spelling of the same match). All codegen'd,
    * scan-fused. */
  def fLike(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerViews(spark, dir)
    spark.sql(
      """SELECT p_partkey,
        |  p_type LIKE '%BRASS' AS lk,
        |  p_type NOT LIKE 'STANDARD%' AS nlk,
        |  p_type ILIKE '%brass' AS ilk,
        |  p_type NOT ILIKE 'standard%' AS nilk,
        |  replace(p_name, ' ', '_') LIKE '%\\_%' ESCAPE '\\' AS esc_us,
        |  regexp_like(p_type, '^(STANDARD|PROMO).*') AS sim,
        |  regexp_like(p_type, '(?i)^promo.*') AS ci_re
        |FROM part ORDER BY p_partkey""".stripMargin)
  }

  val fLikeSql: String =
    """SELECT p_partkey,
      |  p_type LIKE '%BRASS' AS lk,
      |  p_type NOT LIKE 'STANDARD%' AS nlk,
      |  p_type ILIKE '%brass' AS ilk,
      |  p_type NOT ILIKE 'standard%' AS nilk,
      |  replace(p_name, ' ', '_') LIKE '%\_%' ESCAPE '\' AS esc_us,
      |  p_type SIMILAR TO '(STANDARD|PROMO).*' AS sim,
      |  regexp_matches(p_type, '^promo.*', 'i') AS ci_re
      |FROM part ORDER BY p_partkey""".stripMargin

  // ------------------------------------------------------------------ f_json
  /** JSON path/extraction family (reference:
    * /root/reference/datafusion/sqllogictest/test_files/json.slt — the
    * engine-side JSON surface a lake of raw JSON events needs without
    * re-parsing to columns first): a nested document is built with to_json,
    * then navigated with get_json_object path expressions (nested field,
    * array index), json_tuple (the multi-field generator form),
    * json_array_length and json_object_keys. All codegen'd string kernels —
    * narrow, scan-fused, no shuffle. Extracted fields are ints/strings so
    * cross-engine JSON number formatting never reaches the hash. */
  def fJson(spark: SparkSession, dir: String): DataFrame = {
    val j = to_json(expr(
      """named_struct('id', event_id,
        |             'meta', named_struct('t', event_type,
        |                                  'v', CAST(floor(value) AS BIGINT)),
        |             'ids', array(user_id, event_id))""".stripMargin)).as("j")
    t("events")(spark, dir).select(col("event_id"), j)
      .select(
        col("event_id"),
        get_json_object(col("j"), "$.meta.t").as("t"),
        get_json_object(col("j"), "$.ids[1]").cast("long").as("id2"),
        json_array_length(get_json_object(col("j"), "$.ids")).as("n_ids"),
        array_join(json_object_keys(col("j")), ",").as("ks"),
        // a generator must sit top-level in its projection; cast after
        expr("json_tuple(j, 'id')").as("tup"))
      .select(col("event_id"), col("t"), col("id2"), col("n_ids"), col("ks"),
        col("tup").cast("long").as("id_via_tuple"))
      .orderBy("event_id")
  }

  val fJsonSql: String =
    """WITH d AS (SELECT event_id,
      |  to_json(struct_pack(id := event_id,
      |                      meta := struct_pack(t := event_type,
      |                                          v := CAST(floor(value) AS BIGINT)),
      |                      ids := [user_id, event_id])) AS j
      |  FROM events)
      |SELECT event_id,
      |  json_extract_string(j, '$.meta.t') AS t,
      |  CAST(json_extract(j, '$.ids[1]') AS BIGINT) AS id2,
      |  CAST(json_array_length(j, '$.ids') AS INTEGER) AS n_ids,
      |  array_to_string(json_keys(j), ',') AS ks,
      |  CAST(json_extract(j, '$.id') AS BIGINT) AS id_via_tuple
      |FROM d ORDER BY event_id""".stripMargin

  // --------------------------------------------------------------- f_variant
  /** Spark 4 VARIANT — the shredded-binary semi-structured type (the
    * engine-native successor to string-JSON probing; reference JSON
    * pointer/extraction surface as in f_json, modern storage form). Unlike
    * get_json_object, `parse_json` decodes ONCE into a binary tree and
    * every `variant_get` is a typed pointer walk — the difference between
    * re-parsing a 100 TB props column per extraction and paying the parse
    * on ingest. The JSON under test wraps the events `props` payload in a
    * constructed envelope so nested-path, typed, and missing-path access
    * are all exercised; `to_json(variant_get(...))` round-trips a nested
    * OBJECT back to canonical text (both engines emit compact JSON).
    * Narrow codegen-free per-row work, zero shuffle but the presentation
    * sort. */
  def fVariant(spark: SparkSession, dir: String): DataFrame =
    t("events")(spark, dir)
      .select(col("event_id"), expr("parse_json(" + envelopeSql + ") AS v"))
      .select(
        col("event_id"),
        expr("variant_get(v, '$.id', 'bigint')").as("id_b"),
        expr("variant_get(v, '$.t', 'string')").as("t_s"),
        expr("variant_get(v, '$.nested.k', 'int')").as("nk"),
        expr("variant_get(v, '$.nope', 'string')").as("miss"),
        expr("to_json(variant_get(v, '$.nested'))").as("nested_json"),
        expr("is_variant_null(variant_get(v, '$.id'))").as("id_is_jnull"))
      .orderBy("event_id")

  /** The envelope expression in SQL (shared between the Column and the
    * parse_json call so the Spark side builds exactly one string). */
  private val envelopeSql: String =
    """concat('{"id": ', event_id, ', "t": "', event_type,
      |       '", "nested": ', props, '}')""".stripMargin

  val fVariantSql: String =
    """WITH d AS (SELECT event_id,
      |  '{"id": ' || event_id || ', "t": "' || event_type ||
      |    '", "nested": ' || props || '}' AS j
      |  FROM events)
      |SELECT event_id,
      |  CAST(json_extract(j, '$.id') AS BIGINT) AS id_b,
      |  json_extract_string(j, '$.t') AS t_s,
      |  CAST(json_extract(j, '$.nested.k') AS INTEGER) AS nk,
      |  json_extract_string(j, '$.nope') AS miss,
      |  json_extract(j, '$.nested')::VARCHAR AS nested_json,
      |  false AS id_is_jnull
      |FROM d ORDER BY event_id""".stripMargin

  // --------------------------------------------------------------- f_collate
  /** Spark 4 collations — engine-level case-insensitive string semantics
    * (`COLLATE UTF8_LCASE`): a collated equality JOIN and a collated
    * prefix predicate. The 100 TB point: a collated key still plans as a
    * KEYED equi-join — `collate(x)` becomes the hash-partition/join key
    * (probe-verified SortMergeJoin, never nested-loop), so case-insensitive
    * matching costs the same shuffle as exact matching instead of a
    * lower()-normalized copy of every string column. The mixed-case side
    * lower-cases every even key; the oracle expresses the same semantics
    * with explicit lower(). */
  def fCollate(spark: SparkSession, dir: String): DataFrame = {
    val mixed = when(col("n_nationkey") % 2 === 0, lower(col("n_name")))
      .otherwise(col("n_name"))
    val left = t("nation")(spark, dir)
      .select(col("n_nationkey"), mixed.as("mname"))
    val right = t("nation")(spark, dir).select(col("n_name").as("orig"))
    left.join(right,
        expr("mname COLLATE UTF8_LCASE = orig COLLATE UTF8_LCASE"))
      .select(col("n_nationkey"), col("mname"), col("orig"),
        expr("startswith(mname COLLATE UTF8_LCASE, 'al')").as("sw_ci"))
      .orderBy("n_nationkey")
  }

  val fCollateSql: String =
    """WITH l AS (SELECT n_nationkey,
      |    CASE WHEN n_nationkey % 2 = 0 THEN lower(n_name) ELSE n_name END
      |      AS mname FROM nation),
      |r AS (SELECT n_name AS orig FROM nation)
      |SELECT l.n_nationkey, l.mname, r.orig,
      |       starts_with(lower(l.mname), 'al') AS sw_ci
      |FROM l JOIN r ON lower(l.mname) = lower(r.orig)
      |ORDER BY l.n_nationkey""".stripMargin

  // ------------------------------------------------------------------- f_csv
  /** CSV scalar codec family (reference spark-compat suite:
    * sqllogictest/test_files/spark/csv/schema_of_csv.slt): `from_csv` line
    * → typed struct with an explicit schema + reader option (custom
    * separator), field access off the parsed struct, and the `to_csv`
    * writer direction. The line under test is built from nation columns so
    * the oracle reconstructs every expectation from the base columns while
    * the Spark side genuinely runs the CSV parser per row. The embedded
    * schema string is the same contract an ingest job pins down; malformed
    * lines surface as NULL fields (PERMISSIVE), not task failures. */
  def fCsv(spark: SparkSession, dir: String): DataFrame =
    t("nation")(spark, dir)
      .withColumn("line", concat_ws("|",
        col("n_nationkey"), col("n_name"), col("n_regionkey")))
      .withColumn("rec",
        expr("from_csv(line, 'k INT, name STRING, r INT', map('sep', '|'))"))
      .select(
        col("n_nationkey"),
        col("rec.name").as("name_parsed"),
        col("rec.r").as("r_parsed"),
        (col("rec.k") + col("rec.r")).as("kr_sum"),
        expr("from_csv('not|a|number', 'k INT, name STRING, r INT'," +
          " map('sep', '|')).k").as("bad_k"),
        expr("to_csv(named_struct('a', n_nationkey, 'b', n_name)," +
          " map('sep', ';'))").as("csv_out"))
      .orderBy("n_nationkey")

  val fCsvSql: String =
    """SELECT n_nationkey,
      |  n_name AS name_parsed,
      |  n_regionkey AS r_parsed,
      |  n_nationkey + n_regionkey AS kr_sum,
      |  CAST(NULL AS INTEGER) AS bad_k,
      |  n_nationkey || ';' || n_name AS csv_out
      |FROM nation ORDER BY n_nationkey""".stripMargin

  // ------------------------------------------------------------------- f_url
  /** URL function family (reference spark-compat suite:
    * sqllogictest/test_files/spark/url/{parse_url,url_encode,url_decode}.slt)
    * — the log-processing workhorses: component extraction (HOST/PATH plus
    * a keyed QUERY parameter) and form-encoding round trip. The URL under
    * test is constructed from nation columns, so the DuckDB oracle
    * RECONSTRUCTS every expected value from the same base columns (DuckDB
    * has no URL functions) — the Spark side still genuinely parses.
    * url_encode is java.net form encoding: space→'+', '&'→'%26', '/'→'%2F';
    * the oracle mirrors exactly those three over the controlled input.
    * Pure narrow per-row work. */
  def fUrl(spark: SparkSession, dir: String): DataFrame =
    t("nation")(spark, dir)
      .withColumn("url", concat(
        lit("https://ex"), col("n_nationkey"), lit(".org/p/"), col("n_name"),
        lit("?q="), col("n_regionkey"), lit("&r=2")))
      .select(
        col("n_nationkey"),
        expr("parse_url(url, 'HOST')").as("host"),
        expr("parse_url(url, 'PATH')").as("path"),
        expr("parse_url(url, 'QUERY', 'q')").as("qv"),
        expr("url_encode(concat(n_name, ' &/x'))").as("enc"),
        expr("url_decode(url_encode(concat(n_name, ' &/x')))").as("dec"))
      .orderBy("n_nationkey")

  val fUrlSql: String =
    """SELECT n_nationkey,
      |  'ex' || n_nationkey || '.org' AS host,
      |  '/p/' || n_name AS path,
      |  CAST(n_regionkey AS VARCHAR) AS qv,
      |  replace(n_name, ' ', '+') || '+%26%2Fx' AS enc,
      |  n_name || ' &/x' AS dec
      |FROM nation ORDER BY n_nationkey""".stripMargin

  // ------------------------------------------------------------------- f_xml
  /** XPath function family (reference spark-compat suite:
    * sqllogictest/test_files/spark/xml/{xpath,xpath_string,xpath_boolean}
    * .slt): typed scalar extraction, existence test, and the node-set
    * generator (array_join'd — the driver compare can't hash arrays). The
    * document is built from nation columns so the oracle reconstructs the
    * expected extractions without an XML parser, while the Spark side runs
    * real XPath over a real document. Narrow per-row work; at 100 TB the
    * XML decode happens once per row inside the scan stage, no shuffle. */
  def fXml(spark: SparkSession, dir: String): DataFrame =
    t("nation")(spark, dir)
      .withColumn("xml", concat(
        lit("<doc><id>"), col("n_nationkey"), lit("</id><name>"), col("n_name"),
        lit("</name><tags><t>a</t><t>b"), col("n_regionkey"),
        lit("</t></tags></doc>")))
      .select(
        col("n_nationkey"),
        expr("xpath_string(xml, '/doc/name')").as("xs"),
        expr("xpath_int(xml, '/doc/id')").as("xi"),
        expr("xpath_boolean(xml, '/doc/tags/t')").as("xb"),
        expr("xpath_boolean(xml, '/doc/nope')").as("xb_no"),
        expr("array_join(xpath(xml, '/doc/tags/t/text()'), ',')").as("xa"))
      .orderBy("n_nationkey")

  val fXmlSql: String =
    """SELECT n_nationkey,
      |  n_name AS xs,
      |  n_nationkey AS xi,
      |  true AS xb,
      |  false AS xb_no,
      |  'a,b' || n_regionkey AS xa
      |FROM nation ORDER BY n_nationkey""".stripMargin

  // ----------------------------------------------------------------- a_stats
  /** Statistical aggregates per returnflag. Quantities are integer-valued
    * doubles → moment sums are exact; price-based regressions rounded to a
    * step far above double-summation noise. */
  def aStats(spark: SparkSession, dir: String): DataFrame =
    t("lineitem")(spark, dir)
      .groupBy("l_returnflag")
      .agg(
        round(stddev_samp("l_quantity"), 4).as("sd_s"),
        round(stddev_pop("l_quantity"), 4).as("sd_p"),
        round(var_samp("l_quantity"), 4).as("var_s"),
        round(var_pop("l_quantity"), 4).as("var_p"),
        round(covar_samp("l_quantity", "l_discount"), 6).as("cov_s"),
        round(covar_pop("l_quantity", "l_discount"), 6).as("cov_p"),
        round(corr("l_quantity", "l_extendedprice"), 6).as("cr"),
        round(regr_slope(col("l_extendedprice"), col("l_quantity")), 2).as("r_slope"),
        round(regr_intercept(col("l_extendedprice"), col("l_quantity")), 2).as("r_icpt"),
        round(regr_r2(col("l_extendedprice"), col("l_quantity")), 6).as("r_r2"),
        round(regr_avgx(col("l_extendedprice"), col("l_quantity")), 4).as("r_avgx"),
        round(regr_avgy(col("l_extendedprice"), col("l_quantity")), 2).as("r_avgy"),
        regr_count(col("l_extendedprice"), col("l_quantity")).as("r_n"))
      .orderBy("l_returnflag")

  val aStatsSql: String =
    """SELECT l_returnflag,
      |  round(stddev_samp(l_quantity), 4) AS sd_s,
      |  round(stddev_pop(l_quantity), 4) AS sd_p,
      |  round(var_samp(l_quantity), 4) AS var_s,
      |  round(var_pop(l_quantity), 4) AS var_p,
      |  round(covar_samp(l_quantity, l_discount), 6) AS cov_s,
      |  round(covar_pop(l_quantity, l_discount), 6) AS cov_p,
      |  round(corr(l_quantity, l_extendedprice), 6) AS cr,
      |  round(regr_slope(l_extendedprice, l_quantity), 2) AS r_slope,
      |  round(regr_intercept(l_extendedprice, l_quantity), 2) AS r_icpt,
      |  round(regr_r2(l_extendedprice, l_quantity), 6) AS r_r2,
      |  round(regr_avgx(l_extendedprice, l_quantity), 4) AS r_avgx,
      |  round(regr_avgy(l_extendedprice, l_quantity), 2) AS r_avgy,
      |  regr_count(l_extendedprice, l_quantity) AS r_n
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // --------------------------------------------------------------- a_regr_ss
  /** The regression sum-of-squares forms — regr_sxx / regr_syy / regr_sxy —
    * completing the nine-aggregate regr family (reference:
    * /root/reference/datafusion/functions-aggregate/src/regr.rs:58-60; the
    * other six are in a_stats). These are the RE-AGGREGATABLE sufficient
    * statistics of a regression — (n, Σx, Σy, Σx², Σy², Σxy) merge
    * associatively, so a 100 TB fit is one partial-aggregated pass.
    * FP policy (SURVEY §4): x = hour-of-day (small exact int), y =
    * floor(value) (int-valued, ≤ 490) — moment sums stay far from
    * cancellation; rounded at 3 dp, ~10 orders above the noise floor. */
  def aRegrSs(spark: SparkSession, dir: String): DataFrame =
    t("events")(spark, dir)
      .select(col("event_type"), hour(col("ts")).as("x"),
        floor(col("value")).as("y"))
      .groupBy("event_type")
      .agg(
        round(regr_sxx(col("y"), col("x")), 3).as("sxx"),
        round(regr_syy(col("y"), col("x")), 3).as("syy"),
        round(regr_sxy(col("y"), col("x")), 3).as("sxy"),
        regr_count(col("y"), col("x")).cast("long").as("n"))
      .orderBy("event_type")

  val aRegrSsSql: String =
    """SELECT event_type,
      |  round(regr_sxx(floor(value), hour(ts)), 3) AS sxx,
      |  round(regr_syy(floor(value), hour(ts)), 3) AS syy,
      |  round(regr_sxy(floor(value), hour(ts)), 3) AS sxy,
      |  CAST(regr_count(floor(value), hour(ts)) AS BIGINT) AS n
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ----------------------------------------------------------- a_order_stats
  /** Order statistics per returnflag: exact median / percentiles / mode.
    * l_linenumber's mode is unique (1 dominates) → portable. */
  def aOrderStats(spark: SparkSession, dir: String): DataFrame =
    t("lineitem")(spark, dir)
      .groupBy("l_returnflag")
      .agg(
        round(median(col("l_quantity")), 4).as("med"),
        round(percentile(col("l_quantity"), lit(0.25)), 4).as("p25"),
        round(percentile(col("l_quantity"), lit(0.75)), 4).as("p75"),
        mode(col("l_linenumber")).cast("int").as("mode_ln"))
      .orderBy("l_returnflag")

  val aOrderStatsSql: String =
    """SELECT l_returnflag,
      |  round(CAST(median(l_quantity) AS DOUBLE), 4) AS med,
      |  round(CAST(quantile_cont(l_quantity, 0.25) AS DOUBLE), 4) AS p25,
      |  round(CAST(quantile_cont(l_quantity, 0.75) AS DOUBLE), 4) AS p75,
      |  CAST(mode(l_linenumber) AS INTEGER) AS mode_ln
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // --------------------------------------------------------------- a_collect
  /** Collection aggregates per nation: sorted array_agg, listagg/string_agg,
    * count distinct. */
  def aCollect(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerViews(spark, dir)
    spark.sql(
      """SELECT s_nationkey,
        |  array_join(array_sort(collect_list(s_name)), ',') AS names,
        |  listagg(s_name, ';') WITHIN GROUP (ORDER BY s_name) AS la,
        |  count(DISTINCT s_suppkey) AS n_supp
        |FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin)
  }

  val aCollectSql: String =
    """SELECT s_nationkey,
      |  string_agg(s_name, ',' ORDER BY s_name) AS names,
      |  string_agg(s_name, ';' ORDER BY s_name) AS la,
      |  count(DISTINCT s_suppkey) AS n_supp
      |FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin

  // ------------------------------------------------------------- a_firstlast
  /** min_by / max_by (argmin/argmax — DataFusion's first/last-value-by-order
    * equivalents in a distributed setting, where unordered first() is
    * nondeterministic by design). */
  def aFirstLast(spark: SparkSession, dir: String): DataFrame =
    t("supplier")(spark, dir)
      .groupBy("s_nationkey")
      .agg(
        min_by(col("s_name"), col("s_acctbal")).as("poorest"),
        max_by(col("s_name"), col("s_acctbal")).as("richest"),
        round(min("s_acctbal"), 2).as("min_bal"),
        round(max("s_acctbal"), 2).as("max_bal"))
      .orderBy("s_nationkey")

  val aFirstLastSql: String =
    """SELECT s_nationkey,
      |  min_by(s_name, s_acctbal) AS poorest,
      |  max_by(s_name, s_acctbal) AS richest,
      |  round(min(s_acctbal), 2) AS min_bal,
      |  round(max(s_acctbal), 2) AS max_bal
      |FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin

  // --------------------------------------------------------------- a_bitbool
  /** Bitwise + boolean aggregates per brand. */
  def aBitBool(spark: SparkSession, dir: String): DataFrame =
    t("part")(spark, dir)
      .groupBy("p_brand")
      .agg(
        bit_and(col("p_size")).as("b_and"),
        bit_or(col("p_size")).as("b_or"),
        bit_xor(col("p_size")).as("b_xor"),
        bool_and(col("p_size") > 10).as("all_gt10"),
        bool_or(col("p_size") > 45).as("any_gt45"),
        every(col("p_size") > 0).as("every_pos"),
        some(col("p_size") > 48).as("some_gt48"))
      .orderBy("p_brand")

  val aBitBoolSql: String =
    """SELECT p_brand,
      |  bit_and(p_size) AS b_and,
      |  bit_or(p_size) AS b_or,
      |  bit_xor(p_size) AS b_xor,
      |  bool_and(p_size > 10) AS all_gt10,
      |  bool_or(p_size > 45) AS any_gt45,
      |  bool_and(p_size > 0) AS every_pos,
      |  bool_or(p_size > 48) AS some_gt48
      |FROM part GROUP BY p_brand ORDER BY p_brand""".stripMargin

  // --------------------------------------------------------------- a_weighted
  /** Weighted percentiles (reference:
    * functions-aggregate/src/approx_percentile_cont_with_weight.rs). Spark's
    * exact `percentile(col, p, frequency)` treats each row as `frequency`
    * repetitions; the DuckDB oracle materializes exactly that expansion with
    * a lateral generate_series, so the semantics are hash-checked. */
  def aWeighted(spark: SparkSession, dir: String): DataFrame =
    t("lineitem")(spark, dir)
      .groupBy("l_returnflag")
      .agg(
        round(expr("percentile(l_extendedprice, 0.5, CAST(l_quantity AS BIGINT))"), 4)
          .as("wp50"),
        round(expr("percentile(l_extendedprice, 0.9, CAST(l_quantity AS BIGINT))"), 4)
          .as("wp90"),
        sum(col("l_quantity").cast("long")).as("w_total"))
      .orderBy("l_returnflag")

  /** The oracle materializes the repetition semantics literally: each row
    * expanded l_quantity times via lateral generate_series, then plain
    * unweighted quantile_cont over the expansion. */
  val aWeightedSql: String =
    """SELECT l_returnflag,
      |  round(quantile_cont(l_extendedprice, 0.5), 4) AS wp50,
      |  round(quantile_cont(l_extendedprice, 0.9), 4) AS wp90,
      |  count(*) AS w_total
      |FROM (SELECT l_returnflag, l_extendedprice,
      |             unnest(generate_series(1, CAST(l_quantity AS BIGINT))) AS g
      |      FROM lineitem)
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ----------------------------------------------------------------- a_approx
  /** Sketch aggregates (HLL++ / KLL-style). Algorithms differ from DuckDB by
    * design → rows-only gate; FunctionLibSpec asserts error bounds vs exact. */
  def aApprox(spark: SparkSession, dir: String): DataFrame =
    t("orders")(spark, dir)
      .groupBy("o_orderstatus")
      .agg(
        // rsd 0.01 is an HLL++ buffer of 1,639 long columns, so this plan's
        // task binary is ~1 MiB (Spark's "Broadcasting large task binary")
        approx_count_distinct(col("o_custkey"), 0.01).as("acd_cust"),
        round(expr("approx_percentile(o_totalprice, 0.5)"), 2).as("ap50"),
        round(expr("approx_percentile(o_totalprice, 0.95)"), 2).as("ap95"),
        // approx_median (reference: functions-aggregate/src/approx_median.rs)
        // = the 0.5-quantile sketch, but at a COARSER accuracy (1000 vs the
        // 10000 default ap50 uses) so the two columns run independent
        // sketches — emitting the same expression twice could never catch a
        // divergence. FunctionLibSpec bounds both against the exact median.
        round(expr("approx_percentile(o_totalprice, 0.5, 1000)"), 2).as("amed"),
        count(lit(1)).as("n"))
      .orderBy("o_orderstatus")

  // ----------------------------------------------------------------- a_filter
  /** SQL-standard aggregate FILTER clause (reference: DataFusion parses and
    * executes `agg(x) FILTER (WHERE p)` — aggregates with different
    * predicates in one grouped pass, no CASE gymnastics). The same text
    * runs in Spark and DuckDB, so the clause itself is what's verified;
    * Catalyst compiles each filtered aggregate to the same partial-agg
    * two-phase plan as its CASE-desugared form — still ONE shuffle for the
    * whole SELECT. */
  val aFilterSql: String =
    """SELECT l_returnflag,
      |  count(*) FILTER (WHERE l_quantity > 25) AS n_big,
      |  round(sum(l_extendedprice) FILTER (WHERE l_discount > 0.05), 2)
      |    AS disc_rev,
      |  round(avg(l_quantity) FILTER (WHERE l_tax < 0.04), 4)
      |    AS avg_lowtax_qty,
      |  count(*) AS n
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  def aFilter(spark: SparkSession, dir: String): DataFrame = {
    graft.Tables.registerViews(spark, dir)
    spark.sql(aFilterSql)
  }

  // ---------------------------------------------------------------- a_listagg
  /** SQL-standard LISTAGG ... WITHIN GROUP (ORDER BY ...) — the
    * order-sensitive, duplicate-eliminating string aggregation (reference:
    * DataFusion's string_agg takes an ORDER BY and DISTINCT). Spark 4
    * spells it LISTAGG/WITHIN GROUP; DuckDB spells it
    * string_agg(DISTINCT ... ORDER BY ...) — the oracle uses its dialect,
    * the values must agree exactly. Deterministic because the order key is
    * total within each group's distinct set. */
  val aListaggSql: String =
    """SELECT o_orderstatus,
      |  listagg(DISTINCT o_orderpriority, '|')
      |    WITHIN GROUP (ORDER BY o_orderpriority) AS pris,
      |  count(*) AS n
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  def aListagg(spark: SparkSession, dir: String): DataFrame = {
    graft.Tables.registerViews(spark, dir)
    spark.sql(aListaggSql)
  }

  val aListaggOracleSql: String =
    """SELECT o_orderstatus,
      |  string_agg(DISTINCT o_orderpriority, '|' ORDER BY o_orderpriority)
      |    AS pris,
      |  count(*) AS n
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  // ------------------------------------------------------------- a_hll_rollup
  /** Re-aggregatable distinct-count sketches (Spark 4's DataSketches HLL
    * surface; reference approx_distinct is the one-shot form): per-day HLL
    * sketches of the user population, UNIONED into the total — the
    * pre-aggregated-rollup-table pattern that makes 100 TB distinct counts
    * cheap (daily sketch rows are tiny and mergeable; the raw events are
    * touched once, at ingest). Rows-only: sketch binaries aren't portable
    * to DuckDB; the spec bounds the estimate against the exact count. */
  def aHllRollup(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.t(spark, dir, "events")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(hll_sketch_agg(col("user_id"), lit(12)).as("sk"),
        count(lit(1)).as("n_events"))
    daily.agg(
      count(lit(1)).as("n_days"),
      sum("n_events").as("n_events"),
      hll_sketch_estimate(hll_union_agg(col("sk"), lit(false)))
        .as("est_distinct_users"))
  }

  // ------------------------------------------------------------- a_kll_rollup
  /** Re-aggregatable QUANTILE sketches (Spark 4.1's DataSketches KLL
    * surface — the quantile twin of a_hll_rollup; reference
    * approx_percentile_cont's t-digest is the one-shot form): per-day KLL
    * sketches of the value distribution, MERGED into corpus quantiles —
    * the rollup-table pattern that makes 100 TB percentile dashboards
    * cheap: daily sketch rows are ~KB and mergeable with any grouping
    * (day→week→month reuse the same sketches), while `percentile` /
    * `approx_percentile` must re-touch raw events per question. Rows-only
    * (sketch internals aren't portable to DuckDB); the spec bounds every
    * estimate against the exact percentiles at KLL's documented rank
    * error and proves the merge path agrees with a one-shot sketch. */
  def aKllRollup(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.t(spark, dir, "events")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(expr("kll_sketch_agg_double(value)").as("sk"),
        count(lit(1)).as("n_events"))
    daily.agg(
      count(lit(1)).as("n_days"),
      sum("n_events").as("n_events"),
      round(expr(
        "kll_sketch_get_quantile_double(kll_merge_agg_double(sk), 0.5)"), 4)
        .as("est_p50"),
      round(expr(
        "kll_sketch_get_quantile_double(kll_merge_agg_double(sk), 0.9)"), 4)
        .as("est_p90"),
      round(expr(
        "kll_sketch_get_quantile_double(kll_merge_agg_double(sk), 0.99)"), 4)
        .as("est_p99"))
  }

  // -------------------------------------------------------------- a_theta_ops
  /** Distinct-count SET ALGEBRA via theta sketches (Spark 4.1 DataSketches
    * theta surface) — the audience-overlap question neither plain
    * COUNT(DISTINCT) nor HLL can answer from rollups: HLL unions but never
    * intersects; theta sketches close the algebra (union / intersection /
    * difference), so "users who clicked AND bought high-value" or
    * "clicked but never bought" come from two pre-built per-segment
    * sketch rows instead of a re-scan + self-join of raw events. Shape:
    * one partial-aggregated pass builds both segment sketches
    * (conditional inputs, same single scan), the set ops are scalar
    * expressions on the two ~KB blobs. Rows-only (sketch binaries aren't
    * DuckDB-portable); at cardinalities below the sketch's 2^lgK nominal
    * capacity theta is provably EXACT, which the spec asserts literally
    * against the three set-op counts. */
  def aThetaOps(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.t(spark, dir, "events")
    val sketches = ev.agg(
      expr("theta_sketch_agg(CASE WHEN event_type = 'click' THEN user_id END)")
        .as("csk"),
      expr("theta_sketch_agg(CASE WHEN event_type = 'purchase' AND value > 300" +
        " THEN user_id END)").as("psk"))
    sketches.select(
      expr("theta_sketch_estimate(csk)").as("est_clickers"),
      expr("theta_sketch_estimate(psk)").as("est_hi_buyers"),
      expr("theta_sketch_estimate(theta_union(csk, psk))").as("est_either"),
      expr("theta_sketch_estimate(theta_intersection(csk, psk))").as("est_both"),
      expr("theta_sketch_estimate(theta_difference(csk, psk))")
        .as("est_click_only"))
  }

  // -------------------------------------------------------------- f_datetime2
  /** Calendar-arithmetic family — the reference's spark-compat datetime
    * surface beyond f_datetime/f_interval (reference spark/datetime/
    * {add_months,months_between,next_day,last_day,weekofyear,dayofweek,
    * weekday,dayofyear,quarter,date_add,date_sub,make_dt_interval,
    * make_ym_interval,timestamp_seconds,timestamp_millis,
    * to_unix_timestamp,make_timestamp_ltz,make_timestamp_ntz}.slt). Month addition exercises end-of-month clamping
    * (both engines clamp); months_between's 31-day-denominator fraction and
    * next_day's strictly-after contract are emulated in the oracle with the
    * day-arithmetic spelled out, so the hash proves Spark's documented
    * semantics rather than a shared implementation. DuckDB's dayofweek is
    * 0=Sunday (Spark is 1=Sunday) and isodow is 1=Monday (Spark weekday is
    * 0=Monday) — the oracle shifts explicitly. */
  def fDatetime2(spark: SparkSession, dir: String): DataFrame = {
    val od = col("o_orderdate").cast("date")
    t("orders")(spark, dir).select(
        col("o_orderkey"),
        add_months(od, pmod(col("o_orderkey"), lit(13)).cast("int") - 6).as("am"),
        round(months_between(lit("1996-06-15").cast("date"), od), 6).as("mb"),
        next_day(od, "TUE").as("nd"),
        last_day(od).as("ld"),
        weekofyear(od).cast("int").as("woy"),
        dayofweek(od).cast("int").as("dow"),
        weekday(od).cast("int").as("wd"),
        dayofyear(od).cast("int").as("doy"),
        quarter(od).cast("int").as("qt"),
        date_add(od, pmod(col("o_orderkey"), lit(40)).cast("int")).as("da"),
        date_sub(od, 7).as("ds"),
        expr("o_orderdate + make_dt_interval(3, 4, 5, 6)").as("dti"),
        // oracle adds the flat 14 months: Spark applies a ym-interval as one
        // month step (no intermediate Feb-29 → Feb-28 clamp the way chained
        // +1y +2m would clamp)
        expr("CAST(CAST(o_orderdate AS DATE) + make_ym_interval(1, 2) AS DATE)").as("ymi"),
        // round-16 spellings (VERDICT r15 #5): epoch→timestamp constructors,
        // the to_ spelling of unix_timestamp, and the ltz/ntz make_timestamp
        // pair (UTC session ⇒ ltz and ntz agree on the wall clock, so ONE
        // DuckDB make_timestamp oracles both — the tz-dependent divergence
        // is f_tz's spec-gated territory)
        expr("timestamp_seconds(o_orderkey * 7200)").as("tss"),
        expr("timestamp_millis(o_orderkey * 86400500)").as("tsm"),
        expr("to_unix_timestamp(CAST(o_orderdate AS TIMESTAMP))").as("tut"),
        expr("make_timestamp_ltz(1996, 3, CAST(o_orderkey % 28 + 1 AS INT), 12, 30, 45.5)").as("mtl"),
        expr("make_timestamp_ntz(1997, 11, CAST(o_orderkey % 28 + 1 AS INT), 23, 59, 59.25)").as("mtn"))
      .orderBy("o_orderkey")
  }

  val fDatetime2Sql: String =
    """SELECT o_orderkey,
      |  CAST(od + to_months(CAST((((o_orderkey % 13) + 13) % 13) - 6 AS INTEGER)) AS DATE) AS am,
      |  round(CAST((1996 - extract(year FROM od)) * 12 + (6 - extract(month FROM od)) AS DOUBLE)
      |        + CASE WHEN extract(day FROM od) = 15 THEN 0.0
      |               ELSE (15 - extract(day FROM od)) / 31.0 END, 6) AS mb,
      |  od + CAST(CASE WHEN ((2 - dayofweek(od)) % 7 + 7) % 7 = 0 THEN 7
      |                 ELSE ((2 - dayofweek(od)) % 7 + 7) % 7 END AS INTEGER) AS nd,
      |  last_day(od) AS ld,
      |  CAST(week(od) AS INTEGER) AS woy,
      |  CAST(dayofweek(od) + 1 AS INTEGER) AS dow,
      |  CAST(isodow(od) - 1 AS INTEGER) AS wd,
      |  CAST(dayofyear(od) AS INTEGER) AS doy,
      |  CAST(quarter(od) AS INTEGER) AS qt,
      |  od + CAST((o_orderkey % 40 + 40) % 40 AS INTEGER) AS da,
      |  od - 7 AS ds,
      |  o_orderdate + to_days(3) + to_hours(4) + to_minutes(5) + to_seconds(6) AS dti,
      |  CAST(od + to_months(14) AS DATE) AS ymi,
      |  make_timestamp(o_orderkey * 7200 * 1000000) AS tss,
      |  make_timestamp(o_orderkey * 86400500 * 1000) AS tsm,
      |  CAST(epoch(o_orderdate) AS BIGINT) AS tut,
      |  make_timestamp(1996, 3, CAST(o_orderkey % 28 + 1 AS INTEGER), 12, 30, 45.5) AS mtl,
      |  make_timestamp(1997, 11, CAST(o_orderkey % 28 + 1 AS INTEGER), 23, 59, 59.25) AS mtn
      |FROM (SELECT o_orderkey, o_orderdate, CAST(o_orderdate AS DATE) AS od
      |      FROM orders) ORDER BY o_orderkey""".stripMargin

  // ----------------------------------------------------------------- f_math2
  /** Second math family — reference spark-compat {bround,hypot,expm1,log1p,
    * sec,csc,e,conv,bin,width_bucket,rint,positive,negative,log2}.slt. Banker's
    * rounding (bround/rint, IEEE round-half-even) is pinned on EXACT halves
    * constructed from integers (p_size + 0.5 is exactly representable), so
    * the oracle can state the even neighbor in closed form instead of
    * trusting DuckDB's (half-away) round; conv round-trips decimal↔hex↔
    * binary against DuckDB's to_hex/bin; width_bucket's formula is integer
    * math, stated explicitly. Transcendentals round to 6 dp (the f_math/
    * f_trig discipline) to absorb last-ulp libm differences. */
  def fMath2(spark: SparkSession, dir: String): DataFrame = {
    val d = col("p_size").cast("double") / 50.0
    t("part")(spark, dir).select(
        col("p_partkey"),
        bround(col("p_size") + 0.5, 0).as("br0"),
        bround(col("p_retailprice"), -1).as("brt"),
        round(hypot(col("p_size").cast("double"), lit(7.0)), 6).as("hy"),
        round(expm1(d), 6).as("em"),
        round(log1p(d), 6).as("l1"),
        expr("round(sec(p_size / 50.0), 6)").as("sc"),
        expr("round(csc(p_size / 50.0), 6)").as("cs"),
        expr("round(e(), 6)").as("ee"),
        conv(col("p_partkey").cast("string"), 10, 16).as("cv16"),
        conv(bin(col("p_size")), 2, 10).as("cv2"),
        bin(col("p_size")).as("bn"),
        expr("width_bucket(p_size, 1, 51, 5)").as("wb"),
        rint(col("p_size") + 0.5).as("rt"),
        expr("positive(p_size)").as("ps"),
        expr("negative(p_size)").as("ng"),
        // round-16 spelling (VERDICT r15 #5): log2 joins log/log10/ln
        round(log2(col("p_partkey") + lit(2)), 6).as("lg2"))
      .orderBy("p_partkey")
  }

  /** DuckDB: the tens-place half (price ends in 5.0 exactly — representable,
    * prices carry one decimal) routes to the explicit even-tens CASE; all
    * other prices agree with plain round(v,-1). */
  val fMath2Sql: String =
    """SELECT p_partkey,
      |  CAST(CASE WHEN p_size % 2 = 0 THEN p_size ELSE p_size + 1 END AS DOUBLE) AS br0,
      |  CASE WHEN CAST(p_retailprice * 10 AS BIGINT) % 100 = 50
      |       THEN CASE WHEN CAST(floor(p_retailprice / 10) AS BIGINT) % 2 = 0
      |                 THEN floor(p_retailprice / 10) * 10
      |                 ELSE (floor(p_retailprice / 10) + 1) * 10 END
      |       ELSE round(p_retailprice, -1) END AS brt,
      |  round(sqrt(CAST(p_size AS DOUBLE) * p_size + 49.0), 6) AS hy,
      |  round(exp(p_size / 50.0) - 1, 6) AS em,
      |  round(ln(1 + p_size / 50.0), 6) AS l1,
      |  round(1.0 / cos(p_size / 50.0), 6) AS sc,
      |  round(1.0 / sin(p_size / 50.0), 6) AS cs,
      |  round(exp(1.0), 6) AS ee,
      |  to_hex(p_partkey) AS cv16,
      |  CAST(p_size AS VARCHAR) AS cv2,
      |  bin(p_size) AS bn,
      |  CAST((p_size - 1) // 10 + 1 AS BIGINT) AS wb,
      |  CAST(CASE WHEN p_size % 2 = 0 THEN p_size ELSE p_size + 1 END AS DOUBLE) AS rt,
      |  p_size AS ps,
      |  -p_size AS ng,
      |  round(log2(p_partkey + 2), 6) AS lg2
      |FROM part ORDER BY p_partkey""".stripMargin

  // --------------------------------------------------------------- f_string2
  /** Second string family — reference spark-compat {soundex,luhn_check,elt,
    * format_number,format_string,mask,char,instr,position,to_char,
    * btrim}.slt.
    * soundex is pinned as a KNOWN-ANSWER check (the f_hash discipline): the
    * part nouns' codes are hand-derived from the published US-census
    * algorithm (first letter + bfpv→1 cgjkqsxz→2 dt→3 l→4 mn→5 r→6, vowels
    * hwy skipped, adjacent duplicates collapsed, zero-padded to 4), so the
    * oracle CASE is independent of any engine. luhn_check uses the canonical
    * published test vector 79927398713 and its off-by-one. mask's default
    * alphabet (upper→X lower→x digit→n, punctuation kept) is emulated with
    * three regexp passes over the same constructed string. fn2's oracle
    * composes format_number's thousands grouping from the integer part
    * (DuckDB's format rejects ',' on floats) plus an exact 2-digit
    * fraction — exact because prices carry ONE decimal (no rounding-mode
    * ambiguity at 2 dp) and are positive (ADVICE r15: the old printf
    * spelling silently depended on the generator capping prices <1000). */
  def fString2(spark: SparkSession, dir: String): DataFrame =
    t("part")(spark, dir).select(
        col("p_partkey"),
        soundex(element_at(split(col("p_name"), " "), 2)).as("sx"),
        expr("luhn_check('79927398713')").as("lc1"),
        expr("luhn_check('79927398714')").as("lc2"),
        expr("elt(1 + p_partkey % 2, 'alpha', p_name)").as("el"),
        format_number(col("p_partkey") * lit(1234567L), 0).as("fn0"),
        format_number(col("p_retailprice"), 2).as("fn2"),
        format_string("%s#%04d", col("p_name"), col("p_size")).as("fs"),
        expr("mask(concat(upper(substring(p_name, 1, 1)), substring(p_name, 2), '-', CAST(p_size AS STRING)))").as("mk"),
        expr("to_char(p_retailprice, '0000.00')").as("tc"),
        expr("char(65 + p_size % 26)").as("ch"),
        instr(col("p_name"), "o").cast("int").as("ins"),
        expr("CAST(position('e' IN p_name) AS INT)").as("pos2"),
        // sentences() emits array<array<string>>; the driver compare
        // rejects array columns, so the structure is pinned through
        // canonical JSON
        expr("to_json(sentences('Hello world. Nice day.'))").as("sen"),
        // round-16 spelling (VERDICT r15 #5): btrim joins trim/ltrim/rtrim
        // (p_name's vocab never starts or ends with 'x', so the char-set
        // trim stops exactly at the wrapper — verified against the data)
        expr("btrim('  graft  ')").as("bt0"),
        expr("btrim(concat('xx', p_name, 'xx'), 'x')").as("bt1"))
      .orderBy("p_partkey")

  val fString2Sql: String =
    """SELECT p_partkey,
      |  CASE split_part(p_name, ' ', 2)
      |    WHEN 'anvil' THEN 'A514' WHEN 'bolt' THEN 'B430'
      |    WHEN 'gear' THEN 'G600' WHEN 'gizmo' THEN 'G250'
      |    WHEN 'plate' THEN 'P430' WHEN 'ring' THEN 'R520'
      |    WHEN 'rod' THEN 'R300' WHEN 'widget' THEN 'W323' END AS sx,
      |  true AS lc1,
      |  false AS lc2,
      |  CASE WHEN p_partkey % 2 = 0 THEN 'alpha' ELSE p_name END AS el,
      |  format('{:,}', CAST(p_partkey * 1234567 AS BIGINT)) AS fn0,
      |  format('{:,}', CAST(floor(p_retailprice) AS BIGINT)) || '.' ||
      |    lpad(CAST(CAST(round(p_retailprice * 100) AS BIGINT) % 100 AS VARCHAR), 2, '0') AS fn2,
      |  printf('%s#%04d', p_name, CAST(p_size AS BIGINT)) AS fs,
      |  regexp_replace(regexp_replace(regexp_replace(
      |    upper(substr(p_name, 1, 1)) || substr(p_name, 2) || '-' || CAST(p_size AS VARCHAR),
      |    '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'), '[0-9]', 'n', 'g') AS mk,
      |  printf('%07.2f', p_retailprice) AS tc,
      |  chr(65 + p_size % 26) AS ch,
      |  CAST(strpos(p_name, 'o') AS INTEGER) AS ins,
      |  CAST(position('e' IN p_name) AS INTEGER) AS pos2,
      |  '[["Hello","world"],["Nice","day"]]' AS sen,
      |  'graft' AS bt0,
      |  trim('xx' || p_name || 'xx', 'x') AS bt1
      |FROM part ORDER BY p_partkey""".stripMargin

  // ------------------------------------------------------------------- f_try
  /** TRY-variant arithmetic/conversion family — reference spark-compat
    * {try_add,try_subtract,try_multiply,try_divide,try_to_number,
    * try_to_timestamp,try_to_binary}.slt + try_element_at. Every error case
    * (bigint overflow, divide-by-zero, unparseable number/timestamp/hex,
    * out-of-bounds index) must yield NULL, never an error, independent of
    * the ANSI flag; the oracle computes the overflow legs in HUGEINT and
    * CASEs the out-of-range results to NULL, so the hash proves the NULL
    * contract rather than sharing a wrapping bug. */
  def fTry(spark: SparkSession, dir: String): DataFrame =
    t("part")(spark, dir).select(
        col("p_partkey"),
        try_add(col("p_partkey"), lit(10L)).as("ta_ok"),
        try_add(lit(Long.MaxValue), col("p_size").cast("long")).as("ta_of"),
        try_subtract(lit(Long.MinValue), col("p_size").cast("long")).as("ts_of"),
        try_multiply(lit(Long.MaxValue / 2), col("p_size").cast("long")).as("tm"),
        try_divide(col("p_size").cast("double"), pmod(col("p_size"), lit(3)).cast("double")).as("td"),
        expr("CAST(try_to_number('1,234.56', '9,999.99') AS DOUBLE)").as("tn_ok"),
        expr("CAST(try_to_number('12ab', '9999') AS DOUBLE)").as("tn_bad"),
        expr("try_to_timestamp('1996-02-29 12:30:00')").as("tt_ok"),
        expr("try_to_timestamp('1995-13-01')").as("tt_bad"),
        expr("try_element_at(array(p_size), 1)").as("te_ok"),
        expr("try_element_at(array(p_size), 2)").as("te_bad"),
        expr("hex(try_to_binary('4F6B', 'hex'))").as("tb_ok"),
        expr("hex(try_to_binary('ZZ', 'hex'))").as("tb_bad"))
      .orderBy("p_partkey")

  val fTrySql: String =
    """SELECT p_partkey,
      |  p_partkey + 10 AS ta_ok,
      |  CAST(NULL AS BIGINT) AS ta_of,
      |  CAST(NULL AS BIGINT) AS ts_of,
      |  CASE WHEN p_size <= 2
      |       THEN CAST(CAST(4611686018427387903 AS HUGEINT) * p_size AS BIGINT)
      |       ELSE NULL END AS tm,
      |  CASE WHEN p_size % 3 = 0 THEN NULL
      |       ELSE CAST(p_size AS DOUBLE) / (p_size % 3) END AS td,
      |  1234.56 AS tn_ok,
      |  CAST(NULL AS DOUBLE) AS tn_bad,
      |  TIMESTAMP '1996-02-29 12:30:00' AS tt_ok,
      |  CAST(NULL AS TIMESTAMP) AS tt_bad,
      |  p_size AS te_ok,
      |  CAST(NULL AS INTEGER) AS te_bad,
      |  '4F6B' AS tb_ok,
      |  CAST(NULL AS VARCHAR) AS tb_bad
      |FROM part ORDER BY p_partkey""".stripMargin

  // ---------------------------------------------------------------- f_nondet
  /** Nondeterministic + session-introspection surfaces — reference
    * spark-compat {uuid,rand,randn,monotonically_increasing_id,
    * spark_partition_id,input_file_name,typeof,equal_null,assert_true,
    * version,current_*,now,current_date,current_timestamp,localtimestamp,
    * curdate,unix_timestamp}.slt. Raw values are nondeterministic or
    * environment-bound, so every projected column is a DETERMINISTIC
    * PROPERTY of the value (format regex, bound check, uniqueness via a
    * keyed window) and the oracle states the expected property outcome as a
    * constant — the same discipline the rows-only entries use, but here the
    * properties are strong enough to be fully hash-oracled. typeof runs on
    * literals (not columns) so the expected type strings are
    * schema-independent. */
  def fNondet(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    t("nation")(spark, dir)
      // input_file_name is only defined in the scan stage — evaluated after
      // the mid-uniqueness window's exchange it returns '' — so the property
      // is captured here, before any shuffle
      .withColumn("ifn0", input_file_name().endsWith(".parquet"))
      .withColumn("ibl0", expr("input_file_block_length()") > 0)
      .withColumn("ibs0", expr("input_file_block_start()") >= 0)
      .withColumn("mid", monotonically_increasing_id())
      .withColumn("mid_uniq",
        (count(lit(1)).over(Window.partitionBy(col("mid"))) === 1).as("mid_uniq"))
      .select(
        col("n_nationkey"),
        expr("typeof(CAST(1 AS BIGINT))").as("ty_l"),
        expr("typeof(CAST(1.5 AS DOUBLE))").as("ty_d"),
        expr("typeof(DATE '1995-01-01')").as("ty_dt"),
        expr("typeof(array(1, 2))").as("ty_a"),
        expr("typeof(named_struct('a', 1))").as("ty_s"),
        expr("typeof(map('k', 1))").as("ty_m"),
        expr("equal_null(n_name, n_name)").as("en1"),
        expr("equal_null(nullif(n_nationkey % 5, 0), nullif(n_nationkey % 5, 0))").as("en2"),
        expr("equal_null(nullif(n_nationkey, n_nationkey), n_nationkey)").as("en3"),
        expr("CAST(assert_true(n_nationkey >= 0) AS STRING)").as("at"),
        expr("uuid() RLIKE '^[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}$'").as("uu"),
        expr("length(uuid())").as("uu36"),
        (col("mid") >= 0).as("mid_nonneg"),
        col("mid_uniq"),
        (spark_partition_id() >= 0 && spark_partition_id() < 2048).as("pid"),
        col("ifn0").as("ifn"),
        expr("length(version()) > 0").as("vr"),
        expr("reflect('java.lang.Math', 'max', n_nationkey, 10)").as("rf"),
        expr("java_method('java.lang.Math', 'min', n_nationkey, 10)").as("jm"),
        col("ibl0").as("ibl"),
        col("ibs0").as("ibs"),
        expr("current_catalog()").as("cc"),
        expr("length(user()) > 0").as("cu"),
        expr("rand() >= 0.0 AND rand() < 1.0").as("rd"),
        expr("NOT isnan(randn())").as("rn"),
        // round-16 (VERDICT r15 #5): the last un-entried clock reads —
        // now()/current_timestamp/current_date/localtimestamp/curdate/
        // no-arg unix_timestamp. Spark folds every clock expression in a
        // query to ONE queryStartTime literal (ComputeCurrentTime), so the
        // cross-function identities below are deterministic properties,
        // not races (no midnight flake: current_date derives from the
        // same instant now() returns, in the same UTC session zone).
        expr("now() >= TIMESTAMP '2024-01-01 00:00:00' AND " +
          "now() < TIMESTAMP '2100-01-01 00:00:00'").as("nw"),
        expr("current_timestamp() = now()").as("cts"),
        expr("current_date() = to_date(now())").as("cd"),
        expr("to_date(localtimestamp()) = current_date()").as("lts"),
        expr("curdate() = current_date()").as("cdal"),
        expr("unix_timestamp() >= 1704067200").as("uts"))
      .orderBy("n_nationkey")
  }

  val fNondetSql: String =
    """SELECT n_nationkey,
      |  'bigint' AS ty_l, 'double' AS ty_d, 'date' AS ty_dt,
      |  'array<int>' AS ty_a, 'struct<a:int>' AS ty_s, 'map<string,int>' AS ty_m,
      |  true AS en1, true AS en2, false AS en3,
      |  CAST(NULL AS VARCHAR) AS at,
      |  true AS uu, 36 AS uu36,
      |  true AS mid_nonneg, true AS mid_uniq,
      |  true AS pid, true AS ifn, true AS vr,
      |  CAST(greatest(n_nationkey, 10) AS STRING) AS rf,
      |  CAST(least(n_nationkey, 10) AS STRING) AS jm,
      |  true AS ibl, true AS ibs,
      |  'spark_catalog' AS cc, true AS cu, true AS rd, true AS rn,
      |  true AS nw, true AS cts, true AS cd, true AS lts, true AS cdal,
      |  true AS uts
      |FROM nation ORDER BY n_nationkey""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "a_hll_rollup" -> (aHllRollup _), "a_kll_rollup" -> (aKllRollup _),
    "a_theta_ops" -> (aThetaOps _),
    "f_string" -> (fString _), "f_unicode" -> (fUnicode _), "f_math" -> (fMath _),
    "f_trig" -> (fTrig _), "f_bitwise" -> (fBitwise _),
    "f_datetime" -> (fDatetime _), "f_interval" -> (fInterval _),
    "f_datetime2" -> (fDatetime2 _), "f_math2" -> (fMath2 _),
    "f_string2" -> (fString2 _), "f_try" -> (fTry _),
    "f_nondet" -> (fNondet _),
    "f_tz" -> (fTz _),
    "f_decimal" -> (fDecimal _), "f_cast" -> (fCast _),
    "f_regex" -> (fRegex _), "f_crypto" -> (fCrypto _),
    "f_hash" -> (fHash _),
    "f_conditional" -> (fConditional _), "f_array" -> (fArray _),
    "f_struct" -> (fStruct _), "f_map" -> (fMap _), "f_json" -> (fJson _),
    "f_variant" -> (fVariant _), "f_url" -> (fUrl _), "f_xml" -> (fXml _),
    "f_csv" -> (fCsv _), "f_collate" -> (fCollate _),
    "f_like" -> (fLike _),
    "a_stats" -> (aStats _), "a_regr_ss" -> (aRegrSs _),
    "a_order_stats" -> (aOrderStats _),
    "a_collect" -> (aCollect _), "a_firstlast" -> (aFirstLast _),
    "a_bitbool" -> (aBitBool _), "a_weighted" -> (aWeighted _),
    "a_filter" -> (aFilter _), "a_listagg" -> (aListagg _),
    "a_approx" -> (aApprox _))

  /** a_approx intentionally absent (rows-only). */
  val oracle: Map[String, String] = Map(
    "f_string" -> fStringSql, "f_unicode" -> fUnicodeSql, "f_math" -> fMathSql,
    "f_trig" -> fTrigSql, "f_bitwise" -> fBitwiseSql,
    "f_datetime" -> fDatetimeSql, "f_interval" -> fIntervalSql,
    "f_datetime2" -> fDatetime2Sql, "f_math2" -> fMath2Sql,
    "f_string2" -> fString2Sql, "f_try" -> fTrySql,
    "f_nondet" -> fNondetSql,
    "f_decimal" -> fDecimalSql, "f_cast" -> fCastSql,
    "f_regex" -> fRegexSql, "f_crypto" -> fCryptoSql,
    "f_hash" -> fHashSql,
    "f_conditional" -> fConditionalSql, "f_array" -> fArraySql,
    "f_struct" -> fStructSql, "f_map" -> fMapSql, "f_json" -> fJsonSql,
    "f_variant" -> fVariantSql, "f_url" -> fUrlSql, "f_xml" -> fXmlSql,
    "f_csv" -> fCsvSql, "f_collate" -> fCollateSql,
    "f_like" -> fLikeSql,
    "a_stats" -> aStatsSql, "a_regr_ss" -> aRegrSsSql,
    "a_order_stats" -> aOrderStatsSql,
    "a_collect" -> aCollectSql, "a_firstlast" -> aFirstLastSql,
    "a_bitbool" -> aBitBoolSql, "a_weighted" -> aWeightedSql,
    "a_filter" -> aFilterSql, "a_listagg" -> aListaggOracleSql)
}
