package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Queries exercising graft's native Catalyst expressions (SURVEY §2.10)
  * against independent DuckDB implementations. */
object NativeOps {

  /** gcd/lcm/hamming over customer keys; date_bin over orders would change
    * row grain, so it gets its own query below. */
  def fNative(spark: SparkSession, dir: String): DataFrame = {
    Tables.t(spark, dir, "customer").select(
        col("c_custkey"),
        expr("gcd(c_custkey, cast(c_nationkey as bigint))").as("g"),
        expr("lcm(cast(c_nationkey as bigint) + 1, 6L)").as("l"),
        expr("hamming_distance(c_custkey, cast(c_nationkey as bigint))").as("hd"))
      .orderBy("c_custkey")
  }

  val fNativeSql: String =
    """SELECT c_custkey,
      |  gcd(c_custkey, CAST(c_nationkey AS BIGINT)) AS g,
      |  lcm(CAST(c_nationkey AS BIGINT) + 1, 6) AS l,
      |  CAST(bit_count(xor(c_custkey, CAST(c_nationkey AS BIGINT))) AS INTEGER) AS hd
      |FROM customer ORDER BY c_custkey""".stripMargin

  /** Native date_bin_us: 10-day bins anchored at 1995-01-01, cross-checked
    * against DuckDB epoch arithmetic (and, transitively, against f_datetime's
    * pure-arithmetic Spark form). */
  def fDateBin(spark: SparkSession, dir: String): DataFrame = {
    Tables.t(spark, dir, "orders")
      .withColumn("ots", col("o_orderdate").cast("timestamp"))
      .select(
        expr("date_bin_us(864000000000L, ots, TIMESTAMP '1995-01-01 00:00:00')").as("bin"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"))
      .orderBy("bin")
  }

  val fDateBinSql: String =
    """SELECT make_timestamp(epoch_us(o_orderdate)
      |         - ((((epoch_us(o_orderdate) - 788918400000000) % 864000000000)
      |             + 864000000000) % 864000000000)) AS bin,
      |       count(*) AS n
      |FROM orders GROUP BY 1 ORDER BY bin""".stripMargin

  /** Native cosine_similarity vs DuckDB list_cosine_similarity: similarity of
    * each embedding with its own reverse (deterministic second vector, no
    * join needed). */
  def fCosine(spark: SparkSession, dir: String): DataFrame = {
    Tables.t(spark, dir, "embeddings").select(
        col("vec_id"),
        round(expr("cosine_similarity(embedding, reverse(embedding))"), 6).as("cos_rev"),
        round(expr("cosine_similarity(embedding, embedding)"), 6).as("cos_self"))
      .orderBy("vec_id")
  }

  val fCosineSql: String =
    """SELECT vec_id,
      |  round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
      |        CAST(list_reverse(embedding) AS DOUBLE[])), 6) AS cos_rev,
      |  round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
      |        CAST(embedding AS DOUBLE[])), 6) AS cos_self
      |FROM embeddings ORDER BY vec_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "f_native" -> (fNative _), "f_date_bin" -> (fDateBin _), "f_cosine" -> (fCosine _))

  val oracle: Map[String, String] = Map(
    "f_native" -> fNativeSql, "f_date_bin" -> fDateBinSql, "f_cosine" -> fCosineSql)
}
