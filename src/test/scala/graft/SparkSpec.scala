package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.StaticSQLConf
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs. sf0.001 keeps suites fast. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  val sf: String = "/root/testdata/sf0.001"
  val sf01: String = "/root/testdata/sf0.01"

  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = () // session shared across suites; JVM exit cleans up
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the specs share one JVM, so one generated-class cache; size it as
      // graft's session factory does
      .config(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key,
        Graft.codegenCacheEntries.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
