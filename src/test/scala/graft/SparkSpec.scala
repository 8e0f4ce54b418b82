package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs. sf0.001 keeps suites fast. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  val sf: String = "/root/testdata/sf0.001"
  val sf01: String = "/root/testdata/sf0.01"

  lazy val spark: SparkSession = SparkSpec.session

  /** Run `body` on `spark.newSession()`: the same SparkContext, catalog,
    * cache and extension functions, but its own SQLConf and temp views, so
    * whatever conf the body sets ends with it. The post-reorder rules are
    * installed again because `extraOptimizations` belongs to a session and
    * does not carry over. */
  def withSession[A](body: SparkSession => A): A = {
    val s = spark.newSession()
    Graft.installResidualPlacement(s)
    body(s)
  }

  override def afterAll(): Unit = () // session shared across suites; JVM exit cleans up
}

object SparkSpec {
  /** The session users get, from graft's own factory: extension, CBO on,
    * post-reorder rules, and the generated-class cache sized for the
    * suite (the specs share one JVM, so one cache). */
  lazy val session: SparkSession = {
    val s = Graft.session("local[4]", "graft-test", shufflePartitions = 4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
