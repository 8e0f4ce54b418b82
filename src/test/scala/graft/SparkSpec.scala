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

  /** `build`'s result and the Spark jobs submitted on this thread while it
    * runs. Listener events arrive asynchronously, so a fence job in a
    * second group runs after `build`: once the listener has seen the fence
    * start, it has seen every earlier job start too. */
  def jobsDuring[A](build: => A): (A, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"plan-audit-${java.util.UUID.randomUUID}"
    val fence = s"$group-fence"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(g => seen.add(g))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "construction under audit")
      val result = build
      sc.setJobGroup(fence, "listener fence")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!seen.contains(fence) && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(seen.contains(fence), "listener never saw the fence job")
      (result, seen.toArray.count(_ == group))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
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
