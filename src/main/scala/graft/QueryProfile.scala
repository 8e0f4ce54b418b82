package graft

import scala.collection.mutable
import org.apache.spark.scheduler._

/** Per-job attribution for a bench entry (round 17 measurement tooling,
  * guide §1): run a named registry query exactly as [[Bench]] does (warm
  * codegen on sf0.001, then one cold timed run at the target SF) and print
  * every Spark JOB the action launched — wall, stage count, task count,
  * total task time — so a query's cost decomposes into its physical
  * passes (which exchange/aggregate/iteration the time actually lives in).
  *
  * Usage: runMain graft.QueryProfile <sfDir> <name1,name2,...>
  */
object QueryProfile {
  private final class JobLog extends SparkListener {
    case class Job(id: Int, t0: Long, site: String, var t1: Long = 0L,
      var stages: Int = 0, var tasks: Int = 0, var taskMs: Long = 0L,
      var shufReadB: Long = 0L, var shufWriteB: Long = 0L)
    val jobs = mutable.LinkedHashMap[Int, Job]()
    private val stageToJob = mutable.HashMap[Int, Int]()
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val site = Option(e.properties)
        .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("")
      jobs(e.jobId) = Job(e.jobId, e.time, site)
      e.stageIds.foreach(s => stageToJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.t1 = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val si = e.stageInfo
        stageToJob.get(si.stageId).flatMap(jobs.get).foreach { j =>
          j.stages += 1
          j.tasks += si.numTasks
          j.taskMs += si.taskMetrics.executorRunTime
          j.shufReadB += si.taskMetrics.shuffleReadMetrics.totalBytesRead
          j.shufWriteB += si.taskMetrics.shuffleWriteMetrics.bytesWritten
        }
      }
    def reset(): Unit = synchronized { jobs.clear(); stageToJob.clear() }
    def report(): String = synchronized {
      jobs.values.map { j =>
        f"  job ${j.id}%3d wall=${(j.t1 - j.t0) / 1000.0}%7.3fs " +
          f"stages=${j.stages}%2d tasks=${j.tasks}%4d " +
          f"taskTime=${j.taskMs / 1000.0}%8.3fs " +
          f"shufR=${j.shufReadB / 1e6}%8.2fMB shufW=${j.shufWriteB / 1e6}%8.2fMB ${j.site}"
      }.mkString("\n")
    }
  }

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val shuffle = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus)
    val spark = Graft.session(s"local[$cpus]", "graft-queryprofile",
      shuffle.toInt)
    spark.sparkContext.setLogLevel("WARN")
    val log = new JobLog
    spark.sparkContext.addSparkListener(log)
    def runOnce(n: String, d: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(n)(spark, d)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    names.foreach { n =>
      runOnce(n, "/root/testdata/sf0.001") // codegen warm
      runOnce(n, dir) // AQE-shape warm at target SF
      spark.catalog.clearCache(); System.gc()
      log.reset()
      val w = runOnce(n, dir)
      Thread.sleep(800) // listener bus drain
      println(f"== $n wall=$w%7.3fs")
      println(log.report())
    }
    spark.stop()
  }
}
