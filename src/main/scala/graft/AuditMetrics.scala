package graft

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Conf sets and the host stamp shared by the measurement mains. */
private[graft] object AuditEnv {
  /** Parse a `k=v;k=v` conf set. Empty segments (a stray `;;` or trailing
    * `;`) are skipped; a segment without '=' fails with a message naming
    * the bad segment, not a bare MatchError after the expensive ANALYZE
    * has already run. */
  def confs(spec: String): Seq[(String, String)] =
    spec.split(";").map(_.trim).filter(_.nonEmpty).toSeq.map { kv =>
      val i = kv.indexOf('=')
      require(i > 0, s"conf set: segment '$kv' is not k=v")
      kv.take(i).trim -> kv.drop(i + 1).trim
    }

  def applyConfs(spark: SparkSession, spec: String): Unit =
    confs(spec).foreach { case (k, v) => spark.conf.set(k, v) }

  /** `body` with the conf set applied; the previous values come back
    * afterwards, so alternated legs never see each other's confs. */
  def withConfs[A](spark: SparkSession, spec: String)(body: => A): A = {
    val prev = confs(spec).map { case (k, _) => k -> spark.conf.getOption(k) }
    applyConfs(spark, spec)
    try body
    finally prev.reverse.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Host-state snapshot as a JSON object — shared by [[Bench]] and
    * [[Audit]] so every measurement artifact declares its own
    * environment (VERDICT r15 #6, extended to the audits in round 17 per
    * VERDICT r16 #3: the r16 driver bench read 9% high with a "clean"
    * load1 — load15 4.55 vs the clean-run ~1.7 was the tell, so the
    * documented contamination rule now keys on load15/PSI, and the audit
    * mains sample at START and END — a sweep that begins clean and ends
    * loaded was raced mid-run).
    *
    * Interpretation rule (SURVEY §6 / BASELINE.md): treat the artifact as
    * a CONTAMINATED UPPER BOUND when any of
    *   java_procs > 0  (a non-ancestor JVM shared the box at sample
    *     time — the sbt launcher parent is excluded below), or
    *   cpu_pressure_avg60 > 5  (anything was CPU-stalled >5% of the last
    *     minute — this JVM alone on a 32-core box reads ~0), or
    *   for the BENCH, end load15 > 3.5  (≈2× its clean reference of
    *     ~1.7; load1 is too twitchy to catch sustained ~9%
    *     contamination). An audit's own sustained 32-thread
    *     queries push END load15 past 20 legitimately, and their START
    *     load15 can carry a PREVIOUS run's decay on a measurement day —
    *     for audits the start check is load1 + PSI + java_procs.
    */
  def hostJson(cores: String): String = {
    def readFile(p: String): Option[String] =
      try Some(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(p)), "UTF-8")) catch { case _: Throwable => None }
    val load = readFile("/proc/loadavg").map(_.split("\\s+").take(3))
      .getOrElse(Array("-1", "-1", "-1"))
    // exclude this JVM AND its ancestor chain: a forked `sbt runMain`
    // always has the sbt launcher JVM as its parent, which is waiting,
    // not competing — counting it made every legitimate run read
    // java_procs=1 (BENCH_r16) and trained readers to ignore the field
    val excluded = {
      var pids = Set(ProcessHandle.current().pid())
      var p = ProcessHandle.current().parent()
      while (p.isPresent) { pids += p.get.pid(); p = p.get.parent() }
      pids
    }
    val javaProcs =
      try ProcessHandle.allProcesses().filter(p =>
          !excluded.contains(p.pid()) && p.info().command()
            .map[Boolean](_.contains("java")).orElse(false))
        .count()
      catch { case _: Throwable => -1L }
    val psi = readFile("/proc/pressure/cpu")
      .flatMap(_.linesIterator.find(_.startsWith("some")))
      .flatMap(_.split("\\s+").collectFirst {
        case kv if kv.startsWith("avg60=") => kv.stripPrefix("avg60=") })
      .getOrElse("-1")
    s"""{"load1":${load(0)},"load5":${load(1)},"load15":${load(2)},""" +
      s""""java_procs":$javaProcs,"cpu_pressure_avg60":$psi,""" +
      s""""cores":"$cores"}"""
  }
}

/** Task and job metrics shared by [[Audit]]'s walls and jobs modes and
  * [[Bench]] under SPARK_GRAFT_BENCH_METRICS: a decade wall is ATTRIBUTED,
  * not guessed at. A super-linear step between decades reads either as
  * spill (memory/disk spill bytes go nonzero), as I/O (input bytes
  * outgrow CPU time), or as genuine extra work (CPU time tracks the wall).
  * Per job it keeps the rows of [[jobTable]]. Listener delivery is async;
  * callers read after a pause of at least 1 s, which bounds the
  * undercount to the final in-flight events of a finished query. */
private[graft] final class AuditMetrics extends SparkListener {
  val bytesRead = new AtomicLong
  val shuffleWrite = new AtomicLong
  val memSpill = new AtomicLong
  val diskSpill = new AtomicLong
  val runTimeMs = new AtomicLong
  val cpuTimeNs = new AtomicLong
  // the run−cpu gap DECOMPOSED (round 17 — the q22 1000× wall showed a
  // 43% cpu/run gap no other query had, and "waiting, not working" needs
  // a name before it can be fixed): gc = jvmGCTime (counted in run, not
  // cpu), fetchWait = blocked on shuffle-block arrival, shufWriteWait =
  // blocked writing shuffle blocks. What remains after these three is
  // I/O wait in the scan (parquet reads show up in neither).
  val gcTimeMs = new AtomicLong
  val fetchWaitMs = new AtomicLong
  val shufWriteNs = new AtomicLong

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val m = te.taskMetrics
    if (m != null) {
      bytesRead.addAndGet(m.inputMetrics.bytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      memSpill.addAndGet(m.memoryBytesSpilled)
      diskSpill.addAndGet(m.diskBytesSpilled)
      runTimeMs.addAndGet(m.executorRunTime)
      cpuTimeNs.addAndGet(m.executorCpuTime)
      gcTimeMs.addAndGet(m.jvmGCTime)
      fetchWaitMs.addAndGet(m.shuffleReadMetrics.fetchWaitTime)
      shufWriteNs.addAndGet(m.shuffleWriteMetrics.writeTime)
    }
  }

  private final class JobRow(val site: String, val t0: Long) {
    var t1, taskMs, shufR, shufW = 0L
    var stages, tasks = 0
  }
  private val jobs = mutable.LinkedHashMap[Int, JobRow]()
  private val stageToJob = mutable.HashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = new JobRow(Option(e.properties)
      .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse(""),
      e.time)
    e.stageIds.foreach(stageToJob(_) = e.jobId)
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
        j.shufR += si.taskMetrics.shuffleReadMetrics.totalBytesRead
        j.shufW += si.taskMetrics.shuffleWriteMetrics.bytesWritten
      }
    }

  def reset(): Unit = {
    Seq(bytesRead, shuffleWrite, memSpill, diskSpill, runTimeMs, cpuTimeNs,
      gcTimeMs, fetchWaitMs, shufWriteNs).foreach(_.set(0L))
    synchronized { jobs.clear(); stageToJob.clear() }
  }

  def jobCount: Int = synchronized(jobs.size)

  /** One line per job since [[reset]]: wall, stages, tasks, total task
    * time, shuffle bytes and call site. */
  def jobTable: String = synchronized {
    jobs.map { case (id, j) =>
      f"  job $id%3d wall=${(j.t1 - j.t0) / 1000.0}%7.3fs " +
        f"stages=${j.stages}%2d tasks=${j.tasks}%4d " +
        f"taskTime=${j.taskMs / 1000.0}%8.3fs " +
        f"shufR=${j.shufR / 1e6}%8.2fMB shufW=${j.shufW / 1e6}%8.2fMB ${j.site}"
    }.mkString("\n")
  }

  def report: String = {
    def gb(b: Long): String = f"${b / 1e9}%.1fGB"
    f"read=${gb(bytesRead.get)} shufW=${gb(shuffleWrite.get)} " +
      f"spillMem=${gb(memSpill.get)} spillDisk=${gb(diskSpill.get)} " +
      f"cpu=${cpuTimeNs.get / 1e9}%.0fs run=${runTimeMs.get / 1e3}%.0fs " +
      f"gc=${gcTimeMs.get / 1e3}%.0fs fetchWait=${fetchWaitMs.get / 1e3}%.0fs " +
      f"shufWrite=${shufWriteNs.get / 1e9}%.0fs"
  }
}
