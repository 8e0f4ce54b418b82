package graft

import java.nio.file.Paths
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import graft.operators.{Dedup, Multimodal, Pipeline, TextAnalysis}
import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated,
  SparkListenerExecutorAdded, SparkListenerExecutorRemoved, SparkListenerJobEnd}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite

/** Every pinned intermediate on a query path survives the loss of the
  * executor that holds its blocks. The suite runs on a two-executor
  * `local-cluster`, so it needs its own SparkContext and therefore its own
  * JVM (build.sbt's `Test / testGrouping`); the executors load graft from
  * the build's class directories.
  *
  * A lazily pinned entry runs once, the executor holding its pinned blocks
  * is killed, and the same frame runs again. An iterative or eagerly
  * pinned entry (x_bpe_train, the star-contraction rounds, the CDC epoch)
  * runs with a listener that kills every executor once a pinned job ends.
  * Either way the rows must equal an unkilled run, and the oracled entries
  * must equal their DuckDB oracle. Each case starts with two live
  * executors. */
class ExecutorLossSpec extends AnyFunSuite {
  val sf: String = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = {
    val classDirs = Seq(Graft.getClass, getClass).map(c =>
      Paths.get(c.getProtectionDomain.getCodeSource.getLocation.toURI).toString)
    System.setProperty("spark.executor.extraClassPath",
      classDirs.mkString(java.io.File.pathSeparator))
    System.setProperty("spark.extraListeners", classOf[ClusterEvents].getName)
    val s = Graft.session("local-cluster[2,1,1024]", "graft-executor-loss", 2)
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def await(what: String)(done: => Boolean): Unit = {
    val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
    while (!done && System.nanoTime() < deadline) Thread.sleep(100)
    assert(done, s"timed out waiting for $what")
  }

  /** Two live executors, asking for replacements of killed ones. */
  private def twoExecutors(): Unit = {
    if (ClusterEvents.live.size < 2)
      spark.sparkContext.requestTotalExecutors(2, 0, Map.empty)
    await("two executors")(ClusterEvents.live.size == 2)
  }

  private def kill(executor: String): Unit = {
    assert(spark.sparkContext.killExecutor(executor), s"kill $executor refused")
    await(s"executor $executor to go")(!ClusterEvents.live.contains(executor))
  }

  /** The RDDs under the frame's pinned leaves. */
  private def pinnedRdds(df: DataFrame): Set[Int] =
    df.queryExecution.analyzed.collectLeaves().collect {
      case lr: LogicalRDD => lr.rdd.id
    }.toSet

  private def canon(rows: Seq[Row]): Seq[String] =
    rows.map(_.toSeq.map {
      case a: Array[Byte] => java.util.Arrays.toString(a)
      case v => String.valueOf(v)
    }.mkString("|")).sorted

  /** Runs `df`, kills the executor holding its pinned blocks, and runs
    * the same plan again. Returns the rows of both runs and the frame
    * written by the second run, for the oracle check. */
  private def acrossLoss(df: DataFrame, name: String)
      : (Seq[String], Seq[String], String) = {
    twoExecutors()
    val before = canon(df.collect().toSeq)
    val pinned = pinnedRdds(df)
    assert(pinned.nonEmpty, s"$name has no pinned leaf")
    val holder = () => ClusterEvents.stored.asScala.find(b => pinned(b._1))
    await(s"$name's pinned blocks")(holder().nonEmpty)
    kill(holder().get._2)
    // a new plan over the same leaves, so the run re-reads the pinned
    // blocks instead of the first run's shuffle output
    val out = new java.io.File(s"target/executor-loss/$name").getAbsolutePath
    df.select("*").write.mode("overwrite").parquet(out)
    (before, canon(spark.read.parquet(out).collect().toSeq), out)
  }

  /** Mismatching rows between the DuckDB oracle over `sf` and `out`. */
  private def oracleMismatches(sql: String, out: String): Long = {
    import scala.sys.process._
    val script =
      "import duckdb, sys; con = duckdb.connect(); " +
        "con.execute(\"CREATE VIEW documents AS SELECT * FROM read_parquet('\" + " +
        "sys.argv[1] + \"/documents.parquet')\"); " +
        "con.execute(\"CREATE VIEW spark AS SELECT * FROM read_parquet('\" + " +
        "sys.argv[2] + \"/*.parquet')\"); " +
        "con.execute('CREATE VIEW oracle AS ' + sys.stdin.read()); " +
        "print(con.execute('SELECT (SELECT count(*) FROM (SELECT * FROM oracle " +
        "EXCEPT ALL SELECT * FROM spark)) + (SELECT count(*) FROM (SELECT * " +
        "FROM spark EXCEPT ALL SELECT * FROM oracle))').fetchone()[0])"
    (Process(Seq("python3", "-c", script, sf, out)) #<
      new java.io.ByteArrayInputStream(sql.getBytes)).!!.trim.toLong
  }

  /** Kills every executor once the `n`-th job that stored RDD blocks
    * ends, and asks for two new ones: no block stored so far survives,
    * whichever executor held it. */
  private class KillAfterPinnedJobs(n: Int) extends SparkListener {
    private var stored = false
    private var storingJobs = 0
    @volatile var fired = false
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
      val info = e.blockUpdatedInfo
      if (info.blockId.isRDD && info.storageLevel.isValid) stored = true
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      if (stored) storingJobs += 1
      stored = false
      if (storingJobs == n && !fired) {
        fired = true
        val victims = ClusterEvents.live.asScala.toSeq
        new Thread(() => {
          spark.sparkContext.killExecutors(victims)
          spark.sparkContext.requestTotalExecutors(2, 0, Map.empty)
        }).start()
      }
    }
  }

  /** `run` once unkilled, then once under a [[KillAfterPinnedJobs]]. */
  private def underLoss[A](n: Int)(run: => A): (A, A) = {
    twoExecutors()
    val clean = run
    twoExecutors()
    val killer = new KillAfterPinnedJobs(n)
    spark.sparkContext.addSparkListener(killer)
    try {
      val lost = run
      assert(killer.fired, s"fewer than $n jobs stored blocks, nothing killed")
      (clean, lost)
    } finally spark.sparkContext.removeSparkListener(killer)
  }

  test("p_token_budget: pinned slices survive executor loss and match the oracle") {
    val (before, after, out) =
      acrossLoss(Pipeline.pTokenBudget(spark, sf), "p_token_budget")
    assert(after == before)
    assert(oracleMismatches(Pipeline.pTokenBudgetSql, out) == 0)
  }

  test("p_curriculum: pinned slices survive executor loss and match the oracle") {
    val (before, after, out) =
      acrossLoss(Pipeline.pCurriculum(spark, sf), "p_curriculum")
    assert(after == before)
    assert(oracleMismatches(Pipeline.pCurriculumSql, out) == 0)
  }

  test("m_image_decode: pinned decoded features survive executor loss") {
    val (before, after, _) =
      acrossLoss(Multimodal.mImageDecode(spark, sf), "m_image_decode")
    assert(after == before)
  }

  test("m_phash_dedup: the eagerly pinned pairs survive executor loss") {
    val (before, after, _) =
      acrossLoss(Multimodal.mPhashDedup(spark, sf), "m_phash_dedup")
    assert(before.nonEmpty)
    assert(after == before)
  }

  test("x_bpe_train: merge rounds survive losing the executors mid-training") {
    // by the third storing job the earlier rounds are pinned, so the
    // round in flight depends on blocks the kill removes
    val (clean, lost) = underLoss(3) {
      canon(TextAnalysis.xBpeTrain(spark, sf).collect().toSeq)
    }
    assert(clean.size > 1)
    assert(lost == clean)
  }

  test("connectedComponents: distributed rounds survive losing the executors mid-contraction") {
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    import s.implicits._
    val chain = (0L until 199L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    // the storing jobs pin the pairs, then round 1, then round 2: from
    // there on the round in flight depends on a pinned round
    val (clean, lost) = underLoss(3) {
      val run = Dedup.components(chain, maxIter = 15)
      assert(!run.finishedOnDriver && run.rounds >= 4)
      canon(run.labels.collect().toSeq)
    }
    assert(clean.size == 200)
    assert(lost == clean)
  }

  test("cdcUpsertEpoch: the pinned batch split survives losing the executors mid-epoch") {
    import graft.sources.Sources
    val orders = Tables.t(spark, sf, "orders")
    val batch = orders.filter(col("o_orderkey") < 20)
      .withColumn("o_totalprice", lit(555.55))
      .unionAll(orders.filter(col("o_orderkey") < 40)
        .withColumn("o_orderkey", -(col("o_orderkey") + lit(1L)))
        .withColumn("o_totalprice", lit(777.77)))
    var table = 0
    val (clean, lost) = underLoss(1) {
      table += 1
      val path = Sources.cowSeed(spark, sf, s"executor_loss_cdc_$table")
      graft.streaming.Streaming.cdcUpsertEpoch(path)(batch, 1L)
      canon(spark.read.parquet(path).collect().toSeq)
    }
    assert(clean.size == orders.count() + 40)
    assert(lost == clean)
  }
}

/** The suite cluster's live executors and stored RDD blocks. Registered
  * through `spark.extraListeners`, so it sees the first executors
  * register. */
class ClusterEvents extends SparkListener {
  override def onExecutorAdded(e: SparkListenerExecutorAdded): Unit =
    ClusterEvents.live.add(e.executorId)
  override def onExecutorRemoved(e: SparkListenerExecutorRemoved): Unit =
    ClusterEvents.live.remove(e.executorId)
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    for (b <- info.blockId.asRDDId if info.storageLevel.isValid)
      ClusterEvents.stored.add(b.rddId -> info.blockManagerId.executorId)
  }
}

object ClusterEvents {
  val live: java.util.Set[String] = ConcurrentHashMap.newKeySet[String]()
  /** (rdd id, executor id) of every stored RDD block, in arrival order. */
  val stored = new ConcurrentLinkedQueue[(Int, String)]()
}
