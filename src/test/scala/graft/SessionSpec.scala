package graft

import java.nio.file.{Files, Path, Paths}
import graft.api.{AnnApi, DedupApi, MediaApi, PipelineApi, TextApi}
import graft.functions.{GraftFunctions, HammingZeroAsEquality, ResidualJoinPlacement}
import graft.streaming.Streaming
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.streaming.Trigger

/** One session factory, one registration point. Every session graft builds
  * comes from `Graft.session`/`configure`, so graft's functions and
  * optimizer rule arrive through `spark.sql.extensions`; `register` is
  * called only where a user's own session may lack the extension — the
  * `graft.api` façade and the public `graft.streaming` entries. These
  * cases pin that wiring: the spec session's isolation helper, the
  * extension path on a fresh session, the façade's registration on a
  * session without graft's functions, and a source scan that keeps
  * sessions and registration from spreading again. */
class SessionSpec extends SparkSpec {

  test("withSession isolates SQLConf: a conf set inside is not seen by " +
    "SparkSpec.session, and the isolated session keeps graft's defaults") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val shared = SparkSpec.session.conf.get(key)
    withSession { s =>
      assert(s ne SparkSpec.session)
      s.conf.set(key, "12345")
      assert(s.conf.get(key) == "12345")
      assert(SparkSpec.session.conf.get(key) == shared)
      assert(s.conf.get("spark.sql.cbo.enabled") == "true")
      assert(s.experimental.extraOptimizations.contains(ResidualJoinPlacement))
    }
    assert(SparkSpec.session.conf.get(key) == shared)
  }

  test("the extension alone gives a new session graft's confs, functions " +
    "and optimizer rule") {
    // newSession() gets no register() call: whatever resolves here came
    // through spark.sql.extensions
    val s = spark.newSession()
    // confs whose defaults differ (AQE already defaults to true, so it
    // could never catch configure() dropping a line)
    assert(s.conf.get("spark.sql.extensions", "") ==
      "graft.functions.GraftExtensions")
    assert(s.conf.get("spark.sql.session.timeZone") == "UTC")

    val g = s.sql("SELECT gcd(12L, 8L) AS g, lcm(4L, 6L) AS l, " +
      "hamming_distance(5L, 3L) AS h, " +
      "cosine_similarity(array(1.0F, 0.0F), array(1.0F, 0.0F)) AS c, " +
      "rolling_fingerprint('a b') AS fp").collect().head
    assert(g.getLong(0) == 4L && g.getLong(1) == 12L && g.getInt(2) == 2 &&
      math.abs(g.getDouble(3) - 1.0) < 1e-12)
    assert(g.getLong(4) == graft.functions.RollingFingerprint.compute(
      org.apache.spark.unsafe.types.UTF8String.fromString("a b")))

    val t = s.sql(
      "SELECT topk_pairs(c, i, 2) AS t FROM VALUES (0.1D, 1L), (0.9D, 2L), " +
        "(0.5D, 3L) AS v(c, i)").collect().head
    assert(t.getSeq[Row](0).map(_.getLong(1)) == Seq(2L, 3L))

    // the rule fires from the extension's batch: hamming = 0 becomes an
    // equi-join instead of a nested loop
    assert(!s.experimental.extraOptimizations.contains(HammingZeroAsEquality))
    import s.implicits._
    val df = Seq((1L, 10L), (2L, 20L)).toDF("id", "h")
    val joined = df.as("x").join(df.as("y"), expr("hamming_distance(x.h, y.h) = 0"))
    assert(joined.count() == 2L)
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"rule did not fire via extensions:\n$plan")
  }

  /** A session that stands in for a user's own, non-graft one: the
    * extension's function names are dropped from its registry. */
  private def foreignSession(): SparkSession = {
    val s = spark.newSession()
    val registry = s.sessionState.functionRegistry
    GraftFunctions.fns.foreach { case (name, _) =>
      registry.dropFunction(FunctionIdentifier(name))
    }
    assert(!registry.functionExists(FunctionIdentifier("minhash_sig")))
    s
  }

  private def foreignDocs() =
    Tables.t(foreignSession(), sf, "documents").filter(col("doc_id") < 40)
      .select("doc_id", "text")

  test("foreign-session contract: every graft.api façade object and the " +
    "streaming dedup register graft's functions on a session that lacks " +
    "them") {
    // one fresh foreign session per entry, so one entry's registration
    // cannot cover for another's
    assert(TextApi.quality(foreignDocs()).count() > 0)
    DedupApi.minhashPairs(foreignDocs(), 0.5, persistIntermediate = false)
      .collect()
    PipelineApi.splitLeakfree(foreignDocs()).collect()

    val vectors = Tables.t(foreignSession(), sf, "embeddings")
      .filter(col("vec_id") < 50).select("vec_id", "embedding")
    val queries = vectors.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    assert(AnnApi.bruteTopK(vectors, queries, 2).count() == 6L)

    val hashes = {
      val s = foreignSession()
      import s.implicits._
      Seq((1L, 7L), (2L, 7L), (3L, 5L)).toDF("doc_id", "ahash")
    }
    assert(MediaApi.imageDupPairs(hashes).count() > 0)

    val s = foreignSession()
    val in = Paths.get("target/foreign_stream_docs").toAbsolutePath
    org.apache.commons.io.FileUtils.deleteQuietly(in.toFile)
    import s.implicits._
    Seq((1L, "the same words in a row"), (2L, "the same words in a row"))
      .toDF("doc_id", "text").write.parquet(in.toString)
    val q = Streaming.minhashDedupStream(
        s.readStream.schema("doc_id LONG, text STRING").parquet(in.toString))
      .toDF().writeStream.format("memory").queryName("foreign_stream_dedup")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    q.stop()
    assert(q.exception.isEmpty, s"streaming dedup failed: ${q.exception}")
    assert(s.table("foreign_stream_dedup").count() > 0)
  }

  test("source scan: one session factory and one registration point") {
    import scala.jdk.CollectionConverters._
    val sources: Seq[(String, String)] = {
      val walk = Files.walk(Paths.get("src"))
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .map((p: Path) => p.toString -> Files.readString(p)).toList
      finally walk.close()
    }
    assert(sources.exists(_._1.endsWith("graft/Graft.scala")),
      "the scan found no sources")
    // the patterns are spliced so this file does not match itself
    def offenders(pattern: String, allowed: String => Boolean): Seq[String] =
      sources.collect { case (p, txt) if txt.contains(pattern) && !allowed(p) => p }
        .sorted
    val register = offenders("GraftFunctions" + ".register(", p =>
      p.endsWith("graft/functions/GraftFunctions.scala") ||
        p.endsWith("graft/Graft.scala") || p.contains("/graft/api/") ||
        p.contains("/graft/streaming/"))
    assert(register.isEmpty,
      s"register() outside the session factory and the api/streaming " +
        s"entry points: ${register.mkString(", ")}")
    val builders = offenders("SparkSession" + ".builder()",
      _.endsWith("graft/Graft.scala"))
    assert(builders.isEmpty,
      s"sessions built outside Graft.session/configure: ${builders.mkString(", ")}")
    val cboEnv = offenders("SPARK_GRAFT" + "_CBO", _ => false)
    assert(cboEnv.isEmpty,
      s"the opt-in CBO leg is the default session now: ${cboEnv.mkString(", ")}")
    val notMain: String => Boolean = !_.startsWith("src/main/")
    val unrecoverable = offenders("localCheck" + "point(", notMain)
    assert(unrecoverable.isEmpty,
      s"local checkpoints die with their executor; pin with " +
        s"Checkpoints.pin: ${unrecoverable.mkString(", ")}")
    val levels = offenders("Config" + "urator", notMain)
    assert(levels.isEmpty,
      s"log levels changed at run time: ${levels.mkString(", ")}")
    // every environment knob under src/main is on this list, so a new one
    // is added on purpose; measurement settings are arguments
    // (graft.Audit), and a read through a non-literal key cannot be checked
    val knobs = Set("SPARK_GRAFT_CPUS", "SPARK_GRAFT_SHUFFLE",
      "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_QUERIES", "SPARK_GRAFT_BENCH_REPS",
      "SPARK_GRAFT_BENCH_METRICS", "SPARK_GRAFT_BENCH_OUT")
    val envRead = ("(?:sys" + "\\.env|System" + "\\.getenv)" +
      "(?:\\.(?:getOrElse|contains|get))?\\s*(\\(\\s*\"([A-Z0-9_]+)\")?").r
    val unlisted = sources.filter(_._1.startsWith("src/main/")).flatMap {
      case (p, txt) => envRead.findAllMatchIn(txt).collect {
        case m if m.group(2) == null || !knobs(m.group(2)) =>
          s"$p: ${Option(m.group(2)).getOrElse(m.matched)}"
      }
    }
    assert(unlisted.isEmpty,
      s"environment knobs off the allow-list: ${unlisted.mkString(", ")}")
  }
}
