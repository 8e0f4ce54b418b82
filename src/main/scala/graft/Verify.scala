package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated query-name filter for fast local
    // iteration (the driver always runs the full set). A typo'd name must
    // fail loudly — silently running zero queries would let an empty
    // check.py pass read as "verified".
    val only: Option[Set[String]] = args.lift(2).map(_.split(",").toSet)
    only.foreach { names =>
      val unknown = names.diff(SparkEntry.queries.keySet)
      require(unknown.isEmpty, s"unknown query names: ${unknown.mkString(", ")}")
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // the gate runs on the session users get: cost-based optimization +
    // join reorder + the graft optimizer rules active over stat-less temp
    // views. Every oracled result must stay hash-identical; rule gates
    // that need stats must bail, not break.
    val spark = Graft.session(s"local[$cpus]", "graft-verify", cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // A failed query must be LOUD in the artifact, not silently absent:
    // round 8 lost 57 suites to a shared analysis error and the driver's
    // compare — which only sees written parquet dirs — recorded a "clean"
    // round with ~29% of the suite missing (ADVICE r8). On failure, write a
    // one-row parquet whose schema is the error itself, so the driver's
    // DuckDB compare records an explicit schema/hash FAIL for that key, and
    // collect every failure into errors.json + a trailing stderr summary.
    import spark.implicits._
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      System.err.println(s"[verify] $name") // attributes the WARNs below
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        // Several operators persist() an intermediate that is referenced
        // twice inside one query (minhash shingle sets, simhash/phash
        // hash frames). Those entries are useless once the query's parquet
        // is written, but live for the whole 222-query session otherwise
        // (ADVICE r4/r9 flagged the accumulation). Dropping the cache
        // between queries closes the class; each query still gets its
        // within-query reuse.
        spark.catalog.clearCache()
      }
      catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        failures(name) = msg
        System.err.println(s"[verify] $name FAILED: $msg")
        try Seq(msg).toDF("__graft_query_error__")
          .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        catch { case _: Throwable => () }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = failures.map { case (k, v) => s"${q(k)}: ${q(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    if (failures.nonEmpty)
      System.err.println(
        s"[verify] ${failures.size} of ${SparkEntry.queries.size} queries FAILED: " +
          failures.keys.mkString(", "))
    spark.stop()
  }
}
