package graft

import graft.operators.Fuzz

/** Differential SQL fuzzing against the DuckDB oracle (VERDICT r11 #3):
  * ≥500 deterministic ANSI-portable shapes generated by
  * [[graft.operators.Fuzz]], executed by Spark, hash-compared row-for-row
  * against DuckDB running the IDENTICAL SQL text via
  * scripts/fuzz_check.py (the same compare discipline as the driver
  * gate's check.py replica). The generator is pure in the seed and the
  * testdata is static, so a green run is fully reproducible and any
  * divergence is a minimal repro by construction.
  *
  * DuckDB is a driver-side tool, not a library dependency: the spec
  * shells out to python3, and CANCELS (visibly, not silently passes) the
  * differential leg if the oracle stack is absent — the Spark-side legs
  * (determinism, executability, plausibility counts) still run.
  */
class FuzzSpec extends SparkSpec {

  /** Default pinned for reproducibility; SPARK_GRAFT_FUZZ_SEED overrides
    * for exploratory sweeps of new query regions (a divergence found
    * under any seed is a permanent minimal repro — rerun with that
    * seed). */
  private val Seed =
    sys.env.get("SPARK_GRAFT_FUZZ_SEED").map(_.toLong).getOrElse(20260814L)
  private val N = 1000

  test("fuzz generator is pure in the seed and names are unique") {
    val a = Fuzz.generate(Seed, N)
    val b = Fuzz.generate(Seed, N)
    assert(a.map(_.sql) == b.map(_.sql), "generator is not deterministic")
    assert(a.map(_.name).distinct.size == N, "duplicate query names")
    // a different seed must explore a different region
    assert(Fuzz.generate(Seed + 1, N).map(_.sql) != a.map(_.sql))
  }

  test(s"differential fuzz: $N shapes run in Spark and match DuckDB " +
    "row-for-row on the identical SQL text") {
    import scala.sys.process._
    val out = new java.io.File("target/fuzz_out")
    org.apache.commons.io.FileUtils.deleteQuietly(out)
    out.mkdirs()
    Tables.registerViews(spark, sf)
    val qs = Fuzz.generate(Seed, N)
    var nonEmpty = 0
    qs.foreach { q =>
      try {
        val df = spark.sql(q.sql) // any parse/analysis error fails the spec
        val rows = df.coalesce(1).cache()
        try {
          if (rows.count() > 0) nonEmpty += 1
          rows.write.mode("overwrite").parquet(s"$out/${q.name}")
        } finally rows.unpersist()
      } catch {
        case e: Throwable => // always name the minimal repro
          fail(s"${q.name} failed in Spark (${e.getClass.getSimpleName}: " +
            s"${e.getMessage}) — SQL:\n${q.sql}", e)
      }
    }
    // a fuzzer whose queries mostly return nothing isn't testing semantics
    assert(nonEmpty >= N / 2, s"only $nonEmpty/$N queries returned rows")
    // dump the SQL texts for the DuckDB side (minimal JSON, escaped)
    def esc(s: String): String = s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    // divergent-spelling tiers (EXCLUDE / ORDER BY ALL) ship the DuckDB
    // native surface as the oracle text; identical-text tiers ship q.sql
    val json = qs.map(q => s""""${q.name}": "${esc(q.oracle.getOrElse(q.sql))}"""")
      .mkString("{\n", ",\n", "\n}")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$out/fuzz_sql.json"),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // differential leg: needs the driver-side python duckdb stack
    val probe = Process(Seq("python3", "-c", "import duckdb, pandas"))
      .run(ProcessLogger(_ => ())).exitValue()
    if (probe != 0)
      cancel("python3+duckdb unavailable — differential leg skipped " +
        "(Spark-side legs passed)")
    val buf = new StringBuilder
    val code = Process(Seq("python3", "scripts/fuzz_check.py", sf,
      out.getPath)).run(ProcessLogger(l => buf.append(l).append('\n'))).exitValue()
    val report = buf.toString
    info(report.linesIterator.toSeq.takeRight(1).mkString) // "== N pass, M fail"
    assert(code == 0, s"fuzz divergence:\n$report")
  }

  test("CBO differential (VERDICT r13 #3): every join-bearing shape " +
    "returns identical rows with cost-based join reorder + residual " +
    "placement ON vs OFF over ANALYZE'd catalog tables") {
    val fuzzTables = Seq("orders", "customer", "lineitem", "part",
      "supplier", "nation", "region")
    withSession { spark =>
      try {
        // the shapes also read the non-relational tables as views; the
        // relational ones must plan against the ANALYZE'd catalog tables
        Tables.registerViews(spark, sf)
        fuzzTables.foreach(spark.catalog.dropTempView)
        Graft.enableCbo(spark, sf)
        // drop FactMergeGuard's floors to spec scale (round-17, ADVICE r16):
        // at fuzz data size the production defaults (16g/256m) keep the
        // guard inert, so without this the differential's FactMergeGuard
        // coverage would be vacuous — the rule would never rewrite anything
        spark.conf.set(functions.FactMergeGuard.factFloorKey, "1k")
        spark.conf.set(functions.FactMergeGuard.roleFloorKey, "1k")
        def cbo(on: Boolean): Unit = {
          spark.conf.set("spark.sql.cbo.enabled", on.toString)
          spark.conf.set("spark.sql.cbo.joinReorder.enabled", on.toString)
        }
        val joinShapes = Fuzz.generate(Seed, N)
          .filter(q => q.sql.contains("JOIN") || q.sql.contains("LATERAL"))
        assert(joinShapes.size >= N / 8,
          s"only ${joinShapes.size} join-bearing shapes — generator drifted?")
        joinShapes.foreach { q =>
          def leg(on: Boolean): Seq[String] = {
            cbo(on)
            try spark.sql(q.sql).collect().map(_.toString).sorted.toSeq
            catch {
              case e: Throwable => // always name the minimal repro
                fail(s"${q.name} failed with CBO=$on " +
                  s"(${e.getClass.getSimpleName}: ${e.getMessage}) — SQL:\n${q.sql}", e)
            }
          }
          val off = leg(on = false)
          val on = leg(on = true)
          assert(on == off,
            s"${q.name}: CBO reorder changed the RESULT (${off.size} vs " +
              s"${on.size} rows) — SQL:\n${q.sql}")
        }
        info(s"${joinShapes.size} join-bearing shapes row-identical under CBO")
      } finally fuzzTables.foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS spark_catalog.default.$t"))
    }
  }
}
