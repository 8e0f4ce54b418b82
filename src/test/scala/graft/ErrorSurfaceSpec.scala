package graft

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._

/** Error-behavior coverage (reference sqllogictest errors.slt): a complete
  * engine fails PREDICTABLY — analysis errors at plan time with the
  * offending name, runtime errors under ANSI semantics, and try_* escape
  * hatches that degrade to NULL instead. These are the behaviors a user
  * migrating error-handling code depends on. */
class ErrorSurfaceSpec extends SparkSpec {

  private def orders = Tables.t(spark, sf, "orders")

  test("unknown column fails at ANALYSIS time naming the column") {
    val e = intercept[AnalysisException] { orders.select("no_such_col") }
    assert(e.getMessage.contains("no_such_col"))
  }

  test("unknown table fails at analysis time naming the table") {
    val e = intercept[AnalysisException] {
      spark.sql("SELECT * FROM graft_definitely_missing")
    }
    assert(e.getMessage.contains("graft_definitely_missing"))
  }

  test("type mismatch in a function call is an analysis error, not a runtime one") {
    val e = intercept[AnalysisException] {
      orders.select(expr("array_contains(o_totalprice, 1)")).collect()
    }
    assert(e.getMessage.contains("DATATYPE_MISMATCH") ||
      e.getMessage.toLowerCase.contains("type"))
  }

  test("ANSI mode: integer overflow and bad casts THROW; try_* returns NULL") {
    // ANSI is on in Spark 4 — silent wraparound would corrupt 100 TB results
    val overflow = intercept[Exception] {
      spark.sql(s"SELECT ${Long.MaxValue}L + 1L").collect()
    }
    assert(overflow.getMessage.contains("ARITHMETIC_OVERFLOW"))
    val badCast = intercept[Exception] {
      spark.sql("SELECT CAST('nope' AS INT)").collect()
    }
    assert(badCast.getMessage.contains("CAST_INVALID_INPUT"))
    // the sanctioned escape hatches
    val r = spark.sql(
      s"""SELECT try_add(${Long.MaxValue}L, 1L) AS a,
         |       try_cast('nope' AS INT) AS b,
         |       try_divide(1, 0) AS c""".stripMargin).head()
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2))
  }

  test("malformed VARIANT/CSV inputs: parse_json throws, try_parse_json and PERMISSIVE from_csv degrade to NULL") {
    val bad = intercept[Exception] {
      spark.sql("SELECT parse_json('{not json')").collect()
    }
    assert(bad.getMessage.contains("MALFORMED_RECORD_IN_PARSING") ||
      bad.getMessage.toLowerCase.contains("json"), bad.getMessage)
    val r = spark.sql(
      """SELECT try_parse_json('{not json') AS v,
        |       from_csv('x|y', 'k INT, r INT', map('sep', '|')).k AS k""".stripMargin).head()
    assert(r.isNullAt(0), "try_parse_json must NULL on malformed input")
    assert(r.isNullAt(1), "PERMISSIVE from_csv must NULL unparseable fields")
  }

  test("ANSI mode: division by zero and bad array index throw with error class") {
    val div = intercept[Exception] { spark.sql("SELECT 1 / 0").collect() }
    assert(div.getMessage.contains("DIVIDE_BY_ZERO"))
    val idx = intercept[Exception] {
      spark.sql("SELECT array(1, 2)[5]").collect()
    }
    assert(idx.getMessage.contains("INVALID_ARRAY_INDEX"))
  }

  test("graft native expressions validate their inputs at analysis time") {
    val e = intercept[AnalysisException] {
      spark.sql("SELECT cosine_similarity(1, 2)").collect()
    }
    assert(e.getMessage.toLowerCase.contains("type") ||
      e.getMessage.toLowerCase.contains("array"))
  }

  private def messageChain(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")

  test("pq kernels validate shapes at RUNTIME instead of reading raw memory") {
    // pq_score/pq_encode are user-callable SQL functions; on UnsafeArrayData
    // an unchecked out-of-range index is a raw-memory read returning garbage
    // (ADVICE r4) — they must throw a clear error instead
    val badCode = intercept[Exception] {
      spark.sql(
        "SELECT pq_score(array(0, 9), array(1D, 2D, 3D, 4D, 5D, 6D, 7D, 8D))")
        .collect()
    }
    assert(messageChain(badCode).contains("out of range"), messageChain(badCode))
    val badShape = intercept[Exception] {
      spark.sql("SELECT pq_score(array(0, 1), array(1D, 2D, 3D))").collect()
    }
    assert(messageChain(badShape).contains("not a multiple"), messageChain(badShape))
    val badVec = intercept[Exception] {
      spark.sql("SELECT pq_encode(array(1D, 2D, 3D), array(1D, 2D), 2)").collect()
    }
    assert(messageChain(badVec).contains("multiple of m"), messageChain(badVec))
    // a NULL array ELEMENT would read as 0 through ArrayData — same
    // garbage-not-error class as an out-of-range index; must throw
    val nullCode = intercept[Exception] {
      spark.sql(
        "SELECT pq_score(array(0, CAST(NULL AS INT)), " +
          "array(1D, 2D, 3D, 4D, 5D, 6D, 7D, 8D))").collect()
    }
    assert(messageChain(nullCode).contains("NULL code"), messageChain(nullCode))
    val nullVec = intercept[Exception] {
      spark.sql(
        "SELECT pq_encode(array(1D, CAST(NULL AS DOUBLE)), array(1D, 2D), 1)")
        .collect()
    }
    assert(messageChain(nullVec).contains("NULL vec"), messageChain(nullVec))
    // empty codes against a NON-empty table is a shape mismatch, not a zero
    // score (ADVICE r5) — the pre-check early-return must not skip it
    val emptyCodes = intercept[Exception] {
      spark.sql(
        "SELECT pq_score(CAST(array() AS ARRAY<INT>), array(1D, 2D, 3D, 4D))")
        .collect()
    }
    assert(messageChain(emptyCodes).contains("empty codes"),
      messageChain(emptyCodes))
    // both empty stays the vacuous zero-segment sum
    val bothEmpty = spark.sql(
      "SELECT pq_score(CAST(array() AS ARRAY<INT>), " +
        "CAST(array() AS ARRAY<DOUBLE>))").collect()
    assert(bothEmpty.head.getDouble(0) == 0.0)
  }

  test("PREPARE/EXECUTE lifecycle: reuse by name, re-prepare replaces, " +
    "deallocate drops, and every misuse fails in the caller's vocabulary") {
    Tables.registerViews(spark, sf)
    // registration + multi-execute reuse with different args
    Graft.prepare(spark, "es_cnt",
      "SELECT count(*) AS n FROM orders WHERE o_totalprice > :p")
    val n1 = Graft.executePrepared(spark, "es_cnt", Map("p" -> 0.0))
      .head().getLong(0)
    val n2 = Graft.executePrepared(spark, "es_cnt", Map("p" -> 1e12))
      .head().getLong(0)
    assert(n1 > 0 && n2 == 0, s"reuse with fresh args broke: $n1 / $n2")
    // positional markers through the same handle surface
    Graft.prepare(spark, "es_pos",
      "SELECT count(*) AS n FROM orders WHERE o_totalprice > ?")
    assert(Graft.executePrepared(spark, "es_pos", Seq(0.0))
      .head().getLong(0) == n1)
    // re-prepare silently replaces (DuckDB semantics — the oracle engine)
    Graft.prepare(spark, "es_cnt", "SELECT 42 AS n")
    assert(Graft.executePrepared(spark, "es_cnt").head().getInt(0) == 42)
    // prepare-time parse validation names the statement
    val bad = intercept[IllegalArgumentException] {
      Graft.prepare(spark, "es_bad", "SELEKT 1")
    }
    assert(bad.getMessage.contains("es_bad"), bad.getMessage)
    // executing a statement that was never prepared names it and lists
    // what IS prepared
    val missing = intercept[NoSuchElementException] {
      Graft.executePrepared(spark, "es_never", Map("p" -> 1))
    }
    assert(missing.getMessage.contains("es_never") &&
      missing.getMessage.contains("es_pos"), missing.getMessage)
    // missing argument for a named parameter names the statement
    Graft.prepare(spark, "es_args",
      "SELECT count(*) AS n FROM orders WHERE o_totalprice > :p")
    val unbound = intercept[IllegalArgumentException] {
      Graft.executePrepared(spark, "es_args", Map("wrong" -> 1))
    }
    assert(unbound.getMessage.contains("es_args"), unbound.getMessage)
    // a MISTYPED argument fails at execution with the engine's cast error
    // (typed binding, not string splicing: the value lands as a literal)
    val mistyped = intercept[Exception] {
      Graft.executePrepared(spark, "es_args",
        Map("p" -> "not-a-number")).collect()
    }
    assert(mistyped.getMessage.toUpperCase.contains("CAST") ||
      mistyped.getMessage.contains("DATATYPE_MISMATCH"), mistyped.getMessage)
    // DEALLOCATE drops the handle; a second deallocate reports false
    assert(Graft.deallocate(spark, "es_cnt"))
    assert(!Graft.deallocate(spark, "es_cnt"))
    intercept[NoSuchElementException] {
      Graft.executePrepared(spark, "es_cnt")
    }
    Seq("es_pos", "es_args").foreach(Graft.deallocate(spark, _))
  }
}
