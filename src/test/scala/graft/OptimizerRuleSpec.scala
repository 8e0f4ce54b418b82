package graft

import org.apache.spark.sql.functions._

/** §2.10: the HammingZeroAsEquality optimizer rule turns an opaque
  * `hamming_distance(a,b)=0` join predicate into an extractable equi-join —
  * hash-partitionable instead of nested-loop. */
class OptimizerRuleSpec extends SparkSpec {

  private def signatureFrames = {
    val base = Tables.t(spark, sf, "documents")
      .select(col("doc_id"), xxhash64(col("text")).as("h"))
    (base.as("x"), base.withColumnRenamed("doc_id", "doc_id2").as("y"))
  }

  test("hamming=0 join plans as a hash-extractable equi-join, not nested-loop") {
    val (x, y) = signatureFrames
    val joined = x.join(y, expr("hamming_distance(x.h, y.h) = 0"))
    joined.collect()
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"rule did not fire; O(n*m) join remains:\n$plan")
    assert(plan.contains("Join") || plan.contains("HashJoin") || plan.contains("SortMergeJoin"), plan)
  }

  test("rewrite preserves semantics: same pairs as an explicit a = b join") {
    val (x, y) = signatureFrames
    val viaHamming = x.join(y, expr("hamming_distance(x.h, y.h) <= 0"))
      .select(col("doc_id"), col("doc_id2"))
    val viaEquality = x.join(y, col("x.h") === col("y.h"))
      .select(col("doc_id"), col("doc_id2"))
    assert(viaHamming.exceptAll(viaEquality).count() == 0)
    assert(viaEquality.exceptAll(viaHamming).count() == 0)
    assert(viaHamming.count() >= Tables.t(spark, sf, "documents").count())
  }

  test("non-zero thresholds are left alone (not semantics-preserving)") {
    val df = spark.sql("SELECT hamming_distance(5L, 7L) <= 1 AS near")
    assert(df.collect().head.getBoolean(0)) // distance 1 → true; a=b would say false
  }
}
