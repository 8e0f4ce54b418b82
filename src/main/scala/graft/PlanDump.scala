package graft

/** Optimization-round plan snapshots (round 17): dump `explain("formatted")`
  * for named registry entries under the EXACT bench session (same master /
  * shuffle width / confs as [[Bench]]), so plan claims in
  * OPTIMIZATION_r17.md are checkable against committed files without
  * running Spark.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <name1,name2,...|headline>
  * Env: SPARK_GRAFT_CPUS / SPARK_GRAFT_SHUFFLE as in Bench;
  *      SPARK_GRAFT_PLAN_SUFFIX — filename suffix (default "before").
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val out = java.nio.file.Paths.get(args(1))
    java.nio.file.Files.createDirectories(out)
    val names: Seq[String] =
      if (args(2) == "headline") Bench.Headline
      else args(2).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "before")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val shuffle = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus)
    val spark = Graft.session(s"local[$cpus]", "graft-plandump", shuffle.toInt)
    spark.sparkContext.setLogLevel("WARN")
    names.foreach { n =>
      val df = SparkEntry.queries(n)(spark, dir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(out.resolve(s"${n}_$suffix.txt"),
        txt.getBytes("UTF-8"))
      println(s"[plandump] $n -> ${n}_$suffix.txt")
    }
    spark.stop()
  }
}
