package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.{Graft, SparkEntry}
import graft.api.AnnApi

/** What an op returns: the executed frame (for the plan walk) and rows. */
final case class OpResult(df: Option[DataFrame], rows: Array[Row], schema: StructType)

/** One call into the program: `kind` groups ops for the latency metrics
  * (ann_serve reports serves only). */
final case class Op(name: String, kind: String, body: Phases => OpResult)

/** One executed op of a timed pass; `failure` is set by the checks. */
final class Exec(val op: Op, val pass: Int, val wall: Double, val traced: Boolean) {
  var failure: Option[String] = None
  var result: OpResult = _
}

trait Workload {
  /** Passes to complete before the time budget may end the loop. */
  def minPasses: Int
  /** Warm-up passes; the last one's results are the references. */
  def warmPasses: Int
  /** Generates the inputs into `dir`; the last call's session and data
    * are the ones the run uses. */
  def generate(spark: SparkSession, dir: String): Unit
  /** Builds state derived from the inputs (statistics, an index). */
  def derive(): Unit = ()
  /** The ops of timed pass `i`; pass -1 is the warm-up. */
  def pass(i: Int): Seq[Op]
  /** Checks the warm-up result of an op, which later results must equal. */
  def checkReference(op: Op, r: OpResult): Option[String]
  /** Checks run after the loop, across executions. */
  def finish(execs: Seq[Exec]): Unit = ()
  /** DuckDB-checkable ops: name -> SQL over the generated tables. */
  def oracle: Map[String, String] = Map.empty
  /** Whether later executions of an op must equal its warm-up result. */
  def repeatable: Boolean = true
  /** Input sizes, for the provenance block. */
  def sizes: Map[String, Any]
  /** Extra end-to-end figures beyond the common ones (name -> (value, unit)). */
  def extraMetrics(execs: Seq[Exec]): Map[String, (Double, String)] = Map.empty
}

object Workload {
  def dfOp(name: String, kind: String)(mk: => DataFrame): Op = Op(name, kind, ph => {
    val df = ph.construct(mk)
    ph.plan(df)
    val rows = ph.execute(df.collect())
    OpResult(Some(df), rows, df.schema)
  })

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Order-insensitive comparison of two results. Doubles may differ by
    * summation order when a plan changes, so they match to six significant
    * digits (1e-6 relative), as in `graft.TpchAudit`; a lost or duplicated
    * row moves a sum by far more. */
  def sameRows(ref: Array[Row], got: Array[Row]): Option[String] = {
    def key(r: Row): String = r.toSeq.map {
      case d: Double => f"$d%.6e"
      case f: Float => f"${f.toDouble}%.6e"
      case x => String.valueOf(x)
    }.mkString("|")
    def close(a: Any, b: Any): Boolean = (a, b) match {
      case (x: Double, y: Double) =>
        x == y || (x.isNaN && y.isNaN) || math.abs(x - y) <= 1e-6 * math.max(1.0, math.abs(x))
      case (x: Float, y: Float) => close(x.toDouble, y.toDouble)
      case _ => a == b
    }
    if (ref.length != got.length) return Some(s"${got.length} rows, reference ${ref.length}")
    val a = ref.sortBy(key); val b = got.sortBy(key)
    a.indices.find(i => !a(i).toSeq.zip(b(i).toSeq).forall { case (x, y) => close(x, y) })
      .map(i => s"row ${key(b(i))} differs from reference ${key(a(i))}")
  }
}

import Workload._

/** TPC-H q1–q22 as SQL text over ANALYZE'd catalog tables. */
final class Olap(seed: Long, cpus: Int, mult: Double) extends Workload {
  val minPasses = 2
  val warmPasses = 2
  private var spark: SparkSession = _
  private var rows: Map[String, Long] = Map.empty
  private val names = (1 to 22).map(i => s"q$i")

  private var dir: String = _

  def generate(s: SparkSession, d: String): Unit = {
    spark = s; dir = d
    rows = Gen.relational(s, d, seed, mult, cpus)
  }
  override def derive(): Unit = {
    Graft.enableCbo(spark, dir)
    rows += "lineitem" -> spark.table("lineitem").count()
  }
  def pass(i: Int): Seq[Op] = names.map(n => dfOp(n, "query")(spark.sql(SparkEntry.oracleSql(n))))
  def checkReference(op: Op, r: OpResult): Option[String] = None
  override def oracle: Map[String, String] = names.map(n => n -> SparkEntry.oracleSql(n)).toMap
  def sizes: Map[String, Any] = Map("mult_of_sf0.1" -> mult) ++ rows
}

/** LLM-data pipeline entries over a documents table with planted
  * duplicates. */
final class Corpus(seed: Long, cpus: Int, nBase: Long, exactShare: Double,
    nearShare: Double) extends Workload {
  // the first pass after the single warm-up is still slow; the median of
  // three pass walls leaves it out
  val minPasses = 3
  val warmPasses = 1
  private val entries = SparkEntry.queries
  private val oracleSql = SparkEntry.oracleSql
  private val names = Seq("d_exact", "d_cluster", "x_quality", "p_token_budget",
    "m_image_decode")
  private var spark: SparkSession = _
  private var dir: String = _
  private var docs: Gen.Docs = _
  private lazy val texts: Map[Long, String] = {
    val base = spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // Dedup.withPlantedNear's copies: every 10th doc, first two words dropped
    base ++ base.collect { case (id, t) if id % 10 == 0 =>
      (id + 1000000L) -> t.split(" ").drop(2).mkString(" ") }
  }
  /** Planted pairs: the generator's copies and the entries' own copies. */
  private lazy val planted: Seq[(Long, Long)] = {
    val s = Gen.salt(seed)
    val gen = (docs.nBase until docs.total).map(id =>
      (Gen.planted(id, docs.nBase, docs.nExact, s)._1, id))
    val entry = texts.keys.filter(id => id < 1000000L && id % 10 == 0).map(id => (id, id + 1000000L))
    (gen ++ entry).map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
  }

  def generate(s: SparkSession, d: String): Unit = {
    spark = s; dir = d
    docs = Gen.documents(s, d, seed, nBase, exactShare, nearShare, cpus)
  }
  def pass(i: Int): Seq[Op] = names.map(n => dfOp(n, "entry")(entries(n)(spark, dir)))
  override def oracle: Map[String, String] =
    names.filter(oracleSql.contains).map(n => n -> oracleSql(n)).toMap

  // Spark's round() is HALF_UP on the decimal expansion
  private def round4(x: Double) =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
  private def jaccard(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty && b.isEmpty) 0.0 else round4((a & b).size.toDouble / (a | b).size)
  private def wordShingles(t: String): Set[String] =
    t.split(" ").filter(_.nonEmpty).sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet

  private def checkClusters(rows: Array[Row]): Option[String] = {
    val cache = mutable.Map[Long, Set[String]]()
    def sh(id: Long) = cache.getOrElseUpdate(id, wordShingles(texts(id)))
    val label = rows.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    val members = rows.groupBy(_.getAs[Long]("cluster_id"))
    val truth = planted.filter { case (a, b) => jaccard(sh(a), sh(b)) >= 0.5 }
    val together = truth.count { case (a, b) => label.get(a).exists(label.get(b).contains) }
    val recall = together.toDouble / math.max(1, truth.size)
    val badSize = rows.find(r => r.getAs[Long]("cluster_size") != members(r.getAs[Long]("cluster_id")).length)
    val isolated = members.values.flatMap { ms =>
      val ids = ms.map(_.getAs[Long]("doc_id"))
      ids.filterNot(a => ids.exists(b => b != a && jaccard(sh(a), sh(b)) >= 0.5))
    }.headOption
    if (recall < 0.9) Some(f"cluster recall $recall%.3f < 0.9 over ${truth.size} planted pairs")
    else badSize.map(r => s"cluster_size of $r is not its member count")
      .orElse(isolated.map(id => s"doc $id shares a cluster with no doc of Jaccard >= 0.5"))
  }

  private def checkImages(rows: Array[Row]): Option[String] = {
    val bad = rows.find { r =>
      val id = r.getAs[Long]("doc_id")
      val (mr, mg, mb) = (r.getAs[Double]("mean_r"), r.getAs[Double]("mean_g"), r.getAs[Double]("mean_b"))
      r.getAs[Int]("width") != 8 + (id % 9).toInt || r.getAs[Int]("height") != 8 + (id % 7).toInt ||
        Seq(mr, mg, mb).exists(m => m < 0 || m > 255) ||
        math.abs(r.getAs[Double]("luma") - (0.299 * mr + 0.587 * mg + 0.114 * mb)) > 1e-3
    }
    if (rows.length != docs.total) Some(s"${rows.length} rows for ${docs.total} documents")
    else bad.map(r => s"row $r breaks the decode invariants")
  }

  def checkReference(op: Op, r: OpResult): Option[String] = op.name match {
    case "d_cluster" => checkClusters(r.rows)
    case "m_image_decode" => checkImages(r.rows)
    case n if oracleSql.contains(n) => None
    case n => Some(s"$n has no check")
  }
  def sizes: Map[String, Any] = Map("documents" -> docs.total, "base_docs" -> docs.nBase,
    "planted_exact" -> docs.nExact, "planted_near" -> docs.nNear,
    "exact_share" -> exactShare, "near_share" -> nearShare)
}

/** IVF-PQ serving from a cell-partitioned store, with appends. */
final class AnnServe(seed: Long, cpus: Int, nCorpus: Long) extends Workload {
  // five passes at least: 25 serves, enough for a tail above the median,
  // and every run grows the store by at least five appends
  val minPasses = 5
  val warmPasses = 1
  private val Dim = 64; private val Centers = (nCorpus / 20).toInt; private val Cells = 16
  private val Segments = 8; private val Codebook = 16; private val Nprobe = 3
  private val K = 10; private val BatchSize = 16; private val DeltaSize = 200
  private val ServesPerPass = 5
  private val RecallFloor = 0.1
  private var spark: SparkSession = _
  private var dir: String = _
  private var quantizer: DataFrame = _
  private var books: Array[Double] = _
  private var store: String = _
  private var buildWall = 0.0

  private def frame(rows: Seq[(Long, Array[Float])], id: String, vec: String): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF(id, vec)
  }
  private def corpus: DataFrame = spark.read.parquet(s"$dir/embeddings.parquet")

  def generate(s: SparkSession, d: String): Unit = {
    spark = s; dir = d; store = s"$d/store"
    Gen.embeddings(s, d, seed, nCorpus, Dim, Centers, cpus)
  }
  override def derive(): Unit = {
    val t0 = System.nanoTime()
    quantizer = AnnApi.trainIvf(corpus, Cells)
    books = AnnApi.trainPq(corpus, Dim, Segments, Codebook)
    AnnApi.writeIndex(AnnApi.encodeIndex(corpus, quantizer, books, Segments), store)
    buildWall = (System.nanoTime() - t0) / 1e9
  }

  private def batch(b: Int) = Gen.queryBatch(seed, b, BatchSize, nCorpus, Dim, Centers)
  // pass -1, the warm-up, appends a batch of its own
  private def delta(p: Int) =
    Gen.deltaBatch(seed, if (p < 0) WarmBatch else p, DeltaSize, nCorpus, Dim, Centers)
  private val WarmBatch = 1 << 20

  private def serve(b: Int): Op = dfOp(s"serve-$b", "serve")(
    AnnApi.serveFromStore(frame(batch(b), "qid", "qv"), store, quantizer, books, Nprobe, Segments))

  private def append(p: Int): Op = Op(s"append-$p", "append", ph => {
    val d = ph.construct(frame(delta(p), "vec_id", "embedding"))
    ph.execute(AnnApi.appendIndex(d, quantizer, books, store, Segments))
    OpResult(None, Array.empty, d.schema)
  })

  // the warm-up serves batches no timed pass uses
  def pass(i: Int): Seq[Op] = {
    val first = if (i < 0) WarmBatch else i * ServesPerPass
    (0 until ServesPerPass).map(j => serve(first + j)) :+ append(i)
  }

  override def repeatable: Boolean = false
  def checkReference(op: Op, r: OpResult): Option[String] = None

  /** Recall@K of every serve against `AnnApi.bruteTopK` over the corpus
    * plus the deltas appended before its pass (the warm-up's included),
    * and the store's row count after the appends. */
  override def finish(execs: Seq[Exec]): Unit = {
    execs.filter(_.op.kind == "serve").groupBy(_.pass).foreach { case (p, serves) =>
      val deltas = (-1 until p).flatMap(delta)
      val base = if (deltas.isEmpty) corpus.select("vec_id", "embedding")
                 else corpus.select("vec_id", "embedding").union(frame(deltas, "vec_id", "embedding"))
      val batches = serves.map(e => e -> batch(e.op.name.stripPrefix("serve-").toInt))
      val truth = AnnApi.bruteTopK(base, frame(batches.flatMap(_._2), "qid", "qv"), K)
        .collect().groupBy(_.getAs[Long]("qid"))
        .map { case (q, rs) => q -> rs.map(_.getAs[Long]("vid")).toSet }
      batches.foreach { case (e, qs) => if (e.failure.isEmpty && e.result != null) {
        val got = e.result.rows.groupBy(_.getAs[Long]("qid"))
          .map { case (q, rs) => q -> rs.map(_.getAs[Long]("vid")) }
        val recall = qs.map { case (q, _) =>
          got.getOrElse(q, Array.empty[Long]).toSet.count(truth.getOrElse(q, Set.empty[Long])).toDouble / K
        }.sum / qs.size
        val shape = qs.forall { case (q, _) => got.get(q).exists(v => v.length == K && v.distinct.length == K) }
        if (!shape) e.failure = Some(s"not $K distinct results for every query")
        else if (recall < RecallFloor) e.failure = Some(f"recall@$K $recall%.3f < $RecallFloor")
      } }
    }
    val appends = execs.filter(_.op.kind == "append")
    val expected = nCorpus + (appends.size + 1L) * DeltaSize
    val stored = spark.read.parquet(store).count()
    if (stored != expected)
      appends.foreach(e => if (e.failure.isEmpty) e.failure = Some(s"store holds $stored rows, expected $expected"))
  }

  def sizes: Map[String, Any] = Map("vectors" -> nCorpus, "dim" -> Dim, "cells" -> Cells,
    "nprobe" -> Nprobe, "pq_segments" -> Segments, "queries_per_serve" -> BatchSize,
    "delta_rows" -> DeltaSize, "serves_per_append" -> ServesPerPass)

  override def extraMetrics(execs: Seq[Exec]): Map[String, (Double, String)] = Map(
    "build_s" -> (buildWall, "s"),
    "append_s" -> (median(execs.filter(_.op.kind == "append").map(_.wall)), "s"))
}
