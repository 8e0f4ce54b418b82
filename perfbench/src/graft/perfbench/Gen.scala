package graft.perfbench

import org.apache.spark.sql.{SaveMode, SparkSession}

/** Seeded input generator. The recipe is `graft.ScaleGen`'s (same schemas,
  * vocabularies, value domains and long-tailed lines-per-order), with two
  * differences: every hash stream is salted with the workload seed, so a
  * seed names one input set, and the sizes are a fractional multiple of
  * the sf0.1 shape, so a run fits the benchmark's time budget.
  *
  * The documents table carries planted duplicates: `exactShare` of the
  * base count are byte-identical copies of a base document and
  * `nearShare` are copies with one vocabulary word appended. The planted
  * pairs are returned, so dedup results are checked against known truth.
  */
object Gen {

  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def salt(seed: Long): Long = mix(seed * 0x2545F4914F6CDD1DL + 1L)
  def uniform(z: Long): Double = (mix(z) >>> 11).toDouble / (1L << 53).toDouble
  private def pos(z: Long): Long = mix(z) & 0x7FFFFFFFL

  val Vocab: Array[String] = Array(
    "a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window")
  private val Langs = Array("en", "de", "zh", "fr", "es")

  /** Text of base document `id` under salt `s` (8–100 vocabulary words). */
  def docText(id: Long, s: Long): String = {
    val len = 8 + ((mix(s + id * 31 + 1) >>> 33) % 93).toInt
    val sb = new StringBuilder
    var i = 0
    while (i < len) {
      if (i > 0) sb.append(' ')
      sb.append(Vocab(((mix(s + id * 131071L + i) >>> 17) % Vocab.length).toInt))
      i += 1
    }
    sb.toString
  }

  /** Planted duplicate `id` (ids at or above `nBase`): its source document
    * and its text. Exact copies come first, then near copies. */
  def planted(id: Long, nBase: Long, nExact: Long, s: Long): (Long, String) = {
    val src = pos(s + id * 7919L + 5) % nBase
    val text = docText(src, s)
    if (id < nBase + nExact) (src, text)
    else (src, text + " " + Vocab((pos(s + id * 104729L + 3) % Vocab.length).toInt))
  }

  final case class Docs(nBase: Long, nExact: Long, nNear: Long) {
    def total: Long = nBase + nExact + nNear
  }

  def documents(spark: SparkSession, dir: String, seed: Long, nBase: Long,
      exactShare: Double, nearShare: Double, cpus: Int): Docs = {
    import spark.implicits._
    val s = salt(seed)
    val d = Docs(nBase, math.round(nBase * exactShare), math.round(nBase * nearShare))
    spark.range(d.total).repartition(cpus).mapPartitions(_.map { id =>
      val text = if (id < d.nBase) docText(id, s) else planted(id, d.nBase, d.nExact, s)._2
      (id, text, Langs(pos(s + id + 7).toInt % Langs.length),
        "src" + (pos(s + id + 13) % 20).toString, text.length.toLong)
    }).toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartitionByRange(cpus, $"doc_id")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/documents.parquet")
    d
  }

  /** The TPC-H-shaped relational tables plus events, at `mult` × sf0.1. */
  def relational(spark: SparkSession, dir: String, seed: Long, mult: Double,
      cpus: Int): Map[String, Long] = {
    import spark.implicits._
    val s = salt(seed)
    def n(base: Long): Long = math.max(1L, math.round(base * mult))
    val nOrders = n(150000L)
    val nCust = n(15000L); val nSupp = n(1000L); val nPart = n(20000L)
    val nEvents = n(100000L)

    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val spanMs = 30L * 24 * 3600 * 1000
    val eventTypes = Array("view", "click", "signup", "purchase", "error")
    spark.range(nEvents).mapPartitions(_.map { id =>
      (id, new java.sql.Timestamp(t0 + (uniform(s + id * 3 + 1) * spanMs).toLong),
        pos(s + id + 17) % n(1500L),
        eventTypes(pos(s + id + 23).toInt % eventTypes.length),
        math.rint(math.pow(uniform(s + id * 5 + 2), 3.0) * 56021.0) / 100.0,
        s"""{"k": ${pos(s + id + 29) % 100}}""")
    }).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .repartitionByRange(cpus, $"event_id")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/events.parquet")

    val statuses = Array("P", "O", "F")
    val prios = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val o0 = java.sql.Timestamp.valueOf("1995-01-01 00:00:00").getTime
    val oSpanMs = 2400L * 24 * 3600 * 1000
    spark.range(nOrders).mapPartitions(_.map { id =>
      (id, pos(s + id + 53) % nCust, statuses(pos(s + id + 59).toInt % 3),
        math.rint((1000.0 + uniform(s + id * 7 + 3) * 499000.0) * 100.0) / 100.0,
        new java.sql.Timestamp(o0 + (uniform(s + id * 11 + 4) * oSpanMs).toLong),
        prios(pos(s + id + 61).toInt % 5))
    }).toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .repartitionByRange(cpus, $"o_orderkey")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/orders.parquet")

    // lines per order: uniform 1–7 plus a 0.8% tail of +5–10 (ScaleGen's
    // calibration, so q18's `sum > 300` gate matches a few orders)
    val rflags = Array("R", "A", "N")
    spark.range(nOrders).mapPartitions(_.flatMap { okey =>
      val base = 1 + (pos(s + okey + 131) % 7).toInt
      val nl = if (pos(s + okey + 137) % 1000 < 8) base + 5 + (pos(s + okey + 139) % 6).toInt
               else base
      (0 until nl).iterator.map { i =>
        val id = okey * 32 + i
        (okey, pos(s + id + 67) % nPart, pos(s + id + 71) % nSupp, i + 1,
          1.0 + (pos(s + id + 73) % 50).toDouble,
          math.rint((900.0 + uniform(s + id * 13 + 5) * 104100.0) * 100.0) / 100.0,
          math.rint(uniform(s + id * 17 + 6) * 10.0) / 100.0,
          math.rint(uniform(s + id * 19 + 7) * 8.0) / 100.0,
          rflags(pos(s + id + 79).toInt % 3),
          if ((mix(s + id + 83) & 1L) == 0L) "O" else "F",
          new java.sql.Timestamp(o0 + (uniform(s + id * 23 + 8) * oSpanMs).toLong))
      }
    }).toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
      .repartitionByRange(cpus, $"l_orderkey")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/lineitem.parquet")

    val segments = Array("MACHINERY", "BUILDING", "FURNITURE", "HOUSEHOLD", "AUTOMOBILE")
    spark.range(nCust).mapPartitions(_.map { id =>
      (id, f"Customer#$id%09d", pos(s + id + 89).toInt % 25,
        math.rint((-1000.0 + uniform(s + id * 29 + 9) * 11000.0) * 100.0) / 100.0,
        segments(pos(s + id + 97).toInt % 5))
    }).toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .coalesce(2).write.mode(SaveMode.Overwrite).parquet(s"$dir/customer.parquet")

    spark.range(nSupp).mapPartitions(_.map { id =>
      (id, f"Supplier#$id%09d", pos(s + id + 101).toInt % 25,
        math.rint((500.0 + uniform(s + id * 31 + 10) * 5500.0) * 100.0) / 100.0)
    }).toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/supplier.parquet")

    val adjs = Array("blue", "cold", "hot", "large", "new", "old", "red", "small")
    val nouns = Array("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
    val types = Array("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
    spark.range(nPart).mapPartitions(_.map { id =>
      (id, adjs(pos(s + id + 103).toInt % 8) + " " + nouns(pos(s + id + 107).toInt % 8),
        "Brand#" + (1 + pos(s + id + 109) % 25), types(pos(s + id + 113).toInt % 6),
        (1 + pos(s + id + 127) % 50).toInt,
        math.rint((900.0 + (id % 1000).toDouble * 0.1) * 100.0) / 100.0)
    }).toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice")
      .coalesce(2).write.mode(SaveMode.Overwrite).parquet(s"$dir/part.parquet")

    (0 until 25).map(i => (i, s"NATION_$i", i % 5))
      .toDF("n_nationkey", "n_name", "n_regionkey").coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/nation.parquet")
    Seq((0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"), (3, "EUROPE"), (4, "MIDDLE EAST"))
      .toDF("r_regionkey", "r_name").coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/region.parquet")

    Map("orders" -> nOrders, "customer" -> nCust, "supplier" -> nSupp,
      "part" -> nPart, "events" -> nEvents, "nation" -> 25L, "region" -> 5L)
  }

  /** Dense vectors in tight groups around `centers` seeded points (about
    * 20 vectors a group, so each query has true neighbours an IVF-PQ index
    * can find), unit-normalized: the cosine + PQ contract of
    * `graft.api.AnnApi.encodeIndex`. */
  def vector(id: Long, s: Long, centers: Int, dim: Int): Array[Float] = {
    val c = pos(s + id * 61 + 11) % centers
    val v = Array.tabulate(dim) { d =>
      (uniform(s + c * dim + d + 31L) - 0.5) + 0.15 * (uniform(s + id * dim + d + 1000003L) - 0.5)
    }
    val norm = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / norm).toFloat)
  }

  def embeddings(spark: SparkSession, dir: String, seed: Long, n: Long,
      dim: Int, centers: Int, cpus: Int): Unit = {
    import spark.implicits._
    val s = salt(seed)
    spark.range(n).repartition(cpus).mapPartitions(_.map { id =>
      (id, vector(id, s, centers, dim), (pos(s + id + 41) % 10).toInt)
    }).toDF("vec_id", "embedding", "label")
      .repartitionByRange(cpus, $"vec_id")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/embeddings.parquet")
  }

  /** A serve batch: `size` queries, each a perturbed corpus vector chosen
    * by the seed. Query ids are unique across batches. */
  def queryBatch(seed: Long, batch: Int, size: Int, nCorpus: Long, dim: Int,
      centers: Int): Seq[(Long, Array[Float])] = {
    val s = salt(seed)
    (0 until size).map { i =>
      val qid = batch.toLong * size + i
      val src = pos(s + qid * 131 + 17) % nCorpus
      val base = vector(src, s, centers, dim)
      val v = Array.tabulate(dim)(d => base(d) + 0.05 * (uniform(s + qid * dim + d + 7777777L) - 0.5))
      val norm = math.sqrt(v.map(x => x * x).sum)
      qid -> v.map(x => (x / norm).toFloat)
    }
  }

  /** A delta batch of fresh vectors with ids after the corpus. */
  def deltaBatch(seed: Long, batch: Int, size: Int, nCorpus: Long, dim: Int,
      centers: Int): Seq[(Long, Array[Float])] = {
    val s = salt(seed)
    (0 until size).map { i =>
      val id = nCorpus + batch.toLong * size + i
      id -> vector(id, s, centers, dim)
    }
  }
}
