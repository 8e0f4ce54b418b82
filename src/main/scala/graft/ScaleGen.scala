package graft

import org.apache.spark.sql.SaveMode

/** Scale-stress data generator (VERDICT r9 #5): writes an N×-sf0.1
  * documents/events/embeddings set with the SAME schemas, vocabularies and
  * value ranges as the driver's testdata, so the heavy pipeline entries can
  * be run once at ~10× the bench scale and checked for shape flips
  * (driver-side collects, single-partition collapses) that sf0.1 cannot
  * expose. Deterministic (splitmix64 over the row id — the repo's no-RNG
  * convention), distributed (generation itself is a `spark.range`
  * mapPartitions — no driver-side materialization), and written OUTSIDE
  * /root/testdata (which is read-only driver property).
  *
  * Usage: runMain graft.ScaleGen <outDir> [multiplier]   (default 10 →
  * 50k docs / 1M events / 20k embeddings ≈ the sf1 shape).
  */
object ScaleGen {

  /** splitmix64 — the same public mixing constant set the repo's other
    * deterministic generators use. */
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private def uniform(z: Long): Double =
    ((mix(z) >>> 11).toDouble / (1L << 53).toDouble)

  /** The sf0.1 documents vocabulary (31 words, extracted once from the
    * driver testdata) — keeps shingle/minhash statistics comparable. */
  private val Vocab: Array[String] = Array(
    "a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window")

  private val Langs = Array("en", "de", "zh", "fr", "es")
  private val EventTypes = Array("view", "click", "signup", "purchase", "error")

  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val mult = args.lift(1).map(_.toInt).getOrElse(10)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = Graft.session(s"local[$cpus]", "graft-scalegen", cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val nDocs = 5000L * mult
    val nEvents = 100000L * mult
    val nVecs = 2000L * mult

    // documents: 8–100 words off the shared vocab, zipf-free uniform mix
    // (matches the testdata's flat word histogram), lang/source hashed
    spark.range(nDocs).mapPartitions(_.map { id =>
      val len = 8 + ((mix(id * 31 + 1) >>> 33) % 93).toInt
      val sb = new StringBuilder
      var i = 0
      while (i < len) {
        if (i > 0) sb.append(' ')
        sb.append(Vocab(((mix(id * 131071L + i) >>> 17) % Vocab.length).toInt))
        i += 1
      }
      val text = sb.toString
      (id, text, Langs((mix(id + 7) & 0x7FFFFFFF).toInt % Langs.length),
        "src" + ((mix(id + 13) & 0x7FFFFFFF) % 20).toString,
        text.length.toLong)
    }).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/documents.parquet")

    // events: 30-day span, 10×-user population, same type/value/props shape
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val spanMs = 30L * 24 * 3600 * 1000
    spark.range(nEvents).mapPartitions(_.map { id =>
      val ts = new java.sql.Timestamp(t0 + (uniform(id * 3 + 1) * spanMs).toLong)
      (id, ts, (mix(id + 17) & 0x7FFFFFFF) % (1500L * mult),
        EventTypes((mix(id + 23) & 0x7FFFFFFF).toInt % EventTypes.length),
        math.rint(math.pow(uniform(id * 5 + 2), 3.0) * 56021.0) / 100.0,
        s"""{"k": ${(mix(id + 29) & 0x7FFFFFFF) % 100}}""")
    }).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .repartitionByRange(cpus.toInt * 4, $"event_id")
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/events.parquet")

    // embeddings: 64-dim, ±0.34 component range, 10 labels — the IVF/PQ
    // trainers only assume bounded dense vectors
    spark.range(nVecs).mapPartitions(_.map { id =>
      val v = Array.tabulate(64)(d =>
        ((uniform(id * 64L + d) - 0.5) * 0.68).toFloat)
      (id, v, ((mix(id + 41) & 0x7FFFFFFF) % 10).toInt)
    }).toDF("vec_id", "embedding", "label")
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/embeddings.parquet")

    // orders/lineitem (round 11 continuation): same schemas and value
    // domains as the driver testdata, so the sort_tpch/external_aggr/DML
    // shapes can be scale-stressed alongside the pipeline entries.
    // 150k orders / 600k lineitem per sf0.1 unit (4 lines per order).
    val nOrders = 150000L * mult
    val statuses = Array("P", "O", "F")
    val prios = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val o0 = java.sql.Timestamp.valueOf("1995-01-01 00:00:00").getTime
    val oSpanMs = 2400L * 24 * 3600 * 1000
    spark.range(nOrders).mapPartitions(_.map { id =>
      (id, (mix(id + 53) & 0x7FFFFFFF) % (15000L * mult),
        statuses((mix(id + 59) & 0x7FFFFFFF).toInt % 3),
        math.rint((1000.0 + uniform(id * 7 + 3) * 499000.0) * 100.0) / 100.0,
        new java.sql.Timestamp(o0 + (uniform(id * 11 + 4) * oSpanMs).toLong),
        prios((mix(id + 61) & 0x7FFFFFFF).toInt % 5))
    }).toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .repartitionByRange(cpus.toInt * 4, $"o_orderkey")
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/orders.parquet")

    // Lines-per-order is LONG-TAILED, calibrated to the driver testdata
    // (round 16, VERDICT r15 #3): the old fixed 4-lines × qty ≤ 50 shape
    // capped every order's quantity sum at 200, so TPC-H q18's `sum > 300`
    // gate matched ZERO orders at every multiplier and the decade walls
    // timed a join with an empty build side. Base uniform 1–7 (mean 4)
    // plus a 0.8% tail of +5–10 extra lines reproduces the driver data's
    // profile (measured at sf0.1: mean 4.08, max 17, 0.32% of orders
    // clear the q18 gate; this recipe simulates to 0.36% / mean 4.06 /
    // max 17). flatMap keeps generation distributed; per-line hash
    // streams key off okey*32+line (lines ≤ 18 < 32) so values stay
    // deterministic per (order, line) independent of the global row
    // numbering the fixed-4 layout used.
    val rflags = Array("R", "A", "N")
    spark.range(nOrders).mapPartitions(_.flatMap { okey =>
      val base = 1 + ((mix(okey + 131) & 0x7FFFFFFF) % 7).toInt
      val nl =
        if ((mix(okey + 137) & 0x7FFFFFFF) % 1000 < 8)
          base + 5 + ((mix(okey + 139) & 0x7FFFFFFF) % 6).toInt
        else base
      (0 until nl).iterator.map { i =>
        val id = okey * 32 + i
        (okey, (mix(id + 67) & 0x7FFFFFFF) % (20000L * mult),
          (mix(id + 71) & 0x7FFFFFFF) % (1000L * mult),
          i + 1,
          1.0 + ((mix(id + 73) & 0x7FFFFFFF) % 50).toDouble,
          math.rint((900.0 + uniform(id * 13 + 5) * 104100.0) * 100.0) / 100.0,
          math.rint(uniform(id * 17 + 6) * 10.0) / 100.0,
          math.rint(uniform(id * 19 + 7) * 8.0) / 100.0,
          rflags((mix(id + 79) & 0x7FFFFFFF).toInt % 3),
          if ((mix(id + 83) & 1L) == 0L) "O" else "F",
          new java.sql.Timestamp(o0 + (uniform(id * 23 + 8) * oSpanMs).toLong))
      }
    }).toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
      .repartitionByRange(cpus.toInt * 4, $"l_orderkey")
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/lineitem.parquet")
    val nLines = spark.read.parquet(s"$outDir/lineitem.parquet").count()

    // DIM tables (round 12 — VERDICT r11 #2): customer/supplier/part/
    // nation/region with the testdata's value domains (names, brands,
    // types, segments, key ranges all mirrored), so the 33-family JOB
    // suite — whose predicates are LIKEs/INs over exactly these vocab
    // values — can be scale-stressed at 100× with realistic selectivities.
    // Cardinalities follow the testdata's per-sf ratios (customer 15k,
    // supplier 1k, part 20k per sf0.1 unit; nation/region fixed), matching
    // the FK moduli the fact generators above already use.
    val segments = Array("MACHINERY", "BUILDING", "FURNITURE", "HOUSEHOLD",
      "AUTOMOBILE")
    spark.range(15000L * mult).mapPartitions(_.map { id =>
      (id, f"Customer#$id%09d", ((mix(id + 89) & 0x7FFFFFFF) % 25).toInt,
        math.rint((-1000.0 + uniform(id * 29 + 9) * 11000.0) * 100.0) / 100.0,
        segments((mix(id + 97) & 0x7FFFFFFF).toInt % 5))
    }).toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .repartitionByRange(cpus.toInt * 2, $"c_custkey")
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/customer.parquet")

    spark.range(1000L * mult).mapPartitions(_.map { id =>
      (id, f"Supplier#$id%09d", ((mix(id + 101) & 0x7FFFFFFF) % 25).toInt,
        math.rint((500.0 + uniform(id * 31 + 10) * 5500.0) * 100.0) / 100.0)
    }).toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/supplier.parquet")

    val adjs = Array("blue", "cold", "hot", "large", "new", "old", "red", "small")
    val nouns = Array("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
    val types = Array("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
    spark.range(20000L * mult).mapPartitions(_.map { id =>
      (id,
        adjs((mix(id + 103) & 0x7FFFFFFF).toInt % 8) + " " +
          nouns((mix(id + 107) & 0x7FFFFFFF).toInt % 8),
        "Brand#" + (1 + ((mix(id + 109) & 0x7FFFFFFF) % 25)),
        types((mix(id + 113) & 0x7FFFFFFF).toInt % 6),
        (1 + ((mix(id + 127) & 0x7FFFFFFF) % 50)).toInt,
        math.rint((900.0 + (id % 1000).toDouble * 0.1) * 100.0) / 100.0)
    }).toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size",
        "p_retailprice")
      .repartitionByRange(cpus.toInt * 2, $"p_partkey")
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/part.parquet")

    (0 until 25).map(i => (i, s"NATION_$i", i % 5))
      .toDF("n_nationkey", "n_name", "n_regionkey").coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/nation.parquet")
    Seq((0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"), (3, "EUROPE"),
      (4, "MIDDLE EAST"))
      .toDF("r_regionkey", "r_name").coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/region.parquet")

    println(s"[scalegen] wrote $nDocs docs / $nEvents events / $nVecs vecs / " +
      s"$nOrders orders / $nLines lineitem / ${15000L * mult} customer / " +
      s"${1000L * mult} supplier / ${20000L * mult} part to $outDir")
    spark.stop()
  }
}
