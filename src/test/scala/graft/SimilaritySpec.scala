package graft

import graft.operators.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** §2.6 ANN semantics at sf0.01 (500 vectors — stable statistics):
  * brute force is exact; LSH/IVF recall floors AND candidate-fraction
  * ceilings (an ANN that scans everything would pass recall trivially). */
class SimilaritySpec extends SparkSpec {

  private lazy val brute = Similarity.nBruteTopk(spark, sf01).collect()
  private lazy val bruteSets: Map[Long, Set[Long]] = brute
    .groupBy(_.getAs[Long]("qid"))
    .map { case (q, rows) => q -> rows.map(_.getAs[Long]("vid")).toSet }

  private def recallOf(rows: Array[org.apache.spark.sql.Row]): Double = {
    val bySets = rows.groupBy(_.getAs[Long]("qid"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("vid")).toSet }
    val hits = bruteSets.map { case (q, truth) =>
      bySets.getOrElse(q, Set.empty).count(truth).toDouble / truth.size
    }
    hits.sum / hits.size
  }

  test("n_brute_topk: k results per query, cosine non-increasing") {
    val byQ = brute.groupBy(_.getAs[Long]("qid"))
    assert(byQ.size == Similarity.NumQueries)
    byQ.values.foreach { rows =>
      assert(rows.length == Similarity.K)
      val sorted = rows.sortBy(_.getAs[Int]("rn"))
      val cosSeq = sorted.map(_.getAs[Double]("cos")).toSeq
      assert(cosSeq == cosSeq.sorted.reverse, "cos not non-increasing")
    }
  }

  test("n_quant_topk: int8-quantized scoring preserves most of the exact top-k") {
    val recall = recallOf(Similarity.nQuantTopk(spark, sf01).collect())
    assert(recall >= 0.8, s"int8 quantization recall $recall < 0.8")
  }

  test("n_lsh_topk: recall floor and candidate-fraction ceiling") {
    val n = Tables.t(spark, sf01, "embeddings").count()
    val candPerQuery = Similarity.lshCandidates(spark, sf01)
      .groupBy("qid").count().collect().map(_.getAs[Long]("count"))
    val candFrac = candPerQuery.sum.toDouble / (candPerQuery.length * n)
    assert(candFrac < 0.30, s"LSH scans too much: $candFrac of corpus")
    val recall = recallOf(Similarity.nLshTopk(spark, sf01).collect())
    assert(recall >= 0.15, s"LSH recall $recall < 0.15")
    assert(recall > candFrac * 1.2,
      s"LSH no better than random sampling: recall=$recall candfrac=$candFrac")
  }

  test("LSH sizing knob: recall and scan fraction both fall as bits rise; default floor holds") {
    // the recall/bits curve behind the LshBits sizing rule: more bits →
    // smaller buckets → harder pruning → lower scan fraction AND lower
    // recall at fixed probe radius. The sweep pins both monotonicities so
    // a regression in either direction (or a knob that stops doing
    // anything) fails.
    val n = Tables.t(spark, sf01, "embeddings").count().toDouble
    val curve = Seq(4, 8, 12).map { bits =>
      val cand = Similarity.lshCandidates(spark, sf01, bits, Similarity.LshMaxHamming)
        .groupBy("qid").count().collect().map(_.getAs[Long]("count"))
      val frac = cand.sum / (cand.length * n)
      val rec = recallOf(
        Similarity.nLshTopkWith(spark, sf01, bits, Similarity.LshMaxHamming).collect())
      (bits, rec, frac)
    }
    info(curve.map { case (b, r, f) =>
      f"bits=$b recall=$r%.3f scanned=$f%.3f" }.mkString("; "))
    curve.sliding(2).foreach { case Seq((b1, r1, f1), (b2, r2, f2)) =>
      assert(r1 >= r2, s"recall must not rise with bits: $b1→$r1, $b2→$r2")
      assert(f1 > f2, s"scan fraction must fall with bits: $b1→$f1, $b2→$f2")
    }
    val default = curve.find(_._1 == Similarity.LshBits).get
    assert(default._2 >= 0.25, s"default-bits recall ${default._2} < 0.25")
  }

  test("n_pq_topk: 8-byte-code ADC scoring preserves a useful share of the exact top-k") {
    val rows = Similarity.nPqTopk(spark, sf01).collect()
    val byQ = rows.groupBy(_.getAs[Long]("qid"))
    assert(byQ.size == Similarity.NumQueries)
    byQ.values.foreach(rs => assert(rs.length == Similarity.K))
    val recall = recallOf(rows)
    // random vectors are PQ's worst case (nothing to quantize around):
    // 8 segments × 16 centroids measures ≈0.33 here; the floor guards the
    // encode/table/scoring pipeline, not a clustered-corpus promise
    assert(recall >= 0.2, s"PQ recall $recall < 0.2")
    info(f"PQ recall@${Similarity.K} = $recall%.3f (8 codes vs 64 floats = 32x)")
  }

  test("n_ivf_topk: recall floor and candidate-fraction ceiling") {
    val n = Tables.t(spark, sf01, "embeddings").count()
    val candPerQuery = Similarity.ivfCandidates(spark, sf01)
      .groupBy("qid").count().collect().map(_.getAs[Long]("count"))
    val candFrac = candPerQuery.sum.toDouble / (candPerQuery.length * n)
    assert(candFrac < 0.40, s"IVF scans too much: $candFrac of corpus")
    val recall = recallOf(Similarity.nIvfTopk(spark, sf01).collect())
    assert(recall >= 0.6, s"IVF recall $recall < 0.6")
  }

  test("n_ivfpq_topk (IVFADC): cell pruning and ADC scoring compose; recall floor holds") {
    val n = Tables.t(spark, sf01, "embeddings").count()
    // candidate fraction is the IVF tier's — PQ changes what scoring READS
    // (8 codes vs 64 floats), not which vectors are read
    val candPerQuery = Similarity.ivfCandidates(spark, sf01)
      .groupBy("qid").count().collect().map(_.getAs[Long]("count"))
    val candFrac = candPerQuery.sum.toDouble / (candPerQuery.length * n)
    assert(candFrac < 0.40, s"IVFADC scans too much: $candFrac of corpus")
    val rows = Similarity.nIvfpqTopk(spark, sf01).collect()
    val byQ = rows.groupBy(_.getAs[Long]("qid"))
    assert(byQ.size == Similarity.NumQueries)
    byQ.values.foreach(rs => assert(rs.length == Similarity.K))
    val recall = recallOf(rows)
    val ivfRecall = recallOf(Similarity.nIvfTopk(spark, sf01).collect())
    info(f"IVFADC recall@${Similarity.K} = $recall%.3f " +
      f"(IVF exact-scored bound $ivfRecall%.3f, scanned $candFrac%.3f)")
    // random vectors are PQ's worst case; the floor guards the composed
    // pipeline (probe → broadcast tables → ADC), not a clustered promise
    assert(recall >= 0.1, s"IVFADC recall $recall < 0.1")
    // the composition can only lose vs exact-scoring the same candidates
    // (slack for round-6 score ties at the cut)
    assert(recall <= ivfRecall + 0.05,
      s"IVFADC recall $recall exceeds its IVF candidate bound $ivfRecall")
  }

  test("build/serve split: serve against a built index returns exactly the e2e results") {
    // the bench prices build and serve separately (VERDICT r5 #3); this
    // pins that the split is a pure factoring — no tier's serve path can
    // drift from its e2e query
    val (c, a) = Similarity.ivfBuild(spark, sf01)
    assert(Similarity.ivfServe(spark, sf01, c, a).collect().toSeq ==
      Similarity.nIvfTopk(spark, sf01).collect().toSeq)
    val (books, codes) = Similarity.pqBuild(spark, sf01)
    assert(Similarity.pqServe(spark, sf01, books, codes).collect().toSeq ==
      Similarity.nPqTopk(spark, sf01).collect().toSeq)
    val (c2, books2, idx) = Similarity.ivfpqBuild(spark, sf01)
    val mem = Similarity.ivfpqServe(spark, sf01, c2, books2, idx).collect().toSeq
    assert(mem == Similarity.nIvfpqTopk(spark, sf01).collect().toSeq)
    // the STORED form (cell-partitioned parquet, probed cells only) serves
    // byte-identical rows
    val path = "target/ivfpq_index"
    Similarity.ivfpqWriteIndex(idx, path)
    assert(Similarity.ivfpqServeFromStore(spark, sf01, path, c2, books2)
      .collect().toSeq == mem)
  }

  test("stored IVFADC serve: the bounded result sort returns the rows, in " +
      "the order, of the unbounded topK over the same store") {
    import spark.implicits._
    // eight well-separated clusters of varied norms; cluster 0 holds three
    // vectors, fewer than K, so a query probing only its cell gets fewer
    // than K rows. The centroids ARE the cluster centers, so every cell
    // holds exactly its cluster.
    val rnd = new scala.util.Random(23)
    val dim = 16; val segments = 4
    val centers = Array.fill(8)(Array.fill(dim)(4 * rnd.nextGaussian()))
    val vecs = centers.toSeq.zipWithIndex.flatMap { case (c, i) =>
      Seq.fill(if (i == 0) 3 else 40) {
        val scale = 0.5 + rnd.nextDouble()
        c.map(x => (scale * (x + rnd.nextGaussian())).toFloat).toSeq
      }
    }.zipWithIndex.map { case (v, id) => (id.toLong, v) }
    val corpus = vecs.toDF("vec_id", "embedding")
    val cents = centers.toSeq.zipWithIndex
      .map { case (c, i) => (i, c.map(_.toFloat).toSeq) }.toDF("cell", "cv")
    val books = Similarity.pqTrainOn(corpus, dim, 2, segments, 16)
    def queries(rows: Seq[(Long, Seq[Float])]): DataFrame =
      rows.toDF("qid", "qv")
    val byId = vecs.toMap
    val batches = Seq(
      // corpus rows, ids 0–2 from the three-vector cell
      "corpus" -> queries(Seq(0L, 1L, 2L, 50L, 90L, 200L).map(i => i -> byId(i))),
      // one qid twice with different vectors: the two merge into one top-K
      "duplicate qids" -> queries(Seq(7L -> byId(60L), 7L -> byId(130L),
        8L -> byId(1L))),
      "one query" -> queries(Seq(0L -> byId(0L))))
    Seq("cosine", "l2", "ip").foreach { metric =>
      val path = s"target/bounded_serve_index_$metric"
      Similarity.ivfpqWriteIndex(
        Similarity.ivfpqEncode(corpus, cents, books, segments, metric), path)
      val index = Similarity.readIndex(spark, path)
      batches.foreach { case (name, local) =>
        val qPath = s"target/bounded_serve_queries_${name.replace(' ', '_')}"
        local.write.mode("overwrite").parquet(qPath)
        val frames = Seq("local" -> local, "parquet" -> spark.read.parquet(qPath))
        for ((kind, q) <- frames; nprobe <- Seq(1, 3); excl <- Seq(false, true)) {
          val what = s"$metric, $name, $kind, nprobe $nprobe, excludeSelf $excl"
          val bounded = Similarity.ivfpqServeFromStoreOn(q, path, cents, books,
            nprobe, segments, excl, metric)
          val unbounded = Similarity.ivfpqServeOn(q, cents, books, index,
            nprobe, segments, excl, metric)
          val got = bounded.collect().toSeq
          assert(got.nonEmpty && got == unbounded.collect().toSeq,
            s"bounded and unbounded serves differ: $what")
          if (nprobe == 1 && metric != "ip" && name != "duplicate qids")
            assert(got.count(_.getAs[Long]("qid") == 0L) < Similarity.K,
              s"the three-vector cell gave query 0 a full top-K: $what")
        }
      }
    }
  }

  test("Lloyd iterations (QuantIters knob): recall non-decreasing on a clustered corpus") {
    // Random vectors cannot show quantizer quality (nothing to converge to),
    // so this runs on a synthetic CLUSTERED corpus: 16 well-separated
    // centers (64-d gaussians are near-orthogonal), members = center +
    // noise. Seeds are deliberately BAD — the 16 lowest-id vectors come
    // from only 4 of the 16 clusters — so raw sample centroids (iters=0)
    // underfit and Lloyd rounds must spread them toward true cluster means.
    // Everything is seeded/deterministic: the measured recalls are stable,
    // and the assertion is the knob's contract — recall(0) ≤ recall(1) ≤
    // recall(2), with training strictly helping at least one tier.
    import spark.implicits._
    val dir = "target/quant_iters_corpus"
    val rnd = new scala.util.Random(7)
    val centers = Array.fill(16)(Array.fill(64)(rnd.nextGaussian()))
    val rows = (0L until 512L).map { id =>
      val cl = if (id < 16) (id % 4).toInt else (id % 16).toInt
      val c = centers(cl)
      (id, (0 until 64).map(j => (c(j) + 0.35 * rnd.nextGaussian()).toFloat))
    }
    rows.toDF("vec_id", "embedding")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    val truth = Similarity.nBruteTopk(spark, dir).collect()
      .groupBy(_.getAs[Long]("qid"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("vid")).toSet }
    def rec(got: Array[org.apache.spark.sql.Row]): Double = {
      val bySets = got.groupBy(_.getAs[Long]("qid"))
        .map { case (q, rs) => q -> rs.map(_.getAs[Long]("vid")).toSet }
      val hits = truth.map { case (q, t) =>
        bySets.getOrElse(q, Set.empty).count(t).toDouble / t.size }
      hits.sum / hits.size
    }
    val ivf = Seq(0, 1, 2).map(i => rec(Similarity.nIvfTopkWith(spark, dir, i).collect()))
    val pq = Seq(0, 1, 2).map(i => rec(Similarity.nPqTopkWith(spark, dir, i).collect()))
    info(f"IVF recall over 0/1/2 Lloyd iters: ${ivf.map(r => f"$r%.3f").mkString(" → ")}")
    info(f"PQ  recall over 0/1/2 Lloyd iters: ${pq.map(r => f"$r%.3f").mkString(" → ")}")
    // the composed tier on the corpus PQ is BUILT for (clustered): trained
    // IVFADC must clear a recall floor no random-corpus tier is held to —
    // this is the clustered-corpus promise behind the n_ivfpq_topk entry
    val ivfpq2 = rec(Similarity.nIvfpqTopkWith(spark, dir, 2).collect())
    info(f"IVFADC recall at 2 Lloyd iters on clustered corpus: $ivfpq2%.3f")
    // measured 0.500 on the seeded corpus; floor set below it so the
    // assertion tests the tier, not the exact seed
    assert(ivfpq2 >= 0.45, s"trained IVFADC recall $ivfpq2 < 0.45 on clustered corpus")
    Seq("IVF" -> ivf, "PQ" -> pq).foreach { case (name, curve) =>
      curve.sliding(2).foreach { case Seq(a, b) =>
        assert(b >= a, s"$name recall fell with more Lloyd iterations: $curve")
      }
    }
    assert(ivf.last > ivf.head || pq.last > pq.head,
      s"training never helped: IVF $ivf, PQ $pq")
  }

  test("n_range_search agrees with brute-force top-k above the threshold") {
    val range = Similarity.nRangeSearch(spark, sf01).collect()
    assert(range.nonEmpty)
    assert(range.forall(_.getAs[Double]("cos") >= Similarity.RangeTau))
    // every top-k pair scoring >= tau must be in the range result
    val rangePairs = range.map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vid"))).toSet
    val topAbove = Similarity.nBruteTopk(spark, sf01).collect()
      .filter(_.getAs[Double]("cos") >= Similarity.RangeTau)
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vid"))).toSet
    assert(topAbove.subsetOf(rangePairs))
  }

  test("ivf assignment covers the whole corpus exactly once") {
    val assigned = Similarity.ivfAssigned(spark, sf01)
    val n = Tables.t(spark, sf01, "embeddings").count()
    assert(assigned.count() == n)
    assert(assigned.select("vec_id").distinct().count() == n)
    assert(assigned.agg(max("cell")).collect().head.getInt(0) < Similarity.IvfCells)
  }

  test("n_rrf_hybrid: K fused results per query, rank-ordered, dual-pool " +
    "presence provably dominates single-pool, deterministic") {
    val res = Similarity.nRrfHybrid(spark, sf01)
    val rows = res.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val perQ = rows.groupBy(_._1)
    assert(perQ.size == Similarity.HybridQueries)
    perQ.foreach { case (q, rs) =>
      assert(rs.length == Similarity.K, s"query $q: ${rs.length} results")
      val byRn = rs.sortBy(_._4).map(_._3)
      assert(byRn.zip(byRn.tail).forall { case (a, b) => a >= b },
        s"query $q: rrf not monotone in rank")
    }
    // with damp=60, pool=50 the score bands can't overlap: ANY doc in both
    // pools (rrf >= 2/(60+50)) outranks ANY single-pool doc (rrf <= 1/61) —
    // the no-calibration selling point of RRF, visible in the output bands
    val dualFloor = 2.0 / (Similarity.RrfDamp + Similarity.RrfPoolN)
    val singleCeil = 1.0 / (Similarity.RrfDamp + 1)
    assert(dualFloor > singleCeil, "constants must separate the bands")
    assert(rows.forall(r => r._3 > 0 && r._3 <= 2.0 / (Similarity.RrfDamp + 1)))
    perQ.foreach { case (q, rs) =>
      val sorted = rs.sortBy(_._4)
      val firstSingle = sorted.indexWhere(_._3 <= singleCeil)
      if (firstSingle >= 0)
        assert(sorted.drop(firstSingle).forall(_._3 < dualFloor),
          s"query $q: dual-pool doc ranked below a single-pool doc")
    }
    val again = Similarity.nRrfHybrid(spark, sf01).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(rows.toSeq == again.toSeq, "fusion must be deterministic")
  }

  test("n_rrf_hybrid keyword pool: the inverted-index formulation equals " +
    "the naive corpus×queries intersect exactly, and the precondition " +
    "that makes it exact holds on the gate data") {
    import org.apache.spark.sql.functions._
    for (dir <- Seq(sf, sf01)) {
      val (d, kwQ) = Similarity.hybridWordFrames(spark, dir)
      // precondition: an inverted index can only see docs sharing >= 1
      // word with the query; equality with the naive pool (which ranks
      // zero-overlap docs too) needs >= PoolN nonzero-overlap candidates
      // per query. Assert it so data drift fails loudly HERE, not as a
      // mystery oracle mismatch.
      val nonzero = d.crossJoin(broadcast(kwQ))
        .filter(col("doc_id") =!= col("qid") &&
          size(array_intersect(col("words"), col("qwords"))) > 0)
        .groupBy("qid").count().collect()
      assert(nonzero.length == Similarity.HybridQueries)
      nonzero.foreach { r =>
        assert(r.getLong(1) >= Similarity.RrfPoolN,
          s"$dir query ${r.get(0)}: only ${r.getLong(1)} nonzero-overlap " +
            "candidates — inverted pool would diverge from naive")
      }
      val exact = Similarity.kwTopExact(d, kwQ).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sortBy(identity[(Long, Long, Int)])
      val inverted = Similarity.kwTopInverted(d, kwQ).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sortBy(identity[(Long, Long, Int)])
      assert(exact.toSeq == inverted.toSeq,
        s"$dir: inverted pool diverged from the naive intersect")
    }
  }

  test("ivf probe selection: the top_cells kernel equals the window " +
    "reference (score desc, cell asc) probe-for-probe, ties included") {
    import org.apache.spark.sql.expressions.Window
    // small + big model configs — the kernel replaced BOTH r17 branches
    // (inline least-chain and crossJoin+row_number)
    for ((cells, nprobe) <- Seq((Similarity.IvfCells, Similarity.IvfNprobe),
        (Similarity.BigIvfCells, Similarity.BigIvfNprobe))) {
      val c = Similarity.ivfQuantizer(spark, sf01, cells = cells)
      val queries = Tables.t(spark, sf01, "embeddings")
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val kernel = Similarity.ivfProbesOn(queries, c, nprobe)
        .select("qid", "cell").collect()
        .map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
      val w = Window.partitionBy("qid").orderBy(desc("qcos"), asc("cell"))
      val window = queries.crossJoin(broadcast(c))
        .select(col("qid"), col("cell"),
          expr("cosine_similarity(qv, cv)").as("qcos"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= nprobe)
        .select("qid", "cell").collect()
        .map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
      assert(kernel == window,
        s"cells=$cells nprobe=$nprobe: kernel probes diverge from window")
    }
    // tie + degenerate coverage the corpus can't produce: duplicate
    // centroids force score ties (→ lowest cell), and a zero query vector
    // scores 0.0 against every cell (→ cells in ascending order)
    val dup = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      org.apache.spark.sql.Row(7, Seq(1.0f, 0.0f)),
      org.apache.spark.sql.Row(3, Seq(0.0f, 1.0f)),
      org.apache.spark.sql.Row(5, Seq(0.0f, 1.0f)),
      org.apache.spark.sql.Row(9, Seq(0.6f, 0.8f)))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("cell",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("cv",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType)))))
    val q2 = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      org.apache.spark.sql.Row(1L, Seq(0.0f, 1.0f)),
      org.apache.spark.sql.Row(2L, Seq(0.0f, 0.0f)))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("qid",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("qv",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType)))))
    val got = Similarity.ivfProbesOn(q2, dup, nprobe = 2)
      .select("qid", "cell").collect()
      .map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    // qid 1: cells 3 and 5 tie at cos=1.0 → both probed (lowest first);
    // qid 2: zero vector scores 0.0 everywhere → lowest cells 3, 5
    assert(got == Seq((1L, 3), (1L, 5), (2L, 3), (2L, 5)),
      s"tie/degenerate probes wrong: $got")
  }

  /** The cell `assignTo` gives each vector, by vec_id. */
  private def assignedCells(corpus: DataFrame, cents: DataFrame,
      metric: String): Map[Long, Int] =
    Similarity.assignTo(corpus, cents, metric).select("vec_id", "cell")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap

  /** Reference assignment, independent of the `nearest_centroid` kernel:
    * every (vector, centroid) pair of the cross join is scored with the
    * scalar metric function, and the argmax is taken on the driver, ties
    * to the highest cell. */
  private def referenceCells(corpus: DataFrame, cents: DataFrame,
      metric: String): Map[Long, Int] = {
    val byScoreThenCell = Ordering.Tuple2(Ordering.Double.TotalOrdering,
      Ordering.Int)
    corpus.crossJoin(cents.select("cell", "cv"))
      .select(col("vec_id"), col("cell"),
        Similarity.scoreCol(metric, col("embedding"), col("cv")).as("s"))
      .collect().groupBy(_.getLong(0))
      .map { case (id, rs) => id ->
        rs.maxBy(r => (r.getDouble(2), r.getInt(1)))(byScoreThenCell).getInt(1) }
  }

  test("ivf assignment: nearest_centroid equals a scalar cross-join argmax " +
    "reference under cosine, l2 and ip at 16 and 64 cells, ties to the " +
    "highest cell") {
    val corpus = Tables.t(spark, sf01, "embeddings")
      .select("vec_id", "embedding")
    for (cells <- Seq(Similarity.IvfCells, Similarity.BigIvfCells)) {
      val c = Similarity.ivfQuantizer(spark, sf01, cells = cells)
      for (metric <- Seq("cosine", "l2", "ip")) {
        val got = assignedCells(corpus, c, metric)
        val want = referenceCells(corpus, c, metric)
        assert(want.size == corpus.count() && got.keySet == want.keySet)
        val diff = want.collect { case (id, cl) if got(id) != cl =>
          (id, cl, got(id)) }
        assert(diff.isEmpty,
          s"cells=$cells $metric: kernel diverges from the reference on " +
            s"(vec_id, want, got) ${diff.take(5)}")
      }
    }
    // ties the corpus can't produce: cells 3 and 5 hold the same centroid,
    // and the ids are sparse and unsorted, so a tie must resolve to the
    // highest cell id, not to the first row or the highest row index
    import spark.implicits._
    val dup = Seq((7, Seq(1.0f, 0.0f)), (5, Seq(0.0f, 1.0f)),
      (3, Seq(0.0f, 1.0f)), (1, Seq(0.6f, -0.8f))).toDF("cell", "cv")
    val vecs = Seq((1L, Seq(0.0f, 2.0f)), (2L, Seq(3.0f, 0.1f)))
      .toDF("vec_id", "embedding")
    for (metric <- Seq("cosine", "l2", "ip")) {
      assert(referenceCells(vecs, dup, metric) == Map(1L -> 5, 2L -> 7),
        s"$metric reference")
      assert(assignedCells(vecs, dup, metric) == Map(1L -> 5, 2L -> 7),
        s"$metric kernel")
    }
  }

  test("n_ivf_big (64 cells / nprobe 8): the gate config exercises the " +
    "kernel assignment — k per query, recall floor, pruning holds") {
    val n = Tables.t(spark, sf01, "embeddings").count()
    val candPerQuery = Similarity.ivfCandidates(spark, sf01,
        cells = Similarity.BigIvfCells, nprobe = Similarity.BigIvfNprobe)
      .groupBy("qid").count().collect().map(_.getAs[Long]("count"))
    val candFrac = candPerQuery.sum.toDouble / (candPerQuery.length * n)
    assert(candFrac < 0.30, s"64-cell IVF scans too much: $candFrac")
    val rows = Similarity.nIvfBig(spark, sf01).collect()
    val byQ = rows.groupBy(_.getAs[Long]("qid"))
    assert(byQ.size == Similarity.NumQueries)
    byQ.values.foreach(rs => assert(rs.length == Similarity.K))
    val recall = recallOf(rows)
    info(f"64-cell IVF recall@${Similarity.K} = $recall%.3f, scanned $candFrac%.3f")
    assert(recall >= 0.5, s"64-cell IVF recall $recall < 0.5")
  }

  test("IVF at 256 cells (production shape, VERDICT r10): trains and " +
    "serves on the 2000-vector corpus; assignment stays a zero-shuffle " +
    "kernel projection") {
    val big = "/root/testdata/sf0.1"
    val cells = 256
    val nprobe = 32
    val c = Similarity.ivfQuantizer(spark, big, iters = 1, cells = cells)
    assert(c.count() == cells, "quantizer must hold exactly `cells` rows")
    val corpus = Tables.t(spark, big, "embeddings")
      .select("vec_id", "embedding")
    val assigned = Similarity.assignTo(corpus, c)
    assigned.collect()
    val p = assigned.queryExecution.executedPlan.toString
    assert(p.contains("nearest_centroid"),
      s"256-cell assignment must use the kernel path:\n$p")
    assert(!p.contains("Exchange"),
      s"256-cell index-build assignment shuffles the corpus:\n$p")
    // full coverage, one cell per vector
    assert(assigned.count() == corpus.count())
    // serve: recall floor vs brute force on the same corpus
    val bruteBig = Similarity.nBruteTopk(spark, big).collect()
      .groupBy(_.getAs[Long]("qid"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("vid")).toSet }
    val served = Similarity.nIvfTopkWith(spark, big, 1, cells, nprobe)
      .collect()
    val byQ = served.groupBy(_.getAs[Long]("qid"))
    assert(byQ.size == Similarity.NumQueries)
    byQ.values.foreach(rs => assert(rs.length == Similarity.K))
    val hits = bruteBig.map { case (q, truth) =>
      byQ.getOrElse(q, Array.empty).map(_.getAs[Long]("vid"))
        .count(truth).toDouble / truth.size }
    val recall = hits.sum / hits.size
    info(f"256-cell/32-probe recall@${Similarity.K} = $recall%.3f " +
      f"(scanning ~${nprobe.toDouble / cells}%.3f of cells)")
    assert(recall >= 0.5, s"256-cell IVF recall $recall < 0.5")
  }

  test("trainSampleMod: quantizers trained on a 1/4 corpus sample keep " +
    "clustered-corpus recall (the production sample-training mode)") {
    import spark.implicits._
    val dir = "target/sample_train_corpus"
    val rnd = new scala.util.Random(7)
    val centers = Array.fill(16)(Array.fill(64)(rnd.nextGaussian()))
    val rows = (0L until 512L).map { id =>
      val cl = if (id < 16) (id % 4).toInt else (id % 16).toInt
      val c = centers(cl)
      (id, (0 until 64).map(j => (c(j) + 0.35 * rnd.nextGaussian()).toFloat))
    }
    rows.toDF("vec_id", "embedding")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val truth = Similarity.nBruteTopk(spark, dir).collect()
      .groupBy(_.getAs[Long]("qid"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("vid")).toSet }
    def rec(got: Array[org.apache.spark.sql.Row]): Double = {
      val bySets = got.groupBy(_.getAs[Long]("qid"))
        .map { case (q, rs) => q -> rs.map(_.getAs[Long]("vid")).toSet }
      val hits = truth.map { case (q, t) =>
        bySets.getOrElse(q, Set.empty).count(t).toDouble / t.size }
      hits.sum / hits.size
    }
    // IVF: quantizer trained on every 4th vector, full-corpus assignment
    val (cS, aS) = Similarity.ivfBuild(spark, dir, iters = 2,
      trainSampleMod = 4)
    assert(cS.count() == Similarity.IvfCells,
      "sample-trained quantizer lost cells")
    val sampleIvf = rec(Similarity.ivfServe(spark, dir, cS, aS).collect())
    val fullIvf = rec(Similarity.nIvfTopkWith(spark, dir, 2).collect())
    info(f"IVF recall: full-trained $fullIvf%.3f, 1/4-sample-trained $sampleIvf%.3f")
    // a 128-vector sample still sees every cluster ~8 times — means are
    // √-noisier but the coarse structure is identical
    assert(sampleIvf >= fullIvf - 0.1,
      s"sample training collapsed IVF recall: $sampleIvf vs $fullIvf")
    // PQ: codebooks trained on the sample, full-corpus encode
    val (books, codes) = Similarity.pqBuild(spark, dir, iters = 2,
      trainSampleMod = 4)
    val samplePq = rec(Similarity.pqServe(spark, dir, books, codes).collect())
    val fullPq = rec(Similarity.nPqTopkWith(spark, dir, 2).collect())
    info(f"PQ recall: full-trained $fullPq%.3f, 1/4-sample-trained $samplePq%.3f")
    assert(samplePq >= fullPq - 0.15,
      s"sample training collapsed PQ recall: $samplePq vs $fullPq")
  }

  test("metric knob (VERDICT r11 #5): l2 and ip rankings differ from " +
    "cosine where they must, and the full IVFADC lifecycle keeps recall " +
    "per metric on a clustered corpus") {
    import spark.implicits._
    import graft.api.AnnApi
    // clustered corpus with VARIED NORMS so the metrics genuinely disagree:
    // scaling a vector changes ip ordering, leaves cosine ordering alone
    val rnd = new scala.util.Random(11)
    val centers = Array.fill(16)(Array.fill(64)(rnd.nextGaussian()))
    val rows = (0L until 512L).map { id =>
      val c = centers((id % 16).toInt)
      val scale = 0.5 + (id % 7).toDouble / 3.0
      (id, (0 until 64).map(j =>
        (scale * (c(j) + 0.3 * rnd.nextGaussian())).toFloat))
    }
    val corpus = rows.toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    def topIds(metric: String): Map[Long, Seq[Long]] =
      AnnApi.bruteTopK(corpus, queries, 10, excludeSelf = true,
          metric = metric)
        .collect().groupBy(_.getAs[Long]("qid"))
        .map { case (q, rs) => q ->
          rs.sortBy(_.getAs[Int]("rn")).map(_.getAs[Long]("vid")).toSeq }
    val cosT = topIds("cosine"); val l2T = topIds("l2"); val ipT = topIds("ip")
    // on varied-norm data the three objectives cannot all coincide
    assert(cosT != ipT, "ip ranking identical to cosine on varied norms")
    assert(cosT != l2T, "l2 ranking identical to cosine on varied norms")
    // l2 score column is the NEGATED distance: top-1 of a corpus query is
    // a same-cluster vector at small distance, score close to 0 from below
    val l2Top = AnnApi.bruteTopK(corpus, queries, 3, excludeSelf = true,
      metric = "l2").collect()
    assert(l2Top.forall(_.getAs[Double]("cos") <= 0.0),
      "l2 scores must be negated distances")
    // full lifecycle per metric: train -> encode -> store -> serve, recall
    // vs that metric's own brute-force truth. For cosine the documented
    // contract applies: ADC scores inner products of reconstructions, so
    // varied-norm embeddings are L2-normalized before indexing (cosine is
    // scale-invariant — the truth is unchanged; the serve becomes exact-
    // objective). l2/ip index the raw vectors.
    val unitCorpus = corpus.select(col("vec_id"),
      expr("l2_normalize(embedding)").cast("array<float>").as("embedding"))
    val unitQueries = queries.select(col("qid"),
      expr("l2_normalize(qv)").cast("array<float>").as("qv"))
    Seq("cosine", "l2", "ip").foreach { metric =>
      val idxCorpus = if (metric == "cosine") unitCorpus else corpus
      val servQueries = if (metric == "cosine") unitQueries else queries
      val c = AnnApi.trainIvf(idxCorpus, cells = 16, iters = 2, metric = metric)
      val books = AnnApi.trainPq(idxCorpus, dim = 64, segments = 8,
        codebook = 32, iters = 2)
      val index = AnnApi.encodeIndex(idxCorpus, c, books, segments = 8,
        metric = metric)
      val path = s"target/metric_knob_index_$metric"
      AnnApi.writeIndex(index, path)
      val served = AnnApi.serveFromStore(servQueries, path, c, books,
        nprobe = 8, segments = 8, excludeSelf = true, metric = metric)
        .collect().groupBy(_.getAs[Long]("qid"))
        .map { case (q, rs) => q -> rs.map(_.getAs[Long]("vid")).toSet }
      val truth = topIds(metric)
      val recall = truth.map { case (q, t) =>
        served.getOrElse(q, Set.empty).count(t.toSet).toDouble / t.size
      }.sum / truth.size
      info(f"$metric%6s IVFADC recall@10 = $recall%.3f")
      assert(recall >= 0.4, s"$metric lifecycle recall $recall < 0.4")
    }
    // on this varied-norm corpus, assignment under every metric equals
    // the scalar cross-join reference
    val cents = Similarity.ivfQuantizerOn(corpus, iters = 0, cells = 16)
    Seq("cosine", "l2", "ip").foreach { metric =>
      assert(assignedCells(corpus, cents, metric) ==
        referenceCells(corpus, cents, metric),
        s"nearest_centroid assignment drifted from the reference: $metric")
    }
  }

  test("IVFADC at 64 cells: the composed tier works through the kernel " +
    "assignment path with recall in family of the default config") {
    val rows = Similarity.nIvfpqTopkWith(spark, sf01, 1,
      cells = Similarity.BigIvfCells, nprobe = Similarity.BigIvfNprobe)
      .collect()
    val byQ = rows.groupBy(_.getAs[Long]("qid"))
    assert(byQ.size == Similarity.NumQueries)
    byQ.values.foreach(rs => assert(rs.length == Similarity.K))
    val recall = recallOf(rows)
    info(f"64-cell IVFADC recall@${Similarity.K} = $recall%.3f")
    // bounded by the 64-cell IVF candidate recall (~0.74) times PQ's
    // random-vector distortion — the floor guards the composed pipeline
    assert(recall >= 0.1, s"64-cell IVFADC recall $recall < 0.1")
  }

  test("n_ivfpq_delta: frozen-model append serves byte-identical to the " +
    "all-at-once build, and rewrites no base index file") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    def indexFiles(p: String): Map[String, Long] =
      Files.walk(Paths.get(p)).iterator().asScala
        .filter(f => f.toString.endsWith(".parquet"))
        .map(f => f.toString -> Files.getLastModifiedTime(f).toMillis).toMap
    def filesPerCell(files: Iterable[String]): Map[String, Int] =
      files.toSeq.map(f => Paths.get(f).getParent.getFileName.toString)
        .groupBy(identity).map { case (d, fs) => d -> fs.size }
    // replicate the entry's steps to snapshot the store between them; the
    // inputs are split over several tasks so every task holds rows of
    // most cells, as a build at scale does
    val c = Similarity.ivfQuantizer(spark, sf01)
    val (books, _) = Similarity.pqBuild(spark, sf01)
    val path = "target/ivfpq_delta_index_spec"
    val emb = Tables.t(spark, sf01, "embeddings").select("vec_id", "embedding")
    val base = emb.filter(col("vec_id") < Similarity.DeltaSplitId).repartition(4)
    val delta = emb.filter(col("vec_id") >= Similarity.DeltaSplitId).repartition(2)
    assert(base.rdd.getNumPartitions >= 4 && delta.rdd.getNumPartitions >= 2)
    Similarity.ivfpqWriteIndex(Similarity.ivfpqEncode(base, c, books), path)
    val before = indexFiles(path)
    // the writer clusters by cell: one file in every cell= directory
    val baseCells = filesPerCell(before.keys)
    assert(baseCells.nonEmpty && baseCells.keys.forall(_.startsWith("cell=")))
    assert(baseCells.values.forall(_ == 1),
      s"base write left several files in a cell: $baseCells")
    Similarity.ivfpqIndexAppend(delta, c, books, path)
    val after = indexFiles(path)
    // append grows the store and leaves every base file byte-untouched
    assert(after.size > before.size, "append added no files")
    val touched = before.filter { case (f, t) => after.get(f) != Some(t) }
    assert(touched.isEmpty, s"append rewrote base files: ${touched.keys.take(3)}")
    // ... and adds at most one file to each cell
    val added = filesPerCell(after.keys.filterNot(before.contains))
    assert(added.values.forall(_ == 1),
      s"append added several files to a cell: $added")
    // the served rows equal the all-at-once build's (same model ⇒ same
    // assignments/codes ⇒ same index content)
    val served = Similarity.ivfpqServeFromStore(spark, sf01, path, c, books)
      .collect().toSeq
    assert(served.nonEmpty &&
      served == Similarity.nIvfpqTopk(spark, sf01).collect().toSeq,
      "incrementally-grown index diverges from the all-at-once build")
    // and the registered entry is this exact pipeline
    assert(Similarity.nIvfpqDelta(spark, sf01).collect().toSeq == served)
  }

  test("PQ sizing knobs (segments/codebook): finer quantization raises " +
    "recall; both configs keep k per query") {
    val coarse = Similarity.nPqTopkWith(spark, sf01, 1).collect()
    val fine = Similarity.nPqTopkWith(spark, sf01, 1,
      segments = 16, codebook = 32).collect()
    Seq(coarse, fine).foreach { rows =>
      val byQ = rows.groupBy(_.getAs[Long]("qid"))
      assert(byQ.size == Similarity.NumQueries)
      byQ.values.foreach(rs => assert(rs.length == Similarity.K))
    }
    val (rc, rf) = (recallOf(coarse), recallOf(fine))
    info(f"PQ recall: 8x16 = $rc%.3f, 16x32 = $rf%.3f")
    // 16 segments of 4 dims x 32 centroids quantizes far finer than
    // 8x8x16 — on ANY corpus the distortion falls, so recall must rise
    assert(rf > rc, s"finer PQ config must beat coarser: $rf vs $rc")
  }
}
