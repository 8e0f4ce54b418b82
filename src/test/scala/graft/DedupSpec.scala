package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** §2.5 dedup semantics: planted duplicates must be recovered with high
  * recall, and reported pairs must be genuinely similar (precision). */
class DedupSpec extends SparkSpec {

  /** Run `body` on an isolated session whose driver finish is off, so
    * `connectedComponents` labels through the distributed contraction
    * rounds however small the graph. */
  private def distributed[A](body: org.apache.spark.sql.SparkSession => A): A =
    withSession { s =>
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      body(s)
    }

  private def labelMap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def plantedNearPairs: Long =
    Tables.t(spark, sf, "documents").filter(col("doc_id") % 10 === 0).count()

  test("d_exact groups the planted exact copies and nothing else") {
    val res = Dedup.dExact(spark, sf)
    val planted = plantedNearPairs
    assert(res.filter(col("n_copies") === 2).count() == planted)
    assert(res.filter(col("n_copies") > 2).count() == 0)
    // survivor is always the original (min id)
    assert(res.filter(col("keep_id") >= 2000000L).count() == 0)
  }

  test("d_minhash recovers planted near-dups with high recall and precision") {
    val pairs = Dedup.dMinhash(spark, sf).collect()
    val planted = plantedNearPairs
    val recovered = pairs.count { r =>
      r.getAs[Long]("doc_b") == r.getAs[Long]("doc_a") + 1000000L
    }
    assert(recovered >= (planted * 0.9).toLong,
      s"recall: $recovered of $planted planted pairs")
    // precision: every reported pair passed the exact-Jaccard verification
    assert(pairs.forall(_.getAs[Double]("jaccard") >= 0.5))
  }

  test("d_minhash_delta: incremental delta-vs-stored-index dedup equals " +
    "the full-corpus d_minhash restricted to delta-touching pairs") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"), r.getAs[Double]("jaccard"))
    val full = Dedup.dMinhash(spark, sf).collect().map(key)
    // the incremental contract: every pair involving >= 1 delta doc, and
    // ONLY those (base-vs-base pairs were owed by earlier runs)
    val owed = full.filter(p => p._1 >= 1000000L || p._2 >= 1000000L)
      .sortBy(identity)
    val inc = Dedup.dMinhashDelta(spark, sf).collect().map(key).sortBy(identity)
    assert(owed.nonEmpty, "delta must produce pairs at this sf")
    assert(inc.toSeq == owed.toSeq,
      s"incremental diverges: inc=${inc.length} owed=${owed.length}; " +
        s"missing=${owed.diff(inc).take(3).toSeq} extra=${inc.diff(owed).take(3).toSeq}")
    // and it genuinely skips base-vs-base work: the full result has pairs
    // the incremental one must NOT emit
    assert(full.length > owed.length,
      "test needs base-vs-base pairs to prove the restriction")
  }

  test("d_minhash_delta from the STORED index: byte-identical to the " +
    "in-memory delta run (the serve path a deployment prices)") {
    import org.apache.spark.sql.functions.col
    val all = Dedup.withPlantedNear(
      Tables.t(spark, sf, "documents").select("doc_id", "text"))
    val base = Dedup.wordShingleSets(all.filter(col("doc_id") < 1000000L))
    val delta = Dedup.wordShingleSets(all.filter(col("doc_id") >= 1000000L))
    val path = "target/minhash_index_spec"
    Dedup.minhashIndexWrite(base, path)
    val stored = Dedup.minhashDeltaPairsFromStore(spark, path, delta, 0.5)
      .collect().toSeq
    val mem = Dedup.minhashDeltaPairs(base, delta, 0.5).collect().toSeq
    assert(stored.nonEmpty && stored == mem,
      s"stored-index serve diverges: ${stored.length} vs ${mem.length}")
  }

  test("d_ngram_jaccard recovers planted near-dups at char granularity") {
    val pairs = Dedup.dNgramJaccard(spark, sf).collect()
    val planted = plantedNearPairs
    val recovered = pairs.count { r =>
      r.getAs[Long]("doc_b") == r.getAs[Long]("doc_a") + 1000000L
    }
    assert(recovered >= (planted * 0.8).toLong,
      s"recall: $recovered of $planted")
  }

  test("d_simhash finds planted near-dups within hamming<=3") {
    val pairs = Dedup.dSimhash(spark, sf).collect()
    assert(pairs.nonEmpty)
    assert(pairs.forall(_.getAs[Int]("hamming") <= 3))
    val recovered = pairs.count { r =>
      r.getAs[Long]("doc_b") == r.getAs[Long]("doc_a") + 1000000L
    }
    assert(recovered > 0, "no planted pair within hamming<=3")
  }

  test("d_embed_dup finds exactly the planted perturbed vectors") {
    val pairs = Dedup.dEmbedDup(spark, sf).collect()
    val planted = Tables.t(spark, sf, "embeddings")
      .filter(col("vec_id") % 10 === 0).count()
    val recovered = pairs.count { r =>
      r.getAs[Long]("vec_b") == r.getAs[Long]("vec_a") + 1000000L
    }
    assert(recovered == planted, s"recall $recovered of $planted")
    assert(pairs.forall(_.getAs[Double]("cos") > 0.98))
  }

  test("x_fingerprint: equal texts share fingerprints, distinct texts don't") {
    val fp = Dedup.xFingerprint(spark, sf)
    val orig = fp.filter(col("doc_id") < 2000000L)
      .withColumnRenamed("fingerprint", "fp_o")
    val copy = fp.filter(col("doc_id") >= 2000000L)
      .withColumn("doc_id", col("doc_id") - 2000000L)
      .withColumnRenamed("fingerprint", "fp_c")
    val joined = orig.join(copy, "doc_id")
    assert(joined.filter(col("fp_o") =!= col("fp_c")).count() == 0)
    // no collisions among distinct originals
    val n = orig.count()
    assert(orig.select("fp_o").distinct().count() == n)
  }

  test("d_contam: planted eval copies all found; every reported pair truly overlaps") {
    // eval = every 25th doc; planted exact copies exist for every 10th doc
    // at id+2000000 → the copies of docs divisible by 50 (lcm) MUST appear.
    // The generated corpus also shares genuine 8-gram phrases across
    // distinct docs, so additional true-positive pairs are legitimate —
    // each reported pair is re-verified with an independent exact
    // array_intersect overlap count.
    val result = Dedup.dContam(spark, sf)
    val found = result.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val nDocs = Tables.t(spark, sf, "documents").count().toInt
    val planted = (0 until nDocs by 50).map(i => (i + 2000000L, i.toLong)).toSet
    assert(planted.subsetOf(found), s"missed planted pairs: ${planted -- found}")
    val corpus = Dedup.withPlantedExact(Tables.t(spark, sf, "documents"))
      .select(col("doc_id"), expr(s"word_shingles(text, ${Dedup.ContamWidth})").as("sh"))
    val verified = result
      .join(corpus.select(col("doc_id"), col("sh").as("sh_d")), "doc_id")
      .join(corpus.select(col("doc_id").as("eval_id"), col("sh").as("sh_e")), "eval_id")
      .withColumn("true_overlap", size(array_intersect(col("sh_d"), col("sh_e"))))
    assert(verified.filter(col("true_overlap") < Dedup.MinHits).count() == 0,
      "a reported pair does not actually share enough shingles")
    assert(verified.filter(col("true_overlap") =!= col("n_hits")).count() == 0,
      "reported hit counts diverge from exact overlap")
  }

  test("connectedComponents collapses a transitive near-dup chain into one cluster") {
    distributed { s =>
      import s.implicits._
      // v0 ≈ v1 (drop 2 words), v1 ≈ v2 (drop 2 more): v0–v2 may fall below
      // the pairwise threshold, so only transitivity groups all three
      val words = (1 to 40).map(i => s"tok$i").mkString(" ")
      val chain = Seq(
        (10L, words),
        (11L, words.split(" ").drop(2).mkString(" ")),
        (12L, words.split(" ").drop(4).mkString(" ")),
        (99L, (1 to 40).map(i => s"other$i").mkString(" ")))
        .toDF("doc_id", "text")
      val pairs = Dedup.minhashLshPairs(Dedup.wordShingleSets(chain), 0.5)
      val run = Dedup.components(pairs, maxIter = 15)
      assert(!run.finishedOnDriver && run.rounds >= 1)
      val cc = labelMap(run.labels)
      assert(cc.keySet == Set(10L, 11L, 12L), s"unexpected nodes: $cc")
      assert(cc.values.toSet == Set(10L), s"labels must be the component min: $cc")
    }
  }

  test("d_incremental admits only genuinely new content, min id per batch dup") {
    val admitted = Dedup.dIncremental(spark, sf).collect()
      .map(_.getLong(0)).toSet
    val corpusIds = Tables.t(spark, sf, "documents")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // resent corpus docs (3000000 range) must all be rejected
    assert(admitted.forall(_ >= 4000000L),
      s"resent corpus content admitted: ${admitted.filter(_ < 4000000L)}")
    // every %7 doc's fresh variant admitted exactly once, as the SMALLER id
    corpusIds.filter(_ % 7 == 0).foreach { d =>
      assert(admitted.contains(d + 4000000L), s"fresh doc $d missing")
      assert(!admitted.contains(d + 5000000L),
        s"within-batch dup of $d not collapsed to the min id")
    }
    assert(admitted.size == corpusIds.count(_ % 7 == 0))
  }

  test("connectedComponents labels a 200-node chain in O(log n) rounds") {
    distributed { s =>
      import s.implicits._
      // a path graph is the worst case for label propagation (diameter = n);
      // star contraction must collapse it well inside the default maxIter=15
      // (log-rounds), and label every node with the component min
      val chain = (0L until 199L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
      val run = Dedup.components(chain, maxIter = 15)
      assert(!run.finishedOnDriver && run.rounds >= 1)
      val cc = run.labels
      assert(cc.count() == 200)
      assert(cc.filter(col("cluster_id") =!= 0L).count() == 0,
        "every chain node must carry the component minimum 0")
    }
  }

  test("connectedComponents throws loudly instead of mislabeling on non-convergence") {
    distributed { s =>
      import s.implicits._
      val chain = (0L until 99L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
      val e = intercept[IllegalStateException] {
        Dedup.connectedComponents(chain, maxIter = 1).count()
      }
      assert(e.getMessage.contains("did not converge"))
    }
  }

  test("connectedComponents handles multiple components and self-pairs") {
    // 30 appears only in a self-pair: it is its own singleton component and
    // must still be labeled (with itself), not dropped (ADVICE r4) — on the
    // distributed rounds and on the driver finish alike
    val want = Map(3L -> 3L, 5L -> 3L, 9L -> 3L, 20L -> 20L, 21L -> 20L,
      30L -> 30L)
    val pairs = Seq((5L, 3L), (3L, 9L), (20L, 21L), (30L, 30L))
    distributed { s =>
      import s.implicits._
      val run = Dedup.components(pairs.toDF("doc_a", "doc_b"), maxIter = 15)
      assert(!run.finishedOnDriver && run.rounds >= 1)
      assert(labelMap(run.labels) == want, s"got ${labelMap(run.labels)}")
    }
    import spark.implicits._
    val run = Dedup.components(pairs.toDF("doc_a", "doc_b"), maxIter = 15)
    assert(run.finishedOnDriver && run.rounds == 0)
    assert(labelMap(run.labels) == want, s"got ${labelMap(run.labels)}")
  }

  test("connectedComponents: the driver finish and the forced-distributed " +
      "rounds give identical labels on random graphs") {
    // self-pairs, duplicate pairs and both orientations of an edge; graphs
    // from sparse (many small components) to dense (one giant component)
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 6) {
      val n = 20 + trial * 15
      val m = trial * 25
      val base = Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val pairs = base ++ base.take(m / 4).map(_.swap) ++ base.take(m / 8) ++
        Seq.fill(3) { val d = rnd.nextInt(n).toLong; (d, d) }
      import spark.implicits._
      val onDriver = Dedup.components(pairs.toDF("doc_a", "doc_b"), 15)
      assert(onDriver.finishedOnDriver && onDriver.rounds == 0)
      val driverLabels = labelMap(onDriver.labels)
      val clusterLabels = distributed { s =>
        import s.implicits._
        val run = Dedup.components(pairs.toDF("doc_a", "doc_b"), 15)
        assert(!run.finishedOnDriver)
        labelMap(run.labels)
      }
      assert(driverLabels == clusterLabels,
        s"trial $trial: labels diverge on " +
          (driverLabels.keySet ++ clusterLabels.keySet)
            .filter(k => driverLabels.get(k) != clusterLabels.get(k)))
      assert(driverLabels.keySet == pairs.flatMap(p => Seq(p._1, p._2)).toSet)
    }
  }

  test("connectedComponents: a pair graph of exactly the bound finishes on " +
      "the driver, one row more contracts on the cluster, same labels") {
    // chains of five pairs (six nodes) with a gap between chains, so the
    // graph has several components and `rows` distinct non-self pairs
    def graph(rows: Int) = (0L until rows).map(i => (i + i / 5, i + i / 5 + 1))
    val bound = 40
    val (atBound, above) = withSession { s =>
      import s.implicits._
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", (bound * 16).toString)
      val at = Dedup.components(graph(bound).toDF("doc_a", "doc_b"), 15)
      assert(at.finishedOnDriver && at.rounds == 0,
        s"$bound rows: finished on driver ${at.finishedOnDriver} after ${at.rounds} rounds")
      val over = Dedup.components(graph(bound + 1).toDF("doc_a", "doc_b"), 15)
      assert(over.rounds >= 1, s"${bound + 1} rows ran no contraction round")
      (labelMap(at.labels), labelMap(over.labels))
    }
    val (wantAt, wantAbove) = distributed { s =>
      import s.implicits._
      (labelMap(Dedup.connectedComponents(graph(bound).toDF("doc_a", "doc_b"))),
        labelMap(Dedup.connectedComponents(graph(bound + 1).toDF("doc_a", "doc_b"))))
    }
    assert(atBound == wantAt)
    assert(above == wantAbove)
    assert(above.values.toSet.size == 9, s"components: ${above.values.toSet}")
  }

  test("connectedComponents hands off to the driver once a contraction " +
      "round brings the edge list within the bound") {
    import spark.implicits._
    // a dense graph (60 nodes, 300 pairs) that one contraction round
    // shrinks toward a star; the bound is set to the round-1 edge list's
    // size, so round 0 does not fit and round 1 does
    val rnd = new scala.util.Random(11)
    val pairs = Seq.fill(300)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
    val edges0 = pairs.toDF("u", "v").filter(col("u") =!= col("v"))
    val n0 = edges0.count()
    val n1 = Dedup.contractionRound(edges0).count()
    assert(n1 < n0, s"round 1 did not shrink the edge list ($n0 → $n1)")
    val want = distributed { s =>
      import s.implicits._
      labelMap(Dedup.connectedComponents(pairs.toDF("doc_a", "doc_b")))
    }
    withSession { s =>
      import s.implicits._
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", (n1 * 16).toString)
      val run = Dedup.components(pairs.toDF("doc_a", "doc_b"), 15)
      assert(run.finishedOnDriver && run.rounds == 1,
        s"finished on driver: ${run.finishedOnDriver} after ${run.rounds} rounds")
      assert(labelMap(run.labels) == want)
    }
  }

  test("d_lines keeps the planted cross-doc boilerplate line in exactly one document") {
    val res = Dedup.dLines(spark, sf).collect()
    val docs = Tables.t(spark, sf, "documents").count()
    assert(res.length == docs, "every document must survive line dedup")
    val footer = "Subscribe to our newsletter today"
    val carriers = res.filter(_.getAs[String]("dedup_text").contains(footer))
    assert(carriers.length == 1,
      s"boilerplate footer survived in ${carriers.length} docs, want 1")
    // the keeper is the corpus-wide FIRST occurrence (lowest planted doc_id)
    assert(carriers.head.getAs[Long]("doc_id") ==
      Tables.t(spark, sf, "documents").filter(col("doc_id") % 5 === 0)
        .agg(min("doc_id")).head().getLong(0))
    // conservation: every distinct line in the planted corpus is kept
    // exactly once, so Σ n_kept == COUNT(DISTINCT line) — a broken window
    // key that merged distinct lines (or dropped unique content) breaks
    // this even though each doc still has some rows
    val planted = Tables.t(spark, sf, "documents")
      .select(col("doc_id"),
        when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(". Subscribe to our newsletter today.")))
          .otherwise(col("text")).as("text"))
    val distinctLines = planted
      .select(explode(split(col("text"), "[.!?] ")).as("line"))
      .distinct().count()
    assert(res.map(_.getAs[Long]("n_kept")).sum == distinctLines,
      "kept-line total must equal the corpus's distinct-line count")
  }

  test("d_cluster groups each planted near-dup with its source, labeled by min id") {
    val res = Dedup.dCluster(spark, sf)
    val byId = res.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val planted = Tables.t(spark, sf, "documents")
      .filter(col("doc_id") % 10 === 0).select("doc_id")
      .collect().map(_.getLong(0))
    planted.foreach { d =>
      val copy = d + 1000000L
      assert(byId.contains(copy), s"planted copy $copy missing from clusters")
      assert(byId(copy)._1 == byId(d)._1,
        s"copy $copy not in same cluster as source $d")
      assert(byId(d)._2 >= 2, s"cluster of $d has size < 2")
    }
    // every label is the minimum doc_id of its cluster
    val badLabel = res.groupBy("cluster_id").agg(min("doc_id").as("mn"))
      .filter(col("cluster_id") =!= col("mn")).count()
    assert(badLabel == 0)
  }

  test("contractionRound set-equals smallStar(largeStar(_)) on random graphs") {
    import spark.implicits._
    // the fused round (VERDICT r7 #1a) must be a pure plan-shape change:
    // same edge set out for arbitrary orientation/duplicate/self-free input
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 5) {
      val n = 30 + trial * 10
      val edges = (1 to 120).map { _ =>
        val a = rnd.nextInt(n).toLong; val b = rnd.nextInt(n).toLong; (a, b)
      }.filter { case (a, b) => a != b }.toDF("u", "v").localCheckpoint()
      val ref = Dedup.smallStar(Dedup.largeStar(edges))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val fused = Dedup.contractionRound(edges)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(fused == ref,
        s"trial $trial: fused round diverged (only-fused=${fused -- ref}, only-ref=${ref -- fused})")
    }
  }

  test("d_semantic core: keep-min within planted clusters, distinct and cross-cell members survive") {
    import spark.implicits._
    val u = Seq(1f, 0f, 0f, 0f)           // cluster seed
    val uEps = Seq(0.999f, 0.01f, 0f, 0f) // cos ~ 0.9999 to u
    val uEps2 = Seq(0.998f, 0.02f, 0f, 0f)
    val v = Seq(0f, 1f, 0f, 0f)           // orthogonal: cos 0 to u
    val assigned = Seq(
      (1L, u, 0), (2L, uEps, 0), (3L, uEps2, 0), // tight cluster in cell 0
      (4L, v, 0),                                // distinct member, same cell
      (5L, u, 1)                                 // identical to 1 but other cell
    ).toDF("vec_id", "embedding", "cell")
    val res = Dedup.dSemanticOn(assigned, 0.98).collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(res == Map(1L -> false, 2L -> true, 3L -> true,
      4L -> false, 5L -> false), res.toString)
  }

  test("d_semantic e2e: planted perturbed vectors dropped, originals all survive") {
    val res = Dedup.dSemantic(spark, sf)
    val planted = res.filter(col("vec_id") >= 1000000L)
    val nPlanted = planted.count()
    assert(nPlanted > 0)
    val caught = planted.filter(col("is_semantic_dup")).count()
    // recall floor, not exactness: a perturbed vector whose source sits on
    // a cell boundary can land one cell over (the paper's accepted miss)
    assert(caught >= (nPlanted * 0.9).toLong, s"$caught of $nPlanted planted dups caught")
    // originals are random vectors — pairwise cosine nowhere near tau
    val falsePos = res.filter(col("vec_id") < 1000000L && col("is_semantic_dup")).count()
    assert(falsePos == 0, s"$falsePos originals wrongly dropped")
  }

  test("d_url: all ten decoration variants collapse to one canonical page " +
    "per group; no cross-group merges") {
    val res = operators.Dedup.dUrl(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val nDocs = Tables.t(spark, sf, "documents").count()
    assert(res.map(_._2).sum == nDocs, "every doc in exactly one group")
    assert(res.length == math.ceil(nDocs / 10.0).toInt,
      s"${res.length} canonical pages for $nDocs docs")
    res.foreach { case (url, n, keep) =>
      assert(n == 10 || keep / 10 == (nDocs - 1) / 10,
        s"$url: $n variants (only the tail group may be short)")
      assert(!url.contains("utm_") && !url.contains("#") &&
        !url.contains(":443") && !url.endsWith("/"),
        s"decoration survived canonicalization: $url")
    }
  }

  test("d_soft: every copy kept, each duplicate group carries unit total " +
    "mass, planted copies weighted 1/2") {
    val res = operators.Dedup.dSoft(spark, sf)
    val corpus = operators.Dedup.withPlantedExact(
      Tables.t(spark, sf, "documents"))
    assert(res.count() == corpus.count(), "soft dedup must drop nothing")
    // per-group mass: weight * n_copies == 1 exactly (to rounding)
    val badMass = res
      .filter(abs(col("weight") * col("n_copies") - 1.0) > 1e-5).count()
    assert(badMass == 0, "group mass must be exactly 1")
    // total mass == number of DISTINCT texts
    val mass = res.agg(sum("weight")).collect().head.getDouble(0)
    val distinct = corpus.select("text").distinct().count()
    assert(math.abs(mass - distinct) < 0.01, s"total mass $mass != $distinct")
    // a planted copy and its original both live at weight 1/2 (unless the
    // text also duplicates naturally — then both weights are 1/n < 1/2)
    val planted = res.filter(col("doc_id") >= 2000000L)
    assert(planted.count() > 0)
    assert(planted.filter(col("weight") > 0.5).count() == 0,
      "planted copies can never carry more than half weight")
  }

  test("d_bloom_delta: bloom routing changes the plan, not the answer — " +
    "result identical to d_incremental, and the sketch genuinely splits " +
    "the planted batch") {
    val bloom = Dedup.dBloomDelta(spark, sf).collect().toSeq
    val exact = Dedup.dIncremental(spark, sf).collect().toSeq
    assert(bloom == exact, "bloom-prefiltered admission diverged from exact")
    // the sketch must do real routing on the planted batch: resent docs
    // are bloom-positive (no false negatives ⇒ every true dup flags), and
    // at 0.02% FP the ' fresh' docs are overwhelmingly bloom-negative
    val corpus = Tables.t(spark, sf, "documents").select("doc_id", "text")
    val blob = corpus.agg(org.apache.spark.sql.functions.call_function(
        "bloom_filter_agg", xxhash64(col("text")), lit(1000000L),
        lit(8388608L)).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    def flags(d: org.apache.spark.sql.DataFrame) = d.withColumn("maybe",
      org.apache.spark.sql.functions.call_function("bloom_might_contain",
        lit(blob), xxhash64(col("text"))))
    val resent = flags(corpus.filter(col("doc_id") % 10 === 0))
    assert(resent.filter(!col("maybe")).count() == 0,
      "a true duplicate was bloom-negative — the filter has false negatives?!")
    val freshFlags = flags(corpus.filter(col("doc_id") % 7 === 0)
      .withColumn("text", concat(col("text"), lit(" fresh"))))
    val fpRate = freshFlags.filter(col("maybe")).count().toDouble /
      math.max(1L, freshFlags.count())
    assert(fpRate < 0.05,
      f"bloom false-positive rate $fpRate%.3f — the prefilter routes nothing")
  }
}
