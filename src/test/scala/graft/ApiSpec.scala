package graft

import graft.api.{AnnApi, DedupApi, PipelineApi, TextApi}
import graft.operators.{Dedup, Pipeline, Similarity, TextAnalysis}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The public DataFrame API (graft.api): each function must accept a
  * frame with ARBITRARY column names and produce exactly what the
  * driver-gated operator produces on the canonical corpus — the API is a
  * rename + the verified core, and this spec pins that equivalence so the
  * façade can never drift from the gate. */
class ApiSpec extends SparkSpec {

  /** The documents corpus under hostile column names. */
  private def renamedDocs: DataFrame =
    Tables.t(spark, sf, "documents")
      .select(col("doc_id").as("my_id"), col("text").as("body"))

  private def rows(d: DataFrame): Seq[org.apache.spark.sql.Row] =
    d.collect().toSeq

  test("TextApi: quality/gopher/langid/tokenCounts/normalize/readability/" +
    "sentences/chunk over a renamed frame equal the gate entries") {
    assert(rows(TextApi.quality(renamedDocs, "my_id", "body")) ==
      rows(TextAnalysis.xQuality(spark, sf)))
    assert(rows(TextApi.gopherFilter(renamedDocs, "my_id", "body")) ==
      rows(TextAnalysis.xGopher(spark, sf)))
    assert(rows(TextApi.langId(renamedDocs, "my_id", "body")) ==
      rows(TextAnalysis.xLangid(spark, sf)))
    assert(rows(TextApi.tokenCounts(renamedDocs, "my_id", "body")) ==
      rows(TextAnalysis.xTokcount(spark, sf)))
    assert(rows(TextApi.normalize(renamedDocs, "my_id", "body")) ==
      rows(TextAnalysis.xNormalize(spark, sf)))
    assert(rows(TextApi.readability(renamedDocs, "my_id", "body")) ==
      rows(TextAnalysis.xReadability(spark, sf)))
    assert(rows(TextApi.sentences(renamedDocs, "my_id", "body")) ==
      rows(TextAnalysis.xSentences(spark, sf)))
    assert(rows(TextApi.chunk(renamedDocs, "my_id", "body")) ==
      rows(TextAnalysis.xChunk(spark, sf)))
  }

  test("TextApi.scrub/redactPii redact user-supplied PII without the " +
    "gate's synthetic injection") {
    import spark.implicits._
    val d = Seq(
      (1L, "mail me at a.b@x.io or visit https://x.io/p?q=1 now"),
      (2L, "tel 555-123-4567 from 10.1.2.3 card 4111 1111 1111 1111 ok"))
      .toDF("k", "t")
    val scrubbed = TextApi.scrub(d, "k", "t").collect()
    assert(scrubbed.head.getString(1) == "mail me at <EMAIL> or visit <URL> now")
    val red = TextApi.redactPii(d, "k", "t").collect()
    val r2 = red.find(_.getLong(0) == 2L).get
    assert(r2.getAs[Int]("n_phone") == 1 && r2.getAs[Int]("n_ip") == 1 &&
      r2.getAs[Int]("n_card") == 1)
    // the card pattern's (?:\d[ -]?){13,16} consumes the trailing space
    assert(r2.getAs[String]("redacted") ==
      "tel <PHONE> from <IP> card <CARD>ok")
  }

  test("DedupApi: exactGroups/minhashPairs/simhashPairs over a renamed " +
    "frame equal the gate entries (same planted corpus)") {
    val plantedExact = Dedup.withPlantedExact(Tables.t(spark, sf, "documents"))
      .select(col("doc_id").as("my_id"), col("text").as("body"))
    assert(rows(DedupApi.exactGroups(plantedExact, "my_id", "body")) ==
      rows(Dedup.dExact(spark, sf)))
    val plantedNear = Dedup.withPlantedNear(Tables.t(spark, sf, "documents"))
      .select(col("doc_id").as("my_id"), col("text").as("body"))
    assert(rows(DedupApi.minhashPairs(plantedNear, 0.5, "my_id", "body")) ==
      rows(Dedup.dMinhash(spark, sf)))
    assert(rows(DedupApi.simhashPairs(plantedNear, "my_id", "body")) ==
      rows(Dedup.dSimhash(spark, sf)))
  }

  test("AnnApi: bruteTopK and the full train/encode/store/serve cycle " +
    "over renamed frames equal the gate entries") {
    val corpus = Tables.t(spark, sf, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val queries = Tables.t(spark, sf, "embeddings")
      .filter(col("vec_id") < Similarity.NumQueries)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    // queries here ARE corpus rows, so self-exclusion is opted in — the
    // gate entries exclude the degenerate cos=1 self hit
    assert(rows(AnnApi.bruteTopK(corpus, queries, Similarity.K,
        "id", "vec", "id", "vec", excludeSelf = true)) ==
      rows(Similarity.nBruteTopk(spark, sf)))
    // full IVFADC lifecycle through the API only
    val c = AnnApi.trainIvf(corpus, cells = 16, idCol = "id", vecCol = "vec")
    val books = AnnApi.trainPq(corpus, dim = 64, segments = 8,
      codebook = 16, idCol = "id", vecCol = "vec")
    val index = AnnApi.encodeIndex(corpus, c, books, segments = 8,
      idCol = "id", vecCol = "vec")
    val path = "target/api_ivfpq_index"
    AnnApi.writeIndex(index, path)
    val served = AnnApi.serveFromStore(queries, path, c, books,
      nprobe = 3, segments = 8, queryId = "id", queryVec = "vec",
      excludeSelf = true)
    assert(rows(served) == rows(Similarity.nIvfpqTopk(spark, sf)))
    // range search over the renamed frames equals the gate entry
    assert(rows(AnnApi.rangeSearch(corpus, queries, Similarity.RangeTau,
        "id", "vec", "id", "vec", excludeSelf = true)) ==
      rows(Similarity.nRangeSearch(spark, sf)))
  }

  test("DedupApi.embeddingDupPairs over a renamed frame equals the gate " +
    "entry's planted-corpus pairs") {
    import org.apache.spark.sql.functions.{element_at, lit, sequence, when, zip_with}
    val emb = Tables.t(spark, sf, "embeddings").select("vec_id", "embedding")
    val planted = emb.filter(col("vec_id") % 10 === 0)
      .withColumn("vec_id", col("vec_id") + 1000000L)
      .withColumn("embedding",
        zip_with(col("embedding"), sequence(lit(0), lit(63)),
          (v, i) => (v * (lit(1.0) + lit(0.05) *
            when(i % 2 === 0, 1.0).otherwise(-1.0))).cast("float")))
    val renamed = emb.union(planted)
      .select(col("vec_id").as("vid"), col("embedding").as("e"))
    assert(rows(graft.api.DedupApi.embeddingDupPairs(renamed, 0.98, "vid", "e")) ==
      rows(graft.operators.Dedup.dEmbedDup(spark, sf)))
  }

  test("PipelineApi: pack and stratifiedSample over renamed frames equal " +
    "the gate entries; shardAssign is stable and narrow") {
    assert(rows(PipelineApi.pack(renamedDocs, "my_id", "body")) ==
      rows(Pipeline.pPack(spark, sf)))
    val renamedSrc = Tables.t(spark, sf, "documents")
      .select(col("doc_id").as("my_id"), col("source").as("bucket_name"))
    assert(rows(PipelineApi.stratifiedSample(renamedSrc, "my_id",
        "bucket_name")) ==
      rows(Pipeline.pStratified(spark, sf)))
    import org.apache.spark.sql.functions.{expr, lit, when}
    val srcNum = expr("CAST(substring(source, 4, 10) AS INT)")
    assert(rows(PipelineApi.tokenBudget(renamedDocs
        .join(Tables.t(spark, sf, "documents").select("doc_id", "source"),
          col("my_id") === col("doc_id")).drop("doc_id"),
        when(srcNum % 2 === 0, lit(800)).otherwise(lit(400)),
        "my_id", "body", "source")) ==
      rows(Pipeline.pTokenBudget(spark, sf)))
    val scored = Tables.t(spark, sf, "documents")
      .select(col("doc_id").as("my_id"),
        (org.apache.spark.sql.functions.length(col("text")).cast("double") /
          org.apache.spark.sql.functions.size(
            org.apache.spark.sql.functions.split(col("text"), " ")))
          .as("hardness"))
    assert(rows(PipelineApi.curriculum(scored, 5, "my_id", "hardness")) ==
      rows(Pipeline.pCurriculum(spark, sf)))
    val sharded = PipelineApi.shardAssign(
      Tables.t(spark, sf, "documents"), "doc_id")
    assert(sharded.select("shard").distinct().count() > 100)
    assert(rows(sharded) == rows(PipelineApi.shardAssign(
      Tables.t(spark, sf, "documents"), "doc_id")), "unstable shards")
  }

  test("MediaApi: image/audio features and image dup pairs over binary " +
    "columns with custom names") {
    import graft.api.MediaApi
    import graft.operators.Multimodal
    import spark.implicits._
    val img = (id: Long) => Multimodal.encodePpm(8, 6,
      (x, y) => ((x * 30 + id.toInt) % 256, y * 40 % 256, 10))
    val images = Seq((1L, img(1)), (2L, img(2)), (3L, img(1L)))
      .toDF("pic_id", "blob")
    val feats = MediaApi.imageFeatures(images, "pic_id", "blob").collect()
    assert(feats.length == 3 && feats.forall(_.getAs[Int]("width") == 8))
    val hashes = MediaApi.imageHashes(images, "pic_id", "blob")
    val pairs = MediaApi.imageDupPairs(hashes).collect()
    // ids 1 and 3 share identical pixels → identical ahash → hamming 0
    assert(pairs.exists(r => r.getAs[Long]("doc_a") == 1L &&
      r.getAs[Long]("doc_b") == 3L && r.getAs[Int]("hamming") == 0), pairs.toSeq)
    val wave = Array.tabulate(512)(i =>
      (6000 * math.sin(2 * math.Pi * 220 * i / 8000.0)).toShort)
    val audio = Seq((7L, Multimodal.encodeWav(8000, wave))).toDF("clip", "bytes")
    val a = MediaApi.audioFeatures(audio, "clip", "bytes").collect().head
    assert(a.getAs[Int]("sample_rate") == 8000 &&
      a.getAs[Int]("n_samples") == 512 && a.getAs[Double]("rms") > 1000)
    val clip = Multimodal.encodeY4m(8, 6, 3, (f, x, y) => (f * 50 + x) % 256)
    val video = Seq((9L, clip)).toDF("vid", "frames")
    val v = MediaApi.videoFeatures(video, "vid", "frames").collect().head
    assert(v.getAs[Int]("width") == 8 && v.getAs[Int]("n_frames") == 3 &&
      v.getAs[Double]("mean_frame_delta") > 0)
  }

  test("api fails fast with the caller's vocabulary on a missing column") {
    val e = intercept[IllegalArgumentException] {
      TextApi.quality(renamedDocs, "no_such_id", "body")
    }
    assert(e.getMessage.contains("no_such_id") &&
      e.getMessage.contains("my_id"), e.getMessage)
    // pack and splitLeakfree joined the fail-fast contract (ADVICE r11 low)
    val ep = intercept[IllegalArgumentException] {
      PipelineApi.pack(renamedDocs, "no_such_id", "body")
    }
    assert(ep.getMessage.contains("no_such_id"), ep.getMessage)
    val es = intercept[IllegalArgumentException] {
      PipelineApi.splitLeakfree(renamedDocs, 0.5, "my_id", "no_such_text")
    }
    assert(es.getMessage.contains("no_such_text"), es.getMessage)
  }

  test("DedupApi.bloomAdmit over renamed frames: admitted set equals the " +
    "exact anti-join, resent content rejected, fresh content admitted") {
    import spark.implicits._
    val corpus = Tables.t(spark, sf, "documents")
      .select(col("doc_id").as("k"), col("text").as("t"))
    val batch = corpus.filter(col("k") % 10 === 0) // resent verbatim
      .select((col("k") + 900000L).as("k"), col("t"))
      .union(corpus.filter(col("k") % 7 === 0)    // genuinely new
        .select((col("k") + 800000L).as("k"),
          concat(col("t"), lit(" brand new")).as("t")))
    val admitted = DedupApi.bloomAdmit(corpus, batch, idCol = "k",
      textCol = "t").select("doc_id").as[Long].collect().toSet
    val exact = batch.join(
        corpus.select(col("t")).distinct(), Seq("t"), "left_anti")
      .groupBy("t").agg(org.apache.spark.sql.functions.min("k").as("k"))
      .select("k").as[Long].collect().toSet
    assert(admitted == exact, "bloomAdmit diverged from the exact anti-join")
    assert(admitted.nonEmpty && admitted.forall(_ >= 800000L) &&
      !admitted.exists(_ >= 900000L), "resent content was admitted")
  }

  test("DedupApi.bloomAdmit degrades safely: empty corpus (NULL sketch) " +
    "admits the whole batch; NULL-text rows reach the exact leg and are " +
    "admitted, matching the anti-join's null-never-matches semantics") {
    import spark.implicits._
    val corpus = Tables.t(spark, sf, "documents")
      .select(col("doc_id").as("k"), col("text").as("t"))
    val empty = corpus.filter(col("k") < -1L)
    val batch = corpus.filter(col("k") % 10 === 0).limit(20)
    // empty corpus: BloomFilterAggregate yields a NULL blob; before the
    // guard every row's `maybe` was NULL and the whole batch was silently
    // REJECTED by both filter legs (ADVICE r12 medium)
    val fromEmpty = DedupApi.bloomAdmit(empty, batch, idCol = "k",
      textCol = "t").select("doc_id").as[Long].collect().toSet
    val wantAll = batch.groupBy("t")
      .agg(org.apache.spark.sql.functions.min("k").as("k"))
      .select("k").as[Long].collect().toSet
    assert(fromEmpty == wantAll,
      s"empty corpus must admit every distinct batch text: got ${fromEmpty.size}, want ${wantAll.size}")
    // NULL-text row: xxhash64/might_contain nullability must not drop it;
    // the exact anti-join admits it (NULL key never matches)
    val withNull = batch.union(
      Seq((424242L, null.asInstanceOf[String])).toDF("k", "t"))
    val admitted = DedupApi.bloomAdmit(corpus, withNull, idCol = "k",
      textCol = "t").select("doc_id").as[Long].collect().toSet
    assert(admitted.contains(424242L), "NULL-text batch row was dropped")
  }

  test("DedupApi.bloomAdmit rejects a sketch over the plan-transport cap " +
    "with a loud, actionable error (VERDICT r12 #7)") {
    val corpus = Tables.t(spark, sf, "documents")
      .select(col("doc_id").as("k"), col("text").as("t"))
    val e = intercept[IllegalArgumentException] {
      DedupApi.bloomAdmit(corpus, corpus, numBits = (1L << 29) + 1,
        idCol = "k", textCol = "t")
    }
    assert(e.getMessage.contains("shard"), e.getMessage)
    // a large in-cap setting works end-to-end (8 MB sketch — 64× the
    // gate's default, same transport path as the 64 MB cap)
    val ok = DedupApi.bloomAdmit(corpus,
      corpus.limit(5).select((col("k") + 700000L).as("k"),
        concat(col("t"), lit(" xl")).as("t")),
      numBits = 1L << 26, idCol = "k", textCol = "t")
    assert(ok.count() == 5, "large-bits admit lost rows")
  }

  test("DedupApi persist knob: persistIntermediate=false returns the " +
    "identical pairs and clusters as the cached default (VERDICT r11 #7)") {
    val plantedNear = Dedup.withPlantedNear(Tables.t(spark, sf, "documents"))
      .select(col("doc_id").as("my_id"), col("text").as("body"))
    val cached = rows(DedupApi.minhashPairs(plantedNear, 0.5, "my_id", "body"))
    spark.catalog.clearCache()
    val uncached = rows(DedupApi.minhashPairs(plantedNear, 0.5, "my_id",
      "body", persistIntermediate = false))
    assert(cached == uncached, "persist knob changed the minhash pairs")
    // and nothing new stayed cached on the recompute path
    assert(spark.sharedState.cacheManager.isEmpty,
      "persistIntermediate=false left cache entries behind")
    spark.catalog.clearCache()
    val cc = rows(DedupApi.nearDupClusters(plantedNear, 0.5, "my_id", "body"))
    spark.catalog.clearCache()
    val cu = rows(DedupApi.nearDupClusters(plantedNear, 0.5, "my_id", "body",
      persistIntermediate = false))
    assert(cc == cu, "persist knob changed the near-dup clusters")
    spark.catalog.clearCache()
  }

  test("AnnApi with UNRELATED id namespaces: a corpus vector sharing a " +
    "query's id is NOT silently dropped (ADVICE r11 medium)") {
    import spark.implicits._
    // corpus ids 0..9; query with qid=3 whose vector IS corpus vector 3 —
    // the old hardwired self-exclusion dropped exactly that cos=1 neighbor
    val corpus = Tables.t(spark, sf, "embeddings")
      .filter(col("vec_id") < 10)
      .select(col("vec_id").as("cid"), col("embedding").as("cv2"))
    val q3 = Tables.t(spark, sf, "embeddings")
      .filter(col("vec_id") === 3)
      .select(col("vec_id").as("kid"), col("embedding").as("kv"))
    val top = AnnApi.bruteTopK(corpus, q3, 3, "cid", "cv2", "kid", "kv")
      .collect()
    assert(top.head.getAs[Long]("vid") == 3L &&
      top.head.getAs[Double]("cos") == 1.0,
      s"self-id corpus vector dropped: ${top.mkString(";")}")
    val rng = AnnApi.rangeSearch(corpus, q3, 0.99, "cid", "cv2", "kid", "kv")
      .collect()
    assert(rng.exists(r => r.getAs[Long]("vid") == 3L),
      "rangeSearch dropped the self-id corpus vector")
    // opting in restores the gate-entry semantics
    val topEx = AnnApi.bruteTopK(corpus, q3, 3, "cid", "cv2", "kid", "kv",
      excludeSelf = true).collect()
    assert(!topEx.exists(r => r.getAs[Long]("vid") == 3L),
      "excludeSelf=true kept the self pair")
  }

  test("AnnApi.trainIvf/trainPq accept sparse, non-zero-based id spaces " +
    "and array<double> embeddings (ADVICE r11 medium)") {
    // shift + stride the ids far away from 0..n and store doubles: the old
    // seed filter (vec_id < cells) and mod-sampling found nothing here
    val sparse = Tables.t(spark, sf, "embeddings")
      .select((col("vec_id") * 17 + 1000000L).as("id"),
        col("embedding").cast("array<double>").as("vec"))
    val c = AnnApi.trainIvf(sparse, cells = 16, trainSampleMod = 4,
      idCol = "id", vecCol = "vec")
    assert(c.count() == 16, "sparse-id training lost cells")
    val books = AnnApi.trainPq(sparse, dim = 64, segments = 8,
      codebook = 16, trainSampleMod = 4, idCol = "id", vecCol = "vec")
    assert(books.length == 8 * 16 * 8, "sparse-id PQ training misshapen")
    // and the whole lifecycle serves: encode + store + serve returns k rows
    val index = AnnApi.encodeIndex(sparse, c, books, segments = 8,
      idCol = "id", vecCol = "vec")
    val path = "target/api_sparse_ivfpq_index"
    AnnApi.writeIndex(index, path)
    val queries = sparse.limit(5).select(col("id").as("q"), col("vec").as("v"))
    val served = AnnApi.serveFromStore(queries, path, c, books, nprobe = 3,
      segments = 8, queryId = "q", queryVec = "v")
    assert(served.groupBy("qid").count().collect()
      .forall(_.getLong(1) == Similarity.K), "sparse-id serve incomplete")
  }

  test("Graft.enableCbo over arbitrary (name -> path) user tables: stats " +
    "land under the user's name, and a quoted path cannot break the DDL " +
    "(VERDICT r13 #6)") {
    withSession { spark =>
      try {
        val n = Graft.enableCbo(spark,
          Map("their_nation" -> s"$sf/nation.parquet"), dpThreshold = 12)
        assert(n == 1)
        val stats = spark.table("spark_catalog.default.their_nation")
          .queryExecution.optimizedPlan.stats
        assert(stats.rowCount.exists(_.toLong == 25L),
          s"renamed user table carries no stats: ${stats.rowCount}")
        // a LOCATION containing a single quote must round-trip through the
        // DDL ('' escaping), not break out of the string literal
        val quoted = "/tmp/graft_api_it's_here"
        val src = new java.io.File(s"$sf/nation.parquet") // a single file
        val dst = new java.io.File(quoted)
        dst.mkdirs()
        java.nio.file.Files.copy(src.toPath,
          new java.io.File(dst, "part-00000.parquet").toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        Graft.enableCbo(spark, Map("quoted_tbl" -> quoted), dpThreshold = 12)
        val qstats = spark.table("spark_catalog.default.quoted_tbl")
          .queryExecution.optimizedPlan.stats
        assert(qstats.rowCount.exists(_.toLong == 25L),
          s"quoted-path table carries no stats: ${qstats.rowCount}")
      } finally {
        spark.sql("DROP TABLE IF EXISTS spark_catalog.default.their_nation")
        spark.sql("DROP TABLE IF EXISTS spark_catalog.default.quoted_tbl")
      }
    }
  }

  test("PipelineApi.splitLeakfree: planted near-dup pairs never straddle " +
    "the split") {
    val planted = Dedup.withPlantedNear(Tables.t(spark, sf, "documents"))
      .select(col("doc_id").as("my_id"), col("text").as("body"))
    val split = PipelineApi.splitLeakfree(planted, 0.5, "my_id", "body")
      .select(col("doc_id"), col("split"))
    val pairs = Dedup.minhashLshPairs(Dedup.wordShingleSets(
      Dedup.withPlantedNear(Tables.t(spark, sf, "documents"))), 0.5)
    val straddle = pairs
      .join(split.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("split", "sa"), "doc_a")
      .join(split.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("split", "sb"), "doc_b")
      .filter(col("sa") =!= col("sb"))
    assert(straddle.count() == 0, "near-dup pair straddles the split")
  }
}
