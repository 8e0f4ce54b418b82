package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import graft.streaming.{Event, Streaming}
import graft.operators.Relational
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** §2.9: Structured Streaming operators, file source → memory sink with an
  * AvailableNow trigger, checked for equivalence with the batch operators. */
class StreamingSpec extends SparkSpec {

  private lazy val streamDir: String = {
    val d = Paths.get("target/stream_in")
    Files.createDirectories(d)
    Files.copy(Paths.get(s"$sf/events.parquet"), d.resolve("events.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    d.toAbsolutePath.toString
  }

  /** Stream of events with the same generation-adaptive ts conversion as
    * Tables.events (ns-as-long OR µs-NTZ parquet, see Tables.normalizeTs). */
  private def eventStream: DataFrame = Tables.eventsStream(spark, streamDir)

  private def runToMemory(df: DataFrame, name: String, mode: String): Unit = {
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(mode).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    q.stop() // no-op if AvailableNow already finished; avoids shutdown races
  }

  test("st_tumbling_agg matches the batch tumbling aggregate") {
    runToMemory(Streaming.tumblingAgg(eventStream), "tumbling", "append")
    val streamed = spark.table("tumbling")
    val batch = Relational.eTumbling(spark, sf)
    // append mode emits only watermark-closed windows; every emitted window
    // must match batch exactly, and most windows must have been emitted
    val joined = streamed.as("s").join(batch.as("b"),
      col("s.hour") === col("b.hour") && col("s.event_type") === col("b.event_type"))
    assert(joined.filter(col("s.n") =!= col("b.n") ||
      col("s.sum_value") =!= col("b.sum_value")).count() == 0)
    val emitted = streamed.count()
    val total = batch.count()
    assert(emitted >= total - 10, s"only $emitted of $total windows closed")
  }

  test("st_sliding hopping-window agg matches batch e_hopping window-for-window") {
    runToMemory(Streaming.slidingAgg(eventStream), "sliding", "append")
    val streamed = spark.table("sliding")
    val batch = Relational.eHopping(spark, sf)
    // identical window(ts, size, slide) operator both sides → every closed
    // window must agree exactly with the batch aggregate
    val joined = streamed.as("s").join(batch.as("b"),
      col("s.w_start") === col("b.w_start") &&
        col("s.event_type") === col("b.event_type"))
    assert(joined.filter(col("s.n") =!= col("b.n") ||
      col("s.sum_value") =!= col("b.sum_value")).count() == 0)
    // a 2h window stays open 4x longer than a tumbling one; still nearly all
    // should close under AvailableNow + 1h watermark
    val emitted = streamed.count()
    val total = batch.count()
    assert(emitted >= total - 40, s"only $emitted of $total windows closed")
    // and nothing emitted that batch doesn't have
    assert(emitted == joined.count(), "streamed window absent from batch")
  }

  test("st_enrich stream-static broadcast join equals the batch join") {
    val dim = Tables.t(spark, sf, "customer")
      .select(col("c_custkey").as("user_id"), col("c_mktsegment").as("segment"))
    runToMemory(Streaming.enrich(eventStream, dim)
      .select("event_id", "user_id", "segment"), "enriched", "append")
    val streamed = spark.table("enriched")
    val batch = Tables.t(spark, sf, "events")
      .join(broadcast(dim), Seq("user_id"), "left")
      .select("event_id", "user_id", "segment")
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
    // left join: events with no matching dim row must still flow through
    assert(streamed.filter(col("segment").isNull).count() ==
      batch.filter(col("segment").isNull).count())
  }

  test("st_join stream-stream range join equals the batch join") {
    val clicks = eventStream.filter(col("event_type") === "click")
    val purchases = eventStream.filter(col("event_type") === "purchase")
    runToMemory(Streaming.streamStreamJoin(clicks, purchases)
      .select("purchase_id", "click_id"), "ssjoin", "append")
    val streamed = spark.table("ssjoin")

    val ev = Tables.t(spark, sf, "events")
    val bc = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
    val bp = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
    val batch = bp.join(bc, expr(
      """user_id = c_user AND
        |click_ts <= purchase_ts AND
        |click_ts >= purchase_ts - INTERVAL 1 HOUR""".stripMargin))
      .select("purchase_id", "click_id")
    // inner stream-stream join with both sides watermarked: every batch
    // pair must be emitted once the watermark closes — with AvailableNow
    // over a finite file source some trailing pairs can stay buffered, so
    // assert subset + near-complete coverage and no duplicates
    assert(streamed.exceptAll(batch).count() == 0,
      "stream join emitted a pair the batch join doesn't have")
    val nStream = streamed.count(); val nBatch = batch.count()
    assert(nBatch > 0 && nStream >= (nBatch * 0.9).toLong,
      s"stream join emitted only $nStream of $nBatch pairs")
    assert(streamed.distinct().count() == nStream, "duplicate joined pairs")
  }

  test("st_join_left stream-stream LEFT OUTER join: matched pairs exact, NULL rows only when provably unmatched") {
    // outer stream-stream is the harder watermark case: a NULL row may
    // emit only once the watermark PROVES no qualifying click can still
    // arrive. Time-ordered chunks (maxFilesPerTrigger=1) advance the
    // watermark mid-stream so early purchases' click windows provably
    // close and their NULL rows flush before the stream ends.
    val dir = Paths.get("target/ssleft_in")
    org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    Files.createDirectories(dir)
    val ev = Tables.t(spark, sf, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    val w = org.apache.spark.sql.expressions.Window.orderBy("ts", "event_id")
    val chunked = ev.withColumn("chunk", ntile(4).over(w))
    (1 to 4).foreach { i =>
      chunked.filter(col("chunk") === i).drop("chunk")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/c$i")
      moveInto(dir, s"c$i", f"$i%02d-chunk.parquet")
    }
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir.toAbsolutePath.toString)
    runToMemory(Streaming.streamStreamLeftJoin(
        stream.filter(col("event_type") === "click"),
        stream.filter(col("event_type") === "purchase"))
      .select("purchase_id", "click_id"), "ssleft", "append")
    val streamed = spark.table("ssleft")

    val bc = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
    val bp = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
    val batchMatched = bp.join(bc, expr(
      """user_id = c_user AND
        |click_ts <= purchase_ts AND
        |click_ts >= purchase_ts - INTERVAL 1 HOUR""".stripMargin))
      .select("purchase_id", "click_id")
    val matchedIds = batchMatched.select("purchase_id").distinct()
      .collect().map(_.getLong(0)).toSet

    val sMatched = streamed.filter(col("click_id").isNotNull)
    val sNull = streamed.filter(col("click_id").isNull)
    // matched pairs are sound and near-complete, no duplicates
    assert(sMatched.exceptAll(batchMatched).count() == 0,
      "outer join emitted a matched pair the batch join doesn't have")
    val (nS, nB) = (sMatched.count(), batchMatched.count())
    assert(nB > 0 && nS >= (nB * 0.9).toLong,
      s"outer join emitted only $nS of $nB matched pairs")
    assert(streamed.distinct().count() == streamed.count(), "duplicate rows")
    // NULL rows flushed for provably-unmatched purchases, and NEVER for a
    // purchase that has a qualifying click
    assert(sNull.count() > 0, "no unmatched purchases flushed — outer side inert")
    val nullIds = sNull.select("purchase_id").collect().map(_.getLong(0)).toSet
    assert(nullIds.intersect(matchedIds).isEmpty,
      s"NULL rows for purchases with real clicks: ${nullIds.intersect(matchedIds).take(5)}")
    // and no purchase appears both matched and NULL in the stream output
    val sMatchedIds = sMatched.select("purchase_id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(nullIds.intersect(sMatchedIds).isEmpty,
      "a purchase emitted both a match and a NULL row")
  }

  test("st_join_full stream-stream FULL OUTER join: matched pairs exact, NULL rows on BOTH sides only when provably unmatched") {
    // same time-ordered chunking as st_join_left so the watermark advances
    // mid-stream and both sides' provably-unmatched rows flush
    val dir = Paths.get("target/ssfull_in")
    org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    Files.createDirectories(dir)
    val ev = Tables.t(spark, sf, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    val w = org.apache.spark.sql.expressions.Window.orderBy("ts", "event_id")
    val chunked = ev.withColumn("chunk", ntile(4).over(w))
    (1 to 4).foreach { i =>
      chunked.filter(col("chunk") === i).drop("chunk")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/c$i")
      moveInto(dir, s"c$i", f"$i%02d-chunk.parquet")
    }
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir.toAbsolutePath.toString)
    runToMemory(Streaming.streamStreamFullJoin(
        stream.filter(col("event_type") === "click"),
        stream.filter(col("event_type") === "purchase"))
      .select("user_id", "purchase_id", "click_id"), "ssfull", "append")
    val streamed = spark.table("ssfull")

    val bc = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
    val bp = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
    val batchMatched = bp.join(bc, expr(
      """user_id = c_user AND
        |click_ts <= purchase_ts AND
        |click_ts >= purchase_ts - INTERVAL 1 HOUR""".stripMargin))
      .select("purchase_id", "click_id")
    val matchedPurchases = batchMatched.select("purchase_id").distinct()
      .collect().map(_.getLong(0)).toSet
    val matchedClicks = batchMatched.select("click_id").distinct()
      .collect().map(_.getLong(0)).toSet

    val sMatched = streamed.filter(
      col("click_id").isNotNull && col("purchase_id").isNotNull)
    // matched pairs are sound and near-complete, no duplicates
    assert(sMatched.select("purchase_id", "click_id")
      .exceptAll(batchMatched).count() == 0,
      "full outer emitted a matched pair the batch join doesn't have")
    val (nS, nB) = (sMatched.count(), batchMatched.count())
    assert(nB > 0 && nS >= (nB * 0.9).toLong,
      s"full outer emitted only $nS of $nB matched pairs")
    assert(streamed.distinct().count() == streamed.count(), "duplicate rows")
    // purchase-side NULL rows: flushed, and never for a matched purchase
    val pNull = streamed.filter(col("click_id").isNull)
      .select("purchase_id").collect().map(_.getLong(0)).toSet
    assert(pNull.nonEmpty, "no unmatched purchases flushed")
    assert(pNull.intersect(matchedPurchases).isEmpty,
      s"NULL-click rows for matched purchases: ${pNull.intersect(matchedPurchases).take(5)}")
    // click-side NULL rows: flushed, and never for a matched click —
    // the half a LEFT join cannot produce
    val cNull = streamed.filter(col("purchase_id").isNull)
      .select("click_id").collect().map(_.getLong(0)).toSet
    assert(cNull.nonEmpty, "no unmatched clicks flushed — click side inert")
    assert(cNull.intersect(matchedClicks).isEmpty,
      s"NULL-purchase rows for matched clicks: ${cNull.intersect(matchedClicks).take(5)}")
    // every NULL row keeps its key
    assert(streamed.filter(col("user_id").isNull).count() == 0,
      "coalesced user_id lost on an unmatched row")
  }

  test("st_session_state sessionization matches batch gaps-and-islands") {
    import spark.implicits._
    runToMemory(Streaming.sessionize(eventStream.as[Event]).toDF(),
      "sessions", "append")
    val streamed = spark.table("sessions")
    val batch = Relational.eSession(spark, sf)
    // closed sessions must be a subset of batch sessions with equal stats
    val joined = streamed.as("s").join(batch.as("b"),
      col("s.user_id") === col("b.user_id") &&
      col("s.session_start") === col("b.session_start"))
    assert(joined.count() == streamed.count(), "streamed session missing from batch")
    assert(joined.filter(col("s.n_events") =!= col("b.n_events")).count() == 0)
    // with a single AvailableNow batch the last session per user stays open:
    val users = streamed.select("user_id").distinct().count()
    assert(streamed.count() >= batch.count() - users,
      s"too few closed sessions: ${streamed.count()} vs batch ${batch.count()}")
  }

  test("st_session_state runs on the RocksDB state store (the 100 TB-grade provider)") {
    import spark.implicits._
    withRocksDb { spark =>
      runToMemory(Streaming.sessionize(
        Tables.eventsStream(spark, streamDir).as[Event]).toDF(),
        "sessions_rocks", "append")
      val rocks = spark.table("sessions_rocks").count()
      assert(rocks > 0, "no sessions emitted under RocksDB state store")
    }
  }

  test("st_dedup streaming dropDuplicates equals batch distinct-by-key") {
    // feed the stream the events file TWICE → every event_id is a duplicate;
    // the streaming dedup must recover exactly the batch-distinct set
    val d = Paths.get("target/stream_dedup_in")
    Files.createDirectories(d)
    Files.copy(Paths.get(s"$sf/events.parquet"), d.resolve("a.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    Files.copy(Paths.get(s"$sf/events.parquet"), d.resolve("b.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val stream = Tables.eventsStream(spark, d.toAbsolutePath.toString)
    runToMemory(Streaming.dedupStream(stream), "dedup", "append")
    val streamed = spark.table("dedup")
    val batchN = Tables.t(spark, sf, "events").select("event_id").distinct().count()
    assert(streamed.count() == batchN,
      s"streaming dedup kept ${streamed.count()} of $batchN distinct events")
    assert(streamed.select("event_id").distinct().count() == batchN)
  }

  test("st_user_topk: transformWithState leaderboard equals the batch top-k oracle (RocksDB)") {
    import spark.implicits._
    withRocksDb { spark =>
      // chunk by event_id PARITY (not time) so both micro-batches touch
      // nearly every user — the cross-batch ListState merge is the point
      val dir = Paths.get("target/stream_topk_in")
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
      Files.createDirectories(dir)
      val ev = Tables.t(spark, sf, "events")
        .select("event_id", "ts", "user_id", "event_type", "value")
      (0 to 1).foreach { i =>
        ev.filter(pmod(col("event_id"), lit(2)) === i)
          .coalesce(1).write.mode("overwrite").parquet(s"$dir/c$i")
        moveInto(dir, s"c$i", f"$i%02d-chunk.parquet")
      }
      val schema = StructType(Seq(
        StructField("event_id", LongType), StructField("ts", TimestampType),
        StructField("user_id", LongType), StructField("event_type", StringType),
        StructField("value", DoubleType)))
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(dir.toAbsolutePath.toString)
      runToMemory(Streaming.userTopkStream(stream.as[Event]).toDF(), "topk", "update")
      val streamed = spark.table("topk")
      // n_seen is strictly increasing per user → max(n_seen) = final emission
      val wm = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
      val fin = streamed
        .withColumn("mx", max("n_seen").over(wm))
        .filter(col("n_seen") === col("mx"))
        .select("user_id", "rank", "event_id", "value", "n_seen")
      // batch oracle: top-3 by (value DESC, event_id ASC) + per-user count —
      // arrival-order independence means the streamed result must be EXACT
      val wr = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(desc("value"), asc("event_id"))
      val oracle = ev.withColumn("rank", row_number().over(wr))
        .filter(col("rank") <= 3)
        .join(ev.groupBy("user_id").agg(count(lit(1)).as("n_seen")), "user_id")
        .select(col("user_id"), col("rank"), col("event_id"), col("value"),
          col("n_seen"))
      assert(fin.count() == oracle.count(),
        s"leaderboard size ${fin.count()} vs oracle ${oracle.count()}")
      assert(fin.exceptAll(oracle).count() == 0, "streamed rows absent from oracle")
      assert(oracle.exceptAll(fin).count() == 0, "oracle rows absent from stream")
      // prove the merge crossed micro-batches: some user emitted twice
      val multi = streamed.select("user_id", "n_seen").distinct()
        .groupBy("user_id").count().filter(col("count") >= 2).count()
      assert(multi > 0, "no user saw emissions from more than one micro-batch")
    }
  }

  test("sessionizeBatch equals the declarative batch sessionization exactly") {
    import spark.implicits._
    val viaState = Streaming.sessionizeBatch(
      Tables.t(spark, sf, "events").select("event_id", "ts", "user_id", "event_type", "value")
        .as[Event]).toDF()
    val batch = Relational.eSession(spark, sf)
    assert(viaState.count() == batch.count())
    val j = viaState.as("s").join(batch.as("b"),
      col("s.user_id") === col("b.user_id") &&
      col("s.session_start") === col("b.session_start"))
    assert(j.count() == batch.count())
    assert(j.filter(col("s.n_events") =!= col("b.n_events") ||
      col("s.session_end") =!= col("b.session_end")).count() == 0)
  }

  /** Collapse a single-file parquet write into one named file in `dir`. */
  private def moveInto(dir: java.nio.file.Path, sub: String, out: String): Unit = {
    val part = Files.list(Paths.get(s"$dir/$sub")).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).head
    Files.move(Paths.get(part), dir.resolve(out),
      StandardCopyOption.REPLACE_EXISTING)
    org.apache.commons.io.FileUtils.deleteQuietly(Paths.get(s"$dir/$sub").toFile)
  }

  /** Lays out target/stream_docs — originals then planted near-dup copies
    * as two files, so maxFilesPerTrigger=1 makes them separate
    * micro-batches. Shared by every minhash-dedup streaming test so each
    * runs standalone (ADVICE r4: the RocksDB test used to depend on suite
    * definition order). `lazy val`: rebuilt from scratch once per JVM run —
    * never reused across sbt runs, so a change to `withPlantedNear` or the
    * testdata can't leave the suite streaming a stale fixture. */
  private lazy val streamDocsDir: java.nio.file.Path = {
    val dir = Paths.get("target/stream_docs")
    org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    Files.createDirectories(dir)
    val docs = Tables.t(spark, sf, "documents").select("doc_id", "text")
    docs.coalesce(1).write.mode("overwrite").parquet(s"$dir/b1")
    graft.operators.Dedup.withPlantedNear(docs)
      .filter(col("doc_id") >= 1000000L)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/b2")
    moveInto(dir, "b1", "0-originals.parquet")
    moveInto(dir, "b2", "1-copies.parquet")
    dir
  }

  private def ensureStreamDocs(): java.nio.file.Path = streamDocsDir

  private val docStreamSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  test("st_minhash_dedup matches planted near-dups across micro-batch state") {
    import graft.operators.Dedup
    // two files → with maxFilesPerTrigger=1, originals seed bucket state in
    // micro-batch 1 and the planted near-dup copies arriving in batch 2 must
    // match against STATE, not within-batch pairs
    val dir = ensureStreamDocs()
    val docs = Tables.t(spark, sf, "documents").select("doc_id", "text")
    val stream = spark.readStream.schema(docStreamSchema)
      .option("maxFilesPerTrigger", "1").parquet(dir.toAbsolutePath.toString)
    runToMemory(Streaming.minhashDedupStream(stream).toDF(), "stream_dedup", "append")
    val matches = spark.table("stream_dedup")
      .select("doc_id", "dup_of", "est_jaccard").distinct().collect()

    // recall: planted copies (source + 1000000, first two words dropped)
    // must match their source via cross-batch bucket state
    val planted = docs.filter(col("doc_id") % 10 === 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val hits = matches.filter(r => r.getLong(0) >= 1000000L &&
      r.getLong(1) == r.getLong(0) - 1000000L).map(_.getLong(0) - 1000000L).toSet
    val recall = hits.intersect(planted).size.toDouble / planted.size
    assert(recall >= 0.8, s"stream dedup recall $recall < 0.8")

    // precision: every emitted estimate must be close to the true Jaccard
    // of that pair's shingle sets (±0.15 ≫ the 1/√128 sig-estimate error)
    import spark.implicits._
    val shingles = Dedup.wordShingleSets(Dedup.withPlantedNear(docs))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    matches.foreach { r =>
      val (a, b) = (shingles(r.getLong(0)), shingles(r.getLong(1)))
      val trueJ = a.intersect(b).size.toDouble / a.union(b).size
      assert(math.abs(r.getDouble(2) - trueJ) < 0.15,
        s"pair ${r.getLong(0)}->${r.getLong(1)} est ${r.getDouble(2)} vs true $trueJ")
      assert(trueJ >= 0.3, s"false positive: true Jaccard $trueJ")
    }
  }

  /** `body` on a session of its own whose streams keep state in RocksDB
    * (the provider is read from the session that starts the stream). */
  private def withRocksDb[T](body: SparkSession => T): T = withSession { spark =>
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    body(spark)
  }

  test("st_minhash_dedup state survives the RocksDB provider too") {
    // the bucket-state map must serialize through the 100 TB-grade store,
    // not just the in-memory HDFS-backed default
    val dir = ensureStreamDocs()
    withRocksDb { spark =>
      val stream = spark.readStream.schema(docStreamSchema)
        .option("maxFilesPerTrigger", "1").parquet(dir.toAbsolutePath.toString)
      runToMemory(Streaming.minhashDedupStream(stream).toDF(),
        "stream_dedup_rocks", "append")
      assert(spark.table("stream_dedup_rocks").count() > 0,
        "no matches emitted under RocksDB state store")
    }
  }

  test("st_minhash_dedup_ttl: cold buckets evicted, in-horizon dups still match (RocksDB)") {
    import java.sql.Timestamp
    import graft.operators.Dedup
    // timeline (horizon = 1h of event time, watermark delay 10 min):
    //   b1 T0        originals seed bucket state
    //   b2 T0+30m    planted copies — IN horizon, must match via state
    //   b3 T0+10h    fresh docs; after this batch the watermark jumps to
    //                ~T0+9h50m, far past every original bucket's TTL
    //   b4 T0+11h    fresh docs; DURING this batch the due timeouts fire
    //                and the cold buckets are removed from the store
    val dir = Paths.get("target/stream_docs_ttl")
    org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    Files.createDirectories(dir)
    val docs = Tables.t(spark, sf, "documents").select("doc_id", "text")
    val t0 = Timestamp.valueOf("2026-01-01 00:00:00")
    def at(minutes: Long) = new Timestamp(t0.getTime + minutes * 60000L)
    docs.withColumn("ts", lit(t0))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/b1")
    Dedup.withPlantedNear(docs).filter(col("doc_id") >= 1000000L)
      .withColumn("ts", lit(at(30)))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/b2")
    import spark.implicits._
    (0 until 5).map(i => (5000000L + i,
        s"entirely fresh unrelated content block number $i with plenty of distinct filler words",
        at(600))).toDF("doc_id", "text", "ts")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/b3")
    (0 until 5).map(i => (6000000L + i,
        s"another run of totally different payload text index $i sharing nothing at all",
        at(660))).toDF("doc_id", "text", "ts")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/b4")
    moveInto(dir, "b1", "0-originals.parquet")
    moveInto(dir, "b2", "1-copies.parquet")
    moveInto(dir, "b3", "2-late.parquet")
    moveInto(dir, "b4", "3-later.parquet")

    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("ts", TimestampType)))
    withRocksDb { spark =>
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(dir.toAbsolutePath.toString)
      val q = Streaming.minhashDedupStreamTtl(stream).toDF()
        .writeStream.format("memory").queryName("ttl_dedup")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(180000)
      val stateRows = q.recentProgress.toSeq
        .filter(_.stateOperators.nonEmpty)
        .map(_.stateOperators.head.numRowsTotal)
      q.stop()

      // in-horizon recall: every planted copy arrives 30 min after its
      // source — well inside the 1h TTL — and must match via bucket state
      val matches = spark.table("ttl_dedup")
        .select("doc_id", "dup_of").distinct().collect()
      val planted = docs.filter(col("doc_id") % 10 === 0)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val hits = matches.filter(r => r.getLong(0) >= 1000000L &&
        r.getLong(0) < 5000000L &&
        r.getLong(1) == r.getLong(0) - 1000000L).map(_.getLong(0) - 1000000L).toSet
      val recall = hits.intersect(planted).size.toDouble / planted.size
      assert(recall >= 0.8, s"in-horizon recall $recall < 0.8")

      // eviction: after the final batch the store holds only the fresh
      // docs' buckets — a fraction of the peak (originals + copies)
      assert(stateRows.nonEmpty, "no state-operator progress recorded")
      val peak = stateRows.max
      val fin = stateRows.last
      assert(fin < peak / 2,
        s"cold buckets were not evicted: state rows over batches = $stateRows")
    }
  }

  test("st_minhash_verdicts_ttl: one verdict per dup within the horizon, both state stores TTL'd (RocksDB)") {
    import java.sql.Timestamp
    import graft.operators.Dedup
    // the full production composition: TTL'd bucket matching + TTL'd
    // exactly-once projection chained in ONE query (two state stores).
    //   b1 T0        originals seed buckets
    //   b2 T0+30m    copies — verdicts emitted (one per doc)
    //   b3 T0+40m    the SAME copies replayed with a later ts — matches
    //                re-fire in stage 1, the seen-flags suppress stage 2
    //   b4 T0+10h    fresh docs; watermark jumps past every horizon
    //   b5 T0+11h    fresh docs; due timeouts fire in BOTH stores
    val dir = Paths.get("target/stream_docs_vttl")
    org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    Files.createDirectories(dir)
    val docs = Tables.t(spark, sf, "documents").select("doc_id", "text")
    val t0 = Timestamp.valueOf("2026-01-01 00:00:00")
    def at(minutes: Long) = new Timestamp(t0.getTime + minutes * 60000L)
    val copies = Dedup.withPlantedNear(docs).filter(col("doc_id") >= 1000000L)
    docs.withColumn("ts", lit(t0))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/b1")
    copies.withColumn("ts", lit(at(30)))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/b2")
    copies.withColumn("ts", lit(at(40)))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/b3")
    import spark.implicits._
    (0 until 5).map(i => (5000000L + i,
        s"entirely fresh unrelated content block number $i with plenty of distinct filler words",
        at(600))).toDF("doc_id", "text", "ts")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/b4")
    (0 until 5).map(i => (6000000L + i,
        s"another run of totally different payload text index $i sharing nothing at all",
        at(660))).toDF("doc_id", "text", "ts")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/b5")
    Seq("b1" -> "0-originals.parquet", "b2" -> "1-copies.parquet",
      "b3" -> "2-replay.parquet", "b4" -> "3-late.parquet",
      "b5" -> "4-later.parquet").foreach { case (s, o) => moveInto(dir, s, o) }

    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("ts", TimestampType)))
    // the chained-stateful composition is exactly the "understood risk"
    // case Spark's global-watermark check points at (see the
    // minhashDedupVerdictsTtl Scaladoc for why the late-row semantics are
    // the standard watermarked-dedup contract here)
    withRocksDb { spark =>
      spark.conf.set(
        "spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "false")
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(dir.toAbsolutePath.toString)
      val q = Streaming.minhashDedupVerdictsTtl(stream).toDF()
        .writeStream.format("memory").queryName("vttl_dedup")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(240000)
      val stateRows = q.recentProgress.toSeq
        .filter(_.stateOperators.nonEmpty)
        .map(_.stateOperators.map(_.numRowsTotal).sum)
      q.stop()

      val rows = spark.table("vttl_dedup").select("doc_id", "dup_of").collect()
      assert(rows.nonEmpty, "no verdicts emitted")
      // exactly one verdict per doc despite 16-band fan-out AND the replay
      val perDoc = rows.groupBy(_.getLong(0)).view.mapValues(_.length)
      assert(perDoc.values.forall(_ == 1),
        s"duplicate verdicts: ${perDoc.filter(_._2 > 1).toMap}")
      val planted = docs.filter(col("doc_id") % 10 === 0)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val hits = rows.filter(r => r.getLong(0) >= 1000000L &&
        r.getLong(0) < 5000000L &&
        r.getLong(1) == r.getLong(0) - 1000000L).map(_.getLong(0) - 1000000L).toSet
      val recall = hits.intersect(planted).size.toDouble / planted.size
      assert(recall >= 0.8, s"verdict recall $recall < 0.8")
      // both stores drained after the horizon passed
      assert(stateRows.nonEmpty && stateRows.last < stateRows.max / 2,
        s"state not TTL'd across both operators: $stateRows")
    }
  }

  test("st_minhash_verdicts_ttl: a continuously-matching doc keeps its flag warm — still one verdict (RocksDB)") {
    import java.sql.Timestamp
    import graft.operators.Dedup
    // ADVICE r5 (medium): the seen-flag's timeout used to be registered only
    // when the FIRST verdict was emitted; a doc that keeps matching at
    // intervals shorter than the horizon (stage-1 buckets stay warm, since
    // any arrival refreshes them) could in principle have its flag expire
    // mid-stream — once other matches advance stage 2's watermark past
    // first-verdict + horizon while the doc sits out a batch — and then
    // leak a SECOND verdict. The fix refreshes the timeout off every
    // suppressed batch's max match ts (any-activity-keeps-warm, mirroring
    // stage 1), which makes the invariant hold BY CONSTRUCTION. (Measured
    // while building this spec: Spark's downstream-operator watermark
    // propagation through the chained stateful stages is itself very
    // conservative — extra delay, several batches of lag, and timer scans
    // only on non-empty input batches — so the unfixed expiry is hard to
    // even provoke here; this spec is the regression net pinning the
    // END-TO-END contract under a long warm-matching timeline, not a
    // differential repro of the unfixed code.)
    // Timeline (horizon 60m, delay 10m; B = copy of doc A, re-sent):
    //   b1 T0      originals seed buckets
    //   b2 +30m    B arrives → verdict
    //   b3 +55m    B again → suppressed; refresh pushes the flag deadline
    //   b4 +101m   OTHER docs' copies (c2) match → watermark advances
    //   b5 +103m   more other copies (c3)
    //   b6 +112m   B again (bucket warm) → suppressed
    //   b7 +116m   unrelated filler
    //   then alternating cycles out to +360m: B re-arrives every 50m
    //   (bucket gaps ≤ 50m < horizon — warm the whole way) interleaved
    //   with c2 re-arrivals 4m later, so stage 2 keeps receiving input —
    //   and scanning its timers — in B-absent batches while six hours of
    //   event time pass. B must end the stream with EXACTLY one verdict,
    //   and every other doc with at most one.
    val dir = Paths.get("target/stream_docs_vwarm")
    org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    Files.createDirectories(dir)
    val docs = Tables.t(spark, sf, "documents").select("doc_id", "text")
    val t0 = Timestamp.valueOf("2026-01-01 00:00:00")
    def at(minutes: Long) = new Timestamp(t0.getTime + minutes * 60000L)
    val copies = Dedup.withPlantedNear(docs).filter(col("doc_id") >= 1000000L)
    val bId = copies.agg(min("doc_id")).collect().head.getLong(0)
    val b = copies.filter(col("doc_id") === bId)
    val others = copies.filter(col("doc_id") =!= bId)
    val c2 = others.filter(col("doc_id") % 20 === 10)
    val c3 = others.filter(col("doc_id") % 20 =!= 10)
    docs.withColumn("ts", lit(t0))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/b1")
    b.withColumn("ts", lit(at(30)))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/b2")
    b.withColumn("ts", lit(at(55)))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/b3")
    c2.withColumn("ts", lit(at(101)))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/b4")
    c3.withColumn("ts", lit(at(103)))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/b5")
    b.withColumn("ts", lit(at(112)))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/b6")
    import spark.implicits._
    (0 until 5).map(i => (7000000L + i,
        s"completely separate interstitial filler narrative segment $i with nothing shared",
        at(116))).toDF("doc_id", "text", "ts")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/b7")
    val cycles: Seq[(String, Long)] =
      (0 to 4).flatMap { i =>
        val bBatch = Seq(s"cb$i" -> (160L + 50L * i))
        val cBatch = if (i < 4) Seq(s"cc$i" -> (164L + 50L * i)) else Seq.empty
        bBatch ++ cBatch
      }
    cycles.foreach { case (nm, m) =>
      val src = if (nm.startsWith("cb")) b else c2
      src.withColumn("ts", lit(at(m)))
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/$nm")
    }
    (Seq("b1" -> "0-orig.parquet", "b2" -> "1-b.parquet", "b3" -> "2-b.parquet",
      "b4" -> "3-c2.parquet", "b5" -> "4-c3.parquet", "b6" -> "5-b.parquet",
      "b7" -> "6-filler.parquet") ++
      cycles.zipWithIndex.map { case ((nm, m), i) =>
        nm -> f"${7 + i}%02d-$nm-$m.parquet" })
      .foreach { case (s, o) => moveInto(dir, s, o) }

    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("ts", TimestampType)))
    withRocksDb { spark =>
      spark.conf.set(
        "spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "false")
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(dir.toAbsolutePath.toString)
      val q = Streaming.minhashDedupVerdictsTtl(stream).toDF()
        .writeStream.format("memory").queryName("vwarm_dedup")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(240000)
      q.stop()
      val rows = spark.table("vwarm_dedup").select("doc_id").collect()
      assert(rows.nonEmpty, "no verdicts emitted")
      val bRows = rows.count(_.getLong(0) == bId)
      assert(bRows == 1,
        s"continuously-matching doc $bId got $bRows verdicts (flag expired mid-stream)")
      val perDoc = rows.groupBy(_.getLong(0)).view.mapValues(_.length)
      assert(perDoc.values.forall(_ == 1),
        s"duplicate verdicts: ${perDoc.filter(_._2 > 1).toMap}")
    }
  }

  test("st_minhash_verdicts: exactly one row per duplicate across whole-batch replay") {
    // at-least-once matches (≤16 band rows per dup, re-emitted on replay)
    // must collapse to EXACTLY one verdict row per doc_id: batch 1 seeds,
    // batch 2 delivers the copies (verdict emitted), batch 3 REPLAYS the
    // copies byte-identically — the seen-state must suppress re-emission
    val src = ensureStreamDocs()
    val dir = Paths.get("target/stream_docs_replay")
    org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    Files.createDirectories(dir)
    Files.copy(src.resolve("0-originals.parquet"), dir.resolve("0-originals.parquet"))
    Files.copy(src.resolve("1-copies.parquet"), dir.resolve("1-copies.parquet"))
    Files.copy(src.resolve("1-copies.parquet"), dir.resolve("2-copies-replay.parquet"))

    val stream = spark.readStream.schema(docStreamSchema)
      .option("maxFilesPerTrigger", "1").parquet(dir.toAbsolutePath.toString)
    runToMemory(Streaming.minhashDedupVerdicts(stream).toDF(),
      "stream_verdicts", "append")
    val rows = spark.table("stream_verdicts")
      .select("doc_id", "dup_of").collect()
    assert(rows.nonEmpty, "no verdicts emitted")
    val perDoc = rows.groupBy(_.getLong(0)).view.mapValues(_.length)
    assert(perDoc.values.forall(_ == 1),
      s"duplicate verdicts: ${perDoc.filter(_._2 > 1).toMap}")
    // recall still holds through the projection: every planted copy gets
    // its one verdict, pointing at the true source
    val docs = Tables.t(spark, sf, "documents").select("doc_id")
    val planted = docs.filter(col("doc_id") % 10 === 0)
      .collect().map(_.getLong(0)).toSet
    val hits = rows.filter(r => r.getLong(0) >= 1000000L &&
      r.getLong(1) == r.getLong(0) - 1000000L).map(_.getLong(0) - 1000000L).toSet
    val recall = hits.intersect(planted).size.toDouble / planted.size
    assert(recall >= 0.8, s"verdict recall $recall < 0.8")
  }

  test("st_foreach_sink: idempotent epoch-dir foreachBatch — exactly-once content, replay provably skipped") {
    val base = Paths.get("target/feb_sink")
    org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
    val inDir = Files.createDirectories(base.resolve("in"))
    val outDir = base.resolve("out").toAbsolutePath.toString
    val ckpt = base.resolve("ckpt").toAbsolutePath.toString
    // time-ordered chunks close windows mid-stream → several committed epochs
    val ev = Tables.t(spark, sf, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    val w = org.apache.spark.sql.expressions.Window.orderBy("ts", "event_id")
    val chunked = ev.withColumn("chunk", ntile(4).over(w))
    (1 to 4).foreach { i =>
      chunked.filter(col("chunk") === i).drop("chunk")
        .coalesce(1).write.mode("overwrite").parquet(s"$inDir/c$i")
      moveInto(inDir, s"c$i", f"$i%02d-chunk.parquet")
    }
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType)))
    val q = Streaming.foreachBatchSink(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(inDir.toAbsolutePath.toString), outDir, ckpt)
    q.awaitTermination(120000)
    q.stop()
    val dirs = new java.io.File(outDir).listFiles()
      .filter(_.getName.startsWith("batch_id=")).sortBy(_.getName)
    assert(dirs.length >= 2, s"expected multiple committed epochs, got ${dirs.length}")
    assert(dirs.forall(d => new java.io.File(d, "_GRAFT_COMMITTED").exists()),
      "uncommitted epoch directory present")
    // union of committed epochs = the append stream: each window exactly once,
    // values exact vs the batch aggregate
    val sink = spark.read.parquet(outDir) // batch_id read as partition column
    assert(sink.groupBy("hour", "event_type").count()
      .filter(col("count") > 1).count() == 0, "window duplicated across epochs")
    val batch = Relational.eTumbling(spark, sf)
    val joined = sink.as("s").join(batch.as("b"),
      col("s.hour") === col("b.hour") && col("s.event_type") === col("b.event_type"))
    assert(joined.count() == sink.count(), "sink window missing from batch")
    assert(joined.filter(col("s.n") =!= col("b.n") ||
      col("s.sum_value") =!= col("b.sum_value")).count() == 0)
    assert(sink.count() >= batch.count() - 10, "too few windows closed")
    // replay contract: re-delivering a committed batchId — even with
    // different data — must not touch a byte
    val victim = dirs.head
    val id = victim.getName.stripPrefix("batch_id=").toLong
    def snapshot() = victim.listFiles().map(f => f.getName -> f.lastModified()).toMap
    val before = snapshot()
    Streaming.idempotentBatchWrite(outDir)(
      Tables.t(spark, sf, "events").limit(3)
        .select(col("ts").as("hour"), col("event_type"),
          lit(999L).as("n"), lit(0.0).as("sum_value")), id)
    assert(snapshot() == before, "replayed epoch was rewritten")
  }

  test("st_ann_ingest: streamed vector epochs grow the stored IVFPQ index " +
    "— serve is byte-identical to the all-at-once build, every epoch " +
    "carries its commit marker, and a replayed epoch touches nothing") {
    import graft.operators.Similarity
    val base = Paths.get("target/ann_ingest")
    org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
    val inDir = Files.createDirectories(base.resolve("in"))
    val outDir = base.resolve("index").toAbsolutePath.toString
    val ckpt = base.resolve("ckpt").toAbsolutePath.toString
    // the frozen production model — trained offline, constant across epochs
    val c = Similarity.ivfQuantizer(spark, sf01)
    val (books, _) = Similarity.pqBuild(spark, sf01)
    // corpus arrives as six disjoint vector files, two per micro-batch, so
    // each epoch's batch spans two tasks
    val embAll = Tables.t(spark, sf01, "embeddings")
      .select("vec_id", "embedding")
    (0 to 5).foreach { i =>
      embAll.filter(pmod(col("vec_id"), lit(6)) === i)
        .coalesce(1).write.mode("overwrite").parquet(s"$inDir/c$i")
      moveInto(inDir, s"c$i", f"$i%02d-vecs.parquet")
    }
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val q = Streaming.annIngest(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "2")
        .parquet(inDir.toAbsolutePath.toString), c, books, outDir, ckpt)
    q.awaitTermination(120000)
    q.stop()
    val epochs = new java.io.File(outDir).listFiles()
      .filter(_.getName.startsWith("batch_id=")).sortBy(_.getName)
    assert(epochs.length == 3, s"expected 3 epochs, got ${epochs.length}")
    assert(epochs.forall(d => new java.io.File(d, "_GRAFT_COMMITTED").exists()),
      "uncommitted epoch directory present")
    // each epoch lands through the index's one writer: one file per cell
    val epochCells = epochs.flatMap(_.listFiles().filter(_.isDirectory))
    assert(epochCells.nonEmpty && epochCells.forall(d =>
      d.getName.startsWith("cell=") &&
        d.listFiles().count(_.getName.endsWith(".parquet")) == 1),
      "an epoch holds several files in one cell directory")
    // the streamed index serves byte-identically to the all-at-once build
    val served = Similarity.ivfpqServeFromStore(spark, sf01, outDir, c, books)
      .collect().toSeq
    assert(served.nonEmpty &&
      served == Similarity.nIvfpqTopk(spark, sf01).collect().toSeq,
      "streamed index diverges from the all-at-once build")
    // replay contract: re-delivering a committed epoch id with DIFFERENT
    // data must not touch a byte of the store
    val victim = epochs.head
    val id = victim.getName.stripPrefix("batch_id=").toLong
    def snapshot(): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(victim).map(f => f.getAbsolutePath -> f.lastModified()).toMap
    }
    val before = snapshot()
    Streaming.ivfpqEpochAppend(outDir, c, books)(embAll.limit(2), id)
    assert(snapshot() == before, "replayed epoch was rewritten")
    // epoch COMPACTION: the aged epoch store re-lands as one base
    // cell-partitioned layout, serve stays byte-identical
    val compacted = base.resolve("index_compact").toAbsolutePath.toString
    Streaming.ivfpqCompactEpochs(spark, outDir, compacted)
    assert(new java.io.File(compacted).listFiles()
      .filter(_.isDirectory).forall(_.getName.startsWith("cell=")),
      "compacted store is not the single-level cell layout")
    assert(new java.io.File(compacted).listFiles().filter(_.isDirectory)
      .forall(_.listFiles().count(_.getName.endsWith(".parquet")) == 1),
      "compaction left several files in one cell directory")
    assert(Similarity.ivfpqServeFromStore(spark, sf01, compacted, c, books)
      .collect().toSeq == served, "compaction changed serve results")
  }

  test("st_cdc_upsert: streamed CDC batches upsert the copy-on-write " +
    "table — updates rewrite only matched files, inserts append, a later " +
    "batch updates an earlier batch's insert, replay is inert") {
    import graft.sources.Sources
    val base = Paths.get("target/cdc_upsert")
    org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
    val inDir = Files.createDirectories(base.resolve("in"))
    val ckpt = base.resolve("ckpt").toAbsolutePath.toString
    val path = Sources.cowSeed(spark, sf, "orders_cdc_spec")
    val orders = Tables.t(spark, sf, "orders")
    def snapshot(): Map[String, Long] =
      new java.io.File(path).listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getAbsolutePath -> f.lastModified()).toMap
    val seeded = snapshot()
    def batchFile(i: Int, df: org.apache.spark.sql.DataFrame): Unit = {
      df.coalesce(1).write.mode("overwrite").parquet(s"$inDir/c$i")
      moveInto(inDir, s"c$i", f"$i%02d-cdc.parquet")
    }
    def negKeys(lo: Long, hi: Long, price: Double) =
      orders.filter(col("o_orderkey") >= lo && col("o_orderkey") < hi)
        .withColumn("o_orderkey", -(col("o_orderkey") + lit(1L)))
        .withColumn("o_totalprice", lit(price))
    batchFile(1, orders.filter(col("o_orderkey") < 50)
      .withColumn("o_totalprice", lit(111.11))
      .unionAll(negKeys(0, 25, 999.99)))
    batchFile(2, orders.filter(col("o_orderkey") >= 50 && col("o_orderkey") < 100)
      .withColumn("o_totalprice", lit(222.22))
      .unionAll(negKeys(25, 50, 888.88)))
    // batch 3 RE-updates keys 0–9 AND updates rows batch 1 INSERTED
    batchFile(3, orders.filter(col("o_orderkey") < 10)
      .withColumn("o_totalprice", lit(444.44))
      .unionAll(negKeys(0, 10, 333.33)))
    val q = Streaming.cdcUpsert(
      spark.readStream.schema(orders.schema).option("maxFilesPerTrigger", "1")
        .parquet(inDir.toAbsolutePath.toString), path, ckpt)
    q.awaitTermination(120000)
    q.stop()
    (0 to 2).foreach(id => assert(
      new java.io.File(path, s"_GRAFT_CDC_$id").exists(), s"epoch $id uncommitted"))
    val tbl = spark.read.parquet(path)
    assert(tbl.count() == orders.count() + 50, "insert count wrong")
    def price(k: Long): Double = tbl.filter(col("o_orderkey") === k)
      .select("o_totalprice").head().getDouble(0)
    assert(price(5L) == 444.44, "batch-3 re-update lost")
    assert(price(25L) == 111.11, "batch-1 update lost")
    assert(price(75L) == 222.22, "batch-2 update lost")
    assert(price(-5L) == 333.33, "upsert of an earlier insert lost")
    assert(price(-15L) == 999.99, "batch-1 insert price wrong")
    assert(price(-30L) == 888.88, "batch-2 insert price wrong")
    val orig200 = orders.filter(col("o_orderkey") === 200L)
      .select("o_totalprice").head().getDouble(0)
    assert(price(200L) == orig200, "unmatched row changed")
    // range-clustered updates rewrite a strict subset: seeded files
    // outside the matched range survive byte-identically
    val after = snapshot()
    val survivors = seeded.filter { case (p, t) => after.get(p) == Some(t) }
    assert(survivors.nonEmpty, "CDC stream rewrote every seeded file")
    // replay of a committed epoch with DIFFERENT data: inert
    val beforeReplay = snapshot()
    Streaming.cdcUpsertEpoch(path)(
      orders.limit(3).withColumn("o_totalprice", lit(1.0)), 0L)
    assert(snapshot() == beforeReplay, "replayed CDC epoch touched the store")
  }

  test("st_cdc_upsert retry of an UNCOMMITTED epoch: a crashed attempt's " +
    "already-landed insert files do not shrink the retry's insert set " +
    "(ADVICE r11 high — retry heals, no row loss, no duplicates)") {
    import graft.sources.Sources
    val path = Sources.cowSeed(spark, sf, "orders_cdc_retry_spec")
    val orders = Tables.t(spark, sf, "orders")
    val batchId = 7L
    // the epoch's batch: absolute updates on keys 0-19, inserts -(1..40)
    val updates = orders.filter(col("o_orderkey") < 20)
      .withColumn("o_totalprice", lit(555.55))
    val inserts = orders.filter(col("o_orderkey") < 40)
      .withColumn("o_orderkey", -(col("o_orderkey") + lit(1L)))
      .withColumn("o_totalprice", lit(777.77))
    val batch = updates.unionAll(inserts)
    // simulate the CRASH-MID-MOVE state the ADVICE describes: a prior
    // attempt landed SOME of the batch's insert rows as cdc<id>-* files
    // (here: half of them, as one file) and died before the marker —
    // those rows are now table-visible and would poison a naive retry's
    // key snapshot into reclassifying them as updates
    inserts.filter(col("o_orderkey") >= -20).coalesce(1)
      .write.mode("overwrite").parquet(s"$path-stash")
    val stashPart = Files.list(Paths.get(s"$path-stash")).toArray
      .map(_.toString).filter(_.endsWith(".parquet")).head
    Files.move(Paths.get(stashPart),
      Paths.get(path, s"cdc$batchId-0.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    org.apache.commons.io.FileUtils.deleteQuietly(
      Paths.get(s"$path-stash").toFile)
    val expectedTotal = orders.count() + 40
    Streaming.cdcUpsertEpoch(path)(batch, batchId)
    assert(new java.io.File(path, s"_GRAFT_CDC_$batchId").exists(),
      "retry did not commit")
    val tbl = spark.read.parquet(path)
    assert(tbl.count() == expectedTotal,
      s"retry lost or duplicated rows: ${tbl.count()} vs $expectedTotal")
    assert(tbl.filter(col("o_orderkey") < 0).count() == 40,
      "insert rows lost on retry")
    assert(tbl.filter(col("o_orderkey") < 0 &&
        col("o_totalprice") =!= 777.77).count() == 0,
      "an insert row carries a wrong price after retry")
    assert(tbl.filter(col("o_orderkey") >= 0 && col("o_orderkey") < 20 &&
        col("o_totalprice") =!= 555.55).count() == 0,
      "an updated row missed its absolute update after retry")
    // a second replay (now committed) is inert
    val files = new java.io.File(path).listFiles()
      .map(f => f.getName -> f.lastModified()).toMap
    Streaming.cdcUpsertEpoch(path)(batch.limit(1), batchId)
    val after = new java.io.File(path).listFiles()
      .map(f => f.getName -> f.lastModified()).toMap
    assert(after == files, "committed-epoch replay touched the store")
  }

  test("e2e file sink: tumbling agg → partitioned parquet with checkpoint; kill-and-restart resumes without duplicates (RocksDB)") {
    // the last mile of the production streaming story (VERDICT r5 #7): the
    // other specs stop at memory sinks; this drives the watermarked agg
    // through the transactional FILE sink — partitioned parquet + the file
    // sink's commit log — kills the query after PARTIAL input, restarts it
    // from the same checkpoint on the grown directory, and proves the resumed
    // query appends only the NEW windows (a restart that re-planned from
    // scratch would re-emit every closed window and the per-window
    // uniqueness assertion below would fail).
    val base = Paths.get("target/e2e_sink")
    org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
    val inDir = Files.createDirectories(base.resolve("in"))
    val outDir = base.resolve("out").toAbsolutePath.toString
    val ckpt = base.resolve("ckpt").toAbsolutePath.toString

    // four TIME-ORDERED chunks (ntile over ts): each micro-batch advances
    // the watermark monotonically and no row ever arrives late, so the
    // sink's content must equal the batch aggregate on every closed window
    val ev = Tables.t(spark, sf, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    val w = org.apache.spark.sql.expressions.Window.orderBy("ts", "event_id")
    val chunked = ev.withColumn("chunk", ntile(4).over(w))
    def writeChunk(i: Int): Unit = {
      chunked.filter(col("chunk") === i).drop("chunk")
        .coalesce(1).write.mode("overwrite").parquet(s"$inDir/c$i")
      moveInto(inDir, s"c$i", f"$i%02d-chunk.parquet")
    }
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType)))
    def runPass(spark: SparkSession): Unit = {
      val q = Streaming.tumblingAgg(
          spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
            .parquet(inDir.toAbsolutePath.toString))
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .partitionBy("event_type")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      q.stop()
    }
    withRocksDb { spark =>
      writeChunk(1); writeChunk(2)
      runPass(spark) // pass 1: half the stream, then the query is gone
      val afterKill = spark.read.parquet(outDir).count()
      assert(afterKill > 0, "no windows closed before the kill")
      writeChunk(3); writeChunk(4)
      runPass(spark) // pass 2: SAME checkpoint — must resume, not reprocess
      val sink = spark.read.parquet(outDir)
      assert(sink.count() > afterKill, "restart emitted nothing new")
      // exactly-once across the restart: every (hour, type) window at most once
      val dups = sink.groupBy("hour", "event_type").count()
        .filter(col("count") > 1).count()
      assert(dups == 0, s"$dups windows duplicated across the restart")
      // and every emitted window carries the exact batch values
      val batch = Relational.eTumbling(spark, sf)
      val joined = sink.as("s").join(batch.as("b"),
        col("s.hour") === col("b.hour") &&
          col("s.event_type") === col("b.event_type"), "left")
      assert(joined.filter(col("b.n").isNull || col("s.n") =!= col("b.n") ||
        col("s.sum_value") =!= col("b.sum_value")).count() == 0,
        "file-sink windows diverge from the batch aggregate")
      val emitted = sink.count()
      val total = batch.count()
      assert(emitted >= total - 10, s"only $emitted of $total windows closed")
    }
  }

}
