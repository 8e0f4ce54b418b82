package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One event (streaming-side mirror of the `events` table). */
case class Event(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double)

/** Buffered per-user state between micro-batches. */
case class SessionBuffer(events: Seq[(Long, Long, Double)]) // (tsUs, event_id, value)

/** A closed session. */
case class SessionOut(user_id: Long, session_start: Timestamp,
    session_end: Timestamp, n_events: Long, session_value: Double)

/** Structured Streaming operators over the events stream (SURVEY.md §2.9).
  * The driver's gate is batch-only, so these are exercised by StreamingSpec
  * (file source → memory sink, AvailableNow trigger) and checked for
  * equivalence against the batch operators (Relational.eTumbling/eSession).
  *
  * 100 TB notes: the tumbling aggregate is keyed on (window, event_type) —
  * state is one row per open window per type, bounded by the 1h watermark.
  * Sessionization state is per-user buffered events, flushed as sessions
  * close (gap passed) — the flatMapGroupsWithState pattern that scales to
  * arbitrary key cardinality because state lives in the state store, not on
  * the driver.
  */
object Streaming {

  val GapUs: Long = 1800L * 1000000L // 30 min, matches Relational.eSession

  /** Full-microsecond epoch (Timestamp.getTime is ms-truncated). */
  def tsMicros(ts: Timestamp): Long =
    ts.getTime / 1000L * 1000000L + ts.getNanos / 1000L

  /** Timestamp preserving full microseconds (the ms-only constructor would
    * silently truncate and break equality joins against batch results). */
  def microsTs(us: Long): Timestamp = {
    val sec = Math.floorDiv(us, 1000000L)
    val t = new Timestamp(sec * 1000L)
    t.setNanos((us - sec * 1000000L).toInt * 1000)
    t
  }

  /** Sliding (hopping) 2h/30min windowed aggregate with a watermark — the
    * streaming twin of batch e_hopping (Relational.eHopping), sharing the
    * identical `window(ts, size, slide)` operator and therefore the
    * identical window boundaries: StreamingSpec proves the closed-window
    * output row-equal to the batch run on the same files. State per key is
    * size/slide = 4 concurrent windows; the watermark bounds how long each
    * stays open, so state is O(4 · #types · windows-in-watermark), constant
    * in stream length. */
  def slidingAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "2 hours", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .select(col("window.start").as("w_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Tumbling 1-hour windowed aggregate with a 1-hour watermark. */
  def tumblingAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .select(col("window.start").as("hour"), col("event_type"),
        col("n"), col("sum_value"))

  // --------------------------------------------------------- st_foreach_sink
  /** Idempotent foreachBatch write — the production escape hatch for sinks
    * Spark has no connector for (JDBC upserts, search indexes, feature
    * stores). foreachBatch is AT-LEAST-ONCE: after a failure the restarted
    * query re-runs the last uncommitted batch with the SAME batchId, so
    * exactly-once must come from the writer being idempotent per batchId.
    * This is the standard epoch-directory form: each batch lands in
    * `batch_id=<id>/` (overwrite, so a partially-written attempt self-heals
    * on retry) and a commit marker turns the directory durable — a replayed
    * (batchId, data) is detected by its marker and skipped without touching
    * bytes. At 100 TB the marker check is one namenode stat per batch;
    * readers take only marker-committed directories. All file steps go
    * through `org.apache.hadoop.fs.FileSystem` ([[graft.sources.Fs]]), so
    * the same code runs against local FS, HDFS, and object stores — on
    * stores without atomic create, the marker write stays correct because
    * foreachBatch is a single sequential writer per checkpoint. */
  def idempotentBatchWrite(out: String)(batch: DataFrame, batchId: Long): Unit = {
    val fs = graft.sources.Fs.of(batch.sparkSession, out)
    val dir = fs.makeQualified(
      new org.apache.hadoop.fs.Path(out, s"batch_id=$batchId"))
    val marker = new org.apache.hadoop.fs.Path(dir, "_GRAFT_COMMITTED")
    if (fs.exists(marker)) return // replay of a committed epoch — idempotent skip
    batch.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(dir.toString)
    graft.sources.Fs.touch(fs, marker)
  }

  /** The tumbling aggregate fanned out through the idempotent batch writer
    * (append mode: only watermark-closed windows reach the sink, so the
    * union of committed epoch dirs holds each window exactly once). */
  def foreachBatchSink(events: DataFrame, out: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    tumblingAgg(events).writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch(idempotentBatchWrite(out) _)
      .start()

  /** One epoch of streaming ANN index ingest: assign + PQ-encode an
    * arriving vector batch with the FROZEN model (the ivfpqEncode pass
    * shared with the batch build and n_ivfpq_delta's append) and land it
    * in `batch_id=<id>/cell=<c>/…` under a commit marker — the
    * [[idempotentBatchWrite]] contract specialized to the index layout.
    * The epoch lands through the index's one writer
    * (`Similarity.writeCells`), so it holds one file per cell it touches.
    * Partition discovery exposes batch_id AND cell to readers, so the
    * serve path's cell IN-filter still prunes the scan to probed cells
    * only; the epoch level just adds one directory depth. */
  def ivfpqEpochAppend(out: String, c: DataFrame, books: Array[Double],
      metric: String = "cosine")
      (batch: DataFrame, batchId: Long): Unit = {
    val fs = graft.sources.Fs.of(batch.sparkSession, out)
    val dir = fs.makeQualified(
      new org.apache.hadoop.fs.Path(out, s"batch_id=$batchId"))
    val marker = new org.apache.hadoop.fs.Path(dir, "_GRAFT_COMMITTED")
    if (fs.exists(marker)) return // replay of a committed epoch
    graft.functions.GraftFunctions.register(batch.sparkSession)
    graft.operators.Similarity.writeCells(
      graft.operators.Similarity.ivfpqEncode(batch, c, books, metric = metric),
      dir.toString, org.apache.spark.sql.SaveMode.Overwrite)
    graft.sources.Fs.touch(fs, marker)
  }

  /** Streaming ANN index ingest — the streaming face of n_ivfpq_delta: a
    * stream of new vectors continuously grows the stored IVFPQ index,
    * each micro-batch one frozen-model encode pass (delta-proportional
    * work, no retraining, base epochs never rewritten), and the new
    * vectors are probe-visible as soon as their epoch commits. Because
    * foreachBatch is at-least-once, exactly-once on the index comes from
    * the epoch-dir + marker idempotence ([[ivfpqEpochAppend]]);
    * StreamingSpec proves the streamed index serves BYTE-IDENTICAL
    * results to the all-at-once batch build and that a replayed epoch —
    * even with different data — touches nothing. */
  def annIngest(vectors: DataFrame, c: DataFrame, books: Array[Double],
      out: String, checkpoint: String, metric: String = "cosine")
      : org.apache.spark.sql.streaming.StreamingQuery =
    vectors.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch(ivfpqEpochAppend(out, c, books, metric) _)
      .start()

  /** One epoch of streaming CDC upsert against the copy-on-write orders
    * table (the dml_merge machinery driven by a stream): the arriving
    * batch is split against the CURRENT table keys — rows whose key
    * exists become absolute price updates (only matched files rewritten,
    * [[graft.sources.Sources.cowApplyUpdates]]), new keys append as
    * insert files. Exactly-once layering: a committed batchId is skipped
    * by its marker (the st_foreach_sink contract); a RETRY of an
    * uncommitted batch is safe because the retry FIRST removes any
    * `cdc<batchId>-*` insert files a crashed attempt already landed (see
    * below), so (a) the key snapshot — and hence the update/insert split —
    * is identical on every attempt, (b) the re-landed insert files carry
    * the same DETERMINISTIC names and overwrite the healed slate, and
    * (c) updates are ABSOLUTE values, so re-applying them is idempotent.
    * What this deliberately does NOT claim: atomic visibility of a
    * half-applied batch to concurrent readers — that is the table-format
    * log's job (SURVEY §7a). All file steps go through the Hadoop
    * FileSystem API ([[graft.sources.Fs]]) — local FS, HDFS, object
    * stores. */
  def cdcUpsertEpoch(path: String)(batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val fs = graft.sources.Fs.of(spark, path)
    val table = fs.makeQualified(new org.apache.hadoop.fs.Path(path))
    val marker = new org.apache.hadoop.fs.Path(table, s"_GRAFT_CDC_$batchId")
    if (fs.exists(marker)) return // replay of a committed epoch
    // Retry healing (ADVICE r11, high): a crashed attempt may have moved
    // some of THIS batch's insert files into the table before dying. If
    // those rows stayed visible, the retry would snapshot them as existing
    // keys, reclassify them as updates, compute a SMALLER insert set, and
    // the replace-existing landing would clobber files holding rows the
    // new split no longer re-lands — silent row loss. Deleting the
    // uncommitted attempt's files first makes every retry classify — and
    // land — the identical set: the rows are re-derived from the replayed
    // batch (foreachBatch re-delivers the same batchId), and any updates
    // the crashed attempt already applied are absolute, hence idempotent.
    // Heal is itself a mutation — leased like every other table-touching
    // window (a concurrent writer mid-heal is the same silent-corruption
    // risk as a concurrent swap).
    // ONE lease across the WHOLE epoch — heal, key snapshot/split, insert
    // landing, update rewrite, commit marker (ADVICE r13: per-leg leases
    // let a writer interleave between legs undetected; the snapshot and
    // target computation belong inside the same single-writer window the
    // mutations run in).
    graft.sources.Fs.withLease(fs, table, s"cdcUpsert-$batchId") {
      graft.sources.Fs.deleteMatching(fs, table, s"cdc$batchId-*.parquet")
      val keys = spark.read.parquet(path).select("o_orderkey")
      // one source read for both splits, pinned for the epoch
      val b = graft.operators.Checkpoints.pin(batch, eager = true)
      val updates = b.join(keys, Seq("o_orderkey"), "left_semi")
        .select(col("o_orderkey").as("mk"), col("o_totalprice").as("mp"))
      val inserts = b.join(keys, Seq("o_orderkey"), "left_anti")
      val targets = graft.sources.Sources.cowTargetsByKeys(spark, path, updates)
      val tmp = fs.makeQualified(
        new org.apache.hadoop.fs.Path(path + s"__cdc_tmp_$batchId"))
      inserts.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(tmp.toString)
      graft.sources.Fs.bulkMove(fs,
        graft.sources.Fs.listParquet(fs, tmp).toSeq.zipWithIndex.map {
          case (f, i) =>
            f -> new org.apache.hadoop.fs.Path(table, s"cdc$batchId-$i.parquet")
        })
      graft.sources.Fs.deleteQuietly(fs, tmp, recursive = true)
      graft.sources.Sources.cowApplyUpdates(spark, path, targets, updates)
      graft.sources.Fs.touch(fs, marker)
      graft.operators.Checkpoints.release(b)
    }
    graft.sources.Sources.postCowMutation(spark, path)
  }

  /** Epoch COMPACTION for the streamed ANN index — the standing
    * maintenance job that closes the [[annIngest]] lifecycle: the
    * `batch_id=<id>/cell=<c>/` epoch files (one file per touched cell per
    * micro-batch) re-land as ONE base cell-partitioned layout with one
    * file per cell, so the per-query open/footer cost stops growing with
    * stream age. The store is opened with the fixed index schema (no
    * inference job) and re-landed through the same one writer as a build
    * (`Similarity.ivfpqWriteIndex`), whose one exchange by cell merges
    * every epoch's file of a cell into one. Read-side nothing changes —
    * `ivfpqServeFromStore` partition-prunes both layouts the same way
    * (cell is a partition column in each) — and no re-encoding happens:
    * codes are copied, the model is untouched. Run it on a cadence (or an
    * epoch-count threshold) like sink_compact; the swap to the compacted
    * directory is the same single-writer story as the COW DML swap.
    * StreamingSpec proves byte-identical serve before/after and that the
    * compacted store has exactly one directory level. */
  def ivfpqCompactEpochs(spark: org.apache.spark.sql.SparkSession,
      epochPath: String, outPath: String): Unit =
    graft.operators.Similarity.ivfpqWriteIndex(
      graft.operators.Similarity.readIndex(spark, epochPath), outPath)

  /** The CDC stream: each micro-batch of (o_orderkey, …, o_totalprice)
    * rows upserts into the stored table via [[cdcUpsertEpoch]]. */
  def cdcUpsert(changes: DataFrame, path: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    changes.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch(cdcUpsertEpoch(path) _)
      .start()

  /** Streaming exact dedup — the streaming face of d_exact (SURVEY §2.5):
    * `dropDuplicatesWithinWatermark` on the natural key. The plain
    * `dropDuplicates("event_id")` spelling under a watermark does NOT
    * bound state — Spark evicts dedup state only when the event-time
    * column is part of the key subset, so keying by id alone accumulates
    * one state row per distinct id forever (found round 7 auditing this
    * file's own Scaladoc claim). The WithinWatermark operator is the
    * production spelling: dedup keyed by event_id alone, state evicted
    * once the watermark passes each key's admission + delay — bounded by
    * arrival rate × horizon, with the standard within-horizon contract (a
    * duplicate arriving > 1 h of event time after its original re-admits,
    * same trade the TTL'd minhash dedup documents). */
  def dedupStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")

  /** Sessionization via flatMapGroupsWithState: buffer per-user events,
    * emit every session whose gap to the next event exceeds GapUs; the final
    * open session flushes on EVENT-time timeout — when the watermark passes
    * last-buffered-event + gap — so emission is deterministic w.r.t. the
    * event stream, not the wall clock (round-1 review: ProcessingTimeTimeout
    * made final-session flush timing nondeterministic in production). */
  def sessionize(events: Dataset[Event]): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionBuffer, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, incoming: Iterator[Event], state: GroupState[SessionBuffer]) =>
          val prior = if (state.exists) state.get.events else Seq.empty
          val all = (prior ++ incoming.map(e =>
            (tsMicros(e.ts), e.event_id, e.value))).sortBy(t => (t._1, t._2))
          if (all.isEmpty) Iterator.empty
          else {
            // split on gaps; keep the (possibly still-open) last session
            val sessions = scala.collection.mutable.ArrayBuffer[Seq[(Long, Long, Double)]]()
            var cur = scala.collection.mutable.ArrayBuffer[(Long, Long, Double)](all.head)
            all.tail.foreach { e =>
              if (e._1 - cur.last._1 > GapUs) { sessions += cur.toSeq; cur = scala.collection.mutable.ArrayBuffer(e) }
              else cur += e
            }
            val (closed, open) =
              if (state.hasTimedOut) (sessions.toSeq :+ cur.toSeq, Seq.empty)
              else (sessions.toSeq, cur.toSeq)
            if (open.isEmpty) state.remove()
            else {
              state.update(SessionBuffer(open))
              // fire when the watermark passes the session gap after the last
              // buffered event (ms granularity; must stay above the current
              // watermark or Spark rejects the timestamp)
              val fireMs = Math.floorDiv(open.last._1, 1000L) + GapUs / 1000L
              state.setTimeoutTimestamp(
                math.max(fireMs, state.getCurrentWatermarkMs() + 1))
            }
            closed.iterator.map { s =>
              SessionOut(userId,
                microsTs(s.head._1), microsTs(s.last._1),
                s.length.toLong, math.round(s.map(_._3).sum * 100.0) / 100.0)
            }
          }
      }
  }

  /** Stream-static enrichment: the unbounded event stream joined to a
    * bounded dimension (user_id → attributes). The static side is broadcast
    * — Spark re-plans it per micro-batch, the stream side is NEVER shuffled
    * (no state store, no watermark needed for an inner/left join against a
    * static table). This is the standard "attach user/account metadata at
    * ingest" stage of a 100 TB/day feed: dimension churn is picked up at
    * micro-batch boundaries because the static plan re-executes each batch. */
  def enrich(events: DataFrame, userDim: DataFrame): DataFrame =
    events.join(broadcast(userDim), Seq("user_id"), "left")

  /** Stream-STREAM inner join (the DataFusion SymmetricHashJoinExec
    * analogue): purchases joined to the same user's clicks within the
    * preceding hour. Both sides are watermarked and the join carries an
    * event-time RANGE condition — that pair is what lets Spark bound the
    * join state (each side's buffer is evictable once the other side's
    * watermark passes the range), so state is arrival-rate × window, not
    * stream length — the invariant that keeps an unbounded 100 TB/day
    * double-stream join runnable forever. */
  def streamStreamJoin(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks.withWatermark("ts", "1 hour")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
    val p = purchases.withWatermark("ts", "1 hour")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"), col("value"))
    p.join(c, expr(
      """user_id = c_user AND
        |click_ts <= purchase_ts AND
        |click_ts >= purchase_ts - INTERVAL 1 HOUR""".stripMargin))
      .select("user_id", "purchase_id", "purchase_ts", "value",
        "click_id", "click_ts")
  }

  /** Stream-STREAM LEFT OUTER join — the attribution shape: every purchase
    * with its preceding-hour clicks, or NULL click columns when none
    * exist. The outer side is the genuinely harder watermark case: a
    * matched pair can emit as soon as both rows meet, but the NULL row for
    * an unmatched purchase may only emit once the watermark PROVES no
    * qualifying click can still arrive (purchase_ts' click window fully
    * behind the click-side watermark) — which is exactly what the same
    * watermark + event-time range pair that bounds the inner join's state
    * provides. Same state bound: arrival-rate × window per side; the
    * deferred-NULL emission is the standard outer-join completeness/
    * latency trade every streaming engine makes. */
  def streamStreamLeftJoin(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks.withWatermark("ts", "1 hour")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
    val p = purchases.withWatermark("ts", "1 hour")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"), col("value"))
    p.join(c, expr(
      """user_id = c_user AND
        |click_ts <= purchase_ts AND
        |click_ts >= purchase_ts - INTERVAL 1 HOUR""".stripMargin),
      "left_outer")
      .select("user_id", "purchase_id", "purchase_ts", "value",
        "click_id", "click_ts")
  }

  /** Stream-STREAM FULL OUTER join — completes the outer-join matrix:
    * matched purchase/click pairs, PLUS a NULL-click row for every
    * purchase with no preceding-hour click, PLUS a NULL-purchase row for
    * every click no purchase followed within the hour. Each side's NULL
    * row emits only once the OTHER side's watermark proves no qualifying
    * row can still arrive (purchase side: its click window fully behind
    * the click watermark; click side: its [click_ts, click_ts + 1h]
    * purchase window fully behind the purchase watermark). Same bounded
    * state as the inner join — arrival-rate × window per side — since
    * eviction and NULL-flush are driven by the same watermark + range
    * pair. `user_id` is coalesced across sides so unmatched rows from
    * either stream keep their key. */
  def streamStreamFullJoin(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks.withWatermark("ts", "1 hour")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
    val p = purchases.withWatermark("ts", "1 hour")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"), col("value"))
    p.join(c, expr(
      """user_id = c_user AND
        |click_ts <= purchase_ts AND
        |click_ts >= purchase_ts - INTERVAL 1 HOUR""".stripMargin),
      "full_outer")
      .select(coalesce(col("user_id"), col("c_user")).as("user_id"),
        col("purchase_id"), col("purchase_ts"), col("value"),
        col("click_id"), col("click_ts"))
  }

  /** A streaming near-dup match: an arriving document matched against the
    * LSH bucket's stored representative. */
  case class DocMatch(doc_id: Long, dup_of: Long, est_jaccard: Double)

  /** Per-LSH-bucket state: the first document seen in this bucket. */
  case class BucketRep(rep_id: Long, sig: Seq[Long])

  /** Streaming near-duplicate dedup — the continuous-ingest face of
    * d_minhash (SURVEY §2.5): every arriving document is minhashed and
    * banded with the SAME kernels and band layout as the batch pipeline
    * (`Dedup.bandHashes`), then checked against per-bucket state; a match
    * is emitted when the signature-agreement estimate of Jaccard (the
    * minhash property: P[component collision] = J) clears `minSigSim`.
    *
    * 100 TB shape: state is ONE representative signature (~1 KB) per
    * non-empty LSH bucket — bounded by the bucket space actually touched,
    * not by stream length, and it lives in the state store (RocksDB at
    * scale), never on the driver. The batch pipeline verifies candidates
    * against exact shingle sets; a stream cannot hold shingle sets for
    * every document ever seen, so the signature estimate IS the verify —
    * the standard streaming trade (±1/√128 ≈ 0.09 estimate error), spec'd
    * against exact Jaccard in StreamingSpec. This variant is for feeds
    * with NO event-time column, so its bucket state never expires
    * (NoTimeout); a long-lived deployment should use
    * [[minhashDedupStreamTtl]], which TTLs cold buckets off the watermark.
    *
    * Emission contract: AT-LEAST-ONCE per match — a near-dup pair collides
    * in several of the 16 bands and each bucket emits independently (bands
    * cannot see each other's output inside one stateful operator), so a
    * doc may appear with up to 16 match rows, and with different `dup_of`
    * reps if different buckets were seeded by different documents. Any
    * emitted row is a valid "this doc is a near-duplicate" verdict; a
    * consumer needing one row per doc takes min(dup_of) per doc_id (or
    * Append-mode dropDuplicates) downstream, exactly as the spec does. */
  def minhashDedupStream(docs: DataFrame,
      minSigSim: Double = 0.5): Dataset[DocMatch] = {
    import docs.sparkSession.implicits._
    graft.functions.GraftFunctions.register(docs.sparkSession)
    import graft.operators.Dedup
    val banded = docs
      .select(col("doc_id"), expr("word_shingles(text, 3)").as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"), expr(s"minhash_sig(sh, ${Dedup.NumPerms})").as("sig"))
      .select(col("doc_id"), col("sig"),
        posexplode(Dedup.bandHashes(col("sig"))).as(Seq("band_id", "band_hash")))
      .as[(Long, Seq[Long], Int, Long)]
    banded
      .groupByKey { case (_, _, bandId, bandHash) => (bandId, bandHash) }
      .flatMapGroupsWithState[BucketRep, DocMatch](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: (Int, Long), rows: Iterator[(Long, Seq[Long], Int, Long)],
         state: GroupState[BucketRep]) =>
          // deterministic within a micro-batch: smallest doc_id seeds the
          // bucket, later arrivals compare against the stored representative
          val arrivals = rows.map { case (id, sig, _, _) => (id, sig) }
            .toSeq.sortBy(_._1)
          val out = Seq.newBuilder[DocMatch]
          var rep = if (state.exists) Some(state.get) else None
          arrivals.foreach { case (id, sig) =>
            rep match {
              case None => rep = Some(BucketRep(id, sig))
              case Some(r) if r.rep_id == id => ()
              case Some(r) =>
                val eq = r.sig.iterator.zip(sig.iterator)
                  .count { case (a, b) => a == b }
                val est = eq.toDouble / r.sig.length
                if (est >= minSigSim)
                  out += DocMatch(id, r.rep_id, math.round(est * 10000) / 10000.0)
            }
          }
          rep.foreach(state.update)
          out.result().iterator
      }
  }

  /** Per-LSH-bucket state with activity time, for the TTL'd variant. */
  case class BucketRepTs(rep_id: Long, sig: Seq[Long], last_seen_ms: Long)

  /** A near-dup match carrying the matched document's event time — the
    * TTL'd pipeline keeps event time flowing so DOWNSTREAM stateful stages
    * (the exactly-once projection) can watermark and expire their own
    * state too. */
  case class DocMatchTs(doc_id: Long, dup_of: Long, est_jaccard: Double,
      ts: Timestamp)

  /** [[minhashDedupStream]] with an EVENT-TIME TTL on bucket state — the
    * production form for a timestamped document feed (docs must carry a
    * `ts` column). Matching semantics are identical; additionally every
    * bucket records its last event-time activity and registers an
    * EventTimeTimeout at `last_seen + horizonMs`: once the watermark passes
    * that point the bucket's representative is REMOVED from the state
    * store. State is therefore bounded by the bucket space touched within
    * one horizon of the watermark — on a years-long 100 TB feed it is
    * arrival-rate × horizon, not monotone growth (the round-4 NoTimeout
    * trade, now closed). The trade is explicit: a duplicate arriving more
    * than `horizonMs` of event time after its bucket went cold re-seeds
    * the bucket instead of matching — exactly the within-horizon dedup
    * contract every watermarked streaming dedup (incl. dropDuplicates)
    * makes. StreamingSpec proves cold buckets are evicted (state row count
    * drops) while in-horizon recall holds, under RocksDB.
    *
    * Emission carries the MATCHED doc's event time ([[DocMatchTs]]) so a
    * downstream stateful stage — [[minhashDedupVerdictsTtl]] — can
    * re-watermark and TTL its own state off the same clock. */
  def minhashDedupStreamTtl(docs: DataFrame, minSigSim: Double = 0.5,
      horizonMs: Long = 3600L * 1000L,
      watermarkDelay: String = "10 minutes"): Dataset[DocMatchTs] = {
    import docs.sparkSession.implicits._
    graft.functions.GraftFunctions.register(docs.sparkSession)
    import graft.operators.Dedup
    val banded = docs
      .withWatermark("ts", watermarkDelay)
      .select(col("doc_id"), col("ts"), expr("word_shingles(text, 3)").as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"), col("ts"),
        expr(s"minhash_sig(sh, ${Dedup.NumPerms})").as("sig"))
      .select(col("doc_id"), col("ts"), col("sig"),
        posexplode(Dedup.bandHashes(col("sig"))).as(Seq("band_id", "band_hash")))
      .as[(Long, Timestamp, Seq[Long], Int, Long)]
    banded
      .groupByKey { case (_, _, _, bandId, bandHash) => (bandId, bandHash) }
      .flatMapGroupsWithState[BucketRepTs, DocMatchTs](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (_: (Int, Long), rows: Iterator[(Long, Timestamp, Seq[Long], Int, Long)],
         state: GroupState[BucketRepTs]) =>
          if (state.hasTimedOut) {
            // bucket cold past the horizon: evict its representative
            state.remove()
            Iterator.empty
          } else {
            val arrivals = rows.map { case (id, ts, sig, _, _) =>
              (id, sig, ts) }.toSeq.sortBy(_._1)
            val out = Seq.newBuilder[DocMatchTs]
            var rep = if (state.exists) Some(state.get) else None
            // a stored representative whose last activity is already a full
            // horizon behind the watermark is expired BY CONTRACT even if
            // its timeout has not fired yet — discard it BEFORE matching,
            // so a cold bucket cannot emit one final round of matches
            // against a stale representative when super-late rows reach it
            // (ADVICE r6); the batch's first arrival re-seeds instead
            rep = rep.filter(_.last_seen_ms + horizonMs >
              state.getCurrentWatermarkMs())
            arrivals.foreach { case (id, sig, ts) =>
              val tsMs = ts.getTime
              rep match {
                case None => rep = Some(BucketRepTs(id, sig, tsMs))
                case Some(r) =>
                  if (r.rep_id != id) {
                    val eq = r.sig.iterator.zip(sig.iterator)
                      .count { case (a, b) => a == b }
                    val est = eq.toDouble / r.sig.length
                    if (est >= minSigSim)
                      out += DocMatchTs(id, r.rep_id,
                        math.round(est * 10000) / 10000.0, ts)
                  }
                  // any arrival keeps the bucket warm, matched or not
                  rep = Some(r.copy(last_seen_ms = math.max(r.last_seen_ms, tsMs)))
              }
            }
            rep.foreach { r =>
              // same contract check POST-loop for the re-seeded case: late
              // data re-seeding a cold bucket must not keep a clamped
              // timeout alive one extra trigger and match one more batch
              // than the within-horizon promise allows (ADVICE r5): drop it
              if (r.last_seen_ms + horizonMs <= state.getCurrentWatermarkMs()) {
                if (state.exists) state.remove()
              } else {
                state.update(r)
                // expire when the WATERMARK passes last activity + horizon
                // (must stay above the current watermark or Spark rejects it)
                state.setTimeoutTimestamp(math.max(r.last_seen_ms + horizonMs,
                  state.getCurrentWatermarkMs() + 1))
              }
            }
            out.result().iterator
          }
      }
  }

  /** Exactly-once projection over [[minhashDedupStream]]'s at-least-once
    * match stream: the documented min(dup_of)-per-doc recipe composed INTO
    * the streaming query as a second stateful stage. Per doc_id, the first
    * micro-batch that produces any match emits ONE verdict row — the
    * smallest dup_of among that batch's matches (deterministic: band
    * emission order inside a batch is not) — and a seen-flag in state
    * suppresses every later re-emission, including whole-batch replays.
    * Consumers get at most one row per document, ever. State is one
    * boolean per MATCHED doc (duplicates only, not the corpus) and — like
    * [[minhashDedupStream]]'s bucket state — never expires (NoTimeout):
    * it grows monotonically with the number of distinct duplicates seen.
    * That bounds this variant's use to feeds with NO event-time column
    * (where no watermark can exist) and to finite backfills/tests; the
    * PRODUCTION form for any timestamped feed is
    * [[minhashDedupVerdictsTtl]], where both stages' state is bounded by
    * arrival-rate × horizon. */
  def minhashDedupVerdicts(docs: DataFrame,
      minSigSim: Double = 0.5): Dataset[DocMatch] = {
    val matches = minhashDedupStream(docs, minSigSim)
    import matches.sparkSession.implicits._
    matches
      .groupByKey(_.doc_id)
      .flatMapGroupsWithState[Boolean, DocMatch](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: Long, ms: Iterator[DocMatch], state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else {
            state.update(true)
            Iterator(ms.minBy(m => (m.dup_of, -m.est_jaccard)))
          }
      }
  }

  /** The full production composition for a timestamped feed: TTL'd bucket
    * matching ([[minhashDedupStreamTtl]]) followed by an exactly-once
    * verdict projection whose seen-state ALSO expires on event time — both
    * stateful stages bounded by arrival-rate × horizon. The verdict stage
    * re-watermarks the match stream on the matched doc's event time and
    * registers an EventTimeTimeout per doc at horizonMs past its LATEST
    * match activity — refreshed even when later matches are suppressed,
    * mirroring stage 1's any-activity-keeps-warm rule (ADVICE r5: without
    * the refresh a continuously-matching doc's flag could expire
    * horizonMs after the first verdict and leak a second row). Within the
    * horizon a document gets exactly one verdict row no matter how many
    * band matches or whole-batch replays occur; once its matches go cold
    * the flag expires together with the buckets that produced them (a
    * re-arrival then re-seeds both, consistently). Chained Append-mode
    * flatMapGroupsWithState stages — Spark 4 plans both state stores in
    * one query.
    *
    * Requires `spark.sql.streaming.statefulOperator.checkCorrectness
    * .enabled=false` (set by the CALLER; this method never mutates session
    * conf): Spark's global-watermark check rejects any chain whose first
    * stateful stage can emit rows older than watermark + delay. Here that
    * happens only for a document that itself arrived later than the
    * watermark delay; if stage 2 then discards its late match, the outcome
    * is identical to a standard watermarked streaming dedup dropping the
    * same late document — the late-data contract this pipeline already
    * makes, not a new correctness hole. The spec runs the composition
    * under exactly this setting. */
  def minhashDedupVerdictsTtl(docs: DataFrame, minSigSim: Double = 0.5,
      horizonMs: Long = 3600L * 1000L,
      watermarkDelay: String = "10 minutes"): Dataset[DocMatch] = {
    val matches = minhashDedupStreamTtl(docs, minSigSim, horizonMs, watermarkDelay)
    import matches.sparkSession.implicits._
    matches
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.doc_id)
      .flatMapGroupsWithState[Boolean, DocMatch](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (_: Long, ms: Iterator[DocMatchTs], state: GroupState[Boolean]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else if (state.exists) {
            // suppressed re-matches still KEEP THE FLAG WARM: stage-1
            // buckets refresh on any arrival, so a doc matching at
            // intervals shorter than the horizon keeps producing matches —
            // without this refresh its flag would expire horizonMs after
            // the FIRST verdict and a second verdict row would slip out
            // mid-stream (ADVICE r5). Mirror stage 1's
            // any-activity-keeps-warm rule off this batch's max match ts.
            val tss = ms.map(_.ts.getTime)
            if (tss.nonEmpty)
              state.setTimeoutTimestamp(math.max(tss.max + horizonMs,
                state.getCurrentWatermarkMs() + 1))
            Iterator.empty
          }
          else {
            val all = ms.toSeq
            val best = all.minBy(m => (m.dup_of, -m.est_jaccard))
            state.update(true)
            state.setTimeoutTimestamp(math.max(
              all.map(_.ts.getTime).max + horizonMs,
              state.getCurrentWatermarkMs() + 1))
            Iterator(DocMatch(best.doc_id, best.dup_of, best.est_jaccard))
          }
      }
  }

  // ------------------------------------------------------------ st_user_topk
  /** One entry of a per-user running leaderboard. */
  case class TopItem(value: Double, event_id: Long)

  /** Leaderboard emission: the user's current top-k plus how many events
    * contributed. `n_seen` is strictly increasing per user across batches,
    * so max(n_seen) identifies the final emission without a batch id. */
  case class TopkOut(user_id: Long, rank: Int, event_id: Long,
      value: Double, n_seen: Long)

  /** Per-user running top-k via `transformWithState` (Spark 4's arbitrary-
    * state API, the successor to flatMapGroupsWithState used by sessionize
    * above): a `StatefulProcessor` with typed state primitives — the top-k
    * leaderboard in a `ListState` (stored element-wise in RocksDB; this
    * processor rewrites the whole list each batch via put(), which is fine
    * because the list is bounded at k tiny items — the element-wise layout
    * would only matter at large k) and the contribution counter in a
    * `ValueState`.
    *
    * 100 TB notes: state is ≤ k 16-byte items + one long per user —
    * cardinality-bounded, not stream-length-bounded — and the top-k merge
    * is associative with a deterministic (value DESC, event_id ASC) order,
    * so the final emission per key is arrival-order-independent (the
    * property StreamingSpec asserts against the batch window oracle).
    * `TimeMode.None` — no timers, no watermark requirement; pair with
    * `TTLConfig` on both states when keys churn (the TTL'd-state trade
    * documented on minhashDedupStreamTtl). transformWithState requires the
    * RocksDB state-store provider — the provider a production deployment
    * runs anyway. */
  class TopkProcessor(k: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, TopkOut] {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{ListState, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var top: ListState[TopItem] = _
    @transient private var seen: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      top = getHandle.getListState("topk", Encoders.product[TopItem], TTLConfig.NONE)
      seen = getHandle.getValueState("seen", Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(user: Long, rows: Iterator[Event],
        tv: TimerValues): Iterator[TopkOut] = {
      val incoming = rows.map(e => TopItem(e.value, e.event_id)).toSeq
      val prior = if (top.exists()) top.get().toSeq else Seq.empty
      val merged = (prior ++ incoming)
        .sortBy(t => (-t.value, t.event_id)).take(k)
      top.put(merged.toArray)
      val n = (if (seen.exists()) seen.get() else 0L) + incoming.size
      seen.update(n)
      merged.iterator.zipWithIndex.map { case (t, i) =>
        TopkOut(user, i + 1, t.event_id, t.value, n) }
    }
  }

  /** Streaming per-user top-k leaderboard (update semantics: each batch
    * that touches a user re-emits that user's current top-k). */
  def userTopkStream(events: Dataset[Event], k: Int = 3): Dataset[TopkOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(new TopkProcessor(k),
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
  }

  /** Batch-mode flush of sessionize semantics (for equivalence testing):
    * same splitting logic applied with the stream considered ended. */
  def sessionizeBatch(events: Dataset[Event]): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id).flatMapGroups { (userId, it) =>
      val all = it.map(e => (tsMicros(e.ts), e.event_id, e.value))
        .toSeq.sortBy(t => (t._1, t._2))
      if (all.isEmpty) Iterator.empty
      else {
        val sessions = scala.collection.mutable.ArrayBuffer[Seq[(Long, Long, Double)]]()
        var cur = scala.collection.mutable.ArrayBuffer[(Long, Long, Double)](all.head)
        all.tail.foreach { e =>
          if (e._1 - cur.last._1 > GapUs) { sessions += cur.toSeq; cur = scala.collection.mutable.ArrayBuffer(e) }
          else cur += e
        }
        sessions += cur.toSeq
        sessions.iterator.map { s =>
          SessionOut(userId,
            microsTs(s.head._1), microsTs(s.last._1),
            s.length.toLong, math.round(s.map(_._3).sum * 100.0) / 100.0)
        }
      }
    }
  }
}
