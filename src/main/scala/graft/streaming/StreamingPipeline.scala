package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import graft.config.DataflowConf
import graft.operators.{AddFields, ValidationSplit}
import graft.sinks.Sinks

/** Structured Streaming path — the BASELINE north star the batch-only
  * reference lacks (its Kafka use is a batch producer,
  * `PipelineProcessor.scala:148-156`; no `readStream` anywhere).
  *
  * Design: one `readStream` source → the SAME transform operators as the
  * batch path (AddFields / ValidationSplit are plain `DataFrame =>
  * DataFrame` so they compose into streaming plans unchanged) → a
  * `foreachBatch` fan-out that writes every sink split per micro-batch.
  * `foreachBatch` is the one-scan fan-out: the micro-batch is persisted
  * once and each sink filters it, mirroring the batch runner's cache
  * discipline; checkpointing makes the file sinks effectively exactly-once
  * (idempotent per-batch overwrite by batchId is the standard recipe),
  * Kafka at-least-once like the reference.
  */
object StreamingPipeline {

  /** Kafka source → typed columns. Not exercisable offline (no broker);
    * the code path mirrors the tested file-source path after this
    * projection. */
  def kafkaSource(spark: SparkSession, bootstrapServers: String, topic: String,
                  schema: StructType): DataFrame =
    spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("subscribe", topic)
      .option("startingOffsets", "earliest")
      .load()
      .select(from_json(col("value").cast("string"), schema).as("r"))
      .select(col("r.*"))

  /** File-based streaming source (json/parquet directory).
    *
    * Each micro-batch re-lists its files by path (Spark's
    * `FileStreamSource.getBatch`); above 32 paths it does so in a
    * distributed job, by default with one task per file, so a backlog
    * of 100 files ran 100 tasks that each deserialize the session's
    * Hadoop conf. The source lists with the session it is built on, not
    * the query's, so it is built on a [[graft.Sessions.slotListed]]
    * clone: a listing job runs at most one task per slot. The frame is
    * rebound to `spark`, so the query still starts on the caller's
    * `spark.streams` (its listeners and `active` list). The distributed
    * threshold itself is kept, as raising it would list a backlog
    * serially on the driver. The clone copies the caller's conf as it
    * is at this call, so conf the caller sets between this call and the
    * query's start does not reach how the source lists and splits its
    * files. */
  def fileSource(spark: SparkSession, path: String, format: String,
                 schema: StructType): DataFrame =
    graft.Sessions.slotListed(spark) { s =>
      s.readStream.format(format.toLowerCase).schema(schema).load(path)
    }

  /** Streaming dataflow: validation-split fan-out per micro-batch.
    * Each micro-batch is persisted once (as one partition when it is
    * planned at or below AQE's smallest partition, see
    * [[ValidationSplit]]: then its `deduplicate` runs without a shuffle
    * and each sink path gets one file per batch), and [[Sinks.persist]] submits
    * all of its writes (every sink path, plus every Kafka publish) at
    * once, so `addBatch` takes about as long as the slowest write.
    * `persist` returns only after every write has finished, even when
    * `stop()` interrupts the batch, so no writer of a failed or stopped
    * batch outlives it; the batch's replay after a restart overwrites
    * each `batch=<id>` directory whole (idempotent). A [[fileSource]]
    * lists a backlog's files with at most one task per slot, so a large
    * micro-batch does not pay one listing task per file; the listing
    * stays distributed above Spark's 32-path threshold, which is not
    * raised, as that would list a backlog serially on the driver.
    * Returns the started query (caller awaits/stops). */
  def runDataflow(source: DataFrame, conf: DataflowConf,
                  checkpointDir: String,
                  kafkaServer: Option[String] = None,
                  repartition: Option[Int] = None): StreamingQuery = {
    // SAME wiring as the batch runner — one definition of the
    // add_fields-before-validation contract
    val (fields, rules) = graft.plans.PipelineRunner.stages(conf)
    val post = graft.plans.PipelineRunner.postStages(conf)
    val transformed = AddFields(fields)(source)
    transformed.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val split = ValidationSplit.split(batch, rules)
        try {
          // curation stages apply PER MICRO-BATCH (see applyPost doc);
          // cross-batch dedup is dedupeWithinWatermark's job
          val okCurated = graft.plans.PipelineRunner.applyPost(split.ok, post)
          val splits = Map("ok_with_date" -> okCurated, "validation_ko" -> split.ko)
          // batchSubdir: each micro-batch overwrites its own batch=<id>
          // dir — idempotent under crash-replay (the configured batch
          // saveMode would either wipe prior batches or duplicate rows)
          Sinks.persist(conf.sinks, splits, kafkaServer,
            repartition = repartition, batchSubdir = Some(batchId))
        } finally split.unpersist()
      }
      .start()
  }

  /** Watermarked sliding-window aggregation over an event stream —
    * append-mode-safe (results emitted once the watermark passes). */
  def windowedCounts(events: DataFrame,
                     watermark: String = "10 minutes",
                     window_ : String = "5 minutes",
                     slide: String = "5 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_, slide), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .select(col("window.start").as("w_start"), col("window.end").as("w_end"),
        col("event_type"), col("n"), col("total_value"))

  /** Stream-static enrichment join: each micro-batch of the stream joins
    * a (small) static dimension, explicitly broadcast — the classic
    * ingest-enrichment shape. The dim is read once per micro-batch off
    * its snapshot (Spark re-plans the static side, so slowly-changing
    * dims pick up updates between batches); the stream side never
    * shuffles. `how` = "inner" drops unmatched rows, "left" keeps them
    * with nulls — both stateless, so no watermark is needed. */
  def enrich(stream: DataFrame, dim: DataFrame, keys: Seq[String],
             how: String = "left"): DataFrame =
    stream.join(broadcast(dim), keys, how)

  /** Watermarked stream-stream inner join — e.g. click ⋈ purchase per
    * user within a bounded interval. Both sides buffer state; the TIME
    * BOUND on the join condition plus the watermarks let Spark evict
    * buffered rows once they can no longer match (without the bound,
    * stream-stream state grows forever — the condition is the state-GC
    * contract, not an optimization). Equi-keys shuffle both streams
    * once on the key. */
  def streamStreamJoin(left: DataFrame, right: DataFrame, key: String,
                       leftTime: String, rightTime: String,
                       watermarkDelay: String, joinWindow: String): DataFrame = {
    val l = left.withWatermark(leftTime, watermarkDelay)
    val r = right.withWatermark(rightTime, watermarkDelay)
    l.join(r,
      l(key) === r(key) &&
        r(rightTime) >= l(leftTime) &&
        r(rightTime) <= l(leftTime) + expr(s"INTERVAL $joinWindow"))
      .drop(r(key))
  }

  /** Streaming dedup: drop rows whose `cols` tuple was already seen
    * within the watermark horizon — the ingest-side exact-dedup of a
    * training-data pipeline (state is bounded by the watermark, unlike
    * plain `dropDuplicates` whose key state grows forever). */
  def dedupeWithinWatermark(df: DataFrame, cols: Seq[String],
                            watermarkDelay: String = "1 hour",
                            eventTimeCol: String = "ts"): DataFrame =
    df.withWatermark(eventTimeCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(cols.head, cols.tail: _*)

  final case class NearDupCandidate(doc_id: Long, matched_with: Long, bucket: String)
  /** Per-bucket state: the representative doc + the newest event time
    * ever seen in the bucket (the eviction anchor). */
  final case class BucketRep(rep: Long, newestMs: Long)

  /** Streaming NEAR-dup candidate detection at ingest — the stateful
    * counterpart of the batch MinHash+LSH dedup, possible in a stream
    * precisely because the signature is a per-row codegen'd expression
    * ([[graft.functions.MinHashSig]]): no explode-aggregate, so each
    * micro-batch computes signatures at scan speed, explodes the LSH
    * bands, and keys state by band bucket. Each bucket's state is ONE
    * representative doc_id (the first seen); later docs landing in the
    * bucket emit a candidate pair against it. `EventTimeTimeout` evicts
    * buckets idle past the watermark + `evictAfterMs`, bounding state by
    * the dedup horizon rather than corpus lifetime. A doc pairing with
    * its match in several bands emits one candidate per band — consumers
    * dedupe (and exact-verify) downstream, exactly like the batch LSH
    * verify stage. Input: (doc_id, text, ts). */
  /** Shared banding prelude of the streaming near-dup variants: per-row
    * MinHash signature → exploded LSH band keys, watermarked — the same
    * (band, signature-slice) collision structure as the batch LSH
    * self-join ([[graft.operators.Dedup.minhashLshPairs]]). Carries
    * `_sign` so the stateful operators can distinguish ingest (+1) from
    * erasure (−1) rows; the unsigned entry points adjoin `lit(1)`.
    *
    * EVENT-TIME CONTRACT FOR ERASURES: the watermark filter applies to
    * `_sign = −1` rows exactly as to ingest rows, so an erasure stamped
    * with the ORIGINAL document's (old) event time is silently dropped
    * before the stateful operator — the id stays in bucket state and
    * keeps pairing, with no error. Stamp erase rows with their ARRIVAL
    * time (any ts at or ahead of the current watermark); the erasure
    * request is an event of its own moment, not of the document's.
    * Pinned in StreamingSpec ("late-stamped erasure is dropped"). */
  private def bandedBucketsSigned(docs: DataFrame, watermarkDelay: String) = {
    import docs.sparkSession.implicits._
    import graft.operators.Dedup
    import graft.functions.{MinHashSig, Portable}
    val sig = MinHashSig.minhashSig(col("text"), Portable.ShingleN, Dedup.A, Dedup.B, Portable.P)
    val bandCols = (0 until Dedup.BANDS).map { b =>
      concat_ws("_",
        lit(b) +: (b * Dedup.R until (b + 1) * Dedup.R)
          .map(k => element_at(col("sig"), k + 1)): _*)
    }
    docs
      .select(col("doc_id"), col("ts"), col("_sign").cast("int").as("_sign"),
        sig.as("sig"))
      .filter(element_at(col("sig"), 1) =!= Long.MaxValue)
      .select(col("doc_id"), col("ts"), col("_sign"),
        explode(array(bandCols: _*)).as("bkey"))
      .withWatermark("ts", watermarkDelay)
      .as[(Long, java.sql.Timestamp, Int, String)]
  }

  def streamingNearDupCandidates(docs: DataFrame,
                                 watermarkDelay: String = "1 hour",
                                 evictAfterMs: Long = 3600L * 1000L): DataFrame =
    streamingNearDupCandidatesSigned(
      docs.withColumn("_sign", lit(1)), watermarkDelay, evictAfterMs)

  /** Signed form of the one-representative variant — the rep-store twin
    * of [[streamingNearDupCandidatesAllSigned]]'s state-level erasure:
    * a `_sign = −1` row for the CURRENT representative drops the
    * bucket's state (the next arrival becomes the new rep — nothing
    * else is known about the bucket's past, by design: this variant
    * keeps one id, not a member list); an erase for a non-rep id is a
    * no-op (the id was never in state). Emission rules for `+1` rows
    * are unchanged. */
  def streamingNearDupCandidatesSigned(docs: DataFrame,
                                       watermarkDelay: String = "1 hour",
                                       evictAfterMs: Long = 3600L * 1000L): DataFrame = {
    import docs.sparkSession.implicits._
    val banded = bandedBucketsSigned(docs, watermarkDelay)
    banded.groupByKey(_._4)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (bkey: String, rows: Iterator[(Long, java.sql.Timestamp, Int, String)],
         state: GroupState[BucketRep]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val sorted = rows.toSeq.sortBy(r => (r._2.getTime, r._1))
            var rep = state.getOption.map(_.rep)
            val out = Seq.newBuilder[NearDupCandidate]
            sorted.foreach { case (id, _, sign, _) =>
              if (sign < 0) {
                // state-level erasure: only the rep is state; dropping
                // it lets the next arrival take over. Idempotent.
                if (rep.contains(id)) rep = None
              } else rep match {
                // id != r guards at-least-once redelivery of the
                // representative itself (a self-pair would pass any
                // downstream exact-verify with similarity 1.0)
                case Some(r) => if (id != r) out += NearDupCandidate(id, r, bkey)
                case None    => rep = Some(id)
              }
            }
            rep match {
              case Some(r) =>
                // armed from the newest event time EVER SEEN in the
                // bucket, not this batch's max: a late-but-in-watermark
                // batch of older rows must not shrink the eviction
                // horizon. Never from the watermark itself (0 in the
                // first batch, which would evict the bucket as soon as
                // the real one appears).
                val newest = math.max(
                  state.getOption.map(_.newestMs).getOrElse(Long.MinValue),
                  sorted.last._2.getTime)
                state.update(BucketRep(r, newest))
                state.setTimeoutTimestamp(newest + evictAfterMs)
              case None => if (state.exists) state.remove()
            }
            out.result().iterator
          }
      }
      .toDF()
  }

  /** Per-bucket state of [[streamingNearDupCandidatesAll]]: every member
    * doc id inside the eviction horizon + the newest event time seen. */
  final case class BucketMembers(ids: List[Long], newestMs: Long)

  /** BATCH-EQUIVALENT streaming near-dup candidates: where
    * [[streamingNearDupCandidates]] keeps one representative per bucket
    * (the cheapest ingest-dedup shape — later arrivals pair only against
    * the rep), this keeps EVERY bucket member inside the eviction
    * horizon and pairs each arriving doc against all of them (and
    * against earlier rows of its own micro-batch), so a pair is
    * emitted iff the two docs collide in ≥1 band — exactly the batch
    * LSH self-join's candidate condition. Replaying a corpus through
    * this variant therefore reproduces
    * [[graft.operators.Dedup.minhashLshPairs]] bit-for-bit after the
    * shared verify stage, which is what lets the driver hash-gate the
    * streaming pipeline against the SAME DuckDB oracle as the batch
    * path ([[StreamingGates.streamNearDup]]).
    *
    * State is bounded by per-bucket LSH occupancy within the horizon —
    * the same bound the batch self-join's bucket sizes obey (banding
    * keeps buckets small by construction; a hot bucket is a data-skew
    * smell in both worlds). Emission orientation is (arriving doc,
    * existing member); a pair colliding in several bands emits once per
    * band, and the verify stage's `distinct()` collapses them —
    * identical to the batch candidate `distinct()`. */
  def streamingNearDupCandidatesAll(docs: DataFrame,
                                    watermarkDelay: String = "1 hour",
                                    evictAfterMs: Long = 3600L * 1000L): DataFrame =
    streamingNearDupCandidatesAllSigned(
      docs.withColumn("_sign", lit(1)), watermarkDelay, evictAfterMs)

  /** [[streamingNearDupCandidatesAll]] for a SIGNED document stream —
    * the STATE-level half of near-dup erasure: a `_sign = −1` doc's
    * band keys are recomputed from the text the erasure request
    * carries (identical banding → the same buckets its ingest
    * touched), and in each bucket the id is REMOVED from the member
    * list, emitting nothing. Later arrivals therefore no longer pair
    * against the erased doc AT ALL — no candidate is emitted, nothing
    * parks in the verify backlog, and the operator's checkpointed
    * state stops naming the id (without this, bucket members retain
    * erased ids until watermark eviction, and every post-erase
    * near-dup of forgotten text generates candidate traffic that can
    * only die in `_pending`). Erasure inherits exactly-once from the
    * checkpoint like every signed stream here. At-least-once
    * re-delivery of an erase is a no-op (id already absent); a bucket
    * emptied by erasure drops its state entirely. Contract as ever:
    * erased ids never re-arrive with `_sign = +1`. */
  def streamingNearDupCandidatesAllSigned(docs: DataFrame,
                                          watermarkDelay: String = "1 hour",
                                          evictAfterMs: Long = 3600L * 1000L): DataFrame = {
    import docs.sparkSession.implicits._
    val banded = bandedBucketsSigned(docs, watermarkDelay)
    banded.groupByKey(_._4)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (bkey: String, rows: Iterator[(Long, java.sql.Timestamp, Int, String)],
         state: GroupState[BucketMembers]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val sorted = rows.toSeq.sortBy(r => (r._2.getTime, r._1))
            var members = state.getOption.map(_.ids).getOrElse(Nil)
            val out = Seq.newBuilder[NearDupCandidate]
            sorted.foreach { case (id, _, sign, _) =>
              if (sign < 0)
                // state-level erasure; idempotent under re-delivery
                members = members.filterNot(_ == id)
              // membership test guards at-least-once redelivery (a
              // re-delivered member must not pair against itself or
              // re-emit its pairs); O(occupancy) per row, and occupancy
              // is the bounded LSH bucket size
              else if (!members.contains(id)) {
                members.foreach(m => out += NearDupCandidate(id, m, bkey))
                members = id :: members
              }
            }
            if (members.nonEmpty) {
              val newest = math.max(
                state.getOption.map(_.newestMs).getOrElse(Long.MinValue),
                sorted.last._2.getTime)
              state.update(BucketMembers(members, newest))
              state.setTimeoutTimestamp(newest + evictAfterMs)
            } else if (state.exists) state.remove()
            out.result().iterator
          }
      }
      .toDF()
  }

  /** [[streamingNearDupCandidatesAllSigned]] re-expressed on Spark 4's
    * `transformWithState` — the PROBE the r12 verdict asked for, kept
    * alongside (not replacing) the flatMapGroupsWithState production
    * operator. What the new API buys at 100 TB: NAMED state variables
    * (the member list and the eviction anchor are separate stores, so
    * adding a variable later is a state-schema evolution, not a case-
    * class migration), native timers (delete + re-register instead of
    * the single implicit timeout slot), and the operator-state schema
    * evolution/TTL machinery. What it costs, measured (SCALING.md):
    * transformWithState REQUIRES the RocksDB state-store provider,
    * whose per-partition × per-batch native spin-up dominates at gate
    * scale — the same measured reason the other stateful gates stay on
    * the default provider. Semantics are pinned EQUAL to the fMGWS
    * operator in StreamingSpec (same replay, bit-equal candidate set,
    * including the signed-erasure fold); the production entry points
    * stay fMGWS until state size — not wall clock — forces RocksDB
    * anyway, at which point this is the drop-in. */
  def streamingNearDupCandidatesAllSignedTws(docs: DataFrame,
                                             watermarkDelay: String = "1 hour",
                                             evictAfterMs: Long = 3600L * 1000L): DataFrame = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{TimeMode, TTLConfig, TimerValues, ExpiredTimerInfo, StatefulProcessor}
    val banded = bandedBucketsSigned(docs, watermarkDelay)
    val processor = new StatefulProcessor[
        String, (Long, java.sql.Timestamp, Int, String), NearDupCandidate] {
      @transient private var members: org.apache.spark.sql.streaming.ListState[Long] = _
      @transient private var newest: org.apache.spark.sql.streaming.ValueState[Long] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
        members = getHandle.getListState[Long]("members",
          org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
        newest = getHandle.getValueState[Long]("newest",
          org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
      }
      override def handleInputRows(bkey: String,
          rows: Iterator[(Long, java.sql.Timestamp, Int, String)],
          timerValues: TimerValues): Iterator[NearDupCandidate] = {
        val sorted = rows.toSeq.sortBy(r => (r._2.getTime, r._1))
        var cur = if (members.exists()) members.get().toList else Nil
        val out = Seq.newBuilder[NearDupCandidate]
        sorted.foreach { case (id, _, sign, _) =>
          if (sign < 0) cur = cur.filterNot(_ == id)
          else if (!cur.contains(id)) {
            cur.foreach(m => out += NearDupCandidate(id, m, bkey))
            cur = id :: cur
          }
        }
        val prevNewest = if (newest.exists()) Some(newest.get()) else None
        if (cur.nonEmpty) {
          val n = math.max(prevNewest.getOrElse(Long.MinValue),
            sorted.last._2.getTime)
          members.put(cur.toArray)
          newest.update(n)
          // native timers have no implicit single slot — retire the
          // previous registration explicitly, then arm the new horizon
          prevNewest.filter(_ != n)
            .foreach(p => getHandle.deleteTimer(p + evictAfterMs))
          getHandle.registerTimer(n + evictAfterMs)
        } else {
          members.clear(); newest.clear()
          prevNewest.foreach(p => getHandle.deleteTimer(p + evictAfterMs))
        }
        out.result().iterator
      }
      override def handleExpiredTimer(bkey: String, timerValues: TimerValues,
          expired: ExpiredTimerInfo): Iterator[NearDupCandidate] = {
        members.clear(); newest.clear()
        Iterator.empty
      }
    }
    banded.groupByKey(_._4)
      .transformWithState(processor, TimeMode.EventTime(), OutputMode.Append())
      .toDF()
  }

  /** Ingest-side shingle-hash store: every micro-batch writes the
    * (doc_id, h) hashed-shingle relation as a `b<batchId>` delta dir —
    * the document store the verify stage joins candidates against.
    * Stored hashes are 8-byte longs, never bodies (same rule as the
    * batch dedup family).
    *
    * Delta dirs, not a streaming FILE SINK (the pre-r12 form): the file
    * sink's `_spark_metadata` transaction log makes the directory
    * unrewritable — a right-to-be-forgotten rewrite would either be
    * invisible (log still lists the old files) or wreck the log, and a
    * restarted sink would then serve ONLY its own new files. As a
    * standard delta family the store gets [[compactDeltas]],
    * [[contentsExcludingTombstones]] and the erasure fold for free,
    * with the same crash argument as every other store here (idempotent
    * per-batch overwrite + checkpoint = effective exactly-once). Serve
    * with [[shingleStoreContents]]. */
  def startShingleStore(docs: DataFrame, storeDir: String,
                        checkpointDir: String): StreamingQuery = {
    import graft.functions.{NgramHash60s, Portable}
    docs.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch
          .select(col("doc_id"),
            explode(NgramHash60s.shingleHashes(
              col("text"), Portable.ShingleN, modP = Portable.P)).as("h"))
          .write.mode("overwrite").parquet(s"$storeDir/b$batchId")
      }
      .start()
  }

  /** Serving read of the shingle store (snapshot + later deltas),
    * `.distinct()`-ed: at-least-once upstream delivery can hand a doc
    * to two different batches, and doubled (doc_id, h) rows would
    * double both n_shingles and n_common, inflating jaccard. */
  def shingleStoreContents(spark: SparkSession, storeDir: String): DataFrame =
    storeContents(spark, storeDir, "doc_id BIGINT, h BIGINT").distinct()

  /** Ingest-side SEARCH-INDEX maintenance: every document micro-batch
    * appends its own postings delta (term, doc_id, tf — one
    * tokenize-explode-aggregate over the batch only) and doc-length
    * delta to the index store. Because postings rows are per-doc facts,
    * append-only ingest needs no merge pass — the served index at any
    * moment is the UNION of deltas, and a probe over it is bit-equal to
    * an index built from scratch over every doc ingested so far (the
    * `stream_bm25` gate proves exactly that through the from-scratch
    * oracle). df/N statistics are computed at probe time from the
    * postings themselves ([[graft.operators.Search.bm25Rank]]), so no
    * global statistic ever needs streaming maintenance. The per-batch
    * tf aggregate runs INSIDE foreachBatch (a bounded batch aggregate —
    * as a stream-level groupBy it would be an unbounded stateful agg,
    * unsupported and wrong); writes are idempotent per-batch dirs, so
    * checkpoint + versioned write = effective exactly-once, the
    * [[startSubstringDedupStore]] crash argument. Serve the index with
    * [[storeContents]] (snapshot + later deltas), and sweep `postings/`
    * and `lens/` with [[compactDeltas]] on a long-running stream so the
    * probe-time read lists O(recent deltas), not O(#batches) — the
    * `stream_bm25` gate probes across such a sweep. */
  def startSearchIndexStore(docs: DataFrame, indexDir: String,
                            checkpointDir: String): StreamingQuery = {
    stampFamilies(docs.sparkSession, indexDir, Seq("postings", "lens"))
    docs.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val b = batch.localCheckpoint(true)
        try {
          graft.operators.Search.termDocs(b)
            .write.mode("overwrite").parquet(s"$indexDir/postings/b$batchId")
          b.select(col("doc_id"),
              size(graft.functions.Portable.words(col("text"))).as("n_words"))
            .write.mode("overwrite").parquet(s"$indexDir/lens/b$batchId")
        } finally graft.Caches.freeCheckpoint(b)
      }
      .start()
  }

  /** Streaming heavy-hitter maintenance: one shuffle-free Misra-Gries
    * summary PER MICRO-BATCH ([[graft.operators.HeavyHitters.mgSummary]]
    * — a <= capacity map per batch), written as `b<batchId>` delta dirs:
    * `sketch/` holds the batch's (w, cnt) residual counters, `totals/`
    * its exact token count. Nothing corpus-shaped is ever kept in
    * stream state — the long tail (billions of distinct tokens at
    * 100 TB) never leaves the executors, in any batch.
    *
    * Why the union of per-batch summaries is a sound candidate set
    * (Agarwal et al., "Mergeable Summaries", PODS'12): each batch's MG
    * summary underestimates any word by at most N_b/(capacity+1) and
    * KEEPS every word with batch frequency above that. If a word's
    * global count exceeds N/(capacity+1) = Σ_b N_b/(capacity+1), then
    * by averaging some batch has freq_b > N_b/(capacity+1), so the word
    * survives that batch's sketch and the union contains it. Serving
    * with report threshold N/denom therefore stays EXACT whenever
    * capacity >= denom, the same bound as the batch operator — the
    * sketch only prunes, the exact verify pass decides
    * ([[graft.operators.HeavyHitters.exactVerify]] over the lake,
    * filtered to the <= capacity × #batches candidate words).
    *
    * Both families are per-batch additive facts, so [[compactDeltas]]'s
    * plain-union fold applies verbatim (snapshot ∪ later deltas ≡
    * union-of-all-deltas — candidates are DISTINCT w, totals are
    * SUM(total), both union-insensitive); the `stream_heavy_hitters`
    * gate replays across a mid-stream sweep at a restart boundary.
    * Writes are idempotent per-batch overwrites, so checkpoint +
    * versioned write = effective exactly-once (the
    * [[startSubstringDedupStore]] crash argument). */
  def startHeavyHitterStore(docs: DataFrame, storeDir: String,
                            checkpointDir: String, capacity: Int): StreamingQuery = {
    stampFamilies(docs.sparkSession, storeDir, Seq("sketch", "totals"))
    docs.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        import spark.implicits._
        val b = batch.localCheckpoint(true)
        try {
          val s = graft.operators.HeavyHitters.mgSummary(b, "text", capacity)
          s.counts.toSeq.toDF("w", "cnt").coalesce(1)
            .write.mode("overwrite").parquet(s"$storeDir/sketch/b$batchId")
          Seq(s.total).toDF("total").coalesce(1)
            .write.mode("overwrite").parquet(s"$storeDir/totals/b$batchId")
        } finally graft.Caches.freeCheckpoint(b)
      }
      .start()
  }

  /** [[startHeavyHitterStore]] for a SIGNED document stream — the
    * erasure story for the LAST streaming store family without one. A
    * Misra-Gries residual is NOT invertible (compress events discard
    * weight irrecoverably), so erasure here is split by what each half
    * of the candidates-then-verify shape needs:
    *
    *   - CANDIDATES only prune — an erased doc's words staying in the
    *     stored sketches is harmless (the survivor-exact verify kills
    *     anything no longer heavy), and SOUND as long as the capacity
    *     headroom covers the erased mass: a survivor-heavy word has
    *     f_surv > N_surv/denom ≤ f_tot, and the per-batch sketches
    *     guarantee every word with f_tot > N_gross/(capacity+1) is a
    *     candidate — so candidates stay a superset of the survivor
    *     heavy hitters whenever (capacity+1)·N_surv ≥ denom·N_gross
    *     (with the gate's capacity 4000 vs denom 1000: up to ~75% of
    *     the corpus erased). The serve path must CHECK that inequality
    *     and refuse past it (re-sketch the survivors then) — the gate
    *     does, loudly.
    *   - the THRESHOLD's token mass must shift exactly: a `_sign = −1`
    *     doc contributes NO sketch rows and a NEGATIVE total (its exact
    *     token count, same tokenization as the sketch fold), so the
    *     additive totals family nets to the SURVIVOR mass — integer
    *     arithmetic, not sketch estimate, hence exact. A batch carrying
    *     BOTH signs writes TWO totals rows — `+insert mass` and
    *     `−erased mass`, never one netted row — because the serving
    *     headroom check reconstructs GROSS as the sum of positive rows:
    *     a netted mixed row would undercount gross and let the
    *     soundness refusal pass when it should refuse.
    *
    * Both families stay additive per-batch facts, so [[compactDeltas]]'s
    * plain-union fold applies verbatim (rows are preserved, so the
    * gross/net split — gross = positive rows, net = all rows — survives
    * compaction). Crash safety unchanged: idempotent per-batch
    * overwrites, replay recomputes the same deltas. */
  def startSignedHeavyHitterStore(docs: DataFrame, storeDir: String,
                                  checkpointDir: String,
                                  capacity: Int): StreamingQuery = {
    stampFamilies(docs.sparkSession, storeDir, Seq("sketch", "totals"))
    docs.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        import spark.implicits._
        val b = batch.localCheckpoint(true)
        try {
          val ins = b.filter(col("_sign") === 1).drop("_sign")
          val ers = b.filter(col("_sign") === -1).drop("_sign")
          val s = graft.operators.HeavyHitters.mgSummary(ins, "text", capacity)
          // exact token mass of the erased docs, same split-on-space
          // tokenization as the sketch fold (Portable.words ≡ addDoc)
          val erasedRow = ers
            .select(sum(size(graft.functions.Portable.words(col("text"))))
              .cast("long"))
            .head()
          val erased = if (erasedRow.isNullAt(0)) 0L else erasedRow.getLong(0)
          s.counts.toSeq.toDF("w", "cnt").coalesce(1)
            .write.mode("overwrite").parquet(s"$storeDir/sketch/b$batchId")
          // signs kept as separate rows (see scaladoc): gross = Σ
          // positive rows must hold exactly across mixed batches
          (s.total +: (if (erased > 0L) Seq(-erased) else Nil))
            .toDF("total").coalesce(1)
            .write.mode("overwrite").parquet(s"$storeDir/totals/b$batchId")
        } finally graft.Caches.freeCheckpoint(b)
      }
      .start()
  }

  /** Streaming entity-resolution ingest: maintain the deletion-variant
    * blocking index ([[graft.operators.EntityResolution.variantHashes]])
    * across micro-batches and match each NEW batch against everything
    * seen so far — prior batches via the persisted index, the batch
    * against itself directly — so arriving records link to the full
    * history without ever re-blocking it (per-batch work ∝ batch
    * variants ⋈ index collisions, never |history|²). Per batch:
    * write the batch's (id, variant-hash) rows and (id, name) rows as
    * `b<batchId>` delta dirs (idempotent overwrite), join the batch's
    * variants against the strictly-prior index (both orders, normalized
    * least/greatest) plus itself (id_a < id_b), dedup, then
    * exact-levenshtein verify with names joined back by id only
    * ([[graft.operators.EntityResolution.verifyPairs]] — the SAME
    * verify as the batch path, so stream ≡ batch by construction).
    * Every pair lands exactly once, in the batch where its LATER member
    * arrives: a crash-replayed batch rewrites its own three dirs and
    * reads the index strictly below its id (the
    * [[startCdcSnapshotStore]] crash argument), so checkpoint +
    * versioned overwrite = effective exactly-once.
    *
    * Input contract: ids are append-only and UNIQUE across the stream's
    * lifetime (the same append-only contract the CDC stores state for
    * `_seq`). An id re-arriving in a later batch would hold TWO name
    * rows in `priorN ∪ batch`, and `verifyPairs`' id joins would fan out
    * into duplicate/contradictory pairs — dedup re-deliveries upstream,
    * or key the entity feed by (id, version) before ingest.
    *
    * Long-running streams: run [[compactDeltas]] on `variants/` and
    * `names/` periodically (quiesced, committed batches only) — without
    * a sweep the per-batch `deltasBelow` read lists O(#batches) delta
    * dirs, the small-files failure; the `stream_er` gate replays ACROSS
    * such a sweep. */
  def startErPairStore(rows: DataFrame, storeDir: String,
                       checkpointDir: String, maxDist: Int): StreamingQuery = {
    // stamp the COMPLETE family set up front: the composed erasure
    // refuses any delete call that does not cover all of them
    stampFamilies(rows.sparkSession, storeDir, Seq("variants", "names", "pairs"))
    rows.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val b = batch.localCheckpoint(true)
        try {
          // stamp (or check) the variant-hash family BEFORE touching the
          // store: a kernel change across builds must refuse loudly, not
          // silently stop matching prior batches (see [[ErVariantFormat]])
          ensureFormat(spark, s"$storeDir/variants", ErVariantFormat)
          val vb = graft.operators.EntityResolution
            .variantHashes(b, "id", "name", maxDist).localCheckpoint(true)
          try {
            vb.write.mode("overwrite").parquet(s"$storeDir/variants/b$batchId")
            b.select(col("id"), col("name"))
              .write.mode("overwrite").parquet(s"$storeDir/names/b$batchId")
            val priorV = deltasBelow(spark, s"$storeDir/variants",
              "id BIGINT, variant BIGINT", batchId)
            val priorN = deltasBelow(spark, s"$storeDir/names",
              "id BIGINT, name STRING", batchId)
            val newOld = vb
              .join(priorV.select(col("id").as("oid"), col("variant")), "variant")
              .select(least(col("id"), col("oid")).as("id_a"),
                greatest(col("id"), col("oid")).as("id_b"))
            val newNew = vb.select(col("id").as("id_a"), col("variant"))
              .join(vb.select(col("id").as("id_b"), col("variant")), "variant")
              .filter(col("id_a") < col("id_b"))
              .select(col("id_a"), col("id_b"))
            val candidates = newOld.union(newNew).distinct()
            val names = priorN.union(b.select(col("id"), col("name")))
            graft.operators.EntityResolution
              .verifyPairs(candidates, names, maxDist)
              .write.mode("overwrite").parquet(s"$storeDir/pairs/b$batchId")
          } finally graft.Caches.freeCheckpoint(vb)
        } finally graft.Caches.freeCheckpoint(b)
      }
      .start()
  }

  /** Streaming ANN near-dup ingest — the embedding-space twin of
    * [[startErPairStore]]: maintain the hyperplane band index
    * ([[graft.operators.Similarity.banded]], flat (tbl, bucket) key)
    * across micro-batches and emit every cosine-near-dup pair exactly
    * once, in the batch where its LATER member arrives. Per batch: band
    * ONLY the new vectors and write their (vec_id, band_key) rows plus
    * the vectors themselves as `b<batchId>` delta dirs (idempotent
    * overwrite — the [[graft.operators.AnnIndex.appendVectors]] "band
    * only the append" economics, with versioned dirs standing in for
    * the bucketed-table append so crash replay stays isolated); join the
    * batch's bands against the strictly-prior index (normalized
    * least/greatest) plus itself (id_a < id_b), dedup, then the SAME
    * exact-cosine verify as the batch operator
    * ([[graft.operators.Similarity.verifyCandidatePairs]]) over stored ∪
    * batch vectors.
    *
    * Union of all batches' pairs ≡ the full-corpus band self-join:
    * threshold queries are APPEND-MONOTONE (a pair's membership never
    * changes once both members arrived), which is exactly why this gate
    * exists for near-dup and deliberately NOT for the k-NN graph — a
    * node's top-k is revised by every later arrival, so a streamed
    * top-k would need retraction, not append.
    *
    * Same input contract and compaction posture as [[startErPairStore]]:
    * vec_ids append-only unique; sweep `bands/` and `vectors/` with
    * [[compactDeltas]] on a long-running stream (the `stream_ann_neardup`
    * gate replays across such a sweep). */
  def startAnnPairStore(vectors: DataFrame, storeDir: String,
                        checkpointDir: String): StreamingQuery =
    startAnnPairStoreImpl(vectors, storeDir, checkpointDir,
      graft.operators.Similarity.NEARDUP_PLANES, AnnBandFormat)

  /** AUTO-geometry variant of [[startAnnPairStore]] — the production
    * entry point, closing the last superlinear law the pinned store
    * carried (measured 8.6–9.1× @30×, SCALING.md): the plane count is
    * derived from the expected corpus size at STORE CREATION
    * ([[graft.operators.Similarity.autoPlanes]] — exactly
    * [[graft.operators.AnnIndex.buildNearDupIndexAuto]]'s sizing, which
    * holds per-bucket occupancy and therefore candidate density ~linear
    * in n) and STAMPED INTO THE STORE'S FORMAT MARKER, so every later
    * writer — appends, restarts, other sessions — recovers the same
    * geometry from disk and a build presenting a different one is
    * refused loudly (the [[ensureFormat]] posture; band keys from two
    * plane counts silently never collide, which is missing pairs, not
    * an error).
    *
    * If the store already exists, `corpusRows` is IGNORED in favor of
    * the stamped geometry — restarting the stream with a stale estimate
    * must not fork the store. For long-lived streams whose history
    * outgrows the creation-time estimate, re-derive at a compaction
    * boundary with [[rebandAnnStore]] (quiesced; rebuilds the band
    * family under the new geometry and restamps the marker). */
  def startAnnPairStoreAuto(vectors: DataFrame, storeDir: String,
                            checkpointDir: String,
                            corpusRows: Long): StreamingQuery = {
    val spark = vectors.sparkSession
    val planes = annStorePlanes(spark, storeDir).getOrElse(
      graft.operators.Similarity.autoPlanes(corpusRows))
    startAnnPairStoreImpl(vectors, storeDir, checkpointDir,
      planes, autoAnnBandFormat(planes))
  }

  private def startAnnPairStoreImpl(vectors: DataFrame, storeDir: String,
                                    checkpointDir: String, planes: Int,
                                    format: String): StreamingQuery = {
    stampFamilies(vectors.sparkSession, storeDir,
      Seq("bands", "vectors", "pairs"))
    vectors.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val b = batch.localCheckpoint(true)
        try {
          import graft.operators.Similarity
          // same loud hash-family refusal as the ER variant store: band
          // keys are outputs of the hyperplane sign family — and for the
          // auto store the marker also pins the PLANE COUNT, so appends
          // under a different geometry refuse instead of silently never
          // colliding with stored bands
          ensureFormat(spark, s"$storeDir/bands", format)
          val signs =
            if (Similarity.NEARDUP_TABLES * planes <= Similarity.MaxPlanes)
              Similarity.planeSigns
            else Similarity.mkSigns(Similarity.NEARDUP_TABLES * planes)
          val bands = Similarity
            .banded(b, Similarity.NEARDUP_TABLES, planes, signs)
            .select(col("vec_id"), bandKey(planes))
            .localCheckpoint(true)
          try {
            bands.write.mode("overwrite").parquet(s"$storeDir/bands/b$batchId")
            b.select(col("vec_id"), col("embedding"))
              .write.mode("overwrite").parquet(s"$storeDir/vectors/b$batchId")
            val priorB = deltasBelow(spark, s"$storeDir/bands",
              AnnBandSchema, batchId)
            val priorV = deltasBelow(spark, s"$storeDir/vectors",
              "vec_id BIGINT, embedding ARRAY<FLOAT>", batchId)
            val newOld = bands
              .join(priorB.select(col("vec_id").as("oid"), col("band_key")),
                "band_key")
              .select(least(col("vec_id"), col("oid")).as("id_a"),
                greatest(col("vec_id"), col("oid")).as("id_b"))
            val newNew = bands.select(col("vec_id").as("id_a"), col("band_key"))
              .join(bands.select(col("vec_id").as("id_b"), col("band_key")),
                "band_key")
              .filter(col("id_a") < col("id_b"))
              .select(col("id_a"), col("id_b"))
            val candidates = newOld.union(newNew).distinct()
            val e = priorV.union(b.select(col("vec_id"), col("embedding")))
            Similarity.verifyCandidatePairs(e, candidates)
              .write.mode("overwrite").parquet(s"$storeDir/pairs/b$batchId")
          } finally graft.Caches.freeCheckpoint(bands)
        } finally graft.Caches.freeCheckpoint(b)
      }
      .start()
  }

  /** Flat band key (tbl, bucket) → one BIGINT — long arithmetic, because
    * auto-derived plane counts can exceed the 31-bit shift the pinned
    * store's int packing allowed. */
  private def bandKey(planes: Int) =
    (col("tbl").cast("long") * (1L << planes) + col("bucket")).as("band_key")

  /** DDL of the band family (shared by both geometries). */
  val AnnBandSchema = "vec_id BIGINT, band_key BIGINT"

  /** Format string of the AUTO store: the pinned hash-family stamp plus
    * the derived geometry — one string, so [[ensureFormat]]'s exact
    * compare refuses BOTH a hash-family change and a plane-count
    * mismatch with the same loud error. */
  private[streaming] def autoAnnBandFormat(planes: Int): String =
    s"$AnnBandFormat;tables=${graft.operators.Similarity.NEARDUP_TABLES};planes=$planes"

  /** The plane count stamped in an AUTO store's format marker, if the
    * store exists and was created by [[startAnnPairStoreAuto]]. A
    * PINNED-format store returns None — callers must not silently
    * reinterpret it as auto. */
  def annStorePlanes(spark: SparkSession, storeDir: String): Option[Int] =
    readFormat(spark, s"$storeDir/bands").flatMap { f =>
      "planes=(\\d+)".r.findFirstMatchIn(f).map(_.group(1).toInt)
    }

  /** RE-BAND a quiesced auto store at a compaction boundary: when the
    * ingested history has outgrown the creation-time estimate (the
    * stamped plane count is stale by ≥1 —
    * [[graft.operators.AnnIndex.shouldRebuild]]'s law), rebuild the band
    * family from the VECTORS family under the newly-derived geometry and
    * restamp the marker, so per-bucket occupancy returns to the target
    * and candidate density stays linear. The rebuild is published as the
    * band family's `v=uptoVersion` snapshot through the same staged
    * atomic publish as [[compactDeltas]] (vectors are the durable truth;
    * bands are derived state, so recomputing them IS their fold), and
    * already-emitted pairs need no retraction — near-dup emission is
    * append-monotone and banding only generates candidates, the exact
    * cosine decides. Returns the new plane count (== the old one when
    * occupancy has not drifted a full plane — then nothing is touched).
    *
    * Contract: run while the stream is STOPPED at a checkpoint-committed
    * boundary `uptoVersion` (the [[compactDeltas]] contract — the
    * restarted stream recovers the new geometry from the marker). */
  def rebandAnnStore(spark: SparkSession, storeDir: String,
                     uptoVersion: Long): Int =
   MaintenanceLease.withLease(spark, storeDir) {
    import graft.operators.Similarity
    val cur = annStorePlanes(spark, storeDir).getOrElse(
      throw new IllegalArgumentException(
        s"$storeDir/bands carries no auto geometry stamp — only stores " +
          "created by startAnnPairStoreAuto can re-band"))
    val vectors = storeContents(spark, s"$storeDir/vectors",
      "vec_id BIGINT, embedding ARRAY<FLOAT>")
    val planes = Similarity.autoPlanes(vectors.count())
    if (planes != cur) {
      val signs =
        if (Similarity.NEARDUP_TABLES * planes <= Similarity.MaxPlanes)
          Similarity.planeSigns
        else Similarity.mkSigns(Similarity.NEARDUP_TABLES * planes)
      val rebanded = Similarity
        .banded(vectors, Similarity.NEARDUP_TABLES, planes, signs)
        .select(col("vec_id"), bandKey(planes))
      publishSnapshot(spark, s"$storeDir/bands", rebanded, uptoVersion)
      recoverStore(spark, s"$storeDir/bands", Some(uptoVersion))
      writeFormat(spark, s"$storeDir/bands", autoAnnBandFormat(planes))
      // fold the vectors family to the same boundary so both families'
      // per-batch reads stay O(recent deltas) after the re-band sweep
      compactDeltas(spark, s"$storeDir/vectors",
        "vec_id BIGINT, embedding ARRAY<FLOAT>", uptoVersion)
    }
    planes
   }

  /** THE maintenance sweep of an auto-geometry ANN pair store — the
    * one call an operator schedules, so occupancy drift triggers the
    * re-band WITHOUT anyone remembering [[rebandAnnStore]] exists:
    * folds the `vectors` and `pairs` families to the boundary
    * ([[compactDeltas]] — per-batch reads stay O(recent deltas)), then
    * re-derives the geometry from the folded corpus count and, when the
    * stamped plane count is stale by ≥1
    * ([[graft.operators.AnnIndex.shouldRebuild]]'s law — growth only;
    * erasure-driven shrinkage never re-bands, banding smaller is a
    * policy choice, not maintenance), rebuilds the band family under
    * the new geometry and restamps the marker; otherwise just compacts
    * the bands too. Same contract as every sweep here: run quiesced at
    * a checkpoint-committed boundary. Returns the (possibly new) plane
    * count. The `stream_ann_neardup_auto` gate runs its mid-stream
    * boundary through THIS sweep, so sweep-neutrality (no drift → plain
    * compaction, identical serving) is oracle-hashed; the drift branch
    * is pinned in StreamingSpec against a fresh build. */
  def sweepAnnStore(spark: SparkSession, storeDir: String,
                    uptoVersion: Long): Int =
   // root lease across the 3-family fold + possible re-band, so a
   // double-scheduled sweep cannot re-band over a half-folded store
   MaintenanceLease.withLease(spark, storeDir) {
    val cur = annStorePlanes(spark, storeDir).getOrElse(
      throw new IllegalArgumentException(
        s"$storeDir/bands carries no auto geometry stamp — only stores " +
          "created by startAnnPairStoreAuto take this sweep"))
    compactDeltas(spark, s"$storeDir/vectors",
      "vec_id BIGINT, embedding ARRAY<FLOAT>", uptoVersion)
    compactDeltas(spark, s"$storeDir/pairs",
      "id_a BIGINT, id_b BIGINT, cosine DOUBLE", uptoVersion)
    val n = storeContents(spark, s"$storeDir/vectors",
      "vec_id BIGINT, embedding ARRAY<FLOAT>").count()
    if (graft.operators.Similarity.autoPlanes(n) > cur)
      rebandAnnStore(spark, storeDir, uptoVersion)
    else {
      compactDeltas(spark, s"$storeDir/bands", AnnBandSchema, uptoVersion)
      cur
    }
   }

  /** Version-dir name patterns of the delta stores: `b<id>` per-batch
    * deltas and `v=<id>` compaction snapshots (a snapshot holds the fold
    * of every delta with id ≤ its own). Strict integer parse — sibling
    * dirs like `pairs` or an underscore-prefixed staging dir never
    * match. */
  private[streaming] val DeltaName = "^b(\\d+)$".r
  private[streaming] val SnapshotName = "^v=(-?\\d+)$".r

  /** Versioned subdirectories of `dir` via Hadoop FileSystem —
    * path-scheme aware, unlike a `java.io.File` listing, which on a
    * non-local (or mistyped) store path returns nothing and is
    * indistinguishable from the legitimate "no versions yet" state of
    * batch 0, silently dropping ALL cross-batch history. `None` = the
    * dir itself does not exist (no batch has written yet); `Some(empty)`
    * = exists with no versioned children. */
  private[streaming] def listVersions(spark: SparkSession, dir: String,
                           pattern: scala.util.matching.Regex): Option[Seq[Long]] = {
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(path)) None
    else Some(fs.listStatus(path).toSeq
      .filter(_.isDirectory)
      .flatMap(s => pattern.findFirstMatchIn(s.getPath.getName)
        .map(_.group(1).toLong)))
  }

  /** The store state strictly below `beforeVersion` (replay isolation,
    * as [[latestSnapshot]]): the newest compaction snapshot `v=<j>` with
    * j < beforeVersion — if [[compactDeltas]] has run — plus every
    * `b<k>` delta dir with j < k < beforeVersion. Empty relation when
    * neither exists yet (batch 0 has no history — legitimate, unlike a
    * CDC stream with no seeded base). Per-batch read cost is therefore
    * O(deltas since the last compaction), not O(stream lifetime) — the
    * small-files failure a long-running stream hits without a sweep.
    *
    * Fails loudly if a snapshot at or above `beforeVersion` exists: that
    * snapshot folded a batch this replay must not see, so the store can
    * no longer serve "strictly below" — compaction ran over uncommitted
    * batches, violating [[compactDeltas]]'s quiesced-stream contract. */
  def deltasBelow(spark: SparkSession, dir: String, schema: String,
                  beforeVersion: Long): DataFrame = {
    val st = StructType.fromDDL(schema)
    val snaps = committedSnapshots(spark, dir)
    require(snaps.forall(_ < beforeVersion),
      s"delta store $dir holds compaction snapshot v=${snaps.max} covering " +
        s"batch ids >= $beforeVersion — a replay of batch $beforeVersion can no " +
        "longer read strictly-below state; compact only batches the " +
        "checkpoint has committed (quiesce the stream first)")
    val snap = snaps.sorted.lastOption
    val deltas = listVersions(spark, dir, DeltaName).getOrElse(Seq.empty)
      .filter(k => k < beforeVersion && snap.forall(k > _))
    val paths = snap.map(v => s"$dir/v=$v").toSeq ++
      deltas.sorted.map(k => s"$dir/b$k")
    if (paths.isEmpty)
      spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), st)
    else spark.read.schema(st).parquet(paths: _*)
  }

  /** Compaction sweep for a `b<id>` delta store family: fold the prior
    * snapshot (if any) and every delta with id ≤ `uptoVersion` into ONE
    * `v=<uptoVersion>` snapshot, then retire the folded delta dirs and
    * superseded snapshots. Folding is a plain union — these stores hold
    * per-row facts ((id, variant-hash), (vec_id, band_key), postings
    * rows), so snapshot ∪ later-deltas ≡ union-of-all-deltas by
    * construction, which the mid-stream-compaction gates
    * ([[graft.streaming.StreamingGates.streamEr]] /
    * [[graft.streaming.StreamingGates.streamAnnNearDup]] /
    * [[graft.streaming.StreamingGates.streamBm25]]) pin against the
    * batch oracles.
    *
    * Two orthogonal options:
    *   - `excluding = Some((storeRoot, keyCols))` applies tombstones
    *     PHYSICALLY: the fold anti-joins the store's current tombstone
    *     set ([[storeTombstones]] of `storeRoot`), removing a row when
    *     ANY of `keyCols` is tombstoned (relationship families — ER/ANN
    *     pair stores — key rows by two entity ids, and erasing an entity
    *     must remove every pair touching it from either side). Deleted
    *     keys' rows are then absent from the published snapshot's bytes
    *     — the erasure half of a right-to-be-forgotten delete, not just
    *     a serving-time mask. An excluding fold always refolds, even over
    *     an existing snapshot at this boundary. Tombstones are NOT
    *     retired here — a store usually has several data families
    *     (postings + lens, variants + names) sharing one tombstone set,
    *     and retiring on the first family's sweep would un-delete the key
    *     everywhere else. Retire them explicitly with
    *     [[retireTombstones]] once EVERY family has folded past the
    *     delete ([[eraseFromStore]] composes exactly that).
    *   - `bucketed = Some(spec)` publishes the fold as a BUCKETED
    *     snapshot ([[BucketedFamily]]) — the sweep for corpus-sized
    *     families that later ingests PROBE by equi-join: the layout lets
    *     the probe plan with no Exchange on the snapshot side. A snapshot
    *     at this boundary under another layout is refolded.
    *
    * Crash safety is [[publishSnapshot]]'s protocol: readers
    * ([[deltasBelow]]) serve only committed snapshots, this sweep GC's
    * crashed partials and heals a crashed in-place replace on its way
    * in, and a crash AFTER publish leaves already-folded `b` dirs behind,
    * which readers skip (ids ≤ snapshot) and the next sweep deletes. Run
    * while the writing stream is quiesced (between micro-batches, or
    * stopped — the gates compact at a restart boundary), and only up to
    * a batch id the checkpoint has COMMITTED: compacting an uncommitted
    * batch breaks replay isolation, which [[deltasBelow]] then refuses
    * loudly rather than serving wrong history. */
  def compactDeltas(spark: SparkSession, dir: String, schema: String,
                    uptoVersion: Long,
                    excluding: Option[(String, Seq[String])] = None,
                    bucketed: Option[BucketedFamily.BucketSpec] = None): Unit =
   // single-writer enforcement: every sweep step below (heal, GC, park,
   // publish, retire) is crash-safe alone but NOT interleave-safe against
   // a concurrent sweep of the same family — see MaintenanceLease
   MaintenanceLease.withLease(spark, dir) {
    // the recovery pass BEFORE version accounting: a parked old snapshot
    // whose replacement never landed must come back, or this sweep would
    // refold from already-retired deltas and publish a shrunken
    // snapshot; crashed direct-write partials and covered dirs go too,
    // so `v=uptoVersion` can be rewritten cleanly
    recoverStore(spark, dir)
    // the fold must present the family's full stamped schema — a
    // narrower fold would physically DROP a column from the published
    // snapshot; refused here as a contract error instead of surfacing
    // as silent data loss (or, for a type change, as a parquet read
    // error deep inside the fold)
    ensureSchemaCompat(spark, dir, schema)
    val snaps = committedSnapshots(spark, dir)
    require(snaps.forall(_ <= uptoVersion),
      s"delta store $dir already compacted past $uptoVersion (v=${snaps.max})")
    val unfolded = listVersions(spark, dir, DeltaName).getOrElse(Seq.empty)
      .filter(k => k <= uptoVersion && snaps.sorted.lastOption.forall(k > _))
    // an EXCLUDING fold must always refold, even when a snapshot already
    // sits at uptoVersion with no unfolded deltas (routine compaction at
    // this boundary, or a second erasure at the same quiesced boundary):
    // skipping would leave the tombstoned keys' rows in the snapshot
    // while the caller goes on to retire the tombstones — a silent
    // un-delete. Plain compaction keeps the skip (refolding a fold is
    // pure waste there).
    // a bucketed sweep must also refold when the snapshot at this
    // boundary exists but under a DIFFERENT layout (plain→bucketed
    // upgrade, or a bucket-count change): skipping would silently leave
    // the probe-facing layout stale
    val layoutUpgrade = bucketed.exists(spec =>
      snaps.contains(uptoVersion) &&
        !BucketedFamily.readSpec(spark, s"$dir/v=$uptoVersion").contains(spec))
    def publish(contents: DataFrame): Unit = bucketed match {
      case Some(spec) =>
        BucketedFamily.publishSnapshot(spark, dir, contents, uptoVersion, spec)
      case None => publishSnapshot(spark, dir, contents, uptoVersion)
    }
    if (excluding.isDefined || layoutUpgrade ||
        !(snaps.contains(uptoVersion) && unfolded.isEmpty)) {
      // fold-shuffle partitioning bounded by the family's actual
      // on-disk bytes (guide §2.5 — scale-adaptive, identity once the
      // family outgrows SizedPartitionBytes × session partitions): a
      // KB-sized family must not fan its fold out to the session's
      // full partition count. The bucketed publish's own
      // repartition(buckets) is explicit and unaffected.
      val foldN = graft.sources.Tables.sizedPartitions(
        spark, dirBytes(spark, dir))
      graft.Sessions.sized(spark, foldN) { spark =>
      val folded = deltasBelow(spark, dir, schema, uptoVersion + 1)
      val contents = excluding.fold(folded) { case (storeRoot, keyCols) =>
        antiJoinTombstones(spark, folded, storeRoot, keyCols)
      }
      // a refold IN PLACE over v=uptoVersion reads that snapshot; the
      // protocol runs (or pins) that read before it parks the target
      publish(contents)
      }
    }
    // retire EVERYTHING v=<uptoVersion> now covers — every delta ≤ upto
    // and every older snapshot, not just the ones this run folded, so a
    // sweep that crashed between its publish and its deletes is fully
    // reclaimed by the next run
    recoverStore(spark, dir, Some(uptoVersion))
   }

  /** Completeness marker of the snapshot-publish protocol: a `v=<id>`
    * snapshot is real only once this file exists inside it. Underscore
    * prefix = invisible to Hadoop data listing, so parquet reads of the
    * snapshot never see it as data. */
  val CommitMarkerName = "_GRAFT_COMMITTED"

  private val ObjectStoreSchemes =
    Set("s3a", "s3n", "s3", "gs", "abfs", "abfss", "wasb", "wasbs")

  /** Session-conf override forcing object-store publish/commit semantics
    * on any filesystem — the test hook for the direct-write protocol
    * (production object stores are recognized by URI scheme). */
  private[streaming] val ForceObjectStoreConf =
    "graft.streaming.forceObjectStoreProtocol"

  /** Whether `fs` runs the direct-write (marker-last) protocol. This
    * decides BOTH how snapshots publish and what an unmarked `v=` dir
    * means: under the rename protocol a `v=` dir can only exist fully
    * published (the rename is the atomic publish event), so its mere
    * existence proves commit — which is also exactly what makes
    * pre-marker-era snapshots (published by the old rename-only builds,
    * no `_GRAFT_COMMITTED` inside) readable without a migration step.
    * Only the direct-write path can produce a genuinely partial
    * unmarked dir, so only there does the marker gate serving and GC. */
  private[streaming] def objectStoreSemantics(spark: SparkSession,
                                   fs: org.apache.hadoop.fs.FileSystem): Boolean = {
    val scheme = Option(fs.getUri.getScheme).getOrElse("file")
    spark.conf.getOption(ForceObjectStoreConf).contains("true") ||
      ObjectStoreSchemes.contains(scheme.toLowerCase(java.util.Locale.ROOT))
  }

  /** Snapshot versions readers may serve. Rename-protocol filesystems
    * (local/HDFS): every listed `v=` dir — existence is commit, and
    * legacy pre-marker snapshots stay served instead of being hidden
    * (and then GC'd) as crashed partials, which would be silent
    * permanent data loss on the first sweep after an upgrade.
    * Direct-write filesystems (object stores): only marker-carrying
    * dirs — an unmarked one is a crashed partial that shadows nothing. */
  private[streaming] def committedSnapshots(spark: SparkSession, dir: String): Seq[Long] = {
    val base = new Path(dir)
    val fs = base.getFileSystem(spark.sessionState.newHadoopConf())
    val all = listVersions(spark, dir, SnapshotName).getOrElse(Seq.empty)
    if (!objectStoreSemantics(spark, fs)) all
    else all.filter(v => fs.exists(new Path(base, s"v=$v/$CommitMarkerName")))
  }

  /** Total on-disk bytes under `dir` — the exact input-size signal a
    * fold or probe region uses to bound its shuffle partitioning
    * (guide §2.5: derive partition counts from input size, not from a
    * constant). Metadata-only (one recursive listing, the same price
    * Spark's scan planning pays); 0 for a missing dir. */
  private[graft] def dirBytes(spark: SparkSession, dir: String): Long = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) 0L else fs.getContentSummary(p).getLength
  }

  /** Name prefixes of the two transient siblings [[replaceDir]] gives a
    * target dir: the STAGED replacement and the PARKED old contents,
    * each followed by the target's name with `=` written `~` — Spark's
    * file index reads an underscore name holding `=` as a partition, so
    * only this form stays invisible to data reads and version listing. */
  private[streaming] val StagingPrefix = "_graft_staging_"
  private[streaming] val ParkedPrefix = "_graft_parked_"

  /** The `prefix` sibling of `target`. */
  private[streaming] def sibling(prefix: String, target: Path): Path =
    new Path(target.getParent, prefix + target.getName.replace('=', '~'))

  /** Parked snapshots of the builds whose protocol replaced `v=<id>`
    * only: `_compact_replaced_v<id>`. */
  private val LegacyParked = "^_compact_replaced_v(-?\\d+)$".r

  /** The name of the dir a parked sibling `name` belongs to, if `name`
    * is a parked dir. */
  private[streaming] def parkedTarget(name: String): Option[String] =
    if (name.startsWith(ParkedPrefix))
      Some(name.stripPrefix(ParkedPrefix).replace('~', '='))
    else LegacyParked.findFirstMatchIn(name).map(m => s"v=${m.group(1)}")

  /** Whether a replacement of `target` has landed: its commit marker
    * exists. Existence alone proves nothing — a live writer may have
    * re-created the dir after the crash (the verify stream writes
    * `_pending/batch=<id>`), and that dir must not pass for the
    * replacement and get the parked contents reclaimed. */
  private[streaming] def landed(fs: org.apache.hadoop.fs.FileSystem,
                                target: Path): Boolean =
    fs.exists(new Path(target, CommitMarkerName))

  /** Restore-or-reclaim one parked dir: reclaimed once its replacement
    * landed, else renamed back over whatever unmarked partial sits at
    * the target. */
  private def heal(fs: org.apache.hadoop.fs.FileSystem, parked: Path,
                   target: Path): Unit =
    if (fs.exists(parked)) {
      if (landed(fs, target)) fs.delete(parked, true)
      else {
        fs.delete(target, true)
        require(fs.rename(parked, target), s"heal: restore $parked -> $target failed")
      }
    }

  /** Land the complete staged copy `staged` on `target` when `target`
    * is missing, else reclaim it: fsck's repair of a staging dir that a
    * crash of an earlier build's replace left as the only copy of its
    * target. */
  private[streaming] def restoreOrReclaim(fs: org.apache.hadoop.fs.FileSystem,
                                          staged: Path, target: Path): Unit =
    if (fs.exists(staged)) {
      if (fs.exists(target)) fs.delete(staged, true)
      else require(fs.rename(staged, target), s"restore $staged -> $target failed")
    }

  /** THE recovery pass of every directory [[replaceDir]] writes into —
    * sweeps run it on entry (and, with `upto`, after their publish),
    * fsck's repairs, [[SoftState.publish]], [[retireTombstones]] and the
    * verify stream's start run it too:
    *   - heal every parked dir under `dir` (restore-or-reclaim): without
    *     it a sweep after the crash would refold from deltas the
    *     boundary's earlier sweep already retired, or rewrite a backlog
    *     it cannot see, and publish the loss;
    *   - GC `v=` dirs readers do not serve (crashed direct-write
    *     partials — on rename filesystems every `v=` dir is served);
    *   - retire every delta with id ≤ `upto` and every snapshot below
    *     it, `upto` defaulting to the newest committed snapshot — dirs
    *     readers already skip.
    * Idempotent; a crash anywhere in it leaves work the next run
    * finishes. */
  private[streaming] def recoverStore(spark: SparkSession, dir: String,
                                      upto: Option[Long] = None): Unit = {
    val base = new Path(dir)
    val fs = base.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(base)) return
    fs.listStatus(base).filter(_.isDirectory).foreach { s =>
      parkedTarget(s.getPath.getName)
        .foreach(t => heal(fs, s.getPath, new Path(base, t)))
    }
    val committed = committedSnapshots(spark, dir)
    (listVersions(spark, dir, SnapshotName).getOrElse(Seq.empty).toSet -- committed)
      .foreach(v => fs.delete(new Path(base, s"v=$v"), true))
    upto.orElse(committed.maxOption).foreach { u =>
      listVersions(spark, dir, DeltaName).getOrElse(Seq.empty).filter(_ <= u)
        .foreach(k => fs.delete(new Path(base, s"b$k"), true))
      committed.filter(_ < u).foreach(v => fs.delete(new Path(base, s"v=$v"), true))
    }
  }

  /** THE directory-replace protocol of every persisted store: delta
    * families' and [[SoftState]]'s `v=<version>` snapshots
    * ([[publishSnapshot]]) and the near-dup verify output's partitions,
    * backlog and dead letter. `write` fills the directory it is handed
    * from `contents` (as handed back — pinned where they must be); the
    * protocol owns everything else.
    *
    * On entry it heals the target's own parked sibling, as
    * [[recoverStore]] does. Callers that READ the target before calling
    * (the backlog sweeps) run [[recoverStore]] first.
    *
    * Rename-protocol filesystems (local/HDFS): delete stale staging,
    * `write` into it, create the commit marker inside it, fence, park,
    * ONE atomic rename onto the target, reclaim the parked dir. The
    * staging write executes `contents`' plans before the park, so they
    * may read the target lazily.
    *
    * Object stores (rename = copy+delete there): fence, park, `write`
    * DIRECTLY into the target, fence again, commit marker LAST, reclaim.
    * The park comes before `write` here, so `contents` are pinned
    * (eager localCheckpoint) first when the target exists — a lazy read
    * of it would find its files moved.
    *
    * Fence BEFORE park on both paths: a sweep whose lease was lost must
    * perform no namespace mutation on the live dir.
    * [[MaintenanceLease.fenceCheck]] is a no-op outside a lease.
    *
    * The live dir is PARKED, never deleted, and reclaimed only once its
    * replacement carries the marker, so a crash anywhere leaves the old
    * contents in place or parked, and the next recovery restores them.
    * Between park and land readers see the target missing (or, on an
    * object store, partial) — the park window, until that recovery. */
  private[streaming] def replaceDir(spark: SparkSession, target: Path,
                                    contents: Seq[DataFrame])(
                                    write: (Seq[DataFrame], Path) => Unit): Unit = {
    val fs = target.getFileSystem(spark.sessionState.newHadoopConf())
    val parked = sibling(ParkedPrefix, target)
    heal(fs, parked, target)
    val objectStore = objectStoreSemantics(spark, fs)
    val pinned =
      if (objectStore && fs.exists(target)) contents.map(_.localCheckpoint(true))
      else contents
    def commit(in: Path): Unit = {
      val out = fs.create(new Path(in, CommitMarkerName), true)
      try out.write(Array.emptyByteArray) finally out.close()
    }
    try {
      val staging = sibling(StagingPrefix, target)
      if (!objectStore) {
        fs.delete(staging, true)
        write(pinned, staging)
        commit(staging)
      }
      MaintenanceLease.fenceCheck(spark, target.toString)
      val wasLive = fs.exists(target)
      if (wasLive)
        require(fs.rename(target, parked), s"replaceDir: park $target -> $parked failed")
      if (objectStore) {
        write(pinned, target)
        // re-fence: the marker create is the atomic publish event here — a
        // stalled sweep whose lease was TTL-broken mid-write must not commit
        MaintenanceLease.fenceCheck(spark, target.toString)
        commit(target)
      } else
        require(fs.rename(staging, target),
          s"replaceDir: land rename failed: $staging -> $target")
      if (wasLive) fs.delete(parked, true)
    } finally if (pinned ne contents) pinned.foreach(graft.Caches.freeCheckpoint(_))
  }

  /** [[replaceDir]] of one parquet relation. */
  private[streaming] def replaceWith(spark: SparkSession, target: Path,
                                     contents: DataFrame): Unit =
    replaceDir(spark, target, Seq(contents)) { (dfs, p) =>
      dfs.head.write.mode("overwrite").parquet(p.toString)
    }

  /** [[replaceDir]] on a family's `v=<version>` snapshot. */
  private[streaming] def publishSnapshot(spark: SparkSession, dir: String,
                                         version: Long, contents: Seq[DataFrame])(
                                         write: (Seq[DataFrame], Path) => Unit): Unit =
    replaceDir(spark, new Path(new Path(dir), s"v=$version"), contents)(write)

  /** [[publishSnapshot]] of one parquet relation — the plain family
    * snapshot. */
  private[streaming] def publishSnapshot(spark: SparkSession, dir: String,
                                         contents: DataFrame, uptoVersion: Long): Unit =
    replaceWith(spark, new Path(new Path(dir), s"v=$uptoVersion"), contents)

  /** Full current contents of a delta store family — newest snapshot
    * plus every later delta. The serving read for compacted stores (a
    * raw `b*` glob stops seeing folded history once [[compactDeltas]]
    * has retired the delta dirs). */
  def storeContents(spark: SparkSession, dir: String, schema: String): DataFrame =
    deltasBelow(spark, dir, schema, Long.MaxValue)

  // ------------------------------------------------------- tombstones

  /** Register a right-to-be-forgotten delete against a delta store: the
    * given keys (one BIGINT column, any name) are appended as a
    * `tombstones/b<k>` delta under the store root — shared by every
    * data family in the store, because deleting an entity must hide it
    * from ALL of them (postings AND lens, variants AND names) in the
    * same logical instant. Returns the tombstone delta id (pass it to
    * [[retireTombstones]] once every family has physically folded past
    * the delete).
    *
    * Semantics are two-phase, matching how object erasure actually
    * works at scale: (1) immediately, every serving read that goes
    * through [[contentsExcludingTombstones]] stops returning the keys'
    * rows (a bounded anti-join — tombstone volume is delete volume, not
    * corpus volume); (2) durably, the next
    * excluding [[compactDeltas]] sweep rewrites the folded snapshot
    * WITHOUT those rows, removing the bytes. Duplicate tombstones are
    * harmless (anti-join), so the call is idempotent at the key level;
    * call it from the driver while the writing stream is quiesced, the
    * [[compactDeltas]] discipline. A deleted key must not re-arrive in
    * a later batch (the stores' append-only unique-id input contract
    * already requires this); if it did, the tombstone would mask the
    * new rows too — that is the correct reading of "forgotten". */
  def writeTombstones(spark: SparkSession, storeRoot: String,
                      ids: DataFrame): Long =
   // leased: the read-bump-write of the high-water id below is not
   // atomic — two concurrent registrations would mint the same delta id
   // and one delete would silently overwrite the other (re-entrant under
   // the composed erasures' root lease)
   MaintenanceLease.withLease(spark, storeRoot) {
    require(ids.schema.fields.length == 1,
      s"tombstones must be a single key column, got ${ids.schema.simpleString}")
    val dir = s"$storeRoot/tombstones"
    // tombstone delta ids must be MONOTONIC across retirements, not just
    // across live deltas: after retireTombstones empties the directory a
    // max-of-existing scheme would reuse id 0, and a caller holding a
    // stale `upto` from before the retirement could then retire the new,
    // unfolded tombstones — un-deleting keys with no error. A persisted
    // high-water marker closes that: next = max(marker, max existing + 1),
    // and retirement never lowers the floor. The marker is bumped BEFORE
    // the delta write, so a crash between the two leaves an unused id,
    // never a delta at or above the floor (fsck's `highwater-behind`).
    val existingNext = listVersions(spark, dir, DeltaName)
      .getOrElse(Seq.empty).maxOption.map(_ + 1L).getOrElse(0L)
    val next = math.max(existingNext, readTombstoneHighWater(spark, dir))
    writeTombstoneHighWater(spark, dir, next + 1L)
    ids.toDF("tomb_id").write.mode("overwrite").parquet(s"$dir/b$next")
    next
   }

  /** High-water marker of [[writeTombstones]] — the smallest delta id
    * the next write may use, preserved across [[retireTombstones]]. */
  private[streaming] val TombstoneHighWaterFile = "_graft_next_tomb_id"

  private[streaming] def readTombstoneHighWater(spark: SparkSession, dir: String): Long = {
    val p = new Path(dir, TombstoneHighWaterFile)
    val f = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!f.exists(p)) 0L
    else {
      val in = f.open(p)
      val s =
        try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
        finally in.close()
      s.trim.toLong
    }
  }

  private def writeTombstoneHighWater(spark: SparkSession, dir: String,
                                      next: Long): Unit = {
    val p = new Path(dir, TombstoneHighWaterFile)
    val f = p.getFileSystem(spark.sessionState.newHadoopConf())
    val out = f.create(p, true)
    try out.write(next.toString.getBytes("UTF-8")) finally out.close()
  }

  /** All currently-registered tombstone keys for a store (empty
    * relation when none have ever been written). */
  def storeTombstones(spark: SparkSession, storeRoot: String): DataFrame =
    storeContents(spark, s"$storeRoot/tombstones", "tomb_id BIGINT")

  /** [[storeContents]] minus tombstoned keys — the serving read for any
    * data family of a store that supports deletes. A row is hidden when
    * ANY of `keyCols` is tombstoned (the [[compactDeltas]] `excluding`
    * rule). The anti-join's build side is the tombstone set
    * (delete-sized, broadcastable), never the family. */
  def contentsExcludingTombstones(spark: SparkSession, familyDir: String,
                                  schema: String, storeRoot: String,
                                  keyCols: Seq[String]): DataFrame =
    antiJoinTombstones(spark,
      storeContents(spark, familyDir, schema), storeRoot, keyCols)

  /** One anti-join per key column, each against a freshly-aliased read
    * of the tombstone set (reusing one DataFrame across joins would
    * trip self-join attribute ambiguity). */
  private def antiJoinTombstones(spark: SparkSession, data: DataFrame,
                                 storeRoot: String,
                                 keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "excluding read needs at least one key column")
    keyCols.zipWithIndex.foldLeft(data) { case (acc, (k, i)) =>
      val tomb = storeTombstones(spark, storeRoot)
        .select(col("tomb_id").as(s"_tomb_id_$i"))
      acc.join(tomb, acc(k) === tomb(s"_tomb_id_$i"), "left_anti")
    }
  }

  /** One data family of a delta store, as the composed erasure API
    * needs to know it: the family subdirectory under the store root,
    * its DDL schema, and the key column(s) an erased id matches rows
    * on (multi-key for relationship families — a pair touching an
    * erased entity from EITHER side is personal data about it). */
  final case class StoreFamily(name: String, schema: String,
                               keyCols: Seq[String])

  /** Marker file recording a store's complete data-family set — written
    * once by the store-creating stream, so the composed erasure below
    * can REFUSE a partial family list instead of silently leaving an
    * erased key's rows alive in a family the caller forgot. */
  private[streaming] val FamiliesMarker = "_graft_families"

  /** First writer stamps the store's family set; later writers must
    * present the same set or fail loudly (a build that grew a family
    * must migrate the stamp explicitly, not silently diverge from the
    * erasure contract). */
  def stampFamilies(spark: SparkSession, storeRoot: String,
                    families: Seq[String]): Unit = {
    val base = new Path(storeRoot)
    val fs = base.getFileSystem(spark.sessionState.newHadoopConf())
    val p = new Path(base, FamiliesMarker)
    stampedFamilies(spark, storeRoot) match {
      case Some(existing) =>
        require(existing == families.toSet,
          s"store $storeRoot stamps families ${existing.toSeq.sorted.mkString(",")} " +
            s"but this writer declares ${families.sorted.mkString(",")} — " +
            "migrate the stamp explicitly before changing the family set")
      case None =>
        fs.mkdirs(base)
        val out = fs.create(p, false)
        try out.write(families.sorted.mkString(",").getBytes("UTF-8"))
        finally out.close()
    }
  }

  /** The stamped family set, if the store carries one. */
  def stampedFamilies(spark: SparkSession, storeRoot: String): Option[Set[String]] = {
    val p = new Path(new Path(storeRoot), FamiliesMarker)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val s =
        try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
        finally in.close()
      Some(s.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    }
  }

  /** COMPOSED right-to-be-forgotten erasure — the one-call form of the
    * tombstone protocol, making the ordering invariant ("retire only
    * after EVERY family has folded past the delete") unrepresentable
    * instead of scaladoc-only: register the keys, fold every family
    * with physical exclusion, and only then retire the tombstones.
    * Call while the writing stream is quiesced at a checkpoint-committed
    * boundary `uptoVersion` (the [[compactDeltas]] contract).
    *
    * If the store stamps its family set ([[stampFamilies]] — every
    * store-creating stream in this module does), a partial `families`
    * list is REFUSED loudly: a mis-ordered or incomplete caller would
    * otherwise retire tombstones while some family still holds the
    * erased keys' rows, un-deleting them with no error. Crash safety is
    * the parts' own: each fold stages-and-publishes atomically, and a
    * crash anywhere before the final retirement leaves tombstones live
    * (serving reads still mask; re-running the erasure is idempotent —
    * re-folding removed keys and re-retiring are both no-ops). */
  def eraseFromStore(spark: SparkSession, storeRoot: String,
                     ids: DataFrame, families: Seq[StoreFamily],
                     uptoVersion: Long): Unit =
   // root lease makes tombstone-write → per-family folds → retirement
   // atomic against another erasure or routine sweep of this store
   MaintenanceLease.withLease(spark, storeRoot) {
    stampedFamilies(spark, storeRoot).foreach { stamped =>
      val covered = families.map(_.name).toSet
      require(stamped.subsetOf(covered),
        s"eraseFromStore($storeRoot): store stamps families " +
          s"${stamped.toSeq.sorted.mkString(",")} but the call covers only " +
          s"${covered.toSeq.sorted.mkString(",")} — an uncovered family would " +
          "keep the erased keys' rows past tombstone retirement")
    }
    val tid = writeTombstones(spark, storeRoot, ids)
    families.foreach { f =>
      compactDeltas(spark, s"$storeRoot/${f.name}", f.schema, uptoVersion,
        excluding = Some((storeRoot, f.keyCols)))
    }
    retireTombstones(spark, storeRoot, tid)
   }

  /** Right-to-be-forgotten for the streaming NEAR-DUP pipeline — the
    * one store set whose layout [[eraseFromStore]] does not cover: the
    * shingle store is a delta family (standard tombstone + excluding
    * fold), but the VERIFY sink's output lives in `batch=<id>` partition
    * dirs and its backlog in `_pending`, both written by the verify
    * stream's own idempotent-overwrite protocol — so those are rewritten
    * IN PLACE per partition ([[replaceDir]], as the backlog sweeps
    * rewrite), preserving the layout a restarted verify stream expects.
    * A pair naming an erased doc is personal data about it and goes
    * from the output, the backlog, AND the dead-letter relation, both
    * endpoints.
    *
    * Contract: run with BOTH streams quiesced at a boundary the
    * checkpoint has committed (`uptoVersion` = the newest committed
    * store batch). Pair it with a `_sign = −1` batch on the candidate
    * stream ([[streamingNearDupCandidatesAllSigned]] — the gate does):
    * that removes the erased ids from the operator's bucket state, so
    * post-erase arrivals generate no candidate traffic for them at all.
    * Without the signed batch, stale bucket members still emit
    * candidates that verify against the purged store, find no rows, and
    * park in `_pending` until the next erase clears them — correct
    * output either way, but state and backlog keep naming the ids.
    * A crash leaves each rewritten dir in place or parked; re-running
    * this erasure heals the parked ones first and is idempotent. Cost: the
    * store fold prices as one snapshot rewrite, the output rewrite as
    * one pass over the verified pairs — both delete-INDEPENDENT
    * rewrites of store-sized data, the same price every excluding fold
    * pays; the anti-join build side is delete-sized. */
  def eraseFromNearDupStores(spark: SparkSession, storeDir: String,
                             outDir: String, ids: DataFrame,
                             uptoVersion: Long): Unit =
   // both roots leased: the shingle-store fold and the output/backlog
   // replaces must not interleave with a verify sweep or second erasure
   MaintenanceLease.withLease(spark, storeDir) {
    MaintenanceLease.withLease(spark, outDir) {
    val fs = new Path(outDir).getFileSystem(spark.sessionState.newHadoopConf())
    recoverStore(spark, outDir)
    val tomb = graft.Caches.persist(ids.toDF("__erased"))
    try {
      def minusIds(df: DataFrame, cols: Seq[String]): DataFrame =
        cols.zipWithIndex.foldLeft(df) { case (acc, (c, i)) =>
          val t = tomb.select(col("__erased").as(s"__e_$i"))
          acc.join(t, acc(c) === t(s"__e_$i"), "left_anti")
        }
      // 1. the shingle store: standard two-phase erasure on the delta
      // family (mask is immediate via the tombstones; the fold removes
      // the bytes)
      val tid = writeTombstones(spark, storeDir, tomb.select(col("__erased")))
      compactDeltas(spark, storeDir, "doc_id BIGINT, h BIGINT", uptoVersion,
        excluding = Some((storeDir, Seq("doc_id"))))
      // 2. every verified-output partition (incl. `batch=sweep-*`)
      val outBase = new Path(outDir)
      if (fs.exists(outBase)) {
        fs.listStatus(outBase).toSeq
          .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch="))
          .foreach { s =>
            replaceWith(spark, s.getPath, minusIds(
              spark.read.schema("id_a BIGINT, id_b BIGINT, jaccard DOUBLE")
                .parquet(s.getPath.toString), Seq("id_a", "id_b")))
          }
        // 3. the backlog (flat rewrite — the same shape
        // verifyPendingAndCompact leaves it in)
        val pending = new Path(outBase, PendingDirName)
        if (fs.exists(pending))
          replaceWith(spark, pending, minusIds(pendingCandidates(spark, outDir),
            Seq("id_a", "id_b")))
        // 4. the dead-letter relation: an expired pair naming an erased
        // doc is personal data exactly like a parked one — forensics
        // retention does not outrank the right to be forgotten
        val dead = new Path(outBase, DeadLetterDirName)
        if (fs.exists(dead))
          replaceWith(spark, dead, minusIds(deadLetterCandidates(spark, outDir),
            Seq("id_a", "id_b")))
      }
      // every family holding erased rows has folded/rewritten — retire
      retireTombstones(spark, storeDir, tid)
    } finally tomb.unpersist()
   }}

  /** Retire tombstone deltas with id <= `upto` ([[recoverStore]] of the
    * tombstone family up to `upto`) — call ONLY after every
    * data family of the store has been folded past the corresponding
    * deletes with an excluding [[compactDeltas]] (retiring earlier would
    * un-delete the keys in any family still holding their rows); the
    * composed [[eraseFromStore]] enforces exactly that ordering.
    * Idempotent; a crash mid-loop leaves dirs whose re-application is
    * harmless (anti-joining already-removed keys is a no-op). */
  def retireTombstones(spark: SparkSession, storeRoot: String,
                       upto: Long): Unit =
   // leased: retiring while another writer is mid-excluding-fold would
   // un-delete the keys in the family it has not folded yet (re-entrant
   // under eraseFromStore's root lease)
   MaintenanceLease.withLease(spark, storeRoot) {
    recoverStore(spark, s"$storeRoot/tombstones", Some(upto))
   }

  /** Format stamps for the persisted BLOCKING stores whose rows are
    * outputs of a specific hash family ([[startErPairStore]]'s deletion-
    * variant hashes, [[startAnnNearDupStore]]'s hyperplane band keys).
    * Nothing else pins the family: a build that changes kernel or sign
    * constants (as r10 did, xxhash64 → md5-60) silently stops matching
    * a store written by the older build — new-batch hashes never equal
    * stored ones, so cross-batch pairs are just MISSING, no error. The
    * stamp turns that into a loud refusal. Bump the string whenever the
    * corresponding hash family changes. */
  val ErVariantFormat = "er-delvariant-md5-60/v1"
  /** `/v2` = the flat band key widened INT → BIGINT (long packing, so
    * auto-derived plane counts can exceed the 31-bit int shift). The
    * stamp is bumped WITH the layout: a `/v1` store's INT32 band deltas
    * under this build would pass a format-only check and then fail as a
    * parquet conversion error deep inside the fold — exactly the
    * failure class the marker exists to refuse up front. */
  val AnnBandFormat = "ann-hyperplane-md5-parity-md5-60/v2"

  private[streaming] val FormatMarker = "_graft_format"

  /** First writer stamps the store; every later writer (and any serving
    * reader that calls this) must present the same format string or
    * fail loudly — never silently match nothing. */
  def ensureFormat(spark: SparkSession, dir: String, format: String): Unit =
    readFormat(spark, dir) match {
      case None => writeFormat(spark, dir, format)
      case Some(found) =>
        require(found == format,
          s"store $dir was written under hash-family format '$found'; this " +
            s"build produces '$format' — new hashes would never match stored " +
            "ones (silently missing cross-batch pairs). Rebuild the store or " +
            "run the matching build.")
    }

  /** The stamped format string, if the family carries one. */
  private[streaming] def readFormat(spark: SparkSession,
                                    dir: String): Option[String] = {
    val p = new Path(new Path(dir), FormatMarker)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8"))
      finally in.close()
    }
  }

  /** (Re)stamp the family's format string — the re-band sweep's restamp
    * path; normal writers go through [[ensureFormat]], which never
    * overwrites. */
  private[streaming] def writeFormat(spark: SparkSession, dir: String,
                                     format: String): Unit = {
    val base = new Path(dir)
    val fs = base.getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(base)
    val out = fs.create(new Path(base, FormatMarker), true)
    try out.write(format.getBytes("UTF-8")) finally out.close()
  }

  /** Schema marker of a delta-store family — the DDL twin of the
    * hash-family format stamp. */
  private[streaming] val SchemaMarker = "_graft_schema"

  /** (Re)write a family's schema stamp — [[ensureSchemaCompat]]'s
    * first-writer path and [[migrateSchemaFold]]'s restamp share it. */
  private def stampSchema(spark: SparkSession, dir: String,
                          ddl: String): Unit = {
    val base = new Path(dir)
    val fs = base.getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(base)
    val out = fs.create(new Path(base, SchemaMarker), true)
    try out.write(ddl.getBytes("UTF-8")) finally out.close()
  }

  /** The stamped schema DDL, if the family carries one. */
  def stampedSchema(spark: SparkSession, dir: String): Option[String] = {
    val p = new Path(new Path(dir), SchemaMarker)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8"))
      finally in.close()
    }
  }

  /** ONE-SHOT NON-ADDITIVE schema migration for a delta-store family —
    * the explicit path [[ensureSchemaCompat]]'s refusal points at:
    * rename, drop, or recompute columns under a caller-declared
    * projection (`newColumn -> SQL expr over the OLD columns`, e.g.
    * `Seq("id" -> "id", "score" -> "CAST(v_old AS DOUBLE)")`). The fold
    * reads the family's full state under the STAMPED schema, applies
    * the projection, publishes the rewritten contents as the
    * `v=uptoVersion` snapshot (the same staged/parked atomic publish as
    * [[rebandAnnStore]] — a crash mid-migration leaves the old state
    * served), retires everything the snapshot covers, and only then
    * RESTAMPS the schema marker — the marker restamp is the migration's
    * commit point, exactly the format-marker discipline. After it, a
    * writer or fold still presenting the old schema refuses loudly in
    * [[ensureSchemaCompat]] ("column missing"), and readers serve the
    * new shape; before it, readers keep serving the old shape. Same
    * contract as every sweep: run quiesced at a checkpoint-committed
    * boundary (the restarted stream must present the NEW schema).
    * Returns the new stamped DDL. */
  def migrateSchemaFold(spark: SparkSession, dir: String,
                        projection: Seq[(String, String)],
                        uptoVersion: Long): String =
   MaintenanceLease.withLease(spark, dir) {
    require(projection.nonEmpty, "migration projection must name columns")
    val oldDdl = stampedSchema(spark, dir).getOrElse(
      throw new IllegalArgumentException(
        s"family $dir carries no schema stamp — nothing to migrate from"))
    recoverStore(spark, dir)
    val folded = deltasBelow(spark, dir, oldDdl, uptoVersion + 1)
      .selectExpr(projection.map { case (n, e) => s"($e) AS $n" }: _*)
    val newDdl = folded.schema.toDDL
    publishSnapshot(spark, dir, folded, uptoVersion)
    recoverStore(spark, dir, Some(uptoVersion))
    stampSchema(spark, dir, newDdl)
    newDdl
   }

  /** Stamp (first call) or check a family's schema: the presented
    * schema must be an ADDITIVE WIDENING of the stamp — every stamped
    * column present under the same name and exact type; new columns may
    * be appended (old deltas null-fill them, the pinned evolution
    * contract) and then widen the stamp for later callers. A type
    * change, rename, or drop is refused LOUDLY with both schemas in the
    * message — without this, a drifted build fails as a parquet decode
    * error deep inside a fold (type change) or silently publishes a
    * snapshot missing a column (drop). Wired into [[compactDeltas]] —
    * the fold is where narrow-schema data loss would otherwise go
    * unnoticed — and available to writers. */
  def ensureSchemaCompat(spark: SparkSession, dir: String,
                         schema: String): Unit = {
    val presented = StructType.fromDDL(schema)
    stampedSchema(spark, dir) match {
      case None => stampSchema(spark, dir, presented.toDDL)
      case Some(stampedDdl) =>
      val stamped = StructType.fromDDL(stampedDdl)
      val presentedByName = presented.fields.map(f => f.name -> f.dataType).toMap
      val broken = stamped.fields.flatMap { f =>
        presentedByName.get(f.name) match {
          case None =>
            Some(s"column '${f.name}' missing (dropped or renamed)")
          case Some(t) if t != f.dataType =>
            Some(s"column '${f.name}' changed type ${f.dataType.sql} -> ${t.sql}")
          case _ => None
        }
      }
      require(broken.isEmpty,
        s"family $dir schema drift is not an additive widening:\n  " +
          broken.mkString("\n  ") +
          s"\n  stamped:   ${stamped.toDDL}\n  presented: ${presented.toDDL}" +
          "\n  Additive evolution only: keep every stamped column at its " +
          "stamped type; append new columns. Rebuild the store (or run " +
          "the matching build) for anything else.")
      val stampedNames = stamped.fields.map(_.name).toSet
      if (presented.fields.exists(f => !stampedNames.contains(f.name)))
        // widening: later callers check against it
        stampSchema(spark, dir, presented.toDDL)
    }
  }

  /** Retention sweep for the `v=<id>` FULL-SNAPSHOT store families
    * ([[startIncrementalAggStore]] / [[startCdcSnapshotStore]] /
    * [[startScd2HistoryStore]] / [[startSubstringDedupStore]]'s index):
    * every version is a complete store copy, so the stream leaves one
    * copy per micro-batch forever — unbounded disk on a long-running
    * stream. This retires every version below the newest `keep`,
    * the [[compactDeltas]] counterpart for stores where folding is
    * already done per batch and only RETENTION is the policy knob.
    *
    * Crash safety is deletion-only (no staging needed — nothing is
    * rewritten): versions retire OLDEST-FIRST, so a crash mid-sweep
    * leaves a contiguous suffix of versions and the serving read
    * ([[latestSnapshot]] / [[latestPartials]], newest-below) is
    * unaffected at every intermediate state; re-running is idempotent.
    *
    * Contract, same as [[compactDeltas]]: run quiesced (between
    * micro-batches or stopped) and only when the checkpoint has
    * COMMITTED past the retired versions — a replayed batch whose
    * strictly-below version was retired fails LOUDLY in
    * [[latestSnapshot]] ("no version below b") rather than silently
    * folding against newer state; that loud error is the designed
    * refusal, exactly [[deltasBelow]]'s posture when compaction
    * outruns the checkpoint. Likewise a time-travel read pinned to a
    * retired version errors on the missing path instead of serving a
    * different version. Refuses delta-store families (`b<id>` dirs
    * present): those retire through [[compactDeltas]], whose snapshot
    * accounting this sweep would corrupt. */
  def retainVersions(spark: SparkSession, dir: String, keep: Int): Seq[Long] = {
    require(keep >= 1, s"retainVersions(keep=$keep): must keep >= 1 version")
    val base = new Path(dir)
    val fs = base.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(base)) return Seq.empty
    val deltas = listVersions(spark, dir, DeltaName).getOrElse(Seq.empty)
    require(deltas.isEmpty,
      s"$dir holds b<id> delta dirs (${deltas.sorted.take(3).mkString(",")}…) — " +
        "a delta-store family; retire its history via compactDeltas, not " +
        "a snapshot retention sweep")
    val versions = listVersions(spark, dir, SnapshotName).getOrElse(Seq.empty)
    val retired = versions.sorted.dropRight(keep)
    retired.foreach(v => fs.delete(new Path(base, s"v=$v"), true))
    retired
  }

  /** Streaming substring-dedup ingest: each document micro-batch is
    * dedup'd CAUSALLY — against the base corpus plus every batch up to
    * and including itself — via
    * [[graft.operators.Dedup.substringDedupIncremental]] over the
    * versioned (h, cnt) window-count index, then the batch's own window
    * counts merge into the next index version. Writes are idempotent
    * per version/batch dir (a crash-replayed batch rewrites its own
    * outputs and reads the index strictly below its id), so
    * checkpoint + versioned write = effective exactly-once — the
    * [[startCdcSnapshotStore]] crash argument applied to dedup state.
    * Seed the base corpus's index as `v=-1` before starting. A window
    * duplicated only by a LATER batch does not retro-clean an earlier
    * batch's emitted docs — the append-only ingest semantic; the index
    * keeps the counts a backfill pass needs. */
  def startSubstringDedupStore(docs: DataFrame, indexStore: String,
                               outDir: String, checkpointDir: String,
                               w: Int): StreamingQuery = {
    val idxSchema = StructType.fromDDL("h BIGINT, cnt BIGINT")
    docs.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val b = batch.localCheckpoint(true)
        try {
          val idx = latestSnapshot(spark, indexStore, idxSchema,
            beforeVersion = batchId)
          graft.operators.Dedup.substringDedupIncremental(b, idx, w)
            .write.mode("overwrite").parquet(s"$outDir/b$batchId")
          idx.unionByName(graft.operators.Dedup.substringWindowCounts(b, w))
            .groupBy(col("h")).agg(sum(col("cnt")).as("cnt"))
            .write.mode("overwrite").parquet(s"$indexStore/v=$batchId")
          // both consumers of this batch's checkpoint have committed —
          // free it here, or every micro-batch of the stream's lifetime
          // pins a batch-sized block set (Dataset.unpersist would be a
          // CacheManager no-op; see Caches.freeCheckpoint)
        } finally graft.Caches.freeCheckpoint(b)
      }
      .start()
  }

  /** [[startSubstringDedupStore]] for a SIGNED document stream — the
    * right-to-be-forgotten path for the (h, cnt) window-count index,
    * closing the one delta-store family the r11 erasure theme missed:
    * tombstone masking cannot forget a COUNT-shaped index (a deleted
    * doc's window counts would keep suppressing future duplicates of
    * text no longer in the corpus), so erasure here is ARITHMETIC — the
    * [[startSignedAggStore]] retract algebra applied to window counts.
    *
    * Rows carry `_sign` ∈ {+1, −1}. Per micro-batch: `+1` docs are
    * dedup'd causally against the pre-batch index exactly as the
    * unsigned store (and their counts added); `−1` docs' window counts
    * — recomputed from the text the erasure request carries — are
    * SUBTRACTED at the fold, so ingest-then-erase ≡ never-ingested for
    * every future batch's visibility test. Counts reaching exactly zero
    * leave the index (a fully-forgotten window must not linger as a row
    * readers could mistake for corpus text); a NEGATIVE count means an
    * erasure arrived for text never ingested, refused loudly — the
    * [[graft.operators.Incremental.finalizeStatsChecked]] posture,
    * priced at delete volume because only batches carrying erasures pay
    * the check. In a mixed batch the inserts dedup against the
    * PRE-erase index (erasure takes effect from the next batch) — send
    * erasures as their own batch for sharp semantics, as the
    * `stream_substring_delete` gate does.
    *
    * An erased doc's own EMITTED output rows (written by the batch that
    * ingested it) are a separate delta family under the caller's
    * `outDir` — purge them with the tombstone machinery
    * ([[eraseFromStore]] on the out family, keyed by doc_id); this
    * store owns only the index arithmetic. Crash safety is unchanged
    * from the unsigned store: idempotent versioned writes, replay reads
    * strictly below, checkpoint + versioned write = exactly-once. */
  def startSignedSubstringDedupStore(docs: DataFrame, indexStore: String,
                                     outDir: String, checkpointDir: String,
                                     w: Int): StreamingQuery = {
    val idxSchema = StructType.fromDDL("h BIGINT, cnt BIGINT")
    docs.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val b = batch.localCheckpoint(true)
        try {
          import graft.operators.Dedup
          val inserts = b.filter(col("_sign") === 1).drop("_sign")
          val erases = b.filter(col("_sign") === -1).drop("_sign")
          val idx = latestSnapshot(spark, indexStore, idxSchema,
            beforeVersion = batchId)
          Dedup.substringDedupIncremental(inserts, idx, w)
            .write.mode("overwrite").parquet(s"$outDir/b$batchId")
          val folded = idx
            .unionByName(Dedup.substringWindowCounts(inserts, w))
            .unionByName(Dedup.substringWindowCounts(erases, w)
              .select(col("h"), (-col("cnt")).as("cnt")))
            .groupBy(col("h")).agg(sum(col("cnt")).as("cnt"))
          if (erases.isEmpty)
            folded.write.mode("overwrite").parquet(s"$indexStore/v=$batchId")
          else {
            val f = folded.localCheckpoint(true)
            try {
              val neg = f.filter(col("cnt") < 0).count()
              require(neg == 0,
                s"$neg window hashes would go NEGATIVE folding batch " +
                  s"$batchId's erasures — an erasure arrived for text " +
                  "never ingested (stale or duplicated delete request)")
              f.filter(col("cnt") > 0)
                .write.mode("overwrite").parquet(s"$indexStore/v=$batchId")
            } finally graft.Caches.freeCheckpoint(f)
          }
        } finally graft.Caches.freeCheckpoint(b)
      }
      .start()
  }

  /** Verify stage of the streaming near-dup pipeline: candidate pairs
    * from [[streamingNearDupCandidates]] are exact-verified per
    * micro-batch against the shingle store with the SAME
    * [[graft.operators.Dedup.verifyPairs]] the batch LSH dedup runs —
    * the streaming path's output is verified pairs (id_a, id_b,
    * jaccard), not candidates.
    *
    * The store write ([[startShingleStore]]) is an INDEPENDENT query:
    * nothing guarantees a candidate's docs have committed to the store
    * when the verify batch runs. `verifyPairs`'s inner joins would
    * silently drop such a candidate while the checkpoint commits — a
    * permanent loss. So each batch splits candidates by store
    * completeness: pairs with BOTH doc ids present are verified now;
    * the rest land in a `_pending/batch=<id>` backlog relation
    * (underscore-prefixed, so readers of `outDir` never see it as a
    * partition) that [[verifyPending]] retries once the store catches
    * up. Both writes overwrite their own batch partition, so a
    * replayed batch retracts a stale pending set instead of appending.
    *
    * Failure semantics: output is written to a `batch=<id>` partition
    * dir in OVERWRITE mode, so a micro-batch replayed after a crash
    * rewrites its own partition instead of appending duplicates —
    * idempotent, matching the checkpointed-file-sink story. The store
    * read is `.distinct()`-ed per doc first: at-least-once ingest can
    * append a re-delivered doc's shingle rows twice, and doubled
    * (doc_id, h) rows would double both n_shingles and n_common,
    * inflating jaccard (0.45 → 0.62 for equal-size docs). At scale the
    * store is date-partitioned and this read prunes to the dedup
    * horizon (candidates only ever reference docs inside the eviction
    * window) rather than scanning an unbounded history. */
  def startNearDupVerify(candidates: DataFrame, storeDir: String,
                         outDir: String, checkpointDir: String,
                         threshold: Double = 0.5): StreamingQuery = {
    // restore what a crashed backlog or output replace parked BEFORE the
    // first batch re-creates `_pending`: the heal would otherwise have to
    // drop that batch's unmarked backlog to bring the parked one back
    recoverStore(candidates.sparkSession, outDir)
    candidates.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          // a pair colliding in several bands arrives once per band
          val pairs = batch.select(col("doc_id").as("id_a"),
            col("matched_with").as("id_b")).distinct().persist()
          // ONLY candidate-endpoint docs' shingles matter downstream
          // (the verify joins by pair id; the jaccard sizes join is
          // inner), so the corpus-sized store is pre-filtered with a
          // broadcast semi-join BEFORE the at-least-once distinct:
          // no micro-batch ever shuffles, distincts, or caches the
          // whole store — the r16 softDedupIngest posture, and the
          // same oracles prove the filtered verify bit-equal. The
          // readiness/pending split below is also unaffected: every
          // pair endpoint is a candidate id, so "endpoint present in
          // the filtered store" ≡ "endpoint present in the store".
          val store = backlogFilteredStore(batch.sparkSession, storeDir,
            pairs).persist()
          try {
            val ids = store.select(col("doc_id")).distinct()
            val idsA = ids.withColumnRenamed("doc_id", "id_a")
            val idsB = ids.withColumnRenamed("doc_id", "id_b")
            val ready = pairs
              .join(idsA, Seq("id_a"), "left_semi")
              .join(idsB, Seq("id_b"), "left_semi")
            // first_seen = the batch that parked the pair — the age
            // anchor the TTL sweep (expirePendingToDeadLetter) needs; a
            // later compacting rewrite preserves the MINIMUM, so age
            // survives re-parking and backlog replaces
            // by name: a using-column anti-join puts its key first, so
            // the second branch comes out as (id_b, id_a)
            val pending = pairs.join(idsA, Seq("id_a"), "left_anti")
              .unionByName(pairs.join(idsB, Seq("id_b"), "left_anti"))
              .distinct()
              .withColumn("first_seen", lit(batchId))
            graft.operators.Dedup.verifyPairs(ready, store, threshold)
              .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
            pending.write.mode("overwrite")
              .parquet(s"$outDir/$PendingDirName/batch=$batchId")
          } finally { pairs.unpersist(); store.unpersist() }
        }
      }
      .start()
  }

  /** Backlog subdir of [[startNearDupVerify]]'s output. Underscore
    * prefix = hidden to Hadoop file listing, so reading `outDir` for
    * verified pairs never picks the backlog up as data. */
  val PendingDirName: String = "_pending"

  /** Backlog schema: the candidate pair plus the batch id that first
    * parked it — the TTL sweep's age anchor. */
  private val PendingSchema = "id_a BIGINT, id_b BIGINT, first_seen BIGINT"

  /** The not-yet-verifiable backlog written by [[startNearDupVerify]]
    * (candidates whose docs had not committed to the shingle store when
    * their micro-batch ran). Empty batch partitions carry no files, so
    * the schema is supplied rather than inferred — but the supplied
    * schema only covers empty-but-PRESENT partitions: before the first
    * non-empty micro-batch writes, the `_pending` dir itself does not
    * exist and the read would fail PATH_NOT_FOUND, so a sweep scheduled
    * ahead of ingest gets an empty frame instead. One row per pair with
    * the OLDEST `first_seen` (re-parked duplicates keep their original
    * age); backlog files from pre-`first_seen` builds read as null →
    * surfaced as −1, i.e. older than any horizon — a legacy parked pair
    * expires on the first TTL sweep rather than parking forever. */
  def pendingCandidates(spark: SparkSession, outDir: String): DataFrame = {
    val path = new Path(s"$outDir/$PendingDirName")
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(path))
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        StructType.fromDDL(PendingSchema))
    else
      spark.read.schema(PendingSchema)
        .parquet(s"$outDir/$PendingDirName")
        .groupBy(col("id_a"), col("id_b"))
        .agg(coalesce(min(col("first_seen")), lit(-1L)).as("first_seen"))
  }

  /** Dead-letter subdir of the verify output: backlog entries whose
    * partner doc never arrived within the TTL horizon. Underscore
    * prefix = invisible to readers of `outDir`, like the backlog. */
  val DeadLetterDirName: String = "_dead_letter"

  /** The dead-letter relation (empty before the first expiry sweep). */
  def deadLetterCandidates(spark: SparkSession, outDir: String): DataFrame = {
    val path = new Path(s"$outDir/$DeadLetterDirName")
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(path))
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        StructType.fromDDL(PendingSchema))
    else spark.read.schema(PendingSchema).parquet(path.toString)
  }

  /** TTL sweep for the verify backlog — the bound on `_pending` growth
    * a long-running stream needs: without it, a candidate whose partner
    * doc NEVER lands (dropped upstream, erased before its store ingest,
    * a poisoned producer) parks forever, and at 100 TB that is unbounded
    * growth of personal-data-bearing state. Every pending pair first
    * parked BEFORE `beforeBatch` (its `first_seen` < the horizon) moves
    * to the `_dead_letter` relation — retained for operator forensics
    * and covered by [[eraseFromNearDupStores]], never re-tried — and
    * the backlog is rewritten without it, so the backlog holds only
    * pairs still inside the horizon. Returns the newly dead-lettered
    * rows.
    *
    * Pick `beforeBatch` from the same clock as the batch ids (e.g.
    * newest committed batch − allowed lag); run from the compaction
    * cadence, quiesced like [[verifyPendingAndCompact]] — expiry is a
    * policy decision, so it deliberately stays a separate sweep rather
    * than a side effect of verification. Crash safety: dead-letter is
    * replaced first, backlog second ([[replaceDir]]); a crash in between
    * leaves the expired rows in BOTH (re-running the sweep converges —
    * the dead-letter union dedups, the backlog rewrite drops them),
    * never in neither; a crash inside either replace leaves that dir
    * parked, and the re-run restores it before reading. Idempotent once
    * converged. Returns the dead-letter
    * entries BELOW the horizon — everything this and earlier sweeps
    * expired at it (a stable view: re-sweeping at the same horizon
    * returns the same rows and moves nothing). */
  def expirePendingToDeadLetter(spark: SparkSession, outDir: String,
                                beforeBatch: Long): DataFrame =
   MaintenanceLease.withLease(spark, outDir) {
    val outPath = new Path(outDir)
    recoverStore(spark, outDir)
    val pending = pendingCandidates(spark, outDir).persist()
    try {
      val expired = pending.filter(col("first_seen") < beforeBatch)
      val kept = pending.filter(col("first_seen") >= beforeBatch)
      if (!expired.isEmpty) {
        val dead = deadLetterCandidates(spark, outDir)
          .unionByName(expired).distinct()
        replaceWith(spark, new Path(outPath, DeadLetterDirName), dead)
        replaceWith(spark, new Path(outPath, PendingDirName), kept)
      }
    } finally pending.unpersist()
    deadLetterCandidates(spark, outDir).filter(col("first_seen") < beforeBatch)
   }

  /** Retry entry point for the pending backlog: re-verify it against
    * the CURRENT shingle store, returning the pairs that are now
    * verifiable (same jaccard arithmetic as the live path — shared
    * [[graft.operators.Dedup.verifyPairs]]). This variant only EMITS —
    * it does not touch the backlog, so repeated calls re-emit the same
    * pairs; the production sweep is [[verifyPendingAndCompact]], which
    * also persists its output and retires resolved pairs. */
  def verifyPending(spark: SparkSession, storeDir: String, outDir: String,
                    threshold: Double = 0.5): DataFrame = {
    val pending = pendingCandidates(spark, outDir)
    graft.operators.Dedup.verifyPairs(pending,
      backlogFilteredStore(spark, storeDir, pending), threshold)
  }

  /** The shingle store restricted to a pair relation's endpoint docs —
    * a broadcast semi-join BEFORE the at-least-once distinct, so no
    * verify pass ever shuffles, distincts, or caches the corpus-sized
    * store (the pair set is candidate/backlog-sized and bounded by the
    * TTL sweep; only its docs' shingles feed the jaccard arithmetic —
    * the r16 softDedupIngest argument, bit-equality proven by the same
    * oracles). */
  private def backlogFilteredStore(spark: SparkSession, storeDir: String,
                                   pairs: DataFrame): DataFrame =
    storeContents(spark, storeDir, "doc_id BIGINT, h BIGINT")
      .join(broadcast(
        pairs.select(col("id_a").as("doc_id"))
          .unionByName(pairs.select(col("id_b").as("doc_id"))).distinct()),
        Seq("doc_id"), "left_semi")
      .distinct()

  /** The production backlog sweep: verify what is NOW verifiable,
    * persist the newly-verified pairs into the same `batch=<id>` output
    * layout the live path writes (partition `batch=sweep-<k>`), and
    * REWRITE the backlog minus every resolved pair. Resolved = both doc
    * ids present in the store — whether or not the pair clears the
    * jaccard threshold (a verifiable non-duplicate is a settled no, not
    * a retry). Pairs whose docs have still not arrived stay parked, so
    * the backlog shrinks monotonically and repeated sweeps never
    * re-emit earlier sweeps' results; downstream reads of `outDir`
    * stay dedup-free with no cross-sweep reconciliation.
    *
    * Crash safety: newly-verified pairs are anti-joined against the
    * pairs already in `outDir` BEFORE writing, so a sweep replayed
    * after dying between its output write and its backlog rewrite
    * writes an empty delta instead of duplicating output. The backlog
    * rewrite is [[replaceDir]]: a crash leaves the old backlog in place
    * or parked, and the next sweep (or verify-stream start) restores it
    * before reading. Run sweeps while the verify stream is quiesced
    * (between micro-batches): a live `_pending/batch=<id>` write
    * concurrent with the replace is not coordinated. */
  def verifyPendingAndCompact(spark: SparkSession, storeDir: String,
                              outDir: String,
                              threshold: Double = 0.5): DataFrame =
   // leased on the output root: the sweep-dir probe, output write and
   // backlog replace must not interleave with another sweep or an erasure
   MaintenanceLease.withLease(spark, outDir) {
    val outPath = new Path(outDir)
    val fs = outPath.getFileSystem(spark.sessionState.newHadoopConf())
    recoverStore(spark, outDir)
    val pending = pendingCandidates(spark, outDir).persist()
    // backlog-endpoint filter before the distinct — the sweep must not
    // pay a corpus-sized shuffle/cache either (see backlogFilteredStore)
    val store = backlogFilteredStore(spark, storeDir, pending).persist()
    try {
      val ids = store.select(col("doc_id")).distinct()
      val idsA = ids.withColumnRenamed("doc_id", "id_a")
      val idsB = ids.withColumnRenamed("doc_id", "id_b")
      val ready = pending
        .join(idsA, Seq("id_a"), "left_semi")
        .join(idsB, Seq("id_b"), "left_semi")
        .select(col("id_a"), col("id_b"))
      // still-parked rows keep their ORIGINAL first_seen through the
      // rewrite — the TTL sweep's age anchor must survive compaction
      val still = pending.join(idsA, Seq("id_a"), "left_anti")
        .unionByName(pending.join(idsB, Seq("id_b"), "left_anti"))
        .distinct()
      val already = spark.read
        .schema("id_a BIGINT, id_b BIGINT, jaccard DOUBLE")
        .parquet(outDir).select(col("id_a"), col("id_b"))
      val fresh = graft.operators.Dedup.verifyPairs(ready, store, threshold)
        .select(col("id_a"), col("id_b"), col("jaccard"))
        .join(already, Seq("id_a", "id_b"), "left_anti")
      val sweepDir = Iterator.from(0)
        .map(i => new Path(outPath, s"batch=sweep-$i"))
        .find(p => !fs.exists(p)).get
      val wrote = !fresh.isEmpty
      if (wrote) fresh.write.mode("overwrite").parquet(sweepDir.toString)
      replaceWith(spark, new Path(outPath, PendingDirName), still)
      if (wrote)
        spark.read.schema("id_a BIGINT, id_b BIGINT, jaccard DOUBLE")
          .parquet(sweepDir.toString)
      else
        spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
          StructType.fromDDL("id_a BIGINT, id_b BIGINT, jaccard DOUBLE"))
    } finally { pending.unpersist(); store.unpersist() }
   }

  /** Streaming materialized rollup — [[graft.operators.Incremental]]'s
    * partial-aggregate store maintained by the stream itself: each
    * micro-batch folds into the prior store version and writes
    * `v=<batchId>/` (the whole store is |distinct keys| partial rows,
    * so a version is kilobytes per million keys — rewriting it per
    * batch is cheap; the raw history is NEVER rescanned). Crash-safe by
    * the same argument as the batch-dir file sinks: a replayed batch
    * re-reads the immutable prior version (the max version below its
    * own id) and overwrites only `v=<its-id>`, so checkpoint +
    * idempotent versioned write = effective exactly-once. Readers pick
    * the newest complete version via [[latestPartials]] and finalize
    * with [[graft.operators.Incremental.finalizeStats]]. */
  def startIncrementalAggStore(orders: DataFrame, storeDir: String,
                               checkpointDir: String): StreamingQuery =
    orders.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val prior = latestPartials(spark, storeDir, beforeVersion = batchId)
        graft.operators.Incremental.mergeDelta(prior, batch)
          .write.mode("overwrite").parquet(s"$storeDir/v=$batchId")
      }
      .start()

  /** [[startIncrementalAggStore]] for a RETRACT STREAM: rows carry
    * `_sign` ∈ {+1, −1} and each micro-batch folds SIGNED partials
    * ([[graft.operators.Incremental.mergeSignedDelta]]) into the prior
    * version. A retraction is therefore just another micro-batch
    * arriving through the normal checkpointed stream — exactly-once,
    * crash-safety, and replay isolation all inherit from the existing
    * versioned-fold argument with NO new machinery (the alternative, a
    * driver-side rewrite of the newest version, would collide with the
    * stream's own batch-id version namespace and lose the idempotent
    * replay property). Decimal partials make the inverse fold EXACT:
    * ingest-then-retract ≡ never-ingested, bit-for-bit, which the
    * `stream_agg_retract` gate pins against the filtered flat
    * recompute. Serve with
    * [[graft.operators.Incremental.finalizeStatsChecked]] — it refuses
    * negative signed counts (retraction without ingest) loudly. */
  def startSignedAggStore(rows: DataFrame, storeDir: String,
                          checkpointDir: String): StreamingQuery =
    rows.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val prior = latestPartials(spark, storeDir, beforeVersion = batchId)
        graft.operators.Incremental.mergeSignedDelta(prior, batch)
          .write.mode("overwrite").parquet(s"$storeDir/v=$batchId")
      }
      .start()

  /** Streaming CDC snapshot store — [[graft.operators.Cdc.applyChangelog]]
    * folded per micro-batch into a versioned snapshot: each batch
    * applies its changelog slice to the prior snapshot version and
    * overwrites only `v=<batchId>`, so checkpoint + idempotent
    * versioned write = effective exactly-once, same crash argument as
    * [[startIncrementalAggStore]]. Sequential-fold ≡ one-shot merge
    * holds under the standard CDC topic contract (a key's changes
    * arrive in `_seq` order across batches; within a batch the per-key
    * window picks the max): update-then-update keeps the later row,
    * update-then-delete deletes, delete-then-insert resurrects — in
    * both formulations. Seed the pre-changelog snapshot as `v=-1`.
    *
    * Unlike the agg store, a version here is the full snapshot (wide
    * rows, not per-key partials) — the per-batch rewrite prices at
    * snapshot size, which is the non-compacting variant of the
    * production shape (real deployments partition the rewrite or use a
    * merge-on-read table format; the FOLD arithmetic this pins is the
    * same either way). */
  def startCdcSnapshotStore(changes: DataFrame, storeDir: String,
                            checkpointDir: String, keyCols: Seq[String],
                            snapshotSchema: StructType): StreamingQuery =
    changes.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val prior = latestSnapshot(spark, storeDir, snapshotSchema,
          beforeVersion = batchId)
        graft.operators.Cdc.applyChangelog(prior, batch, keyCols)
          .write.mode("overwrite").parquet(s"$storeDir/v=$batchId")
      }
      .start()

  /** SCD2 companion to [[startCdcSnapshotStore]]: the versioned store
    * holds the full HISTORY table and each micro-batch folds its
    * changelog slice in via
    * [[graft.operators.Cdc.applyChangelogScd2Delta]] — same seed
    * (`v=-1` = the pre-changelog history), same idempotent versioned
    * write, same exactly-once argument. Point-in-time queries stay
    * answerable at every version boundary. */
  def startScd2HistoryStore(changes: DataFrame, storeDir: String,
                            checkpointDir: String, keyCols: Seq[String],
                            historySchema: StructType): StreamingQuery =
    changes.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val prior = latestSnapshot(spark, storeDir, historySchema,
          beforeVersion = batchId)
        graft.operators.Cdc.applyChangelogScd2Delta(prior, batch, keyCols)
          .write.mode("overwrite").parquet(s"$storeDir/v=$batchId")
      }
      .start()

  /** Newest snapshot version strictly below `beforeVersion` (same
    * replay isolation as [[latestPartials]]). The seed version `v=-1`
    * must exist before the stream starts — a CDC stream with no base
    * snapshot is a pipeline wiring bug, so this fails loudly instead
    * of inventing an empty base. */
  def latestSnapshot(spark: SparkSession, storeDir: String,
                     schema: StructType,
                     beforeVersion: Long = Long.MaxValue): DataFrame = {
    val base = new java.io.File(storeDir)
    val versions = Option(base.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("v="))
      .map(_.getName.stripPrefix("v=").toLong)
      .filter(_ < beforeVersion)
    require(versions.nonEmpty,
      s"CDC snapshot store $storeDir has no version below $beforeVersion — " +
        "seed the base snapshot as v=-1 before starting the stream")
    spark.read.schema(schema).parquet(s"$storeDir/v=${versions.max}")
  }

  /** Newest store version strictly below `beforeVersion` (replay
    * isolation: a re-run of batch b must not read b's own partial
    * output); empty partials when no version exists yet. */
  def latestPartials(spark: SparkSession, storeDir: String,
                     beforeVersion: Long = Long.MaxValue): DataFrame = {
    val base = new java.io.File(storeDir)
    val versions = Option(base.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("v="))
      .map(_.getName.stripPrefix("v=").toLong)
      .filter(_ < beforeVersion)
    if (versions.isEmpty)
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        StructType.fromDDL(
          // matches orderPartials' output type (sum over DECIMAL(18,2)
          // widens to 28,2); later merges widen further and parquet
          // versions are self-describing, so drift is harmless
          "o_custkey BIGINT, n_orders BIGINT, total_dec DECIMAL(28,2)"))
    else spark.read.parquet(s"$storeDir/v=${versions.max}")
  }

  /** Streaming half of the mix-drift monitor: watermarked per-window
    * category counts in append mode — each emitted row is a CLOSED
    * window's final count, so the downstream drift analysis never sees
    * a partial window. The stream shuffles only (window, category)
    * partial counts (map-side combined); state is watermark-bounded.
    * The categorical-share / TVD law itself is batch [[mixDrift]] over
    * the sink — chaining it INTO the streaming agg would need a second
    * stateful aggregation per window, and the per-window analysis frame
    * is |categories| rows, not stream-sized, so there is nothing to
    * gain from streaming it. */
  def mixCounts(events: DataFrame, categoryCol: String = "event_type",
                watermark: String = "10 minutes",
                window_ : String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col(categoryCol).as("category"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("category"), col("n"))

  /** Batch drift analysis over [[mixCounts]]'s closed-window sink vs a
    * static baseline distribution `(category, base_ppm)` — the same
    * integer-ppm / total-variation-distance law as
    * [[graft.operators.Profiling.categoryDrift]] (kept as a separate
    * formulation deliberately: that one derives BOTH sides' shares from
    * slices, this one grids windows against a precomputed baseline —
    * the shared law is pinned by each side's own exact tests, and
    * DriftSpec/StreamingSpec both assert the ½·Σ|Δ| identity, so a
    * drift between the two copies cannot pass CI). Per (window,
    * category): count, share_ppm, base_ppm, |delta|; plus one
    * `__tvd__` row per window. Baseline categories missing from a
    * window still contribute their full drift mass (the window×baseline
    * grid is built explicitly — both sides are tiny: closed windows ×
    * category vocabulary, never the stream). */
  def mixDrift(closed: DataFrame, baseline: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    // renamed grid columns keep the full-outer join unambiguous (the
    // grid derives from `closed` — a self-join by lineage)
    val grid = closed.select(col("w_start").as("__gw")).distinct()
      .crossJoin(broadcast(baseline.select(col("category").as("__gc"))))
    val full = grid
      .join(closed.select(col("w_start"), col("category"), col("n")),
        col("__gw") === col("w_start") && col("__gc") === col("category"),
        "full_outer")
      .select(
        coalesce(col("w_start"), col("__gw")).as("w_start"),
        coalesce(col("category"), col("__gc")).as("category"),
        coalesce(col("n"), lit(0L)).as("n"))
    val totals = full.groupBy(col("w_start")).agg(sum(col("n")).as("__tot"))
    val shares = full
      .join(broadcast(totals), "w_start")
      .withColumn("share_ppm", expr("n * 1000000L div __tot"))
      .join(broadcast(baseline), Seq("category"), "left")
      .withColumn("base_ppm", coalesce(col("base_ppm"), lit(0L)))
      .withColumn("delta_ppm", abs(col("share_ppm") - col("base_ppm")))
      .select(col("w_start"), col("category"), col("n"),
        col("share_ppm"), col("base_ppm"), col("delta_ppm"))
    val tvd = shares.groupBy(col("w_start"))
      .agg(sum(col("n")).as("n"),
        expr("sum(delta_ppm) div 2").as("delta_ppm"))
      .select(col("w_start"), lit("__tvd__").as("category"), col("n"),
        lit(1000000L).as("share_ppm"), lit(1000000L).as("base_ppm"),
        col("delta_ppm"))
    shares.unionByName(tvd).orderBy(col("w_start"), col("category"))
  }

  /** One not-yet-closed session interval (event-time micros). */
  final case class OpenInterval(start: Long, end: Long, n: Long)
  final case class SessionsState(open: List[OpenInterval])
  final case class ClosedSession(user_id: Long, session_start: Long,
                                 session_end: Long, n_events: Long)

  /** Merge new event timestamps into the open-interval list: interval
    * union under the gap threshold. Order-insensitive — an out-of-order
    * event can extend an earlier interval or bridge two existing ones,
    * which the single running `lastTs` formulation gets wrong. */
  private[streaming] def mergeIntervals(open: List[OpenInterval], tss: Seq[Long],
                                        gapUs: Long): List[OpenInterval] = {
    val all = (open ++ tss.map(t => OpenInterval(t, t, 1))).sortBy(i => (i.start, i.end))
    all.foldLeft(List.empty[OpenInterval]) { (acc, iv) =>
      acc match {
        case h :: t if iv.start - h.end <= gapUs =>
          OpenInterval(h.start, math.max(h.end, iv.end), h.n + iv.n) :: t
        case _ => iv :: acc
      }
    }.reverse
  }

  /** Stateful sessionization via flatMapGroupsWithState — the streaming
    * equivalent of the batch q19 (30-minute gap), production shape:
    *
    *   - state per user is a LIST of open session intervals, merged under
    *     the gap, so out-of-order events across micro-batches (within the
    *     watermark) sessionize exactly like the batch sort;
    *   - `EventTimeTimeout` + the watermark close sessions: an interval
    *     whose `end + gap` is behind the watermark can never be extended
    *     (no older event can arrive), so it is emitted once, exactly, in
    *     Append mode, and its state is dropped — state size is bounded by
    *     the watermark horizon, never by user lifetime.
    *
    * Output: one row per CLOSED session (user_id, session_start,
    * session_end, n_events), event-time micros. */
  def sessionize(spark: SparkSession, events: DataFrame,
                 gapUs: Long = 1800L * 1000000L,
                 watermarkDelay: String = "1 hour"): DataFrame = {
    import spark.implicits._
    // the watermark column itself must reach the stateful operator (the
    // unsupported-op checker resolves EventTimeTimeout against it), so ts
    // stays a Timestamp until inside the lambda
    val typed = events
      .select(col("user_id"), col("ts"))
      .withWatermark("ts", watermarkDelay)
      .as[(Long, java.sql.Timestamp)]
    def micros(t: java.sql.Timestamp): Long = {
      val i = t.toInstant
      i.getEpochSecond * 1000000L + i.getNano / 1000L
    }
    typed.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, rows: Iterator[(Long, java.sql.Timestamp)], state: GroupState[SessionsState]) =>
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val existing = state.getOption.map(_.open).getOrElse(Nil)
          val merged =
            if (state.hasTimedOut) existing
            else mergeIntervals(existing, rows.map(r => micros(r._2)).toSeq, gapUs)
          val (closed, stillOpen) = merged.partition(iv => iv.end + gapUs < wmUs)
          if (stillOpen.isEmpty) state.remove()
          else {
            state.update(SessionsState(stillOpen))
            // fire when the earliest open interval becomes closable
            // (guaranteed > current watermark by the partition above)
            state.setTimeoutTimestamp((stillOpen.map(_.end).min + gapUs) / 1000L + 1L)
          }
          closed.iterator.map(iv => ClosedSession(userId, iv.start, iv.end, iv.n))
      }
      .toDF()
  }
}
