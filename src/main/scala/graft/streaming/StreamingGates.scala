package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.operators.{Dedup, Incremental}
import graft.sources.Tables

/** Driver-gated entry points for the streaming family. Each one replays
  * a test table as a REAL multi-micro-batch file stream (one file per
  * chunk + `maxFilesPerTrigger=1`, so the stream commits several
  * batches through its checkpoint) driving the production
  * [[StreamingPipeline]] code paths to completion, then returns the
  * final materialized result for the driver's DuckDB compare.
  *
  * The oracle posture is the `sim_neardup_from_index` trick: each gate
  * is registered against the SAME oracle SQL as its batch twin, so the
  * hash compare proves stream ≡ batch ≡ oracle — the streaming family's
  * correctness becomes a hard driver signal instead of spec-only.
  *
  * The reference has no streaming at all (its Kafka use is a batch
  * producer — reference `PipelineProcessor.scala:148-156`); these gates
  * pin the replacement's exactly-once story end to end.
  */
object StreamingGates {

  // tracked scratch: the harness (Verify/Bench/specs) reclaims every
  // gate's staging/checkpoint/state dirs once the returned frame has
  // been consumed — an untracked Files.createTempDirectory here leaked
  // GBs per full run (r14 finding)
  private def tmp(prefix: String): String = graft.TmpDirs.create(prefix)

  /** Shuffle partition count of the wrapped stream gates' regions
    * ([[graft.Sessions.sized]]). It is in place when their queries
    * `start()`, so it is the count each stateful query fixes in its
    * checkpoint. The replay corpora are a few thousand rows through 3–4
    * micro-batches, while every stateful operator pays a per-partition
    * state-store fixed cost (open/commit/snapshot × partitions ×
    * batches; state ops also disable AQE coalescing): 32 partitions
    * were ~40% of `stream_stream_join`'s wall time, measured.
    * Correctness cannot depend on the count — every gate's fold is
    * order-insensitive (decimal partials, count aggregates, per-key
    * state, inner joins) and each gate hash-matches its batch twin's
    * oracle. Production streams size this by state volume.
    *
    * Measured decisions (r11, sf0.1), recorded so they are not re-tried
    * blind:
    *  - The RocksDB state-store provider cost each stateful gate
    *    ~1.1–1.7 s, min AND med (windowed agg 3.25 → 4.44 s, sessionize
    *    3.17 → 4.29, mix-drift 3.30 → 5.00, stream-stream join
    *    6.19 → 7.52): native store spin-up per partition × batch
    *    dominates at toy state sizes. Semantics are identical (the gates
    *    hash-matched under both providers); production wants RocksDB
    *    once state outgrows executor heap — it bounds memory, not time.
    *  - Wrapping all 11 foreachBatch gates of that round cost +5.0 s net
    *    (9 of 11 slower by 0.1–1.5 s): their per-batch jobs do real CPU
    *    work on corpus-sized batches (shingling, variant hashing,
    *    levenshtein verify), which 8 partitions underuse on 32 cores.
    *    [[streamNearDup]] kept the wrap: its two queries' per-batch work
    *    is small index probes, 9.1/9.3 s wrapped vs 9.4–13.9 s
    *    unwrapped (lower AND tighter). */
  private val GatePartitions = 8

  /** Time-range replay chunker: assign each event to one of `n` chunks by
    * equal-width TIME ranges (chunk ∈ 1..n), so every event in chunk i+1
    * is later than every event in chunk i — the changelog arrival
    * contract both watermarked gates need (append-mode finalizes windows
    * behind the watermark; a hash chunker would put the global max ts in
    * the first batch and mark nearly everything after it late). Two
    * scalar boundaries from one min/max agg replace the previous
    * `ntile(n) OVER (ORDER BY ts)` — a global single-partition sort that
    * cannot scale and tripped WindowExec's no-partition warning.
    *
    * Null event times are rejected up front with a named error: a null
    * ts would land in a NULL chunk and silently vanish from the replay
    * (the old ntile ordering retained them), which would make a
    * stream-vs-batch mismatch look like an engine bug instead of bad
    * input. The driver's events table has no null ts (TablesSpec); a
    * production replay should drop-and-count them before chunking. */
  private def timeRangeChunks(events: DataFrame, n: Int): DataFrame = {
    val mm = events
      .agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))),
        count(lit(1)), count(col("ts"))).head()
    require(mm.getLong(2) > 0, "timeRangeChunks: empty events input — nothing to replay")
    require(mm.getLong(3) == mm.getLong(2),
      s"timeRangeChunks: ${mm.getLong(2) - mm.getLong(3)} events have null ts — " +
        "they would be dropped from the replay; filter (and count) them explicitly first")
    val (lo, hi) = (mm.getLong(0), mm.getLong(1))
    val span = math.max(1L, hi - lo + 1)
    events.withColumn("chunk",
      least(lit(n - 1),
        ((unix_micros(col("ts")) - lit(lo)) * n / span).cast("int")) + 1)
  }

  /** Replay `orders` as a 3-batch changelog through the streaming
    * incremental-agg store ([[StreamingPipeline.startIncrementalAggStore]]:
    * per-batch fold into the prior store version, versioned idempotent
    * writes), then finalize the newest store version. Gated against the
    * flat GROUP BY over all orders — the same oracle as the batch
    * `agg_incremental_orders` — proving the streamed fold bit-equal to
    * the full recompute (decimal partials make the fold
    * order-insensitive, so WHICH rows share a micro-batch cannot leak
    * into the result). A [[StreamingPipeline.retainVersions]] sweep
    * runs MID-STREAM (quiesced between micro-batches, after the
    * checkpoint committed the folded batches), so the hash compare also
    * pins that retiring superseded store versions never touches the
    * serving fold — retention is priced into the gate, not just
    * unit-tested. */
  def streamAggStore(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(spark, dir)
    val in = tmp("graft_sgate_agg_in_")
    val store = tmp("graft_sgate_agg_store_")
    val ckpt = tmp("graft_sgate_agg_ckpt_")
    def feed(i: Int): Unit =
      orders.filter(pmod(col("o_orderkey"), lit(3)) === i)
        .coalesce(1).write.mode("append").parquet(in)
    feed(0)
    val src = spark.readStream.schema(orders.schema)
      .option("maxFilesPerTrigger", "1").parquet(in)
    val q = StreamingPipeline.startIncrementalAggStore(src, store, ckpt)
    try {
      q.processAllAvailable()
      feed(1)
      q.processAllAvailable()
      // two committed versions exist (v=0, v=1); retire all but the
      // newest, then batch 2 folds against the surviving v=1
      StreamingPipeline.retainVersions(spark, store, keep = 1)
      feed(2)
      q.processAllAvailable()
    } finally q.stop()
    Incremental.finalizeStats(StreamingPipeline.latestPartials(spark, store))
      .orderBy(col("o_custkey"))
  }

  /** The order slice retracted mid-stream by [[streamAggRetract]] —
    * drawn from the first two ingest chunks, so every retraction
    * matches rows the store has already folded. */
  private val AggRetractSliceSql = "(o_orderkey % 3) < 2 AND (o_orderkey % 13) = 7"

  val streamAggRetractSql: String =
    Incremental.aggIncrementalExcludingSql(AggRetractSliceSql)

  /** [[streamAggStore]] on a RETRACT STREAM — the aggregate-tier half
    * of a right-to-be-forgotten delete: after two insert batches, a
    * batch of `_sign = −1` rows retracts a slice of the already-folded
    * orders THROUGH THE STREAM ITSELF (a retraction is just another
    * micro-batch — exactly-once and crash-safety inherit from the
    * versioned fold, no driver-side version surgery), then a third
    * insert batch folds on top. Gated against the flat GROUP BY over
    * the orders MINUS the slice: ingest-then-retract must be
    * bit-indistinguishable from never-ingested — the decimal partials
    * make the inverse fold exact where float sums would drift — and
    * keys whose every order was retracted must VANISH from serving,
    * not linger as zero rows. Serving goes through
    * [[graft.operators.Incremental.finalizeStatsChecked]], whose
    * negative-count guard (retraction without ingest refused loudly)
    * is pinned in IncrementalSpec. */
  def streamAggRetract(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(spark, dir)
    val in = tmp("graft_sgate_aggr_in_")
    val store = tmp("graft_sgate_aggr_store_")
    val ckpt = tmp("graft_sgate_aggr_ckpt_")
    def feed(rows: org.apache.spark.sql.DataFrame): Unit =
      rows.coalesce(1).write.mode("append").parquet(in)
    def insert(i: Int) =
      orders.filter(pmod(col("o_orderkey"), lit(3)) === i)
        .withColumn("_sign", lit(1))
    val retraction = orders.filter(expr(AggRetractSliceSql))
      .withColumn("_sign", lit(-1))
    feed(insert(0))
    val src = spark.readStream
      .schema(insert(0).schema)
      .option("maxFilesPerTrigger", "1").parquet(in)
    val q = StreamingPipeline.startSignedAggStore(src, store, ckpt)
    try {
      q.processAllAvailable()
      feed(insert(1))
      q.processAllAvailable()
      feed(retraction)
      q.processAllAvailable()
      feed(insert(2))
      q.processAllAvailable()
    } finally q.stop()
    Incremental.finalizeStatsChecked(
        StreamingPipeline.latestPartials(spark, store))
      .orderBy(col("o_custkey"))
  }

  /** Replay the synthetic orders changelog in `_seq` order (one
    * micro-batch per seq epoch — the CDC topic contract) through the
    * versioned streaming snapshot store
    * ([[StreamingPipeline.startCdcSnapshotStore]]: per-batch
    * [[graft.operators.Cdc.applyChangelog]] fold, seeded with the
    * pre-changelog `orders` snapshot as `v=-1`), then read the newest
    * version. Gated against the batch `cdc_merge_orders` oracle — the
    * hash compare proves streamed-fold ≡ one-shot-merge ≡ oracle across
    * every changelog arm (double update, delete-after-update, insert,
    * passthrough). */
  def streamCdcStore(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Cdc
    val orders = Tables.orders(spark, dir)
    val changes = graft.Caches.track(
      Cdc.syntheticOrdersChangelog(orders).localCheckpoint(true))
    val in = tmp("graft_sgate_cdc_in_")
    val store = tmp("graft_sgate_cdc_store_")
    val ckpt = tmp("graft_sgate_cdc_ckpt_")
    orders.write.mode("overwrite").parquet(s"$store/v=-1")
    val src = spark.readStream.schema(changes.schema).parquet(in)
    val q = StreamingPipeline.startCdcSnapshotStore(
      src, store, ckpt, Seq("o_orderkey"), orders.schema)
    try {
      Seq(1L, 2L).foreach { seq =>
        changes.filter(col("_seq") === seq)
          .coalesce(1).write.mode("append").parquet(in)
        q.processAllAvailable()
        // mid-stream retention: after the seq-1 batch commits, retire
        // everything but its snapshot (the v=-1 seed goes); the seq-2
        // fold then reads the surviving version — the hash compare
        // proves the sweep invisible to the serving fold
        if (seq == 1L) StreamingPipeline.retainVersions(spark, store, keep = 1)
      }
    } finally q.stop()
    StreamingPipeline.latestSnapshot(spark, store, orders.schema)
      .orderBy(col("o_orderkey"))
  }

  /** SCD2 twin of [[streamCdcStore]]: the same seq-ordered changelog
    * replay folded through the versioned HISTORY store
    * ([[StreamingPipeline.startScd2HistoryStore]], seeded with the
    * pre-changelog history = every order open with null bounds), gated
    * against the batch `cdc_scd2_orders` oracle — slice-fold ≡
    * one-shot SCD2 merge including every validity bound and
    * `is_current` flag. */
  def streamCdcScd2(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Cdc
    import org.apache.spark.sql.types.{BooleanType, LongType}
    val orders = Tables.orders(spark, dir)
    val changes = graft.Caches.track(
      Cdc.syntheticOrdersChangelog(orders).localCheckpoint(true))
    val in = tmp("graft_sgate_scd2_in_")
    val store = tmp("graft_sgate_scd2_store_")
    val ckpt = tmp("graft_sgate_scd2_ckpt_")
    // seed history: the untouched snapshot, all rows open
    orders
      .withColumn("valid_from", lit(null).cast(LongType))
      .withColumn("valid_to", lit(null).cast(LongType))
      .withColumn("is_current", lit(true))
      .write.mode("overwrite").parquet(s"$store/v=-1")
    val histSchema = orders.schema
      .add("valid_from", LongType).add("valid_to", LongType)
      .add("is_current", BooleanType, nullable = false)
    val src = spark.readStream.schema(changes.schema).parquet(in)
    val q = StreamingPipeline.startScd2HistoryStore(
      src, store, ckpt, Seq("o_orderkey"), histSchema)
    try {
      Seq(1L, 2L).foreach { seq =>
        changes.filter(col("_seq") === seq)
          .coalesce(1).write.mode("append").parquet(in)
        q.processAllAvailable()
        // same mid-stream retention pin as streamCdcStore
        if (seq == 1L) StreamingPipeline.retainVersions(spark, store, keep = 1)
      }
    } finally q.stop()
    StreamingPipeline.latestSnapshot(spark, store, histSchema)
      .orderBy(col("o_orderkey"), col("valid_from"))
  }

  /** Replay `events` as a time-ordered 3-chunk stream through the
    * watermarked tumbling-window aggregation
    * ([[StreamingPipeline.windowedCounts]], 1-hour windows, append
    * mode), with a far-future sentinel clock event (`__clock__` type,
    * filtered from the result) advancing the watermark past every real
    * window's end so all of them emit. Gated against the batch
    * `q18_events_hourly` oracle — the decimal-cast partials make the
    * per-window fold order-insensitive, so micro-batch boundaries
    * cannot leak into the sums and the hash compare proves
    * stream ≡ batch ≡ oracle. */
  def streamWindowedAgg(spark: SparkSession, dir: String): DataFrame =
    graft.Sessions.sized(spark, GatePartitions) { spark =>
    val events = Tables.events(spark, dir)
    val in = tmp("graft_sgate_win_in_")
    val out = tmp("graft_sgate_win_out_")
    val ckpt = tmp("graft_sgate_win_ckpt_")
    val chunked = graft.Caches.track(
      timeRangeChunks(events, 3).localCheckpoint(true))
    val src = spark.readStream.schema(events.schema).parquet(in)
    val q = StreamingPipeline.windowedCounts(src,
        watermark = "1 hour", window_ = "1 hour", slide = "1 hour")
      .writeStream.outputMode("append").format("parquet")
      .option("path", out).option("checkpointLocation", ckpt).start()
    try {
      (1 to 3).foreach { i =>
        chunked.filter(col("chunk") === i).drop("chunk")
          .coalesce(1).write.mode("append").parquet(in)
        q.processAllAvailable()
      }
      val maxTs = events.agg(max(col("ts"))).head().getTimestamp(0)
      events.limit(1)
        .withColumn("event_type", lit("__clock__"))
        .withColumn("ts",
          lit(new java.sql.Timestamp(maxTs.getTime + 7L * 24 * 3600 * 1000L)))
        .coalesce(1).write.mode("append").parquet(in)
      q.processAllAvailable()
    } finally q.stop()
    spark.read
      .schema("w_start TIMESTAMP, w_end TIMESTAMP, event_type STRING, n BIGINT, total_value DOUBLE")
      .parquet(out)
      .filter(col("event_type") =!= "__clock__")
      .select(col("w_start").as("bucket"), col("event_type"), col("n"), col("total_value"))
      .orderBy(col("bucket"), col("event_type"))
  }

  /** Replay `events` as a time-ordered 3-chunk stream (the changelog
    * arrival shape: each chunk's events are all >= the previous chunk's
    * max, so the 1-hour watermark never marks a replayed event late)
    * through the stateful sessionizer
    * ([[StreamingPipeline.sessionize]]: flatMapGroupsWithState,
    * interval-merge state, EventTimeTimeout close), then a far-future
    * sentinel clock event pushes the watermark past every real
    * session's end + gap so all of them close. The closed sessions roll
    * up per user to exactly the batch q19 relation, so the gate shares
    * `q19_user_sessions`' oracle SQL — stream ≡ batch ≡ oracle.
    *
    * The time-range chunking and the batch-by-batch
    * `processAllAvailable` drive are replay scaffolding (a deterministic
    * stand-in for a Kafka topic), not operator cost; the operator's own
    * state is bounded by the watermark horizon, never by user
    * lifetime. */
  def streamSessionize(spark: SparkSession, dir: String): DataFrame =
    graft.Sessions.sized(spark, GatePartitions) { spark =>
    val events = Tables.events(spark, dir)
    val in = tmp("graft_sgate_sess_in_")
    val out = tmp("graft_sgate_sess_out_")
    val ckpt = tmp("graft_sgate_sess_ckpt_")
    val sentinel = 999999999L
    val chunked = graft.Caches.track(
      timeRangeChunks(events, 3).localCheckpoint(true))
    val src = spark.readStream.schema(events.schema)
      .parquet(in)
    val q = StreamingPipeline.sessionize(spark, src)
      .writeStream.outputMode("append").format("parquet")
      .option("path", out).option("checkpointLocation", ckpt).start()
    try {
      (1 to 3).foreach { i =>
        chunked.filter(col("chunk") === i).drop("chunk")
          .coalesce(1).write.mode("append").parquet(in)
        q.processAllAvailable()
      }
      val maxTs = events.agg(max(col("ts"))).head().getTimestamp(0)
      events.limit(1)
        .withColumn("user_id", lit(sentinel))
        .withColumn("ts",
          lit(new java.sql.Timestamp(maxTs.getTime + 7L * 24 * 3600 * 1000L)))
        .coalesce(1).write.mode("append").parquet(in)
      q.processAllAvailable()
    } finally q.stop()
    spark.read
      .schema("user_id BIGINT, session_start BIGINT, session_end BIGINT, n_events BIGINT")
      .parquet(out)
      .filter(col("user_id") =!= sentinel)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"), sum(col("n_events")).as("n_events"))
      .orderBy(col("user_id"))
  }

  /** Replay `events` as a time-ordered 3-chunk stream through the
    * watermarked streaming mix monitor
    * ([[StreamingPipeline.mixCounts]]: per-window closed category
    * counts, append mode, sentinel clock closing the tail windows),
    * then run the BATCH drift law over the closed-window sink: the
    * hour-aligned [[graft.operators.Profiling.DriftSplit]] partitions
    * the 1-hour windows exactly, so summing closed-window counts per
    * slice rebuilds the two event-level category histograms bit-for-bit
    * and [[graft.operators.Profiling.driftFromCounts]] (the SAME code
    * path as the batch report) yields `prof_drift_report`'s relation —
    * gated against that query's oracle, so the compare proves
    * stream ≡ batch ≡ oracle for the mix-drift monitor too. */
  def streamMixDrift(spark: SparkSession, dir: String): DataFrame =
    graft.Sessions.sized(spark, GatePartitions) { spark =>
    import graft.operators.Profiling
    val events = Tables.events(spark, dir)
    val in = tmp("graft_sgate_mix_in_")
    val out = tmp("graft_sgate_mix_out_")
    val ckpt = tmp("graft_sgate_mix_ckpt_")
    val chunked = graft.Caches.track(
      timeRangeChunks(events, 3).localCheckpoint(true))
    val src = spark.readStream.schema(events.schema).parquet(in)
    val q = StreamingPipeline.mixCounts(src)
      .writeStream.outputMode("append").format("parquet")
      .option("path", out).option("checkpointLocation", ckpt).start()
    try {
      (1 to 3).foreach { i =>
        chunked.filter(col("chunk") === i).drop("chunk")
          .coalesce(1).write.mode("append").parquet(in)
        q.processAllAvailable()
      }
      val maxTs = events.agg(max(col("ts"))).head().getTimestamp(0)
      events.limit(1)
        .withColumn("event_type", lit("__clock__"))
        .withColumn("ts",
          lit(new java.sql.Timestamp(maxTs.getTime + 7L * 24 * 3600 * 1000L)))
        .coalesce(1).write.mode("append").parquet(in)
      q.processAllAvailable()
    } finally q.stop()
    val closed = spark.read
      .schema("w_start TIMESTAMP, category STRING, n BIGINT").parquet(out)
      .filter(col("category") =!= "__clock__")
    val split = lit(Profiling.DriftSplit).cast("timestamp")
    Profiling.driftFromCounts(
      closed.filter(col("w_start") < split)
        .groupBy(col("category")).agg(sum(col("n")).as("n_a")),
      closed.filter(col("w_start") >= split)
        .groupBy(col("category")).agg(sum(col("n")).as("n_b")))
  }

  /** Replay `documents` as a 3-chunk stream through the STATELESS
    * fixed-point quality scorer
    * ([[graft.operators.QualityClassifier.scoreQuantized]]) serving the
    * PERSISTED model — the model-serving-on-streams story: training is
    * an offline job ([[graft.operators.QualityClassifier.trainPersistQuantized]]
    * runs here as gate setup), and the integer apply pass is one narrow
    * stateless projection, so it attaches to a stream with no
    * watermark, no state, no output-mode constraint. Gated against the
    * batch `qc_score` oracle over the same artifact: stream ≡ batch ≡
    * oracle for the serving path. */
  def streamQcScore(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.QualityClassifier
    val (qw, qBias) = QualityClassifier.trainPersistQuantized(spark, dir)
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val in = tmp("graft_sgate_qc_in_")
    val out = tmp("graft_sgate_qc_out_")
    val ckpt = tmp("graft_sgate_qc_ckpt_")
    (0 until 3).foreach { i =>
      docs.filter(pmod(col("doc_id"), lit(3)) === i)
        .coalesce(1).write.mode("append").parquet(in)
    }
    val src = spark.readStream
      .schema(StructType.fromDDL("doc_id BIGINT, text STRING"))
      .option("maxFilesPerTrigger", "1").parquet(in)
    val q = QualityClassifier.scoreQuantized(src, qw, qBias)
      .writeStream.outputMode("append").format("parquet")
      .option("path", out).option("checkpointLocation", ckpt).start()
    try q.processAllAvailable() finally q.stop()
    spark.read
      .schema("doc_id BIGINT, n_grams BIGINT, q_sum BIGINT, pred BOOLEAN")
      .parquet(out)
      .orderBy(col("doc_id"))
  }

  /** Train-offline / serve-on-stream for the CCNet perplexity-bucket
    * pipeline: [[graft.operators.TextAnalysis.trainPersistCcnet]] writes
    * the bigram-LM counts and the per-lang tercile thresholds once;
    * the document stream (3 micro-batches) is then scored and bucketed
    * per batch by the stateless serving half
    * ([[graft.operators.TextAnalysis.ccnetServe]] inside foreachBatch —
    * the scorer aggregates per doc, so it runs as a batch plan per
    * trigger rather than a watermarked streaming agg; each doc arrives
    * whole in one row, so per-batch scoring is exact). Gated against
    * the SAME oracle as the in-query `tx_ccnet_buckets`, so the hash
    * compare proves the persisted-artifact serving path lands where
    * the self-contained batch query does. */
  def streamCcnetScore(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.TextAnalysis
    val lmDir = tmp("graft_sgate_ccnet_lm_")
    // the trainer scopes and frees its own caches (a global releaseAll
    // here would unpersist FOREIGN relations process-wide); the default
    // cap is far above the gate vocabulary, so the persisted LM is
    // byte-identical to uncapped — the hash-exact compare below against
    // the uncapped oracle is the cap-transparency proof
    TextAnalysis.trainPersistCcnet(spark, dir, lmDir)
    // broadcast decision sized from the persisted artifact, not assumed
    val (big, ctx, th, broadcastLm) = TextAnalysis.openCcnetLm(spark, lmDir)
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("text"))
    val in = tmp("graft_sgate_ccnet_in_")
    val out = tmp("graft_sgate_ccnet_out_")
    val ckpt = tmp("graft_sgate_ccnet_ckpt_")
    (0 until 3).foreach { i =>
      docs.filter(pmod(col("doc_id"), lit(3)) === i)
        .coalesce(1).write.mode("append").parquet(in)
    }
    val src = spark.readStream
      .schema(StructType.fromDDL("doc_id BIGINT, lang STRING, text STRING"))
      .option("maxFilesPerTrigger", "1").parquet(in)
    val q = src.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        TextAnalysis.ccnetServe(batch, big, ctx, th, broadcastLm)
          .write.mode("append").parquet(out)
      }
      .option("checkpointLocation", ckpt).start()
    try q.processAllAvailable() finally q.stop()
    spark.read
      .schema("doc_id BIGINT, lang STRING, mean_millibits BIGINT, bucket STRING")
      .parquet(out)
      .orderBy(col("doc_id"))
  }

  /** Train-offline / serve-on-stream for the PARAGRAPH-granularity
    * CCNet pipeline — the paragraph twin of [[streamCcnetScore]]:
    * [[graft.operators.TextAnalysis.trainPersistCcnetParagraphs]]
    * persists the paragraph-internal LM and the paragraph-MEAN
    * thresholds once; the document stream is bucketed per batch by
    * [[graft.operators.TextAnalysis.ccnetParagraphServe]] (each doc
    * arrives whole, its paragraphs split in-batch, so per-batch scoring
    * is exact). Gated against the SAME oracle as `tx_ccnet_paragraphs`,
    * proving the persisted-artifact serving path lands where the
    * self-contained batch query does — including through the default
    * LM cap, which is transparent at gate vocabulary. */
  def streamCcnetParagraphs(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.TextAnalysis
    val lmDir = tmp("graft_sgate_ccnetp_lm_")
    TextAnalysis.trainPersistCcnetParagraphs(spark, dir, lmDir)
    val (big, ctx, th, broadcastLm) = TextAnalysis.openCcnetLm(spark, lmDir)
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("text"))
    val in = tmp("graft_sgate_ccnetp_in_")
    val out = tmp("graft_sgate_ccnetp_out_")
    val ckpt = tmp("graft_sgate_ccnetp_ckpt_")
    (0 until 3).foreach { i =>
      docs.filter(pmod(col("doc_id"), lit(3)) === i)
        .coalesce(1).write.mode("append").parquet(in)
    }
    val src = spark.readStream
      .schema(StructType.fromDDL("doc_id BIGINT, lang STRING, text STRING"))
      .option("maxFilesPerTrigger", "1").parquet(in)
    val q = src.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        TextAnalysis.ccnetParagraphServe(batch, big, ctx, th, broadcastLm)
          .write.mode("append").parquet(out)
      }
      .option("checkpointLocation", ckpt).start()
    try q.processAllAvailable() finally q.stop()
    spark.read
      .schema("doc_id BIGINT, lang STRING, n_paras BIGINT, " +
        "mean_millibits BIGINT, bucket STRING")
      .parquet(out)
      .orderBy(col("doc_id"))
  }

  /** Replay the appended near-dup variants as a 3-batch document
    * stream through the CAUSAL streaming substring-dedup ingest
    * ([[StreamingPipeline.startSubstringDedupStore]]): the base
    * documents' window-count index seeds `v=-1`, batch k (docs with
    * (doc_id − 10000) mod 3 = k, one file per chunk, driven
    * batch-by-batch) dedups against base ∪ batches ≤ k and merges its
    * counts forward. The oracle states EXACTLY that causal relation in
    * SQL — per append window, visible count = base count + running
    * per-batch count over batches ≤ its own — so the hash compare pins
    * the prefix-causal semantics themselves (a window duplicated only
    * by a LATER batch must NOT clean an earlier batch's doc), not just
    * the final state. */
  def streamSubstringDedup(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Dedup
    val aug = graft.Caches.track(Dedup.augmented(spark, dir).localCheckpoint(true))
    val in = tmp("graft_sgate_sub_in_")
    val out = tmp("graft_sgate_sub_out_")
    val store = tmp("graft_sgate_sub_store_")
    val ckpt = tmp("graft_sgate_sub_ckpt_")
    Dedup.buildSubstringIndex(spark,
      aug.filter(col("doc_id") < 10000), Dedup.SUB_W, s"$store/v=-1")
    val app = aug.filter(col("doc_id") >= 10000)
    val schema = StructType.fromDDL("doc_id BIGINT, text STRING")
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(in)
    val q = StreamingPipeline.startSubstringDedupStore(
      src, store, out, ckpt, Dedup.SUB_W)
    try {
      (0 until 3).foreach { i =>
        app.filter(pmod(col("doc_id") - 10000, lit(3)) === i)
          .select(col("doc_id"), col("text"))
          .coalesce(1).write.mode("append").parquet(in)
        q.processAllAvailable()
        // mid-stream retention on the v=<id> index store (the
        // streamAggStore pin): after batch 1 commits, versions
        // {-1, 0, 1} exist; retire all but v=1 — batch 2 reads the
        // newest-below, which the sweep preserved
        if (i == 1)
          StreamingPipeline.retainVersions(spark, store, keep = 1)
      }
    } finally q.stop()
    spark.read
      .schema("doc_id BIGINT, clean_text STRING, n_removed BIGINT")
      .parquet(s"$out/b*")
      .orderBy(col("doc_id"))
  }

  /** The erased slice of [[streamSubstringDelete]]: base docs plus
    * chunk-0/1 append docs (erased ids never re-arrive — chunk-2 ids
    * are excluded by construction). One SQL predicate shared verbatim
    * by the gate and its oracle. */
  private val SubstringDeleteSliceSql =
    "(doc_id < 10000 AND doc_id % 23 = 11) OR " +
      "(doc_id >= 10000 AND (doc_id - 10000) % 3 < 2 AND doc_id % 13 = 5)"

  val streamSubstringDeleteSql: String =
    Dedup.streamSubstringDeleteSql(SubstringDeleteSliceSql)

  /** [[streamSubstringDedup]] with RIGHT-TO-BE-FORGOTTEN erasure in the
    * middle — the count-shaped index's delete path (VERDICT r11 §missing
    * #2: tombstone masking cannot forget a COUNT; a deleted doc's window
    * counts kept suppressing duplicates of text no longer in the
    * corpus). After chunks 0–1 commit, an erase batch of `_sign = −1`
    * docs (base docs AND already-ingested append docs) arrives THROUGH
    * THE STREAM ([[StreamingPipeline.startSignedSubstringDedupStore]]:
    * their window counts are recomputed and SUBTRACTED at the fold,
    * zeros vanish, negatives refuse loudly), the erased docs' own
    * emitted output rows are purged via the composed
    * [[StreamingPipeline.eraseFromStore]] on the out family, and chunk 2
    * then dedups against the DECREMENTED index. The oracle states the
    * full causal relation in SQL — pre-erase batches saw all counts,
    * the post-erase batch sees kept counts only — so the hash compare
    * pins both halves: ingest-then-erase ≡ never-ingested for future
    * visibility (duplicates of forgotten text STOP being suppressed),
    * and erased docs leave the output entirely. */
  def streamSubstringDelete(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Dedup
    val aug = graft.Caches.track(Dedup.augmented(spark, dir).localCheckpoint(true))
    val root = tmp("graft_sgate_subd_")
    val in = s"$root/in"
    val out = s"$root/out"
    val store = s"$root/index"
    val ckpt = s"$root/ckpt"
    Dedup.buildSubstringIndex(spark,
      aug.filter(col("doc_id") < 10000), Dedup.SUB_W, s"$store/v=-1")
    val app = aug.filter(col("doc_id") >= 10000)
    val outSchema = "doc_id BIGINT, clean_text STRING, n_removed BIGINT"
    def feed(rows: DataFrame): Unit =
      rows.coalesce(1).write.mode("append").parquet(in)
    def insert(i: Int) =
      app.filter(pmod(col("doc_id") - 10000, lit(3)) === i)
        .select(col("doc_id"), col("text")).withColumn("_sign", lit(1))
    val erasure = aug.filter(expr(SubstringDeleteSliceSql))
      .select(col("doc_id"), col("text")).withColumn("_sign", lit(-1))
    feed(insert(0))
    val schema = StructType.fromDDL("doc_id BIGINT, text STRING, _sign INT")
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(in)
    val q = StreamingPipeline.startSignedSubstringDedupStore(
      src, store, out, ckpt, Dedup.SUB_W)
    try {
      q.processAllAvailable()
      feed(insert(1))
      q.processAllAvailable()
      // batch 2: the erase request, through the checkpointed stream —
      // the index decrement inherits exactly-once from the versioned fold
      feed(erasure)
      q.processAllAvailable()
      // quiesced at the committed boundary: purge the erased docs' OWN
      // emitted output rows (they are the forgotten docs' text) — fold
      // the out family with exclusion, retire tombstones, one call
      StreamingPipeline.eraseFromStore(spark, root,
        aug.filter(expr(SubstringDeleteSliceSql)).select(col("doc_id")),
        Seq(StreamingPipeline.StoreFamily("out", outSchema, Seq("doc_id"))),
        uptoVersion = 2)
      // batch 3: chunk 2 dedups against the DECREMENTED index — windows
      // whose only other copy was forgotten must come out UNCLEANED
      feed(insert(2))
      q.processAllAvailable()
    } finally q.stop()
    StreamingPipeline.storeContents(spark, out, outSchema)
      .orderBy(col("doc_id"))
  }

  /** Replay the augmented near-dup corpus as a 3-batch document stream
    * through the FULL streaming near-dup pipeline — shingle store
    * ([[StreamingPipeline.startShingleStore]]) + batch-equivalent LSH
    * candidates ([[StreamingPipeline.streamingNearDupCandidatesAll]]) +
    * per-batch exact verify ([[StreamingPipeline.startNearDupVerify]],
    * which shares [[Dedup.verifyPairs]] with the batch LSH) — then read
    * the verified-pairs sink. Gated against the batch `dd_minhash_lsh`
    * oracle: candidates collide on the same (band, signature) keys, the
    * verify runs the same hashed-shingle jaccard, so the outputs are
    * bit-identical once pair orientation is normalized (the stream
    * emits (later-arrival, earlier member); the batch emits
    * id_a < id_b).
    *
    * The store stream is drained BEFORE the verify stream starts, so no
    * candidate is ever store-lagged here — the lag/backlog path has its
    * own StreamingSpec coverage; this gate pins the arithmetic. All
    * events carry one fixed timestamp: eviction never fires during the
    * replay (the corpus IS the horizon), keeping the candidate set
    * equal to the batch self-join's by construction. */
  def streamNearDup(spark: SparkSession, dir: String): DataFrame =
    graft.Sessions.sized(spark, GatePartitions) { spark =>
    val corpus = Dedup.augmented(spark, dir)
    val in = tmp("graft_sgate_nd_in_")
    val store = tmp("graft_sgate_nd_store_")
    val out = tmp("graft_sgate_nd_out_")
    val ck1 = tmp("graft_sgate_nd_ck1_")
    val ck2 = tmp("graft_sgate_nd_ck2_")
    (0 until 3).foreach { i =>
      corpus.filter(pmod(col("doc_id"), lit(3)) === i)
        .select(col("doc_id"), col("text"),
          lit("2024-01-01 00:00:00").cast("timestamp").as("ts"))
        .coalesce(1).write.mode("append").parquet(in)
    }
    val schema = StructType.fromDDL("doc_id BIGINT, text STRING, ts TIMESTAMP")
    def src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(in)
    val storeQ = StreamingPipeline.startShingleStore(src, store, ck1)
    try storeQ.processAllAvailable() finally storeQ.stop()
    val verifyQ = StreamingPipeline.startNearDupVerify(
      StreamingPipeline.streamingNearDupCandidatesAll(src), store, out, ck2)
    try verifyQ.processAllAvailable() finally verifyQ.stop()
    spark.read.schema("id_a BIGINT, id_b BIGINT, jaccard DOUBLE").parquet(out)
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"), col("jaccard"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** The doc class [[streamNearDupTtl]] withholds from the shingle
    * store (its docs' candidates can never verify — the "partner never
    * arrives" case the TTL sweep exists for). */
  private val TtlWithheldSliceSql = "(doc_id % 3) = 2"

  val streamNearDupTtlSql: String =
    Dedup.ddMinhashLshExcludingSql(TtlWithheldSliceSql)

  /** [[streamNearDup]] where one class of docs NEVER reaches the
    * shingle store — the backlog's pathological case: their candidate
    * pairs park in `_pending` with no partner ever arriving, which
    * before the TTL sweep meant unbounded personal-data-bearing backlog
    * growth at 100 TB. The candidate stream sees ALL three chunks; the
    * store stream ingests chunks 0–1 only. After the replay, the
    * horizon passes and [[StreamingPipeline.expirePendingToDeadLetter]]
    * moves every still-parked pair to the `_dead_letter` relation —
    * asserted non-empty and backlog-empty IN the gate, loudly. The
    * returned verified pairs are gated against the batch LSH chain over
    * the ARRIVED corpus only (near-dup pairs are pairwise-local, so
    * dropping a doc class from the store changes nothing between
    * surviving pairs): expiry must lose no verifiable pair and invent
    * none. */
  def streamNearDupTtl(spark: SparkSession, dir: String): DataFrame =
    graft.Sessions.sized(spark, GatePartitions) { spark =>
    val corpus = Dedup.augmented(spark, dir)
    val inStore = tmp("graft_sgate_ndt_ins_")
    val inCand = tmp("graft_sgate_ndt_inc_")
    val store = tmp("graft_sgate_ndt_store_")
    val out = tmp("graft_sgate_ndt_out_")
    val ck1 = tmp("graft_sgate_ndt_ck1_")
    val ck2 = tmp("graft_sgate_ndt_ck2_")
    val ts = lit("2024-01-01 00:00:00").cast("timestamp").as("ts")
    def chunkRows(i: Int) =
      corpus.filter(pmod(col("doc_id"), lit(3)) === i)
        .select(col("doc_id"), col("text"), ts)
    // store: chunks 0–1 only; candidates: everything
    (0 until 2).foreach(i =>
      chunkRows(i).coalesce(1).write.mode("append").parquet(inStore))
    (0 until 3).foreach(i =>
      chunkRows(i).coalesce(1).write.mode("append").parquet(inCand))
    val schema = StructType.fromDDL("doc_id BIGINT, text STRING, ts TIMESTAMP")
    val storeQ = StreamingPipeline.startShingleStore(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(inStore), store, ck1)
    try storeQ.processAllAvailable() finally storeQ.stop()
    val verifyQ = StreamingPipeline.startNearDupVerify(
      StreamingPipeline.streamingNearDupCandidatesAll(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(inCand)),
      store, out, ck2)
    try verifyQ.processAllAvailable() finally verifyQ.stop()
    // the horizon passes (every batch id is now behind it): expire —
    // the withheld class's pairs MUST be parked, and must all move
    val dead = StreamingPipeline.expirePendingToDeadLetter(spark, out,
      beforeBatch = Long.MaxValue)
    require(!dead.isEmpty,
      "TTL gate: expected never-arriving candidates in the dead letter")
    require(StreamingPipeline.pendingCandidates(spark, out).isEmpty,
      "TTL gate: backlog must be empty past the horizon")
    spark.read.schema("id_a BIGINT, id_b BIGINT, jaccard DOUBLE").parquet(out)
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"), col("jaccard"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** SOFT BUDGET MIX ON A STREAM — the serve-on-stream form of
    * [[graft.operators.Dedup.softBudgetMix]], the production shape for
    * daily ingest (the [[streamQcScore]] posture): the model — per-doc
    * soft-dedup weights and the 5-row per-stratum keep rates — is an
    * OFFLINE artifact computed once per corpus refresh and persisted as
    * ONE atomic two-relation [[SoftState]] snapshot (weights and rates
    * are only meaningful together: rates derive from the weighted token
    * mass, so a torn pair double- or under-thins exactly like torn
    * labels/sizes would), and each micro-batch's keep decisions are a
    * stateless projection + static weights join + broadcast rates join
    * + codegen'd hash filter — no watermark, no state store, no
    * output-mode constraint. Gated against the batch
    * `tx_soft_budget_mix` oracle: stream-served keeps ≡ batch keeps ≡
    * oracle, through the persisted state. */
  def streamSoftBudgetMix(spark: SparkSession, dir: String): DataFrame =
    graft.Sessions.sized(spark, GatePartitions) { spark =>
      val stateDir = tmp("graft_sgate_smix_state_")
      softMixModelState(spark, dir, stateDir)
      softMixServeStream(spark, dir, stateDir, "graft_sgate_smix_")
    }

  /** Offline model build shared by the soft-mix serve gates: weights
    * from the augmented clustering restricted to the real corpus
    * (txSoftBudgetMix's convention) joined to the per-doc lengths,
    * rates from the weighted corpus aggregate — published as ONE
    * atomic (weights, rates) snapshot via
    * [[graft.operators.Dedup.softMixStateBuild]]. */
  private def softMixModelState(spark: SparkSession, dir: String,
      stateDir: String): Unit = {
    import graft.operators.Dedup
    val docs = Tables.documents(spark, dir)
    val weights = Dedup.ddSoftDedup(spark, dir)
      .filter(col("doc_id") < 10000)
      .select(col("doc_id"), col("weight_ppm"))
    val lw = graft.Caches.persist(
      docs.select(col("doc_id"), col("lang"),
          size(graft.functions.Portable.words(col("text")))
            .cast("long").as("n_words"))
        .join(weights, Seq("doc_id")))
    Dedup.softMixStateBuild(spark, stateDir, lw)
  }

  /** The stateless 3-chunk streaming serve against a persisted
    * (weights, rates) snapshot — shared by the plain and post-erase
    * soft-mix gates so the two can never serve differently. */
  private def softMixServeStream(spark: SparkSession, dir: String,
      stateDir: String, prefix: String): DataFrame = {
    import graft.operators.Dedup
    val docs = Tables.documents(spark, dir)
    val in = tmp(s"${prefix}in_")
    val out = tmp(s"${prefix}out_")
    val ckpt = tmp(s"${prefix}ckpt_")
    (0 until 3).foreach { i =>
      docs.filter(pmod(col("doc_id"), lit(3)) === i)
        .select(col("doc_id"), col("lang"), col("text"))
        .coalesce(1).write.mode("append").parquet(in)
    }
    val src = spark.readStream
      .schema(StructType.fromDDL("doc_id BIGINT, lang STRING, text STRING"))
      .option("maxFilesPerTrigger", "1").parquet(in)
    val q = Dedup.softMixServe(src,
        SoftState.read(spark, stateDir, "weights", Dedup.MixWeightsSchema),
        SoftState.read(spark, stateDir, "rates", Dedup.MixRatesSchema))
      .writeStream.outputMode("append").format("parquet")
      .option("path", out).option("checkpointLocation", ckpt).start()
    try q.processAllAvailable() finally q.stop()
    spark.read
      .schema("doc_id BIGINT, lang STRING, n_words BIGINT, weight_ppm BIGINT")
      .parquet(out)
      .orderBy(col("doc_id"))
  }

  /** The doc slice erased from the soft-mix model by
    * [[streamSoftBudgetMixDelete]] — one SQL predicate shared verbatim
    * by the gate and its oracle so the deleted set cannot drift. */
  private val SoftMixDeleteSliceSql = "(doc_id % 5) = 2"

  val streamSoftBudgetMixDeleteSql: String =
    graft.operators.Dedup.txSoftBudgetMixExcludingSql(SoftMixDeleteSliceSql)

  /** [[streamSoftBudgetMix]] with a RIGHT-TO-BE-FORGOTTEN erase between
    * model build and serve — the gap VERDICT r15 named (every other
    * persisted family had a delete gate; an erased doc here kept
    * serving its weight until the next corpus refresh): the model
    * builds over the full corpus, a slice of doc_ids is erased through
    * [[graft.operators.Dedup.softMixErase]] (weight rows physically
    * dropped, the 5-row rates RE-DERIVED from the survivors, both as
    * the next atomic snapshot), and the UNCHANGED full document stream
    * is served against the folded state. Erased docs drop out (no
    * weight row survives the inner join) and — the part a serving-time
    * filter could not provide — every surviving stratum's keep rate is
    * priced on survivor token mass only. Oracle: the batch mix with
    * BOTH weights and rates computed over the survivor corpus, so the
    * hash compare proves erase-then-serve ≡ model-built-on-survivors. */
  def streamSoftBudgetMixDelete(spark: SparkSession, dir: String): DataFrame =
    graft.Sessions.sized(spark, GatePartitions) { spark =>
      val stateDir = tmp("graft_sgate_smixdel_state_")
      softMixModelState(spark, dir, stateDir)
      graft.operators.Dedup.softMixErase(spark, stateDir,
        Tables.documents(spark, dir)
          .filter(expr(SoftMixDeleteSliceSql)).select(col("doc_id")))
      softMixServeStream(spark, dir, stateDir, "graft_sgate_smixdel_")
    }

  /** SOFT-DEDUP CLUSTER STATE ON A STREAM — the serving twin of
    * [[Dedup.ddSoftDedupIncremental]]: the corpus arrives in three
    * micro-batched chunks, each chunk's VERIFIED near-dup pairs (the
    * shingle-store + stateful-candidate + verify pipeline
    * [[streamNearDup]] replays — pairs land batch-partitioned under
    * `out/batch=N`) are folded into a PERSISTED (labels, sizes) cluster
    * state via [[Dedup.foldSoftLabels]], and the state round-trips
    * through a [[SoftState]] versioned snapshot between folds (the
    * production posture: a restart between ingests resumes from the
    * stored relations, never from lineage). Both relations land in ONE
    * atomic `v=<fold>` publish under the maintenance lease — a crash
    * anywhere leaves the previous fold serving, never labels from fold
    * N joined to sizes from fold N−1 — and the family is fsck-audited
    * like every other persisted store. Store-then-verify is driven per
    * chunk (checkpointed restarts), so every candidate's partner
    * shingles are committed when its pair is emitted — nothing parks
    * pending.
    *
    * Gated against the SAME full-recompute oracle as `dd_soft_dedup`:
    * three successive stream folds ≡ one batch clustering, hash-proven.
    * Per-fold cost is new-edge-sized CC + label-relation joins + a
    * cluster-state-sized parquet snapshot — never a corpus rescan (the
    * staging write executes the fold plan while the previous snapshot
    * is still on disk, so no per-fold lineage checkpoint is pinned). */
  def streamSoftDedup(spark: SparkSession, dir: String): DataFrame =
    graft.Sessions.sized(spark, GatePartitions) { spark =>
    val corpus = Dedup.augmented(spark, dir)
    val inStore = tmp("graft_sgate_sd_ins_")
    val inCand = tmp("graft_sgate_sd_inc_")
    val store = tmp("graft_sgate_sd_store_")
    val out = tmp("graft_sgate_sd_out_")
    val ck1 = tmp("graft_sgate_sd_ck1_")
    val ck2 = tmp("graft_sgate_sd_ck2_")
    val state = tmp("graft_sgate_sd_state_")
    val schema = StructType.fromDDL("doc_id BIGINT, text STRING, ts TIMESTAMP")
    def srcOf(in: String) = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(in)
    def emptyOf(ddl: String) = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType.fromDDL(ddl))
    var seenBatches = Set.empty[String]
    // ONE store query and ONE verify query, live across all three
    // chunks (the r17 "not yet optimized" lifecycle item: the per-chunk
    // stop/start here was incidental replay scaffolding — ~1–2 s × 4
    // extra lifecycles; checkpointed-restart RESUME stays pinned by the
    // dedicated StreamingSpec restart tests and by the incremental-agg/
    // ER/ANN two-phase gates, which restart deliberately). SPLIT input
    // dirs are what make the overlap safe: chunk i's candidate rows are
    // only written after the store drain committed chunk i's shingles,
    // so no candidate can run ahead of its partner shingles — the
    // store-then-verify ordering the gate documents, enforced by drive
    // order instead of by query lifecycle
    val storeQ = StreamingPipeline.startShingleStore(srcOf(inStore), store, ck1)
    val verifyQ = StreamingPipeline.startNearDupVerify(
      StreamingPipeline.streamingNearDupCandidatesAll(srcOf(inCand)),
      store, out, ck2)
    try {
    (0 until 3).foreach { i =>
      val rows = corpus.filter(pmod(col("doc_id"), lit(3)) === i)
        .select(col("doc_id"), col("text"),
          lit("2024-01-01 00:00:00").cast("timestamp").as("ts"))
      rows.coalesce(1).write.mode("append").parquet(inStore)
      storeQ.processAllAvailable()
      rows.coalesce(1).write.mode("append").parquet(inCand)
      verifyQ.processAllAvailable()
      // THIS chunk's verified pairs: the batch=N dirs not yet folded
      val dirs = Option(new java.io.File(out).listFiles()).toSeq.flatten
        .filter(f => f.isDirectory && f.getName.startsWith("batch="))
        .map(_.getName).toSet
      val fresh = (dirs -- seenBatches).toSeq.sorted
      seenBatches = dirs
      val newPairs =
        if (fresh.isEmpty) emptyOf("id_a BIGINT, id_b BIGINT")
        else spark.read.schema("id_a BIGINT, id_b BIGINT, jaccard DOUBLE")
          .parquet(fresh.map(d => s"$out/$d"): _*)
          .select(col("id_a"), col("id_b"))
      val labels = SoftState.read(spark, state, "labels",
        "doc_id BIGINT, cluster_id BIGINT")
      val sizes = SoftState.read(spark, state, "sizes",
        "cluster_id BIGINT, m BIGINT")
      val (labels2, sizes2) = Dedup.foldSoftLabels(labels, sizes, newPairs)
      // one atomic v=i publish covering BOTH relations, leased + fenced;
      // the staging write executes the fold plan against the still-
      // present v=i-1, so nothing needs a lineage checkpoint here
      SoftState.publish(spark, state, i.toLong,
        Seq("labels" -> labels2, "sizes" -> sizes2))
    }
    } finally { storeQ.stop(); verifyQ.stop() }
    Dedup.softWeightsOf(corpus.select(col("doc_id")),
      SoftState.read(spark, state, "labels", "doc_id BIGINT, cluster_id BIGINT"),
      SoftState.read(spark, state, "sizes", "cluster_id BIGINT, m BIGINT"))
  }

  /** The doc slice erased by [[streamSoftDedupDelete]] (arrives in
    * chunks 0–1, erased before chunk 2 — never re-arrives). */
  private val SoftDeleteSliceSql = "(doc_id % 3) < 2 AND (doc_id % 8) = 2"

  val streamSoftDedupDeleteSql: String =
    Dedup.ddSoftDedupExcludingSql(SoftDeleteSliceSql)

  /** [[streamSoftDedup]] with DOCUMENT ERASURE at the chunk-1/chunk-2
    * boundary — the cluster state's right-to-be-forgotten path on top
    * of the near-dup pipeline's three-tier erasure
    * ([[streamNearDupDelete]]): after
    * [[StreamingPipeline.eraseFromNearDupStores]] folds the shingle
    * store and rewrites the verified-pair partitions (pairs naming an
    * erased doc from either side go) and the `_sign = −1` batch scrubs
    * the candidate operator's band state, the (labels, sizes) relations
    * fold DOWN via [[Dedup.unfoldSoftLabels]]: affected components
    * re-cluster from the surviving pair store (splits and retired
    * min-labels handled), untouched clusters pass through unread. Chunk
    * 2 then folds in as usual. Gated against the full recompute on the
    * survivor corpus, so erase-then-continue ≡ never-ingested is
    * hash-proven for the WEIGHTS — an under-deleted pair or a stale
    * size anywhere flips a multiplicity cell. */
  def streamSoftDedupDelete(spark: SparkSession, dir: String): DataFrame =
    graft.Sessions.sized(spark, GatePartitions) { spark =>
    val corpus = Dedup.augmented(spark, dir)
    val inStore = tmp("graft_sgate_sdd_ins_")
    val inCand = tmp("graft_sgate_sdd_inc_")
    val store = tmp("graft_sgate_sdd_store_")
    val out = tmp("graft_sgate_sdd_out_")
    val ck1 = tmp("graft_sgate_sdd_ck1_")
    val ck2 = tmp("graft_sgate_sdd_ck2_")
    val state = tmp("graft_sgate_sdd_state_")
    val ts = lit("2024-01-01 00:00:00").cast("timestamp").as("ts")
    val storeSchema = StructType.fromDDL(
      "doc_id BIGINT, text STRING, ts TIMESTAMP")
    val candSchema = StructType.fromDDL(
      "doc_id BIGINT, text STRING, ts TIMESTAMP, _sign INT")
    def emptyOf(ddl: String) = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType.fromDDL(ddl))
    // ONE store query + ONE verify query per PHASE (the r17 lifecycle
    // item): the per-chunk stop/start was incidental scaffolding — only
    // the erase boundary's stop/resume pair is SEMANTIC (the store fold
    // must run quiesced, and resuming across it is the production
    // posture this gate pins). 7 query lifecycles become 4. Drive order
    // replaces lifecycle as the store-then-verify fence: chunk i's
    // candidate rows are written only after the store drain committed
    // chunk i's shingles.
    var storeQ: org.apache.spark.sql.streaming.StreamingQuery = null
    var verifyQ: org.apache.spark.sql.streaming.StreamingQuery = null
    def startQueries(): Unit = {
      storeQ = StreamingPipeline.startShingleStore(
        spark.readStream.schema(storeSchema)
          .option("maxFilesPerTrigger", "1").parquet(inStore), store, ck1)
      verifyQ = StreamingPipeline.startNearDupVerify(
        StreamingPipeline.streamingNearDupCandidatesAllSigned(
          spark.readStream.schema(candSchema)
            .option("maxFilesPerTrigger", "1").parquet(inCand)),
        store, out, ck2)
    }
    def stopQueries(): Unit = {
      if (storeQ != null) storeQ.stop()
      if (verifyQ != null) verifyQ.stop()
    }
    var seenBatches = Set.empty[String]
    def freshPairs(): DataFrame = {
      val dirs = Option(new java.io.File(out).listFiles()).toSeq.flatten
        .filter(f => f.isDirectory && f.getName.startsWith("batch="))
        .map(_.getName).toSet
      val fresh = (dirs -- seenBatches).toSeq.sorted
      seenBatches = dirs
      if (fresh.isEmpty) emptyOf("id_a BIGINT, id_b BIGINT")
      else spark.read.schema("id_a BIGINT, id_b BIGINT, jaccard DOUBLE")
        .parquet(fresh.map(d => s"$out/$d"): _*)
        .select(col("id_a"), col("id_b"))
    }
    def readLabels() = SoftState.read(spark, state, "labels",
      "doc_id BIGINT, cluster_id BIGINT")
    def readSizes() = SoftState.read(spark, state, "sizes",
      "cluster_id BIGINT, m BIGINT")
    // every state transition — up-fold or erasure fold-down — is one
    // atomic leased v=<n> publish of BOTH relations ([[SoftState]])
    var fold = 0L
    def writeState(labels: DataFrame, sizes: DataFrame): Unit = {
      SoftState.publish(spark, state, fold,
        Seq("labels" -> labels, "sizes" -> sizes))
      fold += 1
    }
    def ingestAndFold(i: Int): Unit = {
      val rows = corpus.filter(pmod(col("doc_id"), lit(3)) === i)
        .select(col("doc_id"), col("text"), ts)
      rows.coalesce(1).write.mode("append").parquet(inStore)
      storeQ.processAllAvailable()
      rows.withColumn("_sign", lit(1))
        .coalesce(1).write.mode("append").parquet(inCand)
      verifyQ.processAllAvailable()
      val (l2, s2) = Dedup.foldSoftLabels(readLabels(), readSizes(), freshPairs())
      writeState(l2, s2)
    }
    try {
    startQueries()
    ingestAndFold(0); ingestAndFold(1)
    // quiesced at the committed boundary — BOTH queries stop before the
    // store fold rewrites what they serve, and resume from their
    // checkpoints after (the one stop/start pair that is semantic):
    // fold the stores, scrub the candidate state, then fold DOWN the
    // cluster relations
    stopQueries()
    val erased = corpus.filter(expr(SoftDeleteSliceSql)).select(col("doc_id"))
    StreamingPipeline.eraseFromNearDupStores(spark, store, out,
      erased, uptoVersion = 1)
    corpus.filter(expr(SoftDeleteSliceSql))
      .select(col("doc_id"), col("text"), ts).withColumn("_sign", lit(-1))
      .coalesce(1).write.mode("append").parquet(inCand)
    startQueries()
    verifyQ.processAllAvailable()
    // pin the scrub contract: the retraction drain must emit NO pairs —
    // a pair naming an erased doc here would resurrect it in the cluster
    // state after the unfold, and relying on the downstream hash gate to
    // notice would leave the contract unasserted
    require(freshPairs().isEmpty,
      "soft-dedup erasure: the _sign=-1 retraction batch emitted verified " +
        "pairs — the candidate-state scrub leaked erased ids")
    val survivingPairs = spark.read
      .schema("id_a BIGINT, id_b BIGINT, jaccard DOUBLE").parquet(out)
      .select(col("id_a"), col("id_b"))
    val (lDown, sDown) = Dedup.unfoldSoftLabels(
      readLabels(), readSizes(), erased, survivingPairs)
    writeState(lDown, sDown)
    ingestAndFold(2)
    } finally stopQueries()
    Dedup.softWeightsOf(
      corpus.filter(!expr(SoftDeleteSliceSql)).select(col("doc_id")),
      readLabels(), readSizes())
  }

  /** The doc slice erased by [[streamNearDupDelete]] (chunks 0–1 only —
    * erased ids never re-arrive). */
  private val NearDupDeleteSliceSql = "(doc_id % 3) < 2 AND (doc_id % 8) = 2"

  val streamNearDupDeleteSql: String =
    Dedup.ddMinhashLshExcludingSql(NearDupDeleteSliceSql)

  /** [[streamNearDup]] with DOCUMENT ERASURE between the two phases —
    * the near-dup pipeline's stores were the last streaming surface
    * without a delete path, and the erasure here covers ALL THREE
    * tiers in one gate:
    *
    *   - STORES (quiesced, driver-side):
    *     [[StreamingPipeline.eraseFromNearDupStores]] — tombstone +
    *     excluding fold of the shingle store (the bytes go),
    *     parked-replace rewrite of every verified-output partition and the
    *     backlog (pairs naming an erased doc from EITHER side go), then
    *     retirement.
    *   - OPERATOR STATE (through the stream): the erase batch also
    *     arrives as `_sign = −1` rows on the CANDIDATE stream
    *     ([[StreamingPipeline.streamingNearDupCandidatesAllSigned]]),
    *     removing the erased ids from every LSH bucket's member list —
    *     chunk 2's near-dups of forgotten text generate NO candidates
    *     at all (not even backlog parking), and the checkpointed state
    *     stops naming the ids.
    *
    * Gated against the batch LSH chain recomputed on the survivors:
    * pre-erase survivor pairs kept, erased-endpoint pairs gone
    * everywhere, post-erase pairs linked only among survivors — one
    * hash. The no-candidate-traffic property is additionally pinned in
    * StreamingSpec (backlog stays empty after a post-erase near-dup of
    * an erased doc arrives). */
  def streamNearDupDelete(spark: SparkSession, dir: String): DataFrame =
    graft.Sessions.sized(spark, GatePartitions) { spark =>
    val corpus = Dedup.augmented(spark, dir)
    val inStore = tmp("graft_sgate_ndd_ins_")
    val inCand = tmp("graft_sgate_ndd_inc_")
    val store = tmp("graft_sgate_ndd_store_")
    val out = tmp("graft_sgate_ndd_out_")
    val ck1 = tmp("graft_sgate_ndd_ck1_")
    val ck2 = tmp("graft_sgate_ndd_ck2_")
    val ts = lit("2024-01-01 00:00:00").cast("timestamp").as("ts")
    def chunkRows(i: Int) =
      corpus.filter(pmod(col("doc_id"), lit(3)) === i)
        .select(col("doc_id"), col("text"), ts)
    // the store stream ingests plain docs (its erasure is the
    // driver-side fold); the candidate stream ingests SIGNED docs
    def chunk(i: Int): Unit = {
      chunkRows(i).coalesce(1).write.mode("append").parquet(inStore)
      chunkRows(i).withColumn("_sign", lit(1))
        .coalesce(1).write.mode("append").parquet(inCand)
    }
    val storeSchema = StructType.fromDDL(
      "doc_id BIGINT, text STRING, ts TIMESTAMP")
    val candSchema = StructType.fromDDL(
      "doc_id BIGINT, text STRING, ts TIMESTAMP, _sign INT")
    def drainStore() = {
      val q = StreamingPipeline.startShingleStore(
        spark.readStream.schema(storeSchema)
          .option("maxFilesPerTrigger", "1").parquet(inStore), store, ck1)
      try q.processAllAvailable() finally q.stop()
    }
    def drainVerify() = {
      val q = StreamingPipeline.startNearDupVerify(
        StreamingPipeline.streamingNearDupCandidatesAllSigned(
          spark.readStream.schema(candSchema)
            .option("maxFilesPerTrigger", "1").parquet(inCand)),
        store, out, ck2)
      try q.processAllAvailable() finally q.stop()
    }
    chunk(0); chunk(1)
    drainStore(); drainVerify()
    // quiesced at the committed boundary (store batches 0–1): fold the
    // stores, then hand the SAME erase set to the candidate stream
    StreamingPipeline.eraseFromNearDupStores(spark, store, out,
      corpus.filter(expr(NearDupDeleteSliceSql)).select(col("doc_id")),
      uptoVersion = 1)
    corpus.filter(expr(NearDupDeleteSliceSql))
      .select(col("doc_id"), col("text"), ts).withColumn("_sign", lit(-1))
      .coalesce(1).write.mode("append").parquet(inCand)
    chunk(2)
    drainStore(); drainVerify()
    spark.read.schema("id_a BIGINT, id_b BIGINT, jaccard DOUBLE").parquet(out)
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"), col("jaccard"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Replay clicks and purchases as TWO separate time-ordered 3-chunk
    * file streams through the watermarked stream-stream interval join
    * ([[StreamingPipeline.streamStreamJoin]]: click ⋈ purchase per user
    * with purchase_ts ∈ [click_ts, click_ts + 1h]) — the last streaming
    * production path with no CORRECTNESS row until now. Gated against
    * the batch interval self-join over `events` (the
    * `q24_overlapping_order_windows` posture), so the hash compare
    * proves streamed join ≡ batch join ≡ oracle.
    *
    * Why the replay cannot lose a pair: both sides are chunked by the
    * SAME global time boundaries ([[timeRangeChunks]] over all events),
    * so within each drained micro-batch every event is later than the
    * whole previous batch. An inner stream-stream join emits a pair as
    * soon as both rows have arrived (the watermark only gates state
    * EVICTION, not emission); a click can only be evicted once the
    * watermark passes click_ts + join window + delay, and any purchase
    * still to arrive is newer than the previous chunk's max, so with a
    * 2-hour delay ≥ 2× the 1-hour join window no evicted click can
    * still match. State stays watermark-bounded — the production
    * contract this gate exists to pin. */
  def streamStreamJoin(spark: SparkSession, dir: String): DataFrame =
    graft.Sessions.sized(spark, GatePartitions) { spark =>
    val events = Tables.events(spark, dir)
    val inL = tmp("graft_sgate_ssj_l_")
    val inR = tmp("graft_sgate_ssj_r_")
    val out = tmp("graft_sgate_ssj_out_")
    val ckpt = tmp("graft_sgate_ssj_ckpt_")
    // one chunking over ALL events keeps the two streams' time
    // boundaries aligned (chunking each side separately would let a
    // chunk-2 click precede a chunk-1 purchase)
    val chunked = graft.Caches.track(
      timeRangeChunks(events, 3).localCheckpoint(true))
    val clicks = chunked.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"), col("chunk"))
    val buys = chunked.filter(col("event_type") === "purchase")
      .select(col("event_id").as("buy_id"), col("user_id"),
        col("ts").as("buy_ts"), col("chunk"))
    val cs = StructType.fromDDL(
      "click_id BIGINT, user_id BIGINT, click_ts TIMESTAMP")
    val bs = StructType.fromDDL(
      "buy_id BIGINT, user_id BIGINT, buy_ts TIMESTAMP")
    val joined = StreamingPipeline.streamStreamJoin(
      spark.readStream.schema(cs).parquet(inL),
      spark.readStream.schema(bs).parquet(inR),
      key = "user_id", leftTime = "click_ts", rightTime = "buy_ts",
      watermarkDelay = "2 hours", joinWindow = "1 HOUR")
    val q = joined
      .select(col("user_id"), col("click_id"), col("buy_id"),
        unix_micros(col("click_ts")).as("click_us"),
        unix_micros(col("buy_ts")).as("buy_us"))
      .writeStream.outputMode("append").format("parquet")
      .option("path", out).option("checkpointLocation", ckpt).start()
    try {
      (1 to 3).foreach { i =>
        clicks.filter(col("chunk") === i).drop("chunk")
          .coalesce(1).write.mode("append").parquet(inL)
        buys.filter(col("chunk") === i).drop("chunk")
          .coalesce(1).write.mode("append").parquet(inR)
        q.processAllAvailable()
      }
    } finally q.stop()
    spark.read
      .schema("user_id BIGINT, click_id BIGINT, buy_id BIGINT, " +
        "click_us BIGINT, buy_us BIGINT")
      .parquet(out)
      .orderBy(col("click_id"), col("buy_id"))
  }

  /** Replay `documents` as a 3-batch stream through the streaming
    * search-index maintenance
    * ([[StreamingPipeline.startSearchIndexStore]]: per-batch postings +
    * length deltas, union-served), then probe the served index with the
    * standard query terms. Gated against the batch `tx_bm25_topk`
    * oracle — the hash compare proves stream-maintained index ≡
    * from-scratch index ≡ oracle, because BM25's df/N statistics are
    * derived at probe time from the postings themselves, so delta
    * union IS index rebuild. */
  def streamBm25(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Search, SearchIndex}
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val in = tmp("graft_sgate_bm25_in_")
    val idx = tmp("graft_sgate_bm25_idx_")
    val ckpt = tmp("graft_sgate_bm25_ckpt_")
    def chunk(i: Int): Unit =
      docs.filter(pmod(col("doc_id"), lit(3)) === i)
        .coalesce(1).write.mode("append").parquet(in)
    val schema = StructType.fromDDL("doc_id BIGINT, text STRING")
    def startQ() = StreamingPipeline.startSearchIndexStore(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(in),
      idx, ckpt)
    chunk(0); chunk(1)
    val q = startQ()
    try q.processAllAvailable() finally q.stop()
    // mid-stream compaction at a restart boundary (the streamEr
    // posture): postings rows are per-doc facts, so snapshot ∪ later
    // deltas ≡ union-of-all-deltas and the probe below proves it
    // against the from-scratch oracle
    StreamingPipeline.compactDeltas(spark, s"$idx/postings",
      "term STRING, doc_id BIGINT, tf BIGINT", uptoVersion = 1)
    StreamingPipeline.compactDeltas(spark, s"$idx/lens",
      "doc_id BIGINT, n_words INT", uptoVersion = 1)
    chunk(2)
    val q2 = startQ()
    try q2.processAllAvailable() finally q2.stop()
    // serve via the store reader, not a `b*` glob — the compaction
    // retired the folded delta dirs
    val postings = StreamingPipeline.storeContents(spark, s"$idx/postings",
      "term STRING, doc_id BIGINT, tf BIGINT")
    val lens = StreamingPipeline.storeContents(spark, s"$idx/lens",
      "doc_id BIGINT, n_words INT")
    SearchIndex.bm25TopKFromIndex(postings, lens, Search.QueryTerms)
  }

  /** The slice deleted mid-stream by [[streamBm25Delete]], as one SQL
    * predicate shared verbatim by the gate (Spark `expr`) and its
    * oracle ([[graft.operators.Search.txBm25TopKExcludingSql]]) so the
    * deleted set cannot drift between them. Drawn from the first two
    * replay chunks only — a deleted id must never re-arrive, the
    * stores' append-only input contract. */
  private val Bm25DeleteSliceSql = "(doc_id % 3) < 2 AND (doc_id % 7) = 3"

  val streamBm25DeleteSql: String =
    graft.operators.Search.txBm25TopKExcludingSql(Bm25DeleteSliceSql)

  /** [[streamBm25]] with a RIGHT-TO-BE-FORGOTTEN delete in the middle:
    * after batches 0–1 commit, a slice of already-ingested doc_ids is
    * tombstoned ([[StreamingPipeline.writeTombstones]]), BOTH index
    * families are folded with physical exclusion
    * (the excluding [[StreamingPipeline.compactDeltas]] — the snapshot bytes
    * no longer contain the deleted rows), and the tombstones are then
    * RETIRED before batch 2 arrives through a restarted query. Serving
    * still goes through [[StreamingPipeline.contentsExcludingTombstones]]
    * (now a no-op anti-join), so the oracle hash — the full bm25 chain
    * recomputed from scratch on the surviving corpus — certifies that
    * the PHYSICAL fold alone removed every trace: document rows, term
    * frequencies, AND the deleted docs' contribution to df/N/avg_len
    * (a masking-only store serving stale corpus statistics would
    * mismatch). The masking phase between delete and fold is pinned by
    * unit test ([[graft.streaming]] StreamingSpec), where the
    * tombstones are still live. */
  def streamBm25Delete(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Search, SearchIndex}
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val in = tmp("graft_sgate_bm25d_in_")
    val idx = tmp("graft_sgate_bm25d_idx_")
    val ckpt = tmp("graft_sgate_bm25d_ckpt_")
    def chunk(i: Int): Unit =
      docs.filter(pmod(col("doc_id"), lit(3)) === i)
        .coalesce(1).write.mode("append").parquet(in)
    val schema = StructType.fromDDL("doc_id BIGINT, text STRING")
    def startQ() = StreamingPipeline.startSearchIndexStore(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(in),
      idx, ckpt)
    chunk(0); chunk(1)
    val q = startQ()
    try q.processAllAvailable() finally q.stop()
    // quiesced at a committed boundary: the COMPOSED erasure registers
    // the delete, folds every stamped family with physical exclusion,
    // and only then retires the tombstones (the helper refuses a
    // partial family list — the retire-last invariant is API-enforced)
    StreamingPipeline.eraseFromStore(spark, idx,
      docs.filter(expr(Bm25DeleteSliceSql)).select(col("doc_id")),
      Seq(
        StreamingPipeline.StoreFamily("postings",
          "term STRING, doc_id BIGINT, tf BIGINT", Seq("doc_id")),
        StreamingPipeline.StoreFamily("lens",
          "doc_id BIGINT, n_words INT", Seq("doc_id"))),
      uptoVersion = 1)
    chunk(2)
    val q2 = startQ()
    try q2.processAllAvailable() finally q2.stop()
    val postings = StreamingPipeline.contentsExcludingTombstones(spark,
      s"$idx/postings", "term STRING, doc_id BIGINT, tf BIGINT", idx, Seq("doc_id"))
    val lens = StreamingPipeline.contentsExcludingTombstones(spark,
      s"$idx/lens", "doc_id BIGINT, n_words INT", idx, Seq("doc_id"))
    SearchIndex.bm25TopKFromIndex(postings, lens, Search.QueryTerms)
  }

  /** Replay `documents` as a 3-batch stream through the streaming
    * heavy-hitter maintenance ([[StreamingPipeline.startHeavyHitterStore]]:
    * one <= capacity Misra-Gries summary per micro-batch, written as
    * sketch/totals deltas), then serve: union the per-batch candidate
    * words, sum the exact per-batch totals, and run the SAME exact
    * verify pass as the batch operator over the corpus
    * ([[graft.operators.HeavyHitters.exactVerify]]). Gated against the
    * batch `tx_heavy_hitters` oracle — the naive full-vocabulary GROUP
    * BY in DuckDB — so the hash compare proves that per-batch mergeable
    * sketches lose no heavy hitter across batch boundaries (the
    * Agarwal-mergeability bound, pinned by data instead of trusted).
    * Like [[streamBm25]], the replay crosses a mid-stream
    * [[StreamingPipeline.compactDeltas]] sweep of both families at a
    * checkpoint-restart boundary, so the same hash also pins
    * compacted ≡ union-of-deltas for additive sketch rows. */
  def streamHeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.HeavyHitters
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val in = tmp("graft_sgate_hh_in_")
    val store = tmp("graft_sgate_hh_store_")
    val ckpt = tmp("graft_sgate_hh_ckpt_")
    def chunk(i: Int): Unit =
      docs.filter(pmod(col("doc_id"), lit(3)) === i)
        .coalesce(1).write.mode("append").parquet(in)
    val schema = StructType.fromDDL("doc_id BIGINT, text STRING")
    def startQ() = StreamingPipeline.startHeavyHitterStore(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(in),
      store, ckpt, capacity = 4000)
    chunk(0); chunk(1)
    val q = startQ()
    try q.processAllAvailable() finally q.stop()
    StreamingPipeline.compactDeltas(spark, s"$store/sketch",
      "w STRING, cnt BIGINT", uptoVersion = 1)
    StreamingPipeline.compactDeltas(spark, s"$store/totals",
      "total BIGINT", uptoVersion = 1)
    chunk(2)
    val q2 = startQ()
    try q2.processAllAvailable() finally q2.stop()
    // serve: candidates ∪ totals from the store (<= capacity × #batches
    // rows — the collect is bounded by construction), exact verify over
    // the streamed corpus with the batch operator's own pass 2
    val candidates = StreamingPipeline.storeContents(spark, s"$store/sketch",
        "w STRING, cnt BIGINT")
      .select(col("w")).distinct().collect().map(_.getString(0)).toSeq
    val total = StreamingPipeline.storeContents(spark, s"$store/totals",
        "total BIGINT")
      .agg(sum(col("total"))).head().getLong(0)
    HeavyHitters.exactVerify(docs, "text", candidates, total / 1000L)
  }

  /** The doc slice erased by [[streamHeavyHittersDelete]] (chunks 0–1
    * only — erased ids never re-arrive). */
  private val HhDeleteSliceSql = "(doc_id % 3) < 2 AND (doc_id % 6) = 1"

  val streamHeavyHittersDeleteSql: String =
    graft.operators.HeavyHitters.txHeavyHittersExcludingSql(HhDeleteSliceSql)

  /** [[streamHeavyHitters]] with DOCUMENT ERASURE in the middle — the
    * last streaming store family to get a delete story, and the one
    * where masking/decrementing cannot work: a Misra-Gries residual is
    * not invertible. The sound split
    * ([[StreamingPipeline.startSignedHeavyHitterStore]]): candidates
    * only prune (stored sketches keep the erased docs' words; the
    * survivor-exact verify kills anything no longer heavy — sound while
    * the capacity headroom covers the erased mass, CHECKED loudly
    * here), and the report threshold's token mass shifts EXACTLY via a
    * signed totals delta arriving through the checkpointed stream. The
    * oracle is the naive GROUP BY over the survivors, threshold
    * included — so the hash compare pins both the shifted N/1000 bar
    * and the counts. */
  def streamHeavyHittersDelete(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.HeavyHitters
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val in = tmp("graft_sgate_hhd_in_")
    val store = tmp("graft_sgate_hhd_store_")
    val ckpt = tmp("graft_sgate_hhd_ckpt_")
    val capacity = 4000
    def feed(rows: DataFrame): Unit =
      rows.coalesce(1).write.mode("append").parquet(in)
    def insert(i: Int) =
      docs.filter(pmod(col("doc_id"), lit(3)) === i).withColumn("_sign", lit(1))
    val erasure = docs.filter(expr(HhDeleteSliceSql)).withColumn("_sign", lit(-1))
    val schema = StructType.fromDDL("doc_id BIGINT, text STRING, _sign INT")
    def startQ() = StreamingPipeline.startSignedHeavyHitterStore(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(in),
      store, ckpt, capacity)
    feed(insert(0)); feed(insert(1))
    val q = startQ()
    try q.processAllAvailable() finally q.stop()
    // the erase batch arrives through a RESTARTED query, after a
    // mid-stream compaction of both families (the base gate's pin —
    // gross/net totals must survive the union fold)
    StreamingPipeline.compactDeltas(spark, s"$store/sketch",
      "w STRING, cnt BIGINT", uptoVersion = 1)
    StreamingPipeline.compactDeltas(spark, s"$store/totals",
      "total BIGINT", uptoVersion = 1)
    feed(erasure)
    feed(insert(2))
    val q2 = startQ()
    try q2.processAllAvailable() finally q2.stop()
    val candidates = StreamingPipeline.storeContents(spark, s"$store/sketch",
        "w STRING, cnt BIGINT")
      .select(col("w")).distinct().collect().map(_.getString(0)).toSeq
    val totals = StreamingPipeline.storeContents(spark, s"$store/totals",
        "total BIGINT")
      .select(sum(col("total")).as("net"),
        sum(when(col("total") > 0, col("total")).otherwise(0L)).as("gross"))
      .head()
    val (net, gross) = (totals.getLong(0), totals.getLong(1))
    require(net >= 0, s"erased token mass exceeds ingested ($net net)")
    // soundness bar for serving candidates past an erasure: a
    // survivor-heavy word (f_surv > net/1000 ≤ f_tot) is guaranteed in
    // the sketches only while f_tot > gross/(capacity+1) is implied —
    // i.e. (capacity+1)·net ≥ 1000·gross. Past that, re-sketch the
    // survivors instead of serving silently-unsound candidates.
    require((capacity + 1L) * net >= 1000L * gross,
      s"erased mass too large for the sketch headroom (net=$net, " +
        s"gross=$gross, capacity=$capacity) — rebuild sketches from the " +
        "surviving corpus before serving")
    HeavyHitters.exactVerify(docs.filter(!expr(HhDeleteSliceSql)), "text",
      candidates, net / 1000L)
  }

  /** Replay `customer` as a 3-batch stream through the streaming
    * entity-resolution ingest ([[StreamingPipeline.startErPairStore]]:
    * per-batch deletion-variant index deltas, new-vs-history +
    * new-vs-self candidates, exact-levenshtein verify), then read every
    * batch's emitted pairs. Gated against the batch `er_fuzzy_match`
    * oracle — the quadratic DuckDB ground truth — so the compare proves
    * incrementally-linked ≡ from-scratch-blocked ≡ exhaustive: every
    * pair is found exactly once, in the batch where its later member
    * arrives.
    *
    * The replay deliberately crosses a MID-STREAM COMPACTION at a
    * checkpoint-restart boundary: after batches 0–1 commit, both state
    * families fold into `v=1` snapshots ([[StreamingPipeline.compactDeltas]]
    * — per-batch read cost drops from O(#batches) dirs to snapshot +
    * recent deltas, the long-run viability condition), then batch 2
    * arrives through a RESTARTED query. The gate's oracle hash therefore
    * pins compacted ≡ union-of-deltas AND restart-across-compaction in
    * one signal. */
  def streamEr(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
      .select(col("c_custkey").as("id"), col("c_name").as("name"))
    val in = tmp("graft_sgate_er_in_")
    val store = tmp("graft_sgate_er_store_")
    val ckpt = tmp("graft_sgate_er_ckpt_")
    def chunk(i: Int): Unit =
      cust.filter(pmod(col("id"), lit(3)) === i)
        .coalesce(1).write.mode("append").parquet(in)
    val schema = StructType.fromDDL("id BIGINT, name STRING")
    def startQ() = StreamingPipeline.startErPairStore(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(in),
      store, ckpt, maxDist = 1)
    chunk(0); chunk(1)
    val q = startQ()
    try q.processAllAvailable() finally q.stop()
    // batches 0 and 1 are checkpoint-committed and the stream is
    // quiesced — compactDeltas' contract; fold both state families
    StreamingPipeline.compactDeltas(spark, s"$store/variants",
      "id BIGINT, variant BIGINT", uptoVersion = 1)
    StreamingPipeline.compactDeltas(spark, s"$store/names",
      "id BIGINT, name STRING", uptoVersion = 1)
    chunk(2)
    val q2 = startQ()
    try q2.processAllAvailable() finally q2.stop()
    spark.read
      .schema("id_a BIGINT, id_b BIGINT, name_a STRING, name_b STRING")
      .parquet(s"$store/pairs/b*")
      .orderBy(col("id_a"), col("id_b"))
  }

  /** The entity slice erased mid-stream by [[streamErDelete]], over a
    * nameable key column so the SAME predicate serves the gate (key
    * `id`) and the oracle (key `c_custkey`). Chunks 0–1 only — erased
    * ids must never re-arrive. */
  private def erDeleteSlice(key: String): String =
    s"($key % 3) < 2 AND ($key % 11) = 5"

  val streamErDeleteSql: String =
    graft.operators.EntityResolution.erFuzzyMatchExcludingSql(
      erDeleteSlice("c_custkey"))

  /** [[streamEr]] with ENTITY ERASURE in the middle — the GDPR-shaped
    * case the tombstone machinery exists for: after batches 0–1 commit,
    * a slice of ingested customer ids is tombstoned and ALL THREE store
    * families are folded with physical exclusion — `variants` and
    * `names` on their entity id, and the emitted `pairs` on BOTH
    * endpoint ids (the multi-key excluding [[StreamingPipeline.compactDeltas]]:
    * a pair touching an erased entity from either side is itself
    * personal data about that entity and must go). Tombstones are then
    * retired, batch 2 arrives through a restarted query and links
    * against the PURGED history, and the served pairs are gated against
    * the quadratic ground truth recomputed on the survivors. ER pairs
    * are pairwise-local, so the hash compare certifies full erasure:
    * no pair with an erased endpoint survives anywhere (old batches,
    * the fold, or new matching), and no survivor pair is lost. */
  def streamErDelete(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
      .select(col("c_custkey").as("id"), col("c_name").as("name"))
    val in = tmp("graft_sgate_erd_in_")
    val store = tmp("graft_sgate_erd_store_")
    val ckpt = tmp("graft_sgate_erd_ckpt_")
    def chunk(i: Int): Unit =
      cust.filter(pmod(col("id"), lit(3)) === i)
        .coalesce(1).write.mode("append").parquet(in)
    val schema = StructType.fromDDL("id BIGINT, name STRING")
    def startQ() = StreamingPipeline.startErPairStore(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(in),
      store, ckpt, maxDist = 1)
    chunk(0); chunk(1)
    val q = startQ()
    try q.processAllAvailable() finally q.stop()
    StreamingPipeline.eraseFromStore(spark, store,
      cust.filter(expr(erDeleteSlice("id"))).select(col("id")),
      Seq(
        StreamingPipeline.StoreFamily("variants",
          "id BIGINT, variant BIGINT", Seq("id")),
        StreamingPipeline.StoreFamily("names",
          "id BIGINT, name STRING", Seq("id")),
        StreamingPipeline.StoreFamily("pairs",
          "id_a BIGINT, id_b BIGINT, name_a STRING, name_b STRING",
          Seq("id_a", "id_b"))),
      uptoVersion = 1)
    chunk(2)
    val q2 = startQ()
    try q2.processAllAvailable() finally q2.stop()
    StreamingPipeline.contentsExcludingTombstones(spark, s"$store/pairs",
        "id_a BIGINT, id_b BIGINT, name_a STRING, name_b STRING",
        store, Seq("id_a", "id_b"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Replay `embeddings` as a 3-batch stream through the streaming ANN
    * near-dup ingest ([[StreamingPipeline.startAnnPairStore]]: per-batch
    * band-index deltas, new-vs-history + new-vs-self candidates, shared
    * exact-cosine verify), then read every batch's emitted pairs. Gated
    * against the batch `sim_cosine_neardup` oracle — so the compare
    * proves the incrementally-maintained band index emits exactly the
    * full-corpus pair set, each pair once, with bit-identical cosines.
    * Like [[streamEr]], the replay crosses a mid-stream compaction of
    * both state families (bands, vectors) at a checkpoint-restart
    * boundary, so the oracle hash also pins compacted ≡
    * union-of-deltas. */
  def streamAnnNearDup(spark: SparkSession, dir: String): DataFrame =
    annStoreReplay(spark, dir, auto = false, deleteSlice = None)

  /** [[streamAnnNearDup]] through the AUTO-GEOMETRY store
    * ([[StreamingPipeline.startAnnPairStoreAuto]]): the plane count is
    * derived from the corpus size at store creation and recovered from
    * the stamped format marker on every restart, so per-bucket occupancy
    * — and with it the n²/2^planes candidate term that made the pinned
    * streaming store the last superlinear law in a gated query — stays
    * at the target as the corpus grows. Gated against the SAME
    * dynamic-plane oracle as the in-query auto paths
    * ([[graft.operators.Similarity.simCosineNearDupAutoSql]] — the SQL
    * recomputes autoPlanes' integer formula from the corpus count), so
    * the hash compare holds at ANY corpus size, not just where the
    * derived constant equals the pinned one. */
  def streamAnnNearDupAuto(spark: SparkSession, dir: String): DataFrame =
    annStoreReplay(spark, dir, auto = true, deleteSlice = None)

  /** The vector slice erased mid-stream by the delete gates (chunks
    * 0–1 only — erased ids never re-arrive). */
  private def annDeleteSlice(key: String): String =
    s"($key % 3) < 2 AND ($key % 9) = 4"

  val streamAnnDeleteSql: String =
    graft.operators.Similarity.simCosineNearDupExcludingSql(
      annDeleteSlice("vec_id"))

  val streamAnnDeleteAutoSql: String =
    graft.operators.Similarity.simCosineNearDupAutoExcludingSql(
      annDeleteSlice("vec_id"))

  /** [[streamAnnNearDup]] with VECTOR ERASURE in the middle — the third
    * store family under the tombstone machinery (documents/bm25,
    * entities/ER, and now vectors/ANN): a slice of ingested vec_ids is
    * erased after batches 0–1 through the COMPOSED
    * [[StreamingPipeline.eraseFromStore]] — `bands` and `vectors` fold
    * with exclusion on vec_id and the emitted `pairs` on BOTH endpoints
    * (an embedding IS personal data when it encodes a person's content,
    * and a near-dup pair naming it is too), and tombstones retire only
    * after every stamped family has folded (the helper refuses a
    * partial family list). Batch 2 then links against the purged band
    * index, and the served pairs are gated against the banded chain
    * recomputed on the survivors. */
  def streamAnnDelete(spark: SparkSession, dir: String): DataFrame =
    annStoreReplay(spark, dir, auto = false,
      deleteSlice = Some(annDeleteSlice("vec_id")))

  /** [[streamAnnDelete]] through the auto-geometry store, against the
    * dynamic-plane excluding oracle — erasure and auto-sizing composed
    * in one hash signal. */
  def streamAnnDeleteAuto(spark: SparkSession, dir: String): DataFrame =
    annStoreReplay(spark, dir, auto = true,
      deleteSlice = Some(annDeleteSlice("vec_id")))

  /** Shared 3-batch replay drive of the streaming ANN near-dup store:
    * chunks 0–1 ingest, a mid-stream quiesced sweep — plain compaction
    * of the state families, or the composed erasure when `deleteSlice`
    * is set — then chunk 2 through a RESTARTED query (for the auto
    * store, the restart recovers the geometry from the stamped marker,
    * which is the auto gates' extra load-bearing step). Serving reads
    * go through the store reader (snapshot + later deltas). */
  private def annStoreReplay(spark: SparkSession, dir: String, auto: Boolean,
                             deleteSlice: Option[String]): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    val in = tmp("graft_sgate_ann_in_")
    val store = tmp("graft_sgate_ann_store_")
    val ckpt = tmp("graft_sgate_ann_ckpt_")
    def chunk(i: Int): Unit =
      emb.filter(pmod(col("vec_id"), lit(3)) === i)
        .coalesce(1).write.mode("append").parquet(in)
    val schema = StructType.fromDDL("vec_id BIGINT, embedding ARRAY<FLOAT>")
    // the auto store sizes its geometry from the EXPECTED corpus rows at
    // creation (one cheap footer count here; capacity planning in prod)
    lazy val corpusRows = emb.count()
    def startQ() = {
      val src = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(in)
      if (auto)
        StreamingPipeline.startAnnPairStoreAuto(src, store, ckpt, corpusRows)
      else StreamingPipeline.startAnnPairStore(src, store, ckpt)
    }
    val vecSchema = "vec_id BIGINT, embedding ARRAY<FLOAT>"
    val pairSchema = "id_a BIGINT, id_b BIGINT, cosine DOUBLE"
    chunk(0); chunk(1)
    val q = startQ()
    try q.processAllAvailable() finally q.stop()
    deleteSlice match {
      case Some(pred) =>
        StreamingPipeline.eraseFromStore(spark, store,
          emb.filter(expr(pred)).select(col("vec_id")),
          Seq(
            StreamingPipeline.StoreFamily("bands",
              StreamingPipeline.AnnBandSchema, Seq("vec_id")),
            StreamingPipeline.StoreFamily("vectors", vecSchema, Seq("vec_id")),
            StreamingPipeline.StoreFamily("pairs", pairSchema,
              Seq("id_a", "id_b"))),
          uptoVersion = 1)
      case None =>
        if (auto)
          // the PRODUCTION maintenance call: compaction + the
          // shouldRebuild occupancy check in one sweep — no drift at
          // gate scale, so this pins sweep-neutrality in the oracle hash
          StreamingPipeline.sweepAnnStore(spark, store, uptoVersion = 1)
        else {
          StreamingPipeline.compactDeltas(spark, s"$store/bands",
            StreamingPipeline.AnnBandSchema, uptoVersion = 1)
          StreamingPipeline.compactDeltas(spark, s"$store/vectors",
            vecSchema, uptoVersion = 1)
        }
    }
    chunk(2)
    val q2 = startQ()
    try q2.processAllAvailable() finally q2.stop()
    // delete path: the excluding serving read (a no-op anti-join after
    // retirement — pinned so the serving contract is exercised); plain
    // path: the store reader (snapshot + later deltas)
    (if (deleteSlice.isDefined)
       StreamingPipeline.contentsExcludingTombstones(spark, s"$store/pairs",
         pairSchema, store, Seq("id_a", "id_b"))
     else StreamingPipeline.storeContents(spark, s"$store/pairs", pairSchema))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Oracle for [[streamStreamJoin]]: the batch interval join the
    * stream claims to equal — every (click, purchase) pair per user
    * with the purchase inside [click, click + 1h]. Timestamps surface
    * as integer epoch micros (exact in both engines). */
  val streamStreamJoinSql: String = """
    SELECT l.user_id, l.event_id AS click_id, r.event_id AS buy_id,
           epoch_us(l.ts) AS click_us, epoch_us(r.ts) AS buy_us
    FROM events l JOIN events r
      ON l.user_id = r.user_id
     AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 1 HOUR
    WHERE l.event_type = 'click' AND r.event_type = 'purchase'
    ORDER BY click_id, buy_id"""
}
