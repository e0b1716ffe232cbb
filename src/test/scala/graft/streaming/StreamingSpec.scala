package graft.streaming

import java.nio.file.Files
import graft.SparkSpec
import graft.config.MetadataReader
import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming behavior driven synchronously: file sources stand in for the
  * Kafka topic (no broker offline); the transform/fan-out code is shared
  * with the batch path. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def eventsDir: String = {
    // readStream wants a directory — stage the events parquet into one
    val dir = Files.createTempDirectory("graft_stream_events_").toString
    Tables.events(spark, sf()).write.mode("overwrite").parquet(dir)
    dir
  }

  test("streaming dataflow: validation fan-out lands OK/KO per micro-batch") {
    val in = Files.createTempDirectory("graft_stream_in_").toString
    val out = Files.createTempDirectory("graft_stream_out_").toString
    val ckpt = Files.createTempDirectory("graft_stream_ckpt_").toString
    Files.writeString(java.nio.file.Paths.get(s"$in/batch1.json"),
      """{"name":"Xabier","age":39,"office":""}
        |{"name":"Miguel","office":"RIO"}
        |{"name":"Fran","age":31,"office":"RIO"}
        |""".stripMargin)
    val conf = MetadataReader.parse(s"""{
      "dataflows": [{
        "name": "stream-flow",
        "sources": [{"name": "in", "path": "$in", "format": "json",
                     "schema": "name STRING, age BIGINT, office STRING"}],
        "transformations": [
          {"name": "validation", "type": "validate_fields",
           "params": {"validations": [
             {"field": "office", "validations": ["notEmpty"]},
             {"field": "age", "validations": ["notNull"]}]}},
          {"name": "stamp", "type": "add_fields",
           "params": {"addFields": [{"name": "dt", "function": "current_timestamp"}]}},
          {"name": "adults", "type": "filter_expr", "params": {"expr": "age >= 30"}}
        ],
        "sinks": [
          {"input": "ok_with_date", "name": "ok", "paths": ["$out/ok"],
           "format": "json", "saveMode": "append"},
          {"input": "validation_ko", "name": "ko", "paths": ["$out/ko"],
           "format": "json", "saveMode": "append"}
        ]
      }]}""").dataflows.head
    val source = StreamingPipeline.fileSource(spark, in, "json",
      org.apache.spark.sql.types.StructType.fromDDL("name STRING, age BIGINT, office STRING"))
    val q = StreamingPipeline.runDataflow(source, conf, ckpt)
    q.processAllAvailable()
    // second micro-batch arrives
    Files.writeString(java.nio.file.Paths.get(s"$in/batch2.json"),
      """{"name":"Ana","age":28,"office":"LIS"}""" + "\n")
    q.processAllAvailable()
    q.stop()
    val ok = spark.read.json(s"$out/ok/ok")
    // Ana (28) passes validation but the filter_expr curation stage
    // (age >= 30) drops her per micro-batch; Fran (31) survives
    assert(ok.select("name").as[String].collect().toSet == Set("Fran"))
    assert(ok.columns.contains("dt"))
    val ko = spark.read.json(s"$out/ko/ko")
    assert(ko.select("name").as[String].collect().toSet == Set("Xabier", "Miguel"))
  }

  test("streaming dataflow: a small micro-batch writes one file per sink path") {
    val in = Files.createTempDirectory("graft_stream_small_in_").toString
    val out = Files.createTempDirectory("graft_stream_small_out_").toString
    val ckpt = Files.createTempDirectory("graft_stream_small_ckpt_").toString
    // three input files, so three file splits; each holds KO rows, and
    // file 0 a duplicate id
    (0 until 3).foreach { f =>
      val rows = (0 until 4).map { i =>
        val id = if (f == 0 && i == 1) 0 else f * 10 + i
        val office = if (i == 3) "" else "RIO"
        s"""{"id":$id,"ver":$i,"office":"$office"}"""
      }
      Files.writeString(java.nio.file.Paths.get(s"$in/part$f.json"), rows.mkString("", "\n", "\n"))
    }
    val ddl = "id BIGINT, ver BIGINT, office STRING"
    val conf = MetadataReader.parse(s"""{
      "dataflows": [{
        "name": "small-flow",
        "sources": [{"name": "in", "path": "$in", "format": "json", "schema": "$ddl"}],
        "transformations": [
          {"name": "validation", "type": "validate_fields",
           "params": {"validations": [{"field": "office", "validations": ["notEmpty"]}]}},
          {"name": "dd", "type": "deduplicate", "params": {"columns": ["id"], "keepBy": "ver"}}
        ],
        "sinks": [
          {"input": "ok_with_date", "name": "ok", "paths": ["$out/ok1", "$out/ok2"],
           "format": "parquet", "saveMode": "overwrite"},
          {"input": "validation_ko", "name": "ko", "paths": ["$out/ko"],
           "format": "json", "saveMode": "overwrite"}
        ]
      }]}""").dataflows.head
    val source = StreamingPipeline.fileSource(spark, in, "json",
      org.apache.spark.sql.types.StructType.fromDDL(ddl))
    assert(spark.read.schema(ddl).json(in).rdd.getNumPartitions == 3)
    val q = StreamingPipeline.runDataflow(source, conf, ckpt)
    try q.processAllAvailable() finally q.stop()
    Seq("ok1/ok", "ok2/ok", "ko/ko").foreach { sink =>
      val parts = new java.io.File(s"$out/$sink/batch=0").listFiles()
        .map(_.getName).filter(_.startsWith("part-"))
      assert(parts.length == 1, s"$sink/batch=0 holds ${parts.mkString(", ")}")
    }
    // ids 0-2, 10-12, 20-22 pass (the duplicate id 0 keeps ver 0); 3, 13, 23 fail
    Seq("ok1", "ok2").foreach { p =>
      val ok = spark.read.parquet(s"$out/$p/ok").select("id", "ver").as[(Long, Long)].collect()
      assert(ok.sorted.toSeq == Seq(0L, 2L, 10L, 11L, 12L, 20L, 21L, 22L).map(i => (i, i % 10)), p)
    }
    val ko = spark.read.json(s"$out/ko/ko").select("id").as[Long].collect()
    assert(ko.sorted.toSeq == Seq(3L, 13L, 23L))
  }

  test("watermarked windowed aggregation matches the batch computation") {
    val dir = eventsDir
    val stream = spark.readStream.schema(Tables.events(spark, sf()).schema).parquet(dir)
    val agg = StreamingPipeline.windowedCounts(stream, watermark = "0 seconds",
      window_ = "1 hour", slide = "1 hour")
    val q = agg.writeStream.outputMode("append").format("memory")
      .queryName("win_counts").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("win_counts")
      .groupBy().agg(sum("n")).as[Long].head()
    // append mode holds back windows the watermark hasn't passed — the
    // final (max-ts) window stays open, so emitted count ≤ total and
    // covers all closed windows
    val total = Tables.events(spark, sf()).count()
    assert(got > 0 && got <= total)
    // per-window values match the batch groupBy for emitted windows
    val batch = Tables.events(spark, sf())
      .groupBy(date_trunc("hour", col("ts")).as("w_start"), col("event_type"))
      .agg(count(lit(1)).as("n_batch"))
    val joined = spark.table("win_counts").join(batch, Seq("w_start", "event_type"))
    assert(joined.filter(col("n") =!= col("n_batch")).count() == 0)
  }

  test("stateful sessionization equals the batch q19 result") {
    val dir = eventsDir
    // a far-future "clock" event for a dummy user advances the watermark
    // past every real session's end + gap, forcing all of them closed
    val dummyUser = 999999L
    val maxTs = Tables.events(spark, sf()).agg(max("ts")).head().getTimestamp(0)
    val stream = spark.readStream.schema(Tables.events(spark, sf()).schema).parquet(dir)
    val sessions = StreamingPipeline.sessionize(spark, stream, watermarkDelay = "0 seconds")
    val q = sessions.writeStream.outputMode("append").format("memory")
      .queryName("sessions").start()
    q.processAllAvailable()
    Tables.events(spark, sf()).limit(1)
      .withColumn("user_id", lit(dummyUser))
      .withColumn("ts", lit(new java.sql.Timestamp(maxTs.getTime + 7L * 24 * 3600 * 1000)))
      .write.mode("append").parquet(dir)
    q.processAllAvailable(); q.stop()
    // every closed session per user rolls up to the batch answer
    val got = spark.table("sessions").filter(col("user_id") =!= dummyUser)
      .groupBy("user_id")
      .agg(count(lit(1)).as("gs"), sum("n_events").as("ge"))
    val batch = graft.operators.Relational.q19UserSessions(spark, sf())
    val diff = got.join(batch, "user_id")
      .filter(col("gs") =!= col("n_sessions") || col("ge") =!= col("n_events"))
    assert(batch.count() == got.count())
    assert(diff.count() == 0)
  }

  test("sessionization handles out-of-order events across micro-batches; state evicts") {
    import java.nio.file.{Files => JFiles, Paths}
    val dir = JFiles.createTempDirectory("graft_stream_ooo_").toString
    def write(name: String, rows: Seq[(Long, String)]): Unit =
      rows.toDF("user_id", "s").select(col("user_id"), to_timestamp(col("s")).as("ts"))
        .coalesce(1).write.mode("append").parquet(dir)
    write("b1", Seq((7L, "2024-01-01 10:00:00"), (7L, "2024-01-01 12:00:00")))
    val schema = org.apache.spark.sql.types.StructType.fromDDL("user_id BIGINT, ts TIMESTAMP")
    val stream = spark.readStream.schema(schema).parquet(dir)
    val sessions = StreamingPipeline.sessionize(spark, stream, watermarkDelay = "2 hours")
    val q = sessions.writeStream.outputMode("append").format("memory")
      .queryName("ooo_sessions").start()
    q.processAllAvailable()
    // batch 2: an out-of-order event (10:10 < the 12:00 already seen, but
    // inside the 2h watermark) must extend the EARLIER session, and a
    // late-clock event advances the watermark to 16:00 so both of user
    // 7's sessions close; user 8's stays open (bounded, un-emitted state)
    write("b2", Seq((7L, "2024-01-01 10:10:00"), (8L, "2024-01-01 18:00:00")))
    q.processAllAvailable(); q.stop()
    val got = spark.table("ooo_sessions")
      .select(col("user_id"), col("session_start"), col("session_end"), col("n_events"))
      .as[(Long, Long, Long, Long)].collect().toSet
    def us(s: String): Long = java.sql.Timestamp.valueOf(s).getTime * 1000L
    assert(got == Set(
      (7L, us("2024-01-01 10:00:00"), us("2024-01-01 10:10:00"), 2L),
      (7L, us("2024-01-01 12:00:00"), us("2024-01-01 12:00:00"), 1L)),
      s"got $got")
  }

  test("streaming dedup within watermark drops cross-batch duplicates") {
    import java.nio.file.{Files => JFiles}
    val dir = JFiles.createTempDirectory("graft_stream_dd_").toString
    def write(rows: Seq[(Long, String)]): Unit =
      rows.toDF("event_id", "s").select(col("event_id"), to_timestamp(col("s")).as("ts"))
        .coalesce(1).write.mode("append").parquet(dir)
    write(Seq((1L, "2024-01-01 10:00:00"), (2L, "2024-01-01 10:01:00")))
    val schema = org.apache.spark.sql.types.StructType.fromDDL("event_id BIGINT, ts TIMESTAMP")
    val stream = spark.readStream.schema(schema).parquet(dir)
    val deduped = StreamingPipeline.dedupeWithinWatermark(stream, Seq("event_id"), "1 hour")
    val q = deduped.writeStream.outputMode("append").format("memory")
      .queryName("dd_stream").start()
    q.processAllAvailable()
    // batch 2 re-delivers event 1 (at-least-once ingest) within the
    // watermark plus a genuinely new event
    write(Seq((1L, "2024-01-01 10:00:00"), (3L, "2024-01-01 10:05:00")))
    q.processAllAvailable(); q.stop()
    val ids = spark.table("dd_stream").select("event_id").as[Long].collect().toSeq
    assert(ids.sorted == Seq(1L, 2L, 3L), s"got $ids")
  }

  test("sessionization state survives a checkpoint restart") {
    import java.nio.file.{Files => JFiles}
    val dir = JFiles.createTempDirectory("graft_stream_rs_").toString
    val ckpt = JFiles.createTempDirectory("graft_stream_rs_ckpt_").toString
    val out = JFiles.createTempDirectory("graft_stream_rs_out_").toString
    def write(rows: Seq[(Long, String)]): Unit =
      rows.toDF("user_id", "s").select(col("user_id"), to_timestamp(col("s")).as("ts"))
        .coalesce(1).write.mode("append").parquet(dir)
    val schema = org.apache.spark.sql.types.StructType.fromDDL("user_id BIGINT, ts TIMESTAMP")
    // memory sink can't recover from a checkpoint — use the file sink,
    // which is also the restart-exactly-once production shape
    def start() = StreamingPipeline.sessionize(spark,
        spark.readStream.schema(schema).parquet(dir), watermarkDelay = "2 hours")
      .writeStream.outputMode("append").format("parquet")
      .option("path", out).option("checkpointLocation", ckpt).start()
    // run 1: open a session, then STOP the query (state lives in ckpt)
    write(Seq((5L, "2024-01-01 10:00:00")))
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    // run 2: an event 10 minutes later must EXTEND the recovered open
    // session (a state loss would start a second session), then a
    // far-future clock event closes it
    write(Seq((5L, "2024-01-01 10:10:00")))
    write(Seq((6L, "2024-01-02 12:00:00")))
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    def us(s: String): Long = java.sql.Timestamp.valueOf(s).getTime * 1000L
    val got = spark.read.parquet(out).filter($"user_id" === 5L)
      .select($"session_start", $"session_end", $"n_events")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((us("2024-01-01 10:00:00"), us("2024-01-01 10:10:00"), 2L)),
      s"got $got — state did not survive the restart")
  }

  test("streaming near-dup flags a later near-duplicate against the first-seen doc") {
    import java.nio.file.{Files => JFiles}
    val dir = JFiles.createTempDirectory("graft_stream_nd_").toString
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    def write(rows: Seq[(Long, String, String)]): Unit =
      rows.toDF("doc_id", "text", "s")
        .select(col("doc_id"), col("text"), to_timestamp(col("s")).as("ts"))
        .coalesce(1).write.mode("append").parquet(dir)
    write(Seq((1L, base, "2024-01-01 10:00:00"),
      (3L, "completely different words nothing shared here at all with anything", "2024-01-01 10:00:30")))
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, text STRING, ts TIMESTAMP")
    val stream = spark.readStream.schema(schema).parquet(dir)
    val flags = StreamingPipeline.streamingNearDupCandidates(stream)
    val q = flags.writeStream.outputMode("append").format("memory")
      .queryName("neardup_stream").start()
    q.processAllAvailable()
    // batch 2: doc 2 = doc 1's text verbatim (same signature, same buckets)
    write(Seq((2L, base, "2024-01-01 10:05:00")))
    q.processAllAvailable(); q.stop()
    val pairs = spark.table("neardup_stream")
      .select("doc_id", "matched_with").as[(Long, Long)].collect().toSet
    assert(pairs == Set((2L, 1L)), s"got $pairs") // doc 3 never flagged; 1 is the rep
  }

  test("stream-static enrichment joins the broadcast dim per micro-batch") {
    import java.nio.file.{Files => JFiles}
    val dir = JFiles.createTempDirectory("graft_stream_enr_").toString
    def write(rows: Seq[(Long, Long)]): Unit =
      rows.toDF("event_id", "nationkey").coalesce(1).write.mode("append").parquet(dir)
    write(Seq((1L, 0L), (2L, 3L)))
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "event_id BIGINT, nationkey BIGINT")
    val dim = Tables.nation(spark, sf())
      .select($"n_nationkey".as("nationkey"), $"n_name")
    val enriched = StreamingPipeline.enrich(
      spark.readStream.schema(schema).parquet(dir), dim, Seq("nationkey"))
    val q = enriched.writeStream.outputMode("append").format("memory")
      .queryName("enriched").start()
    q.processAllAvailable()
    write(Seq((3L, 7L), (4L, 999L))) // 999 has no dim row -> left join null
    q.processAllAvailable(); q.stop()
    val got = spark.table("enriched")
      .select($"event_id", $"n_name").as[(Long, String)].collect().toMap
    val names = dim.as[(Long, String)].collect().toMap
    assert(got == Map(1L -> names(0L), 2L -> names(3L), 3L -> names(7L), 4L -> null))
  }

  test("stream-stream join pairs purchases with clicks inside the window only") {
    import java.nio.file.{Files => JFiles}
    val clicksDir = JFiles.createTempDirectory("graft_ss_clicks_").toString
    val buysDir = JFiles.createTempDirectory("graft_ss_buys_").toString
    def write(dir: String, idCol: String, tsCol: String, rows: Seq[(Long, Long, String)]): Unit =
      rows.toDF("user_id", idCol, "s")
        .select(col("user_id"), col(idCol), to_timestamp(col("s")).as(tsCol))
        .coalesce(1).write.mode("append").parquet(dir)
    write(clicksDir, "click_id", "click_ts", Seq(
      (1L, 100L, "2024-01-01 10:00:00"),
      (2L, 200L, "2024-01-01 10:00:00")))
    write(buysDir, "buy_id", "buy_ts", Seq(
      (1L, 900L, "2024-01-01 10:20:00"),   // within 1h of click 100 -> joins
      (2L, 901L, "2024-01-01 12:00:00")))  // 2h after click 200 -> outside window
    val cs = org.apache.spark.sql.types.StructType.fromDDL(
      "user_id BIGINT, click_id BIGINT, click_ts TIMESTAMP")
    val bs = org.apache.spark.sql.types.StructType.fromDDL(
      "user_id BIGINT, buy_id BIGINT, buy_ts TIMESTAMP")
    val joined = StreamingPipeline.streamStreamJoin(
      spark.readStream.schema(cs).parquet(clicksDir),
      spark.readStream.schema(bs).parquet(buysDir),
      key = "user_id", leftTime = "click_ts", rightTime = "buy_ts",
      watermarkDelay = "0 seconds", joinWindow = "1 HOUR")
    val q = joined.writeStream.outputMode("append").format("memory")
      .queryName("ss_join").start()
    q.processAllAvailable()
    // a second micro-batch delivers a purchase for user 2 inside the window
    write(buysDir, "buy_id", "buy_ts", Seq((2L, 902L, "2024-01-01 10:30:00")))
    q.processAllAvailable(); q.stop()
    val got = spark.table("ss_join")
      .select($"click_id", $"buy_id").as[(Long, Long)].collect().toSet
    assert(got == Set((100L, 900L), (200L, 902L)), s"got $got")
  }

  test("streaming near-dup verify emits the exact verified pair, not candidates") {
    import java.nio.file.{Files => JFiles}
    val dir = JFiles.createTempDirectory("graft_stream_ndv_").toString
    val store = JFiles.createTempDirectory("graft_stream_ndv_store_").toString
    val out = JFiles.createTempDirectory("graft_stream_ndv_out_").toString
    val ck1 = JFiles.createTempDirectory("graft_stream_ndv_ck1_").toString
    val ck2 = JFiles.createTempDirectory("graft_stream_ndv_ck2_").toString
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    def write(rows: Seq[(Long, String, String)]): Unit =
      rows.toDF("doc_id", "text", "s")
        .select(col("doc_id"), col("text"), to_timestamp(col("s")).as("ts"))
        .coalesce(1).write.mode("append").parquet(dir)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, text STRING, ts TIMESTAMP")
    def stream = spark.readStream.schema(schema).parquet(dir)
    val storeQ = StreamingPipeline.startShingleStore(stream, store, ck1)
    val verifyQ = StreamingPipeline.startNearDupVerify(
      StreamingPipeline.streamingNearDupCandidates(stream), store, out, ck2)
    try {
      write(Seq((1L, base, "2024-01-01 10:00:00"),
        (3L, "completely different words nothing shared here at all with anything",
          "2024-01-01 10:00:30")))
      storeQ.processAllAvailable(); verifyQ.processAllAvailable()
      // batch 2: doc 2 = doc 1 with one word PREPENDED — a true near-dup
      // (not an exact copy: shingle jaccard 11/12), whose signature
      // collides with doc 1 in TWO of the four bands, so the verify join
      // must both compute a real jaccard strictly inside (threshold, 1)
      // and collapse the two per-band candidate rows into one pair
      write(Seq((2L, "omega " + base, "2024-01-01 10:05:00")))
      storeQ.processAllAvailable(); verifyQ.processAllAvailable()
      // output is batch=<id>-partitioned (idempotent per-batch overwrite)
      val got = spark.read.parquet(out)
        .select($"id_a", $"id_b", $"jaccard").as[(Long, Long, Double)].collect()
      assert(got.map(p => (p._1, p._2)).toSet == Set((2L, 1L)), s"got ${got.toSeq}")
      // multi-band collisions must collapse to ONE verified row
      assert(got.length == 1, s"pair emitted once, got ${got.toSeq}")
      val j = got.head._3
      assert(j >= 0.5 && j < 1.0, s"jaccard $j should reflect the one-word edit")
    } finally { storeQ.stop(); verifyQ.stop() }
  }

  test("near-dup verify parks store-lagged candidates as pending; retry verifies them") {
    // the shingle store is an INDEPENDENT query — when it lags the
    // candidate stream, the verify batch must not silently drop the
    // candidate (the checkpoint would commit and the pair be lost
    // forever); it parks it in the _pending backlog for a retry sweep
    import java.nio.file.{Files => JFiles}
    val dir = JFiles.createTempDirectory("graft_ndv_lag_").toString
    val store = JFiles.createTempDirectory("graft_ndv_lag_store_").toString
    val out = JFiles.createTempDirectory("graft_ndv_lag_out_").toString
    val ck1 = JFiles.createTempDirectory("graft_ndv_lag_ck1_").toString
    val ck2 = JFiles.createTempDirectory("graft_ndv_lag_ck2_").toString
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    def write(rows: Seq[(Long, String, String)]): Unit =
      rows.toDF("doc_id", "text", "s")
        .select(col("doc_id"), col("text"), to_timestamp(col("s")).as("ts"))
        .coalesce(1).write.mode("append").parquet(dir)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, text STRING, ts TIMESTAMP")
    def stream = spark.readStream.schema(schema).parquet(dir)
    val storeQ = StreamingPipeline.startShingleStore(stream, store, ck1)
    val verifyQ = StreamingPipeline.startNearDupVerify(
      StreamingPipeline.streamingNearDupCandidates(stream), store, out, ck2)
    try {
      write(Seq((1L, base, "2024-01-01 10:00:00")))
      storeQ.processAllAvailable(); verifyQ.processAllAvailable()
      // STOP the store query (it runs continuously — processAllAvailable
      // only blocks, it doesn't gate), then deliver doc 2, a near-dup of
      // doc 1: the verify batch runs against a store missing doc 2
      storeQ.stop()
      write(Seq((2L, "omega " + base, "2024-01-01 10:05:00")))
      verifyQ.processAllAvailable()
      val pend = StreamingPipeline.pendingCandidates(spark, out)
        .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
      assert(pend == Set((2L, 1L)), s"pending should hold the lagged pair, got $pend")
      val verifiedEarly = spark.read
        .schema("id_a BIGINT, id_b BIGINT, jaccard DOUBLE").parquet(out)
      assert(verifiedEarly.isEmpty, "nothing is verifiable before the store catches up")
      // store restarts from its checkpoint and catches up; the retry
      // sweep then verifies the parked pair
      val storeQ2 = StreamingPipeline.startShingleStore(stream, store, ck1)
      try storeQ2.processAllAvailable() finally storeQ2.stop()
      val retried = StreamingPipeline.verifyPending(spark, store, out)
        .select($"id_a", $"id_b", $"jaccard").as[(Long, Long, Double)].collect()
      assert(retried.map(p => (p._1, p._2)).toSet == Set((2L, 1L)), s"got ${retried.toSeq}")
      val j = retried.head._3
      assert(j >= 0.5 && j < 1.0, s"jaccard $j should reflect the one-word edit")

      // the COMPACTING sweep: persists the verified pair into the
      // batch=<id> output layout and retires it from the backlog, so
      // downstream reads need no cross-sweep dedup
      val swept = StreamingPipeline.verifyPendingAndCompact(spark, store, out)
        .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
      assert(swept == Set((2L, 1L)), s"sweep should emit the parked pair, got $swept")
      val persisted = spark.read
        .schema("id_a BIGINT, id_b BIGINT, jaccard DOUBLE").parquet(out)
        .select($"id_a", $"id_b").as[(Long, Long)].collect()
      assert(persisted.toSeq == Seq((2L, 1L)),
        s"outDir should hold the swept pair exactly once, got ${persisted.toSeq}")
      assert(StreamingPipeline.pendingCandidates(spark, out).isEmpty,
        "backlog should be empty after compaction")
      // a second sweep is a no-op: nothing re-emitted, no duplicate rows
      assert(StreamingPipeline.verifyPendingAndCompact(spark, store, out).isEmpty,
        "second sweep must not re-emit")
      val after = spark.read
        .schema("id_a BIGINT, id_b BIGINT, jaccard DOUBLE").parquet(out)
      assert(after.count() == 1, "second sweep must not duplicate output rows")
    } finally { storeQ.stop(); verifyQ.stop() }
  }

  test("pendingCandidates before any backlog write returns an empty frame") {
    // _pending does not exist until the first non-empty micro-batch
    // writes it — a sweep scheduled ahead of ingest must see an empty
    // backlog, not PATH_NOT_FOUND
    import java.nio.file.{Files => JFiles}
    val out = JFiles.createTempDirectory("graft_ndv_empty_out_").toString
    val pend = StreamingPipeline.pendingCandidates(spark, out)
    assert(pend.isEmpty, "no backlog dir should read as an empty backlog")
    assert(pend.columns.toSeq == Seq("id_a", "id_b", "first_seen"))
    assert(StreamingPipeline.deadLetterCandidates(spark, out).isEmpty,
      "no dead-letter dir should read as an empty relation")
  }

  test("backlog TTL: expired entries move to dead letter; young ones stay; age survives compaction") {
    import java.nio.file.{Files => JFiles}
    val out = JFiles.createTempDirectory("graft_ttl_out_").toString
    // batch 0 parks (1,2); batch 5 parks (3,4); a LEGACY 2-col backlog
    // file (pre-first_seen build) parks (7,8) — reads as first_seen −1,
    // older than any horizon
    Seq((1L, 2L, 0L)).toDF("id_a", "id_b", "first_seen")
      .write.mode("overwrite")
      .parquet(s"$out/${StreamingPipeline.PendingDirName}/batch=0")
    Seq((3L, 4L, 5L)).toDF("id_a", "id_b", "first_seen")
      .write.mode("overwrite")
      .parquet(s"$out/${StreamingPipeline.PendingDirName}/batch=5")
    Seq((7L, 8L)).toDF("id_a", "id_b")
      .write.mode("overwrite")
      .parquet(s"$out/${StreamingPipeline.PendingDirName}/batch=1")
    val dead = StreamingPipeline.expirePendingToDeadLetter(spark, out,
      beforeBatch = 3L)
    assert(dead.select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
      == Set((1L, 2L), (7L, 8L)), "entries first seen before the horizon expire")
    assert(StreamingPipeline.pendingCandidates(spark, out)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
      == Set((3L, 4L)), "entries inside the horizon stay parked")
    assert(StreamingPipeline.deadLetterCandidates(spark, out)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
      == Set((1L, 2L), (7L, 8L)))
    // idempotent: a second sweep at the same horizon moves nothing new
    assert(StreamingPipeline.expirePendingToDeadLetter(spark, out, 3L)
      .count() == 2, "re-sweep returns the same dead-letter view")
    assert(StreamingPipeline.pendingCandidates(spark, out).count() == 1)
    // a LATER horizon expires the rest; dead letter accumulates
    assert(StreamingPipeline.expirePendingToDeadLetter(spark, out, 100L)
      .count() == 3)
    assert(StreamingPipeline.pendingCandidates(spark, out).isEmpty)
  }

  test("backlog sweep keeps still-parked pairs in their parked orientation") {
    import java.nio.file.{Files => JFiles}
    val store = JFiles.createTempDirectory("graft_ndv_orient_store_").toString
    val out = JFiles.createTempDirectory("graft_ndv_orient_out_").toString
    // docs 1 and 2 are stored; 3 and 9 never arrive
    Seq((1L, 7L), (2L, 7L)).toDF("doc_id", "h").write.parquet(s"$store/b0")
    Seq((1L, 2L, 0L), (3L, 9L, 4L), (1L, 9L, 5L)).toDF("id_a", "id_b", "first_seen")
      .write.parquet(s"$out/${StreamingPipeline.PendingDirName}/batch=0")
    StreamingPipeline.verifyPendingAndCompact(spark, store, out)
    assert(StreamingPipeline.pendingCandidates(spark, out)
      .as[(Long, Long, Long)].collect().toSet == Set((3L, 9L, 4L), (1L, 9L, 5L)))
  }

  test("live near-dup verify parks each pair once, in its candidate orientation") {
    val store = Files.createTempDirectory("graft_ndv_live_orient_store_").toString
    val out = Files.createTempDirectory("graft_ndv_live_orient_out_").toString
    val cands = Files.createTempDirectory("graft_ndv_live_orient_cands_").toString
    // doc 1 is stored; 3 and 9 never arrive
    Seq((1L, 7L)).toDF("doc_id", "h").write.parquet(s"$store/b0")
    Seq((3L, 9L), (1L, 9L)).toDF("doc_id", "matched_with").write.mode("append").parquet(cands)
    val q = StreamingPipeline.startNearDupVerify(
      spark.readStream.schema("doc_id BIGINT, matched_with BIGINT").parquet(cands),
      store, out, Files.createTempDirectory("graft_ndv_live_orient_ck_").toString)
    try q.processAllAvailable() finally q.stop()
    assert(StreamingPipeline.pendingCandidates(spark, out)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet == Set((3L, 9L), (1L, 9L)))
  }

  test("a backlog replace that crashed after its park survives a verify-stream restart") {
    // the restarted stream re-creates `_pending`; that dir must not pass
    // for the landed replacement and get the parked backlog reclaimed
    FaultFs.register(spark.sparkContext.hadoopConfiguration)
    val store = Files.createTempDirectory("graft_ndv_park_store_").toString
    val out = FaultFs.uri(Files.createTempDirectory("graft_ndv_park_out_").toString)
    val cands = Files.createTempDirectory("graft_ndv_park_cands_").toString
    val ck = Files.createTempDirectory("graft_ndv_park_ck_").toString
    // doc 1 is stored; 3 and 8 never arrive
    Seq((1L, 7L)).toDF("doc_id", "h").write.parquet(s"$store/b0")
    def verifyBatch(doc: Long, matched: Long): Unit = {
      Seq((doc, matched)).toDF("doc_id", "matched_with")
        .write.mode("append").parquet(cands)
      val q = StreamingPipeline.startNearDupVerify(
        spark.readStream.schema("doc_id BIGINT, matched_with BIGINT").parquet(cands),
        store, out, ck)
      try q.processAllAvailable() finally q.stop()
    }
    def backlog = StreamingPipeline.pendingCandidates(spark, out)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    verifyBatch(3L, 1L)
    assert(backlog == Set((3L, 1L)))
    // the sweep's backlog replace dies after parking the live backlog
    intercept[IllegalArgumentException] {
      FaultFs.failRenamesOnto(StreamingPipeline.PendingDirName) {
        StreamingPipeline.verifyPendingAndCompact(spark, store, out)
      }
    }
    assert(backlog.isEmpty, "readers see no backlog while it is parked")
    verifyBatch(8L, 1L)
    StreamingPipeline.verifyPendingAndCompact(spark, store, out)
    assert(backlog == Set((3L, 1L), (8L, 1L)))
  }

  test("sessionization runs on the RocksDB state store provider") {
    // HDFS-backed (default) state lives on the executor HEAP — at 100 TB
    // of keyed state that is an OOM; RocksDB spills state to local disk
    // and is the production provider. Same query, same results.
    import java.nio.file.{Files => JFiles}
    val dir = JFiles.createTempDirectory("graft_rocks_").toString
    def write(rows: Seq[(Long, String)]): Unit =
      rows.toDF("user_id", "s").select(col("user_id"), to_timestamp(col("s")).as("ts"))
        .coalesce(1).write.mode("append").parquet(dir)
    write(Seq((5L, "2024-01-01 10:00:00"), (5L, "2024-01-01 10:10:00")))
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val schema = org.apache.spark.sql.types.StructType.fromDDL("user_id BIGINT, ts TIMESTAMP")
      val q = StreamingPipeline.sessionize(spark,
          spark.readStream.schema(schema).parquet(dir), watermarkDelay = "1 hour")
        .writeStream.outputMode("append").format("memory")
        .queryName("rocks_sessions").start()
      q.processAllAvailable()
      write(Seq((6L, "2024-01-02 12:00:00"))) // clock event closes user 5
      q.processAllAvailable(); q.stop()
      def us(s: String): Long = java.sql.Timestamp.valueOf(s).getTime * 1000L
      val got = spark.table("rocks_sessions").filter($"user_id" === 5L)
        .select($"session_start", $"session_end", $"n_events")
        .as[(Long, Long, Long)].collect().toSet
      assert(got == Set((us("2024-01-01 10:00:00"), us("2024-01-01 10:10:00"), 2L)),
        s"got $got")
    } finally prev match {
      case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("kafka payload projection keeps the reference shape") {
    val payload = graft.sinks.Sinks.kafkaPayload(Tables.region(spark, sf()))
    assert(payload.columns.toSeq == Seq("value"))
    val v = payload.orderBy("value").as[String].head()
    assert(v.startsWith("""{"r_regionkey":"""))
  }

  test("streaming incremental agg store equals the flat recompute; survives restart") {
    val in = Files.createTempDirectory("graft_incstore_in_").toString
    val store = Files.createTempDirectory("graft_incstore_").toString
    val ckpt = Files.createTempDirectory("graft_incstore_ckpt_").toString
    val orders = Tables.orders(spark, sf())
    val half1 = orders.filter($"o_orderkey" % 2 === 0)
    val half2 = orders.filter($"o_orderkey" % 2 =!= 0)
    half1.write.mode("overwrite").parquet(in)
    def startQ() = StreamingPipeline.startIncrementalAggStore(
      spark.readStream.schema(orders.schema).parquet(in), store, ckpt)
    val q = startQ()
    q.processAllAvailable(); q.stop()
    // flat recompute over what has streamed so far
    def statsOf(df: org.apache.spark.sql.DataFrame) =
      graft.operators.Incremental.finalizeStats(
        graft.operators.Incremental.orderPartials(df))
        .as[(Long, Long, Double, Double)].collect().toSet
    val got1 = graft.operators.Incremental.finalizeStats(
        StreamingPipeline.latestPartials(spark, store))
      .as[(Long, Long, Double, Double)].collect().toSet
    assert(got1 == statsOf(half1), "store after batch 1 diverges from recompute")
    // restart from the checkpoint, stream the second half
    half2.write.mode("append").parquet(in)
    val q2 = startQ()
    q2.processAllAvailable(); q2.stop()
    val got2 = graft.operators.Incremental.finalizeStats(
        StreamingPipeline.latestPartials(spark, store))
      .as[(Long, Long, Double, Double)].collect().toSet
    assert(got2 == statsOf(orders), "store after restart diverges from full recompute")
    // replay isolation: re-merging version v reads only versions < v
    val empty = StreamingPipeline.latestPartials(spark, store, beforeVersion = 0L)
    assert(empty.count() == 0, "beforeVersion=0 must see an empty store")
  }

  test("streaming ER pair store survives restart; pairs land exactly once") {
    val in = Files.createTempDirectory("graft_erstore_in_").toString
    val store = Files.createTempDirectory("graft_erstore_").toString
    val ckpt = Files.createTempDirectory("graft_erstore_ckpt_").toString
    val cust = Tables.customer(spark, sf())
      .select($"c_custkey".as("id"), $"c_name".as("name"))
    val half1 = cust.filter($"id" % 2 === 0)
    val half2 = cust.filter($"id" % 2 =!= 0)
    half1.coalesce(1).write.mode("overwrite").parquet(in)
    val schema = org.apache.spark.sql.types.StructType
      .fromDDL("id BIGINT, name STRING")
    def startQ() = StreamingPipeline.startErPairStore(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(in),
      store, ckpt, maxDist = 1)
    val q = startQ()
    q.processAllAvailable(); q.stop()
    def pairsInStore() = spark.read
      .schema("id_a BIGINT, id_b BIGINT, name_a STRING, name_b STRING")
      .parquet(s"$store/pairs/b*")
      .as[(Long, Long, String, String)].collect().toSeq
    def batchPairs(df: org.apache.spark.sql.DataFrame) =
      graft.operators.EntityResolution
        .fuzzyMatchPairs(df, "id", "name", 1)
        .as[(Long, Long, String, String)].collect().toSeq
    assert(pairsInStore().sorted == batchPairs(half1).sorted,
      "store after half 1 diverges from the batch blocking over half 1")
    // restart from the checkpoint, stream the second half — history must
    // be matched against, not reprocessed
    half2.coalesce(1).write.mode("append").parquet(in)
    val q2 = startQ()
    q2.processAllAvailable(); q2.stop()
    val after = pairsInStore()
    assert(after.sorted == batchPairs(cust).sorted,
      "store after restart diverges from the full batch blocking")
    assert(after.distinct.size == after.size,
      "a pair was emitted by two different batches")
    graft.Caches.releaseAll()
  }

  test("streaming ANN pair store survives restart; pairs land exactly once") {
    val in = Files.createTempDirectory("graft_annstore_in_").toString
    val store = Files.createTempDirectory("graft_annstore_").toString
    val ckpt = Files.createTempDirectory("graft_annstore_ckpt_").toString
    val emb = Tables.embeddings(spark, sf())
      .select($"vec_id", $"embedding")
    val half1 = emb.filter($"vec_id" % 2 === 0)
    val half2 = emb.filter($"vec_id" % 2 =!= 0)
    half1.coalesce(1).write.mode("overwrite").parquet(in)
    val schema = org.apache.spark.sql.types.StructType
      .fromDDL("vec_id BIGINT, embedding ARRAY<FLOAT>")
    def startQ() = StreamingPipeline.startAnnPairStore(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(in),
      store, ckpt)
    val q = startQ()
    q.processAllAvailable(); q.stop()
    def pairsInStore() = spark.read
      .schema("id_a BIGINT, id_b BIGINT, cosine DOUBLE")
      .parquet(s"$store/pairs/b*")
      .as[(Long, Long, Double)].collect().toSeq
    def batchPairs(df: org.apache.spark.sql.DataFrame) = {
      val r = graft.operators.Similarity.nearDupPairsOf(df)
        .as[(Long, Long, Double)].collect().toSeq
      graft.Caches.releaseAll()
      r
    }
    assert(pairsInStore().sorted == batchPairs(half1).sorted,
      "store after half 1 diverges from the batch band join over half 1")
    // restart from the checkpoint, stream the second half
    half2.coalesce(1).write.mode("append").parquet(in)
    val q2 = startQ()
    q2.processAllAvailable(); q2.stop()
    val after = pairsInStore()
    assert(after.sorted == batchPairs(emb).sorted,
      "store after restart diverges from the full batch band join")
    assert(after.distinct.size == after.size,
      "a pair was emitted by two different batches")
  }

  test("compactDeltas: snapshot ≡ union of deltas, folded dirs retired, replay isolation guarded") {
    val store = Files.createTempDirectory("graft_compact_").toString
    val schema = "id BIGINT, v BIGINT"
    (0 to 2).foreach { b =>
      spark.range(b * 10, b * 10 + 5)
        .select($"id", ($"id" * 2).as("v"))
        .write.mode("overwrite").parquet(s"$store/b$b")
    }
    def contents(before: Long) =
      StreamingPipeline.deltasBelow(spark, store, schema, before)
        .as[(Long, Long)].collect().toSet
    val all = contents(Long.MaxValue)
    assert(all.size == 15)
    StreamingPipeline.compactDeltas(spark, store, schema, uptoVersion = 1)
    val names = new java.io.File(store).listFiles().map(_.getName).toSet
    assert(names.contains("v=1") && !names.contains("b0") &&
      !names.contains("b1") && names.contains("b2"),
      s"sweep must fold b0,b1 into v=1 and retire them; got $names")
    assert(contents(Long.MaxValue) == all,
      "compaction must not change store contents")
    // replay isolation across the sweep: batch 2's own read (strictly
    // below 2) is exactly the first two batches' rows, via the snapshot
    assert(contents(2L) == all.filter(_._1 < 20))
    // a replay BELOW the snapshot fails loudly instead of serving
    // history that includes batches it must not see
    intercept[IllegalArgumentException] {
      StreamingPipeline.deltasBelow(spark, store, schema, 1L)
    }
    // idempotent re-run of the same sweep
    StreamingPipeline.compactDeltas(spark, store, schema, uptoVersion = 1)
    assert(contents(Long.MaxValue) == all)
    // the next sweep folds the remaining delta and retires the
    // superseded snapshot
    StreamingPipeline.compactDeltas(spark, store, schema, uptoVersion = 2)
    val names2 = new java.io.File(store).listFiles().map(_.getName).toSet
    assert(names2.contains("v=2") && !names2.contains("v=1") &&
      !names2.contains("b2"), s"second sweep left $names2")
    assert(contents(Long.MaxValue) == all)
    // compacting backward is rejected
    intercept[IllegalArgumentException] {
      StreamingPipeline.compactDeltas(spark, store, schema, uptoVersion = 1)
    }
    // a store dir no batch has written yet reads as empty (legitimate
    // batch-0 state), not as an error
    assert(StreamingPipeline.deltasBelow(spark, s"$store/_nope", schema, 5L)
      .count() == 0)
  }

  test("tombstones: serving mask first, physical removal at the fold, then retirement") {
    val store = Files.createTempDirectory("graft_tomb_").toString
    val fam = s"$store/rows"
    val schema = "id BIGINT, v BIGINT"
    (0 to 1).foreach { b =>
      spark.range(b * 10, b * 10 + 5)
        .select($"id", ($"id" * 2).as("v"))
        .write.mode("overwrite").parquet(s"$fam/b$b")
    }
    def excluded = StreamingPipeline
      .contentsExcludingTombstones(spark, fam, schema, store, Seq("id"))
      .as[(Long, Long)].collect().toSet
    def raw = StreamingPipeline.storeContents(spark, fam, schema)
      .as[(Long, Long)].collect().toSet
    // no tombstones yet: the excluding read is the plain read
    assert(excluded == raw && raw.size == 10)
    // multi-column tombstones are rejected, not silently mis-keyed
    intercept[IllegalArgumentException] {
      StreamingPipeline.writeTombstones(spark, store,
        spark.range(1).select($"id", $"id".as("x")))
    }
    // phase 1 — MASK: registered keys vanish from the serving read
    // while the raw family still holds their rows (bytes not yet gone)
    val t0 = StreamingPipeline.writeTombstones(spark, store,
      Seq(1L, 3L, 11L).toDF("id"))
    assert(t0 == 0L)
    assert(excluded == raw.filterNot(r => Set(1L, 3L, 11L)(r._1)))
    assert(raw.exists(_._1 == 1L), "mask phase must not touch the family")
    // delta ids increment; duplicate tombstones are harmless
    assert(StreamingPipeline.writeTombstones(spark, store,
      Seq(3L).toDF("id")) == 1L)
    // phase 2 — FOLD: the snapshot is written WITHOUT the keys' rows
    StreamingPipeline.compactDeltas(spark, fam, schema,
      uptoVersion = 1, excluding = Some((store, Seq("id"))))
    val snap = spark.read
      .schema(org.apache.spark.sql.types.StructType.fromDDL(schema))
      .parquet(s"$fam/v=1").as[(Long, Long)].collect().toSet
    assert(!snap.exists(r => Set(1L, 3L, 11L)(r._1)),
      "physically folded snapshot still contains deleted rows")
    assert(snap.size == 7)
    assert(raw == snap, "post-fold plain read must equal the snapshot")
    // phase 3 — RETIRE: tombstone dirs go away; both reads now agree
    StreamingPipeline.retireTombstones(spark, store, upto = 1L)
    assert(StreamingPipeline.storeTombstones(spark, store).count() == 0)
    assert(excluded == snap)
    // retirement is idempotent
    StreamingPipeline.retireTombstones(spark, store, upto = 1L)
    assert(excluded == snap)
  }

  test("tombstone delta ids stay monotonic ACROSS retirements") {
    // a retirement empties the directory; if the next delete reused id
    // 0, a caller holding a stale `upto` from before the retirement
    // could retire the new, unfolded tombstones and un-delete keys.
    // The persisted high-water marker makes ids monotonic forever.
    val store = Files.createTempDirectory("graft_tomb_hwm_").toString
    val t0 = StreamingPipeline.writeTombstones(spark, store, Seq(1L).toDF("id"))
    val t1 = StreamingPipeline.writeTombstones(spark, store, Seq(2L).toDF("id"))
    assert(t0 == 0L && t1 == 1L)
    StreamingPipeline.retireTombstones(spark, store, upto = t1)
    assert(StreamingPipeline.storeTombstones(spark, store).count() == 0)
    val t2 = StreamingPipeline.writeTombstones(spark, store, Seq(3L).toDF("id"))
    assert(t2 == 2L, s"post-retirement tombstone id reused: $t2")
    // the stale `upto` from before the retirement no longer covers the
    // new delta — retiring with it is a no-op on id 3's tombstone
    StreamingPipeline.retireTombstones(spark, store, upto = t1)
    assert(StreamingPipeline.storeTombstones(spark, store)
      .as[Long].collect().toSet == Set(3L))
  }

  /** Run `f` with the object-store protocol forced on (local FS stands
    * in for s3a — the direct-write marker-last semantics apply). */
  private def withObjectStoreSemantics[A](f: => A): A = {
    spark.conf.set(StreamingPipeline.ForceObjectStoreConf, "true")
    try f finally spark.conf.unset(StreamingPipeline.ForceObjectStoreConf)
  }

  test("snapshot commit marker: a crashed partial serves old state; re-run heals") {
    // the object-store publish path writes the snapshot files first and
    // the _GRAFT_COMMITTED marker LAST — a crash in between leaves an
    // unmarked v= dir. Simulate exactly that state (object-store
    // semantics forced — on rename-protocol filesystems an unmarked dir
    // is a committed LEGACY snapshot, covered by its own test below)
    // and pin the protocol: readers ignore it (old state served), the
    // next sweep GC's it and refolds.
    withObjectStoreSemantics {
    val store = Files.createTempDirectory("graft_marker_").toString
    val schema = "id BIGINT, v BIGINT"
    (0 to 1).foreach { b =>
      spark.range(b * 10, b * 10 + 5)
        .select($"id", ($"id" * 2).as("v"))
        .write.mode("overwrite").parquet(s"$store/b$b")
    }
    StreamingPipeline.compactDeltas(spark, store, schema, uptoVersion = 0)
    assert(new java.io.File(s"$store/v=0/${StreamingPipeline.CommitMarkerName}")
      .exists(), "published snapshot must carry the commit marker")
    def contents = StreamingPipeline
      .storeContents(spark, store, schema).as[(Long, Long)].collect().toSet
    val before = contents
    assert(before.size == 10)
    // crashed partial: data files present, NO commit marker — and with
    // garbage rows, so serving it would be visible
    spark.range(900, 905).select($"id", lit(-1L).as("v"))
      .write.mode("overwrite").parquet(s"$store/v=5")
    assert(contents == before,
      "an unmarked snapshot partial must be invisible to readers")
    // the re-run sweep heals: GC the partial, fold the real state
    StreamingPipeline.compactDeltas(spark, store, schema, uptoVersion = 1)
    val names = new java.io.File(store).listFiles().map(_.getName).toSet
    assert(!names.contains("v=5"), s"crashed partial not GC'd: $names")
    assert(names.contains("v=1") && !names.contains("b0") && !names.contains("b1"))
    assert(contents == before)
    }
  }

  test("legacy pre-marker snapshot on a rename filesystem: served, never GC'd") {
    // migration pin: a store whose snapshot was published by the old
    // rename-only protocol (no _GRAFT_COMMITTED inside) must keep
    // serving it — under marker-only acceptance the reader would hide
    // it (serving only post-snapshot deltas, whose covered b-dirs are
    // gone) and the next sweep would DELETE it as a crashed partial:
    // permanent silent data loss on the first sweep after an upgrade.
    val store = Files.createTempDirectory("graft_legacy_snap_").toString
    val schema = "id BIGINT, v BIGINT"
    // hand-build the legacy layout: a marker-less snapshot covering
    // retired deltas, plus one later live delta
    spark.range(0, 10).select($"id", ($"id" * 2).as("v"))
      .write.mode("overwrite").parquet(s"$store/v=0")
    spark.range(10, 15).select($"id", ($"id" * 2).as("v"))
      .write.mode("overwrite").parquet(s"$store/b1")
    assert(!new java.io.File(s"$store/v=0/${StreamingPipeline.CommitMarkerName}")
      .exists(), "test setup: the legacy snapshot must be marker-less")
    def contents = StreamingPipeline
      .storeContents(spark, store, schema).as[(Long, Long)].collect().toSet
    assert(contents.map(_._1) == (0L until 15L).toSet,
      "legacy snapshot must serve on a rename filesystem")
    // the sweep folds legacy snapshot + delta — never GC's the legacy dir
    StreamingPipeline.compactDeltas(spark, store, schema, uptoVersion = 1)
    val names = new java.io.File(store).listFiles().map(_.getName).toSet
    assert(names.contains("v=1") && !names.contains("b1"))
    assert(contents.map(_._1) == (0L until 15L).toSet,
      s"data lost across the post-upgrade sweep: ${contents.size} rows")
  }

  test("excluding refold at an already-compacted boundary: erasure never silently un-deletes") {
    // the silent-un-delete case: a routine compaction already published
    // v=1 with NO unfolded deltas, then an erasure arrives at the same
    // quiesced boundary. A skip-if-snapshot-exists fold would leave the
    // erased keys' rows in the snapshot bytes while eraseFromStore
    // retires the tombstones — mask gone, rows back. The excluding path
    // must force the refold (in place, via the parked-swap publish).
    val store = Files.createTempDirectory("graft_refold_").toString
    val schema = "id BIGINT, v BIGINT"
    Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("id", "v")
      .write.mode("overwrite").parquet(s"$store/rows/b0")
    StreamingPipeline.stampFamilies(spark, store, Seq("rows"))
    // routine compaction at the boundary — v=1 exists, no deltas remain
    StreamingPipeline.compactDeltas(spark, s"$store/rows", schema, uptoVersion = 1)
    // erasure at the SAME boundary
    StreamingPipeline.eraseFromStore(spark, store, Seq(2L).toDF("id"),
      Seq(StreamingPipeline.StoreFamily("rows", schema, Seq("id"))),
      uptoVersion = 1)
    assert(StreamingPipeline.storeTombstones(spark, store).count() == 0,
      "composed erasure retires its tombstones")
    // the PHYSICAL snapshot bytes must no longer contain id 2 (no mask
    // is live anymore — this read would un-delete under the skip bug)
    assert(StreamingPipeline.storeContents(spark, s"$store/rows", schema)
      .as[(Long, Long)].collect().toSet == Set((1L, 10L), (3L, 30L)),
      "erased key resurrected: the excluding fold was skipped")
    // and the same holds under the object-store (direct-write) publish
    val store2 = Files.createTempDirectory("graft_refold_os_").toString
    withObjectStoreSemantics {
      Seq((1L, 10L), (2L, 20L)).toDF("id", "v")
        .write.mode("overwrite").parquet(s"$store2/rows/b0")
      StreamingPipeline.stampFamilies(spark, store2, Seq("rows"))
      StreamingPipeline.compactDeltas(spark, s"$store2/rows", schema, uptoVersion = 1)
      StreamingPipeline.eraseFromStore(spark, store2, Seq(2L).toDF("id"),
        Seq(StreamingPipeline.StoreFamily("rows", schema, Seq("id"))),
        uptoVersion = 1)
      assert(StreamingPipeline.storeContents(spark, s"$store2/rows", schema)
        .as[(Long, Long)].collect().toSet == Set((1L, 10L)),
        "object-store in-place refold lost or resurrected rows")
    }
  }

  test("signed heavy-hitter store: a MIXED batch writes split totals rows (gross preserved)") {
    // one micro-batch carrying both signs: the totals family must hold
    // +insert-mass and −erased-mass as SEPARATE rows — a single netted
    // row would undercount gross (= Σ positive rows) and let the
    // serving headroom check pass when it should refuse
    val root = Files.createTempDirectory("graft_hhmix_").toString
    val schema = org.apache.spark.sql.types.StructType
      .fromDDL("doc_id BIGINT, text STRING, _sign INT")
    // insert mass 8 tokens, erase mass 4 tokens, ONE batch (no
    // maxFilesPerTrigger → one file, one micro-batch)
    Seq((1L, "a b c d", 1), (2L, "e f g h", 1), (3L, "w x y z", -1))
      .toDF("doc_id", "text", "_sign")
      .coalesce(1).write.mode("append").parquet(s"$root/in")
    val q = StreamingPipeline.startSignedHeavyHitterStore(
      spark.readStream.schema(schema).parquet(s"$root/in"),
      s"$root/store", s"$root/ckpt", capacity = 16)
    try q.processAllAvailable() finally q.stop()
    val totals = StreamingPipeline.storeContents(spark, s"$root/store/totals",
      "total BIGINT").as[Long].collect().sorted.toSeq
    assert(totals == Seq(-4L, 8L),
      s"mixed batch must write split totals rows, got $totals")
    val gross = totals.filter(_ > 0).sum
    val net = totals.sum
    assert(gross == 8L && net == 4L,
      s"gross/net reconstruction broken: gross=$gross net=$net")
  }

  test("signed candidate stream: a LATE-stamped erasure is dropped by the watermark (documented contract)") {
    // the event-time contract pinned: an erase row stamped with the
    // original document's old event time falls behind the watermark and
    // is silently filtered before the stateful operator — the id stays
    // in bucket state and still pairs. Erase rows must carry ARRIVAL
    // time (at or ahead of the watermark).
    val in = Files.createTempDirectory("graft_late_erase_in_").toString
    val text = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    def write(rows: Seq[(Long, String, String, Int)]): Unit =
      rows.toDF("doc_id", "text", "_ts", "_sign")
        .select($"doc_id", $"text", to_timestamp($"_ts").as("ts"), $"_sign")
        .coalesce(1).write.mode("append").parquet(in)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, text STRING, ts TIMESTAMP, _sign INT")
    def src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(in)
    val out = Files.createTempDirectory("graft_late_erase_out_").toString
    val ckpt = Files.createTempDirectory("graft_late_erase_ckpt_").toString
    def drain(): Unit = {
      val q = StreamingPipeline
        .streamingNearDupCandidatesSigned(src, watermarkDelay = "10 minutes",
          evictAfterMs = 24L * 3600 * 1000)
        .writeStream.outputMode("append").format("parquet")
        .option("path", out).option("checkpointLocation", ckpt).start()
      try q.processAllAvailable() finally q.stop()
    }
    // batch 1: doc 1 at 10:00 (becomes the bucket rep); batch 2: a row
    // at 12:00 advances the watermark to ~11:50
    write(Seq((1L, text, "2024-01-01 10:00:00", 1)))
    write(Seq((50L, "unrelated words only here nothing shared at all",
      "2024-01-01 12:00:00", 1)))
    drain()
    // batch 3: erase doc 1 stamped with its ORIGINAL 10:00 event time —
    // behind the watermark, silently dropped (the documented trap)
    write(Seq((1L, text, "2024-01-01 10:00:00", -1)))
    // batch 4: a near-dup of doc 1 arrives — doc 1 was NOT erased from
    // state, so it still pairs
    write(Seq((2L, "omega " + text, "2024-01-01 12:01:00", 1)))
    drain()
    val pairs = spark.read
      .schema("doc_id BIGINT, matched_with BIGINT, bucket STRING").parquet(out)
      .select($"doc_id", $"matched_with").distinct()
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((2L, 1L)),
      "late-stamped erasure should have been dropped (documented), but state changed")
    // erase again, stamped at the watermark frontier: takes effect —
    // a further near-dup pairs against nothing
    write(Seq((1L, text, "2024-01-01 12:02:00", -1)))
    write(Seq((3L, "sigma " + text, "2024-01-01 12:03:00", 1)))
    drain()
    val after = spark.read
      .schema("doc_id BIGINT, matched_with BIGINT, bucket STRING").parquet(out)
      .select($"doc_id", $"matched_with").distinct()
      .as[(Long, Long)].collect().toSet
    assert(!after.exists(_._1 == 3L),
      s"fresh-stamped erasure must empty the bucket state, got ${after.filter(_._1 == 3L)}")
  }

  test("eraseFromStore refuses a partial family list on a stamped store") {
    val store = Files.createTempDirectory("graft_erase_api_").toString
    val schema = "id BIGINT, v BIGINT"
    Seq((1L, 10L), (2L, 20L)).toDF("id", "v")
      .write.mode("overwrite").parquet(s"$store/rows/b0")
    Seq((1L, 2L)).toDF("id_a", "id_b")
      .write.mode("overwrite").parquet(s"$store/links/b0")
    StreamingPipeline.stampFamilies(spark, store, Seq("rows", "links"))
    // a second stamp with a DIFFERENT set refuses
    intercept[IllegalArgumentException] {
      StreamingPipeline.stampFamilies(spark, store, Seq("rows"))
    }
    val rowsFam = StreamingPipeline.StoreFamily("rows", schema, Seq("id"))
    val linksFam = StreamingPipeline.StoreFamily("links",
      "id_a BIGINT, id_b BIGINT", Seq("id_a", "id_b"))
    // partial family list: refused BEFORE any tombstone is written —
    // otherwise retirement would un-delete id 1 in the uncovered family
    val ex = intercept[IllegalArgumentException] {
      StreamingPipeline.eraseFromStore(spark, store, Seq(1L).toDF("id"),
        Seq(rowsFam), uptoVersion = 0)
    }
    assert(ex.getMessage.contains("links"))
    assert(StreamingPipeline.storeTombstones(spark, store).count() == 0,
      "refusal must happen before the tombstone write")
    // the full list erases across every family and retires tombstones
    StreamingPipeline.eraseFromStore(spark, store, Seq(1L).toDF("id"),
      Seq(rowsFam, linksFam), uptoVersion = 0)
    assert(StreamingPipeline.storeContents(spark, s"$store/rows", schema)
      .as[(Long, Long)].collect().toSet == Set((2L, 20L)))
    assert(StreamingPipeline.storeContents(spark, s"$store/links",
      "id_a BIGINT, id_b BIGINT").count() == 0)
    assert(StreamingPipeline.storeTombstones(spark, store).count() == 0,
      "composed erasure must retire its tombstones after all folds")
  }

  test("ensureSchemaCompat: additive widening passes; type change, rename, drop refused") {
    val dir = Files.createTempDirectory("graft_schema_guard_").toString
    StreamingPipeline.ensureSchemaCompat(spark, dir, "id BIGINT, v BIGINT")
    // identical: fine
    StreamingPipeline.ensureSchemaCompat(spark, dir, "id BIGINT, v BIGINT")
    // additive widening: fine, and the stamp widens for later callers
    StreamingPipeline.ensureSchemaCompat(spark, dir,
      "id BIGINT, v BIGINT, tag STRING")
    // type change on a stamped column: refused, both schemas named
    val tc = intercept[IllegalArgumentException] {
      StreamingPipeline.ensureSchemaCompat(spark, dir,
        "id BIGINT, v INT, tag STRING")
    }
    assert(tc.getMessage.contains("changed type") &&
      tc.getMessage.contains("stamped") && tc.getMessage.contains("presented"))
    // drop (now checked against the WIDENED stamp): refused
    val dr = intercept[IllegalArgumentException] {
      StreamingPipeline.ensureSchemaCompat(spark, dir, "id BIGINT, v BIGINT")
    }
    assert(dr.getMessage.contains("missing"))
    // rename = drop + add under a new name: refused on the missing half
    val rn = intercept[IllegalArgumentException] {
      StreamingPipeline.ensureSchemaCompat(spark, dir,
        "id BIGINT, v BIGINT, label STRING")
    }
    assert(rn.getMessage.contains("'tag'"))
    // a compaction fold presenting a NARROW schema is the data-loss
    // case the guard exists for: the fold would publish a snapshot
    // physically missing the stamped column
    Seq((1L, 2L, "a")).toDF("id", "v", "tag")
      .write.mode("overwrite").parquet(s"$dir/b0")
    intercept[IllegalArgumentException] {
      StreamingPipeline.compactDeltas(spark, dir, "id BIGINT, v BIGINT",
        uptoVersion = 0)
    }
  }

  test("transformWithState probe ≡ flatMapGroupsWithState: same signed replay, same candidates") {
    // the Spark-4 operator-state API probe: the TWS twin must emit the
    // EXACT candidate set of the production fMGWS operator across a
    // multi-batch signed replay (ingest, erasure, post-erase arrivals).
    // TWS requires the RocksDB provider — scoped here, and the measured
    // cost of that provider at gate scale is why the production entry
    // points stay fMGWS (SCALING.md).
    import java.nio.file.{Files => JFiles}
    val in = JFiles.createTempDirectory("graft_tws_in_").toString
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    val rows = Seq(
      (1L, base, 1), (2L, "omega " + base, 1),        // batch: pair (2,1)
      (1L, base, -1),                                  // erase doc 1
      (3L, "sigma " + base, 1))                        // pairs with 2 only
    rows.zipWithIndex.foreach { case ((id, text, sign), i) =>
      Seq((id, text, sign)).toDF("doc_id", "text", "_sign")
        .select($"doc_id", $"text",
          to_timestamp(lit("2024-01-01 10:00:00")).as("ts"), $"_sign")
        .coalesce(1).write.mode("append").parquet(s"$in/f$i")
    }
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, text STRING, ts TIMESTAMP, _sign INT")
    def src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(in + "/f*")
    def drain(op: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
              name: String): Set[(Long, Long)] = {
      val out = JFiles.createTempDirectory(s"graft_tws_out_$name").toString
      val q = op(src.toDF())
        .writeStream.outputMode("append").format("parquet")
        .option("path", out)
        .option("checkpointLocation",
          JFiles.createTempDirectory(s"graft_tws_ck_$name").toString)
        .start()
      try q.processAllAvailable() finally q.stop()
      spark.read
        .schema("doc_id BIGINT, matched_with BIGINT, bucket STRING")
        .parquet(out).select($"doc_id", $"matched_with").distinct()
        .as[(Long, Long)].collect().toSet
    }
    val fmgws = drain(
      StreamingPipeline.streamingNearDupCandidatesAllSigned(_), "fmgws")
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val tws =
      try drain(StreamingPipeline.streamingNearDupCandidatesAllSignedTws(_), "tws")
      finally prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    assert(fmgws == Set((2L, 1L), (3L, 2L)), s"fMGWS baseline drifted: $fmgws")
    assert(tws == fmgws,
      s"transformWithState probe diverged: tws=$tws fmgws=$fmgws")
  }

  test("migrateSchemaFold: rename across a compaction boundary; old schema refused after") {
    // the explicit non-additive path ensureSchemaCompat's refusal points
    // at: a one-shot rewriting fold under a declared projection, with
    // the schema-marker restamp as the commit point
    val dir = Files.createTempDirectory("graft_migrate_").toString
    val oldSchema = "id BIGINT, v_old BIGINT, junk STRING"
    // history spanning a compaction boundary: b0 folded into v=0, b1 live
    Seq((1L, 10L, "x"), (2L, 20L, "y")).toDF("id", "v_old", "junk")
      .write.mode("overwrite").parquet(s"$dir/b0")
    StreamingPipeline.ensureSchemaCompat(spark, dir, oldSchema)
    StreamingPipeline.compactDeltas(spark, dir, oldSchema, uptoVersion = 0)
    Seq((3L, 30L, "z")).toDF("id", "v_old", "junk")
      .write.mode("overwrite").parquet(s"$dir/b1")
    // BEFORE: readers serve the old shape
    assert(StreamingPipeline.storeContents(spark, dir, oldSchema)
      .columns.toSeq == Seq("id", "v_old", "junk"))
    // migrate at the committed boundary: rename v_old -> score (with a
    // recompute), DROP junk
    val newDdl = StreamingPipeline.migrateSchemaFold(spark, dir,
      Seq("id" -> "id", "score" -> "CAST(v_old AS DOUBLE) / 10"),
      uptoVersion = 1)
    assert(newDdl.contains("score"))
    // AFTER: readers serve the new shape, full history preserved
    val got = StreamingPipeline.storeContents(spark, dir, newDdl)
      .as[(Long, Double)].collect().toSet
    assert(got == Set((1L, 1.0), (2L, 2.0), (3L, 3.0)),
      s"migrated contents drifted: $got")
    // a writer still presenting the OLD schema refuses loudly
    val ex = intercept[IllegalArgumentException] {
      StreamingPipeline.ensureSchemaCompat(spark, dir, oldSchema)
    }
    assert(ex.getMessage.contains("missing"))
    // the migrated family keeps compacting under the new schema: a new
    // delta lands and the next sweep folds it
    Seq((4L, 4.0)).toDF("id", "score")
      .write.mode("overwrite").parquet(s"$dir/b2")
    StreamingPipeline.compactDeltas(spark, dir, newDdl, uptoVersion = 2)
    assert(StreamingPipeline.storeContents(spark, dir, newDdl).count() == 4)
    // a family with no stamp has nothing to migrate from
    intercept[IllegalArgumentException] {
      StreamingPipeline.migrateSchemaFold(spark,
        Files.createTempDirectory("graft_migrate_none_").toString,
        Seq("id" -> "id"), 0)
    }
  }

  /** Deterministic synthetic embedding corpus big enough that
    * autoPlanes derives MORE than the pinned 8 planes (n=5000 → 9) —
    * the gate tables never reach that at test scale, so the re-band
    * and geometry-drift paths need their own corpus. */
  private def synthVectors(n: Int) = {
    val dim = graft.operators.Similarity.Dim
    spark.range(n).select($"id".as("vec_id"),
      org.apache.spark.sql.functions.expr(
        s"transform(sequence(0, ${dim - 1}), j -> " +
          "cast(sin(vec_id * 31 + j * 17) as float))").as("embedding"))
  }

  test("auto ANN store: geometry stamped at creation, recovered on restart, re-band ≡ fresh build") {
    val in = Files.createTempDirectory("graft_annauto_in_").toString
    val store = Files.createTempDirectory("graft_annauto_").toString
    val ckpt = Files.createTempDirectory("graft_annauto_ckpt_").toString
    val vecs = synthVectors(5000).localCheckpoint(true)
    val half1 = vecs.filter($"vec_id" % 2 === 0)
    val half2 = vecs.filter($"vec_id" % 2 =!= 0)
    half1.coalesce(1).write.mode("overwrite").parquet(in)
    val schema = org.apache.spark.sql.types.StructType
      .fromDDL("vec_id BIGINT, embedding ARRAY<FLOAT>")
    // created with a DELIBERATELY low corpus estimate: derives the
    // floor geometry (8 planes) that ingest will outgrow
    def startQ(estimate: Long) = StreamingPipeline.startAnnPairStoreAuto(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(in),
      store, ckpt, corpusRows = estimate)
    val q = startQ(1000L)
    q.processAllAvailable(); q.stop()
    assert(StreamingPipeline.annStorePlanes(spark, store).contains(8))
    // a restart presenting a WILDLY different estimate still runs under
    // the STAMPED geometry — the marker, not the argument, is authority
    half2.coalesce(1).write.mode("append").parquet(in)
    val q2 = startQ(1000000L)
    q2.processAllAvailable(); q2.stop()
    assert(StreamingPipeline.annStorePlanes(spark, store).contains(8),
      "restart must recover the stamped geometry, not re-derive")
    // a PINNED-format writer against the auto store refuses loudly
    // (geometry lives in the format string; ensureFormat compares it)
    val qBad = StreamingPipeline.startAnnPairStore(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(in),
      store, Files.createTempDirectory("graft_annauto_ckpt2_").toString)
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try qBad.processAllAvailable() finally qBad.stop()
    }
    // MAINTENANCE SWEEP at the quiesced boundary — the production call
    // that folds compaction AND the shouldRebuild occupancy check:
    // ingest outgrew the creation estimate (5000 rows → 9 planes), so
    // the sweep itself must trigger the re-band (no operator calls
    // rebandAnnStore by hand) and the band family must equal a FRESH
    // banding of the stored vectors under the new geometry
    val newPlanes = StreamingPipeline.sweepAnnStore(spark, store,
      uptoVersion = 10)
    assert(newPlanes == 9, s"sweep-triggered re-band derived $newPlanes planes")
    assert(StreamingPipeline.annStorePlanes(spark, store).contains(9))
    val stored = StreamingPipeline.storeContents(spark, s"$store/bands",
        StreamingPipeline.AnnBandSchema)
      .as[(Long, Long)].collect().toSet
    val signs = graft.operators.Similarity.mkSigns(
      graft.operators.Similarity.NEARDUP_TABLES * 9)
    val fresh = graft.operators.Similarity
      .banded(vecs, graft.operators.Similarity.NEARDUP_TABLES, 9, signs)
      .select($"vec_id",
        ($"tbl".cast("long") * (1L << 9) + $"bucket").as("band_key"))
      .as[(Long, Long)].collect().toSet
    assert(stored == fresh, "re-banded store must equal a fresh build")
    // idempotent: occupancy unchanged → the sweep is plain compaction,
    // same geometry (and the direct re-band call is equally a no-op)
    assert(StreamingPipeline.sweepAnnStore(spark, store, 11) == 9)
    assert(StreamingPipeline.rebandAnnStore(spark, store, 12) == 9)
    graft.Caches.freeCheckpoint(vecs)
  }

  test("object-store publish protocol: direct write + marker-last serves atomically") {
    // force the no-rename branch on local FS: the snapshot files land in
    // v=N first, the commit marker last — the marker create IS the
    // publish event, so a reader between the two sees the OLD state
    withObjectStoreSemantics {
    val store = Files.createTempDirectory("graft_ospub_").toString
    val schema = "id BIGINT, v BIGINT"
    spark.range(0, 5).select($"id", ($"id" * 2).as("v"))
      .write.mode("overwrite").parquet(s"$store/b0")
    def contents = StreamingPipeline
      .storeContents(spark, store, schema).as[(Long, Long)].collect().toSet
    val before = contents
    StreamingPipeline.publishSnapshot(spark, store,
      spark.range(0, 5).select($"id", ($"id" * 2).as("v")),
      uptoVersion = 0)
    val marker = new java.io.File(
      s"$store/v=0/${StreamingPipeline.CommitMarkerName}")
    assert(marker.exists(), "direct-write publish must end with the marker")
    assert(contents == before)
    // and the protocol is idempotent under a re-publish (heals a crash
    // between data write and marker): delete the marker — the partial
    // becomes invisible — then publish again
    marker.delete()
    assert(StreamingPipeline.committedSnapshots(spark, store).isEmpty)
    assert(contents == before, "unmarked direct-write partial must be invisible")
    StreamingPipeline.publishSnapshot(spark, store,
      spark.range(0, 5).select($"id", ($"id" * 2).as("v")),
      uptoVersion = 0)
    assert(contents == before && marker.exists())
    }
  }

  test("signed substring store refuses erasing text never ingested") {
    // the negative-count guard: an erase batch whose window counts
    // exceed the index's must fail LOUDLY in the fold, not publish an
    // index with negative counts
    val root = Files.createTempDirectory("graft_subneg_").toString
    val docs = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    // seed an index of the one real doc
    graft.operators.Dedup.buildSubstringIndex(spark, docs,
      graft.operators.Dedup.SUB_W, s"$root/index/v=-1")
    val schema = org.apache.spark.sql.types.StructType
      .fromDDL("doc_id BIGINT, text STRING, _sign INT")
    // erase a DIFFERENT text (never ingested): its windows are absent
    // from the index, so the signed fold would go negative
    Seq((9L, "one two three four five six seven eight", -1))
      .toDF("doc_id", "text", "_sign")
      .coalesce(1).write.mode("append").parquet(s"$root/in")
    val q = StreamingPipeline.startSignedSubstringDedupStore(
      spark.readStream.schema(schema).parquet(s"$root/in"),
      s"$root/index", s"$root/out", s"$root/ckpt",
      graft.operators.Dedup.SUB_W)
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try q.processAllAvailable() finally q.stop()
    }
    assert(ex.getCause.getMessage.contains("NEGATIVE"),
      s"wrong failure: ${ex.getCause.getMessage}")
  }

  test("signed substring store: a mixed batch's inserts see the PRE-erase index") {
    // documented semantics pinned: in one micro-batch carrying both
    // +1 and −1 rows, the inserts dedup against the index as it stood
    // BEFORE the batch (erasure takes effect from the next batch), and
    // the fold nets inserts' counts plus erasures' decrements
    val root = Files.createTempDirectory("graft_submix_").toString
    val w = graft.operators.Dedup.SUB_W
    val repeated = "alpha beta gamma delta epsilon zeta"   // exactly w tokens
    val seed = Seq((1L, s"$repeated eta theta iota")).toDF("doc_id", "text")
    graft.operators.Dedup.buildSubstringIndex(spark, seed, w, s"$root/index/v=-1")
    val schema = org.apache.spark.sql.types.StructType
      .fromDDL("doc_id BIGINT, text STRING, _sign INT")
    // the mixed batch: erase doc 1 AND insert doc 2 containing the
    // seed's repeated window — under pre-erase semantics doc 2's window
    // IS duplicated (doc 1 still counted), so it gets cleaned
    Seq((1L, s"$repeated eta theta iota", -1),
        (2L, s"$repeated kappa lambda mu", 1))
      .toDF("doc_id", "text", "_sign")
      .coalesce(1).write.mode("append").parquet(s"$root/in")
    val q = StreamingPipeline.startSignedSubstringDedupStore(
      spark.readStream.schema(schema).parquet(s"$root/in"),
      s"$root/index", s"$root/out", s"$root/ckpt", w)
    try q.processAllAvailable() finally q.stop()
    val out = spark.read
      .schema("doc_id BIGINT, clean_text STRING, n_removed BIGINT")
      .parquet(s"$root/out/b0").as[(Long, String, Long)].collect()
    assert(out.toSeq == Seq((2L, "kappa lambda mu", 6L)),
      s"insert must dedup against the PRE-erase index (doc 1 still " +
        s"counted), got ${out.toSeq}")
    // the fold nets seed − erased + inserted: exactly doc 2's four
    // windows survive, each at count 1 (the shared window's
    // 1 − 1 + 1 = 1 included)
    val idx = spark.read.schema("h BIGINT, cnt BIGINT")
      .parquet(s"$root/index/v=0").as[(Long, Long)].collect()
    assert(idx.length == 4 && idx.forall(_._2 == 1L),
      s"netted index should hold doc 2's 4 windows at cnt 1, got ${idx.toSeq}")
  }

  test("signed heavy-hitter store: erase shifts the exact token mass; headroom bar enforced") {
    val root = Files.createTempDirectory("graft_hhneg_").toString
    val schema = org.apache.spark.sql.types.StructType
      .fromDDL("doc_id BIGINT, text STRING, _sign INT")
    Seq((1L, "a b c d", 1), (2L, "e f g h", 1))
      .toDF("doc_id", "text", "_sign")
      .coalesce(1).write.mode("append").parquet(s"$root/in")
    def startQ() = StreamingPipeline.startSignedHeavyHitterStore(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$root/in"),
      s"$root/store", s"$root/ckpt", capacity = 16)
    val q = startQ()
    try q.processAllAvailable() finally q.stop()
    def net = StreamingPipeline.storeContents(spark, s"$root/store/totals",
      "total BIGINT").agg(sum($"total")).head().getLong(0)
    assert(net == 8L)
    // erase doc 1 (4 tokens): net must drop to exactly the survivor mass
    Seq((1L, "a b c d", -1)).toDF("doc_id", "text", "_sign")
      .coalesce(1).write.mode("append").parquet(s"$root/in")
    val q2 = startQ()
    try q2.processAllAvailable() finally q2.stop()
    assert(net == 4L, s"signed totals must net to the survivor mass, got $net")
    // the serve-side headroom bar (the gate's guard, checked here in
    // isolation): capacity 16, denom 1000 → (cap+1)·net < denom·gross
    // for net=4, gross=8 — serving candidates past this would be
    // silently unsound
    assert((16L + 1L) * 4L < 1000L * 8L)
  }

  test("signed candidate stream: erasure removes the id from bucket state — no candidate traffic after") {
    // without state-level erasure, a post-erase near-dup of forgotten
    // text pairs against the erased bucket member and parks forever in
    // _pending; with the signed operator it generates NO candidate
    import java.nio.file.{Files => JFiles}
    val dir = JFiles.createTempDirectory("graft_nds_in_").toString
    val store = JFiles.createTempDirectory("graft_nds_store_").toString
    val out = JFiles.createTempDirectory("graft_nds_out_").toString
    val ck1 = JFiles.createTempDirectory("graft_nds_ck1_").toString
    val ck2 = JFiles.createTempDirectory("graft_nds_ck2_").toString
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    def write(rows: Seq[(Long, String, Int)]): Unit =
      rows.toDF("doc_id", "text", "_sign")
        .select(col("doc_id"), col("text"),
          to_timestamp(lit("2024-01-01 10:00:00")).as("ts"), col("_sign"))
        .coalesce(1).write.mode("append").parquet(dir)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, text STRING, ts TIMESTAMP, _sign INT")
    def src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    def drainVerify() = {
      val q = StreamingPipeline.startNearDupVerify(
        StreamingPipeline.streamingNearDupCandidatesAllSigned(src),
        store, out, ck2)
      try q.processAllAvailable() finally q.stop()
    }
    // ingest doc 1 into store + candidate state
    write(Seq((1L, base, 1)))
    val storeQ = StreamingPipeline.startShingleStore(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(dir)
        .select(col("doc_id"), col("text"), col("ts")), store, ck1)
    try storeQ.processAllAvailable() finally storeQ.stop()
    drainVerify()
    // erase doc 1: stores (driver-side) AND candidate state (signed)
    StreamingPipeline.eraseFromNearDupStores(spark, store, out,
      Seq(1L).toDF("doc_id"), uptoVersion = 0)
    write(Seq((1L, base, -1)))
    // doc 2 — a true near-dup of the forgotten doc 1 — arrives after
    write(Seq((2L, "omega " + base, 1)))
    drainVerify()
    assert(spark.read.schema("id_a BIGINT, id_b BIGINT, jaccard DOUBLE")
      .parquet(out).isEmpty, "no pair may name the erased doc")
    assert(StreamingPipeline.pendingCandidates(spark, out).isEmpty,
      "state-level erasure must prevent even backlog parking")
  }

  test("signed REP-variant: erasing the representative frees the bucket; next arrival takes over") {
    import java.nio.file.{Files => JFiles}
    val dir = JFiles.createTempDirectory("graft_ndrs_in_").toString
    val out = JFiles.createTempDirectory("graft_ndrs_out_").toString
    val ckpt = JFiles.createTempDirectory("graft_ndrs_ck_").toString
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    def write(rows: Seq[(Long, String, Int)]): Unit =
      rows.toDF("doc_id", "text", "_sign")
        .select(col("doc_id"), col("text"),
          to_timestamp(lit("2024-01-01 10:00:00")).as("ts"), col("_sign"))
        .coalesce(1).write.mode("append").parquet(dir)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, text STRING, ts TIMESTAMP, _sign INT")
    val q = StreamingPipeline.streamingNearDupCandidatesSigned(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(dir))
      .writeStream.outputMode("append").format("parquet")
      .option("path", out).option("checkpointLocation", ckpt).start()
    try {
      write(Seq((1L, base, 1)))           // doc 1 becomes the rep
      q.processAllAvailable()
      write(Seq((1L, base, -1)))          // erase the rep: bucket freed
      q.processAllAvailable()
      write(Seq((2L, "omega " + base, 1))) // takes over, pairs with NOTHING
      q.processAllAvailable()
      write(Seq((3L, "sigma " + base, 1))) // pairs with doc 2, never doc 1
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read
      .schema("doc_id BIGINT, matched_with BIGINT, bucket STRING")
      .parquet(out).select($"doc_id", $"matched_with")
      .as[(Long, Long)].collect().toSet
    assert(got == Set((3L, 2L)),
      s"post-erase arrivals must pair against the NEW rep only, got $got")
  }

  test("near-dup erasure purges the store, every output partition, AND the backlog") {
    // the gate (stream_neardup_delete) erases while the backlog is
    // empty; this pins the backlog half — a parked pair naming an
    // erased doc is personal data too and must not survive to a later
    // verifyPending sweep
    val store = Files.createTempDirectory("graft_nde_store_").toString
    val out = Files.createTempDirectory("graft_nde_out_").toString
    Seq((1L, 11L), (2L, 22L), (3L, 33L)).toDF("doc_id", "h")
      .write.mode("overwrite").parquet(s"$store/b0")
    Seq((1L, 2L, 0.9), (2L, 3L, 0.8)).toDF("id_a", "id_b", "jaccard")
      .write.mode("overwrite").parquet(s"$out/batch=0")
    Seq((3L, 1L), (2L, 3L)).toDF("id_a", "id_b")
      .write.mode("overwrite")
      .parquet(s"$out/${StreamingPipeline.PendingDirName}/batch=1")
    StreamingPipeline.eraseFromNearDupStores(spark, store, out,
      Seq(1L).toDF("doc_id"), uptoVersion = 0)
    assert(StreamingPipeline.shingleStoreContents(spark, store)
      .as[(Long, Long)].collect().toSet == Set((2L, 22L), (3L, 33L)))
    assert(spark.read.schema("id_a BIGINT, id_b BIGINT, jaccard DOUBLE")
      .parquet(out).select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
      == Set((2L, 3L)), "output pair naming doc 1 must be gone")
    assert(StreamingPipeline.pendingCandidates(spark, out)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet == Set((2L, 3L)),
      "backlog pair naming doc 1 must be gone")
    // the dead-letter relation is covered by the same erasure
    Seq((9L, 1L, 0L), (5L, 6L, 0L)).toDF("id_a", "id_b", "first_seen")
      .write.mode("overwrite")
      .parquet(s"$out/${StreamingPipeline.DeadLetterDirName}")
    StreamingPipeline.eraseFromNearDupStores(spark, store, out,
      Seq(1L).toDF("doc_id"), uptoVersion = 0)
    assert(StreamingPipeline.deadLetterCandidates(spark, out)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet == Set((5L, 6L)),
      "dead-letter pair naming doc 1 must be gone")
    assert(StreamingPipeline.storeTombstones(spark, store).count() == 0,
      "erasure retires its tombstones after all rewrites")
    // idempotent: re-running the same erase changes nothing
    StreamingPipeline.eraseFromNearDupStores(spark, store, out,
      Seq(1L).toDF("doc_id"), uptoVersion = 0)
    assert(StreamingPipeline.shingleStoreContents(spark, store).count() == 2)
  }

  test("delta stores tolerate ADDITIVE schema evolution across batches") {
    // a long-running stream's writer gains a column mid-life: older
    // deltas must read back with NULL for the new column (never a
    // crash), and a reader still on the old schema must keep working —
    // the parquet read-schema contract, pinned here so a refactor to a
    // stricter reader cannot silently break store upgrades
    val store = Files.createTempDirectory("graft_evolve_").toString
    Seq((1L, 10L)).toDF("id", "v")
      .write.mode("overwrite").parquet(s"$store/b0")
    Seq((2L, 20L, "x")).toDF("id", "v", "tag")
      .write.mode("overwrite").parquet(s"$store/b1")
    val widened = StreamingPipeline
      .storeContents(spark, store, "id BIGINT, v BIGINT, tag STRING")
      .as[(Long, Long, Option[String])].collect().toSet
    assert(widened == Set((1L, 10L, None), (2L, 20L, Some("x"))))
    val narrow = StreamingPipeline
      .storeContents(spark, store, "id BIGINT, v BIGINT")
      .as[(Long, Long)].collect().toSet
    assert(narrow == Set((1L, 10L), (2L, 20L)))
    // compaction folds through the WIDENED schema without losing the
    // old rows or the new column
    StreamingPipeline.compactDeltas(spark, store,
      "id BIGINT, v BIGINT, tag STRING", uptoVersion = 1)
    val after = StreamingPipeline
      .storeContents(spark, store, "id BIGINT, v BIGINT, tag STRING")
      .as[(Long, Long, Option[String])].collect().toSet
    assert(after == widened)
  }

  test("multi-key tombstones: a pair row dies when EITHER endpoint is erased") {
    val store = Files.createTempDirectory("graft_tomb2_").toString
    val fam = s"$store/pairs"
    val schema = "id_a BIGINT, id_b BIGINT"
    Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L))
      .toDF("id_a", "id_b").write.mode("overwrite").parquet(s"$fam/b0")
    StreamingPipeline.writeTombstones(spark, store, Seq(3L).toDF("id"))
    def served = StreamingPipeline
      .contentsExcludingTombstones(spark, fam, schema, store,
        Seq("id_a", "id_b"))
      .as[(Long, Long)].collect().toSet
    assert(served == Set((1L, 2L), (5L, 6L)),
      "pairs touching id 3 from either side must be hidden")
    // the excluding fold removes them physically too
    StreamingPipeline.compactDeltas(spark, fam, schema,
      uptoVersion = 0, excluding = Some((store, Seq("id_a", "id_b"))))
    val snap = spark.read
      .schema(org.apache.spark.sql.types.StructType.fromDDL(schema))
      .parquet(s"$fam/v=0").as[(Long, Long)].collect().toSet
    assert(snap == Set((1L, 2L), (5L, 6L)))
  }

  test("retainVersions: retires all but newest keep, idempotent, guards") {
    val store = Files.createTempDirectory("graft_retain_").toString
    (-1 to 2).foreach { v =>
      spark.range(5).select($"id", lit(v).as("ver"))
        .write.mode("overwrite").parquet(s"$store/v=$v")
    }
    def names = new java.io.File(store).listFiles().map(_.getName).toSet
    // retire everything below the newest 2 — oldest-first
    val retired = StreamingPipeline.retainVersions(spark, store, keep = 2)
    assert(retired == Seq(-1L, 0L), s"retired $retired")
    assert(names == Set("v=1", "v=2"), s"left $names")
    // serving read (newest-below) unaffected
    assert(StreamingPipeline.latestSnapshot(spark, store,
      org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, ver INT")).agg(max($"ver")).head.getInt(0) == 2)
    // idempotent re-run
    assert(StreamingPipeline.retainVersions(spark, store, keep = 2).isEmpty)
    assert(names == Set("v=1", "v=2"))
    // a replay below the retired horizon fails LOUDLY in the serving
    // read instead of silently folding against newer state
    intercept[IllegalArgumentException] {
      StreamingPipeline.latestSnapshot(spark, store,
        org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, ver INT"), beforeVersion = 1L)
    }
    // keep must be >= 1 (keep=0 would retire the serving version)
    intercept[IllegalArgumentException] {
      StreamingPipeline.retainVersions(spark, store, keep = 0)
    }
    // refuses delta-store families — those retire via compactDeltas
    val deltaStore = Files.createTempDirectory("graft_retain_delta_").toString
    spark.range(3).write.mode("overwrite").parquet(s"$deltaStore/b0")
    intercept[IllegalArgumentException] {
      StreamingPipeline.retainVersions(spark, deltaStore, keep = 1)
    }
    // a dir that does not exist yet is a no-op, not an error
    assert(StreamingPipeline.retainVersions(spark, s"$store/_nope", 1).isEmpty)
  }

  test("ensureFormat: first writer stamps; mismatched hash family refuses loudly") {
    val dir = Files.createTempDirectory("graft_fmt_").toString + "/variants"
    StreamingPipeline.ensureFormat(spark, dir, "er-delvariant-md5-60/v1")
    // same format re-checks fine (every later batch)
    StreamingPipeline.ensureFormat(spark, dir, "er-delvariant-md5-60/v1")
    // a build with a different hash family must refuse, not silently
    // write hashes that never match the stored ones
    val e = intercept[IllegalArgumentException] {
      StreamingPipeline.ensureFormat(spark, dir, "er-delvariant-xxhash64/v0")
    }
    assert(e.getMessage.contains("hash-family format"))
    // the marker file is invisible to the delta-version listing
    spark.range(3).selectExpr("id", "id AS variant")
      .write.mode("overwrite").parquet(s"$dir/b0")
    assert(StreamingPipeline.deltasBelow(spark, dir,
      "id BIGINT, variant BIGINT", 5L).count() == 3)
  }

  test("gate: replayed incremental agg store equals the batch query bit-for-bit") {
    val streamed = StreamingGates.streamAggStore(spark, sf()).collect().toSeq
    val batch = graft.operators.Incremental.aggIncrementalOrders(spark, sf())
      .collect().toSeq
    assert(streamed == batch,
      "stream_agg_store must replay to the exact batch result")
  }

  test("gate: replayed streaming near-dup pipeline equals the batch LSH bit-for-bit") {
    val streamed = StreamingGates.streamNearDup(spark, sf()).collect().toSeq
    val batch = graft.operators.Dedup.ddMinhashLsh(spark, sf()).collect().toSeq
    assert(streamed.nonEmpty, "replay must find the planted near-dups")
    assert(streamed == batch,
      "stream_neardup must reproduce dd_minhash_lsh exactly (pairs AND jaccards)")
  }

  test("gate: streaming entity resolution equals the batch blocking bit-for-bit") {
    val streamed = StreamingGates.streamEr(spark, sf()).collect().toSeq
    val batch = graft.operators.EntityResolution.erFuzzyMatch(spark, sf())
      .collect().toSeq
    assert(streamed.nonEmpty, "replay must find the fuzzy-match pairs")
    assert(streamed == batch,
      "stream_er must reproduce er_fuzzy_match exactly (pairs AND names)")
    // exactly-once: no pair may be emitted by two different batches
    assert(streamed.distinct.size == streamed.size, "duplicate pair emissions")
  }

  test("gate: streaming ANN near-dup ingest equals the batch band join bit-for-bit") {
    val streamed = StreamingGates.streamAnnNearDup(spark, sf()).collect().toSeq
    val batch = graft.operators.Similarity.simCosineNearDup(spark, sf())
      .collect().toSeq
    graft.Caches.releaseAll()
    assert(streamed.nonEmpty, "replay must find the near-dup pairs")
    assert(streamed == batch,
      "stream_ann_neardup must reproduce sim_cosine_neardup exactly (pairs AND cosines)")
    assert(streamed.distinct.size == streamed.size, "duplicate pair emissions")
  }

  test("streaming substring dedup is causal: later batches never retro-clean") {
    import graft.operators.Dedup
    val base = Seq((1L, "a b c d e f")).toDF("doc_id", "text")
    // batch 0's doc 10 is UNIQUE at its arrival time; batch 1's doc 11
    // then duplicates doc 10's "p q r s t u" run. Causal semantics:
    // doc 10 (emitted before 11 arrived) stays intact; doc 11 arrives
    // seeing the duplicate and is cleaned. Doc 12 repeats base's run
    // and is cleaned on arrival.
    val b0 = Seq((10L, "p q r s t u x"), (12L, "a b c d e f y"))
      .toDF("doc_id", "text")
    val b1 = Seq((11L, "z p q r s t u")).toDF("doc_id", "text")
    val in = java.nio.file.Files.createTempDirectory("ssub_in").toString
    val out = java.nio.file.Files.createTempDirectory("ssub_out").toString
    val store = java.nio.file.Files.createTempDirectory("ssub_store").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ssub_ckpt").toString
    Dedup.buildSubstringIndex(spark, base, 6, s"$store/v=-1")
    val src = spark.readStream
      .schema("doc_id BIGINT, text STRING").parquet(in)
    val q = StreamingPipeline.startSubstringDedupStore(src, store, out, ckpt, 6)
    try {
      Seq(b0, b1).foreach { b =>
        b.coalesce(1).write.mode("append").parquet(in)
        q.processAllAvailable()
      }
    } finally q.stop()
    val got = spark.read
      .schema("doc_id BIGINT, clean_text STRING, n_removed BIGINT")
      .parquet(s"$out/b*")
      .as[(Long, String, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == Map(
      10L -> (("p q r s t u x", 0L)),   // causality: emitted before its dup
      12L -> (("y", 6L)),               // cross-batch dup vs the base index
      11L -> (("z", 6L))),              // sees batch 0's windows via the fold
      s"got $got")
  }

  test("streaming mix-drift monitor: closed-window counts + batch TVD law") {
    val dir = eventsDir
    val stream = spark.readStream.schema(Tables.events(spark, sf()).schema).parquet(dir)
    val q = StreamingPipeline.mixCounts(stream, watermark = "0 seconds")
      .writeStream.outputMode("append").format("memory")
      .queryName("mix_counts").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val closed = spark.table("mix_counts")
    assert(closed.count() > 0, "no closed windows emitted")
    // emitted per-window counts match the batch groupBy exactly
    val batch = Tables.events(spark, sf())
      .groupBy(date_trunc("hour", col("ts")).as("w_start"),
        col("event_type").as("category"))
      .agg(count(lit(1)).as("n_batch"))
    assert(closed.join(batch, Seq("w_start", "category"))
      .filter(col("n") =!= col("n_batch")).count() == 0)
    // baseline = the overall event-type mix in exact ppm
    val total = Tables.events(spark, sf()).count()
    val baseline = Tables.events(spark, sf())
      .groupBy(col("event_type").as("category"))
      .agg(expr(s"count(1) * 1000000L div ${total}L").as("base_ppm"))
    val drift = StreamingPipeline.mixDrift(closed, baseline)
    val rows = drift.as[(java.sql.Timestamp, String, Long, Long, Long, Long)]
      .collect()
    val byWin = rows.groupBy(_._1)
    byWin.foreach { case (w, rs) =>
      val cats = rs.filter(_._2 != "__tvd__")
      // integer shares: sum within (1e6 - |cats|, 1e6]
      val shareSum = cats.map(_._4).sum
      assert(shareSum <= 1000000L && shareSum > 1000000L - cats.length,
        s"window $w share sum $shareSum")
      // exactly one TVD row, bounded, and == half the L1 delta
      val tvd = rs.filter(_._2 == "__tvd__")
      assert(tvd.length == 1)
      assert(tvd.head._6 == cats.map(_._6).sum / 2)
      assert(tvd.head._6 >= 0 && tvd.head._6 <= 1000000L)
    }
    // a category missing from some window must still carry drift mass:
    // synthesize a window lacking one baseline category
    val partial = closed.filter(col("category") =!= "error")
    // windows with ONLY error events vanish from the filtered sink — the
    // grid can restore a category, not a window nothing was emitted for
    val winsLeft = partial.select($"w_start").distinct().count()
    val d2 = StreamingPipeline.mixDrift(partial, baseline)
    val missing = d2.filter(col("category") === "error")
    assert(missing.count() == winsLeft, "grid must restore missing categories")
    assert(missing.filter(col("n") =!= 0).count() == 0)
    val baseErr = baseline.filter(col("category") === "error")
      .select(col("base_ppm")).as[Long].head()
    assert(missing.filter(col("delta_ppm") === col("base_ppm")).count() == winsLeft
      && missing.select(max(col("base_ppm"))).as[Long].head() == baseErr)
    spark.sql("DROP TABLE IF EXISTS mix_counts")
  }

  test("DSIR scoring runs statelessly on a stream and matches the batch scorer") {
    import graft.operators.Dsir
    // model trained OFFLINE on the static corpus, applied per micro-batch
    val model = Dsir.train(Tables.documents(spark, sf()),
      col("source").isin(Dsir.TargetSources: _*))
    val dir = Files.createTempDirectory("graft_stream_dsir_").toString
    def write(rows: Seq[(Long, String, String)]): Unit =
      rows.toDF("doc_id", "text", "source")
        .coalesce(1).write.mode("append").parquet(dir)
    val b1 = Seq((1L, "alpha beta gamma alpha", "src0"), (2L, "solo", "src9"))
    val b2 = Seq((3L, "beta beta beta beta beta", "src5"))
    write(b1)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, text STRING, source STRING")
    val scored = Dsir.scorePerRow(
      spark.readStream.schema(schema).parquet(dir),
      col("source").isin(Dsir.TargetSources: _*), model)
    val q = scored.writeStream.outputMode("append").format("memory")
      .queryName("dsir_stream").start()
    q.processAllAvailable()
    write(b2) // second micro-batch: the scorer holds no state between them
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("dsir_stream").collect().toSet
    val batch = Dsir.scorePerRow((b1 ++ b2).toDF("doc_id", "text", "source"),
      col("source").isin(Dsir.TargetSources: _*), model).collect().toSet
    assert(streamed == batch, "stream scoring must equal the batch scorer")
    assert(streamed.size == 3)
    spark.sql("DROP TABLE IF EXISTS dsir_stream")
  }

  test("streaming CDC snapshot store: seq-ordered fold equals the one-shot batch merge") {
    import graft.operators.Cdc
    val orders = Tables.orders(spark, sf())
    val changes = Cdc.syntheticOrdersChangelog(orders).localCheckpoint(true)
    val in = Files.createTempDirectory("graft_stream_cdc_in_").toString
    val store = Files.createTempDirectory("graft_stream_cdc_store_").toString
    val ckpt = Files.createTempDirectory("graft_stream_cdc_ckpt_").toString
    // an unseeded store is a wiring bug — must fail loudly, not
    // silently merge into an invented empty base
    intercept[IllegalArgumentException] {
      StreamingPipeline.latestSnapshot(spark, store, orders.schema)
    }
    orders.write.mode("overwrite").parquet(s"$store/v=-1")
    val src = spark.readStream.schema(changes.schema).parquet(in)
    val q = StreamingPipeline.startCdcSnapshotStore(
      src, store, ckpt, Seq("o_orderkey"), orders.schema)
    try {
      Seq(1L, 2L).foreach { seq =>
        changes.filter(col("_seq") === seq)
          .coalesce(1).write.mode("append").parquet(in)
        q.processAllAvailable()
      }
    } finally q.stop()
    val streamed = StreamingPipeline.latestSnapshot(spark, store, orders.schema)
      .collect().toSet
    val batch = Cdc.applyChangelog(orders, changes, Seq("o_orderkey"))
      .collect().toSet
    assert(streamed == batch, "streamed CDC fold must equal the batch merge")
    // spot-check every changelog arm reached the store
    val byKey = streamed.map(r => r.getLong(0) -> r.getString(2)).toMap
    val dbl = byKey.keys.find(k => k % 20 == 3)
    assert(dbl.forall(k => byKey(k) == "U2"), "double update must keep the seq-2 row")
    assert(byKey.keys.forall(_ % 10 != 7), "delete-after-update must drop the key")
    assert(byKey.keys.exists(_ >= Cdc.InsertOffset), "inserts must land under offset keys")
  }
}
