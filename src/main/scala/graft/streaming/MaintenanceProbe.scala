package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** One-off measurement mains for the streaming maintenance questions the
  * gates deliberately do not price (the gates pin CORRECTNESS; these pin
  * the knobs an operator tunes in production). Results are recorded as
  * SCALING.md rows, not gates:
  *
  *   - TRIGGER SIZING: the gates replay with `maxFilesPerTrigger=1`
  *     (3 micro-batches) to exercise cross-batch state; a production
  *     backlog catch-up would run ONE big trigger. Timing both on the
  *     full near-dup pipeline splits per-batch fixed cost (state-store
  *     commits, per-batch index reads, checkpoint round-trips) from
  *     per-row cost — the number that sizes `maxFilesPerTrigger` /
  *     `maxOffsetsPerTrigger` for a backlog drain vs a latency-bound
  *     tail.
  *   - TWS vs FMGWS: the transformWithState probe operator
  *     ([[StreamingPipeline.streamingNearDupCandidatesAllSignedTws]],
  *     RocksDB-only) against the production flatMapGroupsWithState
  *     form on the same candidate replay.
  *
  * Usage: `SPARK_GRAFT_SF_DIR=… sbt "runMain graft.streaming.MaintenanceProbe"`.
  */
object MaintenanceProbe {
  private def tmp(p: String) = graft.TmpDirs.create(p)

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Sessions.local("graft-maintenanceprobe", 32, "WARN")

    val corpus = graft.operators.Dedup.augmented(spark, dir)
      .localCheckpoint(true)
    val schema = StructType.fromDDL("doc_id BIGINT, text STRING, ts TIMESTAMP")

    // ---- trigger sizing: full near-dup pipeline, 1-file vs all-files triggers
    def nearDupReplay(singleTrigger: Boolean): Double = {
      val in = tmp("graft_probe_nd_in_")
      val store = tmp("graft_probe_nd_store_")
      val out = tmp("graft_probe_nd_out_")
      val ck1 = tmp("graft_probe_nd_ck1_")
      val ck2 = tmp("graft_probe_nd_ck2_")
      (0 until 3).foreach { i =>
        corpus.filter(pmod(col("doc_id"), lit(3)) === i)
          .select(col("doc_id"), col("text"),
            lit("2024-01-01 00:00:00").cast("timestamp").as("ts"))
          .coalesce(1).write.mode("append").parquet(in)
      }
      def src = {
        val r = spark.readStream.schema(schema)
        (if (singleTrigger) r else r.option("maxFilesPerTrigger", "1"))
          .parquet(in)
      }
      timed {
        val storeQ = StreamingPipeline.startShingleStore(src, store, ck1)
        try storeQ.processAllAvailable() finally storeQ.stop()
        val verifyQ = StreamingPipeline.startNearDupVerify(
          StreamingPipeline.streamingNearDupCandidatesAll(src), store, out, ck2)
        try verifyQ.processAllAvailable() finally verifyQ.stop()
        spark.read.schema("id_a BIGINT, id_b BIGINT, jaccard DOUBLE")
          .parquet(out).count()
      }._2
    }

    // ---- tws vs fmgws: candidate stage only, same 3-batch replay
    def candidateReplay(op: DataFrame => DataFrame, rocks: Boolean): Double = {
      val in = tmp("graft_probe_cand_in_")
      val out = tmp("graft_probe_cand_out_")
      val ck = tmp("graft_probe_cand_ck_")
      (0 until 3).foreach { i =>
        corpus.filter(pmod(col("doc_id"), lit(3)) === i)
          .select(col("doc_id"), col("text"),
            lit("2024-01-01 00:00:00").cast("timestamp").as("ts"),
            lit(1).as("_sign"))
          .coalesce(1).write.mode("append").parquet(in)
      }
      val s = StructType.fromDDL(
        "doc_id BIGINT, text STRING, ts TIMESTAMP, _sign INT")
      val key = "spark.sql.streaming.stateStore.providerClass"
      val prev = spark.conf.getOption(key)
      if (rocks) spark.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try timed {
        val q = op(spark.readStream.schema(s)
            .option("maxFilesPerTrigger", "1").parquet(in))
          .writeStream.outputMode("append").format("parquet")
          .option("path", out).option("checkpointLocation", ck).start()
        try q.processAllAvailable() finally q.stop()
        spark.read.schema("doc_id BIGINT, matched_with BIGINT, bucket STRING")
          .parquet(out).count()
      }._2
      finally prev match {
        case Some(p) => spark.conf.set(key, p)
        case None => spark.conf.unset(key)
      }
    }

    def minOf3(f: => Double): Double = (1 to 3).map(_ => f).min

    val multi = minOf3(nearDupReplay(singleTrigger = false))
    val single = minOf3(nearDupReplay(singleTrigger = true))
    val fmgws = minOf3(candidateReplay(
      StreamingPipeline.streamingNearDupCandidatesAllSigned(_), rocks = false))
    val tws = minOf3(candidateReplay(
      StreamingPipeline.streamingNearDupCandidatesAllSignedTws(_), rocks = true))
    println(f"""{"probe":"maintenance","sf_dir":"$dir","neardup_3batch_sec":$multi%.2f,"neardup_1trigger_sec":$single%.2f,"cand_fmgws_sec":$fmgws%.2f,"cand_tws_rocksdb_sec":$tws%.2f}""")
    spark.stop()
  }
}
