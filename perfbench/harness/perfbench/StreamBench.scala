package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.time.Instant
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import org.apache.spark.sql.types.StructType
import graft.config.{DataflowConf, MetadataReader}
import graft.operators.ValidationSplit
import graft.sinks.Sinks
import graft.streaming.StreamingPipeline

/** Open loop: seeded Poisson arrivals of small JSON files land by atomic
  * rename in the directory `StreamingPipeline.fileSource` watches, and
  * `runDataflow` fans each micro-batch out to the sinks. A file's
  * latency runs from its scheduled arrival to the commit of the
  * micro-batch that holds it, so a stall also delays the files queued
  * behind it. After the window, pre-staged backlogs land at once; the
  * time to commit each is the drain capacity. */
final class StreamBench(ctx: Ctx) {
  private val cfg = ctx.cfg
  private val r = ctx.report
  private val out = s"${ctx.dir}/out"
  private val stage = cfg.str("stage")
  private val watch = cfg.str("watch")
  private val offsets = cfg.longs("offsets_ms")
  private val nSched = offsets.size
  private val warmMs = cfg.long("warm_ms")
  private val windowMs = (cfg.num("seconds") * 1000).toLong
  private val drainFiles = cfg.int("drain_files")
  private val fileRows = cfg.int("file_rows")
  private var dfConf: DataflowConf = _
  private var ckpts = 0

  private def spark = SparkSession.active
  private def name(i: Int) = f"f$i%06d.json"

  private def start(watchDir: String): StreamingQuery = {
    val src = dfConf.sources.head
    val schema = StructType.fromDDL(src.schema.get)
    ckpts += 1
    StreamingPipeline.runDataflow(
      StreamingPipeline.fileSource(spark, watchDir, src.format, schema),
      dfConf, s"${ctx.dir}/ckpt-$ckpts")
  }

  private def land(i: Int, dir: String): Long = {
    Files.move(Paths.get(stage, name(i)), Paths.get(dir, name(i)), StandardCopyOption.ATOMIC_MOVE)
    System.currentTimeMillis()
  }

  /** Lands `drainFiles` files from `first` on, back to back; returns them
    * and the time landing began. */
  private def landBacklog(first: Int, dir: String): (Range, Long) = {
    val t0 = System.currentTimeMillis()
    val files = first until first + drainFiles
    files.foreach(land(_, dir))
    (files, t0)
  }

  private def commits(ps: Seq[StreamingQueryProgress]): Map[Long, (Long, Long)] =
    ps.filter(_.numInputRows > 0).map { p =>
      val s = Instant.parse(p.timestamp).toEpochMilli
      p.batchId -> (s, s + p.durationMs.get("triggerExecution").longValue)
    }.toMap

  def run(): Unit = {
    var q: StreamingQuery = null
    ctx.setup(cfg.int("setup_reps")) { () =>
      dfConf = MetadataReader.read(cfg.str("metadata")).dataflows.head
      q = start(watch)
    } { () => q.stop() }

    val nCold = cfg.int("cold_files")
    val drains = cfg.int("drains")
    val firstDrain = nCold + nSched
    val total = firstDrain + drains * drainFiles
    val landed = new Array[Long](total)
    def sched(j: Int) = nCold + j
    if (ctx.traced) ctx.trace(false)
    // the cold micro-batch: the first work after set-up
    val coldStart = System.currentTimeMillis()
    (0 until nCold).foreach(i => landed(i) = land(i, watch))
    q.processAllAvailable()
    val origin = System.currentTimeMillis() + 200
    // the generator: one thread, on a schedule that does not wait for
    // the system under test
    val gen = new Thread(() => {
      var j = 0
      while (j < nSched) {
        val wait = origin + offsets(j) - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        landed(sched(j)) = land(sched(j), watch)
        j += 1
      }
    }, "perfbench-generator")
    gen.setDaemon(true)
    gen.start()
    if (ctx.traced) {
      // window quarters untraced, traced, traced, untraced: the untraced
      // quarters are the reference for the overhead figures, and a drift
      // over the window cancels out of them
      for (q <- Seq(1, 3)) {
        val wait = origin + warmMs + q * windowMs / 4 - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        ctx.trace(q == 1)
        if (q == 1) ctx.jobs.reset()
      }
    }
    gen.join()
    q.processAllAvailable()
    val drainStart = (0 until drains).map { d =>
      if (ctx.traced) ctx.trace(d > 0)
      val (files, t0) = landBacklog(firstDrain + d * drainFiles, watch)
      files.foreach(landed(_) = t0)
      q.processAllAvailable()
      t0
    }
    if (ctx.traced) org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    val progress = q.recentProgress.toSeq
    val runId = q.runId.toString
    q.stop()
    q.exception.foreach(e => r.op("query")(Some(e.toString)))

    val fileBatch = verify()
    val commit = commits(progress)
    def committed(i: Int): Option[(Long, Long)] = fileBatch.get(i).flatMap(commit.get)
    (0 until total).foreach { i =>
      r.op("file")(if (committed(i).isDefined) None else Some(s"${name(i)} has no committed micro-batch"))
    }
    def doneBy(files: Range, from: Long): Double = (files.flatMap(committed).map(_._2).max - from) / 1e3
    r.metrics("cold_run_s") = doneBy(0 until nCold, coldStart)
    val inWindow = (0 until nSched).filter(j => offsets(j) >= warmMs && offsets(j) < warmMs + windowMs)
    def tracedAt(j: Int) = ctx.traced && {
      val q = (offsets(j) - warmMs) * 4 / windowMs
      q == 1 || q == 2
    }
    val (tracedIdx, plainIdx) = inWindow.partition(tracedAt)
    def e2e(idx: Seq[Int], drainIdx: Seq[Int], prefix: String): Unit = {
      val lat = idx.flatMap(j => committed(sched(j)).map(c => (c._2 - origin - offsets(j)) / 1e3))
      r.metrics(prefix + "latency_p50_s") = Stats.median(lat)
      r.metrics(prefix + "latency_p90_s") = Stats.pct(lat, 0.9)
      r.details(prefix + "samples") = lat.size
      r.details(prefix + "samples_beyond_p90") = lat.count(_ > r.metrics(prefix + "latency_p90_s"))
      val drainS = drainIdx.map { d =>
        doneBy(firstDrain + d * drainFiles until firstDrain + (d + 1) * drainFiles, drainStart(d))
      }
      r.details(prefix + "drain_s") = drainS
      r.metrics(prefix + "rows_per_s") = drainFiles.toDouble * fileRows / Stats.median(drainS)
    }
    r.details("triggers") = commit.size
    if (!ctx.traced) e2e(plainIdx, 0 until drains, "")
    else {
      e2e(plainIdx, Seq(0), "")
      e2e(tracedIdx, 1 until drains, "traced.")
      for (m <- Seq("latency_p50_s", "latency_p90_s", "rows_per_s"))
        r.metrics(s"overhead.$m") = r.metrics(s"traced.$m") - r.metrics(m)
      val late = (0 until nSched).map(j => landed(sched(j)) - origin - offsets(j))
      r.metrics("streaming.generator_late_s") = late.max / 1e3
      r.metrics("streaming.queue_wait_s") = Stats.median(tracedIdx.flatMap(j =>
        committed(sched(j)).map(c => (c._1 - landed(sched(j))) / 1e3)))
      r.metrics("streaming.backlog_files_max") = commit.values.map { case (s, _) =>
        (0 until nSched).count(j => landed(sched(j)) <= s && committed(sched(j)).exists(_._2 > s))
      }.max.toDouble
      layers(runId, total)
    }
  }

  /** Every landed row is in exactly one `batch=<id>` output; returns
    * each file's micro-batch. */
  private def verify(): Map[Int, Long] = {
    val check = new PipelineCheck(cfg.obj("plan"))
    val ok1 = spark.read.parquet(s"$out/ok1/ok")
    val ok2 = spark.read.parquet(s"$out/ok2/ok")
    val ko = spark.read.schema(s"id BIGINT, file_seq INT, ${ValidationSplit.ErrorCol} ARRAY<STRING>, batch BIGINT")
      .json(s"$out/ko/ko")
    r.op("check.ok1")(check.ok(ok1, "ok1"))
    r.op("check.ok2")(check.ok(ok2, "ok2"))
    r.op("check.ko")(check.ko(ko, "ko"))
    val pairs = ok1.select(col("file_seq"), col("batch").cast("long"))
      .union(ko.select(col("file_seq"), col("batch")))
      .distinct().collect().map(x => x.getInt(0) -> x.getLong(1))
    val byFile = pairs.groupBy(_._1).map { case (f, bs) => f -> bs.map(_._2).toSet }
    r.op("check.one_batch_per_file") {
      val split = byFile.filter(_._2.size > 1)
      if (split.nonEmpty) Some(s"${split.size} files span several micro-batches") else None
    }
    byFile.collect { case (f, bs) if bs.size == 1 => f -> bs.head }
  }

  /** Per-trigger buckets from the listener, output files per trigger,
    * the module rollup of the query's jobs, the kafka payload probe and
    * the local[1] drain baseline. */
  private def layers(runId: String, firstExtra: Int): Unit = {
    val ev = ctx.progress.synchronized(ctx.progress.events.toSeq)
    val data = ev.filter(_.numInputRows > 0)
    r.metrics("streaming.triggers") = ev.size.toDouble
    r.metrics("streaming.empty_trigger_frac") = (ev.size - data.size).toDouble / math.max(1, ev.size)
    def bucket(k: String): Double =
      Stats.median(data.map(p => Option(p.durationMs.get(k)).fold(0.0)(_.doubleValue)))
    for ((k, m) <- Seq("latestOffset" -> "latest_offset_ms", "queryPlanning" -> "query_planning_ms",
                       "addBatch" -> "add_batch_ms", "walCommit" -> "wal_commit_ms",
                       "commitOffsets" -> "commit_offsets_ms"))
      r.metrics(s"streaming.$m") = bucket(k)
    r.metrics("streaming.bucket_coverage") = Stats.median(data.map { p =>
      val d = p.durationMs.asScala
      d.filter(_._1 != "triggerExecution").values.map(_.doubleValue).sum / d("triggerExecution").doubleValue
    })
    val files = ctx.partFiles(out)
    val triggers = r.details("triggers").asInstanceOf[Int]
    r.metrics("sinks.files") = files.size.toDouble / triggers
    r.metrics("sinks.bytes") = files.map(_.length).sum.toDouble / triggers
    ctx.moduleMetrics(data.size)(g => if (g == runId) Some("streaming") else None)
    val okOut = spark.read.parquet(s"$out/ok1/ok")
    r.metrics("sinks.kafka_payload_s") = ctx.tracer.span("sinks.kafka_payload")(
      ctx.noopSecs(3)(Sinks.kafkaPayload(okOut)))
    baseline(firstExtra)
  }

  /** Backlog drains on local[1], into a fresh watched directory. */
  private def baseline(warmFile: Int): Unit = {
    r.metrics("baseline.localk_rows_per_s") = r.metrics("rows_per_s")
    ctx.stop()
    ctx.session(1)
    val dir = s"${ctx.dir}/watch-local1"
    Files.createDirectories(Paths.get(dir))
    val q = start(dir)
    land(warmFile, dir)
    q.processAllAvailable()
    val ds = (0 until cfg.int("baseline_drains")).map { k =>
      val (_, t0) = landBacklog(warmFile + 1 + k * drainFiles, dir)
      q.processAllAvailable()
      (commits(q.recentProgress.toSeq).maxBy(_._1)._2._2 - t0) / 1e3
    }
    q.stop()
    r.metrics("baseline.local1_rows_per_s") = drainFiles.toDouble * fileRows / Stats.median(ds)
  }
}
