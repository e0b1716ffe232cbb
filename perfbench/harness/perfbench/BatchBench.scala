package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import graft.config.{DataflowConf, MetadataReader}
import graft.operators.{AddFields, ValidationSplit}
import graft.plans.PipelineRunner
import graft.sinks.Sinks
import graft.sources.SourceReader

/** Output checks shared by the batch and stream pipelines: the planted
  * counts from the generator against what the sinks wrote. */
final class PipelineCheck(plan: Conf) {
  val codes: Seq[String] = plan.obj("ko_by_code").m.keys.toSeq.sorted

  def ok(df: DataFrame, where: String): Option[String] = {
    val missing = Seq("name_upper", "age_band", "dept_norm").filterNot(df.columns.contains)
    if (missing.nonEmpty) return Some(s"$where lacks add_fields columns $missing")
    val r = df.agg(count(lit(1)), countDistinct(col("id")), sum(col("id")), sum(col("ver")),
      sum(when(col("age") < 18, 1).otherwise(0))).head()
    val got = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    val want = (plan.long("ok"), plan.long("ok"), plan.long("ok_id_sum"), 0L, 0L)
    if (got != want) Some(s"$where (rows, distinct ids, id sum, dup survivors, minors) = $got, planted $want")
    else None
  }

  def ko(df: DataFrame, where: String): Option[String] = {
    val e = col(ValidationSplit.ErrorCol)
    val r = df.agg(count(lit(1)), sum(col("id")) +:
      codes.map(c => sum(when(array_contains(e, c), 1L).otherwise(0L))): _*).head()
    val got = Seq(r.getLong(0), r.getLong(1)) ++ codes.indices.map(i => r.getLong(2 + i))
    val want = Seq(plan.long("ko"), plan.long("ko_id_sum")) ++
      codes.map(c => plan.obj("ko_by_code").long(c))
    if (got != want) Some(s"$where (rows, id sum, per-code ${codes.mkString("/")}) = $got, planted $want")
    else None
  }
}

/** Closed loop of `PipelineRunner.run` over one dataflow document. */
final class BatchBench(ctx: Ctx) {
  private val cfg = ctx.cfg
  private val r = ctx.report
  private val t = ctx.tracer
  private val out = s"${ctx.dir}/out"
  private val check = new PipelineCheck(cfg.obj("plan"))
  private val rows = cfg.obj("plan").long("rows")
  private var dfConf: DataflowConf = _

  private def spark = SparkSession.active

  private def verify(): Option[String] = {
    val koSchema = s"id BIGINT, ${ValidationSplit.ErrorCol} ARRAY<STRING>"
    check.ok(spark.read.parquet(s"$out/ok1/ok"), "ok1")
      .orElse(check.ok(spark.read.parquet(s"$out/ok2/ok"), "ok2"))
      .orElse(check.ko(spark.read.schema(koSchema).json(s"$out/ko/ko"), "ko"))
  }

  private def timed(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; Stats.secs(System.nanoTime() - t0)
  }

  /** File bytes the last dataflow run read, its output check excluded. */
  private var runFileBytes = 0L

  /** One dataflow run, then its output check (untimed). */
  private def unit(lat: mutable.Buffer[Double]): Unit =
    r.op("dataflow") {
      val b0 = FileReads.bytes()
      val s = timed(t.unit("plans.run")(PipelineRunner.run(spark, dfConf)))
      runFileBytes = FileReads.bytes() - b0
      lat += s
      t.span("check")(verify())
    }

  def run(): Unit = {
    ctx.setup(cfg.int("setup_reps")) { () =>
      dfConf = t.span("config.parse")(MetadataReader.read(cfg.str("metadata"))).dataflows.head
    } { () => () }
    val cold = mutable.ArrayBuffer.empty[Double]
    unit(cold)
    r.metrics("cold_run_s") = cold.head
    val warm = mutable.ArrayBuffer.empty[Double]
    (1 to cfg.int("warmup_units")).foreach(_ => unit(warm))
    warm.clear()
    if (ctx.traced) tracedRun() else {
      val deadline = System.nanoTime() + (cfg.num("seconds") * 1e9).toLong
      while (System.nanoTime() < deadline) unit(warm)
      endToEnd(warm.toSeq, "")
    }
  }

  private def endToEnd(lat: Seq[Double], prefix: String): Unit = {
    r.metrics(prefix + "latency_p50_s") = Stats.median(lat)
    r.metrics(prefix + "latency_p90_s") = Stats.pct(lat, 0.9)
    r.metrics(prefix + "rows_per_s") = rows * lat.size / lat.sum
    r.details(prefix + "unit_s") = lat
  }

  /** Traced run: untraced and traced units alternate (the difference is
    * the tracing overhead), then decomposed units time each module's
    * public call separately, then probes and the local[1] baseline. */
  private def tracedRun(): Unit = {
    val plain = mutable.ArrayBuffer.empty[Double]
    val traced = mutable.ArrayBuffer.empty[Double]
    val gaps = mutable.ArrayBuffer.empty[Double]
    val inBytes = cfg.long("input_bytes")
    val scans = mutable.ArrayBuffer.empty[Double]
    def tracedUnit(): Unit = {
      ctx.trace(true)
      ctx.jobs.reset()
      unit(traced)
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      val wallMs = t.byName("plans.run").last.dur / 1e6
      val jobWalls = ctx.jobs.jobWalls.filter(_._1 == "plans.run").map(j => (j._2, j._3)).toSeq
      gaps += (wallMs - Intervals.unionLength(jobWalls)) / 1e3
      scans += runFileBytes.toDouble / inBytes
      r.details("jobs_per_dataflow") = ctx.jobs.groups.get("plans.run").fold(0L)(_.jobs)
    }
    // ABBA order, so a drift in unit time over the run cancels out of
    // the overhead figures
    for (i <- 0 until cfg.int("traced_pairs")) {
      if (i % 2 == 0) { ctx.trace(false); unit(plain); tracedUnit() }
      else { tracedUnit(); ctx.trace(false); unit(plain) }
    }
    endToEnd(plain.toSeq, "")
    endToEnd(traced.toSeq, "traced.")
    for (m <- Seq("latency_p50_s", "latency_p90_s", "rows_per_s"))
      r.metrics(s"overhead.$m") = r.metrics(s"traced.$m") - r.metrics(m)
    r.metrics("plans.driver_gap_s") = Stats.median(gaps.toSeq)
    r.metrics("sources.scans_per_dataflow") = Stats.median(scans.toSeq)

    ctx.trace(true)
    ctx.jobs.reset()
    val units = (1 to cfg.int("decomposed_units")).map(_ => decomposed())
    for (k <- units.head.keys) r.metrics(k) = Stats.median(units.map(_(k)))
    ctx.moduleMetrics(units.size)(g => Some(g.takeWhile(_ != '.')).filter(Set("operators", "sinks")))
    val files = ctx.partFiles(out)
    r.metrics("sinks.files") = files.size.toDouble
    r.metrics("sinks.bytes") = files.map(_.length).sum.toDouble
    r.metrics("config.parse_s") = Stats.median(t.byName("config.parse").map(s => Stats.secs(s.dur)))
    r.metrics("plans.plan_s") =
      Stats.median((1 to 3).map(_ => timed(PipelineRunner.plan(spark, dfConf).split.unpersist())))
    val src = SourceReader.read(spark, dfConf.sources)
    ctx.jobs.reset()
    val b0 = FileReads.bytes()
    r.metrics("sources.read_s") = t.span("sources.read_probe")(ctx.noopSecs(3)(src))
    r.metrics("sources.bytes") = (FileReads.bytes() - b0) / 3.0
    ctx.moduleMetrics(3)(g => Some(g.takeWhile(_ != '.')).filter(_ == "sources"))
    val read = Observation("sources")
    src.observe(read, count(lit(1)).as("rows")).write.mode("overwrite").format("noop").save()
    r.metrics("sources.rows") = read.get("rows").asInstanceOf[Long].toDouble

    val okOut = spark.read.parquet(s"$out/ok1/ok")
    r.metrics("sinks.kafka_payload_s") = t.span("sinks.kafka_payload")(ctx.noopSecs(3)(Sinks.kafkaPayload(okOut)))
    baseline()
  }

  /** One dataflow with each module's public call timed on its own; the
    * split's persisted relation is materialized inside the split span
    * and the curated OK relation forced inside the post span, so the
    * executor work lands in the module that asked for it. Mirrors
    * `PipelineRunner.run`: plan, persist to sinks, unpersist. */
  private def decomposed(): Map[String, Double] = {
    var res = Map.empty[String, Double]
    def s[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val v = t.span(name)(body)
      res += s"${name}_s" -> Stats.secs(System.nanoTime() - t0)
      v
    }
    r.op("dataflow.decomposed") {
      t.unit("plans.run.decomposed") {
        val source = t.span("sources.read")(SourceReader.read(spark, dfConf.sources))
        val (fields, rules) = PipelineRunner.stages(dfConf)
        val withFields = s("operators.add_fields")(AddFields(fields)(source))
        val split = s("operators.split") {
          val sp = ValidationSplit.split(withFields, rules)
          sp.shared.count()
          sp
        }
        res += "operators.split_cache_bytes" -> spark.sparkContext.getRDDStorageInfo
          .map(i => (i.memSize + i.diskSize).toDouble).sum
        val ok = s("operators.post") {
          val c = PipelineRunner.applyPost(split.ok, PipelineRunner.postStages(dfConf))
          c.write.mode("overwrite").format("noop").save()
          c
        }
        s("sinks.persist")(
          Sinks.persist(dfConf.sinks, Map("ok_with_date" -> ok, "validation_ko" -> split.ko), None))
        t.span("operators.release")(split.unpersist())
      }
      val unit = t.byName("plans.run.decomposed").last
      res += "plans.layer_coverage" -> (1.0 - t.selfNs(unit).toDouble / unit.dur)
      t.span("check")(verify())
    }
    res ++ Map(
      "operators.ok_rows" -> spark.read.parquet(s"$out/ok1/ok").count().toDouble,
      "operators.ko_rows" -> spark.read.json(s"$out/ko/ko").count().toDouble)
  }

  /** The same closed loop on local[1]: the single-threaded baseline. */
  private def baseline(): Unit = {
    r.metrics("baseline.localk_rows_per_s") = r.metrics("rows_per_s")
    ctx.stop()
    ctx.session(1)
    val lat = mutable.ArrayBuffer.empty[Double]
    (0 until 1 + cfg.int("baseline_units")).foreach(_ => unit(lat))
    r.metrics("baseline.local1_rows_per_s") = rows * (lat.size - 1) / lat.drop(1).sum
  }
}
