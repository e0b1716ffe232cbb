package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.{ClassTagExtensions, DefaultScalaModule}
import org.apache.spark.sql.SparkSession

/** Run configuration written by run.py. */
final class Conf(val m: Map[String, Any]) {
  def str(k: String): String = m(k).toString
  def num(k: String): Double = m(k) match { case n: Number => n.doubleValue; case s => s.toString.toDouble }
  def int(k: String): Int = num(k).toInt
  def long(k: String): Long = m(k) match { case n: Number => n.longValue; case s => s.toString.toLong }
  def bool(k: String): Boolean = m(k).toString.toBoolean
  def obj(k: String): Conf = new Conf(m(k).asInstanceOf[Map[String, Any]])
  def strs(k: String): Seq[String] = m(k).asInstanceOf[Seq[Any]].map(_.toString)
  def longs(k: String): Seq[Long] = m(k).asInstanceOf[Seq[Any]].map {
    case n: Number => n.longValue; case s => s.toString.toLong }
}

/** What one JVM run reports back to run.py. */
final class Report {
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  val details = mutable.LinkedHashMap.empty[String, Any]
  val errors = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L

  /** One operation: counts as failed when it throws or its check
    * returns an error message. */
  def op(what: String)(body: => Option[String]): Unit = {
    attempted += 1
    val err = try body catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    err.foreach { e => failed += 1; if (errors.size < 20) errors += s"$what: $e" }
  }
}

object Stats {
  /** Linear-interpolated percentile, p in [0, 1]. */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val r = p * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
  def secs(ns: Long): Double = ns / 1e9
}

/** Shared run context: the session factory and the tracing hooks. */
final class Ctx(val cfg: Conf) {
  val dir: String = cfg.str("run_dir")
  val cores: Int = cfg.int("cores")
  val traced: Boolean = cfg.bool("trace")
  val report = new Report
  val tracer = new Tracer(SparkSession.active.sparkContext)
  val jobs = new JobMetrics
  val progress = new ProgressLog

  def session(k: Int = cores): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$k]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cfg.int("shuffle_partitions").toString)
      .config("spark.default.parallelism", k.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.hadoop.hadoop.tmp.dir", s"$dir/hadoop-tmp")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Attach (or detach) the tracing hooks on the active session. */
  def trace(on: Boolean): Unit = {
    val spark = SparkSession.active
    if (on && !tracer.enabled) {
      spark.sparkContext.addSparkListener(jobs)
      spark.streams.addListener(progress)
    } else if (!on && tracer.enabled) {
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(jobs)
      spark.streams.removeListener(progress)
    }
    tracer.enabled = on
  }

  def stop(): Unit = {
    trace(false)
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Set-up repeated `reps` times; all but the last are torn down. Each
    * rep stops the SparkContext and builds a new one. The first rep also
    * pays the JVM's class loading; it is reported on its own
    * (`setup.first_jvm_s`), and `setup_s` is the median of the later
    * untraced reps. In a traced run, reps alternate untraced/traced so
    * the tracing overhead on set-up is measured in the same JVM. */
  def setup(reps: Int)(build: () => Unit)(teardown: () => Unit): Unit = {
    val plain = mutable.ArrayBuffer.empty[Double]
    val withTrace = mutable.ArrayBuffer.empty[Double]
    for (i <- 0 until reps) {
      val on = traced && i % 2 == 1
      val t0 = System.nanoTime()
      session()
      if (on) trace(true)
      if (on) tracer.unit("setup")(build()) else build()
      val dt = Stats.secs(System.nanoTime() - t0)
      if (i == 0) report.metrics("setup.first_jvm_s") = dt
      else (if (on) withTrace else plain) += dt
      if (i < reps - 1) { teardown(); stop() }
      else if (traced && !on) trace(true)
    }
    report.metrics("setup_s") = Stats.median(plain.toSeq)
    report.details("setup_reps_s") = report.metrics("setup.first_jvm_s") +: plain.toSeq
    if (traced) report.metrics("overhead.setup_s") = Stats.median(withTrace.toSeq) - Stats.median(plain.toSeq)
  }

  /** Module-level rollup of the listener's per-job-group metrics, per
    * unit of work (`units` of them ran since the last reset). */
  def moduleMetrics(units: Double)(groupModule: String => Option[String]): Unit = {
    org.apache.spark.perfbench.Bus.drain(SparkSession.active.sparkContext)
    val byModule = mutable.Map.empty[String, mutable.Map[String, Long]]
    jobs.snapshot().foreach { case (g, m) =>
      groupModule(g).foreach { mod =>
        val acc = byModule.getOrElseUpdate(mod, mutable.Map.empty[String, Long].withDefaultValue(0L))
        m.foreach { case (k, v) => acc(k) += v }
      }
    }
    byModule.foreach { case (mod, m) =>
      report.metrics(s"$mod.jobs") = m("jobs") / units
      report.metrics(s"$mod.tasks") = m("tasks") / units
      report.metrics(s"$mod.executor_cpu_s") = m("cpu_ns") / 1e9 / units
      report.metrics(s"$mod.deser_s") = m("deser_ns") / 1e9 / units
      report.metrics(s"$mod.gc_s") = m("gc_ms") / 1e3 / units
      report.metrics(s"$mod.scheduler_delay_s") = m("sched_ms") / 1e3 / units
      report.metrics(s"$mod.shuffle_write_bytes") = m("shuffle_write") / units
      report.metrics(s"$mod.spill_bytes") = m("spill") / units
      report.metrics(s"$mod.failed_tasks") = m("failed_tasks") / units
    }
  }

  /** The data files a sink wrote under `dir`. */
  def partFiles(dir: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
      else if (f.getName.startsWith("part-")) Seq(f) else Nil
    walk(new java.io.File(dir))
  }

  /** Median wall time of `reps` noop-forced runs of `df`. */
  def noopSecs(reps: Int)(df: => org.apache.spark.sql.DataFrame): Double =
    Stats.median((1 to reps).map { _ =>
      val t0 = System.nanoTime()
      df.write.mode("overwrite").format("noop").save()
      Stats.secs(System.nanoTime() - t0)
    })
}

object Main {
  private val mapper = {
    val m = new ObjectMapper() with ClassTagExtensions
    m.registerModule(DefaultScalaModule)
    m
  }

  def main(args: Array[String]): Unit = {
    val cfg = new Conf(mapper.readValue[Map[String, Any]](Files.readString(Paths.get(args(0)))))
    val ctx = new Ctx(cfg)
    val t0 = System.nanoTime()
    try {
      cfg.str("workload") match {
        case "pipeline_batch" => new BatchBench(ctx).run()
        case "pipeline_stream" => new StreamBench(ctx).run()
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      if (ctx.traced) {
        ctx.stop()
        ctx.session()
        ctx.trace(true)
        new CurateProbe(ctx).run()
        new Probes(ctx).run()
      }
    } catch {
      case e: Throwable =>
        ctx.report.errors += s"run aborted: ${e.getClass.getSimpleName}: ${e.getMessage}"
        ctx.report.failed += 1
        ctx.report.attempted += 1
        e.printStackTrace()
    } finally {
      ctx.report.details("workload_s") = Stats.secs(System.nanoTime() - t0)
      ctx.stop()
    }
    ctx.report.metrics("peak_rss_mb") = peakRssMb()
    val r = ctx.report
    val out = Map(
      "metrics" -> r.metrics.toMap, "details" -> r.details.toMap,
      "errors" -> r.errors.toSeq, "attempted" -> r.attempted, "failed" -> r.failed,
      "spans" -> ctx.tracer.json)
    Files.writeString(Paths.get(args(1)), mapper.writeValueAsString(out))
    // Spark leaves non-daemon threads behind after stop()
    System.exit(0)
  }

  /** VmHWM of this JVM, in MiB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(0.0)
}
