package graft

import org.apache.spark.sql.SparkSession
import graft.config.MetadataReader
import graft.plans.PipelineRunner
import graft.sources.SourceReader
import graft.streaming.StreamingPipeline

/** CLI entry point — parity with the reference's `PipelineApp.main`
  * (reference `PipelineApp.scala:10-23`: args = metadataPath,
  * kafkaServer), extended with explicit flags instead of positional-only
  * args and an optional streaming mode.
  *
  * Usage:
  *   PipelineApp <metadataPath> [--kafka <bootstrapServers>]
  *     [--streaming --checkpoint <dir>] [--positional-union]
  *     [--repartition <n>] [--show]
  */
object PipelineApp {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println("usage: PipelineApp <metadataPath> [--kafka <servers>] " +
        "[--streaming --checkpoint <dir>] [--positional-union] [--repartition <n>] [--show]")
      sys.exit(2)
    }
    val spark = SparkSession.builder()
      .appName("graft-pipeline")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    try run(spark, args).foreach(_.awaitTermination())
    finally spark.stop()
  }

  /** Everything after session construction — the whole CLI path (arg
    * parsing, metadata read, batch run or streaming fan-out) on a
    * caller-owned session, so tests drive it end-to-end without main's
    * blocking awaitTermination/spark.stop. Returns the started streaming
    * queries (empty in batch mode). */
  def run(spark: SparkSession, args: Array[String]): Seq[org.apache.spark.sql.streaming.StreamingQuery] = {
    val metadataPath = args(0)
    def flagValue(name: String): Option[String] =
      args.sliding(2).collectFirst { case Array(`name`, v) => v }.map { v =>
        // a flag left without its value would silently consume the NEXT
        // flag token (e.g. `--kafka --repartition 8` → broker
        // "--repartition"); fail arg parsing instead
        require(!v.startsWith("--"),
          s"$name requires a value, got flag '$v'")
        v
      }
    val kafka = flagValue("--kafka")
    val streaming = args.contains("--streaming")
    val checkpoint = flagValue("--checkpoint")
    val positional = args.contains("--positional-union")
    val repartition = flagValue("--repartition").map { v =>
      v.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
        s"--repartition needs a positive integer, got '$v'"))
    }
    val show = args.contains("--show")

    val meta = MetadataReader.read(metadataPath)
    val opts = PipelineRunner.Options(
      unionMode = if (positional) SourceReader.UnionMode.Positional
                  else SourceReader.UnionMode.ByName,
      kafkaServer = kafka,
      repartition = repartition)
    if (streaming) {
      val ckpt = checkpoint.getOrElse(
        throw new IllegalArgumentException("--streaming requires --checkpoint <dir>"))
      // batch-only flags must not be silently ignored in streaming mode
      require(!positional,
        "--positional-union applies to batch mode (streaming dataflows have one source)")
      require(!show, "--show applies to batch mode (streaming output goes to sinks)")
      // validate EVERY dataflow before starting ANY query: a failure on
      // dataflow N after dataflow 1..N-1 started would leave running,
      // checkpointed queries the caller has no handle to stop
      val validated = meta.dataflows.map { df =>
        require(df.sources.size == 1,
          s"streaming dataflow '${df.name}' must have exactly one source")
        val s = df.sources.head
        val schema = s.schema.map(org.apache.spark.sql.types.StructType.fromDDL)
          .getOrElse(throw new IllegalArgumentException(
            s"streaming source '${s.name}' requires an explicit schema"))
        (df, s, schema)
      }
      validated.map { case (df, s, schema) =>
        val source = StreamingPipeline.fileSource(spark, s.path, s.format, schema)
        StreamingPipeline.runDataflow(source, df, s"$ckpt/${df.name}", kafka,
          repartition = repartition)
      }
    } else {
      meta.dataflows.foreach { df =>
        val res = PipelineRunner.run(spark, df, opts)
        // K3 console sink, behind a flag (the reference shows
        // unconditionally — two extra jobs per dataflow,
        // PipelineProcessor.scala:70,84)
        if (show) { res.ok.show(false); res.ko.show(false) }
      }
      Nil
    }
  }
}
