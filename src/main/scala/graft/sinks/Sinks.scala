package graft.sinks

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, struct, to_json}
import graft.config.SinkConf

/** File + Kafka sinks (reference `PipelineProcessor.scala:115-156`).
  *
  * Routing is by the sink's `input` name against a map of NAMED splits —
  * exhaustive with a descriptive error (the reference `MatchError`s on
  * anything but `ok_with_date`/`validation_ko`, `:120-144`).
  *
  * Scale posture: an optional `repartition` before write (the reference
  * writes whatever partitioning the plan yields — at 100 TB that is
  * either millions of small files or a handful of giant ones).
  */
object Sinks {

  /** One write of a fan-out: the directory it fills (None for a Kafka
    * publish) and the action that writes it. */
  private final case class Write(target: Option[Path], run: () => Unit)

  /** Kafka payload projection (reference `:150`): all columns packed into
    * one JSON string column `value` — the exact shape the `kafka`
    * DataSource requires. */
  def kafkaPayload(df: DataFrame): DataFrame =
    df.select(to_json(struct(col("*"))).as("value"))

  /** One write per configured path (reference `:122-128`).
    * `sink.partitionBy` lays the output out hive-style
    * (`col=value/...`): at 100 TB, readers filtering on the partition
    * column scan ONLY matching directories (partition pruning — the
    * single biggest read-cost lever for time- or source-partitioned
    * corpora). When partitioning, repartition by the same columns first
    * so each partition directory is written by the tasks owning its
    * rows — otherwise every task writes a file into every directory
    * (tasks × partitions small files). */
  private def fileWrites(df: DataFrame, sink: SinkConf, repartition: Option[Int],
                         batchSubdir: Option[Long]): Seq[Write] = {
    val out =
      if (sink.partitionBy.nonEmpty)
        repartition.fold(df.repartition(sink.partitionBy.map(col): _*))(
          n => df.repartition(n, sink.partitionBy.map(col): _*))
      else repartition.fold(df)(df.repartition(_))
    val hadoopConf = df.sparkSession.sessionState.newHadoopConf()
    sink.paths.map { path =>
      // streaming fan-out: each micro-batch owns a batch=<id> subdir and
      // OVERWRITES it, so a crash-replayed batch rewrites its own output
      // instead of duplicating (append) or wiping prior batches
      // (overwrite) — the idempotent per-batch recipe. Batch mode writes
      // the flat reference layout with the configured save mode.
      val target = batchSubdir.fold(s"$path/${sink.name}")(
        b => s"$path/${sink.name}/batch=$b")
      val mode = if (batchSubdir.isDefined) "overwrite" else sink.saveMode
      val p = new Path(target)
      Write(Some(p.getFileSystem(hadoopConf).makeQualified(p)), () => {
        val w = out.write.mode(mode).format(sink.format.toLowerCase)
        (if (sink.partitionBy.nonEmpty) w.partitionBy(sink.partitionBy: _*) else w)
          .save(target)
      })
    }
  }

  /** Write `df` to every configured path of `sink`, as [[persist]] does. */
  def writeFiles(df: DataFrame, sink: SinkConf, repartition: Option[Int] = None,
                 batchSubdir: Option[Long] = None): Unit =
    runAll(fileWrites(df, sink, repartition, batchSubdir))

  /** Batch Kafka publish (reference `:148-156`). Topic defaults follow the
    * reference's hardcoded `pipeline-ok`/`pipeline-ko` unless the sink
    * overrides. Not exercised in the offline test env (no broker); the
    * payload projection is what gets unit-tested. */
  def publishKafka(df: DataFrame, bootstrapServers: String, topic: String): Unit =
    kafkaPayload(df).write.format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("topic", topic)
      .save()

  /** Route every sink to its named split: one write per (sink, path),
    * plus one Kafka publish per sink when a broker is configured.
    *
    * Every sink is checked (known input, somewhere to write, a topic
    * when publishing) before any write starts, so a bad sink fails the
    * call with no output written. The writes share no data — each is its
    * own Spark job over the same (persisted) split — so they are
    * submitted at once through [[graft.Par.all]], and the call takes
    * about as long as its slowest write rather than their sum. Writes
    * whose target directories are equal or nested share
    * FileOutputCommitter's `_temporary` under the target (and an
    * overwrite of the outer one deletes the inner), so they run one
    * after another, in declaration order, on one side. Without
    * `repartition`, a write has the partitions of its split: a split
    * [[graft.operators.ValidationSplit]] persisted as one partition (a
    * small input) is written as one file per path, and an OK path
    * curated by `deduplicate` needs no shuffle.
    *
    * Failure contract (that of `Par.all`): every write runs to the end,
    * and the call returns or throws only after all have finished — an
    * interrupt (`StreamingQuery.stop()` inside `foreachBatch`) included.
    * The first failure is rethrown with the others suppressed. A failed
    * call may leave some targets written; in streaming mode each write
    * overwrites its own `batch=<id>` directory, so the replay of the
    * failed batch rewrites them whole (idempotent), and no writer of the
    * failed attempt is still running when the replay starts. */
  def persist(sinks: Seq[SinkConf], splits: Map[String, DataFrame],
              kafkaServer: Option[String],
              defaultTopics: Map[String, String] = Map(
                "ok_with_date" -> "pipeline-ok", "validation_ko" -> "pipeline-ko"),
              repartition: Option[Int] = None,
              batchSubdir: Option[Long] = None): Unit = {
    val routed = sinks.map { sink =>
      val df = splits.getOrElse(sink.input, throw new IllegalArgumentException(
        s"sink '${sink.name}' references unknown input '${sink.input}' " +
        s"(available: ${splits.keys.mkString(", ")})"))
      // a topic-only sink with no broker configured would write nowhere
      // and raise nothing — the data silently vanishes; fail fast instead
      if (sink.paths.isEmpty && kafkaServer.isEmpty)
        throw new IllegalArgumentException(
          s"sink '${sink.name}' has no file paths and no Kafka server is " +
          "configured — its output would be silently dropped")
      val kafka = kafkaServer.map { ks =>
        ks -> sink.topic.orElse(defaultTopics.get(sink.input))
          .getOrElse(throw new IllegalArgumentException(
            s"sink '${sink.name}': no Kafka topic configured for input '${sink.input}'"))
      }
      (sink, df, kafka)
    }
    runAll(routed.flatMap { case (sink, df, kafka) =>
      fileWrites(df, sink, repartition, batchSubdir) ++
        kafka.map { case (ks, topic) => Write(None, () => publishKafka(df, ks, topic)) }
    })
  }

  /** Runs `writes` concurrently, except that writes into equal or nested
    * directories are grouped onto one side, in declaration order. */
  private def runAll(writes: Seq[Write]): Unit = {
    def dir(p: Path) = p.toString.stripSuffix("/") + "/"
    def overlap(a: Write, b: Write) = a.target.zip(b.target).exists { case (x, y) =>
      dir(x).startsWith(dir(y)) || dir(y).startsWith(dir(x))
    }
    val groups = writes.zipWithIndex.foldLeft(Vector.empty[Vector[(Write, Int)]]) {
      case (gs, w) =>
        val (hit, miss) = gs.partition(_.exists(o => overlap(o._1, w._1)))
        miss :+ (hit.flatten :+ w).sortBy(_._2)
    }.sortBy(_.head._2)
    graft.Par.all(groups.map(g => () => g.foreach(_._1.run())))
  }
}
