package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Catalog of the driver-generated test tables (TPC-H-ish star schema plus
  * `events`/`documents`/`embeddings`), read with EXPLICIT schemas.
  *
  * The reference engine infers every input schema (it calls
  * `session.read.format(...).load(path)` with no `.schema`, reference
  * `PipelineProcessor.scala:111`); at 100 TB inference means an extra full
  * scan (JSON/CSV) or footer-sampling job (parquet), so this engine always
  * declares schemas up front. Explicit schemas also guarantee stable column
  * nullability/types for the DuckDB oracle compare.
  */
object Tables {

  /** Repartition a scan-derived relation to the session's default
    * parallelism, hash-keyed on `key` — the shared rule behind
    * [[graft.operators.Dedup.augmented]] and
    * [[graft.operators.EntityResolution.variantHashes]], factored out:
    * a CPU-dense kernel pass (md5 shingling, gram explode, GD epochs,
    * variant generation) must not inherit the scan's FILE partitioning.
    * A small table is one parquet file = one row group = one scan
    * partition, which serializes the whole kernel stage onto a single
    * core no matter how many the session has (measured 4× on the ER d2
    * gate, ~3× on the CCNet LM trainers at sf0.1). At production scale
    * the same exchange is the explicit parallelism floor a compute-
    * bound stage wants before fanning out — the shuffled bytes are the
    * narrow pre-kernel projection, paid once, and every downstream
    * consumer of the (usually persisted) kernel output inherits the
    * spread. Hash-keyed, not round-robin: deterministic row placement
    * under retries (guide §2.5) and no sort-before-repartition pass. */
  def spread(df: DataFrame, key: String): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism,
      org.apache.spark.sql.functions.col(key))

  /** [[spread]]'s inverse, scale-adaptively (guide §2.5: partition
    * counts must derive from input size, never from a constant tuned
    * for one deployment): the partition count for a region whose
    * shuffled relations are bounded by `bytes`, at [[SizedPartitionBytes]]
    * per partition, clamped to [1, session `spark.sql.shuffle.partitions`].
    * A KB-sized relation stops fanning every join/agg/CC round out to
    * the session's full partition count — at that size each extra task
    * is pure dispatch/deserialize overhead (the r17 finding: 68 s of
    * task deserialization in one soft-dedup lifecycle; the 8-core
    * suite outrunning the 32-core one) — while any input big enough to
    * want the session's parallelism keeps it unchanged, so the bound
    * is the identity at production scale. The region runs at the count
    * through [[graft.Sessions.sized]]. */
  def sizedPartitions(spark: SparkSession, bytes: Long): Int = {
    val cap = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val want = (math.max(0L, bytes) + SizedPartitionBytes - 1L) / SizedPartitionBytes
    math.max(1L, math.min(cap.toLong, want)).toInt
  }

  /** One shared per-partition byte target for every sized region
    * (32 MB): the guide's 100 MB–1 GB shuffle-partition band taken at
    * the low end because the regions using it (soft-dedup folds, family
    * compactions) run CPU-denser kernels per byte than a plain
    * byte-bound stage. */
  val SizedPartitionBytes: Long = 32L << 20

  val regionSchema: StructType = StructType(Seq(
    StructField("r_regionkey", IntegerType),
    StructField("r_name", StringType)))

  val nationSchema: StructType = StructType(Seq(
    StructField("n_nationkey", IntegerType),
    StructField("n_name", StringType),
    StructField("n_regionkey", IntegerType)))

  val customerSchema: StructType = StructType(Seq(
    StructField("c_custkey", LongType),
    StructField("c_name", StringType),
    StructField("c_nationkey", IntegerType),
    StructField("c_acctbal", DoubleType),
    StructField("c_mktsegment", StringType)))

  val supplierSchema: StructType = StructType(Seq(
    StructField("s_suppkey", LongType),
    StructField("s_name", StringType),
    StructField("s_nationkey", IntegerType),
    StructField("s_acctbal", DoubleType)))

  val partSchema: StructType = StructType(Seq(
    StructField("p_partkey", LongType),
    StructField("p_name", StringType),
    StructField("p_brand", StringType),
    StructField("p_type", StringType),
    StructField("p_size", IntegerType),
    StructField("p_retailprice", DoubleType)))

  val ordersSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType),
    StructField("o_orderpriority", StringType)))

  val lineitemSchema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType),
    StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType),
    StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType),
    StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType),
    StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType),
    StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampType)))

  /** `events.ts` raw-long variant, for parquet files whose `ts` column is
    * TIMESTAMP(NANOS) (or an unannotated int64 carrying epoch nanos) —
    * Spark cannot read nanos as TimestampType (micros), so [[events]]
    * reads the raw long and converts with integer `div 1000`. Which
    * variant applies is decided per directory by a parquet FOOTER PROBE
    * (see [[events]]); the encoding must never be hard-coded, because the
    * upstream generator has shipped both nanos and micros encodings. */
  val eventsRawSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** `events` with `ts` as a native timestamp — for TIMESTAMP(MICROS) /
    * TIMESTAMP(MILLIS) parquet, which Spark reads directly (the micros
    * raw long IS Spark's internal TimestampType encoding — zero-cost). */
  val eventsMicrosSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  val embeddingsSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  private val schemas: Map[String, StructType] = Map(
    "region" -> regionSchema, "nation" -> nationSchema,
    "customer" -> customerSchema, "supplier" -> supplierSchema,
    "part" -> partSchema, "orders" -> ordersSchema,
    "lineitem" -> lineitemSchema, "events" -> eventsRawSchema,
    "documents" -> documentsSchema, "embeddings" -> embeddingsSchema)

  /** Read table `name` from `dir` (a `/root/testdata/sf*` directory). */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.schema(schemas(name)).parquet(s"$dir/$name.parquet")

  def region(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  import org.apache.parquet.schema.LogicalTypeAnnotation
  import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit

  /** Cached per-directory probe of `events.ts`'s parquet time unit, plus
    * the footer min/max stats used by the data contract. One footer read
    * per (dir) for the life of the JVM — metadata-only, no data scan. */
  private case class TsProbe(unit: TimeUnit, minRaw: Option[Long], maxRaw: Option[Long])
  private val tsProbes = new scala.collection.concurrent.TrieMap[String, TsProbe]

  /** Read the parquet footers of EVERY non-hidden part file of
    * `dir/events.parquet` and return the `ts` column's logical time unit
    * and the raw min/max stats merged across all files. All footers must
    * agree on the unit — a directory with mixed encodings across part
    * files (e.g. a partial regeneration) fails loudly here instead of
    * silently decoding half the rows 1000× off. An unannotated int64
    * `ts` is treated as the legacy raw-nanos encoding. Footer-only: one
    * metadata RPC per file, no data scan — the same cost Spark's own
    * scan planning already pays to list and split the directory.
    *
    * Cached per directory for the JVM lifetime, which assumes the
    * directory is immutable once probed (true for the driver's
    * `/root/testdata/sf*` fixtures and for any sane production layout
    * where regeneration writes a NEW path). Regenerating data into the
    * same dir mid-JVM would serve a stale probe. */
  private def probeTs(spark: SparkSession, dir: String): TsProbe =
    tsProbes.getOrElseUpdate(dir, {
      import org.apache.hadoop.fs.Path
      import org.apache.parquet.hadoop.ParquetFileReader
      import org.apache.parquet.hadoop.util.HadoopInputFile
      val conf = spark.sessionState.newHadoopConf()
      val root = new Path(s"$dir/events.parquet")
      val fs = root.getFileSystem(conf)
      val files =
        if (fs.getFileStatus(root).isDirectory) {
          val parts = fs.listStatus(root).map(_.getPath)
            .filter(p => !p.getName.startsWith("_") && !p.getName.startsWith("."))
            .sortBy(_.getName)
          if (parts.nonEmpty) parts.toSeq else Seq(root)
        } else Seq(root)
      val perFile = files.map { file =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
        try {
          val meta = reader.getFooter
          val schema = meta.getFileMetaData.getSchema
          val idx = schema.getFieldIndex("ts")
          val unit = schema.getType(idx).asPrimitiveType().getLogicalTypeAnnotation match {
            case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation => t.getUnit
            case _ => TimeUnit.NANOS // legacy generator: unannotated int64 epoch nanos
          }
          var lo, hi = Option.empty[Long]
          meta.getBlocks.forEach { b =>
            val st = b.getColumns.get(idx).getStatistics
            if (st != null && st.hasNonNullValue) {
              val (mn, mx) = (st.genericGetMin, st.genericGetMax) match {
                case (a: java.lang.Long, b2: java.lang.Long) => (a.longValue, b2.longValue)
                case (a: java.lang.Number, b2: java.lang.Number) => (a.longValue, b2.longValue)
              }
              lo = Some(lo.fold(mn)(math.min(_, mn)))
              hi = Some(hi.fold(mx)(math.max(_, mx)))
            }
          }
          (file.getName, TsProbe(unit, lo, hi))
        } finally reader.close()
      }
      val units = perFile.map { case (name, p) => name -> p.unit }
      require(units.map(_._2).distinct.size == 1,
        s"events.ts time-unit disagreement across part files of $dir/events.parquet: " +
          units.map { case (n, u) => s"$n=$u" }.mkString(", ") +
          " — mixed parquet encodings in one directory cannot be decoded uniformly")
      val merged = perFile.map(_._2)
      TsProbe(
        merged.head.unit,
        merged.flatMap(_.minRaw).reduceOption(math.min(_: Long, _: Long)),
        merged.flatMap(_.maxRaw).reduceOption(math.max(_: Long, _: Long)))
    })

  /** Raw `ts` long → epoch micros, per the probed unit. */
  private def rawToMicros(raw: Long, unit: TimeUnit): Long = unit match {
    case TimeUnit.NANOS  => raw / 1000L
    case TimeUnit.MICROS => raw
    case TimeUnit.MILLIS => raw * 1000L
  }

  /** Data contract: the decoded event-time range must land in a sane epoch
    * window (year ∈ [2000, 2100)). This is what catches a silent encoding
    * change in regenerated inputs as an immediate named failure instead of
    * 1000×-shifted timestamps quietly corrupting every session/window/
    * cohort result downstream: any unit misread moves the epoch by 10³
    * (micros read as nanos → 1970; nanos read as micros → year ~55000),
    * so the year window alone catches every unit error. A span check is
    * deliberately NOT enforced here — legitimate small fixtures (unit
    * tests, single-batch replays) span seconds; TablesSpec asserts the
    * multi-day span on the driver testdata instead. Checked from FOOTER
    * stats (no scan); skipped if stats are absent. */
  private def checkTsContract(dir: String, p: TsProbe): Unit =
    for (mn <- p.minRaw; mx <- p.maxRaw) {
      val (loUs, hiUs) = (rawToMicros(mn, p.unit), rawToMicros(mx, p.unit))
      val (y2000, y2100) = (946684800000000L, 4102444800000000L)
      require(loUs >= y2000 && hiUs < y2100,
        s"events.ts data contract violated in $dir: decoded range " +
          s"[$loUs, $hiUs] us (unit=${p.unit}) falls outside years [2000, 2100) — " +
          "the parquet time encoding likely changed; re-check the footer probe")
    }

  /** Events with `ts` as a microsecond TimestampType, whatever the file's
    * physical encoding: TIMESTAMP(MICROS)/(MILLIS) parquet reads natively;
    * TIMESTAMP(NANOS) (or legacy unannotated int64 nanos) reads as raw
    * long and converts with integer `div` — `/` on longs is double
    * division, and an ns epoch (~1.7e18) does not fit double's 53-bit
    * mantissa. The branch is chosen by [[probeTs]]'s footer read, never
    * assumed, and the decoded range is validated by [[checkTsContract]]. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{expr, timestamp_micros}
    val p = probeTs(spark, dir)
    checkTsContract(dir, p)
    p.unit match {
      case TimeUnit.NANOS =>
        spark.read.schema(eventsRawSchema).parquet(s"$dir/events.parquet")
          .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ =>
        spark.read.schema(eventsMicrosSchema).parquet(s"$dir/events.parquet")
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  /** SQL entry point: register every catalog table as a temp view (with
    * `events` in its converted-timestamp form), so `spark.sql("SELECT …
    * FROM lineitem …")` works against the same relations the DataFrame
    * API reads. Views are lazy metadata — registration scans nothing,
    * and queries through them get the identical Catalyst plans
    * (pushdown, pruning) as the DataFrame path. */
  def registerViews(spark: SparkSession, dir: String): Unit = {
    schemas.keys.filterNot(_ == "events")
      .foreach(n => table(spark, dir, n).createOrReplaceTempView(n))
    events(spark, dir).createOrReplaceTempView("events")
  }
}
