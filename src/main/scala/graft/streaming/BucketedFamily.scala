package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** BUCKETED compaction snapshots for delta-store families — the 100 TB
  * probe posture for corpus-sized, append-only state.
  *
  * A delta family ([[StreamingPipeline.compactDeltas]]'s `b<k>` dirs +
  * `v=<k>` snapshots) serves its contents as plain parquet: correct,
  * but a JOIN against it always shuffles the corpus-sized side — fine
  * for serving reads, fatal for a daily-ingest PROBE (the soft-dedup
  * band relation is corpus-sized; re-shuffling it per ingest is the
  * one plan shape that does not survive 100×). The fix is the
  * [[graft.operators.AnnIndex]] posture at the family level: publish
  * the compaction snapshot as a BUCKETED parquet layout (Spark's
  * `bucketBy` — hash-partitioned into `buckets` files per the same
  * Murmur3 hash an Exchange uses), so a probe joining on the bucket
  * columns plans with NO Exchange on the snapshot side; only the
  * ingest-sized probe relation shuffles (or broadcasts). Deltas that
  * accumulate after the snapshot stay plain — they are batch-sized by
  * construction, and probes handle them as separate batch-sized joins
  * until the next sweep folds them in.
  *
  * Spark's bucketing is CATALOG metadata, not self-describing parquet:
  * the bucket ids live in the saveAsTable FILE NAMES, and a bare
  * `spark.read.parquet` of the same files silently loses the layout
  * (the AnnIndex lesson). So every bucketed snapshot carries a
  * `_graft_bucketspec` marker (bucket columns + count + format
  * version) and [[readSnapshot]] RE-REGISTERS an external
  * `CLUSTERED BY` table over the snapshot dir from that marker — a
  * fresh session (production restart, new metastore) recovers the
  * Exchange-free layout from disk alone. A missing marker means a
  * plain (legacy) snapshot and reads degrade gracefully to the
  * unbucketed scan; a marker this build cannot parse is a loud error.
  *
  * Publish is [[StreamingPipeline.publishSnapshot]]'s protocol with a
  * bucketed `write`; the layout marker lands before the commit marker,
  * so a committed snapshot always carries its layout. Every existing reader
  * ([[StreamingPipeline.storeContents]], fsck, erasure folds) keeps
  * working unchanged — the snapshot's data files are ordinary parquet;
  * only probe paths that opt in via [[readSnapshot]] see the layout. */
object BucketedFamily {

  /** Marker inside a `v=<k>` snapshot dir naming its bucket layout.
    * Underscore-prefixed: invisible to Hadoop data listing, so plain
    * parquet reads of the snapshot never see it as data. */
  val BucketSpecMarker = "_graft_bucketspec"
  private val SpecFormatVersion = 1

  /** Bucket layout of a snapshot: hash columns and file count. The
    * writer sorts each bucket by the bucket columns and the reader
    * re-registers the same `SORTED BY` clause, so sort-merge joins on
    * the bucket key skip their Sort when one file per bucket exists. */
  final case class BucketSpec(cols: Seq[String], buckets: Int)

  private def fsOf(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  private def writeSpec(spark: SparkSession, snapDir: Path,
                        spec: BucketSpec): Unit = {
    val p = new Path(snapDir, BucketSpecMarker)
    val out = fsOf(spark, p).create(p, true)
    try {
      val props = new java.util.Properties()
      props.setProperty("format", SpecFormatVersion.toString)
      props.setProperty("cols", spec.cols.mkString(","))
      props.setProperty("buckets", spec.buckets.toString)
      props.store(out, "graft bucketed snapshot layout")
    } finally out.close()
  }

  /** The bucket layout of a snapshot dir, None for a plain snapshot.
    * A marker written by a format this build does not understand is a
    * loud error, never a silent unbucketed fallback — a probe that
    * silently lost the layout would still be CORRECT, but the plan
    * regression would hide until the 100× run. */
  def readSpec(spark: SparkSession, snapDir: String): Option[BucketSpec] = {
    val p = new Path(new Path(snapDir), BucketSpecMarker)
    val fs = fsOf(spark, p)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val props = new java.util.Properties()
      try props.load(in) finally in.close()
      val ver = props.getProperty("format")
      require(ver == SpecFormatVersion.toString,
        s"bucketed snapshot spec format $ver != supported $SpecFormatVersion " +
          s"under $snapDir — rebuilt by a newer build; re-sweep or upgrade")
      Some(BucketSpec(props.getProperty("cols").split(",").toSeq,
        props.getProperty("buckets").toInt))
    }
  }

  /** Deterministic, session-catalog-safe table name for a snapshot:
    * re-registration is idempotent per (dir, version), and two stores
    * never collide (hex of the dir string's bytes' MD5). */
  private def tableName(dir: String, version: Long): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8"))
    val hex = md.take(8).map(b => f"${b & 0xff}%02x").mkString
    s"graft_bfam_${hex}_v$version"
  }

  /** Write `contents` into `dataDir` as a bucketed parquet layout.
    * Bucketed writes are only reachable through saveAsTable, so this
    * stages through a transient catalog entry and drops it (external —
    * the files stay). The repartition on the bucket columns is the
    * small-files guard: without it every write task emits one file per
    * bucket (tasks × buckets files); with it each task holds exactly
    * one bucket's rows (repartition's Murmur3 IS the bucket hash), so
    * the layout lands as `buckets` files. */
  private def writeBucketedData(spark: SparkSession, contents: DataFrame,
                                dataDir: String, spec: BucketSpec): Unit = {
    import org.apache.spark.sql.functions.col
    val staged = tableName(dataDir, 0L) + "_stage"
    spark.sql(s"DROP TABLE IF EXISTS $staged")
    contents
      .repartition(spec.buckets, spec.cols.map(col): _*)
      .write.mode("overwrite").format("parquet")
      .bucketBy(spec.buckets, spec.cols.head, spec.cols.tail: _*)
      .sortBy(spec.cols.head, spec.cols.tail: _*)
      .option("path", dataDir)
      .saveAsTable(staged)
    spark.sql(s"DROP TABLE $staged")
  }

  /** Publish `contents` as the bucketed `v=<version>` snapshot of a
    * delta family through [[StreamingPipeline.publishSnapshot]], with the
    * bucketed writer and the layout marker as its `write`. */
  def publishSnapshot(spark: SparkSession, dir: String, contents: DataFrame,
                      version: Long, spec: BucketSpec): Unit = {
    StreamingPipeline.publishSnapshot(spark, dir, version) { p =>
      writeBucketedData(spark, contents, p.toString, spec)
      writeSpec(spark, p, spec)
    }
    // the dir's content under any previously registered name changed
    // (in-place refold at the same version): drop the stale file-listing
    // cache so the next read sees the new files
    val t = tableName(dir, version)
    if (spark.catalog.tableExists(t)) spark.catalog.refreshTable(t)
  }

  /** The newest committed snapshot of a family, bucket-aware: when the
    * snapshot carries a layout marker it is served through a
    * re-registered external `CLUSTERED BY` table (Exchange-free joins
    * on the bucket columns — asserted in SoftDedupSpec), otherwise as
    * the plain parquet read. None before the first snapshot. */
  def readSnapshot(spark: SparkSession, dir: String,
                   schema: String): Option[(DataFrame, Long)] =
    StreamingPipeline.committedSnapshots(spark, dir).maxOption.map { v =>
      val snapDir = s"$dir/v=$v"
      readSpec(spark, snapDir) match {
        case Some(spec) =>
          val t = tableName(dir, v)
          if (!spark.catalog.tableExists(t)) {
            val ddl = StructType.fromDDL(schema).toDDL
            spark.sql(
              s"CREATE TABLE $t ($ddl) USING parquet " +
                s"CLUSTERED BY (${spec.cols.mkString(", ")}) " +
                s"SORTED BY (${spec.cols.mkString(", ")}) " +
                s"INTO ${spec.buckets} BUCKETS LOCATION '$snapDir'")
          }
          (spark.table(t), v)
        case None =>
          (spark.read.schema(schema).parquet(snapDir), v)
      }
    }

  /** Deltas NOT yet covered by the newest committed snapshot — the
    * plain, batch-sized tail a probe joins separately. Empty relation
    * when the family is fully compacted (or does not exist yet).
    * `maxId` (when given) is the caller's COMMITTED fold version: a
    * delta above it was written by an uncommitted (crashed) ingest and
    * must stay invisible until its fold commits — reading it early
    * double-counts the batch's own rows on the re-run. */
  def deltasAfterSnapshot(spark: SparkSession, dir: String,
                          schema: String,
                          maxId: Option[Long] = None): DataFrame = {
    val st = StructType.fromDDL(schema)
    val snap = StreamingPipeline.committedSnapshots(spark, dir).maxOption
    val deltas = StreamingPipeline
      .listVersions(spark, dir, StreamingPipeline.DeltaName)
      .getOrElse(Seq.empty)
      .filter(k => snap.forall(k > _) && maxId.forall(k <= _)).sorted
    if (deltas.isEmpty)
      spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), st)
    else spark.read.schema(st).parquet(deltas.map(k => s"$dir/b$k"): _*)
  }

  /** True when the family has no uncompacted deltas — callers use it to
    * serve the bucketed snapshot DIRECTLY (preserving its output
    * partitioning) instead of unioning an empty tail (a Union node
    * erases partitioning even over zero extra rows). Same `maxId`
    * visibility rule as [[deltasAfterSnapshot]]. */
  def fullyCompacted(spark: SparkSession, dir: String,
                     maxId: Option[Long] = None): Boolean = {
    val snap = StreamingPipeline.committedSnapshots(spark, dir).maxOption
    StreamingPipeline.listVersions(spark, dir, StreamingPipeline.DeltaName)
      .getOrElse(Seq.empty)
      .filter(k => maxId.forall(k <= _))
      .forall(k => snap.exists(k <= _))
  }
}
