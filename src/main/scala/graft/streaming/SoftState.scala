package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** MULTI-RELATION versioned snapshot store — the persistence protocol
  * for cluster states whose correctness spans more than one relation.
  *
  * The soft-dedup cluster state is (labels, sizes): two relations that
  * are only meaningful TOGETHER (weights read sizes through labels — a
  * labels relation from fold N next to a sizes relation from fold N−1
  * yields silently wrong multiplicities on restart). Two independent
  * `write.mode("overwrite")` parquet writes cannot provide that: a crash
  * between the writes lands torn, and overwrite itself is
  * delete-then-write (a crash mid-write loses BOTH the old and the new
  * relation). This store publishes every fold as ONE `v=<n>` snapshot
  * directory holding all member relations as subdirectories, through
  * the delta stores' [[StreamingPipeline.publishSnapshot]] protocol: a
  * crash anywhere leaves the previous version serving, never a torn
  * state.
  *
  * Folds are MONOTONIC (each publish is `currentVersion + 1`, never an
  * in-place replace), so the previous snapshot is still on disk while
  * the staging write EXECUTES the fold plan that reads it — no
  * localCheckpoint lineage cut is needed between fold and write, which
  * is also what keeps fold cost new-edge-sized instead of pinning a
  * cluster-state copy in block storage per fold. Superseded versions
  * are retired only after the new one is committed.
  *
  * Every publish runs under the directory's [[MaintenanceLease]] (two
  * concurrent folds would both read v=N and race their v=N+1 staging),
  * which the protocol's fence checks. The member-relation names are
  * stamped once in [[RelationsMarker]] so [[StoreFsck]] can audit a snapshot for
  * completeness (a torn state is impossible under this protocol's crash
  * model, but an operator hand-deleting a subdirectory — the incident
  * class fsck exists for — is detectable and reported as an error). */
object SoftState {

  /** Stamp file naming the member relations of every snapshot, comma-
    * separated — fsck's completeness contract for this family. */
  val RelationsMarker = "_graft_relations"

  /** Newest committed snapshot version, None before the first fold. */
  def currentVersion(spark: SparkSession, dir: String): Option[Long] =
    StreamingPipeline.committedSnapshots(spark, dir).maxOption

  /** The stamped member-relation names, None if never stamped. */
  def stampedRelations(spark: SparkSession, dir: String): Option[Seq[String]] = {
    val p = new Path(new Path(dir), RelationsMarker)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val s =
        try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
        finally in.close()
      Some(s.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    }
  }

  /** Publish `rels` as the single atomic snapshot `v=<version>`.
    * `version` must be exactly one past [[currentVersion]] (monotonic
    * folds — an in-place replace here would mean two writers raced).
    * The staging write is what EXECUTES the callers' fold plans, so
    * those plans may lazily read the previous snapshot. */
  def publish(spark: SparkSession, dir: String, version: Long,
              rels: Seq[(String, DataFrame)]): Unit =
    MaintenanceLease.withLease(spark, dir) {
      require(rels.nonEmpty, "softstate publish: no relations")
      val base = new Path(dir)
      val fs = base.getFileSystem(spark.sessionState.newHadoopConf())
      val prior = currentVersion(spark, dir)
      require(prior.forall(_ == version - 1) && (prior.nonEmpty || version == 0L),
        s"softstate publish: version $version is not one past committed " +
          s"${prior.getOrElse("<none>")} — concurrent folds raced, or the " +
          "caller resumed from stale state")
      stampedRelations(spark, dir) match {
        case None =>
          fs.mkdirs(base)
          val out = fs.create(new Path(base, RelationsMarker), true)
          try out.write(rels.map(_._1).mkString(",").getBytes("UTF-8"))
          finally out.close()
        case Some(stamped) =>
          require(stamped.toSet == rels.map(_._1).toSet,
            s"softstate publish: relations ${rels.map(_._1).mkString(",")} " +
              s"do not match the stamped family ${stamped.mkString(",")}")
      }
      StreamingPipeline.publishSnapshot(spark, dir, version) { p =>
        rels.foreach { case (name, df) =>
          df.write.mode("overwrite").parquet(new Path(p, name).toString)
        }
      }
      // retire superseded snapshots — AFTER commit, and only committed
      // ones below the new version (the staging write above already
      // executed every plan that read them)
      StreamingPipeline.committedSnapshots(spark, dir)
        .filter(_ < version)
        .foreach(v => fs.delete(new Path(base, s"v=$v"), true))
    }

  /** Read one member relation of the newest committed snapshot;
    * an empty frame of `schemaDdl` before the first fold. */
  def read(spark: SparkSession, dir: String, rel: String,
           schemaDdl: String): DataFrame =
    currentVersion(spark, dir) match {
      case Some(v) =>
        spark.read.schema(schemaDdl).parquet(s"$dir/v=$v/$rel")
      case None =>
        spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](),
          org.apache.spark.sql.types.StructType.fromDDL(schemaDdl))
    }
}
