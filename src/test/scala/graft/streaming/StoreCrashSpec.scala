package graft.streaming

import java.nio.file.{Files, Path => JPath, StandardCopyOption}

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** Crash matrix of the one snapshot-publish protocol
  * ([[StreamingPipeline.publishSnapshot]]) through each of its writers —
  * plain and bucketed delta-family folds and [[SoftState]] — under both
  * protocols (rename, and the object-store protocol forced by conf).
  *
  * A clean run of each writer over a pristine store counts its N
  * filesystem mutations ([[FaultFs]]). Then, for every k = 1..N, a copy
  * of the pristine store runs the writer as a process that dies at its
  * k-th mutation, and the spec asserts:
  *   - readers serve exactly the pre-state or the post-state;
  *   - [[StoreFsck]] reports nothing beyond reclaimable residue;
  *   - a re-run converges to the no-crash contents, and once fsck has
  *     reclaimed the residue the store audits as the no-crash one does.
  *
  * The dead process's maintenance lease is expired before the checks,
  * as its TTL would be before anyone re-ran the sweep. */
class StoreCrashSpec extends SparkSpec {
  import spark.implicits._

  FaultFs.register(spark.sparkContext.hadoopConfiguration)

  private val Schema = "doc_id BIGINT, h BIGINT"

  /** A store under test: `build` writes the pristine store at a root,
    * `run` is the writer (and its re-run), `served` what readers see.
    * `parkWindow` is what readers see while an in-place replace has
    * parked the old snapshot and not yet landed the new one. */
  private case class Writer(build: String => Unit, run: String => Unit,
                            served: String => Any, parkWindow: Option[Any] = None)

  /** Delta family `fam` of 6 docs in three deltas, folded to `v=from`,
    * with doc 2 tombstoned; the writer's excluding fold to `v=2` drops
    * it. From `v=2` the fold replaces the snapshot in place. */
  private def family(bucketed: Option[BucketedFamily.BucketSpec],
                     from: Long = 0L): Writer = {
    def fam(root: String) = s"$root/fam"
    Writer(
      build = { root =>
        (0 to 2).foreach { b =>
          Seq((2L * b, 10L * b), (2L * b + 1, 10L * b + 1)).toDF("doc_id", "h")
            .write.parquet(s"${fam(root)}/b$b")
        }
        StreamingPipeline.compactDeltas(spark, fam(root), Schema, from,
          bucketed = bucketed)
        StreamingPipeline.writeTombstones(spark, root, Seq(2L).toDF("id"))
      },
      run = root => StreamingPipeline.compactDeltas(spark, fam(root), Schema, 2L,
        excluding = Some((root, Seq("doc_id"))), bucketed = bucketed),
      served = { root =>
        val newest = StreamingPipeline.committedSnapshots(spark, fam(root)).maxOption
        (newest,
          newest.flatMap(v => BucketedFamily.readSpec(spark, s"${fam(root)}/v=$v")),
          StreamingPipeline.storeContents(spark, fam(root), Schema)
            .as[(Long, Long)].collect().toSet)
      },
      // the boundary snapshot is gone and every delta it covered retired
      parkWindow = if (from == 2L) Some((None, None, Set.empty)) else None)
  }

  /** A two-relation state at `v=0`; the writer publishes `v=1`. */
  private val softState: Writer = {
    def rels(v: Long) = Seq(
      "labels" -> Seq((1L, 1L + v), (2L, 1L)).toDF("doc_id", "cluster_id"),
      "sizes" -> Seq((1L + v, 1L + v)).toDF("cluster_id", "m"))
    def read(root: String, rel: String, ddl: String) =
      SoftState.read(spark, root, rel, ddl).as[(Long, Long)].collect().toSet
    Writer(
      build = root => SoftState.publish(spark, root, 0L, rels(0L)),
      // as the soft-dedup callers do: under the state's lease, fold from
      // the committed version, so a fold that landed is not republished
      run = root => MaintenanceLease.withLease(spark, root) {
        if (SoftState.currentVersion(spark, root).contains(0L))
          SoftState.publish(spark, root, 1L, rels(1L))
      },
      served = root => (SoftState.currentVersion(spark, root),
        read(root, "labels", "doc_id BIGINT, cluster_id BIGINT"),
        read(root, "sizes", "cluster_id BIGINT, m BIGINT")))
  }

  /** Residue a crash may leave: each is reclaimed by the next sweep or by
    * fsck's repair, or (a dead holder's lease) broken by the next sweep. */
  private val Reclaimable = Set("crashed-staging", "uncommitted-snapshot",
    "heal-pending", "superseded-snapshots", "covered-deltas", "stale-lease",
    "lease-break-residue")

  private def audit(root: String, repair: Boolean = false): Set[(String, String, String)] =
    StoreFsck.fsckStore(spark, root, repair)
      .select($"family", $"check", $"severity").as[(String, String, String)]
      .collect().toSet

  private def copyTree(from: JPath, to: JPath): Unit = {
    val walk = Files.walk(from)
    try walk.iterator().asScala.foreach { p =>
      Files.copy(p, to.resolve(from.relativize(p).toString),
        StandardCopyOption.COPY_ATTRIBUTES, StandardCopyOption.REPLACE_EXISTING)
    } finally walk.close()
  }

  /** A dead holder's lease outlives it only until its TTL: expire it. */
  private def expireLeases(local: JPath): Unit = {
    val walk = Files.walk(local)
    try walk.iterator().asScala
      .filter(_.getFileName.toString == MaintenanceLease.LeaseName).toList
      .foreach(p => Files.write(p, "owner=crashed expiresAtMs=0".getBytes("UTF-8")))
    finally walk.close()
  }

  /** Wait until no task of the crashed job still runs, so nothing writes
    * after the crash point once the fault plan is lifted. */
  private def drainTasks(): Unit =
    while (spark.sparkContext.statusTracker.getExecutorInfos
        .exists(_.numRunningTasks > 0)) Thread.sleep(10)

  private def matrix(name: String, w: Writer, objectStore: Boolean): Unit = {
    if (objectStore) spark.conf.set(StreamingPipeline.ForceObjectStoreConf, "true")
    try {
      val base = Files.createTempDirectory("graft_crash_")
      def store(tag: String): (JPath, String) = {
        val local = base.resolve(tag)
        (local, FaultFs.uri(local.toString))
      }
      val (pristine, pristineUri) = store("pristine")
      w.build(pristineUri)
      def fresh(tag: String): (JPath, String) = {
        val s = store(tag)
        copyTree(pristine, s._1)
        s
      }
      val pre = w.served(pristineUri)
      val (_, clean) = fresh("clean")
      val n = FaultFs.count(w.run(clean))
      val post = w.served(clean)
      val cleanAudit = audit(clean)
      assert(pre != post, s"$name: the writer must change what readers see")
      assert(n > 0)
      val allowed = Reclaimable ++ cleanAudit.map(_._2)
      println(s"[crash-matrix] $name: N=$n")
      info(s"N=$n mutations")
      (1 to n).foreach { k =>
        val (local, root) = fresh(s"k$k")
        FaultFs.crashAt(k) { try w.run(root) finally drainTasks() }
        expireLeases(local)
        val seen = w.served(root)
        val residue = audit(root)
        // the in-place replace's one window: readers serve without the
        // boundary until the next sweep's heal, which fsck reports
        assert(seen == pre || seen == post ||
          (w.parkWindow.contains(seen) && residue.exists(_._2 == "heal-pending")),
          s"$name, crash at mutation $k/$n: readers see $seen, neither $pre nor $post")
        assert(residue.forall(f => allowed(f._2) && f._3 != "error"),
          s"$name, crash at mutation $k/$n: fsck reports ${residue.toSeq.sorted}")
        w.run(root)
        assert(w.served(root) == post, s"$name, crash at mutation $k/$n: re-run diverged")
        audit(root, repair = true)
        assert(audit(root) == cleanAudit,
          s"$name, crash at mutation $k/$n: after re-run and repair fsck reports " +
            s"${audit(root).toSeq.sorted}, the clean run ${cleanAudit.toSeq.sorted}")
      }
    } finally spark.conf.unset(StreamingPipeline.ForceObjectStoreConf)
  }

  private val Bucketed = Some(BucketedFamily.BucketSpec(Seq("doc_id"), 2))

  for ((protocol, objectStore) <- Seq("rename" -> false, "object-store" -> true)) {
    test(s"crash matrix: plain family fold, $protocol protocol") {
      matrix(s"plain/$protocol", family(None), objectStore)
    }
    test(s"crash matrix: plain in-place refold, $protocol protocol") {
      matrix(s"plain-in-place/$protocol", family(None, from = 2L), objectStore)
    }
    test(s"crash matrix: bucketed family fold, $protocol protocol") {
      matrix(s"bucketed/$protocol", family(Bucketed), objectStore)
    }
    test(s"crash matrix: SoftState publish, $protocol protocol") {
      matrix(s"softstate/$protocol", softState, objectStore)
    }
  }

  test("verifyPendingAndCompact raises when its backlog swap rename fails") {
    val base = Files.createTempDirectory("graft_crash_backlog_")
    val store = FaultFs.uri(base.resolve("store").toString)
    val out = FaultFs.uri(base.resolve("out").toString)
    // docs 1 and 2 share every shingle hash; doc 9 never arrives
    Seq((1L, 7L), (1L, 8L), (2L, 7L), (2L, 8L)).toDF("doc_id", "h")
      .write.parquet(s"$store/b0")
    Seq((1L, 2L, 0L), (3L, 9L, 0L)).toDF("id_a", "id_b", "first_seen")
      .write.parquet(s"$out/${StreamingPipeline.PendingDirName}/batch=0")
    val err = intercept[IllegalArgumentException] {
      FaultFs.failRenamesOnto(StreamingPipeline.PendingDirName) {
        StreamingPipeline.verifyPendingAndCompact(spark, store, out)
      }
    }
    assert(err.getMessage.contains("rename failed"), err.getMessage)
    // the still-parked pair is not silently dropped: it sits in the
    // staging dir the failed swap left behind
    val staged = new Path(out).getFileSystem(spark.sessionState.newHadoopConf())
      .listStatus(new Path(out)).map(_.getPath.getName)
      .filter(_.contains("staging"))
    assert(staged.length == 1, staged.toSeq)
    assert(spark.read.parquet(s"$out/${staged.head}")
      .select(col("id_a"), col("id_b")).as[(Long, Long)].collect().toSeq == Seq((3L, 9L)))
  }
}
