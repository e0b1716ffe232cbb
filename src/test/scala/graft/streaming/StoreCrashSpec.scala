package graft.streaming

import java.nio.file.{Files, Path => JPath, StandardCopyOption}

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Crash matrix of the one directory-replace protocol
  * ([[StreamingPipeline.replaceDir]]) through each of its writers —
  * plain and bucketed delta-family folds, [[SoftState]], and the near-dup
  * verify output's backlog sweep, TTL expiry and erasure — under both
  * protocols (rename, and the object-store protocol forced by conf).
  *
  * A clean run of each writer over a pristine store counts its N
  * filesystem mutations ([[FaultFs]]). Then, for every k = 1..N, a copy
  * of the pristine store runs the writer as a process that dies at its
  * k-th mutation, and the spec asserts:
  *   - readers serve what the writer's `seen` rule admits: for a store
  *     publish exactly the pre-state or the post-state; for the verify
  *     output every row the clean run keeps (the backlog sweeps run
  *     several replaces, so a crash may land between them);
  *   - either way, anything else is a park window — missing rows only
  *     while fsck reports the parked dir that holds them;
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

  /** `(pre, post, seen, root, fsck checks)` → whether readers may see
    * `seen` after a crash. */
  private type Seen = (Any, Any, Any, String, Set[String]) => Boolean

  /** Exactly the pre- or the post-state, or `parkWindow` — what readers
    * see while an in-place replace has parked the old snapshot and not
    * yet landed the new one — while fsck reports the parked snapshot. */
  private def exactly(parkWindow: Option[Any]): Seen = (pre, post, seen, _, checks) =>
    seen == pre || seen == post || (parkWindow.contains(seen) && checks("heal-pending"))

  /** A store under test: `build` writes the pristine store at a root,
    * `run` is the writer (and its re-run), `served` what readers see,
    * `seen` what they may see after a crash. fsck audits each of
    * `audited` (paths under the root); `live` names findings a crash may
    * leave that the re-run clears. */
  private case class Writer(build: String => Unit, run: String => Unit,
                            served: String => Any, seen: Seen = exactly(None),
                            audited: Seq[String] = Seq(""),
                            live: Set[String] = Set.empty)

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
      seen = exactly(if (from == 2L) Some((None, None, Set.empty)) else None))
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

  /** The near-dup verify output and its shingle store, and `run` over
    * their two roots: docs 1 and 2 share every shingle hash, 4 and 5
    * share none, 3 and 9 never arrive. The output holds one verified
    * partition, the backlog batch 0 of the live stream parked and a dead
    * letter — so every replace the writers make parks a live dir. */
  private def nearDupOutput(live: Set[String] = Set.empty)(
      run: (String, String) => Unit): Writer = Writer(
    build = { root =>
      Seq((1L, 7L), (1L, 8L), (2L, 7L), (2L, 8L), (4L, 40L), (5L, 50L))
        .toDF("doc_id", "h").write.parquet(s"$root/store/b0")
      Seq((6L, 7L, 0.9), (1L, 6L, 0.8)).toDF("id_a", "id_b", "jaccard")
        .write.parquet(s"$root/out/batch=0")
      Seq((1L, 2L, 0L), (3L, 9L, 5L), (4L, 5L, 1L)).toDF("id_a", "id_b", "first_seen")
        .write.parquet(s"$root/out/${StreamingPipeline.PendingDirName}/batch=0")
      Seq((8L, 9L, 0L), (9L, 1L, 0L)).toDF("id_a", "id_b", "first_seen")
        .write.parquet(s"$root/out/${StreamingPipeline.DeadLetterDirName}")
    },
    run = root => run(s"$root/store", s"$root/out"),
    served = { root =>
      def rows(df: DataFrame) = df.collect().map(_.toSeq.toList).toSet
      val out = s"$root/out"
      Map(
        "store" -> rows(StreamingPipeline.contentsExcludingTombstones(spark,
          s"$root/store", Schema, s"$root/store", Seq("doc_id"))),
        "output" -> rows(spark.read.schema("id_a BIGINT, id_b BIGINT, jaccard DOUBLE")
          .parquet(out).select($"id_a", $"id_b", $"jaccard")),
        "backlog" -> rows(StreamingPipeline.pendingCandidates(spark, out)),
        "dead" -> rows(StreamingPipeline.deadLetterCandidates(spark, out)))
    },
    seen = keptOrParked,
    audited = Seq("/store", "/out"),
    live = live)

  /** Every stored doc and every pair the clean run keeps is readable —
    * in whichever relation, as the sweeps move pairs between the
    * backlog, the output and the dead letter (so an expired pair is in
    * the backlog or the dead letter, never in neither) — or sits in a
    * parked dir while fsck reports it. */
  private val keptOrParked: Seen = { (_, post, seen, root, checks) =>
    def keys(view: Any): Set[(String, Any, Any)] =
      view.asInstanceOf[Map[String, Set[List[Any]]]].toSet[(String, Set[List[Any]])]
        .flatMap { case (rel, rows) =>
          rows.map(r => (if (rel == "store") "doc" else "pair", r(0), r(1)))
        }
    val lost = keys(post) -- keys(seen)
    lost.isEmpty || (checks("heal-pending") && lost.subsetOf(parkedPairs(s"$root/out")))
  }

  private def parkedPairs(out: String): Set[(String, Any, Any)] = {
    val fs = new Path(out).getFileSystem(spark.sessionState.newHadoopConf())
    fs.listStatus(new Path(out)).toSeq
      .filter(s => StreamingPipeline.parkedTarget(s.getPath.getName).isDefined)
      .flatMap(s => spark.read.schema("id_a BIGINT, id_b BIGINT").parquet(s.getPath.toString)
        .select($"id_a", $"id_b").collect().map(r => ("pair", r.get(0), r.get(1))))
      .toSet
  }

  private val backlogSweep = nearDupOutput() { (store, out) =>
    StreamingPipeline.verifyPendingAndCompact(spark, store, out)
  }

  private val ttlExpiry = nearDupOutput() { (_, out) =>
    StreamingPipeline.expirePendingToDeadLetter(spark, out, beforeBatch = 3L)
  }

  // a crashed erasure leaves its tombstones registered (serving masks)
  // until the re-run retires them
  private val nearDupErase = nearDupOutput(live = Set("live-tombstones")) { (store, out) =>
    StreamingPipeline.eraseFromNearDupStores(spark, store, out,
      Seq(1L).toDF("doc_id"), uptoVersion = 0L)
  }

  /** Residue a crash may leave: each is reclaimed by the next sweep or by
    * fsck's repair, or (a dead holder's lease) broken by the next sweep. */
  private val Reclaimable = Set("crashed-staging", "uncommitted-snapshot",
    "heal-pending", "superseded-snapshots", "covered-deltas", "stale-lease",
    "lease-break-residue")

  private def audit(w: Writer, root: String,
                    repair: Boolean = false): Set[(String, String, String)] =
    w.audited.flatMap { sub =>
      StoreFsck.fsckStore(spark, s"$root$sub", repair)
        .select($"family", $"check", $"severity").as[(String, String, String)]
        .collect().map { case (f, c, sev) => (s"$sub:$f", c, sev) }
    }.toSet

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
      val cleanAudit = audit(w, clean)
      assert(pre != post, s"$name: the writer must change what readers see")
      assert(n > 0)
      val allowed = Reclaimable ++ w.live ++ cleanAudit.map(_._2)
      println(s"[crash-matrix] $name: N=$n")
      info(s"N=$n mutations")
      (1 to n).foreach { k =>
        val (local, root) = fresh(s"k$k")
        FaultFs.crashAt(k) { try w.run(root) finally drainTasks() }
        expireLeases(local)
        val seen = w.served(root)
        val residue = audit(w, root)
        assert(w.seen(pre, post, seen, root, residue.map(_._2)),
          s"$name, crash at mutation $k/$n: readers see $seen; pre $pre, post $post, " +
            s"fsck ${residue.toSeq.sorted}")
        assert(residue.forall(f => allowed(f._2) && f._3 != "error"),
          s"$name, crash at mutation $k/$n: fsck reports ${residue.toSeq.sorted}")
        w.run(root)
        assert(w.served(root) == post, s"$name, crash at mutation $k/$n: re-run diverged")
        audit(w, root, repair = true)
        assert(audit(w, root) == cleanAudit,
          s"$name, crash at mutation $k/$n: after re-run and repair fsck reports " +
            s"${audit(w, root).toSeq.sorted}, the clean run ${cleanAudit.toSeq.sorted}")
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
    test(s"crash matrix: verifyPendingAndCompact, $protocol protocol") {
      matrix(s"backlog-sweep/$protocol", backlogSweep, objectStore)
    }
    test(s"crash matrix: expirePendingToDeadLetter, $protocol protocol") {
      matrix(s"ttl-expiry/$protocol", ttlExpiry, objectStore)
    }
    test(s"crash matrix: eraseFromNearDupStores, $protocol protocol") {
      matrix(s"neardup-erase/$protocol", nearDupErase, objectStore)
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
    // a plain re-run restores the parked backlog before reading it
    StreamingPipeline.verifyPendingAndCompact(spark, store, out)
    assert(StreamingPipeline.pendingCandidates(spark, out)
      .select(col("id_a"), col("id_b")).as[(Long, Long)].collect().toSeq == Seq((3L, 9L)))
  }
}
