package graft.streaming

import java.nio.file.Files

import graft.SparkSpec
import org.apache.hadoop.fs.Path

/** StoreFsck: each protocol residue / broken invariant planted in a real
  * store layout must surface as exactly the documented finding, and the
  * audit must be read-only (byte-identical store before/after). */
class FsckSpec extends SparkSpec {
  import spark.implicits._

  private val Schema = "doc_id BIGINT, h BIGINT"

  private def fs = new Path("/tmp").getFileSystem(
    spark.sessionState.newHadoopConf())

  private def mkStore(): String = {
    val dir = Files.createTempDirectory("graft_fsck_").toString
    Seq((1L, 10L), (2L, 20L)).toDF("doc_id", "h")
      .write.mode("overwrite").parquet(s"$dir/b0")
    Seq((3L, 30L)).toDF("doc_id", "h")
      .write.mode("overwrite").parquet(s"$dir/b1")
    dir
  }

  /** Where the replace protocol parks `target` of `dir`. */
  private def parked(dir: String, target: String): Path =
    StreamingPipeline.sibling(StreamingPipeline.ParkedPrefix, new Path(dir, target))

  private def findings(root: String): Seq[(String, String, String)] =
    StoreFsck.fsckStore(spark, root)
      .select($"family", $"check", $"severity")
      .as[(String, String, String)].collect().toSeq

  test("a freshly compacted store audits clean; pre-compaction residue is info-only") {
    val dir = mkStore()
    // before any compaction: deltas but no snapshot — nothing to report
    assert(findings(dir).map(_._2) == Seq("clean"))
    StreamingPipeline.compactDeltas(spark, dir, Schema, 1L)
    assert(findings(dir).map(_._2) == Seq("clean"))
    // plant a covered delta (sweep crashed between publish and retire)
    Seq((9L, 90L)).toDF("doc_id", "h")
      .write.mode("overwrite").parquet(s"$dir/b0")
    val f = findings(dir)
    assert(f.exists(x => x._2 == "covered-deltas" && x._3 == "info"), f.toString)
    assert(!f.exists(_._3 == "error"))
  }

  test("crashed in-place replace (parked snapshot) and staging residue are flagged") {
    val dir = mkStore()
    StreamingPipeline.compactDeltas(spark, dir, Schema, 1L)
    fs.mkdirs(parked(dir, "v=1"))
    fs.mkdirs(new Path(dir, "_compact_staging_v2"))
    val f = findings(dir)
    assert(f.exists(x => x._2 == "heal-pending" && x._3 == "warn"), f.toString)
    assert(f.exists(x => x._2 == "crashed-staging" && x._3 == "info"), f.toString)
  }

  test("residue of the builds before the directory-replace protocol stays healed") {
    // literal names those builds left: a snapshot parked by the
    // per-snapshot protocol, its staging, and the verify output's swap
    // staging
    val dir = mkStore()
    StreamingPipeline.compactDeltas(spark, dir, Schema, 1L)
    assert(fs.rename(new Path(dir, "v=1"), new Path(dir, "_compact_replaced_v1")))
    fs.mkdirs(new Path(dir, "_compact_staging_v1"))
    fs.mkdirs(new Path(dir, "_graft_swap_staging__pending"))
    val f = findings(dir)
    assert(f.contains(("<root>", "heal-pending", "warn")), f.toString)
    assert(f.count(_._2 == "crashed-staging") == 2, f.toString)
    // the next sweep restores the parked snapshot rather than deleting it
    StreamingPipeline.compactDeltas(spark, dir, Schema, 1L)
    assert(fs.exists(new Path(dir, "v=1")))
    assert(!fs.exists(new Path(dir, "_compact_replaced_v1")))
    assert(StreamingPipeline.storeContents(spark, dir, Schema).count() == 3)
    StoreFsck.fsckStore(spark, dir, repair = true).collect()
    assert(findings(dir).map(_._2) == Seq("clean"))
  }

  test("a legacy swap staging dir that is its target's only copy is restored, not deleted") {
    // the verify output as a crash of the old swap left it: `_pending`
    // and `batch=7` deleted after their staging was written in full; the
    // names are the literal ones that build wrote
    val out = Files.createTempDirectory("graft_fsck_swap_").toString
    Seq((1L, 2L, 0.9)).toDF("id_a", "id_b", "jaccard").write.parquet(s"$out/batch=3")
    Seq((1L, 2L, 0.9), (4L, 5L, 0.8)).toDF("id_a", "id_b", "jaccard")
      .write.parquet(s"$out/_graft_swap_staging_batch_7")
    Seq((6L, 7L, 2L)).toDF("id_a", "id_b", "first_seen")
      .write.parquet(s"$out/_graft_swap_staging__pending")
    // a swap whose target survived: its staging is residue
    Seq((8L, 9L, 0.7)).toDF("id_a", "id_b", "jaccard")
      .write.parquet(s"$out/_graft_swap_staging_batch_3")
    val f = findings(out)
    assert(f.count(_ == (("<root>", "crashed-staging", "warn"))) == 2, f.toString)
    assert(f.count(_ == (("<root>", "crashed-staging", "info"))) == 1, f.toString)
    val repaired = StoreFsck.fsckStore(spark, out, repair = true)
      .filter($"check" === "crashed-staging").select($"repaired").as[Boolean].collect()
    assert(repaired.toSeq == Seq(true, true, true))
    assert(spark.read.parquet(s"$out/batch=7").count() == 2)
    assert(StreamingPipeline.pendingCandidates(spark, out)
      .as[(Long, Long, Long)].collect().toSeq == Seq((6L, 7L, 2L)))
    assert(spark.read.parquet(s"$out/batch=3").as[(Long, Long, Double)]
      .collect().toSeq == Seq((1L, 2L, 0.9)))
    assert(!fs.listStatus(new Path(out)).exists(_.getPath.getName.startsWith("_graft_swap_staging_")))
    assert(findings(out).map(_._2) == Seq("clean"))
  }

  test("tombstone high-water behind the max delta id is an error; live tombstones are info") {
    val dir = mkStore()
    val tid = StreamingPipeline.writeTombstones(spark, dir, Seq(2L).toDF("id"))
    var f = findings(dir)
    assert(f.exists(x => x._1 == "tombstones" && x._2 == "live-tombstones"), f.toString)
    assert(!f.exists(_._2 == "highwater-behind"))
    // simulate the crash window: delta exists, marker never updated
    fs.delete(new Path(dir, s"tombstones/${StreamingPipeline.TombstoneHighWaterFile}"), false)
    f = findings(dir)
    assert(f.exists(x => x._2 == "highwater-behind" && x._3 == "error"), f.toString)
    assert(tid == 0L)
  }

  test("families stamp drift: missing stamped family is an error, unstamped family dir a warn") {
    val root = Files.createTempDirectory("graft_fsck_root_").toString
    Seq((1L, 10L)).toDF("doc_id", "h").write.parquet(s"$root/fam/b0")
    Seq((1L, 10L)).toDF("doc_id", "h").write.parquet(s"$root/extra/b0")
    StreamingPipeline.stampFamilies(spark, root, Seq("fam", "ghost"))
    val f = findings(root)
    assert(f.contains(("ghost", "stamped-family-missing", "error")), f.toString)
    assert(f.contains(("extra", "family-not-stamped", "warn")), f.toString)
  }

  test("lease states: active is info, expired is warn") {
    val dir = mkStore()
    def plant(expiry: Long): Unit = {
      val p = new Path(dir, MaintenanceLease.LeaseName)
      fs.delete(p, false)
      val out = fs.create(p, true)
      try out.write(s"owner=x expiresAtMs=$expiry".getBytes("UTF-8"))
      finally out.close()
    }
    plant(System.currentTimeMillis() + 600000)
    assert(findings(dir).contains(("<root>", "active-lease", "info")))
    plant(System.currentTimeMillis() - 1000)
    assert(findings(dir).contains(("<root>", "stale-lease", "warn")))
  }

  test("corrupt/empty lease bodies surface as lease-unreadable, never abort the audit") {
    val dir = mkStore()
    val p = new Path(dir, MaintenanceLease.LeaseName)
    def plantRaw(body: String): Unit = {
      fs.delete(p, false)
      val out = fs.create(p, true)
      try out.write(body.getBytes("UTF-8")) finally out.close()
    }
    plantRaw("owner=x expiresAtMs=garbage")
    var f = findings(dir)
    assert(f.contains(("<root>", "lease-unreadable", "warn")), f.toString)
    plantRaw("")
    f = findings(dir)
    assert(f.contains(("<root>", "lease-unreadable", "warn")), f.toString)
    fs.delete(p, false)
  }

  test("stale root and tombstones leases are reported even when the root is not a family") {
    val root = Files.createTempDirectory("graft_fsck_rootlease_").toString
    Seq((1L, 10L)).toDF("doc_id", "h").write.parquet(s"$root/fam/b0")
    StreamingPipeline.writeTombstones(spark, root, Seq(2L).toDF("id"))
    def plant(dir: String): Unit = {
      val p = new Path(dir, MaintenanceLease.LeaseName)
      val out = fs.create(p, true)
      try out.write(s"owner=dead expiresAtMs=${System.currentTimeMillis() - 1000}"
        .getBytes("UTF-8"))
      finally out.close()
    }
    plant(root) // a crashed composed erasure's root lease
    plant(s"$root/tombstones")
    val f = findings(root)
    assert(f.contains(("<root>", "stale-lease", "warn")), f.toString)
    assert(f.contains(("tombstones", "stale-lease", "warn")), f.toString)
  }

  test("repair mode heals each benign finding and re-audits clean; error findings are refused") {
    val dir = mkStore()
    StreamingPipeline.compactDeltas(spark, dir, Schema, 1L)
    // plant the benign set: covered delta, crashed staging, parked
    // snapshot whose replacement landed, lease-break sideline
    Seq((9L, 90L)).toDF("doc_id", "h")
      .write.mode("overwrite").parquet(s"$dir/b0")
    fs.mkdirs(new Path(dir, "_compact_staging_v9"))
    fs.mkdirs(parked(dir, "v=1"))
    val sideline = new Path(dir, s"${MaintenanceLease.LeaseName}.broken.test")
    fs.create(sideline, true).close()
    // and one error-class finding: tombstone high-water behind
    StreamingPipeline.writeTombstones(spark, dir, Seq(2L).toDF("id"))
    fs.delete(new Path(dir,
      s"tombstones/${StreamingPipeline.TombstoneHighWaterFile}"), false)

    val repaired = StoreFsck.fsckStore(spark, dir, repair = true)
      .select($"check", $"severity", $"repaired")
      .as[(String, String, Boolean)].collect().toSeq
    Seq("covered-deltas", "crashed-staging", "heal-pending",
        "lease-break-residue").foreach { c =>
      assert(repaired.contains((c, if (c == "heal-pending") "warn" else "info", true)),
        s"$c not repaired: $repaired")
    }
    // the error class is reported but NOT acted on
    assert(repaired.exists(x => x._1 == "highwater-behind" && !x._3), repaired.toString)
    // physical state: residue gone, snapshot intact, tombstones untouched
    assert(!fs.exists(new Path(dir, "b0")))
    assert(!fs.exists(new Path(dir, "_compact_staging_v9")))
    assert(!fs.exists(parked(dir, "v=1")))
    assert(!fs.exists(sideline))
    assert(fs.exists(new Path(dir, "v=1")))
    // re-audit: only the refused error class (and its live-tombstones
    // companion) remain
    val after = findings(dir).map(_._2).toSet
    assert(after == Set("highwater-behind", "live-tombstones"), after.toString)
    // no repair lease left behind
    assert(!fs.exists(new Path(dir, MaintenanceLease.LeaseName)))
  }

  test("repair restores a parked snapshot whose replacement is missing") {
    val dir = mkStore()
    StreamingPipeline.compactDeltas(spark, dir, Schema, 1L)
    // simulate the crash: park v=1 with no replacement landing
    assert(fs.rename(new Path(dir, "v=1"),
      parked(dir, "v=1")))
    StoreFsck.fsckStore(spark, dir, repair = true).collect()
    assert(fs.exists(new Path(dir, "v=1")), "parked snapshot not restored")
    assert(StreamingPipeline.storeContents(spark, dir, Schema).count() == 3)
    assert(findings(dir).map(_._2) == Seq("clean"))
  }

  test("repair skips a family whose lease is actively held, without blocking") {
    val dir = mkStore()
    fs.mkdirs(new Path(dir, "_compact_staging_v9"))
    MaintenanceLease.withLease(spark, dir) {
      // audit runs fine; repair is refused for this family (held lease)
      // from ANOTHER logical sweep's perspective — simulate by running
      // fsck on a fresh thread (the lease is thread-reentrant)
      var res: Seq[(String, Boolean)] = Seq.empty
      val t = new Thread(() => {
        res = StoreFsck.fsckStore(spark, dir, repair = true)
          .select($"check", $"repaired").as[(String, Boolean)]
          .collect().toSeq
      })
      t.start(); t.join(60000)
      assert(res.exists(x => x._1 == "crashed-staging" && !x._2), res.toString)
      assert(fs.exists(new Path(dir, "_compact_staging_v9")))
    }
    // after release, repair proceeds
    StoreFsck.fsckStore(spark, dir, repair = true).collect()
    assert(!fs.exists(new Path(dir, "_compact_staging_v9")))
  }

  test("uncommitted snapshot is flagged under object-store semantics and the audit is read-only") {
    val dir = mkStore()
    fs.mkdirs(new Path(dir, "v=0")) // markerless partial
    spark.conf.set(StreamingPipeline.ForceObjectStoreConf, "true")
    try {
      val f = findings(dir)
      assert(f.exists(x => x._2 == "uncommitted-snapshot" && x._3 == "warn"), f.toString)
    } finally spark.conf.unset(StreamingPipeline.ForceObjectStoreConf)
    // rename protocol: same dir reads as a legacy pre-marker snapshot
    val f2 = findings(dir)
    assert(f2.exists(x => x._2 == "legacy-unmarked-snapshot" && x._3 == "info"), f2.toString)
    // read-only: the partial must still exist, untouched
    assert(fs.exists(new Path(dir, "v=0")))
  }

  test("soft-state: a torn snapshot (missing member relation) is an error; repair refuses it") {
    val dir = Files.createTempDirectory("graft_fsck_soft_").toString
    SoftState.publish(spark, dir, 0L, Seq(
      "labels" -> Seq((1L, 1L)).toDF("doc_id", "cluster_id"),
      "sizes" -> Seq((1L, 1L)).toDF("cluster_id", "m")))
    assert(findings(dir).map(_._2) == Seq("clean"))
    // the protocol cannot land torn — plant the INCIDENT class fsck
    // exists for: a hand-deleted member relation in a committed snapshot
    fs.delete(new Path(dir, "v=0/sizes"), true)
    val f = findings(dir)
    assert(f.exists(x => x._2 == "torn-state" && x._3 == "error"), f.toString)
    // error class: repair must refuse (no guessed heal), the finding stays
    val rep = StoreFsck.fsckStore(spark, dir, repair = true)
      .select($"check", $"repaired").as[(String, Boolean)].collect().toSeq
    assert(rep.exists(x => x._1 == "torn-state" && !x._2), rep.toString)
  }

  test("soft-state: a kill mid-publish leaves the previous fold serving and the re-run heals") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft_fsck_softkill_").toString
    def labels(v: Long) = Seq((1L, 1L), (v + 10L, 1L)).toDF("doc_id", "cluster_id")
    def sizes(v: Long) = Seq((1L, v + 2L)).toDF("cluster_id", "m")
    SoftState.publish(spark, dir, 0L, Seq("labels" -> labels(0), "sizes" -> sizes(0)))
    // simulate a crash between the two relations of fold 1: staging holds
    // labels only, no marker, no rename — the exact window that used to
    // land TORN under bare overwrite writes
    labels(1).write.parquet(new Path(StreamingPipeline.sibling(
      StreamingPipeline.StagingPrefix, new Path(dir, "v=1")), "labels").toString)
    // reads still serve fold 0, both relations consistent
    assert(SoftState.currentVersion(spark, dir).contains(0L))
    assert(SoftState.read(spark, dir, "sizes", "cluster_id BIGINT, m BIGINT")
      .select(col("m")).as[Long].head() == 2L)
    // fsck sees only benign staging residue, no error
    val f = findings(dir)
    assert(f.exists(_._2 == "crashed-staging") && !f.exists(_._3 == "error"),
      f.toString)
    // the re-run of the same fold overwrites the residue and commits both
    SoftState.publish(spark, dir, 1L, Seq("labels" -> labels(1), "sizes" -> sizes(1)))
    assert(SoftState.currentVersion(spark, dir).contains(1L))
    assert(SoftState.read(spark, dir, "sizes", "cluster_id BIGINT, m BIGINT")
      .select(col("m")).as[Long].head() == 3L)
    assert(findings(dir).map(_._2) == Seq("clean"))
    // non-monotonic publish (stale caller) is refused loudly
    intercept[IllegalArgumentException] {
      SoftState.publish(spark, dir, 1L, Seq("labels" -> labels(1), "sizes" -> sizes(1)))
    }
    // relation-set drift is refused loudly
    intercept[IllegalArgumentException] {
      SoftState.publish(spark, dir, 2L, Seq("labels" -> labels(2)))
    }
  }
}
