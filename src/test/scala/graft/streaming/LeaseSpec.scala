package graft.streaming

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Single-writer enforcement for the delta-store maintenance sweeps —
  * the MaintenanceLease contract: mutual exclusion between concurrent
  * sweeps (loud refusal, store intact), crashed-holder TTL break,
  * same-thread re-entrancy for the composed sweeps, and the lost-lease
  * loud path. */
class LeaseSpec extends SparkSpec {
  import spark.implicits._

  private def freshStore(): String = {
    val dir = Files.createTempDirectory("graft_lease_store_").toString
    // two deltas of a toy (doc_id, h) family, the shingle-store shape
    Seq((1L, 10L), (2L, 20L)).toDF("doc_id", "h")
      .write.mode("overwrite").parquet(s"$dir/b0")
    Seq((3L, 30L)).toDF("doc_id", "h")
      .write.mode("overwrite").parquet(s"$dir/b1")
    dir
  }
  private val Schema = "doc_id BIGINT, h BIGINT"

  test("concurrent sweeps of one family: exactly one wins, loser refuses loudly, store serves correctly") {
    val dir = freshStore()
    val inBody = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    @volatile var winnerFailure: Throwable = null
    val holder = new Thread(() => {
      try MaintenanceLease.withLease(spark, dir) {
        inBody.countDown()
        assert(release.await(30, TimeUnit.SECONDS), "test deadlock")
      } catch { case t: Throwable => winnerFailure = t }
    })
    holder.start()
    assert(inBody.await(30, TimeUnit.SECONDS), "holder never acquired")
    // the racing sweep refuses without touching the store
    val refused = intercept[MaintenanceLease.LeaseHeldException] {
      StreamingPipeline.compactDeltas(spark, dir, Schema, 1L)
    }
    assert(refused.getMessage.contains(dir))
    release.countDown()
    holder.join(30000)
    assert(winnerFailure == null, s"holder failed: $winnerFailure")
    // after the holder releases, the sweep proceeds and the fold is right
    StreamingPipeline.compactDeltas(spark, dir, Schema, 1L)
    val rows = StreamingPipeline.storeContents(spark, dir, Schema)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.toSeq == Seq((1L, 10L), (2L, 20L), (3L, 30L)))
  }

  test("expired lease of a crashed holder is broken; unexpired foreign lease refuses with the holder") {
    val dir = freshStore()
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def plant(token: String): Unit = {
      val p = new org.apache.hadoop.fs.Path(dir, MaintenanceLease.LeaseName)
      fs.delete(p, false)
      val out = fs.create(p, true)
      try out.write(token.getBytes("UTF-8")) finally out.close()
    }
    // unexpired foreign lease -> loud refusal naming the holder
    plant(s"owner=crashed-job-42 expiresAtMs=${System.currentTimeMillis() + 600000}")
    val held = intercept[MaintenanceLease.LeaseHeldException] {
      StreamingPipeline.compactDeltas(spark, dir, Schema, 1L)
    }
    assert(held.owner == "crashed-job-42")
    // expired lease (crashed holder) -> broken, sweep proceeds
    plant(s"owner=crashed-job-42 expiresAtMs=${System.currentTimeMillis() - 1000}")
    StreamingPipeline.compactDeltas(spark, dir, Schema, 1L)
    assert(StreamingPipeline.storeContents(spark, dir, Schema).count() == 3)
    // the winning sweep released its own lease on the way out
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir, MaintenanceLease.LeaseName)))
  }

  test("re-entrant under the composed erasure: eraseFromStore holds the root while family folds re-acquire") {
    val root = Files.createTempDirectory("graft_lease_root_").toString
    Seq((1L, 10L), (2L, 20L)).toDF("doc_id", "h")
      .write.mode("overwrite").parquet(s"$root/fam/b0")
    StreamingPipeline.stampFamilies(spark, root, Seq("fam"))
    // nested acquisition: root lease (eraseFromStore) + fam-dir lease
    // (excluding compactDeltas) + root lease again (retireTombstones)
    StreamingPipeline.eraseFromStore(spark, root,
      Seq(2L).toDF("doc_id"),
      Seq(StreamingPipeline.StoreFamily("fam", "doc_id BIGINT, h BIGINT",
        Seq("doc_id"))),
      uptoVersion = 0L)
    val left = StreamingPipeline.storeContents(spark, s"$root/fam", Schema)
      .select("doc_id").as[Long].collect().toSeq
    assert(left == Seq(1L))
    // no lease files left behind anywhere
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root, MaintenanceLease.LeaseName)))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/fam", MaintenanceLease.LeaseName)))
  }

  test("a sweep that outlives its TTL and loses the lease fails loudly at release — and RESTORES the usurper's live lease") {
    val dir = freshStore()
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val p = new org.apache.hadoop.fs.Path(dir, MaintenanceLease.LeaseName)
    val lost = intercept[MaintenanceLease.LeaseLostException] {
      MaintenanceLease.withLease(spark, dir, ttlMs = 1L) {
        Thread.sleep(5)
        // a second writer breaks the now-expired lease and takes over
        MaintenanceLease.withLease(spark, s"$dir/elsewhere") {} // unrelated, proves nesting unaffected
        fs.delete(p, false)
        val out = fs.create(p, true)
        try out.write("owner=usurper expiresAtMs=9999999999999".getBytes("UTF-8"))
        finally out.close()
      }
    }
    assert(lost.getMessage.contains("usurper"))
    // release must NOT have destroyed the usurper's live lease (the old
    // read-then-delete release had exactly that race): it is restored
    val restored = new String(org.apache.commons.io.IOUtils.toByteArray(
      fs.open(p)), "UTF-8")
    assert(restored.contains("owner=usurper"),
      s"usurper's live lease destroyed by the loser's release: '$restored'")
    // and no sidelines left behind
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(dir)).toSeq
      .forall(s => !s.getPath.getName.contains(".release.")))
  }

  test("fence guards descendants: a root-leased sweep's publish into a SUBDIR is refused after usurpation") {
    val root = freshStore()
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    import spark.implicits._
    val contents = Seq((1L, 10L)).toDF("doc_id", "h")
    intercept[MaintenanceLease.LeaseLostException] {
      MaintenanceLease.withLease(spark, root, ttlMs = 1L) {
        Thread.sleep(5)
        val p = new org.apache.hadoop.fs.Path(root, MaintenanceLease.LeaseName)
        fs.delete(p, false)
        val out = fs.create(p, true)
        try out.write("owner=usurper expiresAtMs=9999999999999".getBytes("UTF-8"))
        finally out.close()
        // the annRebandSweep shape: lease at the store ROOT, snapshot
        // published into a nested family dir — must still be fenced
        val fenced = intercept[MaintenanceLease.LeaseLostException] {
          StreamingPipeline.publishSnapshot(spark, s"$root/bands", contents, 0L)
        }
        assert(fenced.getMessage.contains("usurper"))
        assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/bands", "v=0")))
      }
    }
  }

  test("corrupt or empty lease bodies are retried then broken — acquire never crashes, never kills a live lease instantly") {
    val dir = freshStore()
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val p = new org.apache.hadoop.fs.Path(dir, MaintenanceLease.LeaseName)
    def plant(body: String): Unit = {
      fs.delete(p, false)
      val out = fs.create(p, true)
      try out.write(body.getBytes("UTF-8")) finally out.close()
    }
    // unparseable expiry: bounded retries, then adjudicated corrupt and
    // broken — the sweep proceeds instead of throwing NumberFormatException
    plant("owner=x expiresAtMs=not-a-number")
    StreamingPipeline.compactDeltas(spark, dir, Schema, 1L)
    assert(StreamingPipeline.storeContents(spark, dir, Schema).count() == 3)
    assert(!fs.exists(p))
    // empty body (an in-flight create's visible-but-unwritten window):
    // same posture — and crucially NOT treated as expired-at-epoch-0
    plant("")
    MaintenanceLease.withLease(spark, dir) {}
    assert(!fs.exists(p))
    // no sideline residue left behind by the breaks
    val residue = fs.listStatus(new org.apache.hadoop.fs.Path(dir)).toSeq
      .map(_.getPath.getName).filter(_.contains(".broken."))
    assert(residue.isEmpty, residue.toString)
  }

  test("fence: a stalled holder whose lease was usurped is refused at publishSnapshot, before the rename") {
    val dir = freshStore()
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    import spark.implicits._
    val contents = Seq((1L, 10L)).toDF("doc_id", "h")
    val outer = intercept[MaintenanceLease.LeaseLostException] {
      MaintenanceLease.withLease(spark, dir, ttlMs = 1L) {
        Thread.sleep(5)
        // a competing sweep TTL-breaks the expired lease and holds its own
        val p = new org.apache.hadoop.fs.Path(dir, MaintenanceLease.LeaseName)
        fs.delete(p, false)
        val out = fs.create(p, true)
        try out.write("owner=usurper expiresAtMs=9999999999999".getBytes("UTF-8"))
        finally out.close()
        // the stalled holder's late publish is refused by the fence...
        val fenced = intercept[MaintenanceLease.LeaseLostException] {
          StreamingPipeline.publishSnapshot(spark, dir, contents, 0L)
        }
        assert(fenced.getMessage.contains("usurper"))
        // ...and nothing was published (the staging write ran; the
        // versioned rename did not)
        assert(!fs.exists(new org.apache.hadoop.fs.Path(dir, "v=0")))
      }
    }
    assert(outer.getMessage.contains("usurper")) // release also reports the loss
    // without a held lease, publish is un-fenced (initial seeds etc.)
    StreamingPipeline.publishSnapshot(spark, dir, contents, 0L)
    assert(fs.exists(new org.apache.hadoop.fs.Path(dir, "v=0")))
  }

  test("fence on the object-store protocol: refused before the commit marker lands") {
    val dir = freshStore()
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    import spark.implicits._
    val contents = Seq((1L, 10L)).toDF("doc_id", "h")
    intercept[MaintenanceLease.LeaseLostException] {
      MaintenanceLease.withLease(spark, dir, ttlMs = 1L) {
        Thread.sleep(5)
        val p = new org.apache.hadoop.fs.Path(dir, MaintenanceLease.LeaseName)
        fs.delete(p, false)
        val out = fs.create(p, true)
        try out.write("owner=usurper expiresAtMs=9999999999999".getBytes("UTF-8"))
        finally out.close()
        spark.conf.set(StreamingPipeline.ForceObjectStoreConf, "true")
        try intercept[MaintenanceLease.LeaseLostException] {
          StreamingPipeline.publishSnapshot(spark, dir, contents, 0L)
        } finally spark.conf.unset(StreamingPipeline.ForceObjectStoreConf)
        // the direct write landed bytes but the COMMIT MARKER did not —
        // committedSnapshots must not serve the fenced partial
        assert(!fs.exists(new org.apache.hadoop.fs.Path(dir,
          s"v=0/${StreamingPipeline.CommitMarkerName}")))
      }
    }
  }

  test("8-way stress: N threads race one store; exactly one holds at a time, every sweep or refusal is accounted") {
    val dir = freshStore()
    val inBody = new java.util.concurrent.atomic.AtomicInteger(0)
    val maxConcurrent = new java.util.concurrent.atomic.AtomicInteger(0)
    val wins = new java.util.concurrent.atomic.AtomicInteger(0)
    val refusals = new java.util.concurrent.atomic.AtomicInteger(0)
    val other = new java.util.concurrent.atomic.AtomicInteger(0)
    val threads = (1 to 8).map { _ =>
      new Thread(() => {
        try {
          MaintenanceLease.withLease(spark, dir) {
            val c = inBody.incrementAndGet()
            maxConcurrent.updateAndGet(m => math.max(m, c))
            Thread.sleep(25)
            inBody.decrementAndGet()
          }
          wins.incrementAndGet()
        } catch {
          case _: MaintenanceLease.LeaseHeldException => refusals.incrementAndGet()
          case _: Throwable => other.incrementAndGet()
        }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join(30000))
    assert(maxConcurrent.get() == 1, s"lease admitted ${maxConcurrent.get()} concurrent holders")
    assert(other.get() == 0, "unexpected exception class under contention")
    assert(wins.get() >= 1, "nobody acquired")
    assert(wins.get() + refusals.get() == 8, "a thread vanished")
    // the lease is released after the dust settles
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir, MaintenanceLease.LeaseName)))
  }

  test("a failing body does not mask its own error with the lease release") {
    val dir = freshStore()
    val boom = intercept[IllegalStateException] {
      MaintenanceLease.withLease(spark, dir) {
        throw new IllegalStateException("body failure")
      }
    }
    assert(boom.getMessage == "body failure")
    // and the lease was still released
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir, MaintenanceLease.LeaseName)))
  }
}
