package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Consistency audit (`fsck`) for the delta stores — the operational
  * complement of the write-side protocols: every marker, staging dir,
  * and retention state those protocols can leave behind is individually
  * self-healing, but an operator staring at a store directory after an
  * incident has had no way to tell "benign residue the next sweep
  * reclaims" from "a condition that needs action". This walks a store
  * root and reports findings with a severity:
  *
  *   - `error` — an invariant is broken; serving may be wrong or a
  *     sweep will refuse (act before the next maintenance window);
  *   - `warn`  — self-healing state that nevertheless signals an
  *     incident (a crashed in-place replace awaiting heal, a stale
  *     lease from a dead sweep, an uncommitted partial on an object
  *     store);
  *   - `info`  — expected protocol residue (covered deltas and
  *     superseded snapshots awaiting retirement, legacy pre-marker
  *     snapshots, an active lease).
  *
  * The default audit is STRICTLY read-only (safe against a LIVE store
  * under active writers; a finding observed mid-write is at worst
  * transiently stale, never harmful — the lease read below is guarded
  * so a lease released mid-audit cannot abort it). With `repair = true`
  * the audit additionally APPLIES the repairs it already knows are
  * benign — exactly what the next sweep's entry pass would do, taken
  * under the same [[MaintenanceLease]] so it cannot interleave with a
  * real sweep:
  *
  *   - `heal-pending`, `uncommitted-snapshot`, `covered-deltas`,
  *     `superseded-snapshots` → run the sweeps' own recovery pass
  *                                ([[StreamingPipeline.recoverStore]]:
  *                                restore-or-reclaim parked dirs, GC
  *                                markerless partials — object-store
  *                                semantics only, on rename-protocol
  *                                filesystems existence IS commit —
  *                                and retire what the newest committed
  *                                snapshot covers);
  *   - `crashed-staging`        → delete the invisible staging dir, or,
  *                                for a complete legacy swap staging
  *                                dir whose target is missing, rename
  *                                it onto the target (the only copy);
  *   - `lease-break-residue`    → delete the inert `.broken.` sideline.
  *
  * Everything else — the `error` class (stamped-family drift, tombstone
  * high-water behind, unparseable schema stamp) plus live state (leases,
  * unretired tombstones) — is REFUSED: those need an operator decision
  * or a real sweep, and a "repair" that guessed would be the incident.
  * Each applied repair re-verifies its condition under the lease before
  * acting (the store may have moved between audit and lock), and the
  * returned findings carry `repaired = true` only for actions that ran.
  * A family whose lease is held by a live sweep skips its repairs
  * (reported un-repaired) rather than blocking.
  *
  * Not a data-plane operator (no DuckDB gate, by design — it audits
  * filesystem protocol state, not query results); FsckSpec plants each
  * condition and asserts the finding, and for each benign class that
  * repair + re-audit converges to clean while error findings survive. */
object StoreFsck {

  /** Staging dirs: the replace protocol's, and the prefixes of the
    * builds before it (per-snapshot staging, the verify output's swap,
    * the erase rewrite), which only this audit still reclaims. */
  private def isStaging(name: String): Boolean =
    Seq(StreamingPipeline.StagingPrefix, "_compact_staging_",
      SwapStagingPrefix, "_graft_erase_staging_").exists(name.startsWith)

  /** The verify output's swap of the builds before the replace protocol
    * wrote `_graft_swap_staging_<target>` in full, with `=` written `_`,
    * then deleted the target and renamed staging onto it: a crash
    * between the two left the staging dir as the target's only copy. */
  private val SwapStagingPrefix = "_graft_swap_staging_"

  /** The target a legacy swap staging dir `name` was written for: its
    * targets were `batch=<id>`, `_pending` and `_dead_letter`. */
  private def swapTarget(name: String): Option[String] =
    Option.when(name.startsWith(SwapStagingPrefix)) {
      val t = name.stripPrefix(SwapStagingPrefix)
      if (t.startsWith("batch_")) "batch=" + t.stripPrefix("batch_") else t
    }

  final case class Finding(family: String, check: String, severity: String,
                           detail: String, repaired: Boolean = false)

  /** Audit `storeRoot`; see class doc for `repair` semantics. Families
    * are auto-discovered: the root itself and every direct subdirectory
    * that carries delta-store state (`b<id>` / `v=<id>` dirs or a
    * schema/format stamp). `tombstones` is audited with its own checks
    * (high-water consistency) rather than the family ones; the lease
    * check additionally runs on the store root and the tombstones dir
    * themselves — composed erasure takes its lease at the ROOT, so a
    * stale root lease from a crashed composed sweep must surface even
    * when the root holds no deltas of its own. */
  def fsckStore(spark: SparkSession, storeRoot: String,
                repair: Boolean = false): DataFrame = {
    import spark.implicits._
    val root = new Path(storeRoot)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    // finding + optional repair thunk; the thunk re-verifies and acts,
    // returning true iff the repair was applied
    val out = scala.collection.mutable.ArrayBuffer.empty[(Finding, Option[() => Boolean])]
    def report(f: Finding): Unit = out += ((f, None))
    def repairable(f: Finding)(thunk: => Boolean): Unit =
      out += ((f, Some(() => thunk)))
    if (!fs.exists(root)) {
      report(Finding("<root>", "missing-root", "error",
        s"store root $storeRoot does not exist"))
      return out.map(_._1).toSeq.toDF()
    }

    // a dir carries delta-store state when it holds a delta, a snapshot,
    // a stamp, a parked dir or a legacy swap staging dir — the last two
    // ALONE too: a crash can leave a store whose only content is a parked
    // replace (everything else already retired), or a verify output whose
    // backlog exists only as swap staging, and that is exactly when the
    // audit matters
    def carriesStoreState(dir: Path): Boolean = fs.listStatus(dir).exists { c =>
      val n = c.getPath.getName
      StreamingPipeline.DeltaName.findFirstIn(n).isDefined ||
        StreamingPipeline.SnapshotName.findFirstIn(n).isDefined ||
        StreamingPipeline.parkedTarget(n).isDefined || swapTarget(n).isDefined ||
        n == StreamingPipeline.SchemaMarker || n == StreamingPipeline.FormatMarker
    }
    val rootIsFamily = carriesStoreState(root)
    val familyDirs =
      (if (rootIsFamily) Seq("" -> storeRoot) else Seq.empty) ++
        fs.listStatus(root).toSeq
          .filter(s => s.isDirectory && {
            val n = s.getPath.getName
            !n.startsWith("_") && n != "tombstones" && carriesStoreState(s.getPath)
          })
          .map(s => s.getPath.getName -> s.getPath.toString)

    // ---- lease state of one directory, guarded end to end: a lease
    // released between exists and open (live store) is simply absent; a
    // corrupt body is a finding, never an audit abort
    def checkLease(label: String, dirStr: String): Unit = {
      val dir = new Path(dirStr)
      val lease = new Path(dir, MaintenanceLease.LeaseName)
      // MaintenanceLease.readToken: the same guarded read acquire uses
      // (released mid-audit reads as absent, never aborts)
      val token: Option[String] =
        try MaintenanceLease.readToken(fs, lease)
        catch {
          case e: java.io.IOException =>
            report(Finding(label, "lease-unreadable", "warn",
              s"maintenance lease exists but cannot be read " +
                s"(${e.getMessage}) — if it persists, a sweep may be " +
                "mid-create or the file is incident damage; acquire " +
                "retries then breaks it"))
            return
        }
      token.foreach { t =>
        MaintenanceLease.parseExpiry(t) match {
          case None =>
            report(Finding(label, "lease-unreadable", "warn",
              s"maintenance lease body carries no parseable expiry " +
                s"('${t.take(60)}') — an in-flight create not yet " +
                "visible, or corrupt; acquire retries then breaks it"))
          case Some(expiry) if expiry < System.currentTimeMillis() =>
            report(Finding(label, "stale-lease", "warn",
              s"maintenance lease expired at epoch-ms $expiry without " +
                "release — its holder crashed (or outlived its TTL); " +
                "the next sweep breaks it"))
          case Some(expiry) =>
            report(Finding(label, "active-lease", "info",
              s"maintenance sweep in progress (lease valid to epoch-ms " +
                s"$expiry)"))
        }
      }
      // inert sidelines from a break OR a release-claim that crashed
      // between rename and cleanup — harmless bytes, reclaimable
      try fs.listStatus(dir).toSeq
        .filter(s => s.isFile && {
          val n = s.getPath.getName
          n.startsWith(s"${MaintenanceLease.LeaseName}.broken.") ||
            n.startsWith(s"${MaintenanceLease.LeaseName}.release.")
        })
        .foreach { s =>
          repairable(Finding(label, "lease-break-residue", "info",
            s"sidelined lease ${s.getPath.getName} — inert residue of " +
              "an interrupted lease break or release")) {
            fs.delete(s.getPath, false)
          }
        }
      catch { case _: java.io.FileNotFoundException => () }
    }

    // ---- store-level: families stamp vs discovered family dirs
    StreamingPipeline.stampedFamilies(spark, storeRoot).foreach { stamped =>
      val found = familyDirs.map(_._1).filter(_.nonEmpty).toSet
      (stamped -- found).toSeq.sorted.foreach { f =>
        report(Finding(f, "stamped-family-missing", "error",
          s"families marker names '$f' but no such family dir exists — " +
            "composed erasure would refuse, and a fold of the others " +
            "cannot cover it"))
      }
      (found -- stamped).toSeq.sorted.foreach { f =>
        report(Finding(f, "family-not-stamped", "warn",
          s"family dir '$f' is not in the families marker — composed " +
            "erasure will NOT fold it (its rows would survive tombstone " +
            "retirement)"))
      }
    }

    // ---- store-level: root + tombstones lease state (composed erasure
    // leases the ROOT; retire/write tombstones lease the root too — a
    // stale lease there must surface even when the root is not a family)
    if (!rootIsFamily) checkLease("<root>", storeRoot)

    // ---- store-level: tombstones high-water consistency
    val tombDir = s"$storeRoot/tombstones"
    if (fs.exists(new Path(tombDir))) checkLease("tombstones", tombDir)
    StreamingPipeline.listVersions(spark, tombDir,
      StreamingPipeline.DeltaName).foreach { deltas =>
      val hw = StreamingPipeline.readTombstoneHighWater(spark, tombDir)
      deltas.maxOption.foreach { mx =>
        if (hw < mx + 1)
          report(Finding("tombstones", "highwater-behind", "error",
            s"high-water $hw < max delta id $mx + 1 — a crash between " +
              "delta write and marker update; the next writeTombstones " +
              "self-heals the floor, but a caller holding a stale upto " +
              "could retire live tombstones before then"))
      }
      if (deltas.nonEmpty)
        report(Finding("tombstones", "live-tombstones", "info",
          s"${deltas.size} unretired tombstone delta(s) — serving masks; " +
            "retire after every family folds past the deletes"))
    }

    // ---- per-family checks
    familyDirs.foreach { case (name, dirStr) =>
      val label = if (name.isEmpty) "<root>" else name
      val dir = new Path(dirStr)
      val kids = fs.listStatus(dir).toSeq.filter(_.isDirectory)
      // the sweeps' own recovery pass, then whether `gone` now holds
      def recovered(gone: => Boolean): Boolean = {
        StreamingPipeline.recoverStore(spark, dirStr)
        gone
      }

      kids.foreach { s =>
        StreamingPipeline.parkedTarget(s.getPath.getName).foreach { t =>
          val replacementLanded = StreamingPipeline.landed(fs, new Path(dir, t))
          repairable(Finding(label, "heal-pending", "warn",
            s"parked dir ${s.getPath.getName} from a crashed in-place " +
              s"replace (replacement $t ${if (replacementLanded) "landed"
              else "MISSING — readers currently serve without it"}); " +
              "the next sweep heals it"))(recovered(!fs.exists(s.getPath)))
        }
      }

      kids.filter(s => isStaging(s.getPath.getName)).foreach { s =>
        val name = s.getPath.getName
        // a legacy swap staging dir is complete once its write committed
        val onlyCopy = swapTarget(name).map(new Path(dir, _)).filter { t =>
          !fs.exists(t) && fs.exists(new Path(s.getPath, "_SUCCESS"))
        }
        onlyCopy match {
          case Some(target) =>
            repairable(Finding(label, "crashed-staging", "warn",
              s"staging dir $name is the only copy of ${target.getName} — a " +
                "crashed swap deleted the target before landing it; readers " +
                "serve without it until repair restores it")) {
              StreamingPipeline.restoreOrReclaim(fs, s.getPath, target)
              !fs.exists(s.getPath)
            }
          case None =>
            repairable(Finding(label, "crashed-staging", "info",
              s"staging dir $name from an interrupted write — " +
                "invisible to readers; the next sweep overwrites or GC's it")) {
              fs.delete(s.getPath, true)
            }
        }
      }

      val allSnaps = StreamingPipeline.listVersions(spark, dirStr,
        StreamingPipeline.SnapshotName).getOrElse(Seq.empty)
      val committed = StreamingPipeline.committedSnapshots(spark, dirStr)
      val objectStore = StreamingPipeline.objectStoreSemantics(spark, fs)
      (allSnaps.toSet -- committed.toSet).toSeq.sorted.foreach { v =>
        repairable(Finding(label, "uncommitted-snapshot", "warn",
          s"v=$v has no commit marker — a crashed direct-write partial; " +
            "readers ignore it and the next sweep GC's it"))(
          recovered(!fs.exists(new Path(dir, s"v=$v"))))
      }
      if (!objectStore)
        allSnaps.sorted.foreach { v =>
          if (!fs.exists(new Path(dir, s"v=$v/${StreamingPipeline.CommitMarkerName}")))
            report(Finding(label, "legacy-unmarked-snapshot", "info",
              s"v=$v carries no commit marker — pre-marker-era snapshot; " +
                "served normally under the rename protocol (existence is " +
                "commit there)"))
        }
      if (committed.size > 1)
        repairable(Finding(label, "superseded-snapshots", "info",
          s"${committed.size} snapshots (newest v=${committed.max}) — older " +
            "ones are retirement residue; the next sweep reclaims them"))(
          recovered(StreamingPipeline.committedSnapshots(spark, dirStr).size <= 1))
      val deltas = StreamingPipeline.listVersions(spark, dirStr,
        StreamingPipeline.DeltaName).getOrElse(Seq.empty)
      committed.maxOption.foreach { newest =>
        val covered = deltas.count(_ <= newest)
        if (covered > 0)
          repairable(Finding(label, "covered-deltas", "info",
            s"$covered delta dir(s) with id <= v=$newest — readers skip " +
              "them; the next sweep reclaims them"))(recovered {
            val newest = StreamingPipeline.committedSnapshots(spark, dirStr).maxOption
            StreamingPipeline.listVersions(spark, dirStr, StreamingPipeline.DeltaName)
              .getOrElse(Seq.empty).forall(k => newest.forall(k > _))
          })
      }

      // multi-relation snapshot completeness ([[SoftState]] families):
      // every committed snapshot must carry every stamped member
      // relation — the publish protocol cannot land torn, so a missing
      // member is incident damage (hand-deleted subdir, partial restore)
      // that would serve silently wrong joined state
      SoftState.stampedRelations(spark, dirStr).foreach { rels =>
        committed.sorted.foreach { v =>
          val missing = rels.filterNot(r =>
            fs.exists(new Path(dir, s"v=$v/$r")))
          if (missing.nonEmpty)
            report(Finding(label, "torn-state", "error",
              s"committed snapshot v=$v is missing member relation(s) " +
                s"${missing.mkString(", ")} (family stamps ${rels.mkString(", ")}) " +
                "— reads would join relations across folds; restore the " +
                "snapshot or re-fold from source"))
        }
      }

      // schema stamp parseability
      StreamingPipeline.stampedSchema(spark, dirStr).foreach { ddl =>
        try org.apache.spark.sql.types.StructType.fromDDL(ddl)
        catch { case e: Exception =>
          report(Finding(label, "schema-stamp-unparseable", "error",
            s"schema marker does not parse as DDL ('${ddl.take(80)}'): " +
              s"${e.getMessage} — every fold of this family will refuse"))
        }
      }

      checkLease(label, dirStr)
    }

    // ---- apply the benign repairs, one lease per directory-with-work.
    // Thunks re-verify under the lease; a held lease (live sweep) skips
    // that family's repairs — report-only is the safe degradation.
    val results: Seq[Finding] =
      if (!repair) out.map(_._1).toSeq
      else {
        val byFamily = out.zipWithIndex.groupBy { case ((f, _), _) => f.family }
        val applied = Array.fill(out.size)(false)
        byFamily.foreach { case (fam, entries) =>
          val thunks = entries.collect { case ((_, Some(t)), i) => (t, i) }
          if (thunks.nonEmpty) {
            val famDir = fam match {
              case "<root>" => storeRoot
              case "tombstones" => tombDir
              case f => s"$storeRoot/$f"
            }
            try MaintenanceLease.withLease(spark, famDir) {
              thunks.foreach { case (t, i) =>
                applied(i) = try t() catch { case _: java.io.IOException => false }
              }
            } catch { case _: MaintenanceLease.LeaseHeldException => () }
          }
        }
        out.zipWithIndex.map { case ((f, _), i) =>
          f.copy(repaired = applied(i))
        }.toSeq
      }

    val finalOut =
      if (results.isEmpty)
        Seq(Finding("<root>", "clean", "info",
          "no findings: snapshots committed, no residue, no live tombstones"))
      else results
    finalOut.sortBy(f => (f.family, f.check, f.detail)).toDF()
  }
}
