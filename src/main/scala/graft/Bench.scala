package graft


/** Benchmark main: times every SparkEntry query on SPARK_GRAFT_SF_DIR,
  * writes the complete record to BENCH_FULL.json, and prints ONLY a
  * compact summary JSON line (duplicated as first and last stdout line)
  * that fits any bounded stdout capture whole (see the output block at
  * the bottom for the rationale).
  *
  * Each query is forced with the `noop` datasource write — a bare
  * `count()` lets Spark elide aggregate/projection work (column pruning
  * reduces counts to scan+tally), which would under-report honest query
  * cost. One untimed warmup query amortizes session/codegen startup out
  * of the first measurement, and each query is timed over three runs —
  * the MIN is the comparison number (single local[32] runs jitter ±20%
  * from JIT/GC, which would drown real per-query regressions) and the
  * MEDIAN rides along in BENCH_FULL.json so cross-session drift (disk
  * contention — min-of-3 only protects within a session) is diagnosable
  * from the artifact itself.
  *
  * Session hygiene between queries (BENCH_r02 lesson): caches are
  * released BLOCKING, the catalog cache is cleared, and a GC runs
  * untimed — otherwise lazy block eviction from one query's persisted
  * intermediates bleeds into the next query's measured wall time
  * (unchanged q1/q13/q18 regressed 4x in r2 from exactly this).
  *
  * A query that throws is reported under "failed" and excluded from the
  * timings — a fast-failing query must not read as a speedup.
  */
object Bench {

  /** Contention-window detector — automates the adjudication that cost
    * the r9/r10/r11 judges a full-suite rerun each: environment-level
    * I/O contention shows up as an ALPHABETICALLY CONTIGUOUS stretch of
    * untouched ("carryover") queries all inflated together, with min
    * AND median elevated (real code regressions hit scattered queries,
    * and min-of-3 absorbs one slow run — only sustained external load
    * lifts both statistics across a contiguous run order window).
    *
    * Input: the previous committed record and this run's (name → (min,
    * med)) timings. Contiguity is over the CARRYOVER sequence in
    * alphabetical (= bench run) order — queries new in this run are not
    * carryover and do not break a run. Flags the longest contiguous run
    * of ≥ `minRun` carryover queries whose min and med are BOTH
    * ≥ `factor`× the previous record's; returns its first and last
    * query names. */
  private[graft] def contentionWindow(
      prev: Map[String, (Double, Double)],
      cur: Seq[(String, (Double, Double))],
      factor: Double = 1.5, minRun: Int = 8): Option[(String, String)] = {
    val flags = cur.collect { case (k, (mn, md)) if prev.contains(k) =>
      val (pmn, pmd) = prev(k)
      k -> (mn >= factor * pmn && md >= factor * pmd)
    }
    var best: Option[(Int, Int)] = None
    var i = 0
    while (i < flags.size) {
      if (flags(i)._2) {
        var j = i
        while (j + 1 < flags.size && flags(j + 1)._2) j += 1
        if (j - i + 1 >= minRun && best.forall(b => j - i > b._2 - b._1))
          best = Some((i, j))
        i = j + 1
      } else i += 1
    }
    best.map { case (s, e) => (flags(s)._1, flags(e)._1) }
  }

  /** Uniform-slowdown detector — the blind spot [[contentionWindow]]
    * leaves open (r13 lesson: two "clean" records at the SAME commit
    * disagreed by 14% because EVERY query was uniformly slower in one
    * run — per-query spike detection flags nothing when the whole
    * machine is loaded). The statistic is the MEDIAN over carryover
    * queries of this run's min / the committed record's min: code
    * changes move scattered queries, an environment-level slowdown
    * moves the median itself. Returns None with no carryover. */
  private[graft] def carryoverMedianRatio(
      prev: Map[String, (Double, Double)],
      cur: Seq[(String, (Double, Double))]): Option[Double] = {
    val ratios = cur.collect {
      case (k, (mn, _)) if prev.get(k).exists(_._1 > 0) => mn / prev(k)._1
    }.sorted
    if (ratios.isEmpty) None else Some(ratios(ratios.size / 2))
  }

  /** Ratchet-proof drift detector — the blind spot the r13→r14 pair
    * exposed in [[carryoverMedianRatio]]: comparing to the immediately
    * prior committed record lets COMPOUNDING drift through (r14 drifted
    * 1.27× over r13 while reporting 0.986 against its own interim
    * record — each step small, the accumulation invisible). The fix is
    * a pinned per-query FLOOR: the best committed min ever observed for
    * each query, updated only DOWNWARD (a loaded run's mins are only
    * ever higher, so the update is load-immune by construction), kept
    * in BENCH_FLOOR.json and committed with the round records. The
    * statistic is the same median-of-ratios as the carryover detector,
    * but against the floor — accumulated drift cannot ratchet through
    * because the floor never rises to meet it. */
  private[graft] def floorMedianRatio(
      floor: Map[String, (Double, Double)],
      cur: Seq[(String, (Double, Double))]): Option[Double] =
    carryoverMedianRatio(floor, cur)

  /** ERA CALIBRATION of the floor statistic — the r15 lesson: floors
    * minted in the 60–120-query era reflect structurally lower
    * per-query JVM aging, so a 209-query window reads ~1.5× on
    * sub-second queries WITHOUT any plan change, and a detector that
    * always fires gets ignored. Each floor entry therefore carries an
    * `era` stamp: the timed-suite size it was minted at, refreshed
    * whenever a later run's min lands within [[EraRevalidateSlack]] of
    * the floor (evidence the floor is still reachable at the CURRENT
    * suite size — the floor VALUE itself never rises; only its
    * provenance is annotated). The calibrated drift statistic
    * ([[sameEraFloorRatio]]) then compares ONLY against floors minted
    * or re-validated at a comparable suite size
    * ([[SameEraFraction]] of the current run's), computed against the
    * stamps as COMMITTED (this run's re-validations take effect next
    * run — using them same-run would bias the sample toward queries
    * currently at their floor). Legacy entries parse as era 0 and stay
    * excluded until a clean window re-validates them. */
  private[graft] val EraRevalidateSlack = 1.1
  private[graft] val SameEraFraction = 0.8
  private[graft] val SameEraMinSample = 20

  /** Merge this run's timings into the floor: per query, keep the best
    * (lowest) min and med each ever observed; stamp/refresh the era as
    * documented at [[EraRevalidateSlack]]. New queries seed their own
    * floor at the current era. */
  private[graft] def mergedFloor(
      floor: Map[String, (Double, Double, Int)],
      cur: Seq[(String, (Double, Double))],
      n: Int): Map[String, (Double, Double, Int)] =
    cur.foldLeft(floor) { case (acc, (k, (mn, md))) =>
      acc.get(k) match {
        case None => acc.updated(k, (mn, md, n))
        case Some((fmn, fmd, era)) =>
          acc.updated(k, (math.min(fmn, mn), math.min(fmd, md),
            if (mn <= fmn * EraRevalidateSlack) n else era))
      }
    }

  /** The calibrated drift statistic: median min-ratio against floors
    * whose era is comparable to this run's suite size, plus the sample
    * size (a sample below [[SameEraMinSample]] is reported but not
    * trusted for the suspect flag — fall back to the all-era ratio). */
  private[graft] def sameEraFloorRatio(
      floor: Map[String, (Double, Double, Int)],
      cur: Seq[(String, (Double, Double))],
      n: Int): (Option[Double], Int) = {
    val eligible = floor.collect {
      case (k, (mn, md, era)) if era >= SameEraFraction * n => k -> (mn, md)
    }
    val sub = cur.filter { case (k, _) => eligible.contains(k) }
    (carryoverMedianRatio(eligible, sub), sub.size)
  }

  /** Parsed BENCH_FLOOR.json with its provenance stamps. `sf`/`cpus`
    * are the dataset and parallelism the floors were clocked against —
    * a run whose identity mismatches must neither merge (one sf0.01
    * dev run would permanently poison every floor downward) nor report
    * a floor ratio (meaningless across datasets). A file with queries
    * but no stamp predates the stamping and is known-provenance
    * (committed floors were always minted at the driver's sf0.1
    * default). */
  private[graft] final case class FloorFile(
      sf: Option[String], cpus: Option[Int],
      queries: Map[String, (Double, Double, Int)],
      corrupt: Boolean = false)

  /** A MISSING floor file parses as empty (first round, fresh checkout:
    * merging seeds the floors). A file that EXISTS but yields zero
    * parsed queries from non-empty text is CORRUPT, not absent — the
    * old swallow-everything read would adopt this run's identity and
    * rewrite the file from this run alone, silently re-baselining
    * floors the design says must never re-baseline. Corrupt files now
    * skip both merge and ratio, loudly. */
  private[graft] def readFloorFile(path: String): FloorFile = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) FloorFile(None, None, Map.empty)
    else try {
      val txt = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      val qre =
        """"([A-Za-z0-9_]+)":\{"min":([0-9.]+),"med":([0-9.]+)(?:,"era":(\d+))?\}""".r
      val queries = qre.findAllMatchIn(txt).map(m => m.group(1) ->
        ((m.group(2).toDouble, m.group(3).toDouble,
          Option(m.group(4)).map(_.toInt).getOrElse(0)))).toMap
      FloorFile(
        """"sf":"([^"]+)"""".r.findFirstMatchIn(txt).map(_.group(1)),
        """"cpus":(\d+)""".r.findFirstMatchIn(txt).map(_.group(1).toInt),
        queries,
        corrupt = queries.isEmpty && txt.trim.nonEmpty)
    } catch {
      case _: Throwable => FloorFile(None, None, Map.empty, corrupt = true)
    }
  }

  /** Median carryover ratio beyond this (in EITHER direction — a
    * committed record captured on a loaded machine makes every later
    * run look uniformly FASTER, which hides real regressions inside the
    * apparent speedup just as a loaded run hides speedups) marks the
    * whole run environment-suspect in the record — adjudicate against
    * the committed record before reading any per-query movement as
    * real. */
  private[graft] val EnvironmentSuspectRatio = 1.2

  private[graft] def environmentSuspect(medianRatio: Option[Double]): Boolean =
    medianRatio.exists(r =>
      r >= EnvironmentSuspectRatio || r <= 1.0 / EnvironmentSuspectRatio)

  /** Pre-run machine-load gate (VERDICT r16 §Next-round #3): the r16
    * driver record started at loadavg 9.6 on 32 cpus and every ratio
    * statistic keyed on carryover stayed quiet — the load average was
    * recorded but fed no flag. A run that STARTS on a machine already
    * loaded past this fraction of its cores is named suspect at the top
    * of the record, independent of any ratio (those need the run to
    * finish to fire; this one is knowable before the first query). */
  private[graft] val LoadSuspectFraction = 0.15

  private[graft] def loadSuspect(loadavgBefore: Double, cpus: Int): Boolean =
    cpus > 0 && loadavgBefore / cpus > LoadSuspectFraction

  /** Parse a BENCH_FULL.json record's per-query (min, med) map. The
    * format is self-written (see below), so a line regex suffices — no
    * JSON dependency. Missing/unreadable file → empty map (first round,
    * or a fresh checkout): the detector then flags nothing. */
  private[graft] def readRecord(path: String): Map[String, (Double, Double)] =
    try {
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(path)), "UTF-8")
      val re = """"([A-Za-z0-9_]+)":\{"min":([0-9.]+),"med":([0-9.]+)\}""".r
      re.findAllMatchIn(txt)
        .map(m => m.group(1) -> (m.group(2).toDouble, m.group(3).toDouble))
        .toMap
    } catch { case _: Throwable => Map.empty }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Sessions.envCpus(32)
    val spark = Sessions.local("graft-bench", cpus, "WARN",
      Sessions.Adaptive: _*)
    // machine-load indicator, stamped into the record: a run whose
    // loadavg was already high before the first query is suspect on its
    // face, independent of the ratio statistics below
    def loadavg: Double =
      java.lang.management.ManagementFactory
        .getOperatingSystemMXBean.getSystemLoadAverage
    val loadBefore = loadavg

    def force(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()

    // untimed JVM/codegen warmup — failure here must not abort the run
    // before the JSON contract line prints (the query re-runs timed
    // below and lands in `failed` if genuinely broken)
    try force(SparkEntry.queries("q1_pricing_summary")(spark, sfDir))
    catch { case e: Throwable =>
      System.err.println(s"[bench] warmup failed: ${e.getMessage}")
    }
    finally { Caches.releaseAll(blocking = true); TmpDirs.releaseAll() }

    // dev-only filter: SPARK_GRAFT_BENCH_ONLY="q1_pricing_summary,q3_..."
    // times just those queries (the driver never sets it — full run)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only(name) }
      .map { case (name, fn) =>
      // untimed inter-query hygiene: drop every cached block synchronously
      // so this query's measurement starts from a clean storage/heap state
      Caches.releaseAll(blocking = true)
      spark.catalog.clearCache()
      // unload finished streaming gates' state-store providers and
      // re-anchor the 60 s maintenance timer to the next gate's start —
      // otherwise whether a JVM-global maintenance tick lands inside a
      // stateful gate's window is wall-clock phase, which read as
      // multi-second cross-session spread on untouched code (the r15
      // stream_stream_join 10.6→15.3 s finding). See Bridge scaladoc.
      org.apache.spark.sql.graft.Bridge.resetStreamingStateMaintenance()
      System.gc()
      val runs = (1 to 3).map { _ =>
        // elapsed captured BEFORE the inter-run release: the blocking
        // unpersist is hygiene, not query work, and must not inflate
        // cache-heavy queries' timings
        val t0 = System.nanoTime()
        val ok =
          try { force(fn(spark, sfDir)); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            false
          }
        val elapsed = (System.nanoTime() - t0) / 1e9
        Caches.releaseAll(blocking = true)
        // gate scratch dirs (streaming state/checkpoints, export shards)
        // are dead once the action above ran — reclaim per run, not per
        // JVM (a full suite leaks GBs otherwise, r14 finding)
        TmpDirs.releaseAll()
        (elapsed, ok)
      }
      // record min AND median: min is the comparison number (JIT/GC
      // jitter suppression within a session), but cross-session drift
      // adjudication needs the spread IN the artifact — a min far below
      // the median flags load skew without a full rerun (VERDICT r9: a
      // 21.9 s driver reading vs 9.4 s judge reading on an unchanged
      // plan had to be settled by re-benching the whole suite)
      name -> (if (runs.forall(_._2)) {
        val ts = runs.map(_._1).sorted
        Some((ts.head, ts(ts.size / 2)))
      } else None)
    }
    val timed = results.collect { case (k, Some(v)) => k -> v }
    val failed = results.collect { case (k, None) => k }
    // millisecond precision, not the double's full 12 digits — sub-ms
    // digits are pure jitter at local[32].
    def fmt(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    // BENCH_FULL carries the (min, median) pair per query; the compact
    // stdout line and the headline total stay min-based (the established
    // comparison protocol) — the median is the drift diagnostic
    val qs = timed.map { case (k, (mn, md)) =>
        "\"" + k + "\":{\"min\":" + fmt(mn) + ",\"med\":" + fmt(md) + "}"
      }.mkString("{", ",", "}")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = timed.map(_._2._1).sum
    // The driver's capture of this process's stdout is bounded (~2000
    // chars, and r6/r7 showed it may read from either end), so stdout
    // carries ONLY a compact summary line — printed as both the FIRST
    // and the LAST stdout line, so a head-reader and a tail-reader each
    // see one complete parseable JSON object. At ~20 bytes per slowest
    // entry the line stays well under any plausible capture bound
    // regardless of how many queries the suite grows to. The complete
    // per-query map is NOT printed; it is written to BENCH_FULL.json
    // (repo cwd by default), which no capture bound can truncate.
    // a filtered dev run must be distinguishable from a full-suite
    // record by more than its "n": stamp it explicitly so a partial
    // total can never be mistaken for a suite total in a comparison
    val filteredTag =
      if (only.isEmpty) "" else s""","filtered":true"""
    val fullPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL", "BENCH_FULL.json")
    // contention-window detection against the COMMITTED record (read
    // BEFORE this run overwrites it; override with SPARK_GRAFT_BENCH_PREV
    // for dry runs against historical records). An annotated window means
    // "adjudicate as environmental before blaming the diff" — it does not
    // excuse a real regression OUTSIDE the window.
    val prev = readRecord(sys.env.getOrElse("SPARK_GRAFT_BENCH_PREV", fullPath))
    val window = contentionWindow(prev, timed)
    val windowTag = window match {
      case Some((a, b)) => s""","contention_window":["$a","$b"]"""
      case None => ""","contention_window":null"""
    }
    // uniform-slowdown adjudication: median carryover ratio vs the
    // committed record + loadavg stamps. environment_suspect means
    // "compare against the committed record before blaming the diff" —
    // two records that disagree should now disagree WITH an annotation
    val medianRatio = carryoverMedianRatio(prev, timed)
    val loadAfter = loadavg
    // pinned-floor drift statistic + downward-only floor update: the
    // ratchet-proof complement of the prev-record comparison above (see
    // floorMedianRatio — r14 compounded 1.27× through the prev-record
    // detector unflagged). floor_median_ratio > 1 is ACCUMULATED drift
    // vs the best this code base has ever clocked; it recovers only by
    // actually getting fast again, never by re-baselining.
    val floorPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_FLOOR",
      "BENCH_FLOOR.json")
    val floorFile = readFloorFile(floorPath)
    // identity gate (ADVICE r15): merging a dev run at another sf (or
    // on other hardware) would permanently lower floors the design
    // forbids ever re-raising. Pre-stamp files are known-provenance
    // sf0.1 (the driver default the committed floors were minted at);
    // an entirely missing file adopts this run's identity.
    val floorSf = floorFile.sf.getOrElse(
      if (floorFile.queries.isEmpty) sfDir else "/root/testdata/sf0.1")
    val floorCpus = floorFile.cpus.getOrElse(cpus)
    val floorIdentityOk = floorSf == sfDir && floorCpus == cpus
    if (floorFile.corrupt)
      System.err.println(s"[bench] floor file $floorPath exists but parsed " +
        "to zero queries — corrupt or torn write; floor merge and ratio " +
        "SKIPPED (fix or restore the file; merging would re-baseline " +
        "floors from this run alone)")
    // filtered runs neither merge nor report: a handful of hand-picked
    // queries is not a drift sample, and its floors must not ratchet
    val floorActive = floorIdentityOk && only.isEmpty && !floorFile.corrupt
    val floorRatio =
      if (floorActive)
        floorMedianRatio(floorFile.queries.map {
          case (k, (mn, md, _)) => k -> ((mn, md)) }, timed)
      else None
    // calibrated statistic: same-era floors only, stamps as COMMITTED
    // (this run's re-validations land in the file for the NEXT run)
    val (eraRatio, eraN) =
      if (floorActive) sameEraFloorRatio(floorFile.queries, timed, timed.size)
      else (None, 0)
    if (floorActive) {
      val newFloor = mergedFloor(floorFile.queries, timed, timed.size)
      val floorJson = newFloor.toSeq.sortBy(_._1).map { case (k, (mn, md, era)) =>
        "\"" + k + "\":{\"min\":" + fmt(mn) + ",\"med\":" + fmt(md) +
          ",\"era\":" + era + "}"
      }.mkString(
        s"""{"sf":"$sfDir","cpus":$cpus,"queries":{""", ",", "}}")
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get(floorPath), floorJson + "\n")
      catch { case e: Throwable =>
        System.err.println(s"[bench] could not write $floorPath: ${e.getMessage}")
      }
    } else if (!floorIdentityOk)
      System.err.println(s"[bench] floor file $floorPath is stamped " +
        s"($floorSf, cpus=$floorCpus) but this run is ($sfDir, cpus=$cpus) " +
        "— floor merge and ratio skipped")
    val envTag = {
      val ratioStr = medianRatio.map(r => fmt(r)).getOrElse("null")
      val suspect = environmentSuspect(medianRatio)
      val floorStr = floorRatio.map(r => fmt(r)).getOrElse("null")
      val eraStr = eraRatio.map(r => fmt(r)).getOrElse("null")
      // the suspect flag keys on the CALIBRATED statistic once its
      // sample is trustworthy; below that, the uncalibrated ratio
      // (conservative) keeps fresh repos covered
      val floorSuspect =
        if (eraN >= SameEraMinSample) eraRatio.exists(_ >= EnvironmentSuspectRatio)
        else floorRatio.exists(_ >= EnvironmentSuspectRatio)
      s""","carryover_median_ratio":$ratioStr,"environment_suspect":$suspect""" +
        s""","floor_median_ratio":$floorStr,"floor_drift_suspect":$floorSuspect""" +
        s""","floor_median_ratio_same_era":$eraStr,"floor_same_era_n":$eraN""" +
        s""","loadavg_before":${fmt(loadBefore)},"loadavg_after":${fmt(loadAfter)}""" +
        s""","load_suspect":${loadSuspect(loadBefore, cpus)}"""
    }
    val fullJson =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"failed":$failedJson,"sf":"$sfDir"$windowTag$envTag$filteredTag}"""
    // a filtered dev run must not REPLACE the committed full-suite
    // record either (the carryover detector reads it as prev — a 1-query
    // record there guts the next full run's statistic); it still prints
    // its own JSON to stdout
    if (only.isEmpty)
      try java.nio.file.Files.writeString(java.nio.file.Paths.get(fullPath), fullJson + "\n")
      catch { case e: Throwable =>
        System.err.println(s"[bench] could not write $fullPath: ${e.getMessage}")
      }
    else System.err.println(
      s"[bench] filtered run — $fullPath left untouched")
    val slowest = timed.sortBy { case (_, v) => -v._1 }.take(12)
      .map { case (k, v) => "\"" + k + "\":" + fmt(v._1) }.mkString("{", ",", "}")
    val compact =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n":${timed.size},"failed":$failedJson,"sf":"$sfDir","full":"$fullPath","queries":$slowest$windowTag$envTag$filteredTag}"""
    println(compact)
    println(compact)
    spark.stop()
  }
}
