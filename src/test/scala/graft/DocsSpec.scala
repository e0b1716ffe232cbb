package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Pins the query counts quoted in the docs to `SparkEntry` itself —
  * the hand-maintained numbers drifted in rounds 5 AND 6 (docs said
  * 111 while the surface was 115), so the count is now derived: any
  * doc line saying "<k> gated" or "<a> hash-exact + <b> rows-only"
  * must state the real surface, or CI fails on the next `sbt test`.
  *
  * Convention the docs follow: CURRENT-surface tallies always carry
  * the word "gated" (e.g. "120/120 gated (112 hash-exact + 8
  * rows-only)"); frozen historical driver records (e.g. "CORRECTNESS_r05
  * was 73/73") omit it and are deliberately not policed. */
class DocsSpec extends AnyFunSuite {

  private val n = SparkEntry.queries.size
  private val rowsOnly = (SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet).size
  private val exact = n - rowsOnly
  private val docs = Seq("README.md", "SCALING.md", ".claude/skills/verify/SKILL.md")

  private def read(p: String): String =
    new String(Files.readAllBytes(Paths.get(p)), StandardCharsets.UTF_8)

  test("oracle map covers only registered queries") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracleSql entries with no query: $orphans")
  }

  test("doc query counts equal the real surface") {
    docs.foreach { p =>
      val txt = read(p)
      val gated = raw"(\d+) gated".r.findAllMatchIn(txt).map(_.group(1).toInt).toSeq
      assert(gated.nonEmpty, s"$p should state the gated-query count")
      assert(gated.forall(_ == n),
        s"$p claims gated counts $gated; the surface is $n — " +
          "sync the doc (and mirror any new rows-only exemptions)")
      raw"(\d+) hash-exact \+ (\d+) rows-only".r.findAllMatchIn(txt).foreach { m =>
        assert(m.group(1).toInt == exact && m.group(2).toInt == rowsOnly,
          s"$p says '${m.matched}'; actual split is $exact hash-exact + $rowsOnly rows-only")
      }
    }
  }

  private lazy val mainSources: List[String] = {
    val walk = Files.walk(Paths.get("src/main"))
    try walk.iterator().asScala.map(_.toString).filter(_.endsWith(".scala")).toList
    finally walk.close()
  }

  test("only graft.Sessions writes spark.sql.shuffle.partitions") {
    // a region sized by writing the shared conf races every concurrent
    // region on the session; Sessions.sized sizes a clone instead
    val sources = mainSources.filterNot(_.endsWith("/graft/Sessions.scala"))
    // the key as a literal, as SQLConf's entry, or as a val bound to the literal
    val lit = "\"spark\\.sql\\.shuffle\\.partitions\""
    val writers = sources.filter { p =>
      val txt = read(p)
      val names = raw"val\s+(\w+)\s*=\s*$lit".r.findAllMatchIn(txt).map(m => raw"\b${m.group(1)}\b")
      val key = (Seq(lit, raw"SQLConf\.SHUFFLE_PARTITIONS") ++ names).mkString("(", "|", ")")
      raw"(\.config|conf\.set)\(\s*$key".r.findFirstIn(txt).isDefined
    }
    assert(sources.nonEmpty && writers.isEmpty,
      s"spark.sql.shuffle.partitions written outside graft.Sessions in: ${writers.mkString(", ")}")
  }

  test("only graft.Par starts threads") {
    // Par.all holds the one interrupt and failure contract for concurrent
    // work; TmpDirs' exit-time sweep is the one listed exception
    val start = raw"new Thread\b|extends Thread\b|Thread\.(ofPlatform|ofVirtual|startVirtualThread)|" +
      raw"Executors\.new|new (ForkJoinPool|ThreadPoolExecutor|ScheduledThreadPoolExecutor|Timer)\b|" +
      raw"\bFuture\s*[({]|ExecutionContext\.global"
    val starts = start.r
    val (par, others) = mainSources.partition(_.endsWith("/graft/Par.scala"))
    assert(par.exists(p => starts.findFirstIn(read(p)).isDefined), "the lint no longer sees Par's threads")
    val starters = others.filter { p =>
      val txt = read(p)
      val checked = if (p.endsWith("/graft/TmpDirs.scala"))
        txt.replace("addShutdownHook(new Thread(", "addShutdownHook(") else txt
      starts.findFirstIn(checked).isDefined
    }
    assert(starters.isEmpty, s"threads started outside graft.Par in: ${starters.mkString(", ")}")
  }

  test("no src/main file sets a spark.sql.adaptive.coalescePartitions key") {
    // ValidationSplit persists an input at or below AQE's smallest
    // partition as one partition; that bound stays Spark's own. Matches
    // the key as a literal (reads go through SQLConf's entry) or the
    // entry being set.
    val setter = ("\"spark\\.sql\\.adaptive\\.coalescePartitions\\.|" +
      raw"(\.config|conf\.set|setConf)\(\s*SQLConf\.COALESCE_PARTITIONS").r
    assert(setter.findFirstIn(
      """b.config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1b")""").isDefined)
    val setters = mainSources.filter(p => setter.findFirstIn(read(p)).isDefined)
    assert(mainSources.nonEmpty && setters.isEmpty,
      s"spark.sql.adaptive.coalescePartitions.* set in: ${setters.mkString(", ")}")
  }

  test("only graft.Sessions names a spark.sql.sources.parallelPartitionDiscovery key") {
    // the stream file source lists with at most one task per slot, a cap
    // Sessions.slotListed derives; the threshold stays Spark's own.
    // Matches the key as a literal or as SQLConf's entry.
    val key = raw"spark\.sql\.sources\.parallelPartitionDiscovery|SQLConf\.PARALLEL_PARTITION_DISCOVERY".r
    assert(key.findFirstIn("""conf.set("spark.sql.sources.parallelPartitionDiscovery.threshold", "1")""").isDefined)
    assert(key.findFirstIn("setConf(SQLConf.PARALLEL_PARTITION_DISCOVERY_PARALLELISM, 8)").isDefined)
    val (home, others) = mainSources.partition(_.endsWith("/graft/Sessions.scala"))
    assert(home.exists(p => key.findFirstIn(read(p)).isDefined), "the lint no longer sees Sessions' cap")
    val namers = others.filter(p => key.findFirstIn(read(p)).isDefined)
    assert(namers.isEmpty,
      s"spark.sql.sources.parallelPartitionDiscovery.* named outside graft.Sessions in: ${namers.mkString(", ")}")
  }

  test("only StreamingPipeline.scala runs the snapshot-publish protocol") {
    // one copy of the crash protocol: no other file creates a commit
    // marker, renames (Lease.scala's sideline claim aside) or names the
    // protocol's staging dir; only fsck names the staging dirs of the
    // builds before it, to reclaim them
    val marker = raw"CommitMarkerName|_GRAFT_COMMITTED".r
    val creates = raw"\.create\(|createNewFile|Files\.write".r
    val staging = "_graft_staging_"
    val legacyStaging = Seq("_compact_staging_", "_graft_swap_staging_")
    def publishes(txt: String) =
      (marker.findFirstIn(txt).isDefined && creates.findFirstIn(txt).isDefined) ||
        txt.contains(staging) || txt.contains(".rename(")
    val (home, others) = mainSources.partition(_.endsWith("/streaming/StreamingPipeline.scala"))
    assert(home.exists(p => publishes(read(p))), "the lint no longer sees the protocol")
    val copies = others.filter { p =>
      val txt = read(p)
      publishes(if (p.endsWith("/streaming/Lease.scala")) txt.replace(".rename(", "") else txt)
    }
    assert(copies.isEmpty, s"snapshot publish outside StreamingPipeline.scala in: ${copies.mkString(", ")}")
    val (fsck, rest) = mainSources.partition(_.endsWith("/streaming/Fsck.scala"))
    assert(fsck.exists(p => legacyStaging.forall(read(p).contains)), "the lint no longer sees fsck's reclaim")
    val namers = rest.filter(p => legacyStaging.exists(read(p).contains))
    assert(namers.isEmpty, s"retired staging names outside Fsck.scala in: ${namers.mkString(", ")}")
  }
}
