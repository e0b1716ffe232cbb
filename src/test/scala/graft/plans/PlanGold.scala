package graft.plans

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}

import graft.{Caches, SparkEntry, SparkSpec}

/** Normalized physical-plan fingerprints for every gated query,
  * committed as goldens (`src/test/resources/plan_goldens.tsv`) —
  * catches SILENT plan regressions the invariant checks can't see: an
  * extra Exchange, a join strategy flip, a lost parquet pushdown, a
  * window sneaking back where a bounded aggregate belongs.
  *
  * The fingerprint is the operator tree with ids/paths/expressions
  * stripped (node name prefixes only, so `Scan parquet /tmp/...` →
  * `Scan`), plus a `!pf` tag on scans whose `PushedFilters` is
  * non-empty — structure and pushdown, nothing volatile. Plans are
  * built with AQE OFF so exchanges appear statically (with AQE on,
  * `executedPlan` is an unexpanded AdaptiveSparkPlan leaf and the
  * runtime tree depends on execution); the gated queries run WITH AQE
  * in production — this is a static shape check, not an execution
  * trace.
  *
  * Regenerate after an INTENDED plan change:
  * {{{ sbt 'Test/runMain graft.plans.PlanGold' }}}
  * then review the diff of plan_goldens.tsv like code — each changed
  * line is a plan change you are signing off on. */
object PlanGold {

  val GoldenPath = "src/test/resources/plan_goldens.tsv"
  val SfDir = "/root/testdata/sf0.001"

  def fingerprint(df: DataFrame): String = fp(df.queryExecution.executedPlan)

  private def fp(p: SparkPlan): String = {
    val base = p.nodeName.takeWhile(c => c.isLetterOrDigit || c == '-')
    val tag = p match {
      case f: FileSourceScanExec
        if f.metadata.get("PushedFilters").exists(s => s.nonEmpty && s != "[]") => "!pf"
      case _ => ""
    }
    if (p.children.isEmpty) base + tag
    else s"$base$tag(${p.children.map(fp).mkString(",")})"
  }

  /** (name, fingerprint) for every gated query, sorted by name. */
  def compute(spark: SparkSession, sfDir: String): Seq[(String, String)] = {
    SparkSpec.aqeOff(spark) {
      SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
        try name -> fingerprint(fn(spark, sfDir))
        finally Caches.releaseAll()
      }
    }
  }

  def read(): Map[String, String] =
    new String(Files.readAllBytes(Paths.get(GoldenPath)), StandardCharsets.UTF_8)
      .linesIterator.filter(_.nonEmpty)
      .map { l => val Array(n, f) = l.split("\t", 2); n -> f }
      .toMap

  def main(args: Array[String]): Unit = {
    val lines = compute(SparkSpec.session, SfDir)
      .map { case (n, f) => s"$n\t$f" }
    Files.write(Paths.get(GoldenPath),
      lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    println(s"[plangold] wrote ${lines.size} fingerprints to $GoldenPath")
  }
}

class PlanGoldSpec extends SparkSpec {
  test("physical plan fingerprints match the committed goldens") {
    val golden = PlanGold.read()
    val actual = PlanGold.compute(spark, PlanGold.SfDir)
    val drifted = actual.flatMap { case (name, f) =>
      golden.get(name) match {
        case None => Some(s"$name: NO GOLDEN (new query?)")
        case Some(g) if g != f => Some(s"$name:\n    gold: $g\n    got:  $f")
        case _ => None
      }
    }
    val stale = golden.keySet -- actual.map(_._1)
    assert(drifted.isEmpty && stale.isEmpty,
      s"plan fingerprints drifted — if INTENDED, regenerate with " +
        s"sbt 'Test/runMain graft.plans.PlanGold' and review the tsv diff:\n" +
        drifted.mkString("\n") +
        (if (stale.nonEmpty) s"\nstale goldens (query removed?): $stale" else ""))
  }
}
