package graft.operators

import java.nio.file.Files

import graft.SparkSpec
import graft.config._
import graft.plans.PipelineRunner
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.exchange.Exchange

/** Truth table for the OK/KO split, including the reference's fixture rows
  * (`input.json:1-3`) and the null-semantics deviation (SURVEY §7.4.1). */
class ValidationSplitSpec extends SparkSpec {
  import spark.implicits._

  val rules = Seq(
    FieldRules("office", Seq(NotEmpty)),
    FieldRules("age", Seq(NotNull)))

  // The reference's 3-row fixture plus the NULL-office row that exposes
  // the 3VL bug (FIXTURES.md §1).
  def fixture = Seq(
    ("Xabier", Some(39L), Some("")),      // KO: office-notEmpty
    ("Miguel", None, Some("RIO")),        // KO: age-notNull
    ("Fran", Some(31L), Some("RIO")),     // OK
    ("Nadia", Some(40L), None))           // NULL office: reference drops it; we KO it
    .toDF("name", "age", "office")

  test("null-safe split: OK ∪ KO == input, no row lost") {
    val s = ValidationSplit.split(fixture, rules, persist = false)
    assert(s.ok.select("name").as[String].collect().toSet == Set("Fran"))
    assert(s.ko.select("name").as[String].collect().toSet == Set("Xabier", "Miguel", "Nadia"))
    assert(s.ok.count() + s.ko.count() == fixture.count())
  }

  test("KO rows carry the codes of exactly their failed rules") {
    val s = ValidationSplit.split(fixture, rules, persist = false)
    val errs = s.ko.select($"name", $"arraycoderrorbyfield")
      .as[(String, Seq[String])].collect().toMap
    assert(errs("Xabier") == Seq("office-notEmpty"))
    assert(errs("Miguel") == Seq("age-notNull"))
    assert(errs("Nadia") == Seq("office-notEmpty")) // NULL != '' is not-TRUE → fails
  }

  test("OK split drops the error column; KO keeps it") {
    val s = ValidationSplit.split(fixture, rules, persist = false)
    assert(!s.ok.columns.contains(ValidationSplit.ErrorCol))
    assert(s.ko.columns.contains(ValidationSplit.ErrorCol))
  }

  test("zero rules: everything OK (reference crashes with ParseException)") {
    val s = ValidationSplit.split(fixture, Nil, persist = false)
    assert(s.ok.count() == 4 && s.ko.count() == 0)
  }

  test("multiple failures accumulate in declaration order") {
    val df = Seq(("", None: Option[Long])).toDF("office", "age")
    val s = ValidationSplit.split(df, rules, persist = false)
    val errs = s.ko.select($"arraycoderrorbyfield").as[Seq[String]].head()
    assert(errs == Seq("office-notEmpty", "age-notNull"))
  }

  test("reference-compat split reproduces the 3VL row loss") {
    val s = ValidationSplit.splitReferenceCompat(fixture, rules)
    // Nadia (NULL office) vanishes from BOTH splits — documented reference
    // behavior (PipelineProcessor.scala:68-74, SURVEY §2.3 F3).
    val names = (s.ok.select("name").as[String].collect() ++
      s.ko.select("name").as[String].collect()).toSet
    assert(!names.contains("Nadia"))
    assert(s.ok.count() + s.ko.count() == 3)
  }

  test("extension rules: minLength and matchesRegex") {
    val df = Seq(("abcdef", "src1"), ("ab", "nope")).toDF("text", "source")
    val r = Seq(
      FieldRules("text", Seq(MinLength(3))),
      FieldRules("source", Seq(MatchesRegex("^src[0-9]+$"))))
    val s = ValidationSplit.split(df, r, persist = false)
    assert(s.ok.count() == 1)
    val errs = s.ko.select($"arraycoderrorbyfield").as[Seq[String]].head()
    assert(errs == Seq("text-minLength", "source-matchesRegex"))
  }

  test("persisted split of an input below AQE's smallest partition is one partition; no Exchange") {
    val dir = Files.createTempDirectory("graft_split_small_").toString
    Seq((1L, 2L, "Ana", Some(20L), "RIO"), (1L, 1L, "Ana", Some(20L), "RIO"),
        (2L, 1L, "Ben", None, "LIS"), (3L, 1L, "Cai", Some(30L), ""),
        (4L, 1L, "Dee", Some(40L), "RIO"), (4L, 3L, "Dee", Some(41L), "RIO"),
        (5L, 1L, "Eve", None, ""))
      .toDF("id", "ver", "name", "age", "office")
      .repartition(3).write.mode("overwrite").json(dir)
    val input = spark.read.schema("id BIGINT, ver BIGINT, name STRING, age BIGINT, office STRING")
      .json(dir)
    assert(input.rdd.getNumPartitions >= 2)
    val dedup = Seq(DeduplicateConf("dd", None, Seq("id"), "ver"))
    // (partitions of the persisted relation, Exchanges in the curated OK
    // plan, OK rows, KO rows)
    def run() = {
      val s = ValidationSplit.split(input, rules)
      try {
        val exchanges = SparkSpec.aqeOff(spark) {
          PipelineRunner.applyPost(s.ok, dedup).queryExecution.executedPlan
            .collect { case e: Exchange => e }.size
        }
        (s.shared.rdd.getNumPartitions, exchanges,
          PipelineRunner.applyPost(s.ok, dedup).collect().map(_.toString).sorted.toSeq,
          s.ko.collect().map(_.toString).sorted.toSeq)
      } finally s.unpersist()
    }
    val (parts, exchanges, ok, ko) = run()
    assert(parts == 1 && exchanges == 0)
    val (bigParts, bigExchanges, bigOk, bigKo) = SparkSpec.withConf(spark,
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1b")(run())
    assert(bigParts == input.rdd.getNumPartitions && bigExchanges > 0)
    assert(ok == bigOk && ko == bigKo)
    assert(ok.size == 2 && ko.size == 3, s"ok=$ok ko=$ko")
  }
}
