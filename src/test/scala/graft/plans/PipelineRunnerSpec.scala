package graft.plans

import java.nio.file.Files
import graft.SparkSpec
import graft.config.MetadataReader
import graft.operators.AddFields
import graft.config.FieldDef

/** End-to-end dataflow: reference-shaped metadata over reference-shaped
  * input rows (FIXTURES.md §1) into temp-dir sinks, asserted row-sets. */
class PipelineRunnerSpec extends SparkSpec {
  import spark.implicits._

  def e2eConfig(in: String, out: String): String = s"""{
    "dataflows": [{
      "name": "prueba-acceso",
      "sources": [
        {"name": "person_inputs", "path": "$in/*", "format": "json",
         "schema": "name STRING, age BIGINT, office STRING"}
      ],
      "transformations": [
        {"name": "validation", "type": "validate_fields",
         "params": {"validations": [
           {"field": "office", "validations": ["notEmpty"]},
           {"field": "age", "validations": ["notNull"]}]}},
        {"name": "ok_with_date", "type": "add_fields",
         "params": {"addFields": [{"name": "dt", "function": "current_timestamp"}]}}
      ],
      "sinks": [
        {"input": "ok_with_date", "name": "raw-ok", "paths": ["$out/ok"],
         "format": "json", "saveMode": "overwrite"},
        {"input": "validation_ko", "name": "raw-ko", "paths": ["$out/ko1", "$out/ko2"],
         "format": "json", "saveMode": "overwrite"}
      ]
    }]
  }"""

  test("reference dataflow end-to-end: OK/KO land in the configured sinks") {
    val in = Files.createTempDirectory("graft_in_").toString
    val out = Files.createTempDirectory("graft_out_").toString
    // the reference's input.json fixture verbatim (3 person rows)
    Files.writeString(java.nio.file.Paths.get(s"$in/input.json"),
      """{"name":"Xabier","age":39,"office":""}
        |{"name":"Miguel","office":"RIO"}
        |{"name":"Fran","age":31,"office":"RIO"}
        |""".stripMargin)

    val meta = MetadataReader.parse(e2eConfig(in, out))
    PipelineRunner.runAll(spark, meta)

    val ok = spark.read.json(s"$out/ok/raw-ok")
    assert(ok.select("name").as[String].collect().toSeq == Seq("Fran"))
    // add_fields ran before validation → dt present on BOTH splits
    // (reference hardcoded ordering, SURVEY §3.2)
    assert(ok.columns.contains("dt"))

    val ko1 = spark.read.json(s"$out/ko1/raw-ko")
    assert(ko1.select("name").as[String].collect().toSet == Set("Xabier", "Miguel"))
    assert(ko1.columns.contains("dt"))
    assert(ko1.columns.contains("arraycoderrorbyfield"))

    // multi-path sink: second path got the same rows
    val ko2 = spark.read.json(s"$out/ko2/raw-ko")
    assert(ko2.count() == 2)
  }

  test("unknown sink input fails with a descriptive error, not MatchError") {
    val in = Files.createTempDirectory("graft_in2_").toString
    val out = Files.createTempDirectory("graft_out2_").toString
    Files.writeString(java.nio.file.Paths.get(s"$in/input.json"),
      """{"name":"A","age":1,"office":"X"}""" + "\n")
    val meta = MetadataReader.parse(
      e2eConfig(in, out).replace("\"validation_ko\"", "\"no_such_split\""))
    val e = intercept[IllegalArgumentException](PipelineRunner.runAll(spark, meta))
    assert(e.getMessage.contains("no_such_split"))
    assert(e.getMessage.contains("available"))
  }

  test("the SHIPPED example metadata.json runs end-to-end (golden)") {
    // the user-facing artifact at src/main/resources/metadata.json,
    // path-rewritten into temp dirs — guards the example against drift
    val in = Files.createTempDirectory("graft_ex_in_").toString
    val out = Files.createTempDirectory("graft_ex_out_").toString
    val resource = new String(
      getClass.getResourceAsStream("/metadata.json").readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8)
    assert(resource.contains("/tmp/graft-example"), "example paths changed?")
    Files.writeString(java.nio.file.Paths.get(s"$in/input.json"),
      """{"name":"Xabier","age":39,"office":""}
        |{"name":"Miguel","office":"RIO"}
        |{"name":"Fran","age":31,"office":"RIO"}
        |""".stripMargin)
    val meta = MetadataReader.parse(resource
      .replace("/tmp/graft-example/input/events/person", in)
      .replace("/tmp/graft-example/output", out))
    PipelineRunner.runAll(spark, meta)
    val ok = spark.read.json(s"$out/events/person/raw-ok")
    assert(ok.select("name").as[String].collect().toSeq == Seq("Fran"))
    assert(ok.columns.contains("dt"))
    val ko = spark.read.json(s"$out/discards/person/raw-ko")
    assert(ko.select("name").as[String].collect().toSet == Set("Xabier", "Miguel"))
  }

  test("partitioned sink lays out hive-style dirs and reads prune partitions") {
    val out = Files.createTempDirectory("graft_part_").toString
    val df = Seq(("ana", "lisbon"), ("bo", "porto"), ("cy", "porto"))
      .toDF("name", "office")
    val sink = graft.config.SinkConf("in", "people", Seq(out), "parquet",
      "overwrite", partitionBy = Seq("office"))
    graft.sinks.Sinks.writeFiles(df, sink)
    val dirs = new java.io.File(s"$out/people").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(dirs == Set("office=lisbon", "office=porto"),
      s"expected hive-style partition dirs, got $dirs")
    val back = spark.read.parquet(s"$out/people")
    assert(back.count() == 3)
    // a filter on the partition column must prune at planning time
    val plan = back.filter($"office" === "porto")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") &&
      plan.contains("office"), s"partition filter not pushed:\n$plan")
    assert(back.filter($"office" === "porto").count() == 2)
    // and the metadata DSL carries partitionBy through parsing
    val meta = MetadataReader.parse(s"""{
      "dataflows": [{
        "name": "p", "sources": [{"name": "s", "path": "x", "format": "json"}],
        "transformations": [],
        "sinks": [{"input": "s", "name": "o", "paths": ["$out/meta"],
          "format": "parquet", "saveMode": "overwrite",
          "partitionBy": ["office"]}]}]}""")
    assert(meta.dataflows.head.sinks.head.partitionBy == Seq("office"))
  }

  test("csv source reads through the format registry with explicit schema") {
    val in = Files.createTempDirectory("graft_csv_in_").toString
    Files.writeString(java.nio.file.Paths.get(s"$in/people.csv"),
      "ana,31,lisbon\nbo,44,porto\n")
    val df = graft.sources.SourceReader.readOne(spark,
      graft.config.SourceConf("s", in, "csv", Some("name STRING, age BIGINT, office STRING")))
    assert(df.schema.fieldNames.toSeq == Seq("name", "age", "office"))
    assert(df.orderBy($"name").as[(String, Long, String)].collect().toSeq ==
      Seq(("ana", 31L, "lisbon"), ("bo", 44L, "porto")))
    // and a csv source unions by name with a json source (schema drift safe)
    val jin = Files.createTempDirectory("graft_csv_jin_").toString
    Files.writeString(java.nio.file.Paths.get(s"$jin/p.json"),
      """{"name":"cy","office":"faro"}""" + "\n")
    val both = graft.sources.SourceReader.read(spark, Seq(
      graft.config.SourceConf("c", in, "csv", Some("name STRING, age BIGINT, office STRING")),
      graft.config.SourceConf("j", jin, "json", Some("name STRING, office STRING"))))
    assert(both.count() == 3)
    assert(both.filter($"name" === "cy").select($"age").head().isNullAt(0),
      "missing csv column must null-fill for the json source")
  }

  test("quarantine read splits malformed records from good rows") {
    val in = Files.createTempDirectory("graft_q_in_").toString
    Files.writeString(java.nio.file.Paths.get(s"$in/mixed.json"),
      """{"name":"ana","age":31}
        |{"name":"bo","age":"not-a-number"}
        |{broken json line
        |{"name":"cy","age":28}
        |""".stripMargin)
    val (good, bad) = graft.sources.SourceReader.readWithQuarantine(spark,
      graft.config.SourceConf("s", in, "json", Some("name STRING, age BIGINT")))
    try {
      assert(good.select($"name").as[String].collect().toSet == Set("ana", "cy"))
      val raws = bad.select($"raw_record").as[String].collect()
      assert(raws.length == 2, s"got ${raws.toSeq}")
      assert(raws.exists(_.contains("not-a-number")), "type mismatch must quarantine")
      assert(raws.exists(_.contains("broken json")), "syntax error must quarantine")
    } finally graft.Caches.releaseAll()
  }

  test("gated quarantine fixture splits 80 clean / 20 quarantined") {
    graft.operators.Parity.writeQuarantineFixture()
    val (good, bad) = graft.sources.SourceReader.readWithQuarantine(spark,
      graft.config.SourceConf("mixed", graft.operators.Parity.QuarantineFixturePath,
        "csv", Some(graft.operators.Parity.QuarantineSchemaDdl)))
    try {
      assert(good.count() == 80, "clean split must keep the 80 well-formed rows")
      assert(bad.count() == 20, "all four malformation arms must quarantine")
      // every corrupt arm is represented in the raw records
      val raws = bad.select($"raw_record").as[String].collect()
      assert(raws.exists(_.startsWith("bad")), "unparseable key arm missing")
      assert(raws.exists(_.split(",").length == 2), "missing-column arm missing")
      assert(raws.exists(_.endsWith("notadouble")), "bad-numeric arm missing")
      assert(raws.exists(_.endsWith(",extra")), "extra-column arm missing")
    } finally graft.Caches.releaseAll()
  }

  test("a topic-only sink with no Kafka server fails fast instead of dropping data") {
    val sink = graft.config.SinkConf("ok_with_date", "k", Seq.empty, "json",
      "append", topic = Some("t"))
    val e = intercept[IllegalArgumentException] {
      graft.sinks.Sinks.persist(Seq(sink),
        Map("ok_with_date" -> Seq(1).toDF("x")), kafkaServer = None)
    }
    assert(e.getMessage.contains("silently dropped"))
  }

  test("every sink is checked before any write: a bad sink leaves a good one's path empty") {
    import graft.config.SinkConf
    val out = Files.createTempDirectory("graft_out_checked_").toString
    val good = SinkConf("ok_with_date", "good", Seq(s"$out/good"), "json", "overwrite",
      topic = Some("t"))
    val splits = Map("ok_with_date" -> Seq(1).toDF("x"), "validation_ko" -> Seq(2).toDF("x"))
    Seq(
      (SinkConf("no_such_split", "bad", Seq(s"$out/bad"), "json", "overwrite"), None,
        "no_such_split"),
      (SinkConf("validation_ko", "bad", Nil, "json", "append", topic = Some("t")), None,
        "silently dropped"),
      // a broker is named, but the check fails before anything connects to it
      (SinkConf("validation_ko", "bad", Seq(s"$out/bad"), "json", "overwrite"),
        Some("localhost:9"), "no Kafka topic")
    ).foreach { case (bad, broker, msg) =>
      val e = intercept[IllegalArgumentException](
        graft.sinks.Sinks.persist(Seq(good, bad), splits, broker, defaultTopics = Map.empty))
      assert(e.getMessage.contains(msg))
      assert(!new java.io.File(s"$out/good").exists(), s"'$msg': the good sink was written")
    }
  }

  test("add_fields sequential semantics: later fields see earlier ones") {
    val df = Seq((2, 3)).toDF("a", "b")
    val out = AddFields(Seq(
      FieldDef("s", "a + b"),
      FieldDef("s2", "s * s")))(df)
    assert(out.select("s2").as[Int].head() == 25)
  }

  test("curation transforms: OK split deduped deterministically and filtered; KO untouched") {
    val in = Files.createTempDirectory("graft_curate_in_").toString
    Files.writeString(java.nio.file.Paths.get(s"$in/batch.json"),
      """{"name":"Ana","age":40,"office":"RIO"}
        |{"name":"Ana","age":28,"office":"RIO"}
        |{"name":"Ana","age":35,"office":"LIS"}
        |{"name":"Kid","age":9,"office":"RIO"}
        |{"name":"Bad","age":50,"office":""}
        |""".stripMargin)
    val conf = MetadataReader.parse(s"""{
      "dataflows": [{
        "name": "curated",
        "sources": [{"name": "in", "path": "$in/*", "format": "json",
                     "schema": "name STRING, age BIGINT, office STRING"}],
        "transformations": [
          {"name": "validation", "type": "validate_fields",
           "params": {"validations": [{"field": "office", "validations": ["notEmpty"]}]}},
          {"name": "dedup", "type": "deduplicate",
           "params": {"columns": ["name", "office"], "keepBy": "age"}},
          {"name": "adults", "type": "filter_expr", "params": {"expr": "age >= 18"}}
        ],
        "sinks": []
      }]}""").dataflows.head
    val res = PipelineRunner.plan(spark, conf)
    try {
      val ok = res.ok.select($"name", $"age", $"office")
        .as[(String, Long, String)].collect().toSet
      // (Ana,RIO): min(age)=28 survives; (Ana,LIS) kept; Kid filtered out
      assert(ok == Set(("Ana", 28L, "RIO"), ("Ana", 35L, "LIS")))
      // KO keeps the failing row untouched by curation
      assert(res.ko.select($"name").as[String].collect().toSeq == Seq("Bad"))
    } finally res.split.unpersist()
  }

  test("deduplicate survivor is deterministic even on keepBy ties") {
    import graft.config.DeduplicateConf
    val rows = Seq(
      ("Ana", "RIO", 28L, "zeta"), ("Ana", "RIO", 28L, "alpha"),
      ("Ana", "RIO", 28L, "mid"))
    // repartition shuffles arrival order; the survivor must not care
    val df = rows.toDF("name", "office", "age", "tag").repartition(4)
    val got = (1 to 3).map { _ =>
      PipelineRunner.applyPost(df,
          Seq(DeduplicateConf("dd", None, Seq("name", "office"), "age")))
        .select($"tag").as[String].collect().toSeq
    }
    assert(got.toSet.size == 1, s"nondeterministic survivors: $got")
    assert(got.head == Seq("alpha"), "tie must break to the column-order minimum")
  }
}
