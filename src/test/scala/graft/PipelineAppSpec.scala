package graft

import java.nio.file.{Files, Paths}

/** End-to-end drive of the CLI streaming path (the exact code main runs
  * after session construction): metadata file → arg parsing →
  * schema-required file source → runDataflow → checkpointed fan-out to
  * file sinks, across two micro-batches. */
class PipelineAppSpec extends SparkSpec {
  import spark.implicits._

  private def write(path: String, lines: String*): Unit =
    Files.write(Paths.get(path), lines.mkString("\n").getBytes("UTF-8"))

  test("--streaming drives a metadata dataflow end-to-end across batches") {
    val base = Files.createTempDirectory("graft_app_e2e_").toString
    val in = s"$base/in"; val out = s"$base/out"; val ckpt = s"$base/ckpt"
    Files.createDirectories(Paths.get(in))

    val metaPath = s"$base/metadata.json"
    write(metaPath, s"""
      {"dataflows": [{
        "name": "person-events",
        "sources": [{
          "name": "person_inputs",
          "path": "$in",
          "format": "JSON",
          "schema": "name STRING, age BIGINT, office STRING"
        }],
        "transformations": [
          {"name": "validation", "type": "validate_fields", "params": {
            "input": "person_inputs",
            "validations": [
              {"field": "office", "validations": ["notEmpty"]},
              {"field": "age", "validations": ["notNull"]}]}},
          {"name": "ok_with_date", "type": "add_fields", "params": {
            "input": "validation_ok",
            "addFields": [{"name": "office_uc", "function": "upper(office)"}]}}
        ],
        "sinks": [
          {"input": "ok_with_date", "name": "raw-ok", "paths": ["$out/ok"],
           "format": "JSON", "saveMode": "APPEND"},
          {"input": "validation_ko", "name": "raw-ko", "paths": ["$out/ko"],
           "format": "JSON", "saveMode": "APPEND"}
        ]}]}""")

    write(s"$in/batch1.json",
      """{"name": "ana", "age": 31, "office": "lisbon"}""",
      """{"name": "bo", "office": "porto"}""")

    val queries = PipelineApp.run(spark,
      Array(metaPath, "--streaming", "--checkpoint", ckpt))
    assert(queries.size == 1)
    try {
      queries.foreach(_.processAllAvailable())
      def okDf = spark.read.format("json").load(s"$out/ok/raw-ok")
      def koDf = spark.read.format("json").load(s"$out/ko/raw-ko")
      assert(okDf.count() == 1)
      val ok1 = okDf.select($"name", $"office_uc").as[(String, String)].head()
      assert(ok1 == ("ana", "LISBON"), "add_fields must apply to the OK split")
      val ko1 = koDf.select($"name", $"arraycoderrorbyfield").as[(String, Seq[String])].head()
      assert(ko1._1 == "bo" && ko1._2.nonEmpty, "null age must route to KO with error codes")

      // second micro-batch: append-mode sinks accumulate
      write(s"$in/batch2.json",
        """{"name": "cy", "age": 44, "office": ""}""",
        """{"name": "di", "age": 28, "office": "faro"}""")
      queries.foreach(_.processAllAvailable())
      assert(okDf.count() == 2)
      assert(koDf.count() == 2)
      assert(okDf.filter($"name" === "di" && $"office_uc" === "FARO").count() == 1)
      assert(koDf.filter($"name" === "cy").count() == 1, "empty office must route to KO")
    } finally queries.foreach(_.stop())
  }

  test("--streaming rejects a source without an explicit schema") {
    val base = Files.createTempDirectory("graft_app_noschema_").toString
    val metaPath = s"$base/metadata.json"
    write(metaPath, s"""
      {"dataflows": [{
        "name": "no-schema",
        "sources": [{"name": "s", "path": "$base/in", "format": "JSON"}],
        "transformations": [],
        "sinks": []}]}""")
    val e = intercept[IllegalArgumentException] {
      PipelineApp.run(spark, Array(metaPath, "--streaming", "--checkpoint", s"$base/ckpt"))
    }
    assert(e.getMessage.contains("schema"))
  }

  test("--repartition rejects a count that is not a positive integer") {
    Seq("0", "abc").foreach { n =>
      val e = intercept[IllegalArgumentException](
        PipelineApp.run(spark, Array("unused.json", "--repartition", n)))
      assert(e.getMessage.contains(s"--repartition needs a positive integer, got '$n'"))
    }
  }
}
