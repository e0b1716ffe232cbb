package graft.config

import org.scalatest.funsuite.AnyFunSuite

class MetadataReaderSpec extends AnyFunSuite {

  /** Shape-compatible with the reference's example document
    * (`metadata.json:1-70`). */
  val referenceShaped: String = """{
    "dataflows": [{
      "name": "prueba-acceso",
      "sources": [
        {"name": "person_inputs", "path": "/data/input/events/person/*", "format": "JSON"}
      ],
      "transformations": [
        {"name": "validation", "type": "validate_fields",
         "params": {"input": "person_inputs", "validations": [
           {"field": "office", "validations": ["notEmpty"]},
           {"field": "age", "validations": ["notNull"]}]}},
        {"name": "ok_with_date", "type": "add_fields",
         "params": {"input": "validation_ok", "addFields": [
           {"name": "dt", "function": "current_timestamp"}]}}
      ],
      "sinks": [
        {"input": "ok_with_date", "name": "raw-ok", "paths": ["/data/output/events/person"],
         "format": "JSON", "saveMode": "OVERWRITE"},
        {"input": "validation_ko", "name": "raw-ko", "paths": ["/data/output/discards/person"],
         "format": "JSON", "saveMode": "OVERWRITE"}
      ]
    }]
  }"""

  test("decodes a reference-shaped document into the typed ADT") {
    val meta = MetadataReader.parse(referenceShaped)
    assert(meta.dataflows.size == 1)
    val df = meta.dataflows.head
    assert(df.name == "prueba-acceso")
    assert(df.sources == Seq(SourceConf("person_inputs", "/data/input/events/person/*", "JSON")))
    assert(df.transformations.collect { case v: ValidateFieldsConf => v.rules }.flatten ==
      Seq(FieldRules("office", Seq(NotEmpty)), FieldRules("age", Seq(NotNull))))
    assert(df.transformations.collect { case a: AddFieldsConf => a.fields }.flatten ==
      Seq(FieldDef("dt", "current_timestamp")))
    assert(df.sinks.map(_.input) == Seq("ok_with_date", "validation_ko"))
    assert(df.sinks.head.saveMode == "OVERWRITE")
  }

  test("rejects unknown validation rules at parse time (reference MatchErrors at run time)") {
    Seq("notBanana", "minLength:abc", "minLength:-1", "matchesRegex:(").foreach { rule =>
      val bad = referenceShaped.replace("\"notEmpty\"", s"\"$rule\"")
      val e = intercept[IllegalArgumentException](MetadataReader.parse(bad))
      assert(e.getMessage.contains(rule), e.getMessage)
    }
  }

  test("rejects unknown transformation types (reference silently ignores them)") {
    val bad = referenceShaped.replace("\"validate_fields\"", "\"frobnicate\"")
    val e = intercept[IllegalArgumentException](MetadataReader.parse(bad))
    assert(e.getMessage.contains("frobnicate"))
  }

  test("missing params/paths fail with descriptive errors, not NPEs") {
    val noParams = """{"dataflows": [{
      "name": "d", "sources": [{"name": "s", "path": "p", "format": "json"}],
      "transformations": [{"name": "t", "type": "add_fields"}],
      "sinks": []}]}"""
    val e1 = intercept[IllegalArgumentException](MetadataReader.parse(noParams))
    assert(e1.getMessage.contains("params"))
    val noPaths = """{"dataflows": [{
      "name": "d", "sources": [{"name": "s", "path": "p", "format": "json"}],
      "transformations": [],
      "sinks": [{"input": "ok_with_date", "name": "k", "format": "json",
                 "saveMode": "append"}]}]}"""
    val e2 = intercept[IllegalArgumentException](MetadataReader.parse(noPaths))
    assert(e2.getMessage.contains("path or a topic"))
  }

  test("parses extension curation transforms; rejects malformed ones") {
    val good = """{"dataflows": [{
      "name": "d", "sources": [{"name": "s", "path": "p", "format": "json"}],
      "transformations": [
        {"name": "dd", "type": "deduplicate",
         "params": {"columns": ["name", "office"], "keepBy": "age"}},
        {"name": "grown", "type": "filter_expr",
         "params": {"expr": "age >= 18"}}],
      "sinks": []}]}"""
    val conf = MetadataReader.parse(good).dataflows.head
    assert(conf.transformations == Seq(
      DeduplicateConf("dd", None, Seq("name", "office"), "age"),
      FilterConf("grown", None, "age >= 18")))
    val noKeep = good.replace(""", "keepBy": "age"""", "")
    assert(intercept[IllegalArgumentException](MetadataReader.parse(noKeep))
      .getMessage.contains("keepBy"))
    val noCols = good.replace(""""columns": ["name", "office"], """, "")
    assert(intercept[IllegalArgumentException](MetadataReader.parse(noCols))
      .getMessage.contains("columns"))
    val badExpr = good.replace("age >= 18", "age >>>= (")
    assert(intercept[IllegalArgumentException](MetadataReader.parse(badExpr))
      .getMessage.contains("unparseable filter expression"))
    // add_fields functions and source schemas are syntax-checked as well,
    // naming the dataflow and the transformation or source
    val badField = referenceShaped.replace("\"current_timestamp\"", "\"upper(name\"")
    val e1 = intercept[IllegalArgumentException](MetadataReader.parse(badField)).getMessage
    assert(Seq("prueba-acceso", "ok_with_date", "'dt'", "upper(name").forall(e1.contains), e1)
    val withSchema = referenceShaped.replace("\"format\": \"JSON\"}",
      "\"format\": \"JSON\", \"schema\": \"name STRING, age BIGINT\"}")
    assert(MetadataReader.parse(withSchema).dataflows.head.sources.head.schema
      .contains("name STRING, age BIGINT"))
    val badSchema = withSchema.replace("age BIGINT", "age")
    val e2 = intercept[IllegalArgumentException](MetadataReader.parse(badSchema)).getMessage
    assert(Seq("prueba-acceso", "person_inputs", "unparseable schema").forall(e2.contains), e2)
  }

  test("parses extension rules with arguments") {
    assert(ValidationRule.parse("minLength:42") == MinLength(42))
    assert(ValidationRule.parse("matchesRegex:^a+$") == MatchesRegex("^a+$"))
  }

  test("error codes follow the reference field-rule format") {
    assert(NotEmpty.code("office") == "office-notEmpty")
    assert(NotNull.code("age") == "age-notNull")
  }
}
