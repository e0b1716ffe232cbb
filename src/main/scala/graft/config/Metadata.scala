package graft.config

import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import com.fasterxml.jackson.module.scala.{ClassTagExtensions, DefaultScalaModule}
import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
import org.apache.spark.sql.types.StructType

/** Typed metadata model for the dataflow-document DSL.
  *
  * The JSON shape is compatible with the reference's config documents
  * (reference `Dataflow.scala:3-32`, example `metadata.json:1-70`): a
  * `dataflows` array, each with `sources`, `transformations` (types
  * `add_fields` / `validate_fields`) and `sinks`. Differences from the
  * reference, all strictness fixes (SURVEY §3.2, §7.4):
  *
  *   - unknown transformation types, validation rules, and sink inputs are
  *     rejected AT PARSE TIME with a descriptive error (the reference
  *     silently ignores unknown transformation types and throws a bare
  *     `MatchError` at run time for unknown rules/sinks,
  *     `PipelineProcessor.scala:57-60,120-144`);
  *   - `add_fields` functions, `filter_expr` expressions and source
  *     `schema` DDL are syntax-checked at parse time, naming the dataflow
  *     and the transformation or source;
  *   - sources may carry an optional explicit `schema` (DDL string) — at
  *     100 TB, schema inference is an extra scan we refuse to pay;
  *   - sinks may carry an optional `topic` (the reference hardcodes
  *     `pipeline-ok` / `pipeline-ko`, `PipelineProcessor.scala:131,143`).
  *
  * Decoding uses jackson-module-scala (ships with Spark; the reference's
  * lift-json is not available offline and not wanted).
  */
final case class DataflowMetadata(dataflows: Seq[DataflowConf])

final case class DataflowConf(
    name: String,
    sources: Seq[SourceConf],
    transformations: Seq[TransformConf],
    sinks: Seq[SinkConf])

final case class SourceConf(
    name: String,
    path: String,
    format: String,
    schema: Option[String] = None)

/** Transformation ADT. `input` is carried for documentation parity but —
  * like the reference (`Dataflow.scala:18` parsed, never read) — the
  * default pipeline wiring is add_fields → validate (SURVEY §3.2).
  */
sealed trait TransformConf { def name: String; def input: Option[String] }
final case class AddFieldsConf(
    name: String,
    input: Option[String],
    fields: Seq[FieldDef]) extends TransformConf
final case class ValidateFieldsConf(
    name: String,
    input: Option[String],
    rules: Seq[FieldRules]) extends TransformConf

/** Extension transforms beyond the reference DSL (which stops at
  * add_fields/validate_fields — SURVEY §2.6). Both apply to the OK
  * split AFTER validation, in declaration order: curation acts on rows
  * that passed the contract, and KO rows keep their original shape for
  * triage. */
final case class DeduplicateConf(
    name: String,
    input: Option[String],
    /** Identity columns: one surviving row per distinct tuple. */
    columns: Seq[String],
    /** Tie-break: survivor = MIN(keepBy) within the group (determinism
      * contract; None = arbitrary-but-stable first row per partition
      * order, which is NOT reproducible across runs — parse requires
      * it). */
    keepBy: String) extends TransformConf
final case class FilterConf(
    name: String,
    input: Option[String],
    /** Any boolean Spark SQL expression (same surface as add_fields'
      * `function`). */
    expr: String) extends TransformConf

/** A computed column: `function` is any Spark SQL expression string (the
  * reference's entire scalar-function surface, `PipelineProcessor.scala:99`). */
final case class FieldDef(name: String, function: String)

final case class FieldRules(field: String, rules: Seq[ValidationRule])

/** Validation rule ADT — exhaustive, sealed (the reference pattern-matches
  * on raw strings and `MatchError`s on anything unknown,
  * `PipelineProcessor.scala:57-60`). */
sealed trait ValidationRule {
  /** Error code emitted for a failing row, e.g. `office-notEmpty` —
    * format per reference `PipelineProcessor.scala:58-59`. */
  def code(field: String): String = s"$field-$ruleName"
  def ruleName: String
}
case object NotEmpty extends ValidationRule { val ruleName = "notEmpty" }
case object NotNull extends ValidationRule { val ruleName = "notNull" }
/** Extension rules beyond the reference's two. */
final case class MatchesRegex(regex: String) extends ValidationRule { val ruleName = "matchesRegex" }
final case class MinLength(n: Int) extends ValidationRule { val ruleName = "minLength" }

object ValidationRule {
  /** Rejects a malformed argument here, naming the rule, rather than as
    * a bare NumberFormatException or inside the first Spark job. */
  def parse(s: String): ValidationRule = s match {
    case "notEmpty" => NotEmpty
    case "notNull"  => NotNull
    case other if other.startsWith("matchesRegex:") =>
      val re = other.stripPrefix("matchesRegex:")
      try { java.util.regex.Pattern.compile(re); MatchesRegex(re) }
      catch { case e: java.util.regex.PatternSyntaxException => throw new IllegalArgumentException(
        s"validation rule '$other': invalid regex (${e.getDescription})", e) }
    case other if other.startsWith("minLength:") =>
      MinLength(other.stripPrefix("minLength:").toIntOption.filter(_ >= 0).getOrElse(
        throw new IllegalArgumentException(s"validation rule '$other': minLength needs an integer >= 0")))
    case other => throw new IllegalArgumentException(
      s"unknown validation rule '$other' (supported: notEmpty, notNull, matchesRegex:<re>, minLength:<n>)")
  }
}

final case class SinkConf(
    input: String,
    name: String,
    paths: Seq[String],
    format: String,
    saveMode: String,
    topic: Option[String] = None,
    partitionBy: Seq[String] = Nil)

object MetadataReader {

  // Raw Jackson mirror of the JSON document (pre-validation).
  private[config] final case class RawMetadata(dataflows: Seq[RawDataflow])
  private[config] final case class RawDataflow(
      name: String, sources: Seq[RawSource],
      transformations: Seq[RawTransform], sinks: Seq[RawSink])
  private[config] final case class RawSource(
      name: String, path: String, format: String, schema: Option[String])
  private[config] final case class RawTransform(
      name: String, `type`: String, params: RawParams)
  private[config] final case class RawParams(
      input: Option[String],
      validations: Option[Seq[RawValidation]],
      addFields: Option[Seq[RawAddField]],
      columns: Option[Seq[String]] = None,
      keepBy: Option[String] = None,
      expr: Option[String] = None)
  private[config] final case class RawValidation(field: String, validations: Seq[String])
  private[config] final case class RawAddField(name: String, function: String)
  private[config] final case class RawSink(
      input: String, name: String, paths: Seq[String],
      format: String, saveMode: String, topic: Option[String],
      partitionBy: Option[Seq[String]])

  private val mapper = {
    val m = new ObjectMapper() with ClassTagExtensions
    m.registerModule(DefaultScalaModule)
    m.configure(DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES, false)
    m
  }

  def parse(json: String): DataflowMetadata = {
    val raw = mapper.readValue[RawMetadata](json)
    DataflowMetadata(raw.dataflows.map(validateDataflow))
  }

  def read(path: String): DataflowMetadata =
    parse(new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
      java.nio.charset.StandardCharsets.UTF_8))

  /** Jackson leaves a MISSING field of a non-Option Seq/object type as
    * null — a raw `.map`/`.nonEmpty` on it would surface as a bare NPE
    * instead of the descriptive parse-time error this module promises. */
  private def orNil[A](xs: Seq[A]): Seq[A] = Option(xs).getOrElse(Nil)

  /** Parse-time syntax check of a Spark SQL string (`what` in `where`):
    * a typo fails HERE, naming its dataflow, rather than at job submit
    * inside Catalyst, which for a stream is inside the first micro-batch
    * after the query has started. Spark 4's `functions.expr` defers
    * parsing to analysis, so the parser is invoked directly. */
  private def parseChecked(where: String, what: String, text: String)(parse: String => Any): Unit =
    try { parse(text); () }
    catch { case ex: Exception => throw new IllegalArgumentException(
      s"$where: unparseable $what '$text': ${ex.getMessage}", ex) }

  private def validateDataflow(d: RawDataflow): DataflowConf = {
    require(orNil(d.sources).nonEmpty, s"dataflow '${d.name}': at least one source required")
    val transforms = orNil(d.transformations).map { t =>
      val params = Option(t.params).getOrElse(throw new IllegalArgumentException(
        s"dataflow '${d.name}', transformation '${t.name}': params object required"))
      t.`type` match {
        case "add_fields" =>
          val fs = params.addFields.getOrElse(throw new IllegalArgumentException(
            s"dataflow '${d.name}', transformation '${t.name}': add_fields requires params.addFields"))
          fs.foreach(f => parseChecked(s"dataflow '${d.name}', transformation '${t.name}'",
            s"add_fields function of field '${f.name}'", f.function)(CatalystSqlParser.parseExpression))
          AddFieldsConf(t.name, params.input, fs.map(f => FieldDef(f.name, f.function)))
        case "validate_fields" =>
          val vs = params.validations.getOrElse(throw new IllegalArgumentException(
            s"dataflow '${d.name}', transformation '${t.name}': validate_fields requires params.validations"))
          ValidateFieldsConf(t.name, params.input,
            vs.map(v => FieldRules(v.field, orNil(v.validations).map(ValidationRule.parse))))
        case "deduplicate" =>
          val cols = params.columns.filter(_.nonEmpty).getOrElse(
            throw new IllegalArgumentException(
              s"dataflow '${d.name}', transformation '${t.name}': " +
              "deduplicate requires non-empty params.columns"))
          val keepBy = params.keepBy.getOrElse(throw new IllegalArgumentException(
            s"dataflow '${d.name}', transformation '${t.name}': deduplicate " +
            "requires params.keepBy (the deterministic survivor tie-break)"))
          DeduplicateConf(t.name, params.input, cols, keepBy)
        case "filter_expr" =>
          val e = params.expr.filter(_.trim.nonEmpty).getOrElse(
            throw new IllegalArgumentException(
              s"dataflow '${d.name}', transformation '${t.name}': " +
              "filter_expr requires params.expr"))
          parseChecked(s"dataflow '${d.name}', transformation '${t.name}'",
            "filter expression", e)(CatalystSqlParser.parseExpression)
          FilterConf(t.name, params.input, e)
        case other => throw new IllegalArgumentException(
          s"dataflow '${d.name}', transformation '${t.name}': unknown type '$other' " +
          "(supported: add_fields, validate_fields, deduplicate, filter_expr)")
      }
    }
    val sinks = orNil(d.sinks).map { s =>
      require(orNil(s.paths).nonEmpty || s.topic.nonEmpty,
        s"dataflow '${d.name}', sink '${s.name}': needs at least one path or a topic")
      SinkConf(s.input, s.name, orNil(s.paths), s.format, s.saveMode, s.topic,
        s.partitionBy.getOrElse(Nil))
    }
    val sources = orNil(d.sources).map { s =>
      s.schema.foreach(parseChecked(s"dataflow '${d.name}', source '${s.name}'",
        "schema", _)(StructType.fromDDL))
      SourceConf(s.name, s.path, s.format, s.schema)
    }
    DataflowConf(d.name, sources, transforms, sinks)
  }
}
