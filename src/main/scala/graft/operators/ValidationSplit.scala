package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.storage.StorageLevel
import graft.config.{FieldRules, MatchesRegex, MinLength, NotEmpty, NotNull, ValidationRule}

/** OK/KO validation split — the reference's core operator
  * (`PipelineProcessor.scala:44-87`), re-expressed as a SINGLE projection
  * over one scan instead of the reference's two full filter re-scans plus a
  * per-rule `withColumn` chain.
  *
  * Semantics: every row gets `arraycoderrorbyfield: array<string>` holding
  * the code of each failed rule (format `field-rule`, reference `:58-59`);
  * OK = empty array, KO = non-empty.
  *
  * == Null semantics (deviation, SURVEY §7.4.1) ==
  * The reference filters `ok = (p1 and p2)` and `ko = !(p1 and p2)`; under
  * SQL three-valued logic a NULL predicate (e.g. `notEmpty` over a NULL
  * field: `field != ''` is NULL) makes the row fall out of BOTH splits, and
  * its error array misses codes for NULL-failing rules (`:68-82`). This
  * engine treats "not definitely TRUE" as failure — `coalesce(pred, false)`
  * — so OK ∪ KO == input and every failed rule is coded.
  * `referenceCompat = true` reproduces the reference's row-dropping
  * behavior bit-for-bit for parity testing.
  *
  * == Scale ==
  * One pass computes the error array; the two splits are cheap filters over
  * the shared (optionally persisted) result — at 100 TB the input is read
  * once, not twice. No shuffle is introduced at all: validation is a
  * narrow, codegen'd projection (all built-in expressions, no UDFs).
  *
  * A persisted split whose input's planned size (Catalyst's file-size
  * estimate, read off the analyzed plan: no job) is at most
  * `spark.sql.adaptive.coalescePartitions.minPartitionSize` is persisted
  * as ONE partition. That is the smallest partition AQE makes, so any
  * shuffle over such an input would be coalesced to one partition anyway;
  * persisted as one, the cached relation reports `SinglePartition` and the
  * consumers pay no shuffle at all: a `deduplicate` window plans with no
  * `Exchange`, and each sink path gets one file. A small streaming
  * micro-batch is the case this is for. Larger inputs, and inputs of
  * unknown size (stats at `spark.sql.defaultSizeInBytes`, e.g. Kafka),
  * keep their partitioning.
  */
object ValidationSplit {

  val ErrorCol = "arraycoderrorbyfield"

  /** Compile one rule on one field to a Catalyst predicate ("row passes"). */
  def predicate(field: String, rule: ValidationRule): Column = rule match {
    case NotEmpty        => col(field) =!= lit("")
    case NotNull         => col(field).isNotNull
    case MatchesRegex(re)=> regexp_like(col(field), lit(re))
    case MinLength(n)    => length(col(field)) >= n
  }

  /** All (predicate, errorCode) pairs for a rule set. */
  def compile(rules: Seq[FieldRules]): Seq[(Column, String)] =
    for { fr <- rules; r <- fr.rules } yield (predicate(fr.field, r), r.code(fr.field))

  /** Append the error-array column in one projection. */
  def withErrors(df: DataFrame, rules: Seq[FieldRules]): DataFrame = {
    val compiled = compile(rules)
    val errs =
      if (compiled.isEmpty) array().cast("array<string>") // zero-rule edge: reference crashes (ParseException, SURVEY §2.3 F2); we pass all rows
      else array_compact(array(compiled.map { case (p, code) =>
        when(!coalesce(p, lit(false)), lit(code))
      }: _*))
    df.withColumn(ErrorCol, errs)
  }

  /** ok (without error column), ko (with it), and the shared annotated
    * plan both filters read — callers `unpersist` `shared` once all
    * consumers have run. */
  final case class Split(ok: DataFrame, ko: DataFrame, shared: DataFrame) {
    def unpersist(): Unit = { shared.unpersist(); () }
  }

  /** Whether `df`'s planned size is at most AQE's smallest partition
    * (see "Scale"). Reads plan statistics only; runs no job. */
  private def fitsOnePartition(df: DataFrame): Boolean =
    df.queryExecution.analyzed.stats.sizeInBytes <=
      df.sparkSession.sessionState.conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)

  /** Split into OK/KO over ONE scan of `df`. */
  def split(df: DataFrame, rules: Seq[FieldRules], persist: Boolean = true): Split = {
    val annotated = withErrors(df, rules)
    val shared =
      if (!persist) annotated
      else (if (fitsOnePartition(df)) annotated.coalesce(1) else annotated)
        .persist(StorageLevel.MEMORY_AND_DISK)
    val ok = shared.filter(size(col(ErrorCol)) === 0).drop(ErrorCol)
    val ko = shared.filter(size(col(ErrorCol)) > 0)
    Split(ok, ko, shared)
  }

  /** Reference-compatible split: exact reproduction of
    * `PipelineProcessor.scala:64-87` observable behavior, including the
    * 3VL row loss and the missing codes on NULL-failing predicates. For
    * compat tests only. */
  def splitReferenceCompat(df: DataFrame, rules: Seq[FieldRules]): Split = {
    val compiled = compile(rules)
    require(compiled.nonEmpty, "reference behavior on zero rules is a crash (empty filter string)")
    val all = compiled.map(_._1).reduce(_ && _)
    val ok = df.filter(all)
    val koBase = df.filter(!all).withColumn(ErrorCol, array().cast("array<string>"))
    val ko = compiled.foldLeft(koBase) { case (acc, (p, code)) =>
      acc.withColumn(ErrorCol,
        when(!p, array_union(col(ErrorCol), array(lit(code)))).otherwise(col(ErrorCol)))
    }
    Split(ok, ko, df)
  }
}
