package org.apache.spark.sql.graft

import scala.collection.mutable

import org.apache.spark.sql.catalyst.expressions.{
  Attribute, CreateArray, ExpectsInputTypes, Explode, ExprId, ExprUtils, Expression,
  GetStructField, IsNotNull, TimeZoneAwareExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.json.{CreateJacksonParser, JSONOptions, JacksonParser}
import org.apache.spark.sql.catalyst.plans.logical.{Generate, LogicalPlan, SetOperation, Union}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.GENERATE
import org.apache.spark.sql.catalyst.util.FailureSafeParser
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{AbstractDataType, DataType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** `from_json(child, schema)` for a wire payload, with the parser built
  * per row from a `String` instead of an `InputStreamReader`.
  *
  * The options, the `JacksonParser` and the PERMISSIVE `FailureSafeParser`
  * are the ones Spark's `JsonToStructsEvaluator` builds for `from_json`
  * with no options, so a payload yields the same record, or null when no
  * record comes back (empty or whitespace-only text). Only the per-row
  * Jackson parser differs: `from_json` wraps every row's bytes in a new
  * `InputStreamReader` (`CreateJacksonParser.utf8String`); this decodes
  * them once with `UTF8String.toString` and parses the `String`. Both
  * decode as UTF-8 with U+FFFD for malformed bytes and keep a BOM as a
  * character. Jackson's byte-array factory is not used: it detects the
  * encoding from the bytes, and so reads invalid UTF-8, a BOM or UTF-16
  * input differently from `from_json`.
  *
  * `PruneJsonPayloadFields` narrows `schema` to the fields a plan reads.
  */
case class DecodeJsonPayload(child: Expression, schema: StructType,
                             timeZoneId: Option[String] = None)
    extends UnaryExpression with TimeZoneAwareExpression with CodegenFallback
    with ExpectsInputTypes {

  override def dataType: DataType = schema.asNullable
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def prettyName: String = "decode_json_payload"
  override def flatArguments: Iterator[Any] = Iterator(child, schema.catalogString)

  override def withTimeZone(timeZoneId: String): TimeZoneAwareExpression =
    copy(timeZoneId = Some(timeZoneId))

  @transient private lazy val parser: FailureSafeParser[UTF8String] = {
    val options = new JSONOptions(Map.empty[String, String], timeZoneId.get,
      SQLConf.get.getConf(SQLConf.COLUMN_NAME_OF_CORRUPT_RECORD))
    val nullableSchema = schema.asNullable
    ExprUtils.verifyColumnNameOfCorruptRecord(nullableSchema, options.columnNameOfCorruptRecord)
    val rawParser = new JacksonParser(
      StructType(nullableSchema.filterNot(_.name == options.columnNameOfCorruptRecord)),
      options, allowArrayAsStructs = false)
    new FailureSafeParser[UTF8String](
      rawParser.parse(_,
        (factory, json: UTF8String) => CreateJacksonParser.string(factory, json.toString),
        identity[UTF8String]),
      options.parseMode, nullableSchema, options.columnNameOfCorruptRecord)
  }

  override protected def nullSafeEval(json: Any): Any = {
    val rows = parser.parse(json.asInstanceOf[UTF8String])
    if (rows.hasNext) rows.next() else null
  }

  override protected def withNewChildInternal(newChild: Expression): DecodeJsonPayload =
    copy(child = newChild)
}

/** Parses only the payload fields a plan reads.
  *
  * Matches the one-element `explode(array(decode_json_payload(...)))` of
  * `StreamingPipeline.fromJsonPayload`. When every use of its output `r` is
  * a field read `r.f` or the `isnotnull(r)` guard, the decode's schema is
  * narrowed to the fields read and each `r.f` is re-pointed at its new
  * ordinal. The reference changelog reads 3 of the 20 fields. Skipped
  * fields are still tokenized, so a syntax error anywhere in the payload
  * nulls the record as before, and whether a record comes back does not
  * depend on the schema, so the guard keeps the same rows.
  *
  * Catalyst has no rule for this: `OptimizeJsonExprs` prunes only a lone
  * `GetStructField(JsonToStructs)`, not a parse whose struct several
  * field reads share.
  */
object PruneJsonPayloadFields extends Rule[LogicalPlan] {

  private object PayloadGenerate {
    def unapply(g: Generate): Option[(DecodeJsonPayload, Attribute)] = g match {
      case Generate(Explode(CreateArray(Seq(d: DecodeJsonPayload), _)), _, _, _, Seq(r), _) =>
        Some((d, r))
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!plan.containsPattern(GENERATE)) return plan
    // r's exprId -> (narrowed decode, narrowed r, old ordinal -> new ordinal)
    val narrowed: Map[ExprId, (DecodeJsonPayload, Attribute, Map[Int, Int])] = plan.collect {
      case PayloadGenerate(d, r) => (d, r)
    }.flatMap { case (d, r) =>
      fieldsRead(plan, r.exprId)
        .filter(read => read.nonEmpty && read.size < d.schema.length)
        .map { read =>
          val kept = read.toSeq.sorted
          val d2 = d.copy(schema = StructType(kept.map(d.schema(_))))
          r.exprId -> ((d2, r.withDataType(d2.dataType), kept.zipWithIndex.toMap))
        }
    }.toMap
    if (narrowed.isEmpty) return plan
    // only a Generate and its ancestors can see r
    plan.transformUpWithPruning(_.containsPattern(GENERATE)) {
      case g @ PayloadGenerate(_, r) if narrowed.contains(r.exprId) =>
        val (d2, r2, _) = narrowed(r.exprId)
        g.copy(generator = Explode(CreateArray(Seq(d2))), generatorOutput = Seq(r2))
      case node => node.transformExpressions {
        case GetStructField(a: Attribute, ordinal, name) if narrowed.contains(a.exprId) =>
          val (_, r2, ordinals) = narrowed(a.exprId)
          GetStructField(r2, ordinals(ordinal), name)
        case a: Attribute if narrowed.contains(a.exprId) => narrowed(a.exprId)._2
      }
    }
  }

  /** The ordinals of `r` that `plan` reads, or None when `plan` uses `r`
    * other than by a field read or `isnotnull(r)`: returns it, combines it
    * by position with another input, or passes it whole to an expression. */
  private def fieldsRead(plan: LogicalPlan, r: ExprId): Option[Set[Int]] = {
    val read = mutable.Set.empty[Int]
    def readsOnly(e: Expression): Boolean = e match {
      case GetStructField(a: Attribute, ordinal, _) if a.exprId == r => read += ordinal; true
      case IsNotNull(a: Attribute) if a.exprId == r => true
      case a: Attribute => a.exprId != r
      case _ => e.children.forall(readsOnly)
    }
    val otherUse = plan.output.exists(_.exprId == r) || plan.exists {
      case PayloadGenerate(_, a) if a.exprId == r => false
      case s @ (_: Union | _: SetOperation) => s.output.exists(_.exprId == r)
      case node => !node.expressions.forall(readsOnly)
    }
    if (otherUse) None else Some(read.toSet)
  }
}
