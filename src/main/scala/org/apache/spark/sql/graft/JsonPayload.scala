package org.apache.spark.sql.graft

import scala.collection.mutable
import scala.util.control.NonFatal

import com.fasterxml.jackson.core.{JsonFactory, JsonParser, JsonToken}
import com.fasterxml.jackson.core.JsonParser.NumberType
import com.fasterxml.jackson.core.JsonToken._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Attribute, CreateArray, ExpectsInputTypes, Explode, ExprId, ExprUtils, Expression,
  GenericInternalRow, GetStructField, IsNotNull, TimeZoneAwareExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.json.{CreateJacksonParser, JSONOptions, JacksonParser}
import org.apache.spark.sql.catalyst.plans.logical.{Generate, LogicalPlan, SetOperation, Union}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.GENERATE
import org.apache.spark.sql.catalyst.util.{FailureSafeParser, ResolveDefaultColumns}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{
  AbstractDataType, DataType, DoubleType, IntegerType, LongType, StringType, StructType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** `from_json(child, schema)` for a wire payload, decoded on a token fast
  * path when the record is flat and plain, and by Spark's own parser
  * otherwise.
  *
  * The slow path is exact by construction: the options, the
  * `JacksonParser` and the PERMISSIVE `FailureSafeParser` are the ones
  * Spark's `JsonToStructsEvaluator` builds for `from_json` with no options,
  * so a payload yields the same record, or null when no record comes back
  * (empty or whitespace-only text). Only the per-row Jackson parser
  * differs: `from_json` wraps every row's bytes in a new `InputStreamReader`
  * (`CreateJacksonParser.utf8String`); this decodes them once with
  * `UTF8String.toString` and parses the `String`. Both decode as UTF-8 with
  * U+FFFD for malformed bytes and keep a BOM as a character.
  *
  * The fast path (`decodeFlat`) applies when every field of `schema` is a
  * long, int, double or non-collated string, none is the corrupt-record
  * column and none has an existence default. Per row it walks the tokens
  * of one root object with a parser from the same `JsonFactory`, looks
  * each field name up by exact case, skips unknown fields (a duplicate
  * key's last value wins) and requires the end of input after the object.
  * It accepts only the tokens whose conversion cannot fail: null for any
  * field, an int or long that fits for `IntegerType` / `LongType`, any
  * number for `DoubleType`, a string for `StringType`. Any other token,
  * trailing content or exception sends the row to the slow path, which
  * then returns exactly what `from_json` does. Jackson's byte-array parser
  * is used only when every byte is in 0x01-0x7F: it detects the encoding
  * from the bytes, which then reads as UTF-8 with the same chars as the
  * `String`; a BOM, NUL, non-ASCII, invalid UTF-8 or UTF-16 payload is
  * parsed from the `String`. Widen the accepted tokens only with a
  * fixture row checked against `from_json` (StreamingSpec).
  *
  * The fast path skips what `JacksonParser` pays per row for features
  * this schema does not use: the existence-default bitmask, the per-field
  * filter check, the `FailureSafeParser` iterator and, for ASCII payloads,
  * the copy into a `String` and the char parser's name canonicalization.
  *
  * `PruneJsonPayloadFields` narrows `schema` to the fields a plan reads.
  */
case class DecodeJsonPayload(child: Expression, schema: StructType,
                             timeZoneId: Option[String] = None)
    extends UnaryExpression with TimeZoneAwareExpression with CodegenFallback
    with ExpectsInputTypes {
  import DecodeJsonPayload._

  override def dataType: DataType = schema.asNullable
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def prettyName: String = "decode_json_payload"
  override def flatArguments: Iterator[Any] = Iterator(child, schema.catalogString)

  override def withTimeZone(timeZoneId: String): TimeZoneAwareExpression =
    copy(timeZoneId = Some(timeZoneId))

  @transient private lazy val options = new JSONOptions(Map.empty[String, String],
    timeZoneId.get, SQLConf.get.getConf(SQLConf.COLUMN_NAME_OF_CORRUPT_RECORD))

  @transient private lazy val parser: FailureSafeParser[UTF8String] = {
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

  /** The fast path's converter per ordinal, or null when `schema` is not
    * eligible for it. */
  @transient private lazy val kinds: Array[Int] = {
    val names = schema.fieldNames
    val kindOf = schema.fields.toSeq.map { f =>
      val plain = f.name != options.columnNameOfCorruptRecord &&
        !f.metadata.contains(ResolveDefaultColumns.EXISTS_DEFAULT_COLUMN_METADATA_KEY)
      f.dataType match {
        case _ if !plain => -1
        case LongType => LongKind
        case IntegerType => IntKind
        case DoubleType => DoubleKind
        case StringType => StringKind // UTF8_BINARY, no char/varchar limit
        case _ => -1
      }
    }
    if (kindOf.contains(-1) || names.distinct.length != names.length) null
    else kindOf.toArray
  }

  @transient private lazy val ordinals: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer]
    schema.fieldNames.zipWithIndex.foreach { case (n, i) => m.put(n, i) }
    m
  }

  @transient private lazy val factory: JsonFactory = options.buildJsonFactory()

  /** The record of a flat payload, or null when the row needs Spark's
    * parser: an ineligible schema, an unexpected token, trailing content
    * or any parse error. */
  def decodeFlat(json: UTF8String): InternalRow = {
    val kinds = this.kinds
    if (kinds == null) return null
    val p = try jacksonParser(json) catch { case NonFatal(_) => return null }
    try {
      if (p.nextToken() != START_OBJECT) return null
      val row = new GenericInternalRow(kinds.length)
      var t = p.nextToken()
      while (t == FIELD_NAME) {
        val i = ordinals.get(p.currentName())
        t = p.nextToken()
        if (i == null) p.skipChildren()
        else if (t == VALUE_NULL) row.setNullAt(i)
        else {
          val v = convert(kinds(i), t, p)
          if (v == null) return null
          row.update(i, v)
        }
        t = p.nextToken()
      }
      if (t != END_OBJECT || p.nextToken() != null) null else row
    } catch {
      case NonFatal(_) => null
    } finally p.close()
  }

  /** Jackson's byte parser over the backing array when every byte is in
    * 0x01-0x7F, the `String` parser otherwise. */
  private def jacksonParser(json: UTF8String): JsonParser = json.getBaseObject match {
    case bytes: Array[Byte] =>
      val from = (json.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt
      val until = from + json.numBytes
      var i = from
      while (i < until && bytes(i) > 0) i += 1
      if (i == until) factory.createParser(bytes, from, json.numBytes)
      else factory.createParser(json.toString)
    case _ => factory.createParser(json.toString)
  }

  override protected def nullSafeEval(json: Any): Any = {
    val utf8 = json.asInstanceOf[UTF8String]
    val flat = decodeFlat(utf8)
    if (flat != null) return flat
    val rows = parser.parse(utf8)
    if (rows.hasNext) rows.next() else null
  }

  override protected def withNewChildInternal(newChild: Expression): DecodeJsonPayload =
    copy(child = newChild)
}

object DecodeJsonPayload {
  private val LongKind = 0
  private val IntKind = 1
  private val DoubleKind = 2
  private val StringKind = 3

  /** The value of the current token for a field of `kind`, or null when
    * Spark's converter could fail or would read the token otherwise. */
  private def convert(kind: Int, t: JsonToken, p: JsonParser): Any = kind match {
    case LongKind if t == VALUE_NUMBER_INT && p.getNumberType != NumberType.BIG_INTEGER =>
      p.getLongValue
    case IntKind if t == VALUE_NUMBER_INT && p.getNumberType == NumberType.INT =>
      p.getIntValue
    case DoubleKind if t == VALUE_NUMBER_INT || t == VALUE_NUMBER_FLOAT =>
      p.getDoubleValue
    case StringKind if t == VALUE_STRING =>
      UTF8String.fromString(p.getText)
    case _ => null
  }
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
