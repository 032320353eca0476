package org.apache.spark.sql.graft

import java.nio.charset.StandardCharsets.{ISO_8859_1, US_ASCII, UTF_8}
import java.util.Arrays

import scala.collection.mutable

import com.fasterxml.jackson.core.StreamReadConstraints

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

/** `from_json(child, schema)` for a wire payload, decoded by a byte scanner
  * when the record is flat and plain, and by Spark's own parser otherwise.
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
  * column and none has an existence default. It makes one pass over the
  * payload's bytes, in the way of Mison (Li et al., VLDB'17): one root
  * object, then only whitespace (space, tab, CR, LF). Each field name is
  * matched by its bytes against the schema, by exact case; a name with an
  * escape, a control or a non-ASCII byte is not accepted. A field of the
  * schema takes `null`, or else:
  *  - a long or an int: an integer (no fraction, no exponent) that fits,
  *    read from its digits;
  *  - a double: any JSON number, read as Jackson reads it. An integer that
  *    fits a long reads through the long, so `-0` gives 0.0, as it does in
  *    `from_json`, where `Double.parseDouble("-0")` would give -0.0; any
  *    other number through `Double.parseDouble` of its text;
  *  - a string: one with no escape and only bytes 0x20-0x7F.
  * A duplicate key's last value wins. Every other value is skipped and
  * validated as Jackson's parser validates it under Spark's options:
  * strings with well-formed escapes and no raw control byte (non-ASCII
  * bytes are characters after the UTF-8 decode), JSON-grammar numbers,
  * `true`, `false`, `null`, and nested objects and arrays.
  *
  * Anything else sends the row to the slow path, which then returns
  * exactly what `from_json` does: a single-quoted string or name, `NaN`
  * and the other non-numeric numbers, a leading `+`, `.` or `0`, a
  * comment, a trailing comma, trailing content, a BOM, NUL or UTF-16
  * payload, a number, string, name or nesting depth that reaches the
  * limits of Jackson's `StreamReadConstraints`, and any value of a schema
  * field not listed above. Widen what the scanner accepts only with a
  * fixture row checked against `from_json` (StreamingSpec's
  * `wirePayloads`).
  *
  * The fast path skips what `JacksonParser` pays per row: the parser and
  * its buffers, the name canonicalization of every field, the
  * existence-default bitmask, the per-field filter check and the
  * `FailureSafeParser` iterator.
  *
  * `PruneJsonPayloadFields` narrows `schema` to the fields a plan reads
  * and keeps the payload's whole schema in `unpruned`. The fast path scans
  * for the fields read; the slow path parses the whole schema and projects
  * the fields read, so they are what `from_json` of the whole schema gives
  * them. That matters for a payload with a syntax error inside an unread
  * field's value: Spark's parser recovers from an error inside a field it
  * converts (a partial record) but not inside one it skips.
  */
case class DecodeJsonPayload(child: Expression, schema: StructType,
                             timeZoneId: Option[String] = None,
                             unpruned: Option[StructType] = None)
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

  /** The schema the slow path parses. */
  private def parsedSchema: StructType = unpruned.getOrElse(schema)

  /** The ordinal in a `parsedSchema` record of each field of `schema`, or
    * null when the two are one schema. */
  @transient private lazy val projection: Array[Int] =
    unpruned.map(u => schema.fieldNames.map(u.fieldIndex)).orNull

  @transient private lazy val parser: FailureSafeParser[UTF8String] = {
    val nullableSchema = parsedSchema.asNullable
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

  /** The fast path's scanner, or null when `schema` is not eligible for
    * it. */
  @transient private lazy val scanner: FlatScanner = {
    val names = schema.fieldNames
    val kinds = schema.fields.toSeq.map { f =>
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
    if (kinds.contains(-1) || names.distinct.length != names.length) null
    else new FlatScanner(names, kinds.toArray,
      options.buildJsonFactory().streamReadConstraints())
  }

  /** The record of a flat payload, or null when the row needs Spark's
    * parser: an ineligible schema or a payload the scanner does not
    * accept. */
  def decodeFlat(json: UTF8String): InternalRow = {
    val scanner = this.scanner
    if (scanner == null) null
    else json.getBaseObject match {
      case bytes: Array[Byte] =>
        val from = (json.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt
        scanner.record(bytes, from, from + json.numBytes)
      case _ =>
        val bytes = json.getBytes
        scanner.record(bytes, 0, bytes.length)
    }
  }

  override protected def nullSafeEval(json: Any): Any = {
    val utf8 = json.asInstanceOf[UTF8String]
    val flat = decodeFlat(utf8)
    if (flat != null) return flat
    val rows = parser.parse(utf8)
    if (!rows.hasNext) null
    else {
      val row = rows.next()
      if (projection == null) row
      else new GenericInternalRow(
        projection.map(i => row.get(i, parsedSchema(i).dataType): Any))
    }
  }

  override protected def withNewChildInternal(newChild: Expression): DecodeJsonPayload =
    copy(child = newChild)
}

object DecodeJsonPayload {
  private val LongKind = 0
  private val IntKind = 1
  private val DoubleKind = 2
  private val StringKind = 3

  /** A scan position that marks a payload the scanner does not accept. */
  private val Fail = -1

  private val True = "true".getBytes(US_ASCII)
  private val False = "false".getBytes(US_ASCII)
  private val Null = "null".getBytes(US_ASCII)
  private val LongMax = Long.MaxValue.toString.getBytes(US_ASCII)
  private val LongMinAbs = Long.MinValue.toString.substring(1).getBytes(US_ASCII)

  /** One pass over the bytes of a flat payload for the fields `names` of
    * `kinds`. Each scan method takes the position of its first byte and
    * returns the position after what it read, or `Fail`. Every depth and
    * every number, string and name length the scanner accepts stays below
    * `limits`, so Jackson would not reject it either (Spark's factory sets
    * no document-length or token-count limit). */
  private final class FlatScanner(names: Array[String], kinds: Array[Int],
                                  limits: StreamReadConstraints) {
    private val maxDepth = limits.getMaxNestingDepth
    private val maxNumber = limits.getMaxNumberLength
    private val maxString = limits.getMaxStringLength
    private val maxName = limits.getMaxNameLength

    private val nameBytes = names.map(_.getBytes(UTF_8))
    /** Open addressing on `hash` of the name bytes: ordinal + 1, 0 when
      * empty. */
    private val slots: Array[Int] = {
      val s = new Array[Int](Integer.highestOneBit(names.length * 2 + 1) << 1)
      nameBytes.indices.foreach { o =>
        var i = hash(nameBytes(o), 0, nameBytes(o).length) & (s.length - 1)
        while (s(i) != 0) i = (i + 1) & (s.length - 1)
        s(i) = o + 1
      }
      s
    }

    private def hash(b: Array[Byte], from: Int, until: Int): Int = {
      var h = 0
      var i = from
      while (i < until) { h = 31 * h + b(i); i += 1 }
      h
    }

    /** The ordinal of the name b[from, until) of hash `h`, or -1. */
    private def ordinal(b: Array[Byte], from: Int, until: Int, h: Int): Int = {
      var i = h & (slots.length - 1)
      while (slots(i) != 0) {
        val n = nameBytes(slots(i) - 1)
        if (Arrays.equals(n, 0, n.length, b, from, until)) return slots(i) - 1
        i = (i + 1) & (slots.length - 1)
      }
      -1
    }

    /** The record of the one object in b[from, until), or null. */
    def record(b: Array[Byte], from: Int, until: Int): InternalRow = {
      var i = ws(b, from, until)
      if (i >= until || b(i) != '{') return null
      val row = new GenericInternalRow(kinds.length)
      i = ws(b, i + 1, until)
      if (i < until && b(i) == '}') i += 1
      else {
        var more = true
        while (more) {
          if (i >= until || b(i) != '"') return null
          val start = i + 1
          var h = 0
          i = start
          while (i < until && b(i) != '"') {
            val c = b(i)
            if (c < 0x20 || c == '\\') return null // also every non-ASCII byte
            h = 31 * h + c // `hash`, computed while the name is scanned
            i += 1
          }
          if (i >= until || i - start >= maxName) return null
          val o = ordinal(b, start, i, h)
          i = ws(b, i + 1, until)
          if (i >= until || b(i) != ':') return null
          i = ws(b, i + 1, until)
          i = if (o < 0) skip(b, i, until) else read(b, i, until, row, o)
          if (i < 0) return null
          i = ws(b, i, until)
          if (i >= until || (b(i) != ',' && b(i) != '}')) return null
          more = b(i) == ','
          i = ws(b, i + 1, until)
        }
      }
      if (ws(b, i, until) == until) row else null
    }

    /** Reads the value at i into field `o` of `row`. */
    private def read(b: Array[Byte], i: Int, until: Int, row: GenericInternalRow, o: Int): Int = {
      if (i >= until) return Fail
      val c = b(i)
      if (c == 'n') {
        val j = literal(b, i, until, Null)
        if (j > 0) row.setNullAt(o)
        j
      } else if (kinds(o) == StringKind) {
        if (c != '"') return Fail
        var j = i + 1
        while (j < until && b(j) >= 0x20 && b(j) != '"' && b(j) != '\\') j += 1
        if (j >= until || b(j) != '"' || j - i - 1 >= maxString) return Fail
        row.update(o, UTF8String.fromBytes(b, i + 1, j - i - 1))
        j + 1
      } else {
        val j = number(b, i, until)
        if (j < 0) return Fail
        val neg = c == '-'
        val int = if (neg) i + 1 else i
        if (digits(b, int, j) == j && fitsLong(b, int, j, neg)) {
          var v = 0L // negated, so that Long.MinValue fits
          var k = int
          while (k < j) { v = v * 10 - (b(k) - '0'); k += 1 }
          if (!neg) v = -v
          kinds(o) match {
            case LongKind => row.setLong(o, v)
            case IntKind => if (v.toInt != v) return Fail else row.setInt(o, v.toInt)
            case _ => row.setDouble(o, v.toDouble)
          }
        } else if (kinds(o) == DoubleKind) {
          row.setDouble(o, java.lang.Double.parseDouble(new String(b, i, j - i, ISO_8859_1)))
        } else return Fail
        j
      }
    }

    /** Skips the value at i, in a field of the root object, validating it
      * as Jackson does. Containers are tracked on a stack of their closing
      * bytes, so the depth costs no recursion. */
    private def skip(b: Array[Byte], from: Int, until: Int): Int = {
      var closers: Array[Byte] = null
      var open = 0
      var i = from
      var atValue = true
      while (i >= 0 && (atValue || open > 0)) {
        if (atValue) {
          if (i >= until) return Fail
          val c = b(i)
          if (c == '{' || c == '[') {
            // the root object is depth 1
            if (open + 2 >= maxDepth) return Fail
            if (closers == null) closers = new Array[Byte](maxDepth)
            closers(open) = (if (c == '{') '}' else ']').toByte
            open += 1
            i = ws(b, i + 1, until)
            if (i < until && b(i) == closers(open - 1)) {
              open -= 1
              i += 1
              atValue = false
            } else if (c == '{') i = name(b, i, until)
          } else {
            i = scalar(b, i, until)
            atValue = false
          }
        } else {
          i = ws(b, i, until)
          if (i >= until) return Fail
          if (b(i) == closers(open - 1)) {
            open -= 1
            i += 1
          } else if (b(i) == ',') {
            i = ws(b, i + 1, until)
            if (closers(open - 1) == '}') i = name(b, i, until)
            atValue = true
          } else return Fail
        }
      }
      i
    }

    /** A member name of a nested object and its colon: the position of the
      * member's value. */
    private def name(b: Array[Byte], i: Int, until: Int): Int = {
      if (i >= until || b(i) != '"') return Fail
      val j = string(b, i, until, maxName)
      if (j < 0) return Fail
      val k = ws(b, j, until)
      if (k >= until || b(k) != ':') Fail else ws(b, k + 1, until)
    }

    private def scalar(b: Array[Byte], i: Int, until: Int): Int = b(i) match {
      case '"' => string(b, i, until, maxString)
      case 't' => literal(b, i, until, True)
      case 'f' => literal(b, i, until, False)
      case 'n' => literal(b, i, until, Null)
      case _ => number(b, i, until)
    }

    /** A string with well-formed escapes and no raw control byte, shorter
      * than `max` bytes. */
    private def string(b: Array[Byte], i: Int, until: Int, max: Int): Int = {
      var j = i + 1
      while (j < until) {
        val c = b(j)
        if (c == '"') return if (j - i - 1 >= max) Fail else j + 1
        if (c == '\\') {
          j += 1
          if (j >= until) return Fail
          b(j) match {
            case '"' | '\\' | '/' | 'b' | 'f' | 'n' | 'r' | 't' =>
            case 'u' =>
              if (until - j <= 4) return Fail
              var k = j + 1
              while (k <= j + 4) {
                if (Character.digit(b(k), 16) < 0) return Fail
                k += 1
              }
              j += 4
            case _ => return Fail
          }
        } else if (c >= 0 && c < 0x20) return Fail
        j += 1
      }
      Fail
    }

    /** A JSON number: -?(0|[1-9][0-9]*)(.[0-9]+)?([eE][+-]?[0-9]+)?, shorter
      * than Jackson's number limit. */
    private def number(b: Array[Byte], i: Int, until: Int): Int = {
      val int = if (i < until && b(i) == '-') i + 1 else i
      var j = digits(b, int, until)
      if (j == int || (b(int) == '0' && j > int + 1)) return Fail
      if (j < until && b(j) == '.') {
        val k = digits(b, j + 1, until)
        if (k == j + 1) return Fail
        j = k
      }
      if (j < until && (b(j) == 'e' || b(j) == 'E')) {
        var k = j + 1
        if (k < until && (b(k) == '+' || b(k) == '-')) k += 1
        j = digits(b, k, until)
        if (j == k) return Fail
      }
      if (j - i >= maxNumber) Fail else j
    }
  }

  private def ws(b: Array[Byte], from: Int, until: Int): Int = {
    var i = from
    while (i < until && (b(i) == ' ' || b(i) == '\n' || b(i) == '\r' || b(i) == '\t')) i += 1
    i
  }

  private def digits(b: Array[Byte], from: Int, until: Int): Int = {
    var i = from
    while (i < until && b(i) >= '0' && b(i) <= '9') i += 1
    i
  }

  private def literal(b: Array[Byte], i: Int, until: Int, word: Array[Byte]): Int =
    if (until - i >= word.length && Arrays.equals(b, i, i + word.length, word, 0, word.length))
      i + word.length
    else Fail

  /** Whether the digits b[from, until), with no leading zero, fit a long. */
  private def fitsLong(b: Array[Byte], from: Int, until: Int, neg: Boolean): Boolean =
    until - from < 19 || until - from == 19 &&
      Arrays.compare(b, from, until, if (neg) LongMinAbs else LongMax, 0, 19) <= 0
}

/** Parses only the payload fields a plan reads.
  *
  * Matches the one-element `explode(array(decode_json_payload(...)))` of
  * `StreamingPipeline.fromJsonPayload`. When every use of its output `r` is
  * a field read `r.f` or the `isnotnull(r)` guard, the decode's schema is
  * narrowed to the fields read and each `r.f` is re-pointed at its new
  * ordinal. The reference changelog reads 3 of the 20 fields. The
  * narrowed decode keeps the schema it replaced as `unpruned`: a row the
  * scanner does not accept is parsed with that schema and then projected,
  * so each field read, and whether a record comes back at all, is what
  * the unpruned decode gives, and the guard keeps the same rows.
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
          val d2 = d.copy(schema = StructType(kept.map(d.schema(_))),
            unpruned = Some(d.unpruned.getOrElse(d.schema)))
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
