package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}
import org.apache.spark.sql.{Column, functions => F}

/** Tight-loop kernels over float vectors. Static methods so generated code
  * can call them from inside WholeStageCodegen. */
object VecOps {
  def dot(a: ArrayData, b: ArrayData): Double = {
    val x = a.toFloatArray(); val y = b.toFloatArray()
    val n = math.min(x.length, y.length)
    var s = 0.0; var i = 0
    while (i < n) { s += x(i).toDouble * y(i).toDouble; i += 1 }
    s
  }

  /** Exact integer dot product of two int8-quantized vectors (stored as
    * array<int>). Never overflows: 64 dims × 127² ≈ 2^20 per pair, and a
    * long accumulator gives 2^43 headroom beyond any real dimensionality.
    * Exactness is the point — integer sums are order-independent, so the
    * score is bit-identical across engines and partitionings. */
  def dotInt(a: ArrayData, b: ArrayData): Long = {
    val x = a.toIntArray(); val y = b.toIntArray()
    val n = math.min(x.length, y.length)
    var s = 0L; var i = 0
    while (i < n) { s += x(i).toLong * y(i).toLong; i += 1 }
    s
  }

  def cosine(a: ArrayData, b: ArrayData): Double = {
    val x = a.toFloatArray(); val y = b.toFloatArray()
    val n = math.min(x.length, y.length)
    var d = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
    while (i < n) {
      val xi = x(i).toDouble; val yi = y(i).toDouble
      d += xi * yi; nx += xi * xi; ny += yi * yi; i += 1
    }
    if (nx == 0.0 || ny == 0.0) 0.0 else d / math.sqrt(nx * ny)
  }

  /** Cosine over array<double> vectors (e.g. JL-projected embeddings) —
    * same accumulation order as `cosine`, double storage instead of
    * float. */
  def cosineD(a: ArrayData, b: ArrayData): Double = {
    val x = a.toDoubleArray(); val y = b.toDoubleArray()
    val n = math.min(x.length, y.length)
    var d = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
    while (i < n) {
      d += x(i) * y(i); nx += x(i) * x(i); ny += y(i) * y(i); i += 1
    }
    if (nx == 0.0 || ny == 0.0) 0.0 else d / math.sqrt(nx * ny)
  }
}

/** Native Catalyst expression: cosine similarity of two float vectors.
  *
  * A Scala UDF here would box every element through GenericRowWithSchema;
  * the higher-order-function route (`zip_with` + `aggregate`) allocates an
  * intermediate array and evaluates a lambda per element. This expression
  * stays inside whole-stage codegen and runs one fused primitive loop per
  * row — the difference between feasible and not at 10^9 vectors.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_similarity"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VecOps.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VecOps.cosine($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Dot product of two float vectors (same codegen strategy). */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VecOps.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VecOps.dot($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Exact dot product of two int8-quantized vectors — LongType, so the
  * score is integer-exact and order-independent (same codegen strategy). */
case class Int8Dot(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "int8_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VecOps.dotInt(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VecOps.dotInt($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Cosine similarity of two array<double> vectors (same codegen
  * strategy as CosineSimilarity, double element type). */
case class CosineSimilarityD(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_similarity_d"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VecOps.cosineD(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VecOps.cosineD($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Column-level vector API. */
object VectorFunctions {
  def cosineSim(a: Column, b: Column): Column =
    internal(CosineSimilarity(expr(a), expr(b)))

  def cosineSimD(a: Column, b: Column): Column =
    internal(CosineSimilarityD(expr(a), expr(b)))

  def dotProduct(a: Column, b: Column): Column =
    internal(DotProduct(expr(a), expr(b)))

  /** Cosine similarity via builtins (`zip_with` + `aggregate` HOFs) — the
    * reference implementation tests cross-check the native expression
    * against. */
  def cosineSimBuiltin(a: Column, b: Column): Column = {
    def d(c: Column) = c.cast("double")
    val dot = F.aggregate(F.zip_with(a, b, (x, y) => d(x) * d(y)), F.lit(0.0), (s, v) => s + v)
    val na = F.aggregate(F.transform(a, x => d(x) * d(x)), F.lit(0.0), (s, v) => s + v)
    val nb = F.aggregate(F.transform(b, x => d(x) * d(x)), F.lit(0.0), (s, v) => s + v)
    F.when(na === 0.0 || nb === 0.0, 0.0).otherwise(dot / F.sqrt(na * nb))
  }

  /** Random-hyperplane (SimHash) LSH signature of a float vector: `bits`
    * sign bits packed into a long. Deterministic pseudo-hyperplanes — no
    * stored model needed. Native one-pass expression
    * (graft.functions.HyperplaneSignature); the HOF formulation it
    * replaced cost bits×dims lambda evals per row. */
  def hyperplaneSignature(v: Column, bits: Int, seed: Int = 0): Column =
    HashFunctions.hyperplaneSignature(v, bits, seed)

  /** Symmetric int8 quantization: q[i] = round(v[i] · 127 / max|v|), the
    * standard 4× compression for embedding storage (64 B/vec instead of
    * 256 B at d=64 — at 100 TB of vectors that is the difference between
    * an index that fits executor memory and one that doesn't). All-zero
    * vectors quantize to all zeros. HOF formulation is fine here: this
    * runs ONCE per corpus at index-build time; the hot scoring loop is
    * the native `int8Dot`. */
  def quantizeInt8(v: Column): Column = {
    val d = F.transform(v, _.cast("double"))
    val m = F.aggregate(d, F.lit(0.0), (acc, x) => F.greatest(acc, F.abs(x)))
    F.when(m === 0.0, F.transform(d, _ => F.lit(0)))
      .otherwise(F.transform(d, x => F.round(x * 127.0 / m).cast("int")))
  }

  /** Exact integer dot of two quantized vectors (native expression). */
  def int8Dot(a: Column, b: Column): Column =
    internal(Int8Dot(expr(a), expr(b)))

  private def expr(c: Column): Expression =
    org.apache.spark.sql.graft.Bridge.expression(c)
  private def internal(e: Expression): Column =
    org.apache.spark.sql.graft.Bridge.column(e)
}
