package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{
  BinaryExpression, Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** One-pass hashing kernels for sketch/fingerprint operators.
  *
  * FNV-1a 64-bit + a splitmix64 finalizer — standard public-domain
  * constructions. Static methods so WholeStageCodegen-generated code can
  * call straight into them.
  */
object HashOps {
  final val FnvOffset = 0xcbf29ce484222325L
  final val FnvPrime = 0x100000001b3L

  def fnv64(s: UTF8String): Long = {
    val bytes = s.getBytes
    var h = FnvOffset
    var i = 0
    while (i < bytes.length) { h ^= (bytes(i) & 0xffL); h *= FnvPrime; i += 1 }
    h
  }

  /** splitmix64 finalizer — decorrelates seeded variants of one base hash. */
  def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Efraimidis–Spirakis integer priority: the max of `w` seeded
    * splitmix64 draws off one base hash. For integer weights, max of w
    * i.i.d. uniforms is distributionally identical to the E–S key
    * u^(1/w) (both CDFs are x^w), and 64-bit integer draws make the
    * top-k selection EXACT across engines — the ln(u)/w double form
    * reorders the extreme tail on cross-engine libm ULP differences. */
  def esMaxDraw(base: Long, w: Int): Long = {
    var best = Long.MinValue
    var j = 1
    while (j <= w) {
      val h = mix64(base ^ (j * 0x9e3779b97f4a7c15L))
      if (h > best) best = h
      j += 1
    }
    best
  }

  /** 64-bit SimHash over a token array: bit i = sign of Σ_tokens ±1 by
    * bit i of the token hash. One pass over tokens, 64 counters. */
  def simhash64(tokens: ArrayData): Long = {
    val votes = new Array[Int](64)
    val n = tokens.numElements()
    var t = 0
    while (t < n) {
      if (!tokens.isNullAt(t)) {
        val h = fnv64(tokens.getUTF8String(t))
        var i = 0
        while (i < 64) {
          if (((h >>> i) & 1L) == 1L) votes(i) += 1 else votes(i) -= 1
          i += 1
        }
      }
      t += 1
    }
    var fp = 0L
    var i = 0
    while (i < 64) { if (votes(i) > 0) fp |= (1L << i); i += 1 }
    fp
  }

  /** k-MinHash signature over a shingle array in ONE pass: for each
    * shingle, base = fnv64(shingle); h_j = mix64(base ^ seed_j); keep the
    * minimum per j. Empty input → Long.MaxValue sentinel per slot. */
  def minhash(shingles: ArrayData, k: Int): ArrayData = {
    val mins = Array.fill(k)(Long.MaxValue)
    val n = shingles.numElements()
    var t = 0
    while (t < n) {
      if (!shingles.isNullAt(t)) {
        val base = fnv64(shingles.getUTF8String(t))
        var j = 0
        while (j < k) {
          val h = mix64(base ^ (j * 0x9e3779b97f4a7c15L))
          if (h < mins(j)) mins(j) = h
          j += 1
        }
      }
      t += 1
    }
    new GenericArrayData(mins)
  }

  /** Word n-gram shingle hashes straight from a token array — the
    * shingle strings are never materialized (the HOF formulation
    * `transform(sequence…, array_join(slice…))` allocates one string per
    * shingle and dominates MinHash cost). Polynomial combine of per-token
    * FNV hashes; ≤ n tokens → a single all-token shingle hash. */
  def shingleHashes(tokens: ArrayData, n: Int): ArrayData = {
    val cnt = tokens.numElements()
    val th = new Array[Long](cnt)
    var i = 0
    while (i < cnt) {
      th(i) = if (tokens.isNullAt(i)) 0L else fnv64(tokens.getUTF8String(i))
      i += 1
    }
    if (cnt <= n) {
      var h = 1125899906842597L
      var j = 0
      while (j < cnt) { h = h * 31L + th(j); j += 1 }
      new GenericArrayData(Array(h))
    } else {
      val out = new Array[Long](cnt - n + 1)
      var s = 0
      while (s <= cnt - n) {
        var h = 1125899906842597L
        var j = 0
        while (j < n) { h = h * 31L + th(s + j); j += 1 }
        out(s) = h
        s += 1
      }
      new GenericArrayData(out)
    }
  }

  /** Hashed-feature linear classifier margin (fastText-style scoring
    * with the training factored out): features are the unigram FNV
    * hashes plus the bigram shingle hashes ([[shingleHashes]] n=2);
    * each feature contributes a deterministic pseudo-random integer
    * weight w(h) = (mix64(h) & 1023) − 512, and the margin is their
    * plain integer sum — order-free, exact, reproducible on any engine
    * or partitioning (a trained model would ship real weights via a
    * broadcast table; the hashing-trick plumbing is identical). One
    * pass, no allocation beyond the token-hash buffer. */
  def linearMargin(tokens: ArrayData): Long = {
    val cnt = tokens.numElements()
    var margin = 0L
    var i = 0
    while (i < cnt) {
      val h = if (tokens.isNullAt(i)) 0L else fnv64(tokens.getUTF8String(i))
      margin += (mix64(h) & 1023L) - 512L
      i += 1
    }
    val bi = shingleHashes(tokens, 2)
    val bn = bi.numElements()
    var s = 0
    while (s < bn) {
      margin += (mix64(bi.getLong(s)) & 1023L) - 512L
      s += 1
    }
    margin
  }

  /** k-MinHash over already-hashed shingles (array<long>) — one pass. */
  def minhashFromHashes(hashes: ArrayData, k: Int): ArrayData = {
    val mins = Array.fill(k)(Long.MaxValue)
    val n = hashes.numElements()
    var t = 0
    while (t < n) {
      val base = hashes.getLong(t)
      var j = 0
      while (j < k) {
        val h = mix64(base ^ (j * 0x9e3779b97f4a7c15L))
        if (h < mins(j)) mins(j) = h
        j += 1
      }
      t += 1
    }
    new GenericArrayData(mins)
  }

  /** Order-sensitive 64-bit rolling (polynomial) hash over a token array:
    * h = h*31 + fnv64(token), wrapping. Distinguishes permuted documents,
    * unlike a bag-of-tokens hash, and — being FNV-based — is exactly
    * replicable in unsigned-128-bit SQL (mod-2^64 HUGEINT arithmetic) for
    * oracle checks. */
  def rollingHash(tokens: ArrayData): Long = {
    val n = tokens.numElements()
    var h = 0L
    var i = 0
    while (i < n) {
      val t = if (tokens.isNullAt(i)) 0L else fnv64(tokens.getUTF8String(i))
      h = h * 31L + t
      i += 1
    }
    h
  }

  /** Deterministic pseudo-random plane coefficient in [-1,1]. */
  def planeCoef(seed: Int, bit: Int, dim: Int): Double = {
    val h = mix64((seed.toLong << 40) ^ (bit.toLong << 20) ^ dim.toLong)
    // top 53 bits → uniform double in [0,1) → [-1,1)
    ((h >>> 11).toDouble / (1L << 53).toDouble) * 2.0 - 1.0
  }

  /** JL random projection: proj[j] = Σ_d v[d]·planeCoef(seed, j, d) — the
    * same planes (and the same d-ascending accumulation order, so results
    * are externally replicable) as `hyperplaneSig`, unsigned. */
  def randomProjection(v: ArrayData, dims: Int, seed: Int): ArrayData = {
    val x = v.toFloatArray()
    val out = new Array[Any](dims)
    var j = 0
    while (j < dims) {
      var proj = 0.0
      var d = 0
      while (d < x.length) { proj += x(d).toDouble * planeCoef(seed, j, d); d += 1 }
      out(j) = proj
      j += 1
    }
    new GenericArrayData(out)
  }

  /** Winnowing: distinct sliding-window minima of a hash array (first-
    * occurrence order, matching `array_distinct` of the HOF formulation).
    * Monotonic-deque sliding min — O(n) total instead of O(n·window)
    * slice+min lambda evaluations. n = 0 can't occur (`shingleHashes`
    * emits the seed hash even for empty docs). */
  def winnow(hashes: ArrayData, window: Int): ArrayData = {
    val n = hashes.numElements()
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    if (n <= window) {
      var m = Long.MaxValue
      var i = 0
      while (i < n) { val h = hashes.getLong(i); if (h < m) m = h; i += 1 }
      seen.add(m)
    } else {
      val deque = new Array[Int](n)
      var head = 0; var tail = 0 // indices into `deque`; deque holds positions
      var i = 0
      while (i < n) {
        val h = hashes.getLong(i)
        while (tail > head && hashes.getLong(deque(tail - 1)) >= h) tail -= 1
        deque(tail) = i; tail += 1
        if (deque(head) <= i - window) head += 1
        if (i >= window - 1) seen.add(hashes.getLong(deque(head)))
        i += 1
      }
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next().longValue(); j += 1 }
    new GenericArrayData(out)
  }

  /** Random-hyperplane signature of a float vector: `bits` sign bits. */
  def hyperplaneSig(v: ArrayData, bits: Int, seed: Int): Long = {
    val x = v.toFloatArray()
    var sig = 0L
    var b = 0
    while (b < bits) {
      var proj = 0.0
      var d = 0
      while (d < x.length) { proj += x(d).toDouble * planeCoef(seed, b, d); d += 1 }
      if (proj >= 0) sig |= (1L << b)
      b += 1
    }
    sig
  }
}

/** `fnv64(string) -> long` — FNV-1a 64 of the UTF-8 bytes as a native
  * codegen'd expression. The deterministic row-hash for hash-based
  * sampling: unlike `rand()` it is reproducible across runs/engines, so a
  * sample is re-derivable and oracle-checkable (the DuckDB side replicates
  * the fold with mod-2^64 HUGEINT arithmetic). */
case class Fnv64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  // declared input check: fnv64(123) is now a clean analysis error instead
  // of an executor-side ClassCastException (the expression is exposed to
  // raw SQL via GraftExtensions, so bad-type calls are reachable)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"fnv64 requires a STRING argument, got ${child.dataType.catalogString}")
  override def prettyName: String = "fnv64"
  override protected def nullSafeEval(in: Any): Any =
    HashOps.fnv64(in.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashOps.fnv64($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `mix64(long) -> long` — the splitmix64 finalizer ([[HashOps.mix64]])
  * as a native codegen'd expression: the one spelling of the hash that
  * the sketch, sampling and privacy queries derive buckets, registers and
  * noise draws from. An INT key is cast to BIGINT first. */
case class Mix64(child: Expression) extends UnaryExpression with ImplicitCastInputTypes {
  override def dataType: DataType = LongType
  override def inputTypes = Seq(LongType)
  override def prettyName: String = "mix64"
  override protected def nullSafeEval(in: Any): Any =
    HashOps.mix64(in.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashOps.mix64($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `es_max_draw(base: long, w: int) -> long` — Efraimidis–Spirakis
  * integer sampling priority (max of w seeded splitmix64 draws); one
  * fused loop per row, no per-draw string hashing or explode. */
case class EsMaxDraw(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == LongType &&
        right.dataType == org.apache.spark.sql.types.IntegerType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"es_max_draw requires (BIGINT, INT), got " +
        s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")
  override def prettyName: String = "es_max_draw"
  override protected def nullSafeEval(b: Any, w: Any): Any =
    HashOps.esMaxDraw(b.asInstanceOf[Long], w.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (b, w) => s"graft.functions.HashOps.esMaxDraw($b, $w)")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Expression = copy(left = l, right = r)
}

/** `hyperplane_sig(array<float>, bits, seed) -> long` — random-hyperplane
  * LSH signature as ONE native pass: bit b = sign(Σ_d v[d]·plane(seed,b,d))
  * with pseudo-random plane coefficients in [-1,1] derived from mix64.
  * The HOF formulation costs bits×dims lambda evaluations per row; this
  * is a single fused loop. */
/** `winnow(array<long>, window) -> array<long>` — winnowing fingerprints
  * (distinct sliding-window minima) as one fused monotonic-deque pass;
  * the HOF formulation costs an O(window) slice+min per position. */
case class Winnow(child: Expression, window: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow"
  override protected def nullSafeEval(in: Any): Any =
    HashOps.winnow(in.asInstanceOf[ArrayData], window)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashOps.winnow($c, $window)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `random_projection(array<float>, dims, seed) -> array<double>` —
  * Johnson-Lindenstrauss random projection onto `dims` deterministic
  * pseudo-random hyperplanes (the same `planeCoef` planes the LSH
  * signature signs; this keeps the raw projection values). One fused
  * loop per row; distances are preserved within (1±ε) at
  * dims ≈ 8·ln(n)/ε², so downstream ANN/clustering runs on vectors
  * dims/d the size. */
case class RandomProjection(child: Expression, dims: Int, seed: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(org.apache.spark.sql.types.DoubleType)
  override def prettyName: String = "random_projection"
  override protected def nullSafeEval(in: Any): Any =
    HashOps.randomProjection(in.asInstanceOf[ArrayData], dims, seed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashOps.randomProjection($c, $dims, $seed)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class HyperplaneSignature(child: Expression, bits: Int, seed: Int)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "hyperplane_sig"
  override protected def nullSafeEval(in: Any): Any =
    HashOps.hyperplaneSig(in.asInstanceOf[ArrayData], bits, seed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashOps.hyperplaneSig($c, $bits, $seed)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `simhash64(array<string>) -> long` as a native, codegen'd expression. */
case class SimHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"
  override protected def nullSafeEval(in: Any): Any =
    HashOps.simhash64(in.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashOps.simhash64($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `minhash(array<string>, k) -> array<long>` native expression; one pass
  * over the shingles regardless of k (the HOF formulation would be k
  * passes). */
case class MinHashSignature(child: Expression, numHashes: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash"
  override protected def nullSafeEval(in: Any): Any =
    HashOps.minhash(in.asInstanceOf[ArrayData], numHashes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashOps.minhash($c, $numHashes)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `shingle_hashes(array<string>, n) -> array<long>`. */
case class ShingleHashes(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes"
  override protected def nullSafeEval(in: Any): Any =
    HashOps.shingleHashes(in.asInstanceOf[ArrayData], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashOps.shingleHashes($c, $n)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `rolling_hash(array<string>) -> long` — order-sensitive polynomial
  * fingerprint (HashOps.rollingHash) as a native codegen'd expression. */
case class RollingHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "rolling_hash"
  override protected def nullSafeEval(in: Any): Any =
    HashOps.rollingHash(in.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashOps.rollingHash($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `linear_margin(array<string>) -> long` — hashed-feature linear
  * classifier margin (see [[HashOps.linearMargin]]). */
case class LinearMargin(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "linear_margin"
  override protected def nullSafeEval(in: Any): Any =
    HashOps.linearMargin(in.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashOps.linearMargin($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `minhash_hashes(array<long>, k) -> array<long>`. */
case class MinHashFromHashes(child: Expression, numHashes: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_hashes"
  override protected def nullSafeEval(in: Any): Any =
    HashOps.minhashFromHashes(in.asInstanceOf[ArrayData], numHashes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashOps.minhashFromHashes($c, $numHashes)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object HashFunctions {
  import org.apache.spark.sql.graft.Bridge
  def fnv64(s: Column): Column =
    Bridge.column(Fnv64(Bridge.expression(s)))
  def mix64(c: Column): Column =
    Bridge.column(Mix64(Bridge.expression(c)))
  def simhash64(tokens: Column): Column =
    Bridge.column(SimHash64(Bridge.expression(tokens)))
  def minhashSignature(shingles: Column, k: Int): Column =
    Bridge.column(MinHashSignature(Bridge.expression(shingles), k))
  def shingleHashes(tokens: Column, n: Int): Column =
    Bridge.column(ShingleHashes(Bridge.expression(tokens), n))
  def minhashFromHashes(hashes: Column, k: Int): Column =
    Bridge.column(MinHashFromHashes(Bridge.expression(hashes), k))
  def rollingHash(tokens: Column): Column =
    Bridge.column(RollingHash64(Bridge.expression(tokens)))
  def linearMargin(tokens: Column): Column =
    Bridge.column(LinearMargin(Bridge.expression(tokens)))
  def hyperplaneSignature(vec: Column, bits: Int, seed: Int): Column =
    Bridge.column(HyperplaneSignature(Bridge.expression(vec), bits, seed))
  def randomProjection(vec: Column, dims: Int, seed: Int): Column =
    Bridge.column(RandomProjection(Bridge.expression(vec), dims, seed))
  def winnow(hashes: Column, window: Int): Column =
    Bridge.column(Winnow(Bridge.expression(hashes), window))
  def esMaxDraw(base: Column, w: Column): Column =
    Bridge.column(EsMaxDraw(Bridge.expression(base), Bridge.expression(w)))
}
