package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass text-hash expressions for the dedup pipeline.
  *
  * The declarative formulation (explode word shingles → hash → k
  * aggregated mins) is semantically clean but pays interpreted
  * higher-order-function overhead per element plus a shuffle per
  * document. These expressions compute the same signatures in one
  * tokenization pass per row, entirely map-side: O(words · k) long
  * arithmetic, no intermediate shingle strings, no shuffle. At 100 TB
  * the whole dedup candidate stage then shuffles only
  * (doc_id, k·8-byte signature).
  *
  * Hashing is ENGINE-NEUTRAL modular arithmetic (universal hashing
  * over the field mod p = 1e9+7): polynomial char hashes per word,
  * a polynomial gram hash over word hashes, and k affine permutations
  * `(a_i·g + b_i) mod p`. Every intermediate stays below 2^61 (safe
  * under ANSI long arithmetic), and — unlike 64-bit wraparound
  * mixing — the whole scheme is expressible in any SQL engine with a
  * list fold, which is what makes the minhash/simhash queries
  * DuckDB-oracle-checkable.
  */
object TextHash {
  /** Field modulus for all polynomial/affine hashing. */
  final val P = 1000000007L
  /** Secondary modulus for band keys. */
  final val P2 = 1000000009L
  /** Char-polynomial bases (word hash 1 and 2) and gram base. */
  final val CharBase1 = 31L
  final val CharBase2 = 131L
  final val GramBase = 1000003L
  /** Sentinel signature entry for docs with < n words. */
  final val EmptySig: Long = P

  /** Affine permutation constants (a_i, b_i), deterministic so the
    * oracle SQL can inline them (xxhash-prime multipliers, mod P).
    */
  def permConsts(k: Int): IndexedSeq[(Long, Long)] =
    (0 until k).map { i =>
      val a = (2654435761L * (i + 1)) % P
      val b = (2246822519L * (i + 1)) % P
      (if (a == 0) 1L else a, b)
    }

  /** Seed-with-first polynomial codepoint hash mod P (the same fold
    * shape as a SQL `list_reduce`, which has no init element).
    */
  @inline def charPoly(s: String, from: Int, until: Int, base: Long): Long = {
    if (until <= from) return 0L
    var h = -1L
    var i = from
    while (i < until) {
      val cp = s.codePointAt(i)
      h = if (h < 0) cp.toLong else (h * base + cp.toLong) % P
      i += Character.charCount(cp)
    }
    h
  }

  /** Static entry points for generated code (and interpreted eval):
    * keeping the whole computation behind one static call lets
    * `doGenCode` emit a plain method invocation, so the surrounding
    * operators stay fused in WholeStageCodegen.
    */
  def minhashEval(input: UTF8String, n: Int, k: Int): UnsafeArrayData = {
    val wh = wordHashes(input.toString)
    val perms = permConsts(k)
    val mins = Array.fill(k)(EmptySig)
    var i = 0
    val last = wh.length - n
    while (i <= last) {
      var g = wh(i)
      var j = 1
      while (j < n) { g = (g * GramBase + wh(i + j)) % P; j += 1 }
      var p = 0
      while (p < k) {
        val (a, b) = perms(p)
        val h = (a * g + b) % P
        if (h < mins(p)) mins(p) = h
        p += 1
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(mins)
  }

  /** 60-bit SimHash: bits 0..29 vote with word hash 1 (base 31), bits
    * 30..59 with the independent word hash 2 (base 131); both are
    * < 2^30 so every bit position is live.
    */
  final val SimBits = 60

  def simhashEval(input: UTF8String): Long = {
    val s = input.toString
    val votes = new Array[Int](SimBits)
    val n = s.length
    var start = 0
    var i = 0
    while (i <= n) {
      if (i == n || s.charAt(i) == ' ') {
        val h1 = charPoly(s, start, i, CharBase1)
        val h2 = charPoly(s, start, i, CharBase2)
        var j = 0
        while (j < 30) {
          if (((h1 >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
          if (((h2 >>> j) & 1L) == 1L) votes(30 + j) += 1 else votes(30 + j) -= 1
          j += 1
        }
        start = i + 1
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < SimBits) { if (votes(j) > 0) out |= (1L << j); j += 1 }
    out
  }

  /** Polynomial rolling hash over codepoints, seeded with the first
    * codepoint then acc = (acc·31 + c) mod 1e9+7 — intermediates stay
    * < 2^35 (ANSI-safe), and the recurrence is expressible one-to-one
    * in any engine with a list fold (the DuckDB oracle uses
    * `list_reduce`, which seeds with the first element — hence the
    * seed-with-first form). Empty input hashes to 0.
    */
  def fingerprintEval(input: UTF8String): Long = {
    val s = input.toString
    val n = s.length
    if (n == 0) return 0L
    var h = 0L
    var first = true
    var i = 0
    while (i < n) {
      val cp = s.codePointAt(i)
      if (first) { h = cp.toLong; first = false }
      else h = (h * 31L + cp.toLong) % 1000000007L
      i += Character.charCount(cp)
    }
    h
  }

  /** Word hashes of a single-space-tokenized string (one allocation). */
  def wordHashes(s: String): Array[Long] = {
    val n = s.length
    var words = 1
    var i = 0
    while (i < n) { if (s.charAt(i) == ' ') words += 1; i += 1 }
    val out = new Array[Long](words)
    var w = 0
    var start = 0
    i = 0
    while (i <= n) {
      if (i == n || s.charAt(i) == ' ') {
        out(w) = charPoly(s, start, i, CharBase1); w += 1; start = i + 1
      }
      i += 1
    }
    out
  }
}

/** MinHash signature: for each of `k` affine permutations mod p, the
  * min hash over all word `n`-grams of the text. Documents with fewer
  * than `n` words signature to [[TextHash.EmptySig]] entries (they
  * band together, harmless: exact dedup handles degenerate docs
  * first).
  */
case class MinHashSig(child: Expression, n: Int, k: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash"

  override def nullSafeEval(input: Any): Any =
    TextHash.minhashEval(input.asInstanceOf[UTF8String], n, k)

  /** One static call — the enclosing WholeStageCodegen stage stays
    * fused (CodegenFallback would split it).
    */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextHash.minhashEval($c, $n, $k)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** 60-bit SimHash over word hashes: bit j of the result is the sign of
  * the sum over words of ±1 according to bit j of the word's two
  * 30-bit polynomial hashes (see [[TextHash.simhashEval]]).
  */
case class SimHash64(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash"

  override def nullSafeEval(input: Any): Any =
    java.lang.Long.valueOf(TextHash.simhashEval(input.asInstanceOf[UTF8String]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHash.simhashEval($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Engine-neutral document fingerprint: polynomial rolling hash of the
  * codepoint sequence (order-sensitive, unlike a bag-of-words hash).
  * See [[TextHash.fingerprintEval]] for the exact recurrence.
  */
case class RollingHash64(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_fingerprint"

  override def nullSafeEval(input: Any): Any =
    java.lang.Long.valueOf(TextHash.fingerprintEval(input.asInstanceOf[UTF8String]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHash.fingerprintEval($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Session registration so the expressions are callable from SQL and
  * `expr(...)` — `graft_minhash(text[, n, k])`, `graft_simhash(text)`,
  * `graft_fingerprint(text)`.
  */
object GraftFunctions {
  /** 6-dp quantization of `s` (a value already scaled by 1e6) via the
    * shared float-op sequence (SURVEY §4): FLOOR(s+0.5)/CEIL(s−0.5),
    * rebuilt as DECIMAL(18,6). ROUND(d, 6) half-rounds divergently
    * between engines on the boundary; this sequence is the identical
    * IEEE ops on both.
    */
  def quant6(s: Column): Column = {
    import org.apache.spark.sql.functions.{ceil, floor, lit, when}
    val q = when(s >= 0, floor(s + 0.5)).otherwise(ceil(s - 0.5))
    (q.cast("long").cast(DecimalType(18, 0)) *
      lit(new java.math.BigDecimal("0.000001")).cast(DecimalType(7, 6)))
      .cast(DecimalType(18, 6))
  }

  /** Driver-side twin of [[quant6]] on an unscaled double: `x` in
    * micros, rounded half away from zero by the same FLOOR/CEIL ops.
    */
  def quant6Micros(x: Double): Long = {
    val s = x * 1000000.0
    (if (s >= 0) math.floor(s + 0.5) else math.ceil(s - 0.5)).toLong
  }

  /** A micro count as the nearest double — the DECIMAL(18,6) → DOUBLE
    * cast of [[quant6]]'s value.
    */
  def fromMicros(micros: Long): Double =
    new java.math.BigDecimal(micros).movePointLeft(6).doubleValue()

  private def intLit(e: Expression): Int =
    e.eval(null).asInstanceOf[Number].intValue()

  // r20 (r19 ADVICE): register() is called from every operator that
  // needs a graft_* function — per-QUERY on some serve paths — and
  // each call re-created the whole temp-function set, flooding WARN
  // ("replaced a previously registered function") and churning the
  // shared session's registry. Registration is idempotent (the
  // builders are static), so one pass per session suffices; weak keys
  // let short-lived sessions (TickStore per-write newSession) collect.
  // Each session's flag doubles as its registration lock and is set
  // only after every function exists: a concurrent first caller waits
  // instead of resolving a half-registered set, and a throw mid-way
  // leaves the flag unset so the next call retries.
  private val registered = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, java.util.concurrent.atomic.AtomicBoolean]())

  def register(spark: SparkSession): Unit = {
    val done = registered.computeIfAbsent(spark,
      _ => new java.util.concurrent.atomic.AtomicBoolean(false))
    if (!done.get) done.synchronized {
      if (!done.get) {
        createAll(spark)
        done.set(true)
      }
    }
  }

  private def createAll(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("graft_minhash", {
      case Seq(t) => MinHashSig(t, 3, 16)
      case Seq(t, n, k) => MinHashSig(t, intLit(n), intLit(k))
      case other => throw new IllegalArgumentException(
        s"graft_minhash(text[, n, k]), got ${other.size} args")
    }, "scala_udf")
    reg.createOrReplaceTempFunction("graft_simhash", {
      case Seq(t) => SimHash64(t)
      case other => throw new IllegalArgumentException(
        s"graft_simhash(text), got ${other.size} args")
    }, "scala_udf")
    reg.createOrReplaceTempFunction("graft_fingerprint", {
      case Seq(t) => RollingHash64(t)
      case other => throw new IllegalArgumentException(
        s"graft_fingerprint(text), got ${other.size} args")
    }, "scala_udf")
    reg.createOrReplaceTempFunction("graft_zorder", {
      case Seq(x, y) => ZOrder2(x, y)
      case other => throw new IllegalArgumentException(
        s"graft_zorder(x, y), got ${other.size} args")
    }, "scala_udf")
    reg.createOrReplaceTempFunction("graft_dot", {
      case Seq(a, b) => DotProduct(a, b)
      case other => throw new IllegalArgumentException(
        s"graft_dot(a, b), got ${other.size} args")
    }, "scala_udf")
    reg.createOrReplaceTempFunction("graft_sig_match", {
      case Seq(a, b) => SigMatchCount(a, b)
      case other => throw new IllegalArgumentException(
        s"graft_sig_match(a, b), got ${other.size} args")
    }, "scala_udf")
    reg.createOrReplaceTempFunction("graft_min_pos_dist", {
      case Seq(a, b) => MinPosDist(a, b)
      case other => throw new IllegalArgumentException(
        s"graft_min_pos_dist(a, b), got ${other.size} args")
    }, "scala_udf")
    reg.createOrReplaceTempFunction("graft_lsh_bucket", {
      case Seq(v, d, n) => LshBucket(v, intLit(d), intLit(n))
      case Seq(v, d, n, s) => LshBucket(v, intLit(d), intLit(n), intLit(s))
      case other => throw new IllegalArgumentException(
        s"graft_lsh_bucket(vec, dim, nBits[, seed]), got ${other.size} args")
    }, "scala_udf")
    reg.createOrReplaceTempFunction("graft_quantize_i8", {
      case Seq(v) => QuantizeI8(v)
      case other => throw new IllegalArgumentException(
        s"graft_quantize_i8(vec), got ${other.size} args")
    }, "scala_udf")
    reg.createOrReplaceTempFunction("graft_dot_i8", {
      case Seq(a, b) => DotProductI8(a, b)
      case other => throw new IllegalArgumentException(
        s"graft_dot_i8(a, b), got ${other.size} args")
    }, "scala_udf")
    reg.createOrReplaceTempFunction("graft_min_k", {
      case Seq(key, id, k) => MinKByStringKey(key, id, intLit(k))
      case other => throw new IllegalArgumentException(
        s"graft_min_k(key, id, k), got ${other.size} args")
    }, "scala_udf")
    reg.createOrReplaceTempFunction("graft_max_k", {
      case Seq(key, id, k) => MaxKByLongKey(key, id, intLit(k))
      case other => throw new IllegalArgumentException(
        s"graft_max_k(key, id, k), got ${other.size} args")
    }, "scala_udf")
    reg.createOrReplaceTempFunction("graft_gcd", {
      case Seq(x) => GcdAggregate(x)
      case other => throw new IllegalArgumentException(
        s"graft_gcd(x), got ${other.size} args")
    }, "scala_udf")
    reg.createOrReplaceTempFunction("graft_cov_moments", {
      case Seq(q) => CovMomentsAggregate(q)
      case other => throw new IllegalArgumentException(
        s"graft_cov_moments(q), got ${other.size} args")
    }, "scala_udf")
  }
}
