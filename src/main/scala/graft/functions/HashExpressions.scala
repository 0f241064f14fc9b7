package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The numeric value of the first `nibbles` hex characters of
  * md5(s) as ONE generated expression — bit-identical to the
  * composite spelling `conv(substring(md5(s), 1, nibbles), 16, 10)
  * .cast("long")` (Portable.hash32/hash60), but computed straight
  * from the digest bytes: taking the first 15 hex characters of the
  * hex encoding equals the big-endian u64 of the first 8 digest
  * bytes shifted right by 4 (the identity GramSetSharedCount's
  * membership probe already relies on, property-pinned there and in
  * PropertySpec).
  *
  * What the composite spelling pays per call that this node does
  * not: materializing the 32-char hex string (md5 returns hex, not
  * bytes), a substring allocation, conv's base-16 parse into a
  * BASE-10 STRING, and the final cast's string→long parse — four
  * string round-trips wrapping one 16-byte digest. hash60 runs once
  * per shingle/gram occurrence across the dedup/text families, so
  * the wrappers dominate the hash itself on every corpus scan.
  */
case class Md5PrefixLong(child: Expression, nibbles: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(nibbles >= 1 && nibbles <= 16, s"nibbles out of range: $nibbles")

  // a non-string child fails analysis, not eval (the element type is
  // inferred: AbstractDataType is private to Spark's sql package)
  override def inputTypes = Seq(StringType)

  override def dataType: DataType = LongType

  override def nullSafeEval(v: Any): Any =
    Md5PrefixLong.prefix(v.asInstanceOf[UTF8String], nibbles)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      // digest loop stays in one static helper (JIT-inlined, one call
      // per row) so the node keeps the whole-stage codegen span intact
      s"${ev.value} = graft.functions.Md5PrefixLong.prefix($v, $nibbles);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Md5PrefixLong {
  private val mdPool =
    new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }

  /** Value of the first `nibbles` hex chars of md5(s): read
    * ceil(nibbles/2) digest bytes big-endian, drop the low nibble
    * when `nibbles` is odd. Shared by both evaluation paths. */
  def prefix(s: UTF8String, nibbles: Int): Long = {
    val md = mdPool.get()
    md.reset()
    val d = md.digest(s.getBytes)
    val bytes = (nibbles + 1) / 2
    var h = 0L
    var k = 0
    while (k < bytes) { h = (h << 8) | (d(k) & 0xffL); k += 1 }
    if ((nibbles & 1) == 1) h >>> 4 else h
  }
}

/** Consecutive space-joined n-gram shingles of a token array as ONE
  * generated pass — the fused twin of Portable.shingles' zip_with
  * fold. Bit-identical output (property-pinned): element i is
  * `tokens[i] ⧺ " " ⧺ … ⧺ tokens[i+n-1]`, a null anywhere in the
  * window nulls that element (concat semantics), fewer than n tokens
  * yields the empty array, a null input yields null.
  *
  * Why: `zip_with` has no codegen (ArrayZipWith is an interpreted
  * HOF — one lambda closure eval per element per fold step), and the
  * fold materializes n-1 intermediate arrays plus 3 slices per row.
  * Measured on the bench corpus (OPTIMIZATION_r14.md §1): the tokenize
  * step costs 0.12 s and the zip_with shingle fold lifts it to
  * 0.59 s per pass — the shingle assembly, not the tokenize or the
  * hash, dominates every gram pipeline. This node is one loop per
  * row building each shingle directly.
  */
case class WordShingles(child: Expression, n: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(n >= 2 && n <= 8, s"shingle width out of range: $n")

  override def inputTypes = Seq(ArrayType(StringType))

  override def dataType: DataType =
    ArrayType(StringType, containsNull = true)

  override def nullSafeEval(v: Any): Any =
    WordShingles.build(v.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.WordShingles.build($v, $n);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WordShingles {
  private val SPACE = UTF8String.fromString(" ")

  /** All m-n+1 shingles of one token array; shared by both
    * evaluation paths. */
  def build(tokens: ArrayData, n: Int): ArrayData = {
    val m = tokens.numElements()
    if (m < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](m - n + 1)
    var i = 0
    while (i < m - n + 1) {
      // concat semantics: a null token nulls the whole shingle
      var nullSeen = false
      var j = 0
      while (j < n && !nullSeen) {
        if (tokens.isNullAt(i + j)) nullSeen = true
        j += 1
      }
      if (!nullSeen) {
        val parts = new Array[UTF8String](2 * n - 1)
        var k = 0
        while (k < n) {
          parts(2 * k) = tokens.getUTF8String(i + k)
          if (k < n - 1) parts(2 * k + 1) = SPACE
          k += 1
        }
        out(i) = UTF8String.concat(parts: _*)
      }
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Per-row MinHash signature of a shingle array as ONE generated
  * call: every non-null shingle is hashed once with the 32-bit md5
  * prefix ([[Md5PrefixLong]] at 8 nibbles, i.e. Portable.hash32) and
  * element i is the min over shingles of `(a_i·h + b_i) mod p`. A
  * null input, or one with no non-null shingle, yields null. Repeated
  * shingles change nothing: min is idempotent.
  *
  * Per row, the signature is a map: a consumer keyed on something
  * else (band keys) shuffles once, with no aggregate on doc_id first —
  * one stage less for a scheduler-bound query to wait on. Per-row
  * semantics are what the oracle's `sig` CTE computes; they equal a
  * per-doc aggregate only while doc_id is unique per input.
  *
  * Coefficients are plan constants: 0 ≤ a_i, b_i < 2³¹ and 0 < p,
  * so `a_i·h + b_i` never overflows a long and `%` equals `pmod`.
  */
case class MinHashMins(child: Expression, a: Array[Long], b: Array[Long],
                       p: Long) extends UnaryExpression with ExpectsInputTypes {
  require(a.nonEmpty && a.length == b.length,
    s"need as many a as b coefficients: ${a.length} vs ${b.length}")
  require(p > 0 && (a ++ b).forall(c => c >= 0 && c < (1L << 31)),
    "coefficients must lie in [0, 2^31) and p must be positive")

  override def inputTypes = Seq(ArrayType(StringType))

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullable: Boolean = true

  override def nullSafeEval(v: Any): Any =
    MinHashMins.mins(v.asInstanceOf[ArrayData], a, b, p)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val ar = ctx.addReferenceObj("mhA", a, "long[]")
      val br = ctx.addReferenceObj("mhB", b, "long[]")
      s"""${ev.value} = graft.functions.MinHashMins.mins($v, $ar, $br, ${p}L);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin
    })

  // plan strings show the family size, not two array references
  override def stringArgs: Iterator[Any] = Iterator(child, s"k=${a.length}", p)

  // arrays compare by reference by default, which would make
  // canonicalization (and with it exchange reuse) miss two
  // structurally identical nodes — compare contents
  override def equals(o: Any): Boolean = o match {
    case that: MinHashMins =>
      child == that.child && p == that.p &&
        java.util.Arrays.equals(a, that.a) && java.util.Arrays.equals(b, that.b)
    case _ => false
  }
  override def hashCode(): Int =
    31 * (31 * (31 * child.hashCode() + java.util.Arrays.hashCode(a)) +
      java.util.Arrays.hashCode(b)) + java.lang.Long.hashCode(p)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashMins {

  /** The k running mins of one row, or null when it has no non-null
    * shingle; shared by both evaluation paths. */
  def mins(shingles: ArrayData, a: Array[Long], b: Array[Long],
           p: Long): ArrayData = {
    val k = a.length
    val out = Array.fill(k)(Long.MaxValue)
    val n = shingles.numElements()
    var seen = false
    var i = 0
    while (i < n) {
      if (!shingles.isNullAt(i)) {
        seen = true
        val h = Md5PrefixLong.prefix(shingles.getUTF8String(i), 8)
        var j = 0
        while (j < k) {
          val v = (a(j) * h + b(j)) % p
          if (v < out(j)) out(j) = v
          j += 1
        }
      }
      i += 1
    }
    if (seen) UnsafeArrayData.fromPrimitiveArray(out) else null
  }
}

object HashExpressions {
  import org.apache.spark.sql.graftbridge.ColumnBridge

  /** First-`nibbles`-hex-chars-of-md5 as a long (see [[Md5PrefixLong]]). */
  def md5Prefix(c: Column, nibbles: Int): Column =
    ColumnBridge.column(Md5PrefixLong(ColumnBridge.expression(c), nibbles))

  /** Space-joined n-gram shingles in one pass (see [[WordShingles]]). */
  def wordShingles(tokens: Column, n: Int): Column =
    ColumnBridge.column(WordShingles(ColumnBridge.expression(tokens), n))

  /** Per-row MinHash mins of a shingle array (see [[MinHashMins]]). */
  def minhashMins(shingles: Column, a: Array[Long], b: Array[Long],
                  p: Long): Column =
    ColumnBridge.column(MinHashMins(ColumnBridge.expression(shingles), a, b, p))
}
