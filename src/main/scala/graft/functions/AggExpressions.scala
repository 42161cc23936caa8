package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{DeclarativeAggregate, TypedImperativeAggregate}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** Fixed-width integer histogram aggregate: bucket `min(x / width,
  * nBuckets-1)` (negatives clamp to bucket 0), result = array of bucket
  * counts — the custom-AGGREGATE extension class next to the scalar
  * kernels ([[SimHash64]] etc.): a `TypedImperativeAggregate` with a
  * mutable primitive buffer and an element-wise-add merge, so partial
  * aggregation runs map-side and the shuffle carries one fixed
  * `8·nBuckets`-byte buffer per group instead of the rows. Every count is
  * an integer, so the result is EXACT under any partial-aggregation order
  * — the property that makes it gate-able where a double-summing custom
  * aggregate would need sorted-fold gymnastics (see kmeans notes).
  *
  * The length distribution of a training corpus (token-count histogram
  * per language/source) is the canonical use.
  */
case class HistogramAgg(
    child: Expression,
    nBuckets: Int,
    width: Long,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] with UnaryLike[Expression] {
  require(nBuckets > 0 && width > 0)

  override def prettyName: String = "histogram_agg"
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def createAggregationBuffer(): Array[Long] = new Array[Long](nBuckets)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val x = v.asInstanceOf[Long]
      val b = if (x < 0) 0 else math.min(x / width, (nBuckets - 1).toLong).toInt
      buf(b) += 1
    }
    buf
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var i = 0
    while (i < b1.length) { b1(i) += b2(i); i += 1 }
    b1
  }

  override def eval(buf: Array[Long]): Any = {
    val out = new Array[Any](buf.length)
    var i = 0
    while (i < buf.length) { out(i) = buf(i); i += 1 }
    new GenericArrayData(out)
  }

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * buf.length)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(bytes.length / 8)(bb.getLong())
  }

  override def withNewMutableAggBufferOffset(o: Int): HistogramAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): HistogramAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(newChild: Expression): HistogramAgg =
    copy(child = newChild)
}

/** [[AggFunctions.meanQ]] — the exact quantized mean — as ONE
  * declarative aggregate: Σ round_half_away(x·10⁶) accumulates in a
  * two-long signed int128, the non-null count rides a third long, and
  * the exact-integer HALF_UP rounding `q = sgn(S)·((2|S| + P·n) intdiv
  * (2·P·n))` happens ONCE per group in plain long arithmetic
  * ([[MicrosMath.meanQ128]], BigInteger only past the long-overflow
  * edge). Three generations of spelling, each priced:
  *
  *  - `round(sum(round(x·1e6).cast(decimal(38,0))).cast(double)/…, d)`
  *    (r17): declarative, codegen'd, but pays per-row Decimal128
  *    construction + decimal adds — 14× a plain double avg on a
  *    scan-bound 100 M-row aggregate (SURVEY.md row "Exactness priced
  *    at scale, then bought back").
  *  - `TypedImperativeAggregate` int128 sum + decimal(38,0)
  *    IntegralDivide final projection (r18): per-row cost gone, but a
  *    typed-imperative agg forces the WHOLE aggregation onto
  *    ObjectHashAggregate and disables whole-stage codegen
  *    (`AggregateCodegenSupport.supportCodegen`), and the per-GROUP
  *    decimal rounding chain costs ~1.5 µs/group interpreted — the
  *    r18→r19 adjudication measured the two together at 1.45× on q08,
  *    the only gated consumers that force the mean's evaluation.
  *  - This form (r19): fixed-width long buffers keep HashAggregateExec
  *    + whole-stage codegen; the int128 carry chain is wrapping
  *    (LEGACY-mode) long adds + bitwise ops; the per-row quantization
  *    ([[MicrosMath.micros]]: one multiply, the domain guard, one
  *    `Math.round`) and the per-group rounding are `StaticInvoke`s —
  *    direct static calls under codegen. Measured at 100 M rows:
  *    1.28× the inexact `round(avg(x),4)`; q08 back to its r17 time
  *    (SURVEY.md, the r19 q08 adjudication).
  *
  * Semantics match the r17 declarative spelling on its documented
  * domain (finite inputs, |x| < 9.2e12 so x·10⁶ fits a long): the
  * quantization is half away from zero on the binary double
  * (`Math.round` for positives, mirrored for negatives) — for
  * ≤6-decimal inputs x·10⁶ is within an ulp of an integer, where this,
  * Spark's `round`, and DuckDB's `round` all agree. NaN and ±Infinity
  * inputs are SKIPPED by the sum exactly like the declarative form
  * (round(NaN) → null, cast(±∞ as decimal) → null → sum skips) while
  * still counting toward n (they are non-null — `count(c)` semantics);
  * all-null/all-non-finite groups yield null. The domain is ENFORCED,
  * not just documented: a finite |x·10⁶| ≥ 2⁶³ — where `Math.round`
  * would silently saturate at ±Long.MaxValue while the replaced decimal
  * spelling stayed exact and the DuckDB twin (`CAST(round(x*1e6) AS
  * BIGINT)`) errors loudly — raises ArithmeticException instead of
  * accumulating a wrong sum. Accumulator headroom is int128 (±1.7e38),
  * the same class as the decimal(38,0) it replaces. Buffer: (hi, lo,
  * n, seen) — 25 bytes per group on the shuffle, partial-merge-safe in
  * batch and streaming state.
  */
case class MicrosMeanQAgg(child: Expression, decimals: Int)
  extends DeclarativeAggregate with UnaryLike[Expression] {
  require(decimals >= 0 && decimals <= 6, s"decimals=$decimals")
  import org.apache.spark.sql.catalyst.expressions.{
    Add, And, BitwiseAnd, BitwiseNot, BitwiseOr, Coalesce, EqualTo,
    EvalMode, If, IsNaN, IsNotNull, Literal, Not, NumericEvalContext, Or,
    ShiftRight, ShiftRightUnsigned}
  import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke

  override def prettyName: String = "micros_meanq"
  override def nullable: Boolean = true
  override def dataType: DataType = DoubleType

  private lazy val hi =
    AttributeReference("hi", LongType, nullable = false)()
  private lazy val lo =
    AttributeReference("lo", LongType, nullable = false)()
  private lazy val n =
    AttributeReference("n", LongType, nullable = false)()
  private lazy val seen =
    AttributeReference("seen", BooleanType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] =
    Seq(hi, lo, n, seen)
  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(0L), Literal(0L), Literal(0L), Literal(false))

  // the int128 adds must WRAP (the carry chain is unsigned low-word
  // arithmetic) — under the session default ANSI mode a long overflow
  // would raise, so every add is pinned to LEGACY eval explicitly
  private def addW(l: Expression, r: Expression): Expression =
    Add(l, r, NumericEvalContext(EvalMode.LEGACY))

  // signed-int128 add of addend `m` to (h, l): lo is the unsigned low
  // word, m sign-extends into the high word; carry via the standard
  // unsigned-overflow predicate
  private def add128(h: Expression, l: Expression, m: Expression)
      : (Expression, Expression) = {
    val newLo = addW(l, m)
    val carry = ShiftRightUnsigned(
      BitwiseOr(BitwiseAnd(l, m),
        BitwiseAnd(BitwiseOr(l, m), BitwiseNot(newLo))), Literal(63))
    val newHi = addW(addW(h, ShiftRight(m, Literal(63))), carry)
    (newHi, newLo)
  }

  override lazy val updateExpressions: Seq[Expression] = {
    // non-finite skips like the replaced declarative form (round(NaN) →
    // null, cast(±∞ as decimal) → null → sum skips); MicrosMath.micros
    // itself raises on finite out-of-domain inputs and is total on the
    // rest, so a hoisted evaluation on a skipped row is harmless
    val valid = And(IsNotNull(child),
      Not(Or(IsNaN(child), Or(
        EqualTo(child, Literal(Double.PositiveInfinity)),
        EqualTo(child, Literal(Double.NegativeInfinity))))))
    val m = StaticInvoke(MicrosMath.getClass, LongType, "micros",
      Seq(child), Seq(DoubleType), returnNullable = false)
    val (newHi, newLo) = add128(hi, lo, m)
    // Coalesce pins the slot expressions non-nullable (m is nullable via
    // propagateNull; the guarded branch never actually yields null)
    Seq(
      Coalesce(Seq(If(valid, newHi, hi), Literal(0L))),
      Coalesce(Seq(If(valid, newLo, lo), Literal(0L))),
      // n replicates count(child): every NON-NULL input counts, NaN/∞
      // included — only the sum skips them
      If(IsNotNull(child), addW(n, Literal(1L)), n),
      Or(seen, valid))
  }

  override lazy val mergeExpressions: Seq[Expression] = {
    // two full int128s: low words add with carry, high words add the
    // carry (no sign extension — the right high word IS hi.right)
    val newLo = addW(lo.left, lo.right)
    val carry = ShiftRightUnsigned(
      BitwiseOr(BitwiseAnd(lo.left, lo.right),
        BitwiseAnd(BitwiseOr(lo.left, lo.right), BitwiseNot(newLo))),
      Literal(63))
    val mergedHi = addW(addW(hi.left, hi.right), carry)
    Seq(mergedHi, newLo, addW(n.left, n.right),
      Or(seen.left, seen.right))
  }

  override lazy val evaluateExpression: Expression =
    If(seen,
      StaticInvoke(MicrosMath.getClass, DoubleType, "meanQ128",
        Seq(hi, lo, n,
          Literal(math.pow(10, 6 - decimals).toLong),
          Literal(math.pow(10, decimals))),
        Seq(LongType, LongType, LongType, LongType, DoubleType),
        returnNullable = false),
      Literal(null, DoubleType))

  override protected def withNewChildInternal(newChild: Expression): MicrosMeanQAgg =
    copy(child = newChild)
}

/** Static kernels for [[MicrosSumAgg]] — a standalone object (no
  * companion class) so scalac emits mirror-class static forwarders that
  * `StaticInvoke` codegen can call directly.
  */
object MicrosMath {
  /** 2⁶³ as a double — the first magnitude where `Math.round` saturates
    * instead of rounding exactly (the largest representable double BELOW
    * it, 2⁶³−1024, still fits a long).
    */
  val DomainEdge: Double = 9.223372036854776e18

  /** round_half_away(x·10⁶) as a long. Total on non-finite inputs (the
    * caller's validity predicate skips them; returning 0 here keeps a
    * speculatively hoisted evaluation harmless); raises on finite
    * out-of-domain inputs where `Math.round` would silently saturate at
    * ±Long.MaxValue.
    */
  def micros(x: Double): Long = {
    if (x != x || x == Double.PositiveInfinity ||
        x == Double.NegativeInfinity) 0L
    else {
      val d = x * 1000000.0
      if (d >= DomainEdge || d <= -DomainEdge)
        throw new ArithmeticException(
          s"micros_sum domain overflow: |x * 1e6| >= 2^63 for x = $x " +
            "(domain is |x| < 9.2e12); use the declarative " +
            "sum(round(x*1e6).cast(decimal(38,0))) spelling instead")
      if (d >= 0) Math.round(d) else -Math.round(-d)
    }
  }

  /** The exact-integer HALF_UP ratio `round(a/b, d)` without the
    * round-of-double step, in LONG arithmetic: `q = sgn(a)·sgn(b) ·
    * ((2·10^d·|a| + |b|) intdiv (2·|b|))`, result `q / 10^d`. The caller
    * guards b ≠ 0 and nulls. Fast path is four multiplies and one
    * division; past the long-overflow edge (|a| > (2⁶³−|b|)/(2·10^d) —
    * sums-of-counts headroom territory) it falls to exact BigInteger.
    * Replaces the decimal(38,0) IntegralDivide spelling of
    * [[AggFunctions.ratioQ]]: same value everywhere (decimal division
    * truncates toward zero = long division on the non-negative
    * operands; the final toDouble/÷10^d is the identical
    * nearest-double + one IEEE division), ~10× cheaper per row — the
    * r19 q104 adjudication found the per-row decimal chain was the
    * real cost behind the driver-r18 quality-query movers.
    */
  def ratioQ128(a: Long, b: Long, tenD: Long): Double = {
    val neg = (a < 0) != (b < 0)
    val aa = Math.abs(a)
    val ab = Math.abs(b)
    // aa/ab < 0 only at Long.MinValue, which falls through to BigInteger
    if (aa >= 0 && ab >= 0 && ab <= (Long.MaxValue >> 1) &&
        aa <= (Long.MaxValue - ab) / (2L * tenD)) {
      val q = (2L * tenD * aa + ab) / (2L * ab)
      (if (neg) -q else q).toDouble / tenD
    } else {
      val aBI = java.math.BigInteger.valueOf(a).abs()
      val bBI = java.math.BigInteger.valueOf(b).abs()
      val q = aBI.multiply(java.math.BigInteger.valueOf(2L * tenD))
        .add(bBI).divide(bBI.shiftLeft(1))
      val qd = new java.math.BigDecimal(q).doubleValue()
      (if (neg) -qd else qd) / tenD
    }
  }

  /** [[ratioQ128]] specialized to the quantized Jaccard:
    * `round(i/(u−i), 4)` from the intersect count and the size sum —
    * one argument reference for the expensive intersect.
    */
  def jaccardQ128(i: Long, u: Long): Double = ratioQ128(i, u - i, 10000L)

  /** The exact-integer HALF_UP mean, once per group:
    * `q = sgn(S) · ((2·|S| + p·n) intdiv (2·p·n))`, result `q / tenD`,
    * with S the (hi, lo) signed-int128 micros sum and n ≥ 1 the non-null
    * count. Long arithmetic on the fast path (covers |S| < (2⁶³−p·n)/2 —
    * every physically real group); exact BigInteger past it. The final
    * `toDouble / tenD` is the same nearest-double conversion + one IEEE
    * division the decimal spelling performed (`cast(q as double) /
    * 10^d`), so results are bit-identical to it everywhere.
    */
  def meanQ128(hi: Long, lo: Long, n: Long, p: Long, tenD: Double): Double = {
    val neg = hi < 0
    // |S| as (ahi, alo): two's-complement negate when negative
    var ahi = hi; var alo = lo
    if (neg) { ahi = ~hi + (if (lo == 0L) 1L else 0L); alo = -lo }
    val pnOk = p <= Long.MaxValue / n // n >= 1: seen gate
    if (pnOk && (p * n) <= (Long.MaxValue >> 1) &&
        ahi == 0L && alo >= 0L && alo <= ((Long.MaxValue - p * n) >> 1)) {
      val pn = p * n
      val q = (2L * alo + pn) / (2L * pn)
      (if (neg) -q else q).toDouble / tenD
    } else {
      val absS = java.math.BigInteger.valueOf(ahi).shiftLeft(64)
        .add(new java.math.BigInteger(java.lang.Long.toUnsignedString(alo)))
      val pn = java.math.BigInteger.valueOf(p)
        .multiply(java.math.BigInteger.valueOf(n))
      val q = absS.shiftLeft(1).add(pn).divide(pn.shiftLeft(1))
      val qd = new java.math.BigDecimal(q).doubleValue()
      (if (neg) -qd else qd) / tenD
    }
  }
}

/** FNV-1a 64-bit over UTF-8 bytes with a per-row seed — the row hashes of
  * [[CountMinAgg]]/[[CmsQuery]]. Cheap (no allocation), and parity is a
  * non-issue: the oracle never replays the sketch, it checks the sketch's
  * guarantees via exact counts.
  */
private[functions] object Fnv {
  def hash(bytes: Array[Byte], seed: Long): Long = {
    var h = 0xcbf29ce484222325L ^ seed
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }
}

/** Count-Min sketch aggregate over a string column: `depth × width` long
  * counters, row d bumps counter `fnv(key, d) mod width`. Merge is
  * element-wise add, so like [[HistogramAgg]] the sketch is EXACTLY
  * deterministic under any partial-aggregation order (integer buffers) —
  * the custom-SKETCH aggregate class next to Spark's built-in HLL/GK.
  * The estimate (min over rows, [[CmsQuery]]) never underestimates and
  * overestimates by at most εN with probability 1−δ (ε = e/width,
  * δ = e^−depth; Cormode & Muthukrishnan 2005) — the property the q66
  * gate asserts in-band against exact counts. At 100 TB the shuffle
  * carries one fixed 8·depth·width-byte buffer per group instead of the
  * key stream: the heavy-hitters primitive for token/domain/url counts.
  */
case class CountMinAgg(
    child: Expression,
    depth: Int,
    width: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] with UnaryLike[Expression] {
  require(depth > 0 && width > 0)

  override def prettyName: String = "count_min_agg"
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def createAggregationBuffer(): Array[Long] = new Array[Long](depth * width)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val bytes = v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes
      var d = 0
      while (d < depth) {
        val idx = ((Fnv.hash(bytes, d.toLong) % width) + width) % width
        buf(d * width + idx.toInt) += 1
        d += 1
      }
    }
    buf
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var i = 0
    while (i < b1.length) { b1(i) += b2(i); i += 1 }
    b1
  }

  override def eval(buf: Array[Long]): Any = {
    val out = new Array[Any](buf.length)
    var i = 0
    while (i < buf.length) { out(i) = buf(i); i += 1 }
    new GenericArrayData(out)
  }

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * buf.length)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(bytes.length / 8)(bb.getLong())
  }

  override def withNewMutableAggBufferOffset(o: Int): CountMinAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CountMinAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(newChild: Expression): CountMinAgg =
    copy(child = newChild)
}

/** Point query against a [[CountMinAgg]] sketch: min over the depth rows
  * of the counter each hash selects. Scalar expression so the sketch can
  * broadcast (one small array literal/column) and be probed per candidate
  * key without re-aggregating.
  */
case class CmsQuery(sketch: Expression, key: Expression, depth: Int, width: Int)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with CodegenFallback {

  override def left: Expression = sketch
  override def right: Expression = key
  override def dataType: DataType = LongType

  override protected def nullSafeEval(sk: Any, k: Any): Any = {
    val arr = sk.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val bytes = k.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes
    var best = Long.MaxValue
    var d = 0
    while (d < depth) {
      val idx = ((Fnv.hash(bytes, d.toLong) % width) + width) % width
      val c = arr.getLong(d * width + idx.toInt)
      if (c < best) best = c
      d += 1
    }
    best
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(sketch = newLeft, key = newRight)
}

/** Bloom filter aggregate over a string-castable column: `numBits` bits
  * (stored as longs), each row sets `numHashes` bit positions derived
  * from [[Fnv]] with seeds 0..k-1. Merge is bitwise OR — idempotent,
  * commutative, associative — so like the other integer-buffer sketches
  * the result is EXACTLY deterministic under any partial-aggregation
  * order or duplication. Membership probes ([[BloomMightContain]]) have
  * NO false negatives ever; false positives at rate ~(1-e^(-kn/m))^k.
  *
  * The 100 TB use is join pre-filtering: build the filter over the
  * small/selective side's keys (one fixed m/8-byte buffer, map-side
  * combined), broadcast it, and drop non-matching rows of the big side AT
  * THE SCAN — before the shuffle the actual join would pay. Spark's own
  * runtime row-level filtering does this under AQE; this expression makes
  * the primitive available explicitly (cross-query, cross-engine, or
  * persisted to reuse).
  */
case class BloomAgg(
    child: Expression,
    numBits: Int,
    numHashes: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] with UnaryLike[Expression] {
  require(numBits > 0 && numBits % 64 == 0 && numHashes > 0)

  override def prettyName: String = "bloom_agg"
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def createAggregationBuffer(): Array[Long] = new Array[Long](numBits / 64)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val bytes = v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes
      var k = 0
      while (k < numHashes) {
        val bit = (((Fnv.hash(bytes, k.toLong) % numBits) + numBits) % numBits).toInt
        buf(bit >> 6) |= (1L << (bit & 63))
        k += 1
      }
    }
    buf
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var i = 0
    while (i < b1.length) { b1(i) |= b2(i); i += 1 }
    b1
  }

  override def eval(buf: Array[Long]): Any = {
    val out = new Array[Any](buf.length)
    var i = 0
    while (i < buf.length) { out(i) = buf(i); i += 1 }
    new GenericArrayData(out)
  }

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * buf.length)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(bytes.length / 8)(bb.getLong())
  }

  override def withNewMutableAggBufferOffset(o: Int): BloomAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): BloomAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(newChild: Expression): BloomAgg =
    copy(child = newChild)
}

/** Membership probe against a [[BloomAgg]] filter: true iff ALL
  * `numHashes` bit positions for the key are set. Scalar expression so
  * the (small, fixed-size) filter broadcasts and probes run per row at
  * the scan.
  */
case class BloomMightContain(bloom: Expression, key: Expression,
                             numBits: Int, numHashes: Int)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with CodegenFallback {

  override def left: Expression = bloom
  override def right: Expression = key
  override def dataType: DataType = BooleanType

  override protected def nullSafeEval(bf: Any, k: Any): Any = {
    val arr = bf.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val bytes = k.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes
    var h = 0
    while (h < numHashes) {
      val bit = (((Fnv.hash(bytes, h.toLong) % numBits) + numBits) % numBits).toInt
      if ((arr.getLong(bit >> 6) & (1L << (bit & 63))) == 0L) return false
      h += 1
    }
    true
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(bloom = newLeft, key = newRight)
}

/** Bounded per-group top-k by (score desc, id asc): the k best
  * (id, payload) entries, best first. The ranking primitive for
  * candidate-scored search (ANN top-k): the row_number-over-window form is
  * semantically identical but its physical plan SORTS the whole candidate
  * stream per map partition before WindowGroupLimit can prune — at probe
  * scale (~10⁸ scored candidates) that sort buffers gigabytes and spills,
  * and wall-clock goes to sorter insertion, not scoring (measured: IVF
  * multi-probe at 1M vectors = 1,433 s, ~95% in sort_addToSorter). This
  * aggregate keeps O(k) state per group, rejects a losing candidate with
  * ONE compare, combines map-side, and ships k-row buffers through the
  * shuffle — candidate volume never hits a sort or the wire.
  *
  * Determinism: (score, id) is a strict total order (ids are unique per
  * group; `Double.compare` totalizes NaN/-0.0 exactly like Spark's
  * DoubleType sort order), so the kept set and its order are independent
  * of partial-aggregation order — the property that lets the queries it
  * serves stay hash-gated. Callers pass the score PRE-ROUNDED (e.g.
  * `round(cos, 6)`) so the tie-domain matches the oracle's ranking
  * exactly; `payload` carries whatever output columns the ranking needs
  * (raw cosine, integer dot, ...) untouched.
  */
case class TopKByScoreAgg(
    score: Expression,
    id: Expression,
    payload: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKBuf] {
  require(k > 0, s"k must be positive, got $k")

  override def prettyName: String = "top_k_by_score"
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("payload", ArrayType(DoubleType, containsNull = false),
      nullable = false))), containsNull = false)

  override def children: Seq[Expression] = Seq(score, id, payload)

  override def createAggregationBuffer(): TopKBuf = new TopKBuf(k)

  override def update(buf: TopKBuf, input: InternalRow): TopKBuf = {
    val s = score.eval(input)
    val i = id.eval(input)
    if (s != null && i != null) {
      val p = payload.eval(input)
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      if (p != null)
        buf.insert(s.asInstanceOf[Double], i.asInstanceOf[Long], p.toDoubleArray())
    }
    buf
  }

  override def merge(b1: TopKBuf, b2: TopKBuf): TopKBuf = { b1.absorb(b2); b1 }

  override def eval(buf: TopKBuf): Any = {
    val out = new Array[Any](buf.n)
    var i = 0
    while (i < buf.n) {
      out(i) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](buf.ids(i), new GenericArrayData(
          buf.payloads(i).map(v => v: Any))))
      i += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(buf: TopKBuf): Array[Byte] = {
    val p = if (buf.n == 0) 0 else buf.payloads(0).length
    val bb = ByteBuffer.allocate(8 + buf.n * (16 + 8 * p))
    bb.putInt(buf.n); bb.putInt(p)
    var i = 0
    while (i < buf.n) {
      bb.putDouble(buf.scores(i)); bb.putLong(buf.ids(i))
      buf.payloads(i).foreach(bb.putDouble)
      i += 1
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKBuf = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt(); val p = bb.getInt()
    val buf = new TopKBuf(k)
    var i = 0
    while (i < n) {
      val s = bb.getDouble(); val id = bb.getLong()
      buf.insert(s, id, Array.fill(p)(bb.getDouble()))
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): TopKByScoreAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopKByScoreAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKByScoreAgg =
    copy(score = newChildren(0), id = newChildren(1), payload = newChildren(2))
}

/** [[TopKByScoreAgg]]'s buffer: ≤ k entries sorted best-first by
  * (score desc, id asc). A losing candidate (the ~100% case once the
  * buffer fills) costs one compare; a winner shifts into place (k is
  * small). Kept as plain parallel arrays for compact serialization.
  *
  * Payload contract: every payload array in a group must share ONE
  * length — serialize writes a single fixed width for the whole buffer.
  * The width is recorded on first insert and `require`d on every later
  * one (including merges), so a ragged caller fails fast with a clear
  * message instead of corrupting shuffle state or overflowing the
  * serialize buffer.
  */
final class TopKBuf(val k: Int) {
  var n = 0
  var width = -1
  val scores = new Array[Double](k)
  val ids = new Array[Long](k)
  val payloads = new Array[Array[Double]](k)

  /** True iff (s1, i1) ranks strictly before (s2, i2). */
  private def before(s1: Double, i1: Long, s2: Double, i2: Long): Boolean = {
    val c = java.lang.Double.compare(s1, s2)
    c > 0 || (c == 0 && i1 < i2)
  }

  def insert(s: Double, id: Long, p: Array[Double]): Unit = {
    if (width < 0) width = p.length
    else require(p.length == width,
      s"top_k_by_score requires a fixed payload width per group: " +
        s"saw ${p.length} after $width")
    if (n == k && !before(s, id, scores(n - 1), ids(n - 1))) return
    var pos = if (n == k) n - 1 else { n += 1; n - 1 }
    while (pos > 0 && before(s, id, scores(pos - 1), ids(pos - 1))) {
      scores(pos) = scores(pos - 1); ids(pos) = ids(pos - 1)
      payloads(pos) = payloads(pos - 1)
      pos -= 1
    }
    scores(pos) = s; ids(pos) = id; payloads(pos) = p
  }

  def absorb(other: TopKBuf): Unit = {
    var i = 0
    while (i < other.n) {
      insert(other.scores(i), other.ids(i), other.payloads(i))
      i += 1
    }
  }
}

object AggFunctions {

  /** Order-insensitive, EXACTLY-rounded 4-decimal mean. `round(avg(x),
    * 4)` is NOT aggregation-order-insensitive: the double sum differs
    * by ulps between Spark's parallel partial-sum order and a
    * sequential oracle fold, and a mean within an ulp of a .00005
    * boundary flips the 4th decimal — found LIVE by the differential
    * fuzzer (seed 3153: avg(c_acctbal) = 6446.38835 → 6446.3884 vs
    * 6446.3883). Here the input is quantized to integer micros per row
    * (identical doubles in both engines → identical micros; exact — no
    * quantization at all — when the input carries ≤ 6 fractional
    * decimals, which covers the 2-dp testdata measures and the
    * pre-rounded quality/probability columns), the micros SUM is an
    * exact integer under ANY order, and the final rounding is EXACT
    * INTEGER arithmetic. Nulls drop from both sum and count, exactly
    * like `avg`.
    *
    * The micros sum runs through decimal(38,0), not long (ADVICE r16):
    * DuckDB promotes a BIGINT sum to HUGEINT, so a long-typed Spark sum
    * would silently WRAP where the oracle keeps going — reachable at
    * real scale (|x|≈1e5 → 1e11 micros/row wraps past ~9e7 rows in one
    * group). decimal(38,0) is exact to 1e38 (headroom halves to ~5e37
    * for the 2·|S| below — still ~15 orders past any physical corpus).
    *
    * Oracle replay (see [[meanQ]] for why round-of-double is banned):
    * {{{
    * CASE WHEN S < 0 THEN -1 ELSE 1 END
    *   * ((2*abs(S) + P*n) // (2*P*n)) / 10000.0
    * -- S = sum(CAST(round(x * 1000000.0) AS BIGINT)), n = count(x),
    * -- P = 100 (= 10^(6-4))
    * }}}
    */
  def mean4(c: Column): Column = meanQ(c, 4)

  /** [[mean4]] generalized to `decimals` ∈ [0, 6] final decimals (same
    * micros quantization, same decimal(38,0) exact sum). `meanQ(_, 1)`
    * replaces the reference topology's order-sensitive
    * `round(avg(power), 1)` sites.
    *
    * The final HALF_UP rounding is computed in EXACT integer
    * arithmetic — `q = sgn(S) · ((2|S| + P·n) intdiv (2·P·n))` with
    * `P = 10^(6-decimals)`, result `q / 10^decimals` — never as
    * `round(double, d)`. Fuzz seed 7249 (round 18) proved the
    * round-of-double spelling has a cross-engine-UNDEFINED edge even
    * over an identical division result: when the true rational mean
    * sits exactly ON a half boundary (S = 40054270000, n = 8 →
    * 5006.78375 exactly), the nearest double is BELOW it, Spark's
    * `round` rounds the double's shortest decimal representation
    * (`BigDecimal.valueOf` → "5006.78375" → HALF_UP → .7838) while
    * DuckDB rounds the binary value (→ .7837). The integer spelling
    * rounds the true rational on both engines — .7838, bit-equal by
    * construction, with `q/10^d` a single exact-integer-by-power-of-ten
    * division both engines perform identically in IEEE double.
    */
  def meanQ(c: Column, decimals: Int): Column = {
    require(decimals >= 0 && decimals <= 6, s"decimals=$decimals")
    // ONE aggregate ([[MicrosMeanQAgg]]): int128 micros sum + non-null
    // count in one fixed-width buffer, the exact HALF_UP rounding once
    // per group in long arithmetic — identical value to the decimal
    // IntegralDivide spelling on the documented domain, codegen-friendly
    // where it was not (the r19 q08 adjudication in SURVEY.md)
    Bridge.column(
      MicrosMeanQAgg(Bridge.expression(c.cast("double")), decimals)
        .toAggregateExpression())
  }

  /** The DuckDB replay of [[meanQ]] — kept NEXT TO the Spark expression
    * because the two are a serialization pair (an edit to one without
    * the other is a silent gate divergence). Same exact-integer HALF_UP
    * arithmetic: DuckDB's `sum(BIGINT)` is HUGEINT (no wrap), `//` is
    * floor division over the non-negative operands, and the one final
    * `/ 10^d.0` is the identical exact-integer-by-power-of-ten IEEE
    * division Spark performs.
    */
  def meanQSql(x: String, decimals: Int): String = {
    require(decimals >= 0 && decimals <= 6, s"decimals=$decimals")
    val p = math.pow(10, 6 - decimals).toLong
    val tenD = math.pow(10, decimals).toLong
    val s = s"sum(CAST(round(($x) * 1000000.0) AS BIGINT))"
    s"(CASE WHEN $s < 0 THEN -1 ELSE 1 END * " +
      s"((2 * abs($s) + $p * count($x)) // (2 * $p * count($x))) " +
      s"/ $tenD.0)"
  }

  /** [[meanQSql]] at 4 decimals — the [[mean4]] twin. */
  def mean4Sql(x: String): String = meanQSql(x, 4)

  /** Exactly-rounded ratio of two INTEGER-VALUED expressions —
    * `round(a/b, d)` without the round-of-double step. The fuzz-seed-
    * 7249 mechanism (see [[meanQ]]) applies to every count ratio too:
    * a/b lands exactly ON a d-decimal half boundary whenever the
    * lowest-terms denominator divides 2·10^d into an odd cofactor
    * (b = 160, 800, 4000, 20000 at d = 4 — cohort/funnel-sized numbers,
    * not exotica), and there Spark's shortest-repr round and DuckDB's
    * binary-value round part ways. Here the HALF_UP (away-from-zero)
    * rounding is exact integer arithmetic:
    * `q = sgn(a)·sgn(b) · ((2·10^d·|a| + |b|) intdiv (2·|b|))`, result
    * `q / 10^d`; null when `b = 0` (the `NULLIF` discipline) or either
    * input is null. Operands run through decimal(38,0) for sums-of-
    * counts headroom; the divisor clamps to 1 under the b = 0 branch so
    * ANSI integral division never sees a zero.
    */
  def ratioQ(a: Column, b: Column, decimals: Int): Column = {
    import org.apache.spark.sql.functions.{lit, when}
    require(decimals >= 0 && decimals <= 6, s"decimals=$decimals")
    val tenD = math.pow(10, decimals).toLong
    // long operands + the MicrosMath.ratioQ128 kernel (exact long
    // arithmetic, BigInteger past the overflow edge), NOT decimal(38,0)
    // IntegralDivide: identical value — Spark-side integer operands are
    // long-typed by construction (sum(long) is long) and the kernel
    // widens exactly — at ~10× less per-row cost (the r19 q104
    // adjudication), and `a` is referenced exactly ONCE so expensive
    // composites are never re-evaluated (the old ratioQNN motivation)
    val aL = a.cast("long")
    val bL = b.cast("long")
    val q = Bridge.column(
      org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
        MicrosMath.getClass, DoubleType, "ratioQ128",
        Seq(Bridge.expression(aL), Bridge.expression(bL),
          org.apache.spark.sql.catalyst.expressions.Literal(tenD)),
        Seq(LongType, LongType, LongType), returnNullable = false))
    when(bL === 0, lit(null).cast("double")).otherwise(q)
  }

  /** [[ratioQ]] for operands that may EXCEED long — decimal(38,0)
    * products of sums (the grouped-trend regression numerators, where
    * n·Σxy − Σx·Σy reaches ~1e22 at real timestamps). The original
    * decimal IntegralDivide spelling: exact to the full decimal(38,0)
    * range, ~10× the per-row cost of the long kernel — use [[ratioQ]]
    * everywhere operands are counts/sums that fit a long (ANSI raises
    * loudly on a wrong guess), and this only where they provably don't.
    */
  def ratioQWide(a: Column, b: Column, decimals: Int): Column = {
    import org.apache.spark.sql.functions.{abs, lit, when}
    require(decimals >= 0 && decimals <= 6, s"decimals=$decimals")
    val tenD = math.pow(10, decimals).toLong
    val aD = a.cast("decimal(38,0)")
    val bD = b.cast("decimal(38,0)")
    val sign = when((aD < 0) =!= (bD < 0), lit(-1L)).otherwise(lit(1L))
    val q = Bridge.column(
      org.apache.spark.sql.catalyst.expressions.IntegralDivide(
        Bridge.expression(abs(aD) * lit(2L * tenD) + abs(bD)),
        Bridge.expression(
          when(bD === 0, lit(1L).cast("decimal(38,0)"))
            .otherwise(abs(bD)) * 2)))
    when(bD === 0, lit(null).cast("double"))
      .otherwise((sign * q).cast("double") / lit(tenD.toDouble))
  }

  /** [[ratioQ]] for NON-NEGATIVE operands (count/size ratios).
    * Historically a separate single-`a`-reference spelling (the general
    * form's sign/abs machinery referenced `a` three times, which
    * benched q113 at 2.4× and q104 at 2.2× on expensive composites);
    * the ratioQ128 kernel references `a` once in BOTH forms now, so
    * this is the same expression — kept because call sites using it
    * document their non-negativity invariant.
    */
  def ratioQNN(a: Column, b: Column, decimals: Int): Column =
    ratioQ(a, b, decimals)

  /** Raw integral division as a Column — for call sites that hand-tune
    * operand reference counts around expensive child expressions
    * instead of going through [[ratioQ]]'s generic spelling.
    */
  def intDiv(a: Column, b: Column): Column =
    Bridge.column(
      org.apache.spark.sql.catalyst.expressions.IntegralDivide(
        Bridge.expression(a), Bridge.expression(b)))

  /** `round(i/(u−i), 4)` exactly — the quantized Jaccard given the
    * intersect count `i` and the size sum `u = |A|+|B|`, one kernel
    * call so the expensive intersect column is referenced ONCE (see
    * `Dedup.jaccardQ`). Caller guards u ≠ 0.
    */
  def jaccardQ128(i: Column, u: Column): Column =
    Bridge.column(
      org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
        MicrosMath.getClass, DoubleType, "jaccardQ128",
        Seq(Bridge.expression(i), Bridge.expression(u)),
        Seq(LongType, LongType), returnNullable = false))

  /** The DuckDB replay of [[ratioQ]] — serialization pair, kept
    * adjacent. DuckDB's `// 0` is NULL (verified v1.0), so the b = 0
    * case needs no guard; `sum(BIGINT)` operands arrive as HUGEINT.
    */
  def ratioQSql(a: String, b: String, decimals: Int): String = {
    require(decimals >= 0 && decimals <= 6, s"decimals=$decimals")
    val tenD = math.pow(10, decimals).toLong
    s"(CASE WHEN (($a) < 0) != (($b) < 0) THEN -1 ELSE 1 END * " +
      s"((2 * $tenD * abs($a) + abs($b)) // (2 * abs($b))) / $tenD.0)"
  }

  /** Histogram of a long-valued column: `nBuckets` buckets of `width`,
    * last bucket open-ended, negatives clamped into bucket 0.
    */
  def histogram_agg(c: Column, nBuckets: Int, width: Long): Column =
    Bridge.column(
      HistogramAgg(Bridge.expression(c.cast("long")), nBuckets, width)
        .toAggregateExpression())

  /** Count-Min sketch of a string column (depth × width counters). */
  def count_min_agg(c: Column, depth: Int, width: Int): Column =
    Bridge.column(
      CountMinAgg(Bridge.expression(c.cast("string")), depth, width)
        .toAggregateExpression())

  /** Point estimate from a [[count_min_agg]] sketch. */
  def cms_query(sketch: Column, key: Column, depth: Int, width: Int): Column =
    Bridge.column(CmsQuery(Bridge.expression(sketch),
      Bridge.expression(key.cast("string")), depth, width))

  /** Bloom filter of a string-castable key column (`numBits` bits,
    * `numHashes` probes per key).
    */
  def bloom_agg(c: Column, numBits: Int, numHashes: Int): Column =
    Bridge.column(
      BloomAgg(Bridge.expression(c.cast("string")), numBits, numHashes)
        .toAggregateExpression())

  /** Membership probe against a [[bloom_agg]] filter (no false
    * negatives; false positives at the sized rate).
    */
  def bloom_might_contain(bloom: Column, key: Column,
                          numBits: Int, numHashes: Int): Column =
    Bridge.column(BloomMightContain(Bridge.expression(bloom),
      Bridge.expression(key.cast("string")), numBits, numHashes))

  /** The k best (id, payload) entries per group by (score desc, id asc),
    * best first — bounded-state ranking for candidate-scored search (see
    * [[TopKByScoreAgg]]). Pass the score pre-rounded to the oracle's
    * tie domain. The payload must be a FIXED-WIDTH array<double> within
    * each group (the serialized buffer carries one width for all
    * entries); ragged payloads fail fast with IllegalArgumentException.
    * Rows whose score, id, or payload is null are ignored, matching the
    * built-in aggregates' null semantics.
    */
  def top_k_by_score(score: Column, id: Column, payload: Column, k: Int): Column =
    Bridge.column(TopKByScoreAgg(Bridge.expression(score.cast("double")),
      Bridge.expression(id.cast("long")), Bridge.expression(payload), k)
      .toAggregateExpression())
}
