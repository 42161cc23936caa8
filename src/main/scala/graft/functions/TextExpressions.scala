package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass text kernels for the dedup/curation operators, as plain
  * compiled methods (scalac emits static forwarders Janino-generated code
  * can call).
  *
  * Why custom expressions instead of `transform`/`aggregate` higher-order
  * functions: Spark HOF lambdas are interpreted, and ProjectCollapse
  * inlines the child expression into the lambda body — so
  * `transform(seq, i -> concat(split(text)[i], ...))` re-splits the
  * document for EVERY array element (profiled: 300+ `split` calls per doc,
  * 100× slowdown). A custom expression evaluates its child exactly once
  * and makes one pass.
  *
  * Why `doGenCode` emitting CALLS to these kernels instead of
  * `CodegenFallback` (VERDICT r11 #2): a single CodegenFallback expression
  * disqualifies its whole Project/Filter from whole-stage codegen —
  * `WholeStageCodegenExec` rejects any plan containing one — so every
  * OTHER expression in the corpus-scan stage (md5, conv, concat_ws, the
  * parquet-reader glue) dropped to interpreted row-at-a-time eval too.
  * The call-don't-inline shape is the [[VectorKernels]] r9 lesson: a small
  * compiled method stays JIT-compiled no matter how large the generated
  * consume method grows.
  *
  * Hash parity: everything is md5-hex-lowercase over UTF-8 bytes, matching
  * both Spark's `md5(...)` and DuckDB's `md5(...)` so oracles replay
  * bit-for-bit.
  */
object TextKernels {
  private val hexDigits = "0123456789abcdef".toCharArray

  private val und = UTF8String.fromString("und")

  /** Thread-local digest: `MessageDigest.getInstance` does a provider
    * lookup per call, which dominates when hashing millions of shingles
    * (k perms × shingles × docs). `digest()` resets the instance.
    */
  private val md5 = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  def md5Bytes(bytes: Array[Byte]): Array[Byte] = md5.get().digest(bytes)

  def toHex(d: Array[Byte]): String = {
    val out = new Array[Char](2 * d.length)
    var i = 0
    while (i < d.length) {
      out(2 * i) = hexDigits((d(i) >> 4) & 0xf)
      out(2 * i + 1) = hexDigits(d(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  def md5Hex(bytes: Array[Byte]): String = toHex(md5Bytes(bytes))

  /** First 16 bits of md5, matching `('0x' || substr(md5(t),1,4))::INT`. */
  def md5Prefix16(bytes: Array[Byte]): Int = {
    val d = md5Bytes(bytes)
    ((d(0) & 0xff) << 8) | (d(1) & 0xff)
  }

  /** First 60 bits of md5 as a non-negative long — the value of
    * `conv(substring(md5(x), 1, 15), 16, 10)::long` (15 hex nibbles =
    * the first 8 digest bytes big-endian, shifted right one nibble)
    * without materializing the 32-char hex string, the substring, or
    * conv's decimal string (r19 — three string allocations per token on
    * every fp60 consumer; Fp60Spec pins the equivalence).
    */
  def md5Prefix60(bytes: Array[Byte]): Long = {
    val d = md5Bytes(bytes)
    var out = 0L
    var i = 0
    while (i < 8) {
      out = (out << 8) | (d(i) & 0xffL)
      i += 1
    }
    out >>> 4
  }

  /** The fused HLL register update (r20): bucket and rho of one md5
    * digest, packed `(bucket << 6) | rho` (bucket < 256, rho ≤ 53 < 64).
    * Value-identical to the conv/substring spelling the sketch family
    * used (HllRegSpec pins it):
    *  - bucket = `conv(substring(md5(x),1,2),16,10)::int` — the first
    *    digest byte unsigned;
    *  - v = `conv(substring(md5(x),3,13),16,10)::long` — hex nibbles
    *    3..15 (1-based) = digest bytes 1..7 big-endian shifted right one
    *    nibble, a 52-bit value;
    *  - rho = 53 − (1-based MSB position of v), i.e. 53 when v = 0 else
    *    `numberOfLeadingZeros(v) − 11` (v < 2^52 ⇒ nlz ≥ 12) — exactly
    *    the 53-way `greatest(when(shiftright(v, j) > 0, j+1)...)` chain.
    * One digest per value instead of two, no hex string, no substring
    * copies, no conv decimal round-trips, no 53-expression comparison
    * ladder per token.
    */
  def hllReg(bytes: Array[Byte]): Int = {
    val d = md5Bytes(bytes)
    val bucket = d(0) & 0xff
    var v56 = 0L
    var i = 1
    while (i < 8) {
      v56 = (v56 << 8) | (d(i) & 0xffL)
      i += 1
    }
    val v = v56 >>> 4
    val rho = if (v == 0L) 53 else java.lang.Long.numberOfLeadingZeros(v) - 11
    (bucket << 6) | rho
  }

  /** First 64 bits of md5 as a big-endian long — the high 32 bits match
    * `('0x' || substr(md5(t),1,8))::BIGINT` and the low 32 bits
    * `('0x' || substr(md5(t),9,8))::BIGINT`, so a DuckDB oracle can replay
    * bit j as `(hi >> (j-32)) & 1` / `(lo >> j) & 1` without ever building
    * the (possibly sign-overflowing) 64-bit literal from hex.
    */
  def md5Prefix64(bytes: Array[Byte]): Long = {
    val d = md5Bytes(bytes)
    var out = 0L
    var i = 0
    while (i < 8) {
      out = (out << 8) | (d(i) & 0xffL)
      i += 1
    }
    out
  }

  // ---- per-row kernel bodies (called from both nullSafeEval and the
  // generated code; one static call per row) ----

  /** [[WordShingles]]' row kernel. */
  def wordShingles(input: UTF8String, n: Int): ArrayData = {
    val toks = input.split(UTF8String.fromString(" "), -1)
    if (toks.length < n) new GenericArrayData(Array.empty[Any])
    else {
      val out = new Array[Any](toks.length - n + 1)
      var i = 0
      while (i < out.length) {
        val sb = new java.lang.StringBuilder
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(' ')
          sb.append(toks(i + j).toString)
          j += 1
        }
        out(i) = UTF8String.fromString(sb.toString)
        i += 1
      }
      new GenericArrayData(out)
    }
  }

  /** [[WordChunks]]' row kernel. */
  def wordChunks(input: UTF8String, n: Int, stride: Int): ArrayData = {
    val toks = input.split(UTF8String.fromString(" "), -1)
    val len = toks.length
    val nChunks =
      if (len <= n) 1 else 1 + (len - n + stride - 1) / stride
    val out = new Array[Any](nChunks)
    var i = 0
    while (i < nChunks) {
      val sb = new java.lang.StringBuilder
      var j = i * stride
      val end = math.min(j + n, len)
      while (j < end) {
        if (j > i * stride) sb.append(' ')
        sb.append(toks(j).toString)
        j += 1
      }
      out(i) = UTF8String.fromString(sb.toString)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Unsigned lexicographic byte order — for equal-length md5 digests
    * this IS the hex-string order (hex digits ascend with nibble value),
    * so comparing digests raw skips the per-hash hex materialization.
    */
  private def unsignedLess(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < a.length) {
      val c = (a(i) & 0xff) - (b(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    false
  }

  /** [[MinHashSig]]'s row kernel — null for an empty shingle array.
    * r19: the argmin tracks raw digest BYTES (hex order ≡ unsigned byte
    * order for the equal-length digests) and feeds the digest
    * incrementally (`update(prefix); update(shingle)`), so the former
    * per-(perm, shingle) concat buffer + 32-char hex string + String
    * compare collapse to one md5 and a byte compare; only the k winners
    * are hex-encoded. Output bit-identical (MinHashSpec + the q11-family
    * oracle gates).
    */
  def minHashSig(arr: ArrayData, k: Int): ArrayData = {
    val m = arr.numElements()
    if (m == 0) return null
    // materialize shingle bytes once; reuse across the k permutations
    val shingleBytes = new Array[Array[Byte]](m)
    var i = 0
    while (i < m) {
      shingleBytes(i) = arr.getUTF8String(i).getBytes
      i += 1
    }
    val dig = md5.get()
    val out = new Array[Any](k)
    var j = 0
    while (j < k) {
      val prefix = (j.toString + "|").getBytes("UTF-8")
      var best: Array[Byte] = null
      i = 0
      while (i < m) {
        dig.update(prefix)
        dig.update(shingleBytes(i))
        val h = dig.digest() // returns the digest and resets the instance
        if (best == null || unsignedLess(h, best)) best = h
        i += 1
      }
      out(j) = UTF8String.fromString(toHex(best))
      j += 1
    }
    new GenericArrayData(out)
  }

  /** [[SimHash16]]'s row kernel — callers guard the empty array. */
  def simHash16(arr: ArrayData): Long = {
    val m = arr.numElements()
    val votes = new Array[Int](16)
    var i = 0
    while (i < m) {
      val h = md5Prefix16(arr.getUTF8String(i).getBytes)
      var j = 0
      while (j < 16) {
        votes(j) += ((h >> j) & 1) * 2 - 1
        j += 1
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 16) {
      if (votes(j) > 0) out |= 1L << j
      j += 1
    }
    out
  }

  /** [[SimHash64]]'s row kernel — callers guard the empty array. */
  def simHash64(arr: ArrayData): Long = {
    val m = arr.numElements()
    val votes = new Array[Int](64)
    var i = 0
    while (i < m) {
      val h = md5Prefix64(arr.getUTF8String(i).getBytes)
      var j = 0
      while (j < 64) {
        votes(j) += (((h >>> j) & 1L).toInt * 2) - 1
        j += 1
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 64) {
      if (votes(j) > 0) out |= 1L << j
      j += 1
    }
    out
  }

  /** [[StopwordScores]]' row kernel over pre-built dictionary hash sets. */
  def stopwordScores(arr: ArrayData,
                     sets: Array[java.util.HashSet[UTF8String]]): ArrayData = {
    val m = arr.numElements()
    val counts = new Array[Int](sets.length)
    var i = 0
    while (i < m) {
      if (!arr.isNullAt(i)) {
        val t = arr.getUTF8String(i)
        var d = 0
        while (d < sets.length) {
          if (sets(d).contains(t)) counts(d) += 1
          d += 1
        }
      }
      i += 1
    }
    val out = new Array[Any](counts.length)
    var d = 0
    while (d < counts.length) { out(d) = counts(d); d += 1 }
    new GenericArrayData(out)
  }

  /** [[LangPredict]]'s row kernel: argmax stopword score, first-in-order
    * tie-break, "und" when every score is zero.
    */
  def langPredict(arr: ArrayData, sets: Array[java.util.HashSet[UTF8String]],
                  langs: Array[UTF8String]): UTF8String = {
    val m = arr.numElements()
    val counts = new Array[Int](sets.length)
    var i = 0
    while (i < m) {
      if (!arr.isNullAt(i)) {
        val t = arr.getUTF8String(i)
        var d = 0
        while (d < sets.length) {
          if (sets(d).contains(t)) counts(d) += 1
          d += 1
        }
      }
      i += 1
    }
    var best = -1
    var max = 0
    var d = 0
    while (d < counts.length) {
      if (counts(d) > max) { max = counts(d); best = d }
      d += 1
    }
    if (best < 0) und else langs(best)
  }

  /** [[PunctCount]]'s row kernel. */
  def punctCount(input: UTF8String): Int = {
    val bytes = input.getBytes
    var i = 0
    var n = 0
    while (i < bytes.length) {
      val b = bytes(i) & 0xff
      if (b < 0x80) {
        if (!((b >= 'a' && b <= 'z') || (b >= '0' && b <= '9') || b == ' ')) n += 1
        i += 1
      } else {
        n += 1 // one non-ASCII codepoint == one [^a-z0-9 ] match
        i += (if (b >= 0xf0) 4 else if (b >= 0xe0) 3 else 2)
      }
    }
    n
  }

  /** Dictionary hash sets in the form the kernels take — built once per
    * expression instance (driver side), shipped as a codegen reference
    * object (HashSet and UTF8String are both serializable).
    */
  def buildSets(dicts: Seq[Seq[String]]): Array[java.util.HashSet[UTF8String]] =
    dicts.map { d =>
      val s = new java.util.HashSet[UTF8String](d.size * 2)
      d.foreach(w => s.add(UTF8String.fromString(w)))
      s
    }.toArray
}

/** Word n-gram shingles of the single-space tokenization: one split, one
  * pass. Equivalent to (but ~100× faster than)
  * `transform(sequence(1, size(toks)-n+1), i -> concat_ws(' ', toks[i-1+0..n-1]))`.
  */
case class WordShingles(child: Expression, n: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override protected def nullSafeEval(input: Any): Any =
    TextKernels.wordShingles(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = graft.functions.TextKernels.wordShingles($x, $n);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Fixed-size word chunks of the single-space tokenization, with optional
  * overlap: chunk i is tokens [i·stride, i·stride + n) space-joined. With
  * stride == n the windows are disjoint (the classic segmentation); with
  * stride < n consecutive chunks overlap by n − stride tokens (the
  * pretraining convention that preserves cross-boundary context). Windows
  * start every `stride` tokens until one covers the end, so the count is
  * 1 + ⌈(len − n)/stride⌉ for len > n (no trailing window that is a pure
  * suffix of its predecessor) and 1 otherwise; the last chunk may be
  * shorter, and a document with no tokens yields one empty chunk
  * (split("") == [""]). Single pass — the scan-fused chunking primitive
  * (the HOF slice/array_join formulation re-evaluates the split per
  * chunk; see WordShingles).
  */
case class WordChunks(child: Expression, n: Int, stride: Int)
    extends UnaryExpression {
  require(n > 0, "chunk size must be positive")
  require(stride > 0 && stride <= n, "stride must be in [1, chunk size]")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override protected def nullSafeEval(input: Any): Any =
    TextKernels.wordChunks(input.asInstanceOf[UTF8String], n, stride)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = graft.functions.TextKernels.wordChunks($x, $n, $stride);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** MinHash signature over a shingle array: k simulated permutations, entry
  * j = lexicographic min over shingles of md5Hex(j + "|" + shingle).
  * Single pass over k×|shingles|; null for empty input (no shingles → no
  * signature, filtered upstream) — hence the explicit `nullable` override:
  * the generated code re-checks the kernel result.
  */
case class MinHashSig(child: Expression, k: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    TextKernels.minHashSig(input.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x =>
      s"""${ev.value} = graft.functions.TextKernels.minHashSig($x, $k);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** 16-bit SimHash over a token array: per-token 16-bit hash from the md5
  * prefix, fingerprint bit j = sign of the +1/−1 vote sum. Null for empty
  * input.
  */
case class SimHash16(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    if (arr.numElements() == 0) null else TextKernels.simHash16(arr)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x =>
      s"""if ($x.numElements() == 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = graft.functions.TextKernels.simHash16($x);
         |}""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** 64-bit SimHash over a token array: per-token hash = first 8 md5 bytes
  * (big-endian), fingerprint bit j = sign of the +1/−1 vote sum. Null for
  * empty input. Bit 63 set makes the long negative — callers treat the
  * fingerprint as a bit pattern (xor/bit_count/block masks), where sign is
  * irrelevant. The production-width twin of [[SimHash16]]: 16-bit blocks
  * give 65,536 buckets per block index in the Manku pigeonhole layout
  * instead of 16, which is what makes bucketed near-dedup sub-quadratic
  * at 100 TB.
  */
case class SimHash64(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    if (arr.numElements() == 0) null else TextKernels.simHash64(arr)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x =>
      s"""if ($x.numElements() == 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = graft.functions.TextKernels.simHash64($x);
         |}""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** All stopword-dictionary scores in one pass over the token array:
  * result[d] = number of tokens contained in dicts(d). Replaces the
  * `size(filter(toks, t -> array_contains(dict, t)))` formulation, whose
  * interpreted per-element lambda costs |toks| × Σ|dict| comparisons per
  * document (measured: language-ID dominated the 1 M-doc curation probe at
  * ~40 s); here each token is |dicts| hash-set probes. Null for null
  * input; null tokens count for no dictionary. The pre-built set array
  * ships to generated code as a codegen reference object.
  */
case class StopwordScores(child: Expression, dicts: Seq[Seq[String]])
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  @transient private lazy val sets: Array[java.util.HashSet[UTF8String]] =
    TextKernels.buildSets(dicts)

  override protected def nullSafeEval(input: Any): Any =
    TextKernels.stopwordScores(input.asInstanceOf[ArrayData], sets)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val s = ctx.addReferenceObj("stopwordSets", sets, "java.util.HashSet[]")
      s"${ev.value} = graft.functions.TextKernels.stopwordScores($x, $s);"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Language prediction in ONE pass over the token array: argmax stopword
  * score with first-in-order tie-break, "und" when every score is zero —
  * the single-expression form of the `CASE WHEN score_l = max THEN l`
  * chain, evaluated once per row instead of once per score reference
  * (interpreted expressions get no common-subexpression elimination, so
  * the chain re-ran the scoring per branch).
  */
case class LangPredict(child: Expression, dicts: Seq[Seq[String]],
                       langs: Seq[String])
    extends UnaryExpression {
  require(dicts.length == langs.length)

  override def dataType: DataType = StringType

  @transient private lazy val sets: Array[java.util.HashSet[UTF8String]] =
    TextKernels.buildSets(dicts)
  @transient private lazy val langStrs: Array[UTF8String] =
    langs.map(UTF8String.fromString).toArray

  override protected def nullSafeEval(input: Any): Any =
    TextKernels.langPredict(input.asInstanceOf[ArrayData], sets, langStrs)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val s = ctx.addReferenceObj("langSets", sets, "java.util.HashSet[]")
      val l = ctx.addReferenceObj("langStrs", langStrs,
        "org.apache.spark.unsafe.types.UTF8String[]")
      s"${ev.value} = graft.functions.TextKernels.langPredict($x, $s, $l);"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `conv(substring(md5(x), 1, 15), 16, 10)::long` in one fused kernel
  * call — the engine-wide 60-bit fingerprint ([[TextKernels.md5Prefix60]]).
  */
case class Fp60(child: Expression)
    extends UnaryExpression {

  override def prettyName: String = "fp60"
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires a string input, got ${other.simpleString}")
    }

  override protected def nullSafeEval(input: Any): Any =
    TextKernels.md5Prefix60(input.asInstanceOf[UTF8String].getBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = graft.functions.TextKernels.md5Prefix60($x.getBytes());")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The HLL (bucket, rho) register update in one fused kernel call —
  * packed `(bucket << 6) | rho` (see [[TextKernels.hllReg]]).
  */
case class HllReg(child: Expression)
    extends UnaryExpression {

  override def prettyName: String = "hll_reg"
  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires a string input, got ${other.simpleString}")
    }

  override protected def nullSafeEval(input: Any): Any =
    TextKernels.hllReg(input.asInstanceOf[UTF8String].getBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = graft.functions.TextKernels.hllReg($x.getBytes());")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Count of codepoints NOT in [a-z0-9 ] — the single-pass twin of
  * `size(regexp_extract_all(lowered, '[^a-z0-9 ]', 0))`, which costs ~34 µs
  * per 300-char document (regex engine + one match object per punctuation
  * character; measured as 34 s of the 1 M-doc curation probe's 38 s).
  * Every non-ASCII codepoint is outside the allowed set by definition, so
  * multibyte sequences count as one without decoding. Callers pass the
  * LOWERCASED text, exactly like the regex form.
  */
case class PunctCount(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = IntegerType

  override protected def nullSafeEval(input: Any): Any =
    TextKernels.punctCount(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = graft.functions.TextKernels.punctCount($x);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** One greedy left-to-right BPE merge pass over a symbol array: every
  * NON-OVERLAPPING adjacent occurrence of (a, b) becomes the single symbol
  * a+b, scanning left to right (after merging at i, the scan resumes at
  * i+2 — the classic BPE application order, so "aaa" with merge (a,a)
  * yields [aa, a], not [a, aa]). Single pass, no allocation beyond the
  * output array. Stays CodegenFallback deliberately: it only ever runs on
  * the vocab-sized training relation (never a corpus scan), where one
  * virtual call per row is noise.
  */
case class BpeApply(child: Expression, a: String, b: String)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  private lazy val ua = UTF8String.fromString(a)
  private lazy val ub = UTF8String.fromString(b)
  private lazy val merged = UTF8String.fromString(a + b)

  override protected def nullSafeEval(input: Any): Any = {
    val in = input.asInstanceOf[ArrayData]
    val n = in.numElements()
    val out = new Array[Any](n)
    var i = 0
    var o = 0
    while (i < n) {
      val cur = in.getUTF8String(i)
      if (i + 1 < n && cur == ua && in.getUTF8String(i + 1) == ub) {
        out(o) = merged; i += 2
      } else {
        out(o) = cur; i += 1
      }
      o += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(
      out.asInstanceOf[Array[AnyRef]], o))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Full BPE tokenizer APPLICATION for one word: seed with the word's
  * characters, then repeatedly merge the adjacent pair with the LOWEST
  * training rank (all non-overlapping occurrences, left to right — the
  * same single-pass order as [[BpeApply]]) until no adjacent pair is in
  * the merge table. This replays training exactly: a pair minted by merge
  * r only ever participates in pairs of rank > r (both its constituents
  * predate it), so "lowest rank first until fixpoint" visits merges in
  * the same order as training's one-pass-per-rank sweep — the
  * BpeEncodeSpec equivalence test pins encode(word) == the trained
  * vocabulary's segmentation for every training word.
  *
  * Per-word cost is O(len² ) pair-map lookups and INDEPENDENT of the
  * merge count (the pair-ranked alternative VERDICT r8 #1 asked after —
  * stacking `nMerges` [[BpeApply]] projections would pay O(len × merges)
  * per word, unusable at a production 30k-100k vocab). The merge table
  * ships inside the serialized expression (a 1k-merge table is ~20 KB;
  * at 100k merges move it to a broadcast variable — same eval loop).
  * Production drivers should also memoize per DISTINCT word
  * ([[graft.operators.Bpe.encodeStage]]): Zipf corpora have far fewer
  * distinct words than word instances. Stays CodegenFallback: its gated
  * call sites sit inside higher-order `transform` lambdas, which Spark
  * evaluates interpreted regardless.
  */
case class BpeEncode(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  // rank of each mergeable pair, keyed "a b" (symbols never contain a
  // space — the same collision-free key the trainer's pair counts use)
  @transient private lazy val rank: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](merges.size * 2)
    merges.zipWithIndex.foreach { case ((a, b), r) =>
      m.putIfAbsent(a + " " + b, Integer.valueOf(r))
    }
    m
  }

  override protected def nullSafeEval(input: Any): Any = {
    val word = input.asInstanceOf[UTF8String].toString
    // seed: one symbol per character (the trainer's split(word, ""))
    var syms = new java.util.ArrayList[String](word.length)
    var ci = 0
    while (ci < word.length) {
      val cp = word.codePointAt(ci)
      val n = Character.charCount(cp)
      syms.add(word.substring(ci, ci + n))
      ci += n
    }
    var done = syms.size < 2
    while (!done) {
      // lowest-ranked adjacent pair currently present
      var best = -1
      var bestRank = Integer.MAX_VALUE
      var i = 0
      while (i < syms.size - 1) {
        val r = rank.get(syms.get(i) + " " + syms.get(i + 1))
        if (r != null && r < bestRank) { bestRank = r; best = i }
        i += 1
      }
      if (best < 0) done = true
      else {
        // merge all non-overlapping occurrences, left to right
        val a = merges(bestRank)._1
        val b = merges(bestRank)._2
        val ab = a + b
        val out = new java.util.ArrayList[String](syms.size)
        var j = 0
        while (j < syms.size) {
          if (j + 1 < syms.size && syms.get(j) == a && syms.get(j + 1) == b) {
            out.add(ab); j += 2
          } else { out.add(syms.get(j)); j += 1 }
        }
        syms = out
        if (syms.size < 2) done = true
      }
    }
    val arr = new Array[Any](syms.size)
    var k = 0
    while (k < syms.size) { arr(k) = UTF8String.fromString(syms.get(k)); k += 1 }
    new GenericArrayData(arr)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TextFunctions {
  def word_shingles(text: Column, n: Int): Column =
    Bridge.column(WordShingles(Bridge.expression(text), n))

  /** Fused 60-bit md5 fingerprint (see [[Fp60]]). */
  def fp60_long(c: Column): Column =
    Bridge.column(Fp60(Bridge.expression(c)))

  def bpe_apply(symbols: Column, a: String, b: String): Column =
    Bridge.column(BpeApply(Bridge.expression(symbols), a, b))

  def bpe_encode(word: Column, merges: Seq[(String, String)]): Column =
    Bridge.column(BpeEncode(Bridge.expression(word), merges))

  def word_chunks(text: Column, n: Int): Column =
    Bridge.column(WordChunks(Bridge.expression(text), n, n))

  def word_chunks(text: Column, n: Int, stride: Int): Column =
    Bridge.column(WordChunks(Bridge.expression(text), n, stride))

  def min_hash_sig(shingles: Column, k: Int): Column =
    Bridge.column(MinHashSig(Bridge.expression(shingles), k))

  def sim_hash16(tokens: Column): Column =
    Bridge.column(SimHash16(Bridge.expression(tokens)))

  def sim_hash64(tokens: Column): Column =
    Bridge.column(SimHash64(Bridge.expression(tokens)))

  def stopword_scores(tokens: Column, dicts: Seq[Seq[String]]): Column =
    Bridge.column(StopwordScores(Bridge.expression(tokens), dicts))

  def lang_predict(tokens: Column, dicts: Seq[Seq[String]],
                   langs: Seq[String]): Column =
    Bridge.column(LangPredict(Bridge.expression(tokens), dicts, langs))

  def punct_count(loweredText: Column): Column =
    Bridge.column(PunctCount(Bridge.expression(loweredText)))

  /** Fused HLL register update, packed `(bucket << 6) | rho` (see
    * [[HllReg]]).
    */
  def hll_reg(value: Column): Column =
    Bridge.column(HllReg(Bridge.expression(value)))
}
