package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The primitive loops behind every vector expression, as plain compiled
  * methods (scalac emits static forwarders Janino-generated code can call).
  *
  * The expressions' `doGenCode` emit CALLS to these instead of inlining
  * the loop bodies — a deliberate JIT-survival choice, learned the hard
  * way in round 9: inlined loops compile into the stage's generated
  * consume method, and once enough expression code stacks up in one stage
  * (64 SRP planes; or a cosine fused with join + aggregate glue) that
  * method crosses HotSpot's ~8 KB bytecode JIT ceiling and the WHOLE
  * stage drops to interpreter speed — measured 13 µs/row for a 64-dim
  * cosine (≈ 45× slow) with `Compiler.codelist` confirming the consume
  * method was never JIT-compiled. A call into a small compiled method
  * keeps the hot loop JIT-compiled no matter how large the surrounding
  * generated method grows, and costs one non-inlinable call per row —
  * noise next to the loop body itself.
  *
  * Folds are sequential in index order, elements widened float→double —
  * the exact fold the DuckDB oracle computes with
  * `list_sum(list_transform(...))`; mismatched lengths use the shorter
  * prefix (each self-dot in [[cosine]] uses its OWN length, matching the
  * composed `dot/(sqrt(dot)·sqrt(dot))` form this fused kernel replaced).
  */
object VectorKernels {

  def dot(a: ArrayData, b: ArrayData, aF: Boolean, bF: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      s += (if (aF) a.getFloat(i).toDouble else a.getDouble(i)) *
        (if (bF) b.getFloat(i).toDouble else b.getDouble(i))
      i += 1
    }
    s
  }

  /** One-pass cosine: the three folds (x·y, x·x, y·y) accumulate
    * independently in one sweep — bit-identical to three separate
    * [[dot]] calls (each fold's addition order is unchanged).
    */
  def cosine(a: ArrayData, b: ArrayData, aF: Boolean, bF: Boolean): Double = {
    val na = a.numElements()
    val nb = b.numElements()
    val n = math.min(na, nb)
    var xy = 0.0
    var xx = 0.0
    var yy = 0.0
    var i = 0
    while (i < n) {
      val x = if (aF) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bF) b.getFloat(i).toDouble else b.getDouble(i)
      xy += x * y; xx += x * x; yy += y * y
      i += 1
    }
    // self-dot tails when lengths differ (never in practice; parity with
    // the composed form's per-dot min(len) rule)
    while (i < na) {
      val x = if (aF) a.getFloat(i).toDouble else a.getDouble(i)
      xx += x * x; i += 1
    }
    var j = n
    while (j < nb) {
      val y = if (bF) b.getFloat(j).toDouble else b.getDouble(j)
      yy += y * y; j += 1
    }
    xy / (math.sqrt(xx) * math.sqrt(yy))
  }

  def srpBands(x: ArrayData, xF: Boolean, planes: Array[Array[Double]],
               bandBits: Int, bands: Int): Array[Int] = {
    val dim = x.numElements()
    val out = new Array[Int](bands)
    var b = 0
    while (b < planes.length) {
      val row = planes(b)
      val n = math.min(dim, row.length)
      var s = 0.0
      var d = 0
      while (d < n) {
        s += row(d) * (if (xF) x.getFloat(d).toDouble else x.getDouble(d))
        d += 1
      }
      if (s >= 0) out(b / bandBits) |= 1 << (b % bandBits)
      b += 1
    }
    out
  }

  /** Symmetric int8 quantization stats in one pass: returns
    * [amax, q_sum, max_err] (q_sum is an exact integer ≤ 64·127, safe in a
    * double). Ops are element-wise identical to the HOF form they replace:
    * amax = max |x|; scale = 127/amax; qᵢ = floor(xᵢ·scale + 0.5);
    * err = max |xᵢ − qᵢ/scale|. Zero vectors (amax = 0) return zeros —
    * callers filter them out, this just keeps NaN out of the kernel.
    */
  def quantStats(x: ArrayData, xF: Boolean): Array[Double] = {
    val n = x.numElements()
    var amax = 0.0
    var i = 0
    while (i < n) {
      val v = math.abs(if (xF) x.getFloat(i).toDouble else x.getDouble(i))
      if (v > amax) amax = v
      i += 1
    }
    if (amax == 0.0) return Array(0.0, 0.0, 0.0)
    val scale = 127.0 / amax
    var qSum = 0.0
    var maxErr = 0.0
    i = 0
    while (i < n) {
      val v = if (xF) x.getFloat(i).toDouble else x.getDouble(i)
      val q = math.floor(v * scale + 0.5)
      qSum += q
      val e = math.abs(v - q / scale)
      if (e > maxErr) maxErr = e
      i += 1
    }
    Array(amax, qSum, maxErr)
  }

  /** Int8 codes in one pass: [amax, code₀, …, code_{n−1}] (codes as exact
    * small-integer doubles — the dot-kernel input type). Same arithmetic
    * as [[quantStats]].
    */
  def quantCodes(x: ArrayData, xF: Boolean): Array[Double] = {
    val n = x.numElements()
    var amax = 0.0
    var i = 0
    while (i < n) {
      val v = math.abs(if (xF) x.getFloat(i).toDouble else x.getDouble(i))
      if (v > amax) amax = v
      i += 1
    }
    val out = new Array[Double](n + 1)
    out(0) = amax
    if (amax == 0.0) return out
    val scale = 127.0 / amax
    i = 0
    while (i < n) {
      val v = if (xF) x.getFloat(i).toDouble else x.getDouble(i)
      out(i + 1) = math.floor(v * scale + 0.5)
      i += 1
    }
    out
  }

  def nearestCells(x: ArrayData, xF: Boolean, cents: Array[Array[Double]],
                   norms: Array[Double], nProbe: Int): Array[Int] = {
    val dim = x.numElements()
    val k = cents.length
    val dists = new Array[Double](k)
    var j = 0
    while (j < k) {
      val c = cents(j)
      val n = math.min(dim, c.length)
      var s = 0.0
      var d = 0
      while (d < n) {
        s += (if (xF) x.getFloat(d).toDouble else x.getDouble(d)) * c(d)
        d += 1
      }
      dists(j) = norms(j) - 2.0 * s
      j += 1
    }
    val out = new Array[Int](nProbe)
    val used = new Array[Boolean](k)
    var p = 0
    while (p < nProbe) {
      var best = -1
      var jj = 0
      while (jj < k) {
        if (!used(jj) &&
            (best < 0 || java.lang.Double.compare(dists(jj), dists(best)) < 0)) {
          best = jj
        }
        jj += 1
      }
      used(best) = true
      out(p) = best
      p += 1
    }
    out
  }

  /** Two-level nearest-cell assignment: rank the `nProbeGroups` nearest
    * COARSE group centroids (g of them, over the cell centroids), then
    * argmin the usual `|c|² − 2·x·c` distance over only the member cells
    * of those groups. Cost per vector: g + nProbeGroups·(k/g) dots
    * instead of k — ~√k·(1+p) at g=√k. Tie semantics match the flat
    * kernel (equal distance → smaller cell index), so whenever the true
    * nearest cell's group is probed the answer is IDENTICAL to the flat
    * argmin; the r13 probe measures the residual disagreement.
    */
  def nearestCellTwoLevel(x: ArrayData, xF: Boolean,
      groupCents: Array[Array[Double]], groupNorms: Array[Double],
      members: Array[Array[Int]], cents: Array[Array[Double]],
      norms: Array[Double], nProbeGroups: Int): Int = {
    val gIdx = nearestCells(x, xF, groupCents, groupNorms, nProbeGroups)
    var best = -1
    var bestD = 0.0
    var gi = 0
    while (gi < gIdx.length) {
      val ms = members(gIdx(gi))
      var mi = 0
      while (mi < ms.length) {
        val j = ms(mi)
        val c = cents(j)
        val n = math.min(x.numElements(), c.length)
        var s = 0.0
        var d = 0
        while (d < n) {
          s += (if (xF) x.getFloat(d).toDouble else x.getDouble(d)) * c(d)
          d += 1
        }
        val dist = norms(j) - 2.0 * s
        val cmp = if (best < 0) -1 else java.lang.Double.compare(dist, bestD)
        if (cmp < 0 || (cmp == 0 && j < best)) { best = j; bestD = dist }
        mi += 1
      }
      gi += 1
    }
    // safety net: if every probed group was memberless (an index built
    // outside hierIndex, which prunes empty groups), fall back to the
    // flat argmin rather than emit the -1 sentinel as a cell id
    if (best < 0) nearestCells(x, xF, cents, norms, 1)(0) else best
  }

  /** Residual PQ encoding in ONE fused pass: for each subspace `mi`, the
    * argmin codebook entry of the coarse residual slice — residual
    * element r = x[mi·sub+d] − coarse(cell)(mi·sub+d) computed on the
    * fly, never materialized. Bit-identical to `pqCodes(residualVec(x,
    * cell), book)` (same widen-to-double subtraction, same index-order
    * `|c|² − 2·r·c` fold, same first-wins tie-break), but codegen-native:
    * the compositional form pays an interpreted higher-order `zip_with`
    * per subspace slice — measured ~8× the whole-frontier wall at 1 M
    * vectors before this kernel replaced it.
    */
  def pqResidualCodes(x: ArrayData, xF: Boolean, cell: Int,
      coarse: Array[Array[Double]], books: Array[Array[Array[Double]]],
      bookNorms: Array[Array[Double]], subDim: Int): Array[Int] = {
    val cRow = coarse(cell)
    val dim = math.min(x.numElements(), cRow.length)
    val m = books.length
    val out = new Array[Int](m)
    var mi = 0
    while (mi < m) {
      val book = books(mi)
      val norms = bookNorms(mi)
      val off = mi * subDim
      var best = -1
      var bestD = 0.0
      var j = 0
      while (j < book.length) {
        val cb = book(j)
        val n = math.min(math.max(dim - off, 0), math.min(subDim, cb.length))
        var s = 0.0
        var d = 0
        while (d < n) {
          val r = (if (xF) x.getFloat(off + d).toDouble
                   else x.getDouble(off + d)) - cRow(off + d)
          s += r * cb(d)
          d += 1
        }
        val dist = norms(j) - 2.0 * s
        if (best < 0 || java.lang.Double.compare(dist, bestD) < 0) {
          best = j; bestD = dist
        }
        j += 1
      }
      out(mi) = best
      mi += 1
    }
    out
  }
}

/** Shared bits of the binary vector kernels ([[VectorDot]],
  * [[VectorCosine]]): array<float|double> input checks and the
  * element-type flags the [[VectorKernels]] calls take.
  */
private[functions] trait BinaryVectorExpression { self: BinaryExpression =>

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(e: Expression) = e.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left) && ok(right))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<float|double> inputs, got " +
          s"${left.dataType.simpleString} / ${right.dataType.simpleString}")
  }

  protected def isFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType
}

/** Dot product of two numeric arrays — see [[VectorKernels.dot]] for the
  * fold contract and [[VectorKernels]] for why codegen CALLS the kernel
  * instead of inlining the loop. (A custom expression rather than
  * `aggregate(zip_with(...))` because Spark's higher-order array functions
  * are interpreted CodegenFallback — per-element lambda dispatch made
  * cosine scoring the bottleneck of every similarity query.)
  */
case class VectorDot(left: Expression, right: Expression)
    extends BinaryExpression with BinaryVectorExpression {

  override def prettyName: String = "vec_dot"
  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      isFloat(left), isFloat(right))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""${ev.value} = graft.functions.VectorKernels.dot(
         |  $a, $b, ${isFloat(left)}, ${isFloat(right)});""".stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Cosine similarity in one pass — numerically identical to the composed
  * `vec_dot(a,b)/(sqrt(vec_dot(a,a))*sqrt(vec_dot(b,b)))` it replaced
  * (three independent index-order folds, then the same dot/(√·√)
  * expression), but one array sweep instead of three and ONE compact call
  * in generated code instead of three inlined loops — the hot-path kernel
  * of every similarity scoring stage (see [[VectorKernels]]).
  */
case class VectorCosine(left: Expression, right: Expression)
    extends BinaryExpression with BinaryVectorExpression {

  override def prettyName: String = "vec_cosine"
  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      isFloat(left), isFloat(right))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""${ev.value} = graft.functions.VectorKernels.cosine(
         |  $a, $b, ${isFloat(left)}, ${isFloat(right)});""".stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Shared input check for the vector-vs-constant-matrix expressions. */
private[functions] trait VectorMatrixExpression { self: Expression =>
  def child: Expression

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"expected array<float|double> input, got ${other.simpleString}")
    }

  protected def getter: String = child.dataType match {
    case ArrayType(FloatType, _) => "getFloat"
    case _ => "getDouble"
  }

  protected def elemIsFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType
}

/** All SRP band values of a vector against the constant hyperplane matrix
  * in ONE pass: bit b = (Σ_d planes(b)(d)·x_d) ≥ 0 (the same index-order
  * double fold as [[VectorDot]] against a literal plane), band bd =
  * Σ_{i<bandBits} bit(bd·bandBits+i) << i.
  *
  * This expression exists for JIT survival, not elegance. The obvious
  * Spark-first form — `bits` stacked `vec_dot(emb, typedlit(plane))`
  * columns — is arithmetically identical but generates `bits` separate
  * loop bodies in the stage's consume method; at 64 bits the method blows
  * past HotSpot's ~8 KB bytecode JIT ceiling and the whole corpus-side
  * stage runs at interpreter speed (~3.6 µs/row/dot vs 0.08 µs — measured
  * at 1M×64 in round 9, a ~45× stage slowdown the sf0.1 bench never
  * shows; SURVEY.md "Round 9 probe numbers", the ANN scale-bugs row).
  * One expression = one small nested loop over a primitive `double[][]`
  * reference object = one JIT-compiled method, regardless of signature
  * width.
  */
case class SrpBandValues(child: Expression, planes: Seq[Seq[Double]], bands: Int)
    extends UnaryExpression with VectorMatrixExpression {
  require(bands > 0 && planes.nonEmpty && planes.length % bands == 0,
    s"${planes.length} planes not divisible into $bands bands")
  require(planes.length / bands <= 30,
    s"band width ${planes.length / bands} overflows the int band value")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  @transient private lazy val mat: Array[Array[Double]] =
    planes.map(_.toArray).toArray

  override def nullSafeEval(input: Any): Any =
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(
      VectorKernels.srpBands(input.asInstanceOf[ArrayData], elemIsFloat,
        mat, planes.length / bands, bands))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val m = ctx.addReferenceObj("srpPlanes", mat, "double[][]")
      s"""${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |  .fromPrimitiveArray(graft.functions.VectorKernels.srpBands(
         |    $x, $elemIsFloat, $m, ${planes.length / bands}, $bands));""".stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The `nProbe` nearest centroid ids for a vector, by the IVF assignment
  * distance `|c_j|² − 2·(x·c_j)` with (dist, j) lexicographic tie-break —
  * element 1 is the argmin cell, so `nProbe = 1` IS the k-means
  * assignment. Same JIT rationale as [[SrpBandValues]]: the stacked
  * `array_min(array(struct(dist_j, j)))` form is identical arithmetic but
  * generates k separate dot loops plus per-row struct-array allocation,
  * and falls off the JIT cliff as k grows (k = 64 measured ~45× slower at
  * 1M rows). Norms are pre-folded driver-side exactly as the literal form
  * folded them (`c.map(x*x).sum`, left-to-right); double comparisons use
  * `Double.compare`, matching Spark's total order for DoubleType sorts.
  */
case class NearestCells(child: Expression, centroids: Seq[Seq[Double]], nProbe: Int)
    extends UnaryExpression with VectorMatrixExpression {
  require(nProbe >= 1 && nProbe <= centroids.length,
    s"nProbe $nProbe out of range for ${centroids.length} centroids")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  @transient private lazy val mat: Array[Array[Double]] =
    centroids.map(_.toArray).toArray
  @transient private lazy val norms: Array[Double] =
    centroids.map(_.map(x => x * x).sum).toArray

  override def nullSafeEval(input: Any): Any =
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(
      VectorKernels.nearestCells(input.asInstanceOf[ArrayData], elemIsFloat,
        mat, norms, nProbe))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val m = ctx.addReferenceObj("centroids", mat, "double[][]")
      val nm = ctx.addReferenceObj("norms", norms, "double[]")
      s"""${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |  .fromPrimitiveArray(graft.functions.VectorKernels.nearestCells(
         |    $x, $elemIsFloat, $m, $nm, $nProbe));""".stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Two-level (hierarchical) nearest-cell assignment — the scale fix the
  * r13 semdedup probe named: at k = 10,000 cells the flat argmin costs
  * 10,000 dots/vector (~0.11 ms); probing p of √k coarse groups costs
  * √k·(1+p) (≈ 500 at p=4 — 20× less). Groups and members are
  * driver-built literals ([[graft.operators.Similarity]] clusters the
  * centroid ARRAY itself); same fused one-pass shape and tie semantics
  * as [[NearestCells]].
  */
case class NearestCellTwoLevel(child: Expression,
    groupCents: Seq[Seq[Double]], members: Seq[Seq[Int]],
    centroids: Seq[Seq[Double]], nProbeGroups: Int)
    extends UnaryExpression with VectorMatrixExpression {
  require(nProbeGroups >= 1 && nProbeGroups <= groupCents.length,
    s"nProbeGroups $nProbeGroups out of range for ${groupCents.length} groups")
  require(members.length == groupCents.length,
    "one member list per group required")

  override def dataType: DataType = IntegerType

  @transient private lazy val gMat: Array[Array[Double]] =
    groupCents.map(_.toArray).toArray
  @transient private lazy val gNorms: Array[Double] =
    groupCents.map(_.map(x => x * x).sum).toArray
  @transient private lazy val memberArr: Array[Array[Int]] =
    members.map(_.toArray).toArray
  @transient private lazy val mat: Array[Array[Double]] =
    centroids.map(_.toArray).toArray
  @transient private lazy val norms: Array[Double] =
    centroids.map(_.map(x => x * x).sum).toArray

  override def nullSafeEval(input: Any): Any =
    VectorKernels.nearestCellTwoLevel(input.asInstanceOf[ArrayData],
      elemIsFloat, gMat, gNorms, memberArr, mat, norms, nProbeGroups)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val gm = ctx.addReferenceObj("groupCents", gMat, "double[][]")
      val gn = ctx.addReferenceObj("groupNorms", gNorms, "double[]")
      val mm = ctx.addReferenceObj("members", memberArr, "int[][]")
      val m = ctx.addReferenceObj("centroids", mat, "double[][]")
      val nm = ctx.addReferenceObj("norms", norms, "double[]")
      s"""${ev.value} = graft.functions.VectorKernels.nearestCellTwoLevel(
         |  $x, $elemIsFloat, $gm, $gn, $mm, $m, $nm, $nProbeGroups);""".stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Fused residual-PQ encoder: the m-length code array of x − c_coarse
  * (cell) against per-subspace codebooks, in one pass over the vector
  * (see [[VectorKernels.pqResidualCodes]]). Exists for the same reason
  * as the other fused kernels here: the compositional `pqCodes(zip_with
  * (x, centroid, _-_))` form evaluates an interpreted CodegenFallback
  * lambda per subspace slice on the corpus-sized encode stage.
  */
case class PqResidualCodes(emb: Expression, cell: Expression,
    coarse: Seq[Seq[Double]], books: Seq[Seq[Seq[Double]]])
    extends BinaryExpression {

  override def left: Expression = emb
  override def right: Expression = cell
  override def prettyName: String = "pq_residual_codes"
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (emb.dataType, cell.dataType) match {
      case (ArrayType(FloatType | DoubleType, _), IntegerType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (e, c) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"expected (array<float|double>, int) input, got " +
            s"(${e.simpleString}, ${c.simpleString})")
    }

  private def elemIsFloat: Boolean =
    emb.dataType.asInstanceOf[ArrayType].elementType == FloatType

  private val subDim: Int = books.head.head.length

  @transient private lazy val coarseMat: Array[Array[Double]] =
    coarse.map(_.toArray).toArray
  @transient private lazy val bookMat: Array[Array[Array[Double]]] =
    books.map(_.map(_.toArray).toArray).toArray
  @transient private lazy val bookNorms: Array[Array[Double]] =
    books.map(_.map(_.map(x => x * x).sum).toArray).toArray

  override def nullSafeEval(e: Any, c: Any): Any =
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(
      VectorKernels.pqResidualCodes(e.asInstanceOf[ArrayData], elemIsFloat,
        c.asInstanceOf[Int], coarseMat, bookMat, bookNorms, subDim))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, c) => {
      val cm = ctx.addReferenceObj("coarse", coarseMat, "double[][]")
      val bm = ctx.addReferenceObj("books", bookMat, "double[][][]")
      val bn = ctx.addReferenceObj("bookNorms", bookNorms, "double[][]")
      s"""${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |  .fromPrimitiveArray(graft.functions.VectorKernels.pqResidualCodes(
         |    $x, $elemIsFloat, $c, $cm, $bm, $bn, $subDim));""".stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(emb = newLeft, cell = newRight)
}

/** One-pass int8 quantization stats — struct(amax, q_sum, max_err); the
  * q55 storage-path report without the stacked higher-order-function
  * lambdas (transform/array_max/zip_with/aggregate are CodegenFallback —
  * per-element interpreted dispatch on a corpus-sized stage; same class
  * of fix as [[VectorKernels]], same bit-identical arithmetic).
  */
case class QuantizeInt8Stats(child: Expression)
    extends UnaryExpression with VectorMatrixExpression {

  override def prettyName: String = "quant_stats"
  override def dataType: DataType = StructType(Seq(
    StructField("amax", DoubleType, nullable = false),
    StructField("q_sum", LongType, nullable = false),
    StructField("max_err", DoubleType, nullable = false)))

  override def nullSafeEval(input: Any): Any = {
    val t = VectorKernels.quantStats(input.asInstanceOf[ArrayData], elemIsFloat)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](t(0), t(1).toLong, t(2)))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val t = ctx.freshName("t")
      s"""double[] $t = graft.functions.VectorKernels.quantStats($x, $elemIsFloat);
         |${ev.value} = new org.apache.spark.sql.catalyst.expressions
         |  .GenericInternalRow(new Object[]{$t[0], (long)$t[1], $t[2]});""".stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** One-pass int8 code extraction — struct(amax, codes array<double>); the
  * compute-side twin of [[QuantizeInt8Stats]] for the quantized ANN path.
  */
case class QuantizeInt8Codes(child: Expression)
    extends UnaryExpression with VectorMatrixExpression {

  override def prettyName: String = "quant_codes"
  override def dataType: DataType = StructType(Seq(
    StructField("amax", DoubleType, nullable = false),
    StructField("codes", ArrayType(DoubleType, containsNull = false),
      nullable = false)))

  override def nullSafeEval(input: Any): Any = {
    val t = VectorKernels.quantCodes(input.asInstanceOf[ArrayData], elemIsFloat)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](t(0),
        org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
          .fromPrimitiveArray(java.util.Arrays.copyOfRange(t, 1, t.length))))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val t = ctx.freshName("t")
      s"""double[] $t = graft.functions.VectorKernels.quantCodes($x, $elemIsFloat);
         |${ev.value} = new org.apache.spark.sql.catalyst.expressions
         |  .GenericInternalRow(new Object[]{$t[0],
         |    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |      .fromPrimitiveArray(java.util.Arrays.copyOfRange($t, 1, $t.length))});""".stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Column-API front door for the vector expressions. */
object VectorFunctions {

  def vec_dot(a: Column, b: Column): Column =
    Bridge.column(VectorDot(Bridge.expression(a), Bridge.expression(b)))

  /** Cosine similarity in double precision; numerically identical to the
    * oracle's `dot/(sqrt(dot)*sqrt(dot))` — one fused pass (see
    * [[VectorCosine]]).
    */
  def vec_cosine(a: Column, b: Column): Column =
    Bridge.column(VectorCosine(Bridge.expression(a), Bridge.expression(b)))

  /** The `bands` SRP band values of `vec` against `planes` — one fused,
    * JIT-sized pass (see [[SrpBandValues]]).
    */
  def srp_bands(vec: Column, planes: Seq[Seq[Double]], bands: Int): Column =
    Bridge.column(SrpBandValues(Bridge.expression(vec), planes, bands))

  /** The `nProbe` nearest IVF cells of `vec`, nearest first — element 1 is
    * the k-means assignment (see [[NearestCells]]).
    */
  def nearest_cells(vec: Column, centroids: Seq[Seq[Double]], nProbe: Int): Column =
    Bridge.column(NearestCells(Bridge.expression(vec), centroids, nProbe))

  /** Two-level nearest-cell assignment (see [[NearestCellTwoLevel]]). */
  def nearest_cell_two_level(vec: Column, groupCents: Seq[Seq[Double]],
      members: Seq[Seq[Int]], centroids: Seq[Seq[Double]],
      nProbeGroups: Int): Column =
    Bridge.column(NearestCellTwoLevel(Bridge.expression(vec), groupCents,
      members, centroids, nProbeGroups))

  /** Fused residual-PQ code array (see [[PqResidualCodes]]). */
  def pq_residual_codes(vec: Column, cell: Column, coarse: Seq[Seq[Double]],
      books: Seq[Seq[Seq[Double]]]): Column =
    Bridge.column(PqResidualCodes(Bridge.expression(vec),
      Bridge.expression(cell), coarse, books))

  /** struct(amax, q_sum, max_err) int8-quantization stats in one pass. */
  def quant_stats(vec: Column): Column =
    Bridge.column(QuantizeInt8Stats(Bridge.expression(vec)))

  /** struct(amax, codes) int8 codes in one pass (codes as exact
    * small-integer doubles — the [[vec_dot]] input type).
    */
  def quant_codes(vec: Column): Column =
    Bridge.column(QuantizeInt8Codes(Bridge.expression(vec)))
}
