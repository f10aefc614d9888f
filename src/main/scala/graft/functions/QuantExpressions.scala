package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, MathUtils}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** Exact-long quantization kernels of the IVF/PQ index (Jégou et al.,
  * TPAMI 2011) — one tight loop over `ArrayData` per row, shared by
  * interpreted eval and generated code (the [[VectorOps]] static-call
  * pattern). They replace `transform`/`zip_with`/`aggregate` formulations,
  * which Spark runs as interpreted lambdas over boxed longs, and return
  * the values those formulations return, bit for bit:
  *
  *  - components quantize with [[q6]], `floor(x·1e6)` as a long (NaN → 0,
  *    ±Inf → Long.MaxValue / Long.MinValue, the JVM's double-to-long cast);
  *  - every term is computed, and each sum taken left to right, in long
  *    arithmetic; with `ansi` set an overflowing product, difference or
  *    sum throws `ARITHMETIC_OVERFLOW` (`MathUtils`' exact ops, what
  *    Spark's `Multiply`/`Subtract`/`Add` call under ANSI), otherwise it
  *    wraps;
  *  - a null element, or an index one operand lacks (length mismatch),
  *    makes its term null, and a sum with a null term is null — yet every
  *    product is still evaluated, so ANSI raises on the same inputs.
  *
  * A constant matrix is one flat row-major `long[]`. */
object QuantOps {

  /** The one quantization of a float component. */
  def q6(x: Float): Long = Math.floor(x.toDouble * 1e6).toLong

  /** `q6(v) · row` for every row of `m` (`m.length / cols` rows): element
    * `r` is null where a term is null (see the object doc); a null `v`
    * gives all-null elements. */
  def dots(v: ArrayData, m: Array[Long], cols: Int, ansi: Boolean): ArrayData = {
    val rows = m.length / cols
    val out = UnsafeArrayData.createFreshArray(rows, 8)
    if (v == null) {
      var r = 0
      while (r < rows) { out.setNullAt(r); r += 1 }
      return out
    }
    val len = v.numElements()
    val n = math.min(len, cols)
    val q = new Array[Long](n)
    var valid = n // terms before the first null one
    var i = 0
    while (i < n) {
      if (v.isNullAt(i)) { if (valid == n) valid = i } else q(i) = q6(v.getFloat(i))
      i += 1
    }
    val nullSum = valid < n || len != cols
    var r = 0
    while (r < rows) {
      val base = r * cols
      var s = 0L
      i = 0
      while (i < n) {
        if (i < valid || !v.isNullAt(i)) {
          val a = q(i); val b = m(base + i)
          val p = if (ansi) MathUtils.multiplyExact(a, b) else a * b
          if (i < valid) s = if (ansi) MathUtils.addExact(s, p) else s + p
        }
        i += 1
      }
      if (nullSum) out.setNullAt(r) else out.setLong(r, s)
      r += 1
    }
    out
  }

  /** Squared L2 of subvector `sub` of `q6(v)` against every code of its
    * codebook (`books` flat `[sub][code][d]`, `k` codes of `subDim`), into
    * `dist`; returns false when the distances are null (a null or missing
    * component in the subvector — the same for every code). */
  private def subDists(v: ArrayData, books: Array[Long], k: Int, subDim: Int,
      sub: Int, ansi: Boolean, q: Array[Long], dist: Array[Long]): Boolean = {
    val start = sub * subDim
    val svLen = math.max(0, math.min(subDim, v.numElements() - start))
    var valid = svLen
    var d = 0
    while (d < svLen) {
      if (v.isNullAt(start + d)) { if (valid == svLen) valid = d }
      else q(d) = q6(v.getFloat(start + d))
      d += 1
    }
    val defined = valid == subDim
    var c = 0
    while (c < k) {
      val base = (sub * k + c) * subDim
      var s = 0L
      d = 0
      while (d < svLen) {
        if (d < valid || !v.isNullAt(start + d)) {
          val a = q(d); val b = books(base + d)
          val diff = if (ansi) MathUtils.subtractExact(a, b) else a - b
          val p = if (ansi) MathUtils.multiplyExact(diff, diff) else diff * diff
          if (d < valid) s = if (ansi) MathUtils.addExact(s, p) else s + p
        }
        d += 1
      }
      dist(c) = s
      c += 1
    }
    defined
  }

  /** Nearest code per subspace: `argmin_c ‖sv − book[c]‖²`, ties to the
    * smaller code; a subspace whose distances are null gets code 0 (a
    * null distance orders first, and all of a subspace's are null
    * together), as does every subspace of a null `v`. */
  def pqAssign(v: ArrayData, books: Array[Long], k: Int, subDim: Int,
      ansi: Boolean): ArrayData = {
    val m = books.length / (k * subDim)
    val codes = new Array[Int](m)
    if (v != null) {
      val q = new Array[Long](subDim)
      val dist = new Array[Long](k)
      var sub = 0
      while (sub < m) {
        if (subDists(v, books, k, subDim, sub, ansi, q, dist)) {
          var best = 0; var c = 1
          while (c < k) { if (dist(c) < dist(best)) best = c; c += 1 }
          codes(sub) = best
        }
        sub += 1
      }
    }
    UnsafeArrayData.fromPrimitiveArray(codes)
  }

  /** ADC lookup table `lut[sub][code]` = the [[pqAssign]] distances; a
    * null subspace (or a null `v`) has all-null entries. */
  def pqLut(v: ArrayData, books: Array[Long], k: Int, subDim: Int,
      ansi: Boolean): ArrayData = {
    val m = books.length / (k * subDim)
    val q = new Array[Long](subDim)
    val dist = new Array[Long](k)
    val out = new Array[Any](m)
    var sub = 0
    while (sub < m) {
      val row = UnsafeArrayData.createFreshArray(k, 8)
      if (v != null && subDists(v, books, k, subDim, sub, ansi, q, dist)) {
        var c = 0
        while (c < k) { row.setLong(c, dist(c)); c += 1 }
      } else {
        var c = 0
        while (c < k) { row.setNullAt(c); c += 1 }
      }
      out(sub) = row
      sub += 1
    }
    new GenericArrayData(out)
  }

  /** ADC distance `Σ_j lut[j][codes[j] + 1]` with `element_at`'s
    * 1-based indexing (a negative index counts from the end; index 0
    * throws; out of range throws under ANSI, else is null); null when a
    * term is null. Every lookup runs before a sum overflow is raised, as
    * the lookups precede the fold in the `zip_with`/`aggregate` form. */
  def adcSum(codes: ArrayData, lut: ArrayData, ansi: Boolean): java.lang.Long = {
    val nc = codes.numElements(); val nl = lut.numElements()
    val n = math.max(nc, nl)
    var s = 0L; var isNull = false
    var overflow: Array[Long] = null // the first overflowing sum's operands
    var j = 0
    while (j < n) {
      if (j >= nc || j >= nl || lut.isNullAt(j) || codes.isNullAt(j)) isNull = true
      else {
        val row = lut.getArray(j)
        val len = row.numElements()
        val idx = if (ansi) MathUtils.addExact(codes.getInt(j), 1) else codes.getInt(j) + 1
        if (len < math.abs(idx)) {
          if (ansi) throw org.apache.spark.sql.graft.Bridge.elementAtIndexError(idx, len)
          isNull = true
        } else {
          if (idx == 0) throw org.apache.spark.sql.graft.Bridge.indexOfZeroError()
          val at = if (idx > 0) idx - 1 else len + idx
          if (row.isNullAt(at)) isNull = true
          else if (!isNull) {
            val x = row.getLong(at)
            val r = s + x
            if (ansi && overflow == null && ((s ^ r) & (x ^ r)) < 0) overflow = Array(s, x)
            s = r
          }
        }
      }
      j += 1
    }
    if (overflow != null) MathUtils.addExact(overflow(0), overflow(1))
    if (isNull) null else s
  }
}

/** A kernel's constant matrix: one flat row-major `long[]`, equal to
  * another by content, its hash computed once. Two kernel calls over equal
  * matrices built apart are then one common subexpression, evaluated once
  * per row. */
final class QuantMatrix(val values: Array[Long]) extends Serializable {
  private val hash = java.util.Arrays.hashCode(values)
  override def hashCode(): Int = hash
  override def equals(o: Any): Boolean = o match {
    case m: QuantMatrix =>
      (m eq this) || (m.hash == hash && java.util.Arrays.equals(m.values, values))
    case _ => false
  }
  def length: Int = values.length
}

/** One float-vector child and a constant long matrix held once as a
  * primitive `long[]` (a codegen reference object, not a literal tree);
  * `failOnError` is the session's ANSI setting when the expression is
  * built, as for Spark's own arithmetic. Plans print the matrix's shape. */
private[functions] trait QuantMatrixExpression extends UnaryExpression {
  def matrix: QuantMatrix
  def failOnError: Boolean
  /** The [[QuantOps]] method, called as `(vector, matrix, shapeArgs.tail…, ansi)`. */
  protected def kernel: String
  /** The matrix shape, rows first (plans print it). */
  protected def shapeArgs: Seq[Int]
  protected def run(v: ArrayData): ArrayData

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float>, got ${t.simpleString}")
  }
  override def nullable: Boolean = false
  override protected def stringArgs: Iterator[Any] =
    Iterator(child, shapeArgs.mkString("shape[", "x", "]"))

  override def eval(input: InternalRow): Any =
    run(child.eval(input).asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val m = ctx.addReferenceObj("matrix", matrix.values, "long[]")
    val args = shapeArgs.tail.mkString(", ")
    ev.copy(code = c.code + code"""
      ArrayData ${ev.value} = graft.functions.QuantOps.$kernel(
        ${c.isNull} ? null : ${c.value}, $m, $args, $failOnError);""",
      isNull = FalseLiteral)
  }
}

/** `q6_dots(array<float>) -> array<bigint>`: [[QuantOps.dots]] against a
  * constant `rows × cols` matrix. */
case class QuantizedDots(child: Expression, matrix: QuantMatrix, cols: Int,
    failOnError: Boolean = SQLConf.get.ansiEnabled) extends QuantMatrixExpression {
  override def prettyName: String = "q6_dots"
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  protected val kernel = "dots"
  protected def shapeArgs: Seq[Int] = Seq(matrix.length / cols, cols)
  protected def run(v: ArrayData): ArrayData = QuantOps.dots(v, matrix.values, cols, failOnError)
  protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `pq_assign(array<float>) -> array<int>`: [[QuantOps.pqAssign]] against
  * constant `m × k × subDim` codebooks. */
case class PqAssign(child: Expression, matrix: QuantMatrix, k: Int, subDim: Int,
    failOnError: Boolean = SQLConf.get.ansiEnabled) extends QuantMatrixExpression {
  override def prettyName: String = "pq_assign"
  override def dataType: DataType = ArrayType(IntegerType, containsNull = true)
  protected val kernel = "pqAssign"
  protected def shapeArgs: Seq[Int] = Seq(matrix.length / (k * subDim), k, subDim)
  protected def run(v: ArrayData): ArrayData =
    QuantOps.pqAssign(v, matrix.values, k, subDim, failOnError)
  protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `pq_lut(array<float>) -> array<array<bigint>>`: [[QuantOps.pqLut]]
  * against constant `m × k × subDim` codebooks. */
case class PqLut(child: Expression, matrix: QuantMatrix, k: Int, subDim: Int,
    failOnError: Boolean = SQLConf.get.ansiEnabled) extends QuantMatrixExpression {
  override def prettyName: String = "pq_lut"
  override def dataType: DataType =
    ArrayType(ArrayType(LongType, containsNull = true), containsNull = false)
  protected val kernel = "pqLut"
  protected def shapeArgs: Seq[Int] = Seq(matrix.length / (k * subDim), k, subDim)
  protected def run(v: ArrayData): ArrayData =
    QuantOps.pqLut(v, matrix.values, k, subDim, failOnError)
  protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `adc_sum(array<int> codes, array<array<bigint>> lut) -> bigint`:
  * [[QuantOps.adcSum]]; null when either input is null. */
case class AdcSum(left: Expression, right: Expression,
    failOnError: Boolean = SQLConf.get.ansiEnabled) extends BinaryExpression {
  override def prettyName: String = "adc_sum"
  override def dataType: DataType = LongType
  override def nullable: Boolean = true // a null term nulls the sum
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(IntegerType, _), ArrayType(ArrayType(LongType, _), _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (a, b) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<int> and array<array<bigint>>, got " +
        s"${a.simpleString}, ${b.simpleString}")
  }

  protected override def nullSafeEval(codes: Any, lut: Any): Any =
    QuantOps.adcSum(codes.asInstanceOf[ArrayData], lut.asInstanceOf[ArrayData], failOnError)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (c, l) => {
      val r = ctx.freshName("adc")
      s"""java.lang.Long $r = graft.functions.QuantOps.adcSum($c, $l, $failOnError);
         |if ($r == null) ${ev.isNull} = true; else ${ev.value} = $r.longValue();""".stripMargin
    })
  protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}
