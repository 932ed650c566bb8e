package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.trees.{BinaryLike, UnaryLike}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType}

import NativeVector.isFloatArray

/** Single-pass vector kernels backing the native similarity
  * expressions — the (b) tier of the custom-operator ladder
  * (SURVEY.md §7.3), each called through one [[NativeCall]].
  *
  * Spark evaluates higher-order functions (`zip_with`/`aggregate`)
  * interpreted: a 64-dim dot product is ~130 closure dispatches, and
  * the LSH/IVF paths evaluate 16-32 dots PER ROW against constant
  * plane/centroid matrices. These kernels run the same arithmetic as
  * one primitive loop inside whole-stage codegen, bit-identical to the
  * composed forms (same left-to-right accumulation, same float→double
  * widening), so swapping them in cannot move any oracle hash.
  *
  * Null/shape semantics (all kernels): a null vector, a null element,
  * or a dimension mismatch yields NULL — the composed forms yield NULL
  * through the same cases via zip_with's null padding.
  */
object NativeVector {

  @inline private def elem(v: ArrayData, i: Int, isFloat: Boolean): Double =
    if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)

  /** Fused cosine: dot/(‖a‖·‖b‖) in one pass — accumulation order
    * matches the composed dot/norm/norm exactly. A null vector (a cell
    * entry's, from [[NativeTopK.topKCellCos]]) gives NULL. */
  def cosine(a: ArrayData, b: ArrayData, aF: Boolean, bF: Boolean): java.lang.Double = {
    if (a == null || b == null) return null
    val n = a.numElements()
    if (n != b.numElements()) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = elem(a, i, aF); val y = elem(b, i, bF)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    // A zero-norm side divides by 0.0: Spark's Divide yields NULL there
    // (and Embeddings maps zero vectors to null), so the kernel must
    // too — Java double division would produce NaN instead.
    if (na == 0.0 || nb == 0.0) return null
    java.lang.Double.valueOf(dot / (math.sqrt(na) * math.sqrt(nb)))
  }

  /** Dots of `v` against each row of `m` (all rows dim-checked). */
  def dots(v: ArrayData, m: Array[Array[Double]], vF: Boolean): ArrayData = {
    val n = v.numElements()
    var i = 0
    while (i < n) { if (v.isNullAt(i)) return null; i += 1 }
    val out = new Array[Any](m.length)
    var p = 0
    while (p < m.length) {
      val w = m(p)
      if (w.length != n) return null
      var acc = 0.0; i = 0
      while (i < n) { acc += elem(v, i, vF) * w(i); i += 1 }
      out(p) = acc; p += 1
    }
    new GenericArrayData(out)
  }

  /** ADC lookup-sum: Σ_j dtable[j][codes[j]] — the fused form of
    * `aggregate(zip_with(codes, dtable, (c, row) -> element_at(row,
    * c + 1)), 0.0, (acc, v) -> acc + v)`: same left-to-right
    * accumulation, so swapping it in cannot move an oracle hash. The
    * composed form runs interpreted per ELEMENT — at candidate
    * cardinality (probes × nprobe × cell occupancy) the closure
    * dispatch dominated the whole bulk PQ search (BENCH_NOTES r15).
    * NULL for length mismatch, null elements, or an out-of-range code
    * (codes are construction-valid, so the last never fires in the
    * PQ path). */
  def adcSum(codes: ArrayData, dtable: ArrayData): java.lang.Double = {
    val n = codes.numElements()
    if (dtable.numElements() != n) return null
    var acc = 0.0
    var j = 0
    while (j < n) {
      if (codes.isNullAt(j) || dtable.isNullAt(j)) return null
      val row = dtable.getArray(j)
      val c = codes.getInt(j)
      if (c < 0 || c >= row.numElements() || row.isNullAt(c)) return null
      acc += row.getDouble(c)
      j += 1
    }
    java.lang.Double.valueOf(acc)
  }

  /** Sign-bit LSH bucket: bit p set iff dot(v, m(p)) > 0 — the fused
    * form of `when(dot > 0, 1L << p)` OR-folded. */
  def bucket(v: ArrayData, m: Array[Array[Double]], vF: Boolean): java.lang.Long = {
    val ds = dots(v, m, vF)
    if (ds == null) return null
    var bits = 0L
    var p = 0
    while (p < m.length) {
      if (ds.getDouble(p) > 0) bits |= (1L << p)
      p += 1
    }
    java.lang.Long.valueOf(bits)
  }

  /** Index of the first maximal dot — the fused
    * `array_position(dots, array_max(dots)) - 1`. */
  def argmaxDot(v: ArrayData, m: Array[Array[Double]], vF: Boolean): java.lang.Integer = {
    val ds = dots(v, m, vF)
    if (ds == null || m.length == 0) return null
    var best = 0
    var p = 1
    while (p < m.length) {
      if (ds.getDouble(p) > ds.getDouble(best)) best = p
      p += 1
    }
    java.lang.Integer.valueOf(best)
  }

  /** L2-normalize: v / ‖v‖ in one pass → array<double>, or NULL for a
    * zero/invalid norm. Bit-identical to the composed
    * `when(norm > 0, transform(v, x -> x / norm))` form on NaN-free
    * input: the norm is the same left-to-right Σx² accumulation
    * (zip_with/aggregate order), `sqrt` then per-element double
    * division, any null element nulls the WHOLE vector (through
    * zip_with's null propagation → null norm → null `when` branch).
    * One deliberate divergence, spec-pinned in EmbeddingsSpec: a NaN
    * component nulls the vector here, while the composed predicate
    * PASSES (Spark's ordering ranks NaN above every value, so
    * `NaN > 0.0` is true in SQL) and emits an all-NaN unit — silent
    * corruption this kernel refuses to propagate. The kernel exists
    * because CollapseProject inlines a multi-referenced norm column
    * INTO the per-element lambda — re-deriving the full interpreted
    * dot product once per element, a dim× (64×) blow-up measured at
    * ~400 µs/row on the IVF-PQ corpus checkpoint. */
  def l2normalize(v: ArrayData, vF: Boolean): ArrayData = {
    val n = v.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (v.isNullAt(i)) return null
      val x = elem(v, i, vF)
      acc += x * x
      i += 1
    }
    val norm = math.sqrt(acc)
    if (!(norm > 0.0)) return null // covers 0 and NaN like `when(n > 0.0)`
    val out = new Array[Any](n)
    i = 0
    while (i < n) { out(i) = elem(v, i, vF) / norm; i += 1 }
    new GenericArrayData(out)
  }

  /** Int8-range scalar quantization in one pass → array<int> in
    * [-127, 127], or NULL when max|x| is 0 or NaN. Identical to the
    * composed `transform(v, x -> floor(x·(127/max|x|) + 0.5).cast(int))`
    * on null-free vectors (spec-asserted), with one deliberate
    * divergence: a null ELEMENT nulls the whole vector here (the
    * family convention — cosine/dots/l2normalize do the same), where
    * the composed transform would emit a null element hole
    * (`array_max` skips nulls). Embedding corpora carry no null
    * elements; whole-vector null is the safer contract when they do.
    * Exists for the same CollapseProject reason as [[l2normalize]]:
    * the composed form's scale column gets inlined into the
    * per-element lambda and the interpreted max|x| re-derives once
    * per element. Same arithmetic order: abs in double, max
    * left-to-right, scale = 127/maxabs, floor(x·scale + 0.5). */
  def int8quantize(v: ArrayData, vF: Boolean): ArrayData = {
    val n = v.numElements()
    var maxAbs = 0.0
    var i = 0
    while (i < n) {
      if (v.isNullAt(i)) return null
      val a = math.abs(elem(v, i, vF))
      // A NaN element makes the composed array_max NaN, which fails
      // `> 0.0` and nulls scale and q alike — mirror that, since the
      // `a > maxAbs` comparison would otherwise silently skip it.
      if (java.lang.Double.isNaN(a)) return null
      if (a > maxAbs) maxAbs = a
      i += 1
    }
    if (!(maxAbs > 0.0)) return null // composed: when(maxabs > 0, ...)
    val scale = 127.0 / maxAbs
    val out = new Array[Any](n)
    i = 0
    while (i < n) {
      out(i) = math.floor(elem(v, i, vF) * scale + 0.5).toInt
      i += 1
    }
    new GenericArrayData(out)
  }

  /** The per-vector quantization scale (127/max|x|), or NULL for a
    * zero/invalid max — one pass, pairs with [[int8quantize]]. */
  def int8scale(v: ArrayData, vF: Boolean): java.lang.Double = {
    val n = v.numElements()
    var maxAbs = 0.0
    var i = 0
    while (i < n) {
      if (v.isNullAt(i)) return null
      val a = math.abs(elem(v, i, vF))
      if (java.lang.Double.isNaN(a)) return null // see int8quantize
      if (a > maxAbs) maxAbs = a
      i += 1
    }
    if (!(maxAbs > 0.0)) return null
    java.lang.Double.valueOf(127.0 / maxAbs)
  }

  /** True iff the child type is a float-element array (vs double). */
  private[functions] def isFloatArray(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType, _)  => true
    case ArrayType(DoubleType, _) => false
    case other =>
      throw new IllegalArgumentException(
        s"expected array<float> or array<double>, got $other")
  }

  private[functions] def isVector(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }
}

/** Native fused cosine similarity of two vectors → double. */
case class CosineSimExpr(left: Expression, right: Expression)
    extends NativeCall(NativeVector, "cosine") with BinaryLike[Expression] {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"
  override protected def constants = Seq(isFloatArray(left.dataType), isFloatArray(right.dataType))
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSimExpr =
    copy(left = l, right = r)
}

object CosineSimExpr {
  def apply(a: Column, b: Column): Column = column(new CosineSimExpr(expression(a), expression(b)))
}

/** A kernel of one vector `child`, which takes the child's
  * float-vs-double flag last. */
sealed abstract class VectorKernelExpr(kernel: String)
    extends NativeCall(NativeVector, kernel) with UnaryLike[Expression] {
  protected def vF: Boolean = isFloatArray(child.dataType)
  override protected def constants: Seq[Any] = Seq(vF)
}

/** Native one-pass L2 normalization of a vector → array<double> (see
  * [[NativeVector.l2normalize]] for the bit-identity contract). */
case class L2NormalizeExpr(child: Expression) extends VectorKernelExpr("l2normalize") {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def prettyName: String = "l2_normalize"
  override protected def withNewChildInternal(c: Expression): L2NormalizeExpr = copy(child = c)
}

object L2NormalizeExpr {
  def apply(c: Column): Column = column(new L2NormalizeExpr(expression(c)))
}

/** Native one-pass int8 quantization of a vector → array<int> (see
  * [[NativeVector.int8quantize]]). */
case class Int8QuantizeExpr(child: Expression) extends VectorKernelExpr("int8quantize") {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = true)
  override def prettyName: String = "int8_quantize"
  override protected def withNewChildInternal(c: Expression): Int8QuantizeExpr = copy(child = c)
}

object Int8QuantizeExpr {
  def apply(c: Column): Column = column(new Int8QuantizeExpr(expression(c)))
}

/** Native per-vector int8 quantization scale (127/max|x|) → double
  * (see [[NativeVector.int8scale]]). */
case class Int8ScaleExpr(child: Expression) extends VectorKernelExpr("int8scale") {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "int8_scale"
  override protected def withNewChildInternal(c: Expression): Int8ScaleExpr = copy(child = c)
}

object Int8ScaleExpr {
  def apply(c: Column): Column = column(new Int8ScaleExpr(expression(c)))
}

/** Native dots of a vector column against a constant matrix →
  * array<double> (one element per matrix row). */
case class MatVecDotsExpr(child: Expression, matrix: Array[Array[Double]])
    extends VectorKernelExpr("dots") {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "matvec_dots"
  override protected def constants = Seq(matrix, vF)
  override protected def withNewChildInternal(c: Expression): MatVecDotsExpr = copy(child = c)
}

object MatVecDotsExpr {
  def apply(c: Column, m: Array[Array[Double]]): Column =
    column(new MatVecDotsExpr(expression(c), m))
}

/** Native ADC lookup-sum of a per-vector code array against a
  * per-probe distance table → double (see [[NativeVector.adcSum]]). */
case class AdcSumExpr(left: Expression, right: Expression)
    extends NativeCall(NativeVector, "adcSum") with BinaryLike[Expression] {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "adc_sum"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): AdcSumExpr =
    copy(left = l, right = r)
}

object AdcSumExpr {
  def apply(codes: Column, dtable: Column): Column =
    column(new AdcSumExpr(expression(codes), expression(dtable)))
}

/** Native sign-bit LSH bucket of a vector under constant hyperplanes →
  * long. */
case class HyperplaneBucketExpr(child: Expression, matrix: Array[Array[Double]])
    extends VectorKernelExpr("bucket") {
  require(matrix.length <= 63, "at most 63 hyperplanes fit the long bucket")
  override def dataType: DataType = LongType
  override def prettyName: String = "hyperplane_bucket"
  override protected def constants = Seq(matrix, vF)
  override protected def withNewChildInternal(c: Expression): HyperplaneBucketExpr = copy(child = c)
}

object HyperplaneBucketExpr {
  def apply(c: Column, m: Array[Array[Double]]): Column =
    column(new HyperplaneBucketExpr(expression(c), m))
}

/** Native argmax-dot (first maximal row index) of a vector against a
  * constant centroid matrix → int. */
case class ArgMaxDotExpr(child: Expression, matrix: Array[Array[Double]])
    extends VectorKernelExpr("argmaxDot") {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "argmax_dot"
  override protected def constants = Seq(matrix, vF)
  override protected def withNewChildInternal(c: Expression): ArgMaxDotExpr = copy(child = c)
}

object ArgMaxDotExpr {
  def apply(c: Column, m: Array[Array[Double]]): Column =
    column(new ArgMaxDotExpr(expression(c), m))
}
