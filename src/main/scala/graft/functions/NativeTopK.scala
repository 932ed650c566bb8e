package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.trees.{TernaryLike, UnaryLike}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
import org.apache.spark.sql.types._

import NativeVector.{isFloatArray, isVector}

/** Per-cell top-k cosine kernel backing the bulk IVF search path
  * ([[graft.sim.Similarity.ivfSearch]] with `broadcastProbes = false`).
  *
  * The row-per-candidate cell join was measured CPU-bound at 90×/18k
  * probes: 228M candidate rows × ~2.8 µs of join/row machinery per
  * candidate = ~630 CPU-seconds per search batch, with the join's
  * sort/shuffle spilling once the index outgrew the broadcast
  * threshold (BENCH_NOTES r17). This kernel moves the candidate scan
  * INSIDE one expression evaluated per (probe, cell) row: the cell's
  * vectors arrive as one array-of-structs column, the kernel scores
  * every entry with the very same fused [[NativeVector.cosine]] the
  * row-at-a-time path used (bit-identical cos values — ranking
  * boundaries cannot move) and keeps only the per-cell top-k, so the
  * downstream merge window sees probes × nprobe × k rows instead of
  * probes × nprobe × occupancy. Global top-k is preserved exactly:
  * every vector lives in one cell, and the global top-k is a subset
  * of the union of per-cell top-ks.
  *
  * Tie/ordering contract (must match the window `orderBy(cos desc,
  * neighbor_id)`): candidates rank by cos descending, neighbor_id
  * ascending on ties. Entries whose cosine is NULL (zero-norm
  * degenerate vectors) are skipped — the window path ranked them
  * after every finite candidate (`NULLS LAST`), so results differ
  * only for probes with fewer than k finite candidates in a cell, in
  * which case this path simply omits the degenerate filler rows.
  * Entries whose cosine is NaN (a NaN vector component) are likewise
  * skipped — a documented DIVERGENCE from the raw rank-window form,
  * which ranks NaN ABOVE every finite value (Spark's NaN ordering)
  * and so returns NaN rows at the head; admitting NaN here would
  * poison the insertion buffer (every comparison against NaN is
  * false) and silently drop finite candidates, the one behavior
  * neither form should have. The library's broadcast search paths
  * apply the same NaN skip before their windows
  * ([[graft.sim.Similarity]]'s `dropNanCos`), so the two strategies
  * stay result-identical on NaN corpora.
  * Entries whose id equals `probeId` are skipped (the
  * `probe_id =!= neighbor_id` filter, applied pre-rank as before), and
  * so are NULL entries. */
object NativeTopK {

  /** `cells` is array<struct<neighbor_id: long, cv: array<float|double>>>.
    * Returns array<struct<neighbor_id: long, cos: double>>, at most k
    * entries, sorted (cos desc, id asc). */
  def topKCellCos(probeId: Long, pv: ArrayData, cells: ArrayData,
                  k: Int, pF: Boolean, cF: Boolean): ArrayData = {
    val n = cells.numElements()
    val topIds = new Array[Long](k)
    val topCos = new Array[Double](k)
    var size = 0
    var i = 0
    while (i < n) {
      val s = if (cells.isNullAt(i)) null else cells.getStruct(i, 2)
      if (s != null && s.getLong(0) != probeId) {
        val id = s.getLong(0)
        val c = NativeVector.cosine(pv, s.getArray(1), pF, cF)
        // NaN cosines (a NaN vector component) are skipped alongside
        // the NULL zero-norm skip: a NaN admitted while the buffer is
        // not yet full would park at the tail, and once size == k
        // every later candidate compares against NaN (all comparisons
        // false) and is rejected — poisoning the heap and dropping
        // finite candidates. See the divergence contract above.
        if (c != null && !java.lang.Double.isNaN(c.doubleValue())) {
          val cos = c.doubleValue()
          // admit iff better than the current k-th (or heap not full);
          // "better" = (cos, -id) lexicographically larger
          if (size < k || cos > topCos(size - 1) ||
              (cos == topCos(size - 1) && id < topIds(size - 1))) {
            var j = if (size < k) size else k - 1
            while (j > 0 && (cos > topCos(j - 1) ||
                (cos == topCos(j - 1) && id < topIds(j - 1)))) {
              topCos(j) = topCos(j - 1); topIds(j) = topIds(j - 1)
              j -= 1
            }
            topCos(j) = cos; topIds(j) = id
            if (size < k) size += 1
          }
        }
      }
      i += 1
    }
    val out = new Array[Any](size)
    i = 0
    while (i < size) {
      out(i) = InternalRow(topIds(i), topCos(i))
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Catalyst expression for [[NativeTopK.topKCellCos]]. Children:
  * (probe_id: long, pv: array<float|double>, cells:
  * array<struct<long, array<float|double>>>); `k` is a literal. */
case class TopKCellCosExpr(first: Expression, second: Expression,
                           third: Expression, k: Int)
    extends NativeCall(NativeTopK, "topKCellCos") with TernaryLike[Expression] {

  require(k >= 1, "k must be >= 1")

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("neighbor_id", LongType, nullable = false),
      StructField("cos", DoubleType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "topk_cell_cos"
  override protected def kernelNullable = false
  override protected def constants = {
    val ArrayType(StructType(Array(_, cv)), _) = third.dataType
    Seq(k, isFloatArray(second.dataType), isFloatArray(cv.dataType))
  }

  override def checkInputDataTypes(): TypeCheckResult = requireTypes(
    (first.dataType == LongType, "a BIGINT probe id", first.dataType),
    (isVector(second.dataType), "an array<float|double> probe vector", second.dataType),
    (third.dataType match {
      case ArrayType(StructType(Array(StructField(_, LongType, _, _), v)), _) =>
        isVector(v.dataType)
      case _ => false
    }, "cells as array<struct<neighbor_id: bigint, cv: array<float|double>>>",
      third.dataType))

  override protected def withNewChildrenInternal(
      a: Expression, b: Expression, c: Expression): TopKCellCosExpr =
    copy(first = a, second = b, third = c)
}

object TopKCellCosExpr {
  def apply(probeId: Column, pv: Column, cells: Column, k: Int): Column =
    column(new TopKCellCosExpr(expression(probeId), expression(pv), expression(cells), k))
}

/** PQ siblings of the cosine kernel, backing the bulk
  * IVF-PQ [[graft.sim.Similarity.ivfSearch]] path. The PQ shortlist CANNOT be
  * shrunk per cell the way the IVF top-k can (derived shortlist n/100
  * outgrows cell occupancy ~2·√n past n ≈ 40k, so per-cell truncation
  * keeps everything) — the win is the ROW SHAPE, not the row count:
  * the candidate scan leaves the per-(probe, cell) row as ONE compact
  * sorted array instead of occupancy exploded rows, so the shuffle to
  * the per-probe merge moves |probes| × nprobe array rows where the
  * window form shuffled every candidate (measured 90×/18k probes:
  * 228M rows, 557–1822 CPU-s in the shortlist window stage alone —
  * BENCH_NOTES r17). Scoring reuses [[NativeVector.adcSum]]
  * bit-identically; ordering matches the window's
  * (adc desc, neighbor_id asc) exactly. */
object NativeAdc {

  /** Sorted index order for parallel (adcs, ids) arrays: adc
    * descending, id ascending on ties — the shortlist window's
    * ordering. */
  private def sortedIdx(ids: Array[Long], adcs: Array[Double],
                        n: Int): Array[Integer] = {
    val idx = new Array[Integer](n)
    var i = 0
    while (i < n) { idx(i) = Integer.valueOf(i); i += 1 }
    java.util.Arrays.sort(idx, new java.util.Comparator[Integer] {
      override def compare(x: Integer, y: Integer): Int = {
        val c = java.lang.Double.compare(adcs(y.intValue), adcs(x.intValue))
        if (c != 0) c
        else java.lang.Long.compare(ids(x.intValue), ids(y.intValue))
      }
    })
    idx
  }

  /** `cells` is array<struct<neighbor_id: long, codes: array<int>>>.
    * Returns the cell's candidates scored by ADC
    * ([[NativeVector.adcSum]] per candidate), sorted (adc desc, id
    * asc), truncated to `s`, excluding the probe's own id. A NULL
    * entry, an entry with NULL `codes` and an entry whose ADC is NULL
    * (malformed codes, or a code that hits a NULL table entry) are
    * skipped — the window form ranked them behind every finite
    * candidate. */
  def adcTopS(probeId: Long, dtable: ArrayData, cells: ArrayData,
              s: Int): ArrayData = {
    val n = cells.numElements()
    val ids = new Array[Long](n)
    val adcs = new Array[Double](n)
    var cnt = 0
    var i = 0
    while (i < n) {
      val st = if (cells.isNullAt(i)) null else cells.getStruct(i, 2)
      if (st != null && !st.isNullAt(1) && st.getLong(0) != probeId) {
        val a = NativeVector.adcSum(st.getArray(1), dtable)
        if (a != null) {
          ids(cnt) = st.getLong(0); adcs(cnt) = a.doubleValue(); cnt += 1
        }
      }
      i += 1
    }
    emitSorted(ids, adcs, cnt, s)
  }

  private val NoCandidates: ArrayData = new GenericArrayData(Array.empty[Any])

  private def emitSorted(ids: Array[Long], adcs: Array[Double],
                         cnt: Int, s: Int): ArrayData = {
    val idx = sortedIdx(ids, adcs, cnt)
    val keep = math.min(cnt, s)
    val out = new Array[Any](keep)
    var i = 0
    while (i < keep) {
      val j = idx(i).intValue
      out(i) = InternalRow(ids(j), adcs(j))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** `arrs` is array<array<struct<neighbor_id, adc>>> — one sorted
    * per-cell array per visited cell (each indexed vector lives in
    * exactly one cell, so ids never repeat across arrays). K-way
    * merges them and returns the global top-`s` neighbor ids in
    * (adc desc, id asc) order — exactly the ids the shortlist window
    * kept. A NULL per-cell array reads as empty. */
  def mergeTopS(arrs: ArrayData, s: Int): ArrayData = {
    val k = arrs.numElements()
    val cells = new Array[ArrayData](k)
    val heads = new Array[Int](k)
    var total = 0
    var i = 0
    while (i < k) {
      cells(i) = if (arrs.isNullAt(i)) NoCandidates else arrs.getArray(i)
      total += cells(i).numElements()
      i += 1
    }
    val keep = math.min(total, s)
    val out = new Array[Long](keep)
    var emitted = 0
    while (emitted < keep) {
      var best = -1
      var bestAdc = 0.0
      var bestId = 0L
      i = 0
      while (i < k) {
        if (heads(i) < cells(i).numElements()) {
          val st = cells(i).getStruct(heads(i), 2)
          val id = st.getLong(0)
          val adc = st.getDouble(1)
          if (best < 0 || adc > bestAdc ||
              (adc == bestAdc && id < bestId)) {
            best = i; bestAdc = adc; bestId = id
          }
        }
        i += 1
      }
      out(emitted) = bestId
      heads(best) += 1
      emitted += 1
    }
    new GenericArrayData(out)
  }
}

/** Catalyst expression for [[NativeAdc.adcTopS]]. Children: (probe_id:
  * long, dtable: array<array<double>>, cells: array<struct<long,
  * array<int>>>); `s` (the shortlist width) is a literal. */
case class AdcTopSExpr(first: Expression, second: Expression,
                       third: Expression, s: Int)
    extends NativeCall(NativeAdc, "adcTopS") with TernaryLike[Expression] {

  require(s >= 1, "shortlist must be >= 1")

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("neighbor_id", LongType, nullable = false),
      StructField("adc", DoubleType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "adc_top_s"
  override protected def kernelNullable = false
  override protected def constants = Seq(s)

  override def checkInputDataTypes(): TypeCheckResult = requireTypes(
    (first.dataType == LongType, "a BIGINT probe id", first.dataType),
    (second.dataType match {
      case ArrayType(ArrayType(DoubleType, _), _) => true
      case _ => false
    }, "an array<array<double>> ADC table", second.dataType),
    (third.dataType match {
      case ArrayType(StructType(Array(StructField(_, LongType, _, _),
        StructField(_, ArrayType(IntegerType, _), _, _))), _) => true
      case _ => false
    }, "cells as array<struct<neighbor_id: bigint, codes: array<int>>>", third.dataType))

  override protected def withNewChildrenInternal(
      a: Expression, b: Expression, c: Expression): AdcTopSExpr =
    copy(first = a, second = b, third = c)
}

object AdcTopSExpr {
  def apply(probeId: Column, dtable: Column, cells: Column, s: Int): Column =
    column(new AdcTopSExpr(expression(probeId), expression(dtable), expression(cells), s))
}

/** Catalyst expression for [[NativeAdc.mergeTopS]]. Child: the
  * collect_list of per-cell sorted arrays; `s` is a literal. Returns
  * array<long> — the global shortlist's neighbor ids in rank order. */
case class MergeTopSExpr(child: Expression, s: Int)
    extends NativeCall(NativeAdc, "mergeTopS") with UnaryLike[Expression] {

  require(s >= 1, "shortlist must be >= 1")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "merge_top_s"
  override protected def kernelNullable = false
  override protected def constants = Seq(s)

  override def checkInputDataTypes(): TypeCheckResult = requireTypes((child.dataType match {
    case ArrayType(ArrayType(StructType(Array(StructField(_, LongType, _, _),
      StructField(_, DoubleType, _, _))), _), _) => true
    case _ => false
  }, "array<array<struct<neighbor_id: bigint, adc: double>>>", child.dataType))

  override protected def withNewChildInternal(c: Expression): MergeTopSExpr = copy(child = c)
}

object MergeTopSExpr {
  def apply(arrs: Column, s: Int): Column = column(new MergeTopSExpr(expression(arrs), s))
}
