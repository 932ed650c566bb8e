package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, XXH64}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Single-pass MinHash signature kernel backing [[MinHashSignatureExpr]].
  *
  * Bit-identical to the composed form in
  * [[graft.dedup.Dedup.minhashSignature]] — `member i =
  * min over base hashes h of xxhash64(lit(i), h)` — because Spark's
  * `xxhash64(a, b)` folds children left-to-right from seed 42:
  * `XXH64.hashLong(b, XXH64.hashLong(a, 42))`. The inner
  * `hashLong(i, 42)` is constant per member, precomputed once; the
  * composed form re-evaluates H interpreted lambdas per row (H × |arr|
  * closure dispatches), this kernel is one tight primitive loop inside
  * whole-stage codegen.
  */
object NativeMinHash {

  private val SparkHashSeed = 42L

  private val seedsBySize =
    new java.util.concurrent.ConcurrentHashMap[Integer, Array[Long]]()

  /** Per-member inner seeds: xxhash64's fold of the literal member index.
    * The composed form's `lit(i)` is an INT literal, so the fold step is
    * `hashInt` (dispatch is by dataType), then the long element folds
    * with `hashLong`. One shared array per `numHashes`: the seeds reach
    * the kernel as an object literal, which compares by reference, so
    * two signatures of one size must hold the same array to
    * canonicalize equal (cache and exchange-reuse matching). */
  def memberSeeds(numHashes: Int): Array[Long] =
    seedsBySize.computeIfAbsent(numHashes,
      n => Array.tabulate(n.intValue)(i => XXH64.hashInt(i, SparkHashSeed)))

  /** Signature of one base-hash array. Mirrors the composed form's edge
    * cases: an empty array yields all-null members (`array_min([])` is
    * null); a null element contributes the member's inner seed (Spark's
    * hash expressions skip null children, leaving the accumulated seed). */
  def compute(arr: ArrayData, seeds: Array[Long]): ArrayData = {
    val n = arr.numElements()
    val h = seeds.length
    if (n == 0) return new GenericArrayData(new Array[Any](h))
    val mins = new Array[Long](h)
    var i = 0
    while (i < h) { mins(i) = Long.MaxValue; i += 1 }
    var j = 0
    while (j < n) {
      val isNull = arr.isNullAt(j)
      val e = if (isNull) 0L else arr.getLong(j)
      i = 0
      while (i < h) {
        val v = if (isNull) seeds(i) else XXH64.hashLong(e, seeds(i))
        if (v < mins(i)) mins(i) = v
        i += 1
      }
      j += 1
    }
    new GenericArrayData(mins)
  }
}

/** Native Catalyst expression: array<long> base shingle hashes → the
  * H-member MinHash signature in ONE pass ([[NativeMinHash.compute]]
  * through one [[NativeCall]]), replacing H interpreted higher-order
  * lambdas (the `array_min(transform(...))` per member) with one
  * primitive loop inside whole-stage codegen.
  */
case class MinHashSignatureExpr(child: Expression, numHashes: Int)
    extends NativeCall(NativeMinHash, "compute") with UnaryLike[Expression] {

  require(numHashes > 0, "numHashes must be positive")

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "minhash_signature"
  override protected def constants = Seq(NativeMinHash.memberSeeds(numHashes))
  override protected def withNewChildInternal(c: Expression): MinHashSignatureExpr =
    copy(child = c)
}

object MinHashSignatureExpr {
  /** Column-API entry point. */
  def apply(c: Column, numHashes: Int): Column =
    column(new MinHashSignatureExpr(expression(c), numHashes))
}
