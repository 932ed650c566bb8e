package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, XXH64}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** One-pass distinct-shingle hash kernel backing [[ShingleHashesExpr]].
  *
  * Bit-identical to the composed chain
  * `transform(array_distinct(shinglesFromTokens(split(norm, " "), k)),
  * xxhash64)` (graft.text.TextFunctions / graft.dedup.Dedup): split the
  * already-normalized text, build each k-token shingle string, dedupe
  * by first occurrence, hash with Spark's string xxhash64 (seed 42).
  * The composed form walks four interpreted higher-order expressions
  * per row with per-element lambda dispatch and builds every shingle
  * string twice (distinct, then hash); this is one primitive loop.
  */
object NativeShingle {

  private val SparkHashSeed = 42L

  /** Mirror of `split(norm, " ")` for normalized input: java split with
    * limit -1 (Spark keeps trailing empty strings; normalize() trims,
    * so this only matters for the empty-string edge where both yield
    * [""]). */
  def compute(norm: UTF8String, k: Int): GenericArrayData = {
    val toks = norm.toString.split(" ", -1)
    val seen = mutable.LinkedHashSet.empty[String]
    if (toks.length >= k) {
      var i = 0
      val sb = new java.lang.StringBuilder
      while (i <= toks.length - k) {
        sb.setLength(0)
        var j = 0
        while (j < k) {
          if (j > 0) sb.append(' ')
          sb.append(toks(i + j))
          j += 1
        }
        seen.add(sb.toString)
        i += 1
      }
    } else {
      seen.add(toks.mkString(" "))
    }
    val out = new Array[Long](seen.size)
    var i = 0
    seen.foreach { s =>
      out(i) = XXH64.hashUTF8String(UTF8String.fromString(s), SparkHashSeed)
      i += 1
    }
    new GenericArrayData(out)
  }
}

object NativeGrams {

  private val SparkHashSeed = 42L

  /** Positioned (ordered, NON-distinct) k-gram window hashes: element i
    * is the xxhash64 of tokens [i, i+k) joined by a space — the
    * inverted-index key of [[graft.dedup.Dedup.repeatedSpans]], where
    * `posexplode` recovers the 0-based window start. Texts shorter
    * than k tokens yield an EMPTY array (no complete window — unlike
    * [[NativeShingle.compute]]'s whole-text fallback, a span detector
    * must not fabricate a pseudo-window). */
  def compute(norm: UTF8String, k: Int): GenericArrayData = {
    val toks = norm.toString.split(" ", -1)
    if (toks.length < k) return new GenericArrayData(Array.emptyLongArray)
    val out = new Array[Long](toks.length - k + 1)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i <= toks.length - k) {
      sb.setLength(0)
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      out(i) = XXH64.hashUTF8String(UTF8String.fromString(sb.toString), SparkHashSeed)
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Native Catalyst expression: normalized text → positioned k-gram
  * xxhash64 values (see [[NativeGrams.compute]]) — one pass, codegen,
  * no shuffle; `posexplode` downstream yields (pos, hash) without the
  * per-doc window-lead shuffle a lag/lead formulation needs. */
case class GramHashesExpr(child: Expression, k: Int)
    extends NativeCall(NativeGrams, "compute") with UnaryLike[Expression] {

  require(k > 0, "gram size must be positive")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "gram_hashes"
  override protected def constants = Seq(k)
  override protected def withNewChildInternal(c: Expression): GramHashesExpr = copy(child = c)
}

object GramHashesExpr {
  /** Column-API entry point — pass a NORMALIZED text column. */
  def apply(c: Column, k: Int): Column = column(new GramHashesExpr(expression(c), k))
}

/** Native Catalyst expression: normalized text → distinct k-shingle
  * xxhash64 values in ONE pass — the scan-side kernel of MinHash
  * near-dup (pairs with [[MinHashSignatureExpr]]). Input must already
  * be `TextFunctions.normalize`d (that chain is codegen'd regex, cheap);
  * this replaces the interpreted shingle/distinct/hash HOF stack.
  */
case class ShingleHashesExpr(child: Expression, k: Int)
    extends NativeCall(NativeShingle, "compute") with UnaryLike[Expression] {

  require(k > 0, "shingle size must be positive")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes"
  override protected def constants = Seq(k)
  override protected def withNewChildInternal(c: Expression): ShingleHashesExpr = copy(child = c)
}

object ShingleHashesExpr {
  /** Column-API entry point — pass a NORMALIZED text column. */
  def apply(c: Column, k: Int): Column = column(new ShingleHashesExpr(expression(c), k))
}
