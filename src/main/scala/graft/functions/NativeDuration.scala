package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
import org.apache.spark.sql.types.{DataType, DoubleType}
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass ISO-8601 duration parser backing [[IsoDurationSecondsExpr]].
  *
  * Same semantics as [[Functions.isoDurationSeconds]] (the composed
  * regex form): fixed factors 1Y=365d, 1M=30d (documented divergence
  * from the reference's clock-relative resolution,
  * typescript/src/stream.ts:30-31), null for anything that is not an
  * ISO duration with ≥1 component. One character scan instead of seven
  * regex extractions.
  */
object NativeDuration {

  private val dateFactors = Map('Y' -> 365.0 * 86400, 'M' -> 30.0 * 86400,
    'W' -> 7.0 * 86400, 'D' -> 86400.0)
  private val timeFactors = Map('H' -> 3600.0, 'M' -> 60.0, 'S' -> 1.0)
  private val dateOrder = "YMWD"
  private val timeOrder = "HMS"

  /** The kernel entry point: a Catalyst string → seconds, or null. */
  def seconds(s: UTF8String): java.lang.Double = parseBoxed(s.toString)

  /** Boxed so a non-duration can return null. */
  def parseBoxed(s: String): java.lang.Double = {
    if (s == null) return null
    var i = 0
    def digits(): Int = {
      val from = i
      while (i < s.length && s.charAt(i) >= '0' && s.charAt(i) <= '9') i += 1
      i - from
    }
    var sign = 1.0
    if (i < s.length && s.charAt(i) == '-') { sign = -1.0; i += 1 }
    if (i >= s.length || s.charAt(i) != 'P') return null
    i += 1
    var inTime = false
    var total = 0.0
    var components = 0
    var lastIdx = -1
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == 'T' && !inTime) { inTime = true; lastIdx = -1; i += 1 }
      else {
        // The composed form's numeral, `\d+(?:\.\d+)?`: ASCII digits,
        // with at least one on each side of a point.
        val numStart = i
        if (digits() == 0) return null
        if (i < s.length && s.charAt(i) == '.') { i += 1; if (digits() == 0) return null }
        if (i >= s.length) return null
        val unit = s.charAt(i)
        val order = if (inTime) timeOrder else dateOrder
        val factors = if (inTime) timeFactors else dateFactors
        val idx = order.indexOf(unit)
        if (idx < 0 || idx <= lastIdx) return null // unknown or out-of-order unit
        total += s.substring(numStart, i).toDouble * factors(unit)
        components += 1
        lastIdx = idx
        i += 1
      }
    }
    if (components == 0) null else java.lang.Double.valueOf(sign * total)
  }
}

/** Native Catalyst expression: ISO-8601 duration string → seconds
  * ([[NativeDuration.seconds]] through one [[NativeCall]]). It stays
  * inside whole-stage codegen instead of breaking the stage the way a
  * Scala UDF would.
  */
case class IsoDurationSecondsExpr(child: Expression)
    extends NativeCall(NativeDuration, "seconds") with UnaryLike[Expression] {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "iso_duration_seconds"
  override protected def withNewChildInternal(c: Expression): IsoDurationSecondsExpr =
    copy(child = c)
}

object IsoDurationSecondsExpr {
  /** Column-API entry point. */
  def apply(c: Column): Column = column(new IsoDurationSecondsExpr(expression(c)))
}
