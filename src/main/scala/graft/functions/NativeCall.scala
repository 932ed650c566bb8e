package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.{TypeCheckFailure, TypeCheckSuccess}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types.{DataType, ObjectType}

/** The one shape of graft's native scalar expressions — the (b) tier
  * of the custom-operator ladder (SURVEY.md §7.3). Each is a
  * `RuntimeReplaceable` whose replacement is one `StaticInvoke` of the
  * static method `kernel` on the object `owner`, the route Spark's own
  * built-ins take to static Java/Scala code. The optimizer swaps the
  * call in, whole-stage codegen emits it as one Java call, and the
  * interpreted path invokes the same method reflectively.
  *
  * An expression states its children, its constants, its `dataType`,
  * its `prettyName` and any analysis-time check. `dataType` is stated,
  * never read from the replacement: building the replacement on an
  * unchecked child would throw before `checkInputDataTypes` reports.
  */
abstract class NativeCall(owner: AnyRef, kernel: String)
    extends Expression with RuntimeReplaceable {

  private val ownerClass: Class[_] = owner.getClass

  /** Arguments after the children. A JVM array (a matrix, a seed
    * vector) passes as itself, in one object literal. */
  protected def constants: Seq[Any] = Nil

  /** Whether the kernel may return null. */
  protected def kernelNullable: Boolean = true

  /** Whether a NULL child yields NULL without calling the kernel. */
  protected def propagateNull: Boolean = true

  override def nullable: Boolean =
    kernelNullable || (propagateNull && children.exists(_.nullable))

  /** The one `StaticInvoke` of the kernel on the children and constants. */
  protected def kernelCall: Expression = StaticInvoke(
    ownerClass, dataType, kernel, children ++ constants.map {
      case a: Array[_] => Literal(a, ObjectType(a.getClass))
      case v => Literal(v)
    },
    propagateNull = propagateNull, returnNullable = kernelNullable)

  override lazy val replacement: Expression = kernelCall

  /** The first failing `(ok, requirement, actual type)` check, reported
    * as "<prettyName> requires <requirement> (got <type>)". */
  protected def requireTypes(checks: (Boolean, String, DataType)*): TypeCheckResult =
    checks.collectFirst { case (false, what, got) =>
      TypeCheckFailure(s"$prettyName requires $what (got ${got.simpleString})")
    }.getOrElse(TypeCheckSuccess)
}
