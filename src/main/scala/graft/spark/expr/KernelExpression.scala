package graft.spark.expr

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, UnaryExpression}

/** The bases of the row kernels: the text and vector expressions of
  * `graft.ops` and the sketch queries ([[SketchQuery]]). A kernel is
  * null-intolerant and states a `compute` typed to its answer; generated
  * code calls it through the reference object, so a `Long`, `Double` or
  * `Boolean` comes back unboxed, and `boxed` forwards the interpreted
  * path to it. The bases do not declare `compute`: overriding an
  * `Any`-typed method would add a boxing bridge beside it, which Janino
  * rejects as ambiguous ("Incompatible return types"). */
abstract class KernelUnary[I] extends UnaryExpression {
  protected def boxed(in: I): Any
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(in: Any): Any = boxed(in.asInstanceOf[I])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("kernel", this, getClass.getName)
    defineCodeGen(ctx, ev, c => s"$ref.compute($c)")
  }
}

/** [[KernelUnary]] for two columns. */
abstract class KernelBinary[L, R] extends BinaryExpression {
  protected def boxed(l: L, r: R): Any
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(l: Any, r: Any): Any =
    boxed(l.asInstanceOf[L], r.asInstanceOf[R])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("kernel", this, getClass.getName)
    defineCodeGen(ctx, ev, (l, r) => s"$ref.compute($l, $r)")
  }
}
