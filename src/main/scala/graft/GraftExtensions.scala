package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{BinaryKernelCall, Kernels, UnaryKernelCall}

/** Session extensions registering graft's native Catalyst kernels (one
  * per [[Kernels]] row) — apply with `.withExtensions(new GraftExtensions)`
  * (as [[Tables.session]] does) or `spark.sql.extensions=graft.GraftExtensions`
  * on spark-submit. Functions registered here are available to SQL text
  * and to `call_function` alike. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    Kernels.all.foreach { k =>
      val cls = if (k.inputs.length == 2) classOf[BinaryKernelCall]
        else classOf[UnaryKernelCall]
      ext.injectFunction((
        FunctionIdentifier(k.name),
        new ExpressionInfo(cls.getName, k.name),
        (children: Seq[Expression]) => {
          // checked first, so a wrong count fails with the kernel's usage
          require(children.length == k.arity, k.arityMessage(children.length))
          // a literal row takes one column and the literal (KernelTableSpec
          // pins the shapes), so the arity check fixes the positions
          k.literal match {
            case Some(l) =>
              // a plan-time constant, prepared once per call, not per row
              val arg = children.last
              require(arg.foldable, s"${k.name} ${l.param} must be a literal")
              val v = l.read.applyOrElse(arg.eval(), (other: Any) =>
                throw new IllegalArgumentException(
                  s"${k.name} ${l.param} must be ${l.kind}, got $other"))
              UnaryKernelCall(k.name, children.head, Some(v))
            case None if k.inputs.length == 2 =>
              BinaryKernelCall(k.name, children.head, children.last)
            case None => UnaryKernelCall(k.name, children.head)
          }
        }))
    }
}
