package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import graft.expressions.Kernels

/** Session extensions: inject graft's optimizer rule and register the
  * native kernels as SQL functions, so a plain
  * `--conf spark.sql.extensions=graft.plans.GraftExtensions` session gets
  * the full surface (`SELECT casefold(c) …`) with zero driver code. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => SimplifyKernelNullChecks)
    graft.GraftFunctions.kernelFunctions.foreach { case (name, dt, kernel, pts) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(Kernels.getClass.getName, name),
        graft.GraftFunctions.builder(dt, kernel, pts)))
    }
    graft.GraftFunctions.columnFunctions.foreach { case (name, arity, fn) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(graft.ops.Urls.getClass.getName, name),
        graft.GraftFunctions.columnBuilder(name, arity, fn)))
    }
  }
}
