package graft

import graft.functions.Kernels
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types._

/** Session extensions: installs graft's Catalyst kernels as SQL
  * functions at session build time, so
  * `SparkSession.builder().withExtensions(new GraftExtensions)` (or
  * `spark.sql.extensions=graft.GraftExtensions`) makes
  * `graft_simhash64` / `graft_fingerprint64` / `graft_dot` available
  * to plain `spark.sql(...)` without any per-session registration
  * call — the library's functions behave like built-ins.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo(Kernels.getClass.getName, null, name, usage, "")

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("graft_simhash64"),
      info("graft_simhash64", "graft_simhash64(array<string>) - 64-bit SimHash"),
      (exprs: Seq[Expression]) =>
        StaticInvoke(Kernels.getClass, LongType, "simhash64",
          exprs, Seq(ArrayType(StringType)), returnNullable = false)))
    ext.injectFunction((
      FunctionIdentifier("graft_fingerprint64"),
      info("graft_fingerprint64",
        "graft_fingerprint64(array<string>) - rolling-hash fingerprint"),
      (exprs: Seq[Expression]) =>
        StaticInvoke(Kernels.getClass, LongType, "fingerprint64",
          exprs, Seq(ArrayType(StringType)), returnNullable = false)))
    ext.injectFunction((
      FunctionIdentifier("graft_dot"),
      info("graft_dot", "graft_dot(array<double>, array<double>) - dot product"),
      (exprs: Seq[Expression]) =>
        graft.functions.DotProduct(exprs(0), exprs(1))))
  }
}
