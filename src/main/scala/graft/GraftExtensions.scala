package graft

import graft.functions.{GraftFunctions, Kernels}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Session extensions: installs graft's Catalyst kernels as SQL
  * functions at session build time, so
  * `SparkSession.builder().withExtensions(new GraftExtensions)` (or
  * `spark.sql.extensions=graft.GraftExtensions`) makes every
  * [[GraftFunctions]] name (`graft_simhash64`, `graft_dot`,
  * `graft_bloom_agg`, `graft_nfc`, ...) available to plain
  * `spark.sql(...)` without any per-session registration call — the
  * library's functions behave like built-ins.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit =
    for ((name, build) <- GraftFunctions.builders)
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(Kernels.getClass.getName, null, name, "", ""),
        build))
}
