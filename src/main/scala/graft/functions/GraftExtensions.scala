package graft.functions

import org.apache.spark.sql.SparkSessionExtensions

/** SparkSessionExtensions entry point: registers graft's custom Catalyst
  * functions so any session whose builder calls
  * `withExtensions(new GraftExtensions)` — or is given
  * `spark.sql.extensions=graft.functions.GraftExtensions` on spark-submit —
  * gets them in SQL. Only a new session picks extensions up: `getOrCreate`
  * on a running one ignores them.
  *
  * Per SURVEY.md §4 no custom Rule/SparkStrategy is needed for this engine:
  * all relational work lands on built-in Catalyst operators by design; the
  * extension surface is intentionally just expressions.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("xxhash64_seed0"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[XxHash64Seed0].getCanonicalName, "xxhash64_seed0"),
        (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
          XxHash64Seed0(exprs.head)))
    ext.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("unicode_normalize"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[UnicodeNormalize].getCanonicalName, "unicode_normalize"),
        UnicodeNormalize.sqlBuilder))
  }
}
