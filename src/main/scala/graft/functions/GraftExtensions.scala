package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Config-wired registration of the engine's SQL functions:
  *
  *   --conf spark.sql.extensions=graft.functions.GraftExtensions
  *
  * makes every function in NativeExprs.sqlBuilders available in every
  * session of the application without code (the programmatic
  * equivalent is NativeExprs.registerAll(spark)). Both paths iterate
  * the same builder list, so names/validation cannot drift.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(e: SparkSessionExtensions): Unit =
    GraftExtensions.functionEntries.foreach(e.injectFunction)
}

object GraftExtensions {
  import org.apache.spark.sql.catalyst.expressions.Expression

  /** The injected catalog entries, exposed so the spec can pin that
    * name/usage land in the RIGHT ExpressionInfo slots — the 3-arg
    * ctor this once used is (className, db, NAME), which registered
    * the usage sentence as the function name and the name as a
    * database (round-14 review). */
  private[graft] def functionEntries: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] =
    NativeExprs.sqlBuilders.map { case (name, usage, builder) =>
      (FunctionIdentifier(name),
       // 5-arg ctor: (className, db, name, usage, extended)
       new ExpressionInfo("graft.functions.NativeExprs", null, name, usage, ""),
       builder)
    }
}
