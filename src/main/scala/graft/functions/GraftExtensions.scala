package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistryBase

/**
 * SparkSessionExtensions hook exposing the engine's native expressions to
 * SQL. Activate either via config
 * `spark.sql.extensions=graft.functions.GraftExtensions` or
 * programmatically: `.withExtensions(new GraftExtensions)` on the session
 * builder.
 *
 * ```sql
 * SELECT t.tok, t.sep FROM src
 * LATERAL VIEW explode(graft_tokenize(line)) AS t
 * ```
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // Spark's own builtin builder: any arity but 1 fails analysis with
    // WRONG_NUM_ARGS
    val (info, builder) = FunctionRegistryBase.build[Tokenize]("graft_tokenize", None)
    ext.injectFunction((new FunctionIdentifier("graft_tokenize"), info, builder))
  }
}
