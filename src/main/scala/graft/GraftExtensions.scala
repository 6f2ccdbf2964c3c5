package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/**
 * Session-extension entry point: registers every graft SQL function
 * (sketches + vector math) into a session at BUILD time, so pure-SQL users
 * get them without touching the Scala API:
 *
 * {{{
 *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions …
 *   // or
 *   SparkSession.builder().withExtensions(new GraftExtensions()(_))
 * }}}
 *
 * This is the (c)-tier of the extension ladder (SURVEY §7) and the only way
 * the SQL surface is installed: a session built without the extension has
 * the Scala column API but none of these SQL names.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(extensions: SparkSessionExtensions): Unit = {
    graft.expressions.SketchExpressions.sqlFunctions.foreach {
      case (name, builder) =>
        extensions.injectFunction((
          new FunctionIdentifier(name),
          new ExpressionInfo("graft.expressions.SketchExpressions", name),
          builder))
    }
    // the serving boundary's read-only analyzer check: inert (one volatile
    // read per analysis) unless a read-only ConnectServe endpoint is live,
    // and then restricts ONLY sessions owned by the Connect session manager.
    // Wiring it here is what makes enforcement reach remote clients at all:
    // Connect client sessions are newSession() clones of the engine session
    // and inherit this extensions object.
    extensions.injectCheckRule(graft.serve.ReadOnlyGuard.checkRule)
  }
}
