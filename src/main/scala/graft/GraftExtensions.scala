package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Cluster deployment entry point: register every graft SQL function
  * through Spark's extensions mechanism instead of a code call —
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * }}}
  *
  * makes `lang_id`, `vector_cosine`, `simhash64`, `zorder`, ... resolve
  * in EVERY session of the application (SQL cells, thrift server, JDBC)
  * with no graft import on the driver. The builders are the same
  * stateless singletons `graft.functions.Registry.registerAll` installs
  * per-session; both paths are idempotent against each other, so a
  * config pipeline run inside an extensions-enabled cluster registers
  * nothing twice. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    graft.functions.Registry.functions.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name),
        builder))
    }
    // r22 opt: avoid the duplicate corpus-scale pass a global sort's
    // range-sampling makes over an expensive projection (see the rule's
    // scaladoc). Operator-optimization batch: co-operates with
    // ColumnPruning in the same fixed point.
    ext.injectOptimizerRule(_ => PullExpensiveProjectAboveSort)
    // a root's order_by + limit is taken before its left-joined children
    // instead of after joining every parent row (see the rule's scaladoc)
    ext.injectOptimizerRule(_ => PushTopKBelowLeftOuterJoin)
  }
}
