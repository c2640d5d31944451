package graft.compile

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.GraftColumnBridge.expressionEager
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAlias, UnresolvedStarWithColumns,
  UnresolvedStarWithColumnsRenames}
import org.apache.spark.sql.catalyst.expressions.{Ascending, Cube, Expression, GroupingSets,
  Literal, NamedExpression, Rollup, SortOrder}
import org.apache.spark.sql.catalyst.plans.{JoinType, UsingJoin}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, JoinHint, Limit,
  LogicalPlan, Project, Sort, UnresolvedHint}
import org.apache.spark.sql.internal.SQLConf

/** One config node's relational steps as ONE unanalyzed Catalyst plan.
  *
  * Every classic DataFrame call (`withColumn`, `filter`, `join`, ...)
  * wraps the grown plan in a new Dataset, and a new Dataset runs the whole
  * analyzer over it — a node of ten steps paid ten analyses, a prefixed
  * child one per column. A spine stacks the lazy operators those calls
  * build (the nodes Spark Connect sends) and analyzes them once, in
  * [[frame]], where the compiler needs a DataFrame or a schema. Each method
  * builds exactly the node its DataFrame call would, so the analyzed — and
  * optimized — plans are the calls' plans. */
private[compile] final class Spine private (spark: SparkSession,
    private var plan: LogicalPlan, private var analyzed: Option[DataFrame]) {

  /** The DataFrame so far: one analyzer run per change, none when the
    * spine holds an already-analyzed frame. */
  def frame: DataFrame = analyzed.getOrElse {
    val df = GraftColumnBridge.ofRows(spark, plan)
    set(GraftColumnBridge.plan(df), Some(df))
    df
  }

  /** A step that needs a DataFrame (an `ops` helper, a schema check). */
  def through(f: DataFrame => DataFrame): Unit = {
    val df = f(frame)
    set(GraftColumnBridge.plan(df), Some(df))
  }

  /** `withColumn` per entry: the replace-in-place-else-append node
    * `Dataset.withColumns` builds, one Project each — so a later entry
    * sees an earlier one, and the optimizer collapses the Projects as it
    * collapsed the calls'. */
  def withColumns(entries: Seq[(String, Column)]): Unit =
    entries.foreach { case (c, e) =>
      stack(Project(Seq(UnresolvedStarWithColumns(Seq(c), Seq(expressionEager(e)))), _))
    }

  /** `withColumnRenamed` per pair as one node; the pairs fold left in the
    * listed order, so a chain {a: x, x: y} ends as y. */
  def rename(pairs: Seq[(String, String)]): Unit =
    if (pairs.nonEmpty) stack(Project(Seq(UnresolvedStarWithColumnsRenames(
      pairs.map(_._1), pairs.map(_._2))), _))

  def filter(cond: Column): Unit = stack(Filter(expressionEager(cond), _))

  def select(cols: Seq[Column]): Unit =
    stack(Project(cols.map(c => Spine.named(expressionEager(c))), _))

  /** `groupBy(keys).agg(aggs)` — or rollup / cube / grouping sets — as
    * the Aggregate `RelationalGroupedDataset` builds: the group keys lead
    * the output unless `spark.sql.retainGroupColumns` is off. */
  def aggregate(mode: String, keys: Seq[Column], sets: Seq[Seq[Column]],
      aggs: Seq[Column]): Unit = {
    val k = keys.map(expressionEager)
    val grouping = mode match {
      case "rollup" => Seq(Rollup(k.map(Seq(_))))
      case "cube"   => Seq(Cube(k.map(Seq(_))))
      case "grouping_sets" | "groupingSets" =>
        Seq(GroupingSets(sets.map(_.map(expressionEager)), k))
      case _ => k
    }
    val out = (if (SQLConf.get.dataFrameRetainGroupColumns) k else Nil) ++
      aggs.map(expressionEager)
    stack(Aggregate(grouping, out.map(Spine.named), _))
  }

  def hint(name: String): Unit = stack(UnresolvedHint(name, Nil, _))

  /** Join `right`'s plan: USING `link` (what `join(df, cols, how)`
    * builds), else on `cond` (`join(df, cond, how)`; none = `crossJoin`). */
  def join(right: Spine, how: String, link: Seq[String], cond: Option[Column]): Unit = {
    val r = right.plan
    stack(l =>
      if (link.nonEmpty)
        Join(l, r, UsingJoin(JoinType(how), link.toIndexedSeq), None, JoinHint.NONE)
      else Join(l, r, JoinType(how), cond.map(expressionEager), JoinHint.NONE))
  }

  def orderBy(cols: Seq[Column]): Unit = stack(Sort(cols.map(c =>
    expressionEager(c) match {
      case s: SortOrder => s
      case e            => SortOrder(e, Ascending)
    }), global = true, _))

  def limit(n: Int): Unit = stack(Limit(Literal(n), _))

  private def stack(f: LogicalPlan => LogicalPlan): Unit = set(f(plan), None)

  private def set(p: LogicalPlan, df: Option[DataFrame]): Unit = {
    plan = p
    analyzed = df
  }
}

private[compile] object Spine {
  def apply(df: DataFrame): Spine =
    new Spine(df.sparkSession, GraftColumnBridge.plan(df), Some(df))

  private def named(e: Expression): NamedExpression = e match {
    case n: NamedExpression => n
    case other              => UnresolvedAlias(other)
  }
}

