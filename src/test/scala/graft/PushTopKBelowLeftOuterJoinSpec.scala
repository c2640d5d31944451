package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, Join, LogicalPlan}
import org.apache.spark.sql.execution.{SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.spark.sql.functions._

/** [[PushTopKBelowLeftOuterJoin]] — the optimizer rule that takes a
  * root's `order_by` + `limit` on the left side of its left-outer joins.
  * Shapes are asserted on the OPTIMIZED logical plan over parquet-backed
  * tables (a LocalRelation would be folded away before the shape could be
  * observed). */
class PushTopKBelowLeftOuterJoinSpec extends SparkSpec {
  import spark.implicits._

  private def t(name: String): DataFrame = spark.read.parquet(s"$sf/$name.parquet")
  private def orders = t("orders").select("o_orderkey", "o_custkey", "o_totalprice")
  private def customer = t("customer").select("c_custkey", "c_nationkey", "c_name")
  private def nation = t("nation").select("n_nationkey", "n_name")

  import PushTopKBelowLeftOuterJoinSpec._

  private def withoutRule[T](f: => T): T = PushTopKBelowLeftOuterJoinSpec.withoutRule(spark)(f)

  /** Same rows in the same order as the rule-excluded run; the rule fired
    * with it and did not without it. */
  private def sameAsExcluded(q: () => DataFrame): Unit = {
    val df = q()
    assert(pushed(df) == 1, df.queryExecution.optimizedPlan.treeString)
    assert(df.queryExecution.optimizedPlan.isInstanceOf[GlobalLimit],
      "the outer top-k must stay at the root")
    val rows = df.collect().toSeq
    withoutRule {
      assert(pushed(q()) == 0)
      assert(q().collect().toSeq == rows)
    }
  }

  private def ordersCustomerNation: DataFrame =
    orders
      .join(customer, $"o_custkey" === $"c_custkey", "left")
      .join(nation, $"c_nationkey" === $"n_nationkey", "left")

  test("stacked left-outer joins: the top-k is taken on the deepest left side") {
    def q() = ordersCustomerNation.orderBy($"o_orderkey".desc).limit(7)
    val plan = q().queryExecution.optimizedPlan
    // the inner limit sits under BOTH joins, on the orders side
    val innerJoin = plan.collect { case j: Join => j }.last
    assert(innerJoin.left.collectFirst { case g: GlobalLimit => g }.isDefined, plan.treeString)
    sameAsExcluded(() => q())
  }

  test("a prefixed child (USING join on a renamed key) is crossed") {
    def prefixed = customer.columns.foldLeft(customer) { (d, c) =>
      d.withColumnRenamed(c, if (c == "c_custkey") "o_custkey" else s"c2_$c")
    }
    def q() = orders.join(prefixed, Seq("o_custkey"), "left")
      .orderBy($"o_orderkey".asc).limit(5)
    sameAsExcluded(() => q())
  }

  test("a group_by root under its left-outer joins") {
    def q() = orders.groupBy("o_custkey").agg(count(lit(1)).as("n"), sum("o_totalprice").as("tp"))
      .join(customer, $"o_custkey" === $"c_custkey", "left")
      .orderBy($"o_custkey".desc).limit(9)
    sameAsExcluded(() => q())
  }

  test("a key renamed above the joins is followed through the alias") {
    def q() = ordersCustomerNation
      .select($"o_orderkey".as("ok"), $"c_name", $"n_name")
      .orderBy($"ok".desc).limit(6)
    sameAsExcluded(() => q())
  }

  test("does not fire on inner, full outer or right outer joins") {
    for (how <- Seq("inner", "full_outer", "right_outer")) {
      val df = orders.join(customer, $"o_custkey" === $"c_custkey", how)
        .orderBy($"o_orderkey".desc).limit(5)
      assert(pushed(df) == 0, s"$how:\n${df.queryExecution.optimizedPlan.treeString}")
    }
    // an inner join between the sort and the left-outer join stops the walk
    val mixed = orders.join(customer, $"o_custkey" === $"c_custkey", "left")
      .join(nation, $"c_nationkey" === $"n_nationkey", "inner")
      .orderBy($"o_orderkey".desc).limit(5)
    assert(pushed(mixed) == 0, mixed.queryExecution.optimizedPlan.treeString)
  }

  test("does not fire on a key from the right side or a rand() key") {
    val right = orders.join(customer, $"o_custkey" === $"c_custkey", "left")
      .orderBy($"c_name").limit(5)
    assert(pushed(right) == 0, right.queryExecution.optimizedPlan.treeString)
    val mixedKeys = orders.join(customer, $"o_custkey" === $"c_custkey", "left")
      .orderBy($"o_orderkey", $"c_name").limit(5)
    assert(pushed(mixedKeys) == 0)
    val random = orders.join(customer, $"o_custkey" === $"c_custkey", "left")
      .orderBy(rand(7)).limit(5)
    assert(pushed(random) == 0, random.queryExecution.optimizedPlan.treeString)
  }

  test("does not fire without a left-outer join or on a streaming plan") {
    val bare = orders.select($"o_orderkey", $"o_custkey" + 1 as "c")
      .orderBy($"o_orderkey".desc).limit(5)
    val p = bare.queryExecution.optimizedPlan
    assert(PushTopKBelowLeftOuterJoin(p).fastEquals(p))
    assert(p.collect { case g: GlobalLimit => g }.size == 1, p.treeString)

    def shape(left: DataFrame) = left
      .join(customer, $"o_custkey" === $"c_custkey", "left")
      .orderBy($"o_orderkey".desc).limit(5).queryExecution.analyzed
    val stream = spark.readStream.format("rate").load()
      .select($"value".as("o_orderkey"), ($"value" % 100).cast("int").as("o_custkey"))
    val streaming = shape(stream)
    assert(streaming.isStreaming)
    assert(PushTopKBelowLeftOuterJoin(streaming).fastEquals(streaming))
    // control: the batch plan of the same shape does change
    val batch = shape(orders.select("o_orderkey", "o_custkey"))
    assert(limitsBelowJoin(PushTopKBelowLeftOuterJoin(batch)) == 1)
  }

  test("idempotent: applying the rule twice equals applying it once") {
    val analyzed = ordersCustomerNation.orderBy($"o_orderkey".desc).limit(7)
      .queryExecution.analyzed
    val once = PushTopKBelowLeftOuterJoin(analyzed)
    assert(!once.fastEquals(analyzed))
    assert(PushTopKBelowLeftOuterJoin(once).fastEquals(once))
    val optimized = ordersCustomerNation.orderBy($"o_orderkey".desc).limit(7)
      .queryExecution.optimizedPlan
    assert(PushTopKBelowLeftOuterJoin(optimized).fastEquals(optimized))
  }

  test("ties: a non-unique key still returns a valid top-k") {
    // customer ⟕ orders fans each customer out to its orders, so the key
    // repeats both in the left side and in the join output
    def q(k: Int) = customer.join(orders, $"c_custkey" === $"o_custkey", "left")
      .orderBy($"c_nationkey".desc).limit(k)
    def key(r: Row) = r.getAs[Int]("c_nationkey")
    val all = customer.join(orders, $"c_custkey" === $"o_custkey", "left").collect()
    val want = all.map(key).sorted(Ordering[Int].reverse)
    for (k <- Seq(1, 13, 40)) {
      assert(pushed(q(k)) == 1)
      val got = q(k).collect()
      assert(got.length == k)
      // the key multiset is the unique top-k's, and every row is a row of
      // the full join output
      assert(got.map(key).toSeq == want.take(k).toSeq)
      assert(got.forall(r => all.contains(r)))
      withoutRule(assert(q(k).collect().map(key).toSeq == want.take(k).toSeq))
    }
  }

  test("the root still plans as TakeOrderedAndProject with the pushed top-k below") {
    val df = ordersCustomerNation.orderBy($"o_orderkey".desc).limit(7)
    df.collect()
    val plan = df.queryExecution.executedPlan
    assert(PushTopKBelowLeftOuterJoinSpec.root(plan).isInstanceOf[TakeOrderedAndProjectExec], plan)
    assert(PushTopKBelowLeftOuterJoinSpec.collect(plan) {
      case t: TakeOrderedAndProjectExec => t }.size == 2, plan)
  }
}

object PushTopKBelowLeftOuterJoinSpec extends AdaptiveSparkPlanHelper {
  /** Limits that sit below a join in the optimized plan. */
  def limitsBelowJoin(p: LogicalPlan): Int = p match {
    case j: Join => j.collect { case g: GlobalLimit => g }.size
    case other => other.children.map(limitsBelowJoin).sum
  }

  def pushed(df: DataFrame): Int = limitsBelowJoin(df.queryExecution.optimizedPlan)

  def withoutRule[T](spark: SparkSession)(f: => T): T = {
    spark.conf.set("spark.sql.optimizer.excludedRules", "graft.PushTopKBelowLeftOuterJoin")
    try f finally spark.conf.unset("spark.sql.optimizer.excludedRules")
  }

  /** The executed root, below AQE's wrapper and its result stage. */
  def root(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec => root(a.executedPlan)
    case s: QueryStageExec => root(s.plan)
    case other => other
  }
}
