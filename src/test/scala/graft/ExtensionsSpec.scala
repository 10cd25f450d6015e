package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.GroupJoinRule

/** GroupJoin optimizer rule: the "GROUP BY feeding a JOIN" plan is
  * rewritten to aggregate-below-join only when the dim side is
  * structurally unique on the join key, results unchanged.
  */
class ExtensionsSpec extends AnyFunSuite {
  import TestSession._

  private def orders = graft.sources.Catalog.table(spark, sfDir, "orders")
  private def customer = graft.sources.Catalog.table(spark, sfDir, "customer")

  /** One row per customer: an Aggregate grouped by the join key. */
  private def customerByKey =
    customer.groupBy(col("c_custkey")).agg(first(col("c_name")).as("c_name"))

  // orders grouped per customer, then joined to a customer dim —
  // written in the NAIVE order (join first, then aggregate), the shape
  // the fork's GROUPJOIN targets.
  private def naive(dim: DataFrame) =
    orders.join(dim, col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n"), sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))

  /** Fused: the topmost Join/Aggregate of the optimized plan is the
    * Join, i.e. the fact aggregate was pushed below it.
    */
  private def fused(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan
      .find(p => p.isInstanceOf[Join] || p.isInstanceOf[Aggregate])
      .exists(_.isInstanceOf[Join])

  /** Rows of `df` planned without the rule. */
  private def unrewritten(df: => DataFrame): Array[Row] = {
    val key = "spark.sql.optimizer.excludedRules"
    val before = spark.conf.get(key)
    spark.conf.set(key, s"$before,${GroupJoinRule.ruleName}")
    try {
      val d = df
      assert(!fused(d), "the excluded rule still fired")
      d.collect()
    } finally spark.conf.set(key, before)
  }

  private def sorted(rows: Array[Row]): Seq[String] = rows.map(_.toString).toSeq.sorted

  test("rule pushes the aggregate below the join") {
    // over a groupBy(c_custkey) dim: one row per join key
    assert(fused(naive(customerByKey)),
      s"expected Aggregate below Join:\n${naive(customerByKey).queryExecution.optimizedPlan}")
  }

  test("rule fires over a distinct dim") {
    assert(fused(naive(customer.select(col("c_custkey")).distinct())))
  }

  test("rule preserves results exactly") {
    val got = naive(customerByKey).collect()
    assert(sorted(got) == sorted(unrewritten(naive(customerByKey))))
    assert(got.nonEmpty)
  }

  test("rule does not fire over the raw customer table") {
    assert(!fused(naive(customer)))
  }

  test("rule does not fire over customer unionAll customer, rows equal the unrewritten plan") {
    // every customer key appears twice on the dim side: fusing would
    // halve each group's count and cents
    def q() = naive(customer.unionAll(customer))
    assert(!fused(q()))
    val got = q().collect()
    assert(got.nonEmpty)
    assert(sorted(got) == sorted(unrewritten(q())))
  }

  test("rule fuses when the group key is NOT in the select list") {
    // GROUP BY o_custkey with only SUM(x) projected: the rewritten
    // join condition references o_custkey, which must be appended to
    // the pushed aggregate's output (and stripped by the outer
    // Project) or the plan fails to bind.
    def grouped() = orders.join(customerByKey, col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_custkey"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
    def q() = grouped().select(col("cents"))
    assert(fused(grouped()), s"expected fusion with unprojected key:\n${grouped().queryExecution.optimizedPlan}")
    assert(sorted(q().collect()) == sorted(unrewritten(q())))
  }

  test("rule leaves non-fusable aggregates alone (agg over dim column)") {
    val dim = customer.groupBy(col("c_custkey")).agg(max(col("c_acctbal")).as("c_acctbal"))
    def q() = orders.join(dim, col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_custkey"))
      .agg(max(col("c_acctbal")).as("m")) // references the dim side
    assert(!fused(q()), "rule must not fire when aggregates touch the dim side")
  }
}
