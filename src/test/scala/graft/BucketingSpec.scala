package graft

import org.apache.spark.sql.functions._
import graft.sources.{Bucketing, Tables}

/** Proves the co-located-join property: a join between two tables
  * bucketed on the join key plans WITHOUT a shuffle exchange. */
class BucketingSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  test("bucketed fact-fact join runs shuffle-free and row-correct") {
    val base = tempDir("buckets").toString
    Bucketing.writeBucketed(Tables.orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_totalprice"),
      "graft_orders_b", "o_orderkey", 8, s"$base/orders")
    Bucketing.writeBucketed(Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_quantity"),
      "graft_lineitem_b", "l_orderkey", 8, s"$base/lineitem")

    val joined = Bucketing.read(spark, "graft_lineitem_b")
      .join(Bucketing.read(spark, "graft_orders_b"),
        col("l_orderkey") === col("o_orderkey"))
    // disable broadcast so the test exercises the co-located path
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val replan = Bucketing.read(spark, "graft_lineitem_b")
        .join(Bucketing.read(spark, "graft_orders_b"),
          col("l_orderkey") === col("o_orderkey"))
      val plan = replan.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"), plan.take(800))
      // and the rows are the same as the plain parquet join
      val want = Tables.lineitem(spark, dir)
        .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
        .count()
      assert(replan.count() == want)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }
}
