package graft.sources

import graft.SparkTestBase

/** Bucketed co-located joins: the write-once/join-free-forever layout.
  * Two tables bucketed by the same key and count must join with zero
  * exchanges, and the result must equal the plain shuffled join. */
class BucketedJoinSpec extends SparkTestBase {


  test("bucketed tables join with zero shuffle exchanges") {
    val orders = spark.read.parquet(s"$sf/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val lineitem = spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_orderkey", "l_quantity")
      .withColumnRenamed("l_orderkey", "o_orderkey")

    BucketedStore.saveBucketed(orders, "b_orders", "o_orderkey", 8)
    BucketedStore.saveBucketed(lineitem, "b_lineitem", "o_orderkey", 8)
    val oldThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = BucketedStore.table(spark, "b_orders")
        .join(BucketedStore.table(spark, "b_lineitem"), "o_orderkey")
      val rows = j.count()
      // after the action AQE has finalized the plan; a bucketed join that
      // shuffles either side defeats the entire point of the layout
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed co-located join must not shuffle:\n$plan")
      val expected = orders.join(lineitem, "o_orderkey").count()
      assert(rows == expected, s"bucketed join rows $rows != plain $expected")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", oldThreshold)
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
    }
  }

  test("aggregation on the bucket key reuses the layout: no exchange") {
    val orders = spark.read.parquet(s"$sf/orders.parquet")
      .select("o_orderkey", "o_totalprice")
    BucketedStore.saveBucketed(orders, "b_orders_agg", "o_orderkey", 8)
    try {
      val agg = BucketedStore.table(spark, "b_orders_agg")
        .groupBy("o_orderkey").sum("o_totalprice")
      agg.count()
      val plan = agg.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"groupBy on the bucket key must not shuffle:\n$plan")
    } finally {
      spark.sql("DROP TABLE IF EXISTS b_orders_agg")
    }
  }
}
