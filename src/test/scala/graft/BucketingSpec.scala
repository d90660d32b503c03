package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bucketing: pre-partitioned co-located joins (the SURVEY scale
  * directive "co-locate joins via bucketing") — both sides bucketed on
  * the join key join WITHOUT a shuffle exchange.
  */
class BucketingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("bucketed-by-key tables join with no shuffle exchange") {
    val t = Tables(spark, "/root/testdata/sf0.001")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    t.lineitem.select("l_orderkey", "l_quantity")
      .write.bucketBy(4, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("b_lineitem")
    t.orders.select("o_orderkey", "o_totalprice")
      .write.bucketBy(4, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("b_orders")

    try GraftSession.withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val joined = spark.table("b_lineitem")
        .join(spark.table("b_orders"), col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("ShuffleExchange") && !plan.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle:\n${plan.take(3000)}")
      assert(joined.count() == t.lineitem.count(), "inner join keeps all lineitems")
    } finally {
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
      spark.sql("DROP TABLE IF EXISTS b_orders")
    }
  }
}
