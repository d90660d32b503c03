package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Runtime join filtering at cluster scale. Locally every dim table
  * broadcasts, so the selective-dim join is already pruned by the
  * broadcast hash join itself. On a 1000-executor cluster a fact⋈fact
  * join plans as a shuffle join — and there Catalyst's
  * InjectRuntimeFilter turns the selective side into a bloom filter
  * applied to the big side's scan, cutting the shuffle volume before
  * it happens. These tests pin BOTH regimes so the engine's config
  * path is known-good when the planner makes the cluster-scale choice:
  * the feature needs no graft code, but a session config that
  * accidentally disabled it would silently cost a full fact shuffle at
  * 100 TB, which no local test would ever notice.
  */
class RuntimeFilterSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Plans as at cluster scale: with the single-partition size gate
    * lowered, [[SmallPlanSinglePartition]] leaves the sf0.01 join to the
    * planner's own strategy choice instead of one `coalesce(1)`
    * partition. */
  private def atScale[T](body: => T): T = GraftSession.withConf(spark,
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1024")(body)

  private def selectiveDimJoin() = {
    val t = Tables(spark, "/root/testdata/sf0.01")
    t.lineitem.join(t.part.filter(col("p_size") === 1),
        col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand").agg(count(lit(1)).as("n"))
  }

  test("runtime bloom filter machinery is enabled in the session") {
    assert(spark.conf
      .get("spark.sql.optimizer.runtime.bloomFilter.enabled") == "true")
  }

  test("local regime: the selective dim broadcasts (no bloom needed)") {
    val physical = atScale(selectiveDimJoin().queryExecution.executedPlan.toString)
    assert(physical.contains("BroadcastHashJoin"),
      s"expected the dim side to broadcast locally:\n$physical")
    assert(!physical.contains("might_contain"),
      "a broadcast join must not pay for a redundant bloom filter")
  }

  test("shuffle-join regime: a bloom filter is injected on the fact side") {
    atScale(shuffleJoinRegime())
  }

  private def shuffleJoinRegime(): Unit = {
    // simulate the fact⋈fact planner choice (no broadcast candidates)
    // and a fact scan big enough to be worth filtering; restore the
    // session conf afterwards — TestSpark is shared
    val (optimized, rows) = GraftSession.withConf(spark,
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0") {
      val plan = selectiveDimJoin().queryExecution.optimizedPlan
      val r = selectiveDimJoin().orderBy("p_brand")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      (plan, r)
    }
    assert(optimized.toString.contains("bloom_filter_agg"),
      s"expected InjectRuntimeFilter to build a bloom from the dim side:\n$optimized")
    // the consumer must land on the FACT side: a Filter whose condition
    // calls might_contain over the fact join key (l_partkey), not just
    // anywhere in the plan string
    val bloomConsumers = optimized.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter
          if f.condition.toString.contains("might_contain") => f
    }
    assert(bloomConsumers.exists(_.condition.toString.contains("l_partkey")),
      s"bloom consumer should filter the fact scan on l_partkey:\n$optimized")
    // restored confs → broadcast regime; results must match exactly
    val broadcastRows = selectiveDimJoin().orderBy("p_brand")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(rows == broadcastRows,
      "bloom-filtered shuffle join must return the broadcast join's rows")
  }
}
