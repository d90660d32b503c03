package graft

import java.nio.file.Files

import org.apache.spark.graft.Jobs
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Repartition
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, RangePartitioning, SinglePartition}
import org.apache.spark.sql.execution.TakeOrderedAndProjectExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** [[SmallSortSinglePartition]]: a global sort of a small input plans a
  * single-partition shuffle instead of a range shuffle, so the range
  * partitioner's sampling job never runs; large or unbounded inputs and
  * sorts under a limit keep their plans.
  */
class SmallSortSpec extends AnyFunSuite with BeforeAndAfterAll
    with AdaptiveSparkPlanHelper {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val root = Files.createTempDirectory("graft_small_sort_spec_")
  override def afterAll(): Unit = Scratch.deleteTree(root.toFile)

  /** 2000 rows with distinct keys in shuffled order, in four files. */
  private lazy val factPath: String = {
    val p = s"$root/fact"
    spark.range(2000).select(
        ((col("id") * 7919) % 2000).as("k"), (col("id") % 50).as("g"),
        (col("id") * 3).as("v"))
      .repartition(4).write.parquet(p)
    p
  }

  /** 50 rows: one name per group. */
  private lazy val dimPath: String = {
    val p = s"$root/dim"
    spark.range(50).select(col("id").as("g"),
        concat(lit("name_"), col("id").cast("string")).as("name"))
      .write.parquet(p)
    p
  }

  /** [[SmallPlanSinglePartition]] would plan these small inputs with no
    * exchange at all ([[SmallPlanSpec]]); it is off here, so each test
    * sees the sort rule alone. */
  private val planRuleOff =
    "spark.sql.optimizer.excludedRules" -> SmallPlanSinglePartition.ruleName
  override def withFixture(test: NoArgTest) =
    GraftSession.withConf(spark, planRuleOff)(super.withFixture(test))

  private val ruleOff = Seq(
    "spark.sql.optimizer.excludedRules" ->
      s"${SmallPlanSinglePartition.ruleName},${SmallSortSinglePartition.ruleName}",
    "spark.sql.adaptive.optimizer.excludedRules" -> SmallSortSinglePartition.ruleName)

  /** Partitionings of every shuffle in the executed plan, AQE stages
    * included (the final plan once the frame has run). */
  private def shuffles(df: DataFrame): Seq[Partitioning] =
    collect(df.queryExecution.executedPlan) {
      case e: ShuffleExchangeLike => e.outputPartitioning
    }

  private def hasRange(df: DataFrame) =
    shuffles(df).exists(_.isInstanceOf[RangePartitioning])
  private def hasSingle(df: DataFrame) = shuffles(df).contains(SinglePartition)

  /** Collects a fresh frame, returning its rows, job count and frame. */
  private def run(frame: => DataFrame) = {
    val df = frame
    val (jobs, rows) = Jobs.counted(spark.sparkContext)(df.collect().toSeq)
    (rows, jobs, df)
  }

  test("a small scan's orderBy sorts in one partition, one job fewer, same rows") {
    val fact = spark.read.parquet(factPath)
    val (rows, jobs, df) = run(fact.orderBy("k"))
    assert(hasSingle(df), df.queryExecution.executedPlan)
    assert(!hasRange(df), df.queryExecution.executedPlan)
    val (offRows, offJobs, offDf) =
      GraftSession.withConf(spark, ruleOff: _*)(run(fact.orderBy("k")))
    assert(hasRange(offDf), "with the rule off the sort is range-partitioned")
    assert(jobs == offJobs - 1, s"rule on: $jobs jobs, rule off: $offJobs")
    assert(rows.map(_.getLong(0)) == (0L until 2000L))
    assert(rows == offRows)
  }

  test("input above the one-partition size keeps RangePartitioning") {
    val fact = spark.read.parquet(factPath)
    val (rows, _, df) = GraftSession.withConf(spark,
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1024")(
      run(fact.orderBy("k")))
    assert(hasRange(df), df.queryExecution.executedPlan)
    assert(!hasSingle(df))
    assert(rows.map(_.getLong(0)) == (0L until 2000L))
  }

  test("an explode under the sort keeps RangePartitioning") {
    val fact = spark.read.parquet(factPath)
    val (rows, _, df) = run(
      fact.select(explode(array(col("k"), col("k") + 2000)).as("x")).orderBy("x"))
    assert(hasRange(df), df.queryExecution.executedPlan)
    assert(rows.map(_.getLong(0)) == (0L until 4000L))
  }

  test("orderBy(...).limit(n) still plans TakeOrderedAndProject") {
    val fact = spark.read.parquet(factPath)
    val df = fact.orderBy(col("k").desc).limit(5)
    assert(df.collect().map(_.getLong(0)).toSeq == (1999L to 1995L by -1))
    assert(collect(df.queryExecution.executedPlan) {
      case t: TakeOrderedAndProjectExec => t }.nonEmpty,
      df.queryExecution.executedPlan)
    assert(df.queryExecution.optimizedPlan.collect {
      case r: Repartition => r }.isEmpty)
  }

  test("a sort over a tiny aggregate with a large static estimate is decided at runtime") {
    // the join's static estimate is the product of its inputs' sizes,
    // far over 1 MB; the aggregate's shuffle stage holds 50 groups
    def frame = spark.read.parquet(factPath)
      .join(spark.read.parquet(dimPath), "g")
      .groupBy("name").agg(sum("v").as("s"))
      .orderBy("name")
    val static = frame.queryExecution.optimizedPlan
    assert(static.collect { case r: Repartition => r }.isEmpty,
      s"the static estimate should not fire the rule:\n$static")
    val (rows, jobs, df) = run(frame)
    assert(hasSingle(df), df.queryExecution.executedPlan)
    assert(!hasRange(df), df.queryExecution.executedPlan)
    val (offRows, offJobs, _) =
      GraftSession.withConf(spark, ruleOff: _*)(run(frame))
    assert(jobs == offJobs - 1, s"rule on: $jobs jobs, rule off: $offJobs")
    assert(rows.size == 50)
    assert(rows.map(_.getString(0)) == rows.map(_.getString(0)).sorted)
    assert(rows == offRows)
  }

  test("a sort inside a stateful stream's batches is left as planned") {
    // the graftbench `live` shape: keyed sliding windows with a
    // watermark into foreachBatch. Streams run with AQE off, so the rule
    // never fires there, also for a sort inside the batch function.
    Scratch.withDir("graft_small_sort_stream_") { dir =>
      val in = new java.io.File(dir, "in"); in.mkdirs()
      (0 until 3).foreach { i =>
        Seq((i * 10L, s"2024-01-01 00:00:0$i", i % 2, 1.0))
          .toDF("event_id", "ts", "user_id", "value")
          .write.mode("append").json(in.getPath)
      }
      val events = spark.readStream.schema(
          "event_id LONG, ts TIMESTAMP, user_id INT, value DOUBLE")
        .json(in.getPath)
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[Boolean]()
      val q = streaming.EventTimeWindows.slidingAgg(events, "ts", "user_id",
          "value", "2 seconds", "1 second", "1 second")
        .writeStream.outputMode("append")
        .option("checkpointLocation", new java.io.File(dir, "ckpt").getPath)
        .foreachBatch { (df: DataFrame, _: Long) =>
          val sorted = df.orderBy("w_start", "user_id")
          sorted.collect()
          seen.add(sorted.queryExecution.optimizedPlan
            .collect { case r: Repartition => r }.nonEmpty)
          ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      assert(!seen.isEmpty)
      assert(!seen.contains(true), "the rule rewrote a micro-batch sort")
      val last = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution
      assert(last.optimizedPlan.collect { case r: Repartition => r }.isEmpty)
    }
  }
}
