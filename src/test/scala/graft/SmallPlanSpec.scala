package graft

import java.nio.file.Files

import org.apache.spark.graft.Jobs
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Repartition}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** [[SmallPlanSinglePartition]]: a small batch query plans as one
  * partition with no exchange and runs in one job; above the size gate,
  * with AQE off, in streams and over unbounded operators it leaves the
  * plan alone, and it keeps user join hints and scan pushdown.
  */
class SmallPlanSpec extends AnyFunSuite with BeforeAndAfterAll
    with AdaptiveSparkPlanHelper {
  private val spark = TestSpark.spark
  import spark.implicits._

  /** The sf0.001 tables, beside ScaleProbe's sf0.01 gate tables. */
  private val sf = new java.io.File(
    new java.io.File(tools.ScaleProbe.gateSf).getParent, "sf0.001").getPath
  private val root = Files.createTempDirectory("graft_small_plan_spec_")
  override def afterAll(): Unit = Scratch.deleteTree(root.toFile)

  /** 2000 rows in 50 groups, in four files. */
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

  /** The size gate lowered below every input here: the rule stays off. */
  private val gateLowered =
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1024"

  /** The repartitions the rule puts in (`coalesce(1)`). */
  private def fired(p: LogicalPlan): Boolean =
    p.collect { case r: Repartition if !r.shuffle && r.numPartitions == 1 => r }.nonEmpty

  /** Every exchange of the executed plan, AQE stages included. */
  private def exchanges(df: DataFrame) = collect(df.queryExecution.executedPlan) {
    case e: ShuffleExchangeLike => e
    case b: BroadcastExchangeLike => b
  }

  private def scans(df: DataFrame): Seq[(String, String)] =
    collect(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec =>
        (s.metadata.getOrElse("PushedFilters", ""), s.metadata("ReadSchema"))
    }.sorted

  /** Collects a fresh frame, returning its rows, job count and frame. */
  private def run(frame: => DataFrame): (Seq[Row], Int, DataFrame) = {
    val df = frame
    val (jobs, rows) = Jobs.counted(spark.sparkContext)(df.collect().toSeq)
    (rows, jobs, df)
  }

  private def query(name: String): DataFrame = queries.Registry.queries(name)(spark, sf)

  Seq("c04_union_append", "q05_anti_join", "q29_window_first_last").foreach { name =>
    test(s"$name at sf0.001 plans no exchange and runs in one job, same rows") {
      val (rows, jobs, df) = run(query(name))
      assert(fired(df.queryExecution.optimizedPlan))
      assert(exchanges(df).isEmpty, df.queryExecution.executedPlan)
      assert(jobs == 1, s"$jobs jobs:\n${df.queryExecution.executedPlan}")
      val (offRows, offJobs, offDf) =
        GraftSession.withConf(spark, gateLowered)(run(query(name)))
      assert(!fired(offDf.queryExecution.optimizedPlan))
      assert(exchanges(offDf).nonEmpty && offJobs > 1)
      assert(rows.nonEmpty)
      assert(rows == offRows)
      assert(scans(df) == scans(offDf), "PushedFilters or ReadSchema changed")
    }
  }

  test("a join and aggregate above the size gate keep their exchanges") {
    def frame = spark.read.parquet(factPath).join(spark.read.parquet(dimPath), "g")
      .groupBy("name").agg(sum("v").as("s")).orderBy("name")
    val (rows, _, df) = GraftSession.withConf(spark, gateLowered)(run(frame))
    assert(!fired(df.queryExecution.optimizedPlan))
    assert(exchanges(df).nonEmpty)
    val (onRows, onJobs, onDf) = run(frame)
    assert(fired(onDf.queryExecution.optimizedPlan))
    assert(exchanges(onDf).isEmpty, onDf.queryExecution.executedPlan)
    assert(onJobs == 1)
    assert(rows.size == 50 && onRows == rows)
  }

  test("with AQE off the plan is left alone") {
    val df = GraftSession.withConf(spark, "spark.sql.adaptive.enabled" -> "false") {
      val df = query("q05_anti_join")
      df.queryExecution.optimizedPlan
      df
    }
    assert(!fired(df.queryExecution.optimizedPlan), df.queryExecution.optimizedPlan)
  }

  test("an explode or a LogicalRDD under the aggregate keeps its exchange") {
    val fact = spark.read.parquet(factPath)
    val (rows, _, df) = run(fact
      .select(explode(array(col("g"), col("g") + 50)).as("x"))
      .groupBy("x").count())
    assert(!fired(df.queryExecution.optimizedPlan), df.queryExecution.optimizedPlan)
    assert(exchanges(df).nonEmpty)
    assert(rows.size == 100)
    val rdd = spark.createDataFrame(fact.rdd, fact.schema)
    val (rddRows, _, rddDf) = run(rdd.groupBy("g").agg(sum("v")))
    assert(!fired(rddDf.queryExecution.optimizedPlan), rddDf.queryExecution.optimizedPlan)
    assert(exchanges(rddDf).nonEmpty)
    assert(rddRows.size == 50)
  }

  test("a frame joined with itself keeps its exchanges, read once") {
    // the two join sides are one aggregate: its exchange runs once and
    // is reused, where coalesced sides would each re-run it
    val agg = spark.read.parquet(factPath).groupBy("g").agg(sum("v").as("s"))
    val (rows, _, df) = run(agg.join(agg.withColumnRenamed("s", "s2"), "g"))
    assert(!fired(df.queryExecution.optimizedPlan), df.queryExecution.optimizedPlan)
    assert(exchanges(df).nonEmpty)
    assert(rows.size == 50)
  }

  test("a user broadcast() hint is kept") {
    val (rows, _, df) = run(spark.read.parquet(factPath)
      .join(broadcast(spark.read.parquet(dimPath)), "g")
      .groupBy("name").agg(sum("v").as("s")))
    assert(fired(df.queryExecution.optimizedPlan))
    assert(collect(df.queryExecution.executedPlan) {
      case j: BroadcastHashJoinExec => j }.nonEmpty, df.queryExecution.executedPlan)
    assert(exchanges(df).forall(_.isInstanceOf[BroadcastExchangeLike]),
      df.queryExecution.executedPlan)
    assert(rows.size == 50)
  }

  private def sinkTables = spark.catalog.listTables().collect().toSeq
    .map(_.name).filter(_.startsWith("graft_stream_"))

  test("a sort over a memory-sink table runs in one job; the reap drops the sink") {
    Scratch.withDir("graft_small_plan_sink_") { dir =>
      Seq(3L, 1L, 2L).toDF("k").write.json(dir.getPath + "/in")
      val table = queries.StreamingQueries.runToTable(
        spark.readStream.schema("k LONG").json(dir.getPath + "/in"), "append")
      val (rows, jobs, df) = run(table.orderBy("k"))
      assert(fired(df.queryExecution.optimizedPlan))
      assert(exchanges(df).isEmpty, df.queryExecution.executedPlan)
      assert(jobs == 1)
      assert(rows.map(_.getLong(0)) == Seq(1L, 2L, 3L))
      assert(sinkTables.nonEmpty)
      GraftSession.dropAllBlocks(spark)
      assert(sinkTables.isEmpty)
    }
  }

  test("a stateful stream and its foreachBatch frames are left as planned") {
    // the graftbench `live` shape: keyed sliding windows with a
    // watermark into foreachBatch. A micro-batch runs with AQE off, and
    // the batch frame is a LogicalRDD.
    Scratch.withDir("graft_small_plan_stream_") { dir =>
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
          val agg = df.groupBy("user_id").count().orderBy("user_id")
          agg.collect()
          seen.add(fired(agg.queryExecution.optimizedPlan))
          ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      assert(!seen.isEmpty)
      assert(!seen.contains(true), "the rule rewrote a foreachBatch frame")
      val last = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution
      assert(!fired(last.optimizedPlan), last.optimizedPlan)
    }
  }
}
