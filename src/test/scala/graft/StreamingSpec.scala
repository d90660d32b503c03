package graft

import java.sql.Timestamp
import graft.streaming.{CountWindows, EventTimeWindows, GraftMetrics, ManagedForeachSink}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Deterministic streaming-semantics tests: one MemoryStream batch per
  * reference watermark punctuation (SURVEY §7.4.2), so watermark
  * advances are exact and the reference fixtures replay 1:1.
  */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(sec: Long): Timestamp = new Timestamp(sec * 1000L)

  test("event-time tumbling window: closure rule (test :278-291)") {
    // reference fixture a@1, b@3, c@7, d@8 (seconds), 5s windows:
    // watermark reaches 8 => only window [0,5) closes, values [a, b]
    implicit val sql = spark.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    val out = EventTimeWindows.tumblingCollect(
      input.toDF().toDF("ts", "v"), "ts", "v", "5 seconds")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("etw1").start()
    try {
      input.addData((ts(1), "a"), (ts(3), "b"))
      q.processAllAvailable() // punctuation 1: watermark -> 3
      input.addData((ts(7), "c"), (ts(8), "d"))
      q.processAllAvailable() // punctuation 2: watermark -> 8, [0,5) closes
      val rows = spark.table("etw1")
        .selectExpr("unix_timestamp(w_start)", "unix_timestamp(w_end)", "values")
        .as[(Long, Long, Seq[String])].collect().toList
      assert(rows == List((0L, 5L, Seq("a", "b"))),
        s"expected only [0,5)->[a,b] emitted, got $rows")
    } finally q.stop()
  }

  test("late event dropped + counted; open window never flushes (ADR-0006/0007)") {
    implicit val sql = spark.sqlContext
    val input = MemoryStream[(Timestamp, Double)]
    val out = EventTimeWindows.tumblingAgg(
      input.toDF().toDF("ts", "v"), "ts", "v", "5 seconds")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("etw2").start()
    try {
      input.addData((ts(1), 1.0))
      q.processAllAvailable()
      input.addData((ts(8), 4.0)) // watermark -> 8
      q.processAllAvailable()
      input.addData((ts(4), 9.0)) // 4 < 8 => dropped (test :294-310)
      q.processAllAvailable()
      val emitted = spark.table("etw2")
        .selectExpr("unix_timestamp(w_start)", "n").as[(Long, Long)]
        .collect().toList
      assert(emitted == List((0L, 1L)), s"late row must not reopen [0,5): $emitted")
      val dropped = q.recentProgress
        .flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
      assert(dropped == 1L, s"expected 1 late drop, got $dropped")
      // [5,10) stays open at end-of-stream: never emitted (ADR-0006)
      assert(!emitted.exists(_._1 == 5L))
    } finally q.stop()
  }

  test("metrics listener surfaces late drops under the reference name") {
    implicit val sql = spark.sqlContext
    val metrics = GraftMetrics.install(spark)
    val input = MemoryStream[(Timestamp, Double)]
    val out = EventTimeWindows.tumblingAgg(
      input.toDF().toDF("ts", "v"), "ts", "v", "5 seconds")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("etw3").start()
    try {
      input.addData((ts(1), 1.0)); q.processAllAvailable()
      input.addData((ts(9), 2.0)); q.processAllAvailable()
      input.addData((ts(2), 3.0)); q.processAllAvailable()
      // listener events are async — wait bounded for delivery
      val deadline = System.nanoTime() + 10e9.toLong
      while (metrics.lateDroppedFor("etw3") < 1 && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(metrics.lateDroppedFor("etw3") == 1L)
      assert(metrics.snapshot().lateEventDroppedTotal >= 1L)
    } finally { q.stop(); spark.streams.removeListener(metrics) }
  }

  test("streaming count windows: per-key buffer across batches (SURVEY §2.3)") {
    implicit val sql = spark.sqlContext
    val input = MemoryStream[(String, Int)]
    val out = CountWindows.perKey[String, (String, Int)](
      input.toDS(), 3, _._1)
    val q = out.toDF("key", "win").writeStream.outputMode("append")
      .format("memory").queryName("cw1").start()
    try {
      input.addData(("a", 1), ("a", 2), ("b", 10))
      q.processAllAvailable()
      assert(spark.table("cw1").count() == 0, "no full window yet")
      input.addData(("a", 3), ("b", 20), ("b", 30))
      q.processAllAvailable()
      val rows = spark.table("cw1").as[(String, Seq[(String, Int)])]
        .collect().toMap
      assert(rows("a").map(_._2) == Seq(1, 2, 3))
      assert(rows("b").map(_._2) == Seq(10, 20, 30))
    } finally q.stop()
  }

  test("batch count windows include final partial window per key") {
    val ds = spark.createDataset(Seq(("k", 1), ("k", 2), ("k", 3), ("k", 4)))
    val out = CountWindows.perKeyBatch[String, (String, Int)](ds, 3, _._1)
      .collect().toList.map { case (k, w) => (k, w.map(_._2)) }
    assert(out.toSet == Set(("k", Seq(1, 2, 3)), ("k", Seq(4))))
  }

  test("non-zero watermark delay admits events within allowed lateness") {
    implicit val sql = spark.sqlContext
    val input = MemoryStream[(Timestamp, Double)]
    val out = EventTimeWindows.tumblingAgg(
      input.toDF().toDF("ts", "v"), "ts", "v", "5 seconds", delay = "5 seconds")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("etw4").start()
    try {
      input.addData((ts(1), 1.0)); q.processAllAvailable()
      input.addData((ts(10), 2.0)); q.processAllAvailable() // watermark -> 5
      input.addData((ts(6), 3.0))  // 6 >= 5: accepted into [5,10)
      q.processAllAvailable()
      input.addData((ts(4), 9.0))  // 4 < 5: dropped
      input.addData((ts(20), 4.0)) // watermark -> 15: closes [0,5) and [5,10)
      q.processAllAvailable()
      val emitted = spark.table("etw4")
        .selectExpr("unix_timestamp(w_start)", "n", "sum_value")
        .as[(Long, Long, Double)].collect().toList.sortBy(_._1)
      assert(emitted == List((0L, 1L, 1.0), (5L, 1L, 3.0), (10L, 1L, 2.0)),
        s"late-but-within-delay event must join [5,10): $emitted")
      val dropped = q.recentProgress
        .flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
      assert(dropped == 1L, s"only the ts=4 event drops, got $dropped")
    } finally q.stop()
  }

  test("streaming session_window merges within gap, closes via watermark") {
    implicit val sql = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long)]
    val sessions = input.toDF().toDF("ts", "user")
      .withWatermark("ts", "0 seconds")
      .groupBy(session_window(col("ts"), "10 seconds").as("w"), col("user"))
      .agg(count(lit(1)).as("n"))
      .selectExpr("user", "unix_timestamp(w.start) AS s",
        "unix_timestamp(w.end) AS e", "n")
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("sess").start()
    try {
      input.addData((ts(1), 7L), (ts(5), 7L), (ts(30), 7L))
      q.processAllAvailable() // watermark -> 30: session [1,15) closed
      val rows = spark.table("sess").as[(Long, Long, Long, Long)]
        .collect().toList
      assert(rows == List((7L, 1L, 15L, 2L)),
        s"merged session [1, 5+10) with 2 events, got $rows")
      // the session opened at 30 stays open (end 40 > watermark 30)
    } finally q.stop()
  }

  test("mapGroupsWithState running max carries state across batches") {
    implicit val sql = spark.sqlContext
    val input = MemoryStream[(String, Double)]
    val out = graft.streaming.StatefulOps.runningMax(input.toDS())
    val q = out.toDF("key", "max").writeStream.outputMode("update")
      .format("memory").queryName("rmax").start()
    try {
      input.addData(("a", 3.0), ("a", 7.0), ("b", 1.0))
      q.processAllAvailable()
      input.addData(("a", 5.0), ("b", 9.0)) // a stays 7, b rises to 9
      q.processAllAvailable()
      val last = spark.table("rmax").as[(String, Double)].collect()
        .groupBy(_._1).map { case (k, vs) => k -> vs.last._2 }
      assert(last == Map("a" -> 7.0, "b" -> 9.0))
    } finally q.stop()
  }

  test("managed foreach sink: open/process/close with close-once (ADR-0005)") {
    implicit val sql = spark.sqlContext
    SinkProbe.reset()
    val input = MemoryStream[Int]
    val q = input.toDS().writeStream
      .foreach(new ManagedForeachSink[Int, SinkProbe.Ok](
        () => new SinkProbe.Ok, (r, i) => r.write(i)))
      .start()
    try {
      input.addData(1, 2, 3)
      q.processAllAvailable()
      assert(SinkProbe.processedCount.get() == 3)
      assert(SinkProbe.closed.get())
    } finally q.stop()
  }
  test("s31: staged ts-ordered streaming CUSUM equals the batch closed form") {
    // the order-sensitive member of the monitor family: the streaming
    // replay (3 contiguous ts-range arrival slices, one long of state
    // per key) must reproduce n107's prefix-sum/prefix-min closed form
    // row for row, including the NULL first-alarm types at this SF
    val dir = "/root/testdata/sf0.001"
    val got = queries.Registry
      .queries("s31_stream_cusum_monitor")(spark, dir)
      .collect().map(_.toSeq).toList
    val want = graft.operators.Drift
      .cusumDrift(Tables(spark, dir).events, "event_type", "ts", "value",
        reference = 55.0, threshold = 500.0)
      .orderBy("event_type")
      .collect().map(_.toSeq).toList
    assert(got == want)
    assert(want.exists(_(3) == null),
      "fixture check: at least one quiet type must exercise the NULL path")
  }

  test("s32: streaming gate-panel kappa equals the n109 batch output") {
    // order-insensitive member: every carried aggregate is an exact
    // integer sum, so the update-mode running state must land on the
    // batch closed form bit-for-bit, kappa included
    val dir = "/root/testdata/sf0.001"
    val got = queries.Registry
      .queries("s32_stream_gate_panel")(spark, dir)
      .collect().map(_.toSeq).toList
    val want = graft.operators.TextAnalysis
      .gateFleiss(Tables(spark, dir).documents)
      .orderBy("source")
      .collect().map(_.toSeq).toList
    assert(got == want)
    assert(want.nonEmpty && want.forall(_(7) != null),
      "fixture check: every source has mixed votes, kappa defined")
  }

  test("s33: streaming binned KS equals the n111 batch output") {
    val dir = "/root/testdata/sf0.001"
    val got = queries.Registry
      .queries("s33_stream_ks_monitor")(spark, dir)
      .collect().map(_.toSeq).toList
    val want = graft.operators.Drift
      .ksDrift(Tables(spark, dir).events, "event_type", "value",
        col("event_id") % 2 === 0)
      .orderBy("event_type")
      .collect().map(_.toSeq).toList
    assert(got == want)
    assert(want.nonEmpty && want.forall(_(4) != null),
      "fixture check: both slices populated for every type")
  }

  test("staged arrival slices fire one micro-batch per slice, empty slices included") {
    // batch cadence is a semantic: per-batch side effects (s22 writes
    // one snapshot version per batch) must see every slice, so an
    // empty slice still fires a zero-row batch
    val df = spark.range(0, 10).toDF("id")
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val record = (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
        id: Long) => { seen.add((id, batch.count())); () }
    // slice 1 gets no rows
    queries.StreamingQueries.runStaged("graft_slices_", df,
        when(col("id") < 5, lit(0)).otherwise(lit(2)), 3)(
      (_, in) => in.writeStream.foreachBatch(record)) { (base, _) =>
      val e = intercept[IllegalArgumentException](
        queries.StreamingQueries.feedSlice(new java.io.File(base, "stage"),
          new java.io.File(base, "in"), 3))
      assert(e.getMessage.contains("k=3"))
    }
    import scala.jdk.CollectionConverters._
    assert(seen.asScala.toList == List((0L, 5L), (1L, 0L), (2L, 5L)))
  }

  test("runStaged: a throwing run removes its scratch tree and restores shuffle partitions") {
    val key = "spark.sql.shuffle.partitions"
    val provider = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.get(key)
    assert(!spark.conf.getAll.contains(provider), "the suite session sets no provider")
    spark.conf.set(key, "12")
    try {
      var base: java.io.File = null
      var during: (String, String) = null
      val e = intercept[IllegalStateException] {
        queries.StreamingQueries.withRocksDb(spark) {
          queries.StreamingQueries.runStaged("graft_staged_spec_",
              spark.range(0, 10).toDF("id"), col("id") % 2, 2)(
            (_, in) => in.writeStream.foreachBatch(
              (_: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                _: Long) => ())) { (b, _) =>
            base = b
            during = (spark.conf.get(key), spark.conf.get(provider))
            assert(new java.io.File(b, "stage/k=1").isDirectory)
            throw new IllegalStateException("boom")
          }
        }
      }
      assert(e.getMessage == "boom")
      assert(during._1 == "8", "state partitions: min(8, session value)")
      assert(during._2.endsWith("RocksDBStateStoreProvider"))
      assert(base != null && !base.exists(), s"$base survived the failure")
      assert(spark.conf.get(key) == "12")
      assert(!spark.conf.getAll.contains(provider), "the provider was left set")
    } finally spark.conf.set(key, prior)
  }
}
