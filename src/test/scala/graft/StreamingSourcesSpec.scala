package graft

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Sources/sinks + flow-control semantics (SURVEY §2.2 / §2.3
  * asyncBoundary row): the file streaming source with
  * `maxFilesPerTrigger` is the engine's backpressure boundary — bounded
  * work per micro-batch replaces the reference's bounded queue
  * (ADR-0004's invariant "queue depth ≤ capacity" becomes "files per
  * trigger ≤ cap").
  */
class StreamingSourcesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("file streaming source with maxFilesPerTrigger caps per-batch work") {
    val dir = Files.createTempDirectory("graft-stream-src").toFile
    val out = Files.createTempDirectory("graft-stream-chk").toFile
    // three separate files => three capped micro-batches
    (0 until 3).foreach { i =>
      Seq((i.toLong, s"file$i", i * 1.5)).toDF("id", "tag", "v")
        .coalesce(1).write.mode("append").parquet(dir.getAbsolutePath)
    }
    val stream = spark.readStream
      .schema("id LONG, tag STRING, v DOUBLE")
      .option("maxFilesPerTrigger", "1")
      .parquet(dir.getAbsolutePath)
    val q = stream.writeStream
      .format("memory").queryName("file_src")
      .option("checkpointLocation", out.getAbsolutePath)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    assert(spark.table("file_src").count() == 3)
    val batches = q.recentProgress.filter(_.numInputRows > 0)
    assert(batches.length == 3,
      s"expected 3 rate-limited batches, got ${batches.length}")
    assert(batches.forall(_.numInputRows == 1), "each batch capped at 1 file")
  }

  test("stream-stream windowed join with watermarks (SURVEY §2.6 joins row)") {
    implicit val sql = spark.sqlContext
    def ts(sec: Long) = new Timestamp(sec * 1000L)
    val clicks = MemoryStream[(Timestamp, Long)]
    val views = MemoryStream[(Timestamp, Long)]
    val c = clicks.toDF().toDF("c_ts", "c_user").withWatermark("c_ts", "0 seconds")
    val v = views.toDF().toDF("v_ts", "v_user").withWatermark("v_ts", "0 seconds")
    val joined = c.join(v,
      col("c_user") === col("v_user") &&
        col("v_ts") >= col("c_ts") - expr("INTERVAL 10 SECONDS") &&
        col("v_ts") <= col("c_ts"))
    val q = joined.writeStream.format("memory").queryName("ssj").start()
    try {
      views.addData((ts(1), 7L), (ts(20), 7L), (ts(1), 8L))
      clicks.addData((ts(5), 7L))   // matches view@1 (within 10s)
      q.processAllAvailable()
      clicks.addData((ts(25), 7L))  // matches view@20, not view@1
      q.processAllAvailable()
      val rows = spark.table("ssj")
        .selectExpr("unix_timestamp(c_ts)", "c_user", "unix_timestamp(v_ts)")
        .as[(Long, Long, Long)].collect().toSet
      assert(rows == Set((5L, 7L, 1L), (25L, 7L, 20L)))
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark dedups across batches (SURVEY §2.7)") {
    implicit val sql = spark.sqlContext
    def ts(sec: Long) = new Timestamp(sec * 1000L)
    val input = MemoryStream[(Timestamp, Long)]
    val deduped = input.toDF().toDF("ts", "id")
      .withWatermark("ts", "10 seconds")
      .dropDuplicatesWithinWatermark("id")
    val q = deduped.writeStream.format("memory").queryName("ddww").start()
    try {
      input.addData((ts(1), 100L), (ts(2), 100L)) // dup within batch
      q.processAllAvailable()
      input.addData((ts(3), 100L), (ts(4), 200L)) // dup across batches
      q.processAllAvailable()
      val ids = spark.table("ddww").select("id").as[Long].collect().toList
      assert(ids.sorted == List(100L, 200L), s"got $ids")
    } finally q.stop()
  }

  test("bounded-state curation == exact dedup inside the watermark horizon " +
      "(s16 production variant)") {
    // s16's watermark-free dropDuplicates keeps one state entry per
    // distinct (source, fp) forever — deliberate for the finite-replay
    // oracle (exact identity over all time), unbounded for continuous
    // ingestion. The production bound demonstrated here: stamp an
    // ingestion time, watermark it, and dropDuplicatesWithinWatermark
    // on the same (source, fp) key — state evicts past the horizon, and
    // while re-ingestion stays inside the horizon the surviving key set
    // equals the exact batch distinct. The replay stamps a
    // deterministic doc_id-derived ingestion ts (all inside one
    // horizon) and splits the corpus across two micro-batches so the
    // cross-batch dedup path is the one exercised.
    implicit val sql = spark.sqlContext
    val docs = Tables(spark, "/root/testdata/sf0.001").documents
      .select("doc_id", "source", "text")
      .as[(Long, String, String)].collect()
    val input = MemoryStream[(Long, String, String)]
    val (first, second) = docs.partition(_._1 % 2 == 0)
    val gated = input.toDF().toDF("doc_id", "source", "text")
      .withColumn("ts", (col("doc_id") + lit(1600000000L)).cast("timestamp"))
      .withColumn("fp",
        graft.functions.TextFunctions.fingerprint(col("text")))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("source", "fp")
    val q = gated.writeStream.format("memory").queryName("bounded_curation")
      .start()
    try {
      input.addData(first.toSeq); q.processAllAvailable()
      input.addData(second.toSeq); q.processAllAvailable()
      val streamed = spark.table("bounded_curation")
        .groupBy("source").count()
        .as[(String, Long)].collect().toMap
      val exact = Tables(spark, "/root/testdata/sf0.001").documents
        .withColumn("fp",
          graft.functions.TextFunctions.fingerprint(col("text")))
        .select("source", "fp").distinct()
        .groupBy("source").count()
        .as[(String, Long)].collect().toMap
      assert(streamed == exact,
        s"bounded dedup diverged from exact distinct: $streamed vs $exact")
    } finally q.stop()
  }

  test("checkpoint recovery: restart resumes from offsets, exactly-once output") {
    val src = Files.createTempDirectory("graft-ckpt-src").toFile.getAbsolutePath
    val chk = Files.createTempDirectory("graft-ckpt-chk").toFile.getAbsolutePath
    val sink = Files.createTempDirectory("graft-ckpt-out").toFile.getAbsolutePath
    (0 until 3).foreach { i =>
      Seq((i.toLong, s"row$i")).toDF("id", "tag")
        .coalesce(1).write.mode("append").parquet(src)
    }
    def drain(): Unit = {
      val q = spark.readStream
        .schema("id LONG, tag STRING")
        .parquet(src)
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", chk)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
    }
    // run 1 drains the 3 files written so far
    drain()
    val afterFirst = spark.read.parquet(sink).count()
    assert(afterFirst == 3)
    // new files arrive while the query is down; the restarted query must
    // process exactly the unseen files (offsets from the checkpoint)
    (3 until 5).foreach { i =>
      Seq((i.toLong, s"row$i")).toDF("id", "tag")
        .coalesce(1).write.mode("append").parquet(src)
    }
    drain()
    val rows = spark.read.parquet(sink).select("id").as[Long].collect().sorted
    assert(rows.toList == List(0L, 1L, 2L, 3L, 4L),
      s"exactly-once across restart, got ${rows.toList}")
  }

  test("RocksDB changelog checkpointing: incremental state commits across batches") {
    // the production large-state configuration (SURVEY §2.6 streaming
    // row): with changelog checkpointing on, each micro-batch uploads
    // only the state DELTA (a .changelog file) instead of a full
    // snapshot — the difference between O(state) and O(batch) per
    // commit at 100 TB state. Correctness first (running agg across
    // batches), then a non-vacuity check that changelog commits really
    // exist in the checkpoint.
    implicit val sql = spark.sqlContext
    val chk = Files.createTempDirectory("graft-changelog-chk").toFile
    GraftSession.withConf(spark,
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true") {
      val input = MemoryStream[(Long, Double)]
      val agg = input.toDF().toDF("k", "v").groupBy("k")
        .agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
      val q = agg.writeStream.outputMode("complete").format("memory")
        .queryName("changelog_agg")
        .option("checkpointLocation", chk.getAbsolutePath)
        .start()
      try {
        input.addData((1L, 1.0), (2L, 2.0)); q.processAllAvailable()
        input.addData((1L, 3.0)); q.processAllAvailable()
        val out = spark.table("changelog_agg").orderBy("k")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
          .toList
        assert(out == List((1L, 2L, 4.0), (2L, 1L, 2.0)))
      } finally q.stop()
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
        else Seq(f)
      assert(walk(chk).exists(_.getName.endsWith(".changelog")),
        "no .changelog commits found — changelog checkpointing not active")
    }
  }

  test("foreachBatch sink observes every micro-batch exactly once") {
    implicit val sql = spark.sqlContext
    val input = MemoryStream[Int]
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val q = input.toDS().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Int], id: Long) =>
        seen.add((id, batch.count())); ()
      }
      .start()
    try {
      input.addData(1, 2, 3); q.processAllAvailable()
      input.addData(4); q.processAllAvailable()
      val batches = seen.toArray(Array.empty[(Long, Long)]).toList
      assert(batches.map(_._2).sum == 4)
      assert(batches.map(_._1).distinct.size == batches.size, "unique batch ids")
    } finally q.stop()
  }

  test("transformWithState composes MapState + ListState across batches") {
    // the rest of the Spark 4 state-API surface beyond s13's ValueState:
    // multiple named state variables of different shapes on one
    // processor, persisted across micro-batches on the RocksDB store
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{ListState, MapState, OutputMode,
      StatefulProcessor, TTLConfig, TimeMode, TimerValues}
    class CatStats
        extends StatefulProcessor[Long, (Long, String), (Long, Long, Long)] {
      @transient private var counts: MapState[String, Long] = _
      @transient private var seen: ListState[String] = _
      override def init(om: OutputMode, tm: TimeMode): Unit = {
        counts = getHandle.getMapState[String, Long]("counts",
          Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)
        seen = getHandle.getListState[String]("seen",
          Encoders.STRING, TTLConfig.NONE)
      }
      override def handleInputRows(key: Long, rows: Iterator[(Long, String)],
          tv: TimerValues): Iterator[(Long, Long, Long)] = {
        rows.foreach { case (_, cat) =>
          val c = if (counts.containsKey(cat)) counts.getValue(cat) else 0L
          counts.updateValue(cat, c + 1)
          seen.appendValue(cat)
        }
        Iterator.single((key, counts.keys().size.toLong, seen.get().size.toLong))
      }
    }
    implicit val sql = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    queries.StreamingQueries.withRocksDb(spark) {
      val out = input.toDS()
        .groupByKey(_._1)(Encoders.scalaLong)
        .transformWithState(new CatStats, TimeMode.None(),
          OutputMode.Update())(
          Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
            Encoders.scalaLong))
        .toDF("k", "n_cats", "n_rows")
      val name = "graft_tws_test"
      val q = out.writeStream.outputMode("update")
        .format("memory").queryName(name).start()
      try {
        input.addData((1L, "a"), (1L, "a"), (2L, "b")); q.processAllAvailable()
        input.addData((1L, "b"), (1L, "a")); q.processAllAvailable()
        val byBatch = spark.table(name).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
        // batch 1: key1 saw {a}×2, key2 {b}×1; batch 2: key1 adds b,a
        assert(byBatch.contains((1L, 1L, 2L)) && byBatch.contains((2L, 1L, 1L)),
          s"first-batch state wrong: $byBatch")
        assert(byBatch.contains((1L, 2L, 4L)),
          s"second batch must see accumulated state: $byBatch")
      } finally q.stop()
    }
  }

  test("timer sessions: cross-batch merge, split-emit, tail held open") {
    // multi-batch semantics the s14 file replay (one batch) cannot see:
    // a run merging across batches, an internal split emitting eagerly,
    // a timer closing a quiet user, and an active tail never emitting
    implicit val sql = spark.sqlContext
    val input = MemoryStream[(Long, Long, Double)] // (user, ts-micros, value)
    queries.StreamingQueries.withRocksDb(spark) {
      val gap = 30L * 60 * 1000000 // 30 min in micros
      def mins(m: Long): Long = m * 60 * 1000000
      val ds2 = input.toDF().toDF("user_id", "tsu", "value")
        .selectExpr("user_id", "timestamp_micros(tsu) AS ts", "tsu", "value")
        .withWatermark("ts", "0 seconds")
        .selectExpr("user_id", "tsu", "value")
        .as[(Long, Long, Double)]
      val sessions = graft.streaming.StatefulOps.timerSessions(ds2, gap)
        .toDF("user_id", "session_start", "n", "sum_value")
      val name = "graft_timer_sessions_test"
      val q = sessions.writeStream.outputMode("append")
        .format("memory").queryName(name).start()
      try {
        // batch 1: u1 at 0 and 10 min; u2 and u5 at 0; u4 at 100 min
        // (u4 pushes the watermark to 100 min after this batch)
        input.addData((1L, mins(0), 1.0), (1L, mins(10), 2.0),
          (2L, mins(0), 5.0), (5L, mins(0), 1.5), (4L, mins(100), 8.0))
        q.processAllAvailable()
        // batch 2 (watermark 100 min):
        //  u1 at 20 min: session end 50 <= 100 -> TOO LATE, dropped
        //    (session_window's rule keys on the session END, not ts)
        //  u2 at 80 min: end 110 > 100 -> kept; gap 80 >= 30 splits ->
        //    [0] emits eagerly, tail [80] re-arms at 110
        //  u3 at 85 min: new user; timer lands at 115 = the final
        //    watermark exactly (boundary: closed under the <= rule)
        //  u4 at 85 min: end 115 > 100 -> kept, merges BACKWARD into
        //    [100] (gap 15 < 30) -> tail [85,100], open forever
        //  u5 at 80 and 115 min: the 115 event pushes the watermark to
        //    115 AND proves the split of [80] -> both [0] and the
        //    late-kept [80] emit eagerly; tail [115] stays open
        input.addData((1L, mins(20), 3.0), (2L, mins(80), 6.0),
          (3L, mins(85), 7.0), (4L, mins(85), 9.0),
          (5L, mins(80), 2.5), (5L, mins(115), 3.5))
        q.processAllAvailable()
        val rows = spark.table(name).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
          .toSet
        val expected = Set(
          (1L, 0L, 2L, 3.0),    // timer close; late 20-min row NOT in it
          (2L, 0L, 1L, 5.0),    // eager split-emit
          (2L, 4800L, 1L, 6.0), // late-kept row's own session, timer 110 < 115
          (3L, 5100L, 1L, 7.0), // boundary: timer 115 == final watermark
          (5L, 0L, 1L, 1.5),    // eager split-emit
          (5L, 4800L, 1L, 2.5)) // late-kept row emitted by a later split
        assert(rows == expected,
          s"got ${rows.toList.sorted}\nwant ${expected.toList.sorted}")
      } finally q.stop()
    }
  }

  test("token quota: cross-batch cumulative admission, in-batch id order") {
    implicit val sql = spark.sqlContext
    val input = MemoryStream[(String, Long, Int)]
    val out = graft.streaming.StatefulOps.tokenQuota(input.toDS(), 10L)
      .toDF("doc_id", "source", "n_tokens", "start_off", "kept")
    val name = "graft_quota_test"
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    try {
      // batch 1 arrives out of id order inside source "a"
      input.addData(("a", 2L, 4), ("a", 1L, 3), ("b", 10L, 9))
      q.processAllAvailable()
      // batch 2: offsets continue from the carried per-key state
      input.addData(("a", 3L, 5), ("b", 11L, 2))
      q.processAllAvailable()
      val rows = spark.table(name).orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getLong(3),
          r.getBoolean(4)))
      assert(rows.toList == List(
        (1L, "a", 3, 0L, true), // sorted before id 2 despite arrival order
        (2L, "a", 4, 3L, true),
        (3L, "a", 5, 7L, true), // state carried: starts at 3+4
        (10L, "b", 9, 0L, true),
        (11L, "b", 2, 9L, true))) // 9 < 10: admission is EXCLUSIVE-offset
      // a third batch pushes "b" over budget
      input.addData(("b", 12L, 1))
      q.processAllAvailable()
      val last = spark.table(name).orderBy("doc_id").collect().last
      assert((last.getLong(0), last.getLong(3), last.getBoolean(4)) ==
        ((12L, 11L, false)))
    } finally q.stop()
  }

  test("RocksDB state store: stateful agg across batches, same results") {
    // the production default for large state (HDFS-backed in-memory is
    // the dev default); the engine's stateful queries must run under it
    implicit val sql = spark.sqlContext
    val input = MemoryStream[(Long, Double)]
    queries.StreamingQueries.withRocksDb(spark) {
      val agg = input.toDF().toDF("k", "v")
        .groupBy("k").agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
      val name = "graft_rocksdb_test"
      val q = agg.writeStream.outputMode("complete")
        .format("memory").queryName(name).start()
      try {
        input.addData((1L, 1.0), (2L, 2.0)); q.processAllAvailable()
        input.addData((1L, 3.0)); q.processAllAvailable()
        val rows = spark.table(name).orderBy("k").collect()
          .map(r => (r.getAs[Long]("k"), r.getAs[Long]("n"), r.getAs[Double]("s")))
        assert(rows.toList == List((1L, 2L, 4.0), (2L, 1L, 2.0)))
      } finally q.stop()
    }
  }
}
