package graft

import graft.streaming.PunctuatedWatermarks
import graft.streaming.PunctuatedWatermarks.{Timed, Win}
import org.scalatest.funsuite.AnyFunSuite

/** In-band watermark punctuation semantics, pinned to the reference's
  * own golden tests (values carried as doubles; window boundaries,
  * membership, stamps, and metric counts are the pinned semantics —
  * they are value-agnostic in the reference too).
  */
class PunctuatedWatermarkSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("golden: watermarks are emitted and event-time windows close " +
      "(reference SimpleStreamProcessorTest.scala:277-292)") {
    // Timestamped(a,1),(b,3),(c,7),(d,8), emitEveryN=2, size=5 →
    // exactly EventTimeWindow(0, 5, [a, b], watermark=8); the [5,10)
    // window holding c,d stays open (watermark 8 < end 10) and never
    // flushes at end-of-stream
    val ev = Seq((0L, 10.0, 1L, 1L), (0L, 30.0, 3L, 2L),
      (0L, 70.0, 7L, 3L), (0L, 80.0, 8L, 4L))
      .toDF("key", "value", "ts", "event_id")
    val wins = PunctuatedWatermarks.windowsPerKey(
      PunctuatedWatermarks.punctuateByKey(ev, 2, "event_id"), 5L)
      .collect().toList
    assert(wins == List(Win(0L, 0L, 5L, Seq(10.0, 30.0), 8L)))
  }

  test("golden: late records dropped, regressing watermarks ignored " +
      "(reference SimpleStreamProcessorTest.scala:294-310)") {
    // in-band: Record(a@1), Watermark(8), Record(late@4), Watermark(7)
    val timed = Seq(
      Timed(0L, 0L, isWatermark = false, 10.0, 1L),
      Timed(0L, 1L, isWatermark = true, 0.0, 8L),
      Timed(0L, 2L, isWatermark = false, 40.0, 4L),
      Timed(0L, 3L, isWatermark = true, 0.0, 7L)).toDS()
    val late =
      spark.sparkContext.longAccumulator("ssp_late_event_dropped_total")
    val regress =
      spark.sparkContext.longAccumulator("ssp_watermark_regression_total")
    val wins = PunctuatedWatermarks
      .windowsPerKey(timed, 5L, Some(late), Some(regress))
      .collect().toList
    assert(wins == List(Win(0L, 0L, 5L, Seq(10.0), 8L)))
    assert(late.value == 1L)
    assert(regress.value == 1L)
  }

  test("keys are independent streams; open windows never flush") {
    // key 1 mirrors golden 1; key 2 sees only its tail punctuation at
    // its own max ts (2), which closes nothing → no key-2 window
    val ev = Seq(
      (1L, 10.0, 1L, 1L), (1L, 30.0, 3L, 2L),
      (1L, 70.0, 7L, 3L), (1L, 80.0, 8L, 4L),
      (2L, 99.0, 2L, 5L))
      .toDF("key", "value", "ts", "event_id")
    val wins = PunctuatedWatermarks.windowsPerKey(
      PunctuatedWatermarks.punctuateByKey(ev, 2, "event_id"), 5L)
      .collect().toList
    assert(wins == List(Win(1L, 0L, 5L, Seq(10.0, 30.0), 8L)))
  }

  test("punctuateByKey emits every-N and tail punctuation at the running max") {
    val ev = Seq.tabulate(5)(i => (0L, i.toDouble, (i + 1).toLong, i.toLong))
      .toDF("key", "value", "ts", "event_id")
    val wms = PunctuatedWatermarks.punctuateByKey(ev, 2, "event_id")
      .collect().sortBy(_.seq).filter(_.isWatermark).map(t => (t.seq, t.ts))
      .toList
    // after rn 2 (seq 5, wm 2), rn 4 (seq 9, wm 4), tail rn 5 (seq 11, wm 5)
    assert(wms == List((5L, 2L), (9L, 4L), (11L, 5L)))
  }

  test("co-location trap: union co-partitioning cannot split a key's stream") {
    // Regression trap for the Catalyst elision bug windowsPerKey's
    // secondary sort exists to defeat: punctuateByKey's two union
    // branches are each hash-partitioned by key, Spark propagates that
    // claim through the union, and a LOGICAL repartition(key) above it
    // gets elided — but a union CONCATENATES child partitions, so every
    // watermark would land away from its records and zero windows
    // emerge. AQE's partition coalescing masked this on small inputs
    // (the driver's sf0.01 gate passed; sf0.1 caught it), so this spec
    // pins the contract with AQE off, where the old shape reproducibly
    // emitted nothing.
    GraftSession.withConf(spark, "spark.sql.adaptive.enabled" -> "false") {
      val nKeys = 500
      val rows = for (k <- 0 until nKeys; i <- 0 until 7)
        yield (k.toLong, (k * 100 + i).toDouble, i.toLong * 3 + 1,
          (k * 7 + i).toLong)
      val ev = rows.toDF("key", "value", "ts", "event_id")
      val wins = PunctuatedWatermarks.windowsPerKey(
        PunctuatedWatermarks.punctuateByKey(ev, 3, "event_id"), 5L)
        .collect()
      // per key: ts 1,4,7,10,13,16,19; punctuation after records 3 (wm 7),
      // 6 (wm 16), tail (wm 19) → [0,5) closes at 7, [5,10) and [10,15)
      // at 16, [15,20) never (20 > 19) — 3 windows per key
      assert(wins.length == 3 * nKeys,
        s"got ${wins.length} windows, expected ${3 * nKeys}")
      val k = 123L
      val one = wins.filter(_.key == k).sortBy(_.startMs).toList
      assert(one == List(
        Win(k, 0L, 5L, Seq(12300.0, 12301.0), 7L),
        Win(k, 5L, 10L, Seq(12302.0), 16L),
        Win(k, 10L, 15L, Seq(12303.0, 12304.0), 16L)))
    }
  }

  test("one watermark emits every closed window in ascending start order") {
    val timed = Seq(
      Timed(0L, 0L, isWatermark = false, 1.0, 12L), // lands in [10,15)
      Timed(0L, 1L, isWatermark = false, 2.0, 3L),  // [0,5) — pre-watermark, accepted
      Timed(0L, 2L, isWatermark = false, 3.0, 7L),  // [5,10)
      Timed(0L, 3L, isWatermark = true, 0.0, 20L)).toDS()
    val wins = PunctuatedWatermarks.windowsPerKey(timed, 5L).collect().toList
    assert(wins == List(
      Win(0L, 0L, 5L, Seq(2.0), 20L),
      Win(0L, 5L, 10L, Seq(3.0), 20L),
      Win(0L, 10L, 15L, Seq(1.0), 20L)))
  }
}
