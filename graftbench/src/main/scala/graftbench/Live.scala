package graftbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import org.apache.spark.sql.types._

import graft.streaming.EventTimeWindows

/** The `live` workload: an open-loop generator writes events-shaped CSV
  * files at a fixed rate into a watched directory, and one long-running
  * query built from `EventTimeWindows.slidingAgg` (keyed sliding
  * windows, watermark delay, late-drop) ends in a foreachBatch sink.
  *
  * The generator uses no Spark and never waits for the engine. Event
  * time is due time (epoch ms), except for a fixed share of out-of-order
  * events (up to `OooMs` early, inside the watermark delay) and a fixed
  * share of far-late events (an hour behind the stream, always dropped).
  * Keys are Zipf-skewed. The generator's event log, the sink's rows and
  * the streaming progress go to the result file; run.py checks the rows
  * against a reference computed from the log and derives the latencies.
  *
  * After the live phase a second query drains a fixed pre-generated
  * backlog under a per-batch file cap: that is the closed-loop capacity.
  * Its rows and the backlog go to the result file too, and are checked
  * the same way.
  */
object Live {
  val Rate = 2000            // events per second
  val FileMs = 50            // one file per 50 ms of due time
  val Keys = 64
  val Zipf = 1.1
  val WindowMs = 500
  val SlideMs = 100          // ten closing moments per second
  val DelayMs = 500
  val OooMs = 400            // < DelayMs: out-of-order events are never late
  val OooShare = 0.10
  val LateShare = 0.02
  val LateMs = 3600 * 1000L  // far-late events are this far behind
  val WarmMs = 8000          // live warm-up before the timed window
  val DrainFiles = 60
  val DrainFileEvents = 2000
  val DrainCap = 4           // files per micro-batch while draining

  val schema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType)))
  private val types = Array("click", "error", "purchase", "signup", "view")
  private val fmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss.SSS").withZone(java.time.ZoneOffset.UTC)

  /** One generated event: due time, event time, key, value and kind
    * (0 in order, 1 out of order, 2 far late). */
  final case class Ev(id: Long, due: Long, et: Long, key: Int, value: Int, kind: Int)

  final class Gen(seed: Long) {
    private val rnd = new java.util.Random(seed)
    private val cdf = {
      val w = (1 to Keys).map(k => 1.0 / math.pow(k, Zipf))
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    }
    private var nextId = 0L
    /** Far-late events are generated only for due times from here on.
      * Spark filters late rows against the previous batch's watermark, so
      * a batch drops rows behind the watermark only from the second batch
      * after the first one with data. Far-late events start late enough
      * to land there, and their drop does not depend on how files fall
      * into batches. */
    @volatile var lateFrom: Long = Long.MinValue
    def next(due: Long): Ev = {
      val u = rnd.nextDouble()
      val kind =
        if (u < LateShare) { if (due >= lateFrom) 2 else 0 }
        else if (u < LateShare + OooShare) 1 else 0
      val et = kind match {
        case 0 => due
        case 1 => due - 1 - rnd.nextInt(OooMs)
        case _ => due - LateMs - rnd.nextInt(60000)
      }
      val r = rnd.nextDouble()
      val key = cdf.indexWhere(_ >= r) max 0
      nextId += 1
      Ev(nextId - 1, due, et, key, 1 + rnd.nextInt(100), kind)
    }
  }

  /** Writes one file atomically: a temp name outside the watched
    * directory, then a rename into it. */
  def writeFile(dir: File, tmp: File, name: String, evs: Seq[Ev]): Unit = {
    val b = new StringBuilder
    evs.foreach { e =>
      b ++= s"${e.id},${fmt.format(java.time.Instant.ofEpochMilli(e.et))}," +
        s"${e.key},${types((e.id % types.length).toInt)},${e.value}.0\n"
    }
    val t = new File(tmp, name)
    Files.write(t.toPath, b.toString.getBytes(StandardCharsets.UTF_8))
    Files.move(t.toPath, new File(dir, name).toPath, StandardCopyOption.ATOMIC_MOVE)
  }

  /** Open-loop generator thread: file f holds the events due in
    * [t0 + f·FileMs, t0 + (f+1)·FileMs) and is written once its last
    * event is due. It never looks at the engine. */
  final class Generator(seed: Long, dir: File, tmp: File, t0: Long) extends Thread {
    setDaemon(true)
    @volatile var stopAt: Long = Long.MaxValue
    val log = new ConcurrentLinkedQueue[Ev]()
    val gen = new Gen(seed)
    gen.lateFrom = Long.MaxValue
    /** (write time, cumulative events written) per file. */
    val writes = new ConcurrentLinkedQueue[(Long, Long)]()
    @volatile var maxLateMs = 0L
    private val perFile = Rate * FileMs / 1000
    override def run(): Unit = {
      var f = 0L
      var total = 0L
      while (t0 + (f + 1) * FileMs <= stopAt) {
        val end = t0 + (f + 1) * FileMs
        val evs = (0 until perFile).map(i => gen.next(t0 + f * FileMs + i * FileMs / perFile))
        val wait = end - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        writeFile(dir, tmp, f"ev-$f%06d.csv", evs)
        val now = System.currentTimeMillis()
        maxLateMs = math.max(maxLateMs, now - end)
        total += evs.size
        evs.foreach(log.add)
        writes.add(now -> total)
        f += 1
      }
    }
  }

  def source(spark: SparkSession, dir: File, cap: Option[Int]): DataFrame = {
    val r = spark.readStream.schema(schema)
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSS")
    cap.fold(r)(c => r.option("maxFilesPerTrigger", c.toLong)).csv(dir.getPath)
  }

  def windows(events: DataFrame): DataFrame =
    EventTimeWindows.slidingAgg(events, "ts", "user_id", "value",
      s"$WindowMs milliseconds", s"$SlideMs milliseconds", s"$DelayMs milliseconds")

  /** foreachBatch body: keeps every emitted window row with the time it
    * reached the sink and the batch id, and sums the time spent here. */
  final class Sink {
    val rows = new ConcurrentLinkedQueue[Seq[Any]]()
    @volatile var ms = 0.0
    def apply(df: DataFrame, id: Long): Unit = {
      val s = System.nanoTime()
      val got = df.collect()
      val now = System.currentTimeMillis()
      got.foreach(r => rows.add(Seq(r.getTimestamp(0).getTime, r.getLong(1),
        r.getLong(2), r.getDouble(3), now, id)))
      ms += (System.nanoTime() - s) / 1e6
    }
  }

  private def mkdirs(f: File): File = { f.mkdirs(); f }

  /** (batch id, start ms, input rows, trigger ms, watermark) per batch. */
  type Progress = (Long, Long, Long, Double, String)

  private def listen(s: SparkSession, into: ConcurrentLinkedQueue[Progress]): Unit =
    s.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        into.add((p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
          p.numInputRows, Option(p.durationMs.get("triggerExecution"))
            .map(_.doubleValue).getOrElse(0.0),
          Option(p.eventTime.get("watermark")).getOrElse("")))
      }
    })

  def run(spark: SparkSession, a: Map[String, String],
      result: mutable.LinkedHashMap[String, Any], sinceJvmStart: () => Double): Unit = {
    val out = new File(a("out"))
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a.get("trace").contains("1")
    val work = mkdirs(new File(out, "live"))
    val inDir = mkdirs(new File(work, "in"))
    val tmp = mkdirs(new File(work, "tmp"))
    val tracer = if (trace) Some(new Tracer(spark)) else None
    tracer.foreach { tr => tr.attach(); tr.enter(0, "live") }
    val progress = new ConcurrentLinkedQueue[Progress]()
    listen(spark, progress)

    val sink = new Sink
    val t0 = (System.currentTimeMillis() / 1000 + 1) * 1000
    val gen = new Generator(seed, inDir, tmp, t0)
    val m0 = Jvm.mark
    gen.start()
    val startCall = System.currentTimeMillis()
    val q: StreamingQuery = windows(source(spark, inDir, None)).writeStream
      .outputMode("append")
      .option("checkpointLocation", new File(work, "ckpt").getPath)
      .foreachBatch((df: DataFrame, id: Long) => sink(df, id))
      .start()
    while (q.lastProgress == null || q.lastProgress.numInputRows == 0) {
      require(q.isActive, s"live query stopped: ${q.exception}")
      Thread.sleep(5)
    }
    result("setup_s") = sinceJvmStart()
    // a file written after the next batch commits is read two batches
    // after the first data batch at the earliest
    val firstData = q.lastProgress.batchId
    while (q.lastProgress.batchId == firstData) {
      require(q.isActive, s"live query stopped: ${q.exception}")
      Thread.sleep(5)
    }
    gen.gen.lateFrom = System.currentTimeMillis()
    val timedFrom = System.currentTimeMillis() + WarmMs
    val timedTo = timedFrom + (seconds * 1000).toLong
    gen.stopAt = timedTo
    gen.join()
    // let the query consume every file and close what it can
    val total = gen.log.size.toLong
    var consumed = 0L
    val waitUntil = System.currentTimeMillis() + 30000
    while (consumed < total && System.currentTimeMillis() < waitUntil) {
      consumed = progress.asScala.map(_._3).sum
      Thread.sleep(20)
    }
    Thread.sleep(500)
    val stopCall = System.currentTimeMillis()
    q.stop()
    val stopped = System.currentTimeMillis()
    tracer.foreach { tr => tr.close(); m0.addSince(tr.counters) }
    org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
    result("live") = Map(
      "t0" -> t0, "timed_from" -> timedFrom, "timed_to" -> timedTo,
      "rate" -> Rate, "window_ms" -> WindowMs, "slide_ms" -> SlideMs,
      "delay_ms" -> DelayMs, "generated" -> total, "consumed" -> consumed,
      "gen_late_ms" -> gen.maxLateMs, "sink_ms" -> sink.ms,
      "query_ms" -> (stopped - startCall), "stop_ms" -> (stopped - stopCall),
      "start_ms" -> (progress.asScala.map(_._2).min - startCall),
      "events" -> gen.log.asScala.map(e => Seq(e.id, e.due, e.et, e.key, e.value, e.kind)),
      "writes" -> gen.writes.asScala.map(w => Seq(w._1, w._2)),
      "rows" -> sink.rows.asScala,
      "progress" -> progress.asScala.map(p => Seq(p._1, p._2, p._3, p._4, p._5)))

    // closed-loop capacity: drain a fixed backlog under a file cap. The
    // files' modification times rise a second apart, so batch k reads
    // exactly files k*DrainCap until (k+1)*DrainCap. Far-late events start
    // at batch 2's files: batches 0 and 1 filter late rows against no
    // watermark, so they would keep them.
    val drainDir = mkdirs(new File(work, "backlog"))
    val g = new Gen(seed ^ 0x5eedL)
    val base = 1700000000000L
    g.lateFrom = base + 2 * DrainCap * 1000L
    val mtime0 = System.currentTimeMillis() - (DrainFiles + 1) * 1000L
    val backlog = (0 until DrainFiles).flatMap { f =>
      val evs = (0 until DrainFileEvents).map(i =>
        g.next(base + f * 1000L + i * 1000L / DrainFileEvents))
      val name = f"bl-$f%04d.csv"
      writeFile(drainDir, tmp, name, evs)
      new File(drainDir, name).setLastModified(mtime0 + f * 1000L)
      evs
    }
    result("backlog") = backlog.map(e => Seq(e.id, e.due, e.et, e.key, e.value, e.kind))
    /** One drain of the backlog: events consumed, wall time from the first
      * data batch's start to the last one's end, the final watermark and
      * every window row, which run.py checks against the backlog. */
    def drain(s: SparkSession, tag: String): Map[String, Any] = {
      val before = progress.size
      val ds = new Sink
      val dq = windows(source(s, drainDir, Some(DrainCap))).writeStream
        .outputMode("append")
        .option("checkpointLocation", new File(work, s"drain-ckpt-$tag").getPath)
        .foreachBatch((df: DataFrame, id: Long) => ds(df, id))
        .start()
      dq.processAllAvailable()
      dq.stop()
      org.apache.spark.graftbench.Bus.drain(s.sparkContext)
      val all = progress.asScala.drop(before).toSeq
      val ps = all.filter(_._3 > 0)
      val first = ps.map(_._2).min
      val last = ps.map(p => p._2 + p._4).max
      Map("events" -> ps.map(_._3).sum, "wall_ms" -> (last - first),
        "batches" -> ps.size, "watermark" -> all.last._5, "rows" -> ds.rows.asScala)
    }
    if (!trace) {
      result("drain") = drain(spark, "a")
      return
    }
    // traced run: the live phase above ran with listeners on; the drain
    // runs without, with and again without them (so warm-up drift cancels
    // out of the overhead), then on one core
    tracer.foreach { tr =>
      tr.detach()
      val plain1 = drain(spark, "plain1")
      tr.attach()
      tr.enter(1, "drain")
      val m1 = Jvm.mark
      result("drain") = drain(spark, "traced")
      tr.close()
      tr.detach()
      m1.addSince(tr.counters)
      result("plain_drain") = Seq(plain1, drain(spark, "plain2"))
      tr.counters.max("jvm.heap_peak_mb", Jvm.heapAfterGcMb)
      result("counters") = tr.counters.c
      result("spans") = tr.spans
    }
    val one = Harness.oneCore(spark)
    listen(one, progress)
    result("one_core_drain") = drain(one, "one")
  }
}
