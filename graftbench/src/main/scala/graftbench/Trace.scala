package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are epoch milliseconds (Spark's listener
  * APIs report those), ids are unique per run; `parent` is -1 at a root.
  */
final case class Span(id: Long, parent: Long, name: String, start: Double,
    end: Double, pass: Int, query: String)

/** Layer counters, summed over whatever ran while they were attached.
  * Listener threads and the harness thread both write them. */
final class Counters {
  val c: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  def add(k: String, v: Double): Unit = synchronized { c(k) = c.getOrElse(k, 0.0) + v }
  def max(k: String, v: Double): Unit = synchronized { c(k) = math.max(c.getOrElse(k, 0.0), v) }
}

/** Reads graft's layers from outside, through Spark's public listener,
  * metrics and streaming-progress APIs. `attach` registers the
  * listeners; everything is kept in memory and written when the run
  * ends. The harness marks the current query and pass with `enter` so
  * every event lands under the query execution that caused it.
  */
final class Tracer(spark: SparkSession) {
  val counters = new Counters
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  @volatile private var pass = -1
  @volatile private var query = ""
  @volatile private var root = -1L
  private var nextId = 0L

  def newSpan(parent: Long, name: String, start: Double, end: Double): Long =
    synchronized {
      nextId += 1
      spans += Span(nextId, parent, name, start, end, pass, query)
      nextId
    }

  /** Opens a query-execution span; the caller closes it with `close`. */
  def enter(p: Int, q: String): Unit = synchronized {
    pass = p; query = q
    root = newSpan(-1, "query", System.currentTimeMillis().toDouble, -1)
  }
  def close(): Unit = synchronized {
    val i = spans.lastIndexWhere(_.id == root)
    if (i >= 0) spans(i) = spans(i).copy(end = System.currentTimeMillis().toDouble)
  }
  def current: Long = root

  private val jobStart = mutable.HashMap.empty[Int, (Double, Long)]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      counters.add("sched.jobs", 1)
      jobStart(e.jobId) = (e.time.toDouble, root)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(e.jobId).foreach { case (t0, parent) =>
        newSpan(parent, "job", t0, e.time.toDouble)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      counters.add("sched.stages", 1)
      val si = e.stageInfo
      for (s <- si.submissionTime; f <- si.completionTime)
        newSpan(root, "stage", s.toDouble, f.toDouble)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      counters.add("sched.tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        counters.add("sched.task_run_ms", m.executorRunTime.toDouble)
        counters.add("sched.task_cpu_ms", m.executorCpuTime / 1e6)
        counters.add("scan.bytes", m.inputMetrics.bytesRead.toDouble)
        counters.add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        counters.add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        counters.add("spill.bytes", (m.diskBytesSpilled + m.memoryBytesSpilled).toDouble)
      }
    }
  }

  private def planCounts(plan: SparkPlan): Unit = {
    object H extends AdaptiveSparkPlanHelper
    val nodes = H.collectWithSubqueries(plan) { case p => p }
    counters.add("plan.exchanges", nodes.count {
      case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
      case _ => false
    }.toDouble)
    counters.add("plan.joins", nodes.count(_.isInstanceOf[BaseJoinExec]).toDouble)
    counters.add("plan.wscg_stages",
      nodes.count(_.isInstanceOf[WholeStageCodegenExec]).toDouble)
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = synchronized {
      val phases = qe.tracker.phases
      Seq("analysis" -> "plan.analysis_ms", "optimization" -> "plan.optimizer_ms",
        "planning" -> "plan.physical_ms").foreach { case (phase, key) =>
        phases.get(phase).foreach { p =>
          counters.add(key, (p.endTimeMs - p.startTimeMs).toDouble)
          newSpan(root, key.stripSuffix("_ms"), p.startTimeMs.toDouble,
            p.endTimeMs.toDouble)
        }
      }
      try planCounts(qe.executedPlan) catch { case _: Throwable => () }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      synchronized {
        val p = e.progress
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }
        counters.add("stream.batches", 1)
        if (p.numInputRows == 0) counters.add("stream.nodata_batches", 1)
        counters.add("stream.trigger_ms", d.getOrElse("triggerExecution", 0.0))
        counters.add("stream.offset_ms", d.getOrElse("latestOffset", 0.0) +
          d.getOrElse("getBatch", 0.0))
        counters.add("stream.planning_ms", d.getOrElse("queryPlanning", 0.0))
        counters.add("stream.addbatch_ms", d.getOrElse("addBatch", 0.0))
        counters.add("stream.wal_ms", d.getOrElse("walCommit", 0.0))
        counters.add("stream.commit_ms", d.getOrElse("commitOffsets", 0.0))
        p.stateOperators.foreach { s =>
          counters.max("state.rows", s.numRowsTotal.toDouble)
          counters.max("state.memory_bytes", s.memoryUsedBytes.toDouble)
          counters.add("state.commit_ms", s.commitTimeMs.toDouble)
          counters.add("state.late_dropped", s.numRowsDroppedByWatermark.toDouble)
        }
        val end = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        newSpan(root, "micro_batch", end, end + d.getOrElse("triggerExecution", 0.0))
      }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  def drain(): Unit = org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
}

/** Process-wide readings that need no listener: Janino codegen (Spark's
  * `CodegenMetrics`) and the JVM's collectors.
  */
object Jvm {
  import org.apache.spark.metrics.source.CodegenMetrics
  def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  /** Janino compile time so far. The metric is a sampled histogram of
    * per-compile times, so count × mean is an estimate. */
  def compileMs: Double =
    CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean * compiles
  def gcMs: Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  /** Heap in use right after the latest collection, summed over pools. */
  def heapAfterGcMb: Double = java.lang.management.ManagementFactory
    .getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
  /** Milliseconds since this JVM started. */
  def uptimeMs: Double =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime.toDouble
  /** The process-wide totals now, to take differences against. */
  def mark: JvmMark = JvmMark(compiles, compileMs, gcMs)
}

/** Codegen and GC totals at one boundary. `addSince` adds what happened
  * after it, so those counters cover only the traced stretch and not the
  * session build or the warm-up before it. */
final case class JvmMark(compiles: Long, compileMs: Double, gcMs: Long) {
  def addSince(c: Counters): Unit = {
    c.add("codegen.compiles", (Jvm.compiles - compiles).toDouble)
    c.add("codegen.compile_ms", Jvm.compileMs - compileMs)
    c.add("jvm.gc_ms", (Jvm.gcMs - gcMs).toDouble)
  }
}
