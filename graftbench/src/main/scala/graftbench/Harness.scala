package graftbench

import scala.collection.mutable

import com.fasterxml.jackson.core.json.JsonWriteFeature
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.{GraftSession, HostSentinel}
import graft.queries.Registry

/** Batch side of the benchmark: one closed-loop client thread runs a
  * workload's queries through graft's public API (`Registry` / `Q.run`,
  * then the `noop` sink, as `graft.Bench` does).
  *
  *   java ... graftbench.Harness key=value ...
  *     mode=batch|live  data=<table dir>  out=<dir>  seed=<n>
  *     seconds=<timed seconds>  trace=0|1  queries=<q1,q2,...>
  *     passes=<minimum timed passes>
  *
  * A batch run is: session build, one verification pass that writes
  * every query's result as parquet, one more untimed pass (the two are the
  * warm-up: JIT, codegen cache, file listing), then timed passes in a
  * seeded order until `seconds` have gone by. With trace=1 twice the
  * minimum number of passes runs, alternately with listeners off and on,
  * and one more pass runs on a one-core session. Everything is written to
  * `out/result.json`; run.py turns it into metrics.
  */
object Harness {
  final case class Exec(pass: Int, query: String, build_ms: Double,
      exec_ms: Double, ms: Double, err: Option[String])

  def main(args: Array[String]): Unit = {
    val startUptime = Jvm.uptimeMs
    val t0 = System.nanoTime()
    def sinceJvmStart: Double = (startUptime + (System.nanoTime() - t0) / 1e6) / 1e3
    val a = args.map(_.split("=", 2)).map(kv => kv(0) -> kv(1)).toMap
    val out = a("out")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
    val result = mutable.LinkedHashMap[String, Any]("cores" -> GraftSession.cpus)
    result("host_start") = hostReading()
    val spark = GraftSession.build("graftbench")
    try {
      if (a("mode") == "live")
        Live.run(spark, a, result, () => sinceJvmStart)
      else batch(spark, a, result, () => sinceJvmStart)
    } finally {
      result("host_end") = hostReading()
      writeJson(s"$out/result.json", result)
      SparkSession.getActiveSession.foreach(_.stop())
    }
  }

  /** Jackson from the Spark jars, with Scala collections, options and case
    * classes. NaN is written as a bare token, which Python's json reads. */
  private val json = JsonMapper.builder().addModule(DefaultScalaModule)
    .disable(JsonWriteFeature.WRITE_NAN_AS_STRINGS).build()

  def writeJson(path: String, v: Any): Unit = json.writeValue(new java.io.File(path), v)

  /** Stops the session and builds one on `local[1]` with the same Spark
    * and SQL settings: the single-thread baseline. */
  def oneCore(spark: SparkSession): SparkSession = {
    val conf = spark.sparkContext.getConf.clone.setMaster("local[1]")
    val sqlConf = spark.conf.getAll
    spark.stop()
    val one = SparkSession.builder().config(conf).getOrCreate()
    sqlConf.foreach { case (k, v) => try one.conf.set(k, v) catch { case _: Throwable => () } }
    GraftSession.installOptimizations(one)
    one
  }

  /** External CPU busy share and memory PSI, recorded to explain a noisy
    * run. They are not a gate; a channel that cannot be read gives -1. */
  def hostReading(): Map[String, Double] = Map(
    "ext_busy" -> (try HostSentinel.externalBusyFraction(200) catch { case _: Throwable => -1.0 }),
    "mem_psi_avg10" -> (try HostSentinel.memoryPsiAvg10() catch { case _: Throwable => -1.0 }))

  private def errText(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"

  /** Between-query hygiene, outside every timed call (as in Bench). */
  private def hygiene(spark: SparkSession, c: Counters): Unit = {
    val t = System.nanoTime()
    GraftSession.dropAllBlocks(spark)
    c.add("cache.drop_ms", (System.nanoTime() - t) / 1e6)
    c.max("jvm.heap_peak_mb", Jvm.heapAfterGcMb)
  }

  /** One timed call: `Q.run` builds the DataFrame (and, for the s-series,
    * runs the whole streaming job), the noop sink executes the plan. */
  private def timedCall(spark: SparkSession, q: String, data: String,
      pass: Int, tracer: Option[Tracer]): Exec = {
    tracer.foreach(_.enter(pass, q))
    val s0 = System.currentTimeMillis().toDouble
    val t0 = System.nanoTime()
    var t1 = t0
    val err = try {
      val df = Registry.queries(q)(spark, data)
      t1 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      None
    } catch { case e: Throwable => Some(errText(e)) }
    val t2 = System.nanoTime()
    tracer.foreach { tr =>
      val mid = s0 + (t1 - t0) / 1e6
      tr.newSpan(tr.current, "queries.build", s0, mid)
      tr.newSpan(tr.current, "exec.run", mid, s0 + (t2 - t0) / 1e6)
      tr.close()
    }
    Exec(pass, q, (t1 - t0) / 1e6, (t2 - t1) / 1e6, (t2 - t0) / 1e6, err)
  }

  /** One pass over every query in an order drawn from the seed. */
  private def onePass(spark: SparkSession, queries: Seq[String], data: String,
      seed: Long, pass: Int, tracer: Option[Tracer], hyg: Counters): (Double, Seq[Exec]) = {
    val order = new scala.util.Random(seed * 1000003L + pass).shuffle(queries)
    val execs = order.map { q =>
      val e = timedCall(spark, q, data, pass, tracer)
      hygiene(spark, hyg)
      e
    }
    (execs.map(_.ms).sum, execs)
  }

  /** Timed passes: at least `minPasses`, then more until `seconds` have
    * gone by (the pass under way is finished). The floor keeps the pass
    * count of one build the same from run to run, so the first, least
    * warm pass never decides a median on its own. */
  private def passes(spark: SparkSession, queries: Seq[String], data: String,
      seed: Long, seconds: Double, minPasses: Int, hyg: Counters): (Seq[Double], Seq[Exec]) = {
    val walls = mutable.ArrayBuffer.empty[Double]
    val execs = mutable.ArrayBuffer.empty[Exec]
    val start = System.nanoTime()
    while (walls.size < minPasses || (System.nanoTime() - start) / 1e9 < seconds) {
      val (w, ex) = onePass(spark, queries, data, seed, walls.size, None, hyg)
      walls += w
      execs ++= ex
    }
    (walls.toSeq, execs.toSeq)
  }

  private def batch(spark: SparkSession, a: Map[String, String],
      result: mutable.LinkedHashMap[String, Any], sinceJvmStart: () => Double): Unit = {
    val data = a("data")
    val out = a("out")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a.get("trace").contains("1")
    val queries = a("queries").split(",").toSeq
    val minPasses = a("passes").toInt
    val hyg = new Counters

    // verification pass, the first warm pass; its time belongs to setup
    val verify = queries.map { q =>
      val t = System.nanoTime()
      val err = try {
        Registry.queries(q)(spark, data).write.mode("overwrite")
          .parquet(s"$out/verify/$q")
        None
      } catch { case e: Throwable => Some(errText(e)) }
      hygiene(spark, hyg)
      Map("query" -> q, "ms" -> (System.nanoTime() - t) / 1e6, "err" -> err)
    }
    writeJson(s"$out/verify/oracle_sql.json",
      Registry.oracles.filter { case (q, _) => queries.contains(q) })
    result("verify") = verify
    // one more untimed pass: after a single pass the first timed pass still
    // ran about a fifth slower than the rest while the JIT caught up
    onePass(spark, queries, data, seed, -1, None, hyg)
    result("setup_s") = sinceJvmStart()

    if (!trace) {
      val (walls, execs) = passes(spark, queries, data, seed, seconds, minPasses, hyg)
      result("pass_wall_ms") = walls
      result("execs") = execs
      return
    }
    // traced run: passes alternate without and with listeners (A B B A A B
    // ...), so warm-up drift cancels out of the tracing overhead
    val tracer = new Tracer(spark)
    val c = tracer.counters
    val plainWalls, walls = mutable.ArrayBuffer.empty[Double]
    val execs = mutable.ArrayBuffer.empty[Exec]
    (0 until 2 * minPasses).foreach { i =>
      if (i % 4 == 1 || i % 4 == 2) {
        val m0 = Jvm.mark
        tracer.attach()
        val (w, ex) = onePass(spark, queries, data, seed, i, Some(tracer), c)
        tracer.detach()
        m0.addSince(c)
        walls += w
        execs ++= ex
      } else plainWalls += onePass(spark, queries, data, seed, i, None, hyg)._1
    }
    result("plain_pass_wall_ms") = plainWalls
    result("pass_wall_ms") = walls
    result("execs") = execs
    result("counters") = c.c
    result("spans") = tracer.spans

    // one more pass on a one-core session with the same SQL settings
    val one = oneCore(spark)
    val (oneWall, oneExecs) = onePass(one, queries, data, seed, 0, None, new Counters)
    result("one_core_pass_wall_ms") = oneWall
    result("one_core_errors") = oneExecs.count(_.err.nonEmpty)
  }
}
