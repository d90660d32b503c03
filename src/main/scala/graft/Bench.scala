package graft

/** Benchmark main: runs every registered query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line with per-query seconds.
  * Queries are materialized through the `noop` sink so the full plan
  * (projections included) executes — `.count()` would let Catalyst prune
  * the very work being measured.
  */
object Bench {
  /** One per-query measurement. `secs` is the CONFIRMED value: when the
    * first pass exceeded the query's committed ceiling, isolated
    * re-times ran and the minimum was kept ([[confirm]]). `firstPass`
    * and `retry` (the better re-time) record both numbers, so
    * min(firstPass, retry) is `secs` and the artifact itself shows
    * whether a breach was noise (retry far under) or real (retry also
    * over). `breach` holds the second re-time's evidence.
    */
  final case class Timing(
      name: String,
      secs: Double,
      err: Option[String] = None,
      firstPass: Option[Double] = None,
      retry: Option[Double] = None,
      gc: Option[GcProbe] = None,
      retryGc: Option[GcProbe] = None,
      breach: Option[Breach] = None)

  /** JVM-pressure evidence captured around one timed section: GC time
    * spent DURING the window and used heap at its end (before the
    * harness-hygiene cache drop).
    */
  final case class GcProbe(gcMs: Long, heapGb: Double)

  /** Host pressure read from the kernel ([[HostSentinel]]): the
    * external CPU busy fraction and memory PSI avg10 (%). A channel
    * that cannot be read is -1, never a quiet-looking 0.
    */
  final case class HostReading(extBusy: Double, memPsi: Double)

  /** Raw evidence for a breach that outlived its first isolated
    * re-time: the second re-time after the cool-down, its GC probe, and
    * the host reading taken when the first re-time came back over.
    */
  final case class Breach(
      retry2: Double, retry2Gc: Option[GcProbe], host: HostReading)

  /** A timed sweep plus the host readings at its start and end. */
  final case class Sweep(
      timings: Seq[Timing], start: HostReading, end: HostReading)

  private def hostReading(): HostReading = {
    def read(f: => Double): Double =
      try f catch { case _: Throwable => -1.0 }
    HostReading(read(HostSentinel.externalBusyFraction(500)),
      read(HostSentinel.memoryPsiAvg10()))
  }

  private def gcTotalMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  }

  private def usedHeapGb(): Double =
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1e9

  /** Committed per-query ceilings (bench_budget.json), read from the
    * working directory — used only to decide which first-pass timings
    * need a confirming isolated re-time. Missing or unreadable file →
    * no re-times (the run still measures everything once).
    */
  private def budgets(): Map[String, Double] =
    try graft.tools.BenchGuard.parseFlat(java.nio.file.Files.readString(
      java.nio.file.Paths.get("bench_budget.json")))
    catch { case _: Throwable => Map.empty }

  /** Warmed, cache-isolated timing pass over every registered query,
    * SELF-CONFIRMING: any first-pass timing over its committed ceiling
    * goes through [[confirm]] before it is recorded. A 150-query
    * shared-JVM run lands GC/JIT debt on arbitrary queries (the r5
    * q25/q26/q27 and r6 n43 flaps, both pinned as harness noise via
    * isolated cold re-times); a genuine plan regression is slow in
    * isolation too and stays visible. The confirm pass lives here, not
    * only in [[graft.tools.BenchGuard]], so a plain `Bench` run's own
    * artifact carries both numbers (r6 n43 was an unconfirmed 3× flap
    * in the artifact). Shared with BenchGuard so the regression gate
    * times exactly what [[main]] times.
    */
  def run(spark: org.apache.spark.sql.SparkSession, sfDir: String): Sweep = {
    // JVM/codegen warmup on the smallest SF so per-query times measure
    // the engine, not first-use JIT (one full pass, results discarded).
    SparkEntry.queries.foreach { case (_, fn) =>
      try fn(spark, "/root/testdata/sf0.001")
        .write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    }
    // A failing query records -1 (never a small positive time) and lands
    // in the errors map — failures must be visible in the JSON, not
    // silently folded into 'total'.
    def dropAllBlocks(): Unit = GraftSession.dropAllBlocks(spark)
    // warm-up left caches behind: start the timed section clean
    dropAllBlocks()
    val ceil = budgets()
    val names = sweepOrder(SparkEntry.queries.keySet.toSeq)
      .map(n => n -> SparkEntry.queries(n))
    val start = hostReading()
    val timings = names.map { case (name, fn) =>
      val g0 = gcTotalMs()
      val t0 = System.nanoTime()
      val first = try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val t = (System.nanoTime() - t0) / 1e9
        val probe = GcProbe(gcTotalMs() - g0, usedHeapGb())
        // operators persist their diamond intermediates (bigram tables,
        // shingle indexes); queries never unpersist — over 100+ queries
        // the stale blocks pile into executor memory and the GC/spill
        // pressure lands on whichever query runs later (the r3 q01
        // outlier). Dropping caches between queries keeps each
        // measurement independent; the clear happens OUTSIDE the timed
        // window because it is harness hygiene, not query work. The
        // explicit gc drains the garbage the previous query left behind
        // (dropped cache blocks, broadcasts, codegen classes) so its
        // collection cost is not billed to the NEXT query — standalone
        // 0.9s queries were recording 7s purely from inherited heap debt.
        dropAllBlocks()
        System.gc()
        Timing(name, t, gc = Some(probe))
      } catch {
        case e: Throwable =>
          // best-effort: a clearCache failure after a query failure must
          // not abort the run and lose every recorded timing
          try dropAllBlocks() catch { case _: Throwable => () }
          Timing(name, -1.0, err = Some(s"${e.getClass.getSimpleName}: ${
            String.valueOf(e.getMessage).take(80)}"))
      }
      confirm(first, ceil.get(name), () => retime(spark, sfDir, name),
        () => Thread.sleep(CoolDownMs))
    }
    Sweep(timings, start, hostReading())
  }

  /** The pause before a breach's second re-time. The observed
    * contention windows (co-tenant CPU steal, memory pressure) inflate
    * whole blocks of queries for tens of seconds and then clear; r12's
    * storm back-offs, the longest in any committed artifact, waited
    * 10–20 s.
    */
  private val CoolDownMs = 20000L

  /** The one ceiling-breach policy. A first pass over its `ceiling`
    * gets an isolated re-time. If the better of the two is still over,
    * the host is read, one cool-down runs, and a second isolated
    * re-time follows. The minimum of the three is kept, and `retry`
    * holds the better re-time. A re-time that throws keeps the prior
    * timing. An errored, under-ceiling or ceiling-less timing passes
    * through untouched. The breach still fails BenchGuard if the
    * minimum is over; the recorded evidence only says what the host
    * looked like while it happened.
    */
  private[graft] def confirm(first: Timing, ceiling: Option[Double],
      retime: () => (Double, Option[GcProbe]), coolDown: () => Unit,
      host: () => HostReading = () => hostReading()): Timing =
    (first, ceiling) match {
      case (Timing(n, t, None, _, _, _, _, _), Some(c)) if t > c =>
        def again(prior: (Double, Option[GcProbe])) =
          try retime() catch { case _: Throwable => prior }
        val (r1, g1) = again((t, None))
        println(f"Bench: $n first-pass ${t}%.2fs over its ${c}%.2fs " +
          f"ceiling — isolated re-time ${r1}%.2fs (min kept)")
        if (math.min(t, r1) <= c)
          first.copy(secs = math.min(t, r1), firstPass = Some(t),
            retry = Some(r1), retryGc = g1)
        else {
          val h = host()
          println(f"Bench: $n still over (ext ${h.extBusy}%.3f, psi " +
            f"${h.memPsi}%.2f) — second isolated re-time after a " +
            s"${CoolDownMs / 1000} s cool-down")
          coolDown()
          val (r2, g2) = again((r1, g1))
          println(f"Bench: $n second re-time ${r2}%.2fs")
          val (r, g) = if (r2 < r1) (r2, g2) else (r1, g1)
          first.copy(secs = math.min(t, r), firstPass = Some(t),
            retry = Some(r), retryGc = g, breach = Some(Breach(r2, g2, h)))
        }
      case _ => first
    }

  /** Pinned sweep order (sweep_order.json: {"name": slot}): a
    * committed query keeps its slot forever; names not yet in the file
    * (this round's additions) run AFTER every pinned one, sorted by
    * name. Registry growth therefore never shifts an existing query
    * deeper into accumulated shared-JVM debt — r12's 12 new n1xx names
    * pushed every s-query ~13 alphabetical slots later and forced four
    * ceiling re-derivations for untouched queries; under this order
    * the same growth moves nobody. RegistryInvariantsSpec pins
    * file↔registry set equality, so additions are APPENDED to the
    * file in the commit that registers them (BenchOne derives their
    * ceiling in the same end-of-sweep debt regime they will run in).
    * A missing/unreadable file degrades to the old alphabetical order.
    */
  private[graft] def sweepOrder(names: Seq[String]): Seq[String] = {
    val pinned: Map[String, Double] =
      try graft.tools.BenchGuard.parseFlat(java.nio.file.Files.readString(
        java.nio.file.Paths.get("sweep_order.json")))
      catch { case _: Throwable => Map.empty }
    names.sortBy(n => (pinned.getOrElse(n, Double.MaxValue), n))
  }

  /** One isolated re-measurement of a single query (clean caches, gc'd
    * heap) — the [[confirm]] re-time. Mirrors the timed section of
    * [[run]] exactly.
    */
  def retime(spark: org.apache.spark.sql.SparkSession,
      sfDir: String, name: String): (Double, Option[GcProbe]) = {
    GraftSession.dropAllBlocks(spark)
    System.gc()
    val g0 = gcTotalMs()
    val t0 = System.nanoTime()
    SparkEntry.queries(name)(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    val t = (System.nanoTime() - t0) / 1e9
    val probe = GcProbe(gcTotalMs() - g0, usedHeapGb())
    GraftSession.dropAllBlocks(spark)
    (t, Some(probe))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // GraftSession.build = the engine's real configuration, including its
    // optimizer rules (RewriteSizeOfSplit). A hand-rolled session here
    // would benchmark a different engine than Verify checks.
    val spark = GraftSession.build("graft-bench")
    val sweep = run(spark, sfDir)
    val line = jsonLine(sweep.timings, sfDir, Some((sweep.start, sweep.end)))
    println(line)
    writeArtifact(line)
    spark.stop()
  }

  /** Also persist the full one-line JSON to a file: driver log captures
    * keep only the final ~2 kB of stdout, which clips the per-query map
    * once the registry passes ~100 queries (BENCH_r05.json lost every
    * c, n, and q01–q08 timing). The committed file is the durable
    * per-query record.
    */
  def writeArtifact(line: String, path: String = "bench_last.json"): Unit =
    try java.nio.file.Files.write(java.nio.file.Paths.get(path),
      (line + "\n").getBytes("UTF-8"))
    catch { case e: Throwable =>
      println(s"Bench: could not write $path: ${e.getMessage}")
    }

  /** The one-line bench JSON (shared with BenchGuard, whose timing runs
    * would otherwise discard the very numbers that justify its verdict).
    * `queries` carries the CONFIRMED values; `retimed` records every
    * first-pass ceiling breach as {"first": x, "retry": y, …} so the
    * artifact shows its own flaps; `host` holds the sweep's start and
    * end [[HostReading]]s.
    */
  def jsonLine(results: Seq[Timing], sfDir: String,
      host: Option[(HostReading, HostReading)] = None): String = {
    def fmt(v: Double): String =
      if (v < 0) "-1" else BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    // full JSON string escape — AnalysisException messages are often
    // multiline within the first 80 chars; a raw control char would make
    // the whole benchmark line unparseable exactly when a query fails
    def esc(s: String): String = s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    val qs = results.map(t => "\"" + t.name + "\":" + fmt(t.secs))
      .mkString("{", ",", "}")
    val errs = results.collect { case t if t.err.isDefined =>
      "\"" + esc(t.name) + "\":\"" + esc(t.err.get) + "\""
    }.mkString("{", ",", "}")
    // per-query JVM-pressure evidence: GC ms inside the timed window +
    // used heap at its end — the data PLANS.md cites when adjudicating
    // shared-JVM flaps. Like every other object, emitted BEFORE
    // "queries" (see the key-order note at the end of this method).
    def probeJson(p: GcProbe): String =
      "{\"gc_ms\":" + p.gcMs + ",\"heap_gb\":" + fmt(p.heapGb) + "}"
    val gcs = results.collect { case t if t.gc.isDefined =>
      "\"" + t.name + "\":" + probeJson(t.gc.get)
    }.mkString("{", ",", "}")
    def probeFields(label: String, p: GcProbe): String =
      ",\"" + label + "_gc_ms\":" + p.gcMs +
        ",\"" + label + "_heap_gb\":" + fmt(p.heapGb)
    def hostFields(h: HostReading): String =
      "\"ext_busy\":" + fmt(h.extBusy) + ",\"mem_psi\":" + fmt(h.memPsi)
    // the {"first":x,"retry":y prefix is what BenchGuard's last-resort
    // clip fallback reads; everything after it is evidence. Keys here
    // never match BenchGuard's query-name shape, so the truncated-
    // artifact fallback grep cannot mistake them for timings.
    val retimed = results.collect {
      case t @ Timing(n, _, _, Some(f), Some(r), _, _, _) =>
        "\"" + n + "\":{\"first\":" + fmt(f) + ",\"retry\":" + fmt(r) +
          t.gc.map(probeFields("first", _)).getOrElse("") +
          t.retryGc.map(probeFields("retry", _)).getOrElse("") +
          t.breach.map(b => ",\"retry2\":" + fmt(b.retry2) +
            b.retry2Gc.map(probeFields("retry2", _)).getOrElse("") +
            "," + hostFields(b.host)).getOrElse("") + "}"
    }.mkString("{", ",", "}")
    val hostObj = host.map { case (s, e) =>
      "\"host\":{\"start\":{" + hostFields(s) + "},\"end\":{" +
        hostFields(e) + "}},"
    }.getOrElse("")
    val total = results.filter(_.secs >= 0).map(_.secs).sum
    // environment fields make warm-vs-cold harness deltas explainable
    // from the artifact alone (round 4 carried a README band 25% under
    // the driver-observed total with nothing in either to reconcile them)
    val rt = Runtime.getRuntime
    val env = s""""cpus":${rt.availableProcessors()},""" +
      s""""max_heap_gb":${fmt(rt.maxMemory() / 1e9)},""" +
      s""""java":"${esc(System.getProperty("java.version"))}","""
    // KEY ORDER IS LOAD-BEARING. The driver's log capture keeps only
    // the final ~2 kB of stdout, so the end of this line is the only
    // part guaranteed to survive into the committed BENCH_r*.json:
    //   - "queries" goes as close to the end as a big object can,
    //     after every other OBJECT. r12 emitted it before its
    //     breach receipts, whose growth pushed the whole map out of
    //     the tail and crashed BenchGuard's replay ("no
    //     per-query timings found"); with the map at the end, any clip
    //     lands either inside it (the surviving pairs get a partial
    //     check) or before it only when the line fits.
    //   - "n_queries" (the registry size this run timed) sits AFTER
    //     the map in the fixed-size suffix, so a replayer of a clipped
    //     artifact can label its coverage (PARTIAL: k/n) without the
    //     registry — any clip that keeps the line's tail keeps it.
    //   - "value" (the headline total) stays absolutely LAST so the
    //     driver's metric read survives the same clip.
    // BenchGuardSpec round-trips a 241-query line through a 2 kB tail
    // clip to pin this contract.
    s"""{"metric":"total","unit":"sec","sf":"$sfDir",$env"gc":$gcs,"errors":$errs,"retimed":$retimed,$hostObj"queries":$qs,"n_queries":${results.size},"value":${fmt(total)}}"""
  }
}
