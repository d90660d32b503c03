package graft.tools

import graft.{Bench, GraftSession, SparkEntry}
import java.nio.file.{Files, Paths}

/** Per-query bench regression gate — the machine-checkable analog of the
  * reference's perf runner (`PerformanceBaselineReport.scala:5-36`,
  * `.github/workflows/ci.yml:36`): `bench_budget.json` commits a ceiling
  * (seconds) for every registered query, and this main FAILS (exit 1)
  * when any query exceeds its budget, errors, or drifts out of sync with
  * the budget file. The r3 bench silently carried a 9.7s leaked-RDD q01
  * for a full round because nothing diffed bench runs; this makes that
  * class of regression a red build instead of a verdict finding.
  *
  * Budgets are ≈2× the slower of the round-4 driver artifact and the
  * round-5 local runs, floored at 2.5s so sub-second queries don't flap
  * on GC/JIT noise — generous enough to absorb harness variance
  * (JVM-warm vs driver-cold runs differ ~10–25%), tight enough that a
  * leaked-cache or lost-broadcast regression (historically 3–10×) trips.
  *
  * Run:
  *   sbt "runMain graft.tools.BenchGuard"              # times SPARK_GRAFT_SF_DIR (default sf0.1)
  *   sbt "runMain graft.tools.BenchGuard BENCH_r04.json"  # re-check an existing bench artifact
  *
  * Drift rules (set equality, like PlanQualitySpec's BNLJ whitelist):
  * a registered query without a budget fails — new queries must commit a
  * budget with the code; a budget without a registered query fails —
  * stale ceilings don't linger. Replayed artifacts are checked on the
  * intersection (an older artifact legitimately predates new queries)
  * but still fail on over-budget, error, or unknown-name entries.
  */
object BenchGuard {
  /** Flat {"name": seconds} object parse. Jackson ships with the Spark
    * jars, but the inputs are machine-written flat objects, so a pair
    * regex is exact, and the same regex doubles as the clipped-artifact
    * fallback below, which no JSON parser can read.
    */
  private val pair = """"([A-Za-z0-9_]+)"\s*:\s*(-?[0-9.]+)""".r

  private[graft] def parseFlat(json: String): Map[String, Double] =
    pair.findAllMatchIn(json)
      .map(m => m.group(1) -> m.group(2).toDouble)
      .filterNot(_._1.startsWith("_"))
      .toMap

  /** Query-name shape: c01_…, n43_…, n114_…, q06_…, s17_…, w05_….
    * `\d+` (not `\d\d`): the r11 replay parser required exactly two
    * digits and silently dropped n100–n114 from every artifact replay
    * (223 pairs parsed, 208 survived) — a breach in a three-digit query
    * passed unflagged. RegistryInvariantsSpec asserts every registered
    * name matches THIS regex so the gate and the registry cannot drift
    * apart again.
    */
  private[graft] val queryName = """^[cnqsw]\d+_""".r

  /** The registry size the artifact's run timed (`"n_queries":N`,
    * emitted in the fixed-size suffix after the queries map so tail
    * clips keep it). −1 when absent (pre-r14 artifacts).
    */
  private val nQueriesField = """"n_queries":(\d+)""".r

  private[graft] def extractNQueries(content: String): Int =
    nQueriesField.findFirstMatchIn(content.replace("\\\"", "\""))
      .map(_.group(1).toInt).getOrElse(-1)

  /** The one PASS line, factored so BenchGuardSpec pins the wording: a
    * replay that recovered only part of a clipped artifact must SAY so
    * — r13's `BenchGuard BENCH_r13.json` printed `PASS: 61 queries
    * within budget` (24 % coverage) while the full-file twin FAILED,
    * and nothing in the line warned the reader.
    */
  private[graft] def passLine(
      checked: Int, total: Int, replayed: Option[String]): String =
    if (replayed.isDefined && total > 0 && checked < total)
      s"BenchGuard PASS (PARTIAL: $checked/$total recoverable — clipped " +
        "artifact; replay bench_last.json for the full verdict)"
    else
      s"BenchGuard PASS: $checked queries within budget" +
        replayed.map(a => s" (replayed $a)").getOrElse("")

  /** The FAIL summary line, same coverage contract as [[passLine]]: a
    * failing clipped replay must carry its checked/total label too —
    * the r14 `BenchGuard BENCH_r14.json` run printed "2 problem(s)
    * across 59 checked queries" with nothing saying 59 was 22 % of the
    * artifact's own 268.
    */
  private[graft] def failLine(
      nProblems: Int, checked: Int, total: Int): String =
    s"BenchGuard: $nProblems problem(s) across $checked/$total checked " +
      "queries" + (if (total > 0 && checked < total)
        " (PARTIAL: clipped artifact — replay bench_last.json for the " +
          "full verdict)"
      else "")

  /** Retimed-entry shape: `"name":{"first":X,"retry":Y…}`. The final
    * fallback when a clip leaves no flat query pair at all (r12's
    * committed artifact: the clip landed INSIDE "retimed" back when
    * "queries" preceded it). The confirmed timing is min(first, retry)
    * — exactly what Bench.confirm records in "queries" for a retimed
    * query, so a replay from these entries judges the same numbers.
    */
  private val retimedPair =
    """"([A-Za-z0-9_]+)"\s*:\s*\{"first":(-?[0-9.]+),"retry":(-?[0-9.]+)""".r

  /** Pull the {"queries":{...}} object out of a full Bench output line
    * (or a driver BENCH_r*.json whose `tail` embeds that line with
    * escaped quotes — normalized here before matching). Driver
    * artifacts keep only the final ~2k chars of output; since r13 the
    * line puts "queries" second-to-last precisely so a clip lands
    * inside it, but older artifacts (and pathological clips) still
    * need the fallbacks:
    *   1. complete "queries" object → parse exactly its pairs;
    *   2. clipped → every query-shaped flat name:number pair found —
    *      a partial check beats a crash or no check;
    *   3. still nothing → the retimed entries' min(first, retry).
    * Returns EMPTY (never throws) when no fallback finds a timing —
    * the caller owns the clean-failure message (the r12 `require`
    * here turned an unreplayable artifact into a stack trace). Which
    * fallback ran goes to `note`.
    */
  private[graft] def extractQueries(content: String,
      note: String => Unit = println): Map[String, Double] = {
    val norm = content.replace("\\\"", "\"")
    val start = norm.indexOf("\"queries\":{")
    val open = if (start >= 0) norm.indexOf('{', start) else -1
    val close = if (open >= 0) norm.indexOf('}', open) else -1
    val flat =
      if (close >= 0) { // complete object: parse exactly its pairs
        parseFlat(norm.substring(open, close + 1))
      } else {
        // truncated BEFORE the queries key (driver log captures keep only
        // the tail) or AFTER it with the object never closed (clipped
        // write): fall back to every query-shaped pair in the content —
        // a partial check beats a crash or no check. A pair is only
        // trusted when its number is followed by SOME character in the
        // artifact: a clip that cuts a value mid-digits ("…":10.42 →
        // "…":1) leaves the mangled number at end-of-content, and a
        // smaller-than-real timing would silently pass an over-budget
        // query. (Head clips can't fabricate a pair — the name regex
        // requires its opening quote.)
        note("BenchGuard: artifact truncated around \"queries\" — " +
          "checking every query-shaped name:number pair found")
        pair.findAllMatchIn(norm)
          .filter(_.end < norm.length)
          .map(m => m.group(1) -> m.group(2).toDouble)
          .filterNot(_._1.startsWith("_"))
          .toMap
      }
    val qs = flat.view.filterKeys(queryName.findFirstIn(_).isDefined).toMap
    if (qs.nonEmpty) qs
    else {
      note("BenchGuard: no flat query pair survived the clip — " +
        "falling back to retimed first/retry entries")
      retimedPair.findAllMatchIn(norm)
        .filter(_.end < norm.length)
        .map(m => m.group(1) ->
          math.min(m.group(2).toDouble, m.group(3).toDouble))
        .filter(p => queryName.findFirstIn(p._1).isDefined)
        .toMap
    }
  }

  /** The gate: the output lines and whether they pass. `replayed`
    * names the artifact a replay read; a replay is checked on the
    * budget ∩ artifact intersection (an older artifact legitimately
    * predates new queries), a live run also on budget/registry drift.
    * `nQueries` is the artifact's own registry size (−1 when absent).
    */
  private[graft] def check(budgets: Map[String, Double],
      times: Map[String, Double], errors: Map[String, String],
      replayed: Option[String], nQueries: Int,
      registry: Set[String]): (Seq[String], Boolean) = {
    val problems = Seq.newBuilder[String]
    if (replayed.isDefined) {
      (times.keySet -- budgets.keySet).toSeq.sorted.foreach(n =>
        problems += s"artifact entry $n has no budget (unknown query?)")
    } else {
      (registry -- budgets.keySet).toSeq.sorted.foreach(n =>
        problems += s"registered query $n has no budget — add it to $BudgetFile")
      (budgets.keySet -- registry).toSeq.sorted.foreach(n =>
        problems += s"stale budget $n — query no longer registered")
    }
    errors.toSeq.sorted.foreach { case (n, e) => problems += s"$n ERRORED: $e" }
    times.toSeq.sorted.foreach { case (n, t) =>
      budgets.get(n).foreach { b =>
        if (t < 0) problems += s"$n recorded -1 (failed)"
        else if (t > b)
          problems += f"$n OVER BUDGET: ${t}%.2fs > ceiling ${b}%.2fs"
      }
    }
    val out = problems.result()
    val checked = times.keySet.intersect(budgets.keySet).size
    // coverage denominator: the artifact's own n_queries when it
    // carries one (post-r14 lines), the registry otherwise — an old
    // full-file artifact may legitimately predate new queries, so the
    // registry is only a fallback label, never a drift failure here
    val total = if (nQueries > 0) nQueries else registry.size
    if (out.isEmpty) (Seq(passLine(checked, total, replayed)), true)
    else (out.map(p => s"BenchGuard FAIL: $p") :+
      failLine(out.size, checked, total), false)
  }

  /** Replay one committed artifact (`content` of file `artifact`). */
  private[graft] def replay(artifact: String, content: String,
      budgets: Map[String, Double],
      registry: Set[String]): (Seq[String], Boolean) = {
    val notes = Seq.newBuilder[String]
    val qs = extractQueries(content, notes += _)
    // a clean verdict, never a stack trace: the clipped round artifact
    // carries no timings in any recoverable shape — the full-file copy
    // is the replayable record
    if (qs.isEmpty)
      (notes.result() :+ (s"BenchGuard FAIL: no per-query timings found " +
        s"in clipped artifact $artifact — replay the full-file " +
        "bench_last.json instead"), false)
    else {
      val (lines, pass) = check(budgets, qs, Map.empty, Some(artifact),
        extractNQueries(content), registry)
      (notes.result() ++ lines, pass)
    }
  }

  private val BudgetFile = "bench_budget.json"

  def main(args: Array[String]): Unit = {
    val budgets = parseFlat(Files.readString(Paths.get(BudgetFile)))
    require(budgets.nonEmpty, s"$BudgetFile parsed empty")
    val registry = SparkEntry.queries.keySet
    val (lines, pass) = args.headOption match {
      case Some(artifact) =>
        replay(artifact, Files.readString(Paths.get(artifact)), budgets,
          registry)
      case None =>
        val sfDir =
          sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
        val spark = GraftSession.build("graft-bench-guard")
        // Bench.run is SELF-CONFIRMING: a first-pass timing over its
        // committed ceiling goes through Bench.confirm inside run()
        // itself, so Bench's own main and this gate judge noise
        // flaps identically, and the artifact's "retimed" object
        // records every number.
        val sweep = try Bench.run(spark, sfDir) finally spark.stop()
        // emit the bench artifact too — the timing run that backs the
        // verdict should never be thrown away; the file copy survives
        // stdout clipping (see Bench.writeArtifact)
        val line = Bench.jsonLine(sweep.timings, sfDir,
          Some((sweep.start, sweep.end)))
        println(line)
        Bench.writeArtifact(line)
        val results = sweep.timings
        check(budgets, results.map(r => r.name -> r.secs).toMap,
          results.collect { case t if t.err.isDefined => t.name -> t.err.get }
            .toMap, None, results.size, registry)
    }
    lines.foreach(println)
    if (!pass) sys.exit(1)
  }
}
