package graft

import graft.tools.BenchGuard
import org.scalatest.funsuite.AnyFunSuite

/** Parser semantics for the bench regression gate: the budget file, a
  * full Bench output line, and the driver-artifact fallback (log
  * captures keep only the final ~2k chars, which can truncate the line
  * BEFORE the "queries" key — BENCH_r04.json is exactly that shape).
  */
class BenchGuardSpec extends AnyFunSuite {

  test("parseFlat reads name:number pairs and skips _comment keys") {
    val parsed = BenchGuard.parseFlat(
      """{"_comment": "ceilings, 2.5s floor", "q01_pricing_summary": 5.4,
        | "c14_recover_with": 2.5}""".stripMargin)
    assert(parsed == Map(
      "q01_pricing_summary" -> 5.4, "c14_recover_with" -> 2.5))
  }

  test("extractQueries pulls the queries object out of a full bench line") {
    val line = """{"metric":"total","unit":"sec","sf":"/d/sf0.1",""" +
      """"cpus":32,"max_heap_gb":17.18,"java":"17.0.20",""" +
      """"queries":{"q01_pricing_summary":2.687,"s17_stream_checkpoint_recovery":1.703},""" +
      """"errors":{},"value":147.406}"""
    // env fields (cpus, max_heap_gb) must NOT leak in as query timings
    assert(BenchGuard.extractQueries(line) == Map(
      "q01_pricing_summary" -> 2.687,
      "s17_stream_checkpoint_recovery" -> 1.703))
  }

  test("artifact clipped AFTER the queries key still gets a partial check") {
    // a killed run can clip the line before the object ever closes; the
    // strict path would substring to a missing '}' — must fall back, not
    // crash
    val clipped =
      """{"metric":"total","queries":{"q01_pricing_summary":2.687,"q02_join_ag"""
    assert(BenchGuard.extractQueries(clipped) ==
      Map("q01_pricing_summary" -> 2.687))
  }

  test("a pair clipped mid-number is dropped, not read as a smaller timing") {
    // "n43_pagerank":10.42 clipped to ...":1 parses as a VALID smaller
    // number — accepting it could silently pass an over-budget query;
    // only a pair whose number is followed by some character is trusted
    val clipped =
      """{"metric":"total","queries":{"q01_pricing_summary":2.687,"n43_pagerank":1"""
    assert(BenchGuard.extractQueries(clipped) ==
      Map("q01_pricing_summary" -> 2.687))
  }

  test("truncated driver artifact falls back to query-shaped pairs") {
    // the r4 shape: tail begins mid-map, escaped quotes, no "queries" key
    val truncated = """{"n": 4, "rc": 0, "cpus": 32, "tail":
      "\":0.742,\"q05_anti_join\":0.425,\"q06_outer_join\":1.107},\"errors\":{},\"value\":166.178}\n"}"""
    val parsed = BenchGuard.extractQueries(truncated)
    assert(parsed == Map(
      "q05_anti_join" -> 0.425, "q06_outer_join" -> 1.107))
  }

  test("round-trip: a 241-query jsonLine clipped to its last 2kB still yields timings") {
    // the r12 failure, pinned: the driver keeps only the final ~2 kB of
    // stdout, and that round's grown breach receipts pushed the whole
    // queries map out of the tail — BenchGuard crashed on the committed
    // artifact. The key-order contract (queries second-to-last, value
    // last) means ANY tail clip now lands inside the queries map; this
    // round-trips a registry-sized line through exactly that clip, with
    // 12 retimed entries each carrying the full breach evidence
    // (retry2, its GC probe, host readings) — at ~250 bytes apiece
    // about the size of r12's receipts.
    val plain = (1 to 229).map(i =>
      Bench.Timing(f"n$i%03d_synthetic_query_name", i / 100.0))
    val probe = Some(Bench.GcProbe(12345, 5.678))
    val flapped = (1 to 12).map(i =>
      Bench.Timing(f"s$i%02d_retimed_query_name", 2.0,
        firstPass = Some(9.987), retry = Some(2.0),
        gc = probe, retryGc = probe,
        breach = Some(Bench.Breach(2.5, probe,
          Bench.HostReading(0.648, 12.34)))))
    val host = Some((Bench.HostReading(0.021, 0.0),
      Bench.HostReading(-1.0, -1.0)))
    val results = plain ++ flapped
    val line = Bench.jsonLine(results, "/data/sf0.1", host)
    assert(line.contains("\"retry2\":2.500,\"retry2_gc_ms\":12345"))
    assert(line.contains("\"ext_busy\":0.648,\"mem_psi\":12.340}"))
    assert(line.contains("\"end\":{\"ext_busy\":-1,\"mem_psi\":-1}"))
    val full = BenchGuard.extractQueries(line)
    assert(full.size == results.size, "full line must carry every query")
    val clipped = line.takeRight(2048)
    val recovered = BenchGuard.extractQueries(clipped)
    assert(recovered.nonEmpty, "2kB tail clip recovered no timings")
    // every recovered value matches the full line's confirmed value
    assert(recovered.forall { case (k, v) => full(k) == v },
      "clip-recovered timings disagree with the full line")
    // the LAST query emitted must survive any tail clip by construction
    assert(recovered.contains(results.last.name))
    // and the driver's headline metric survives alongside
    assert(clipped.contains("\"value\":"))
    assert(BenchGuard.extractNQueries(clipped) == results.size)
    // the retimed entries alone still give the confirmed values
    val retimedOnly = line.substring(line.indexOf("\"retimed\":"),
      line.indexOf("\"host\":"))
    assert(BenchGuard.extractQueries(retimedOnly, _ => ()) ==
      flapped.map(t => t.name -> t.secs).toMap)
  }

  test("n_queries survives any tail clip and labels partial replays") {
    val results = (1 to 50).map(i =>
      Bench.Timing(f"n$i%03d_synthetic_query_name", i / 10.0))
    val line = Bench.jsonLine(results, "/sf", None)
    // the fixed-size suffix after the queries map: n_queries then value
    assert(line.takeRight(40).contains("\"n_queries\":50"))
    assert(BenchGuard.extractNQueries(line) == 50)
    assert(BenchGuard.extractNQueries(line.takeRight(60)) == 50,
      "a 60-char tail clip must still carry the registry size")
    // pre-r14 artifacts have no field — the replayer falls back
    assert(BenchGuard.extractNQueries("""{"queries":{"n01_x":1.0}}""") == -1)
    // and n_queries itself must never read as a query timing
    assert(!BenchGuard.extractQueries(line).contains("n_queries"))
  }

  test("passLine labels partial clipped replays as PARTIAL — pinned wording") {
    assert(BenchGuard.passLine(249, 249, Some("bench_last.json")) ==
      "BenchGuard PASS: 249 queries within budget (replayed bench_last.json)")
    assert(BenchGuard.passLine(61, 249, Some("BENCH_r13.json")) ==
      "BenchGuard PASS (PARTIAL: 61/249 recoverable — clipped artifact; " +
        "replay bench_last.json for the full verdict)")
    // live runs never carry the PARTIAL label — coverage drift there is
    // a registry/budget failure, not a clip
    assert(BenchGuard.passLine(249, 249, None) ==
      "BenchGuard PASS: 249 queries within budget")
  }

  test("failLine carries checked/total coverage — pinned wording") {
    // the r14 clipped replay printed "2 problem(s) across 59 checked
    // queries" with nothing saying 59 was 22% of the artifact's 268
    assert(BenchGuard.failLine(2, 59, 268) ==
      "BenchGuard: 2 problem(s) across 59/268 checked queries (PARTIAL: " +
        "clipped artifact — replay bench_last.json for the full verdict)")
    assert(BenchGuard.failLine(1, 268, 268) ==
      "BenchGuard: 1 problem(s) across 268/268 checked queries")
  }

  test("a clip with no flat query pair falls back to retimed first/retry minima") {
    // the r12 committed-artifact shape: the tail window held only the
    // retimed object — name:{...} entries the flat-pair regex correctly
    // refuses. The last-resort fallback reads min(first, retry), which
    // is exactly the confirmed value Bench.confirm recorded in "queries".
    val tail = """st_gc_ms":512},"retimed":{"n58_three_stage_curation":{"first":108.7,"retry":12.1,"first_gc_ms":88},"w03_session_windows":{"first":5.04,"retry":3.02}},"storm":{"baseline":0.112,"baseline_readings":[0.466,0.123,0.112]}"""
    assert(BenchGuard.extractQueries(tail) == Map(
      "n58_three_stage_curation" -> 12.1, "w03_session_windows" -> 3.02))
  }

  test("no timings in any recoverable shape returns empty, never throws") {
    // the caller (main) owns the clean-failure exit; the r12 `require`
    // here turned an unreplayable artifact into a stack trace
    assert(BenchGuard.extractQueries("""{"n": 4, "rc": 0}""").isEmpty)
  }

  test("every committed artifact replays to its pinned verdict") {
    // pass/fail and the flagged queries of each committed artifact
    // against bench_budget.json; a ceiling change updates these pins
    // in the same commit
    val pinned = Map(
      "BENCH_r01.json" -> (false, Set("q02_join_agg", "q03_multi_join",
        "q04_semi_join", "q10_count_distinct")),
      "BENCH_r02.json" -> (false, Set("c05_fold_global_agg", "q02_join_agg",
        "q03_multi_join", "q06_outer_join")),
      "BENCH_r03.json" -> (false, Set("n19_repetition_stats",
        "q01_pricing_summary", "s05_stream_from_queue")),
      "BENCH_r04.json" -> (true, Set.empty[String]),
      "BENCH_r05.json" -> (true, Set.empty[String]),
      "BENCH_r06.json" -> (false, Set("s19_stream_importance_gate")),
      "BENCH_r07.json" -> (false, Set("n34_leakage_safe_split",
        "n43_pagerank", "n57_dedup_keep_best")),
      "BENCH_r08.json" -> (false, Set("s19_stream_importance_gate",
        "s21_stream_quality_gate")),
      "BENCH_r09.json" -> (false, Set("s19_stream_importance_gate",
        "s21_stream_quality_gate", "s27_stream_reward_gate")),
      "BENCH_r10.json" -> (false, Set("s19_stream_importance_gate",
        "s21_stream_quality_gate", "s27_stream_reward_gate")),
      "BENCH_r11.json" -> (false, Set("s19_stream_importance_gate",
        "s21_stream_quality_gate", "s27_stream_reward_gate")),
      "BENCH_r12.json" -> (false, Set("s27_stream_reward_gate")),
      "BENCH_r13.json" -> (false, Set("s19_stream_importance_gate",
        "s21_stream_quality_gate", "s27_stream_reward_gate")),
      "BENCH_r14.json" -> (false, Set("n140_group_advantage",
        "n142_zca_whitening", "n144_dup_size_histogram",
        "s19_stream_importance_gate", "s21_stream_quality_gate",
        "s27_stream_reward_gate", "s33_stream_ks_monitor")),
      "BENCH_r15.json" -> (false, Set("n140_group_advantage",
        "n144_dup_size_histogram", "n145_conformal_gate",
        "n148_best_of_k_uplift", "n154_pass_at_k",
        "s27_stream_reward_gate", "s44_stream_passk_monitor")),
      "BENCH_r16.json" -> (true, Set.empty[String]),
      "BENCH_r17.json" -> (true, Set.empty[String]),
      "BENCH_r17_c8.json" -> (true, Set.empty[String]),
      "BENCH_r18.json" -> (true, Set.empty[String]),
      "BENCH_r18_c8.json" -> (true, Set.empty[String]),
      "bench_last.json" -> (true, Set.empty[String]))
    def read(f: String) =
      java.nio.file.Files.readString(java.nio.file.Paths.get(f))
    val committed = new java.io.File(".").list().toSeq
      .filter(f => f.matches("BENCH_r.*\\.json") || f == "bench_last.json")
    assert(committed.toSet == pinned.keySet,
      "every committed artifact carries a pin")
    val budgets = BenchGuard.parseFlat(read("bench_budget.json"))
    val flaggedName = """BenchGuard FAIL: ([cnqsw]\d+_\w+)""".r.unanchored
    pinned.toSeq.sortBy(_._1).foreach { case (f, (pass, flagged)) =>
      val (lines, ok) = BenchGuard.replay(f, read(f), budgets,
        SparkEntry.queries.keySet)
      assert(ok == pass, s"$f: ${lines.mkString("\n")}")
      assert(lines.collect { case flaggedName(n) => n }.toSet == flagged,
        s"$f: ${lines.mkString("\n")}")
      assert(lines.last.startsWith(
        if (pass) "BenchGuard PASS" else "BenchGuard: "), f)
    }
  }
}
