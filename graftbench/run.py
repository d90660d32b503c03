#!/usr/bin/env python3
"""Run one graft benchmark workload and print its metrics.

    python3 graftbench/run.py --workload olap --seed 7 --seconds 12 --trace 0

Run it from the root of a graft checkout. The first run builds the engine
and the harness with sbt (offline, against the local caches), generates
the input tables and caches the DuckDB oracle answers, all under
graftbench/.work/. The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer split. See
graftbench/README.md for what each workload and metric means.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import shutil
import subprocess
import sys
from datetime import datetime, timezone

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CORES = min(2, os.cpu_count() or 1)  # see README.md, Load shape
HEAP = "4g"
SF = 0.01          # batch input scale (TESTDATA.md's sf0.01 shape)
DATA_SEED = 42     # batch inputs are fixed; --seed orders the passes
JVM_TIMEOUT_S = 150

# Frozen query sets (see README.md for how they were drawn).
WORKLOADS = {
    # passes: the minimum timed passes of an untraced run; a traced run
    # makes twice traced_passes, half of them with listeners on
    "olap": {"mode": "batch", "passes": 6, "traced_passes": 4, "queries": [
        "c04_union_append", "c12_managed_sink", "q05_anti_join",
        "q13_set_ops", "q21_grouping_sets", "q29_window_first_last",
        "q37_range_frame", "q45_listagg", "q53_market_share",
        "w06_punctuated_windows"]},
    "live": {"mode": "live"},
}

END_TO_END = {"setup_s": "s", "wall_s": "s", "latency_p50_ms": "ms",
              "latency_tail_ms": "ms"}
PER_LAYER = {
    "queries.build_ms": "ms", "exec.run_ms": "ms",
    "plan.analysis_ms": "ms", "plan.optimizer_ms": "ms",
    "plan.physical_ms": "ms", "plan.exchanges": "count",
    "plan.joins": "count", "plan.wscg_stages": "count",
    "codegen.compiles": "count", "codegen.compile_ms": "ms",
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
    "sched.task_run_ms": "ms", "sched.task_cpu_ms": "ms",
    "sched.busy_share": "ratio", "sched.speedup_1core": "ratio",
    "scan.bytes": "bytes", "shuffle.write_bytes": "bytes",
    "shuffle.read_bytes": "bytes", "spill.bytes": "bytes",
    "jvm.gc_ms": "ms", "jvm.heap_peak_mb": "MB", "cache.drop_ms": "ms",
    "stream.batches": "count", "stream.nodata_batches": "count",
    "stream.trigger_ms": "ms", "stream.offset_ms": "ms",
    "stream.planning_ms": "ms", "stream.addbatch_ms": "ms",
    "stream.wal_ms": "ms", "stream.commit_ms": "ms",
    "stream.lifecycle_ms": "ms", "state.rows": "count",
    "state.memory_bytes": "bytes", "state.commit_ms": "ms",
    "state.late_dropped": "count", "source.lag_ms": "ms",
    "source.backlog_events": "count", "sink.write_ms": "ms",
    "gen.late_ms": "ms", "trace.residual_share": "ratio",
    "trace.overhead_share": "ratio",
}
# counters that are peaks, not per-pass sums
PEAKS = {"jvm.heap_peak_mb", "state.rows", "state.memory_bytes"}
# Fewer GC and JIT threads than cores, so that with the two task threads
# the JVM does not burst past the cores it is given (see README.md).
JVM_FLAGS = ["-XX:+UseParallelGC", "-XX:ParallelGCThreads=2",
             "-XX:CICompilerCount=2"]
OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def info(msg):
    print(f"graftbench: {msg}", flush=True)


def die(msg, code=2):
    print(f"graftbench: {msg}", file=sys.stderr, flush=True)
    sys.exit(code)


def tree_hash(paths):
    h = hashlib.sha256()
    for base in paths:
        files = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile the engine and the harness once per source tree; returns
    the runtime classpath."""
    key = tree_hash([os.path.join(ROOT, "src", "main"),
                     os.path.join(ROOT, "build.sbt"),
                     os.path.join(ROOT, "project", "build.properties"),
                     os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
                     os.path.join(HERE, "project", "build.properties")])
    stamp, cp_file = os.path.join(WORK, "build.key"), os.path.join(WORK, "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == key:
        return open(cp_file).read().strip()
    info("building engine and harness with sbt")
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export graftbench/Runtime/fullClasspath"],
            cwd=HERE, env=sbt_env(), stdout=out, stderr=subprocess.STDOUT,
            timeout=800)
    lines = [ln.strip() for ln in open(log) if ln.strip()]
    cp = next((ln for ln in reversed(lines)
               if not ln.startswith("[") and "classes" in ln), None)
    if p.returncode != 0 or cp is None:
        die(f"build failed, see {log}")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(key)
    return cp


def data_dir():
    """The batch input tables: generated once, keyed by generator source."""
    key = tree_hash([os.path.join(HERE, "gen.py")])[:12]
    d = os.path.join(WORK, "data", f"sf{SF}-seed{DATA_SEED}-{key}")
    if not os.path.exists(os.path.join(d, ".done")):
        shutil.rmtree(d, ignore_errors=True)
        gen.generate(d, SF, DATA_SEED)
        open(os.path.join(d, ".done"), "w").close()
    return d


def run_jvm(cp, rundir, args):
    os.makedirs(os.path.join(rundir, "tmp"))
    tmp = os.path.join(rundir, "tmp")
    cmd = ["java", *OPENS, *JVM_FLAGS, f"-Xms{HEAP}", f"-Xmx{HEAP}",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "graftbench.Harness",
           f"out={rundir}", *[f"{k}={v}" for k, v in args.items()]]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(CORES))
    with open(os.path.join(rundir, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=rundir, env=env, stdout=log,
                             stderr=subprocess.STDOUT)
        try:
            p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            die(f"harness timed out after {JVM_TIMEOUT_S}s")
    res = os.path.join(rundir, "result.json")
    if p.returncode != 0 or not os.path.exists(res):
        die(f"harness exited {p.returncode}, see {rundir}/jvm.log")
    return json.load(open(res))


# ---------------------------------------------------------------- checks

def load_check():
    spec = importlib.util.spec_from_file_location(
        "check", os.path.join(ROOT, "tools", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def content_hash(df):
    """Row count and an order-free hash of a result's rows."""
    df = df.reindex(sorted(df.columns), axis=1)
    rows = sorted(repr(tuple(r)) for r in df.itertuples(index=False))
    return len(rows), hashlib.sha256("\n".join(rows).encode()).hexdigest()


def verify_batch(res, data, rundir, expected):
    """Compare every verification-pass result with its DuckDB oracle (or,
    for queries without one, with the committed row count and hash).
    Returns the names of the queries that failed."""
    import duckdb
    import pandas as pd
    check = load_check()
    oracles = json.load(open(os.path.join(rundir, "verify", "oracle_sql.json")))
    cache = os.path.join(WORK, "oracle", os.path.basename(data))
    os.makedirs(cache, exist_ok=True)
    con = None
    failed = []
    for v in res["verify"]:
        q = v["query"]
        if v["err"]:
            failed.append(f"{q}: {v['err']}")
            continue
        got = pd.read_parquet(os.path.join(rundir, "verify", q))
        if q not in oracles:
            want = expected.get(q)
            if want is None or list(content_hash(got)) != want:
                failed.append(f"{q}: rows/hash {content_hash(got)} != {want}")
            continue
        sql = oracles[q]
        path = os.path.join(cache, hashlib.sha256(sql.encode()).hexdigest()[:20] + ".pkl")
        if os.path.exists(path):
            want = pd.read_pickle(path)
        else:
            if con is None:
                con = duckdb.connect()
                for t in check.TABLES:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
            want = con.execute(sql).fetchdf()
            want.to_pickle(path)
        err = check.compare(q, got, want)
        if err:
            failed.append(f"{q}: {err}")
    return failed


# ---------------------------------------------------------------- metrics

def batch_result(res, trace, expected, data, rundir, queries):
    failed_q = verify_batch(res, data, rundir, expected)
    for f in failed_q:
        info(f"MISMATCH {f}")
    execs = res["execs"]
    errs = [e for e in execs if e["err"]]
    for e in errs[:5]:
        info(f"ERROR {e['query']}: {e['err']}")
    attempted = len(res["verify"]) + len(execs)
    failed = len(failed_q) + len(errs)
    if trace:  # the one-core pass of a traced run
        attempted += len(queries)
        failed += res["one_core_errors"]
    m, geo, n = stats.batch_metrics(execs, res["pass_wall_ms"])
    tail = m["latency_tail_ms"]
    info(f"{len(queries)} queries, {len(res['pass_wall_ms'])} timed passes, "
         f"{n} timed executions; tail is the p{stats.BATCH_TAIL_Q}, "
         + (f"with {sum(1 for e in execs if e['ms'] > tail)} beyond it; "
            if tail else "n/a; ")
         + f"geomean of per-query medians {geo:.1f} ms")
    if trace:
        return attempted, failed, batch_layers(res)
    if tail is None:
        die(f"{n} timed executions leave fewer than 10 beyond the "
            f"p{stats.BATCH_TAIL_Q}")
    return attempted, failed, {"setup_s": res["setup_s"], **m}


def covered(span, children):
    """Length of the union of child intervals inside a span."""
    iv = sorted((max(c["start"], span["start"]), min(c["end"], span["end"]))
                for c in children)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in iv:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            total += (cur_e - cur_s) if cur_e is not None else 0.0
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + ((cur_e - cur_s) if cur_e is not None else 0.0)


def nest(spans, roots, kids):
    """Listeners only know which query execution an event belongs to. Put
    each planning phase, job and micro-batch under the `queries.build` or
    `exec.run` span whose time holds its start, and each stage under its
    job, so self times follow the span tree."""
    def holder(x, candidates):
        return next((c for c in candidates if c["start"] <= x["start"] < c["end"]), None)
    for r in roots:
        own = kids.get(r["id"], [])
        calls = [k for k in own if k["name"] in ("queries.build", "exec.run")]
        jobs = [k for k in own if k["name"] == "job"]
        for k in own:
            if k in calls:
                continue
            h = holder(k, jobs) if k["name"] == "stage" else None
            h = h or holder(k, calls)
            if h is not None:
                k["parent"] = h["id"]


def batch_layers(res):
    c = res["counters"]
    passes = len(res["pass_wall_ms"])
    execs = res["execs"]
    wall = sum(e["ms"] for e in execs)
    out = {k: (c.get(k, 0.0) if k in PEAKS else c.get(k, 0.0) / passes)
           for k in PER_LAYER}
    out["queries.build_ms"] = sum(e["build_ms"] for e in execs) / passes
    out["exec.run_ms"] = sum(e["exec_ms"] for e in execs) / passes
    out["sched.busy_share"] = c.get("sched.task_run_ms", 0.0) / (res["cores"] * wall)
    out["sched.speedup_1core"] = res["one_core_pass_wall_ms"] / stats.median(res["pass_wall_ms"])
    spans = res["spans"]
    roots = [s for s in spans if s["name"] == "query"]
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    layer = {r["id"]: [k for k in kids.get(r["id"], [])
                       if k["name"] not in ("queries.build", "exec.run")]
             for r in roots}
    q_wall = sum(r["end"] - r["start"] for r in roots)
    q_cov = sum(covered(r, layer[r["id"]]) for r in roots)
    out["trace.residual_share"] = (q_wall - q_cov) / q_wall
    out["trace.overhead_share"] = (stats.median(res["pass_wall_ms"]) /
                                   stats.median(res["plain_pass_wall_ms"]) - 1)
    nest(spans, roots, kids)
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    self_ms = {}
    for s in spans:
        d = s["end"] - s["start"]
        self_ms[s["name"]] = self_ms.get(s["name"], 0.0) + d - covered(s, kids.get(s["id"], []))
    info("self time per span (ms per pass): " + ", ".join(
        f"{k} {v / passes:.0f}" for k, v in sorted(self_ms.items())))
    info(f"layers cover {q_cov / q_wall:.1%} of query wall; residual "
         f"{out['trace.residual_share']:.1%}; tracing overhead "
         f"{out['trace.overhead_share']:+.1%}")
    return out


def epoch_ms(iso):
    return datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=timezone.utc).timestamp() * 1000


def drain_checks(res, window_ms, slide_ms):
    """Every drain of the backlog must consume all of it and emit exactly
    the reference windows up to its final watermark. Returns (attempted,
    failed): per drain, one operation for the event count and one per
    window."""
    ref = stats.window_reference(res["backlog"], window_ms, slide_ms)
    drains = [res["drain"], *res.get("plain_drain", [])]
    if "one_core_drain" in res:
        drains.append(res["one_core_drain"])
    attempted = failed = 0
    for d in drains:
        wm = epoch_ms(d["watermark"]) if d["watermark"] else 0
        a, f = stats.check_windows(d["rows"], ref, wm, window_ms)
        short = d["events"] != len(res["backlog"])
        if f or short:
            info(f"drain: {d['events']} of {len(res['backlog'])} events "
                 f"consumed, {f} of {a} windows wrong or missing")
        attempted += a + 1
        failed += f + short
    return attempted, failed


def live_result(res, trace):
    lv = res["live"]
    w, delay = lv["window_ms"], lv["delay_ms"]
    events, rows = lv["events"], lv["rows"]
    ref = stats.window_reference(events, w, lv["slide_ms"])
    marks = [p[4] for p in lv["progress"] if p[4]]
    final_wm = epoch_ms(marks[-1]) if marks else 0
    attempted, failed = stats.check_windows(rows, ref, final_wm, w)
    # backlog at each batch start inside the timed span
    writes, backlog, consumed = lv["writes"], [], 0
    for _bid, start, n, _trig, _wm in lv["progress"]:
        if lv["timed_from"] <= start < lv["timed_to"]:
            written = max((c for t, c in writes if t <= start), default=0)
            backlog.append(written - consumed)
        consumed += n
    grows = stats.backlog_grows(backlog, lv["rate"])
    if grows or lv["consumed"] < lv["generated"]:
        info(f"backlog grew or was not drained: {backlog}")
        failed = attempted
    if failed:
        info(f"{failed} of {attempted} windows wrong or missing")
    d_att, d_fail = drain_checks(res, w, lv["slide_ms"])
    attempted += d_att
    failed += d_fail
    moments, n_windows = stats.live_latencies(rows, events, w, delay,
                                              lv["timed_from"], lv["timed_to"])
    lat = list(moments.values())
    p90 = stats.percentile(lat, 90)
    drain = res["drain"]
    info(f"{len(lat)} closing moments in the timed span, closing {n_windows} "
         "windows; tail is the p90, "
         + (f"with {sum(1 for x in lat if x > p90)} moments beyond it"
            if p90 else "n/a")
         + f"; generator ran at most {lv['gen_late_ms']} ms late")
    info(f"drain: {drain['events']:.0f} events in {drain['wall_ms']:.0f} ms = "
         f"{drain['events'] / drain['wall_ms'] * 1000:.0f} events/s")
    if p90 is None:
        die("fewer than 10 closing moments beyond the p90 in the timed span")
    if not trace:
        return attempted, failed, {
            "setup_s": res["setup_s"], "wall_s": drain["wall_ms"] / 1000.0,
            "latency_p50_ms": stats.quantile(lat, 0.5), "latency_tail_ms": p90}
    c = res["counters"]
    out = {k: c.get(k, 0.0) for k in PER_LAYER}
    span_ms = lv["query_ms"] + drain["wall_ms"]
    out["sched.busy_share"] = c.get("sched.task_run_ms", 0.0) / (res["cores"] * span_ms)
    plain_ms = stats.median(d["wall_ms"] for d in res["plain_drain"])
    out["sched.speedup_1core"] = res["one_core_drain"]["wall_ms"] / plain_ms
    out["stream.lifecycle_ms"] = lv["start_ms"] + lv["stop_ms"]
    mean_backlog = sum(backlog) / len(backlog) if backlog else 0.0
    out["source.backlog_events"] = mean_backlog
    out["source.lag_ms"] = mean_backlog / lv["rate"] * 1000
    out["sink.write_ms"] = lv["sink_ms"]
    out["gen.late_ms"] = lv["gen_late_ms"]
    live_trig = sum(p[3] for p in lv["progress"])
    out["trace.residual_share"] = 1 - live_trig / lv["query_ms"]
    out["trace.overhead_share"] = drain["wall_ms"] / plain_ms - 1
    info(f"lifecycle {out['stream.lifecycle_ms']:.0f} ms of a "
         f"{lv['query_ms']:.0f} ms live query; batches cover "
         f"{live_trig / lv['query_ms']:.1%} of it")
    return attempted, failed, out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    for need in ("build.sbt", "src/main/scala/graft/GraftSession.scala", "tools/check.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"not a graft checkout: {need} is missing under {ROOT}")
    os.makedirs(WORK, exist_ok=True)
    cp = build()
    wl = WORKLOADS[a.workload]
    rundir = os.path.join(WORK, "run", a.workload)
    shutil.rmtree(rundir, ignore_errors=True)
    args = {"mode": wl["mode"], "seed": a.seed, "seconds": a.seconds,
            "trace": a.trace}
    if wl["mode"] == "batch":
        data = data_dir()
        args.update(data=data, queries=",".join(wl["queries"]),
                    passes=wl["traced_passes" if a.trace else "passes"])
        res = run_jvm(cp, rundir, args)
        expected = json.load(open(os.path.join(HERE, "expected.json")))
        attempted, failed, metrics = batch_result(
            res, a.trace, expected, data, rundir, wl["queries"])
    else:
        res = run_jvm(cp, rundir, args)
        attempted, failed, metrics = live_result(res, a.trace)
    info(f"host ext_busy {res['host_start']['ext_busy']:.3f} -> "
         f"{res['host_end']['ext_busy']:.3f}, mem psi "
         f"{res['host_end']['mem_psi_avg10']:.2f}; failed_frac "
         f"{failed / attempted:.4f}")
    units = PER_LAYER if a.trace else END_TO_END
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units}}))


if __name__ == "__main__":
    main()
