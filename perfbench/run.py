#!/usr/bin/env python3
"""graft benchmark: one command per workload, run from the repository root.

    python3 perfbench/run.py --workload curate_batch --seed 1 --seconds 8 --trace 0

Workloads (key lists and reasons in perfbench/workloads.json):
  curate_batch  closed loop, one client, one LLM curation chain per pass
  feed_stream   the streaming feed: closed-loop drain, then an open-loop
                paced phase at a fixed share of the drain rate just measured
  sql_adhoc     closed loop, one client, relational keys of SparkEntry.queries;
                runnable, but not in BENCHMARK.json (see CHANGES.md)

The first run builds the library and the harness from source with sbt
(perfbench/build.sbt). Each run generates its inputs from the seed into a
private work directory under perfbench/.work, which it removes at the end.
Human-readable lines (every metric with its unit and sample count) go to
stdout; the last stdout line is one JSON object with `correct`,
`attempted`, `failed` and `metrics` (the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1). Traced runs also keep
their spans in perfbench/out/.

End-to-end metrics, the same names on every workload:
  setup_s       from the run's start (after any build) to the first timed
                operation: input generation, JVM and session, warm-up
  pass_s        median wall time of one pass (batch workloads) or the
                wall time of draining the staged backlog (feed)
  op_p50_ms     median latency of one operation: a query built and
                materialized through the noop sink (batch workloads), or
                one drain-phase micro-batch's triggerExecution (feed)
  op_p90_ms     90th percentile of the same
Memory (peak RSS, heap still live after a full GC) is printed on every run
and reported per layer; it moves too much between runs to carry a bound.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402

CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
JVM_HEAP = "-Xmx3g"
RUN_LIMIT_S = 170


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def spark_home():
    """The Spark installation (SPARK_HOME) whose jars the library builds
    and runs on."""
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        log("perfbench: no Spark installation found (set SPARK_HOME)")
        sys.exit(2)
    return home


def sources():
    """Every file the build reads, for the build stamp."""
    out = [os.path.join(HERE, "build.sbt"),
           os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, fs in os.walk(base):
            out += [os.path.join(d, f) for f in fs]
    return sorted(out)


def build():
    """Compile the library sources and the harness when they changed."""
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft",
                                       "SparkEntry.scala")):
        log("perfbench: the library sources (src/main/scala) are missing")
        sys.exit(2)
    h = hashlib.sha256()
    for p in sources():
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(HERE, "target", "build.stamp")
    if os.path.isfile(stamp) and open(stamp).read() == h.hexdigest():
        return
    env = dict(os.environ, SPARK_HOME=spark_home(), COURSIER_MODE="offline", SBT_OPTS=(
        "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g "
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
        " -Dsbt.server.autostart=false"))
    log("perfbench: building (sbt compile) ...")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       timeout=840)
    if r.returncode != 0:
        log("perfbench: build failed")
        sys.exit(3)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())


def make_plan(args, wl, work):
    plan = {"workload": args.workload, "trace": bool(args.trace),
            "seconds": args.seconds, "work": work,
            "result": os.path.join(work, "result.json"),
            "spans": os.path.join(work, "spans.jsonl")}
    if args.workload == "feed_stream":
        f = wl["feed"]
        n = f["warm"] + f["backlog"] + f["paced"]
        names = gen.feed(os.path.join(work, "feed"), args.seed, n, f["file_rows"])
        plan["feed"] = {
            "staged": os.path.join(work, "feed", "staged"), "pace": f["pace"],
            "warm": names[:f["warm"]],
            "backlog": names[f["warm"]:f["warm"] + f["backlog"]],
            "paced": names[f["warm"] + f["backlog"]:]}
    else:
        data = os.path.join(work, "data")
        gen.tables(data)
        rng = random.Random(args.seed)
        plan.update(data=data, warmup=wl["warmup"], memo_reset=wl["memo_reset"],
                    orders=[stats.topo_order(wl["keys"], wl.get("deps", []), rng)
                            for _ in range(200)])
    return plan


def run_jvm(plan_path, work, deadline):
    # every file the JVM writes stays in the work directory: no perf-data
    # file in the system temp dir, and no inherited SPARK_LOCAL_DIRS
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    cmd = (["java", JVM_HEAP, "-XX:-UsePerfData", "-Djava.io.tmpdir=" + os.path.join(work, "tmp")]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", CLASSES + os.pathsep + os.path.join(spark_home(), "jars", "*"),
              "graft.perfbench.Main", plan_path])
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "jvm.log"), "w") as out:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=out, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            log("".join(f.readlines()[-40:]))
        log(f"perfbench: JVM failed ({rc})")
        sys.exit(4)


def report(name, value, unit, n=None):
    extra = f"  (n={n})" if n is not None else ""
    print(f"  {name:<28} {value:>14.4f} {unit}{extra}")


E2E_UNITS = {"setup_s": "s", "pass_s": "s", "op_p50_ms": "ms", "op_p90_ms": "ms"}


def latency(samples):
    """(p50, p90, n) of one window's operation latencies."""
    return stats.pct(samples, 50)[0], stats.pct(samples, 90)[0], len(samples)


def batch_window(w):
    walls = [p["wall_ms"] / 1000 for p in w["passes"]]
    p50, p90, n = latency([q[1] for p in w["passes"] for q in p["queries"]])
    return {"pass_s": (stats.median(walls), len(walls)),
            "op_p50_ms": (p50, n), "op_p90_ms": (p90, n)}


def feed_window(w):
    """Drain time, drain-phase micro-batch latencies and the paced files'
    emit lags."""
    ckpt = w["checkpoint"]
    fb = stats.file_batches(stats.source_log(ckpt), stats.offset_log(ckpt))
    lags, missing = stats.emit_lags(w["paced"], fb, stats.commit_times(ckpt))
    drain = [b for b in w["batches"][:w["drain_batches"]] if b["rows"] > 0]
    p50, p90, n = latency([b["trigger_ms"] for b in drain])
    return {"pass_s": (w["drain_ms"] / 1000, 1), "op_p50_ms": (p50, n),
            "op_p90_ms": (p90, n), "drain_rows": sum(b["rows"] for b in drain),
            "lags": lags, "missing": missing, "file_batch": fb}


def check(args, wl, res, plan):
    """(attempted, failed, mismatch descriptions) of the run's checks."""
    if args.workload == "feed_stream":
        bad = [c for c in res["checks"] if (c["sink_rows"], c["sink_hash"]) !=
               (c["twin_rows"], c["twin_hash"])]
        missing = [f for w in res["windows"] for f in feed_window(w)["missing"]]
        files = len(plan["feed"]["backlog"]) + len(plan["feed"]["paced"])
        attempted = files * len(res["windows"]) + len(res["checks"])
        return (attempted, len(bad) + len(missing),
                [f"sink != batch twin ({'traced' if c['traced'] else 'untraced'})"
                 for c in bad] + [f"paced file never committed: {f}" for f in missing])
    with open(os.path.join(HERE, "expected.json")) as f:
        expected = json.load(f)
    wrong = [k for k in wl["keys"] if res["fingerprints"].get(k) != expected.get(k)]
    attempted = (len(wl["keys"]) * (wl["warmup"] + 1)     # warm-up runs, fingerprints
                 + sum(len(p["queries"]) for w in res["windows"] for p in w["passes"])
                 + 2 * len(res.get("count_ms", {})))
    return (attempted, len(res["errors"]) + len(wrong),
            [f"{k}: {res['fingerprints'].get(k)} != expected {expected.get(k)}"
             for k in wrong])


def summarize(args, wl, res, setup_s, plan):
    feed = args.workload == "feed_stream"
    windows = [(feed_window if feed else batch_window)(w) for w in res["windows"]]
    attempted, failed, mismatched = check(args, wl, res, plan)
    e2e = dict(windows[0], setup_s=(setup_s, 1))
    print(f"perfbench {args.workload} seed={args.seed} cpus={res['cpus']}: session "
          f"{res['session_ms'] / 1000:.2f} s, warm-up passes "
          f"{[round(x / 1000, 2) for x in res.get('warmup_ms', [])]} s")
    for k, unit in E2E_UNITS.items():
        report(k, e2e[k][0], unit, e2e[k][1])
    report("rss_peak_mb", res["rss_peak_mb"], "MB", 1)
    report("live_heap_mb", res["live_heap_mb"], "MB", 1)
    workload_lines(args, res, windows[0], plan)
    report("failed_frac", failed / attempted, "ratio", attempted)
    for k in mismatched:
        print(f"  mismatch: {k}")
    for e in res["errors"]:
        print(f"  error: {e['key']} ({e['phase']}): {e['error']}")
    if args.trace:
        metrics = per_layer(args, res, windows, plan)
    else:
        metrics = {k: {"value": e2e[k][0], "unit": u} for k, u in E2E_UNITS.items()}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def workload_lines(args, res, w, plan):
    """The workload's own names for its end-to-end numbers."""
    if args.workload == "feed_stream":
        rw = res["windows"][0]
        report("rows_per_s", w["drain_rows"] / w["pass_s"][0], "rows/s", w["op_p50_ms"][1])
        report("batch_p50_ms", w["op_p50_ms"][0], "ms", w["op_p50_ms"][1])
        report("batch_p90_ms", w["op_p90_ms"][0], "ms", w["op_p90_ms"][1])
        lag50, lag90, n = latency(w["lags"])
        report("emit_lag_p50_ms", lag50, "ms", n)
        report("emit_lag_p90_ms", lag90, "ms", n)
        report("gen.late_ms (max)", generator_late(rw), "ms", len(rw["paced"]))
        print(f"  paced rate {1000 / rw['interval_ms']:.3f} files/s "
              f"({plan['feed']['pace']} x the measured drain rate), "
              f"{len(plan['feed']['paced'])} paced files, "
              f"{len(plan['feed']['backlog'])} backlog files")
    else:
        report("query_p50_ms", w["op_p50_ms"][0], "ms", w["op_p50_ms"][1])
        report("query_p90_ms", w["op_p90_ms"][0], "ms", w["op_p90_ms"][1])
        per_key = {}
        for p in res["windows"][0]["passes"]:
            for k, ms in p["queries"]:
                per_key.setdefault(k, []).append(ms)
        print("  per-key median ms: " + ", ".join(
            f"{k} {stats.median(v):.0f}" for k, v in
            sorted(per_key.items(), key=lambda kv: -stats.median(kv[1]))))


def generator_late(window):
    """How far the paced generator fell behind its schedule (max, ms)."""
    return max([p["put_ms"] - p["due_ms"] for p in window["paced"]] or [0.0])


LAYER_MEANS = [
    "io.scan_bytes", "io.scan_rows", "ops.build_ms", "ops.build_jobs",
    "plan.analysis_ms", "plan.optimize_ms", "plan.physical_ms",
    "sched.jobs", "sched.stages", "sched.tasks", "sched.delay_ms",
    "exec.run_ms", "exec.cpu_ms", "exec.deser_ms", "exec.gc_ms",
    "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.fetch_wait_ms",
    "shuffle.spill_bytes", "driver.result_bytes", "driver.other_ms"]
STREAM_PHASES = {"io.latest_offset_ms": "latestOffset", "io.get_batch_ms": "getBatch",
                 "stream.planning_ms": "queryPlanning", "stream.add_batch_ms": "addBatch",
                 "stream.wal_commit_ms": "walCommit",
                 "stream.commit_offsets_ms": "commitOffsets"}


def per_layer(args, res, windows, plan):
    """Per-layer metrics of the traced window: means per operation (a query,
    or a micro-batch that read data) unless the name says otherwise.
    Layers a workload never enters read 0."""
    spans = stats.read_spans(plan["spans"])
    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    shutil.copy(plan["spans"], os.path.join(
        out_dir, f"spans-{args.workload}-seed{args.seed}.jsonl"))
    ops, accounted = stats.layers(spans)
    feed = args.workload == "feed_stream"
    if feed:
        ops = [o for o in ops if o["attrs"].get("input_rows", 0) > 0]
    n = max(1, len(ops))
    m = {k: sum(o[k] for o in ops) / n for k in LAYER_MEANS}
    m["exec.peak_mem_bytes"] = max([o["exec.peak_mem_bytes"] for o in ops] or [0.0])
    # the traced window; the untraced one it is compared with is the window
    # after it (feed) or the passes it alternated with (batch workloads)
    ti = next(i for i, w in enumerate(res["windows"]) if w["traced"])
    tw, traced = res["windows"][ti], windows[ti]
    untraced = windows[ti + 1] if feed else windows[0]
    for k, phase in STREAM_PHASES.items():
        m[k] = stats.median([o["attrs"]["ms." + phase] for o in ops]) if feed else 0.0
    m.update({k: 0.0 for k in ["stream.state_commit_ms", "stream.state_rows",
                               "stream.state_mem_bytes", "stream.late_dropped_rows",
                               "stream.emit_lag_p50_ms", "stream.emit_lag_p90_ms",
                               "io.backlog_files", "gen.late_ms", "memo.served"]})
    m["plan.codegen_classes"] = tw["codegen_classes"] / n
    m["plan.codegen_ms"] = tw["codegen_ms"] / n
    if feed:
        last = max(ops, key=lambda o: o["attrs"]["batch_id"])["attrs"]
        m["stream.state_commit_ms"] = stats.median([o["attrs"]["state_commit_ms"] for o in ops])
        m["stream.state_rows"] = last["state_rows"]
        m["stream.state_mem_bytes"] = last["state_mem_bytes"]
        m["stream.late_dropped_rows"] = sum(b["late_dropped_rows"] for b in tw["batches"])
        m["stream.emit_lag_p50_ms"], m["stream.emit_lag_p90_ms"], _ = latency(traced["lags"])
        m["io.backlog_files"] = stats.backlog_at_batches(
            tw["paced"], traced["file_batch"],
            {b["batch_id"]: b["start_ms"] for b in tw["batches"]})
        m["gen.late_ms"] = generator_late(tw)
    else:
        served = sorted({p["memo_served"] for w in res["windows"] for p in w["passes"]})
        m["memo.served"] = float(served[0])
        if len(served) > 1:
            print(f"  memo.served differs between passes: {served}")
    m["jvm.rss_peak_mb"] = res["rss_peak_mb"]
    m["jvm.live_heap_mb"] = res["live_heap_mb"]
    m["trace.accounted_pct"] = 100.0 * accounted
    for k in ["pass_s", "op_p50_ms", "op_p90_ms"]:
        m[f"trace.overhead.{k}"] = traced[k][0] - untraced[k][0]
    m["count_noop.keys_over_2x"] = float(count_vs_noop(res))
    print(f"  per-layer (traced window, {len(ops)} operations):")
    for k in sorted(m):
        report(k, m[k], unit_of(k))
    return {k: {"value": m[k], "unit": unit_of(k)} for k in sorted(m)}


def unit_of(k):
    if k.endswith("_ms") or k.startswith("trace.overhead.op"):
        return "ms"
    if k.endswith("_s"):
        return "s"
    if k.endswith("_mb"):
        return "MB"
    if k.endswith("_bytes"):
        return "bytes"
    if k.endswith("_pct"):
        return "%"
    return "count"


def count_vs_noop(res):
    """Keys whose count() time and median noop time differ by more than 2x."""
    noop = {}
    for p in res["windows"][0].get("passes", []):
        for k, ms in p["queries"]:
            noop.setdefault(k, []).append(ms)
    flagged = 0
    for k, c in sorted(res.get("count_ms", {}).items()):
        n = stats.median(noop.get(k, []))
        if n and c and max(n / c, c / n) > 2:
            print(f"  count/noop > 2x: {k} (noop {n:.1f} ms, count {c:.1f} ms)")
            flagged += 1
    return flagged


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--write-expected", action="store_true",
                    help="record this run's fingerprints in expected.json")
    args = ap.parse_args()
    with open(os.path.join(HERE, "workloads.json")) as f:
        workloads = json.load(f)
    if args.workload not in workloads:
        log(f"perfbench: unknown workload {args.workload}")
        sys.exit(2)
    wl = workloads[args.workload]
    build()
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t_setup = time.time()
        plan = make_plan(args, wl, work)
        plan_path = os.path.join(work, "plan.json")
        with open(plan_path, "w") as f:
            json.dump(plan, f)
        run_jvm(plan_path, work, t_setup + RUN_LIMIT_S)
        with open(plan["result"]) as f:
            res = json.load(f)
        if args.write_expected:
            write_expected(res)
        result = summarize(args, wl, res, res["first_timed_ms"] / 1000 - t_setup, plan)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work directory is still there
    print(json.dumps(result))


def write_expected(res):
    """Merge this run's batch fingerprints into expected.json. Only do this
    on a tree whose outputs match the DuckDB oracle (tools/check.py)."""
    path = os.path.join(HERE, "expected.json")
    with open(path) as f:
        expected = json.load(f)
    expected.update(res.get("fingerprints", {}))
    with open(path, "w") as f:
        json.dump(dict(sorted(expected.items())), f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    main()
