"""The benchmark's arithmetic: percentiles, span self times, layer totals,
and matching paced feed files to the micro-batches that consumed them.

Everything here is pure and tested in test_stats.py against hand-computed
expectations."""
import glob
import json
import math
import os
import statistics


def pct(values, q):
    """Nearest-rank percentile with its sample count: the smallest value
    with at least q% of the samples at or below it."""
    vals = sorted(values)
    if not vals:
        return float("nan"), 0
    rank = max(1, math.ceil(q / 100.0 * len(vals)))
    return vals[rank - 1], len(vals)


def median(values):
    return statistics.median(values) if values else float("nan")


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Self time of every span: its duration minus the part of its
    interval that its children cover (children clipped to the parent)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        clipped = [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                   for c in kids.get(s["id"], [])]
        covered = union_length([(a, b) for a, b in clipped if b > a])
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


PLAN = {"analysis": "plan.analysis_ms", "optimize": "plan.optimize_ms",
        "physical": "plan.physical_ms"}


def layers(spans):
    """Per-operation layer totals from one traced window.

    An operation is a root span: a `query` (batch workloads) or a `batch`
    (one micro-batch). Returns (per-op dicts, accounted share): each dict
    holds the op's wall time and its layer totals; the accounted share is
    (build self + planning + job time + driver other) / wall over all ops,
    which is 1 when the spans explain each op's wall time."""
    st = self_times(spans)
    by_id = {s["id"]: s for s in spans}
    ops = {}
    for s in spans:
        if s["parent"] == -1:
            ops[s["op"]] = {"name": s["name"], "wall_ms": s["end"] - s["start"],
                            "attrs": s["attrs"], "jobs": [], "start": s["start"],
                            "end": s["end"]}
    for op in ops.values():
        for k in ["ops.build_ms", "ops.build_jobs", "driver.other_ms",
                  "sched.jobs", "sched.stages", "sched.tasks", "sched.delay_ms",
                  "jobs_ms"] + list(PLAN.values()):
            op[k] = 0.0
    stage_keys = {"run_ms": "exec.run_ms", "cpu_ms": "exec.cpu_ms",
                  "deser_ms": "exec.deser_ms", "gc_ms": "exec.gc_ms",
                  "scan_bytes": "io.scan_bytes", "scan_rows": "io.scan_rows",
                  "shuffle_write_bytes": "shuffle.write_bytes",
                  "shuffle_read_bytes": "shuffle.read_bytes",
                  "fetch_wait_ms": "shuffle.fetch_wait_ms",
                  "spill_bytes": "shuffle.spill_bytes",
                  "result_bytes": "driver.result_bytes"}
    for op in ops.values():
        for k in stage_keys.values():
            op[k] = 0.0
        op["exec.peak_mem_bytes"] = 0.0
    for s in spans:
        op = ops[s["op"]]
        name = s["name"]
        if name in ("query", "execute", "batch"):
            op["driver.other_ms"] += st[s["id"]]
        elif name == "build":
            op["ops.build_ms"] += st[s["id"]]
        elif name in PLAN:
            op[PLAN[name]] += st[s["id"]]
        elif name == "job":
            op["sched.jobs"] += 1
            op["jobs"].append((s["start"], s["end"]))
            if by_id[s["parent"]]["name"] == "build":
                op["ops.build_jobs"] += 1
        elif name == "stage":
            a = s["attrs"]
            op["sched.stages"] += 1
            op["sched.tasks"] += a.get("tasks", 0)
            op["sched.delay_ms"] += a.get("delay_ms", 0)
            for k, m in stage_keys.items():
                op[m] += a.get(k, 0)
            op["exec.peak_mem_bytes"] = max(op["exec.peak_mem_bytes"],
                                            a.get("peak_mem_bytes", 0))
    wall = accounted = 0.0
    for op in ops.values():
        op["jobs_ms"] = union_length(
            [(max(a, op["start"]), min(b, op["end"])) for a, b in op["jobs"]])
        wall += op["wall_ms"]
        accounted += (op["ops.build_ms"] + sum(op[k] for k in PLAN.values())
                      + op["jobs_ms"] + op["driver.other_ms"])
    return list(ops.values()), (accounted / wall if wall else float("nan"))


def read_spans(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def _log_entries(path):
    """JSON entries of one metadata-log file (a version line, then JSON)."""
    with open(path) as f:
        return [json.loads(x) for x in f.read().splitlines()[1:] if x.strip()]


def source_log(ckpt):
    """{file name: source log offset} from a file-stream checkpoint's
    source log (`sources/0/<n>` and compacted `<n>.compact` files)."""
    out = {}
    for p in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        if not os.path.basename(p).startswith("."):
            for e in _log_entries(p):
                out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def offset_log(ckpt):
    """{query batch id: source log offset it read up to} from `offsets/`
    (a version line, the batch metadata, then one offset per source)."""
    out = {}
    for p in glob.glob(os.path.join(ckpt, "offsets", "*")):
        name = os.path.basename(p)
        if name.isdigit():
            out[int(name)] = int(_log_entries(p)[1]["logOffset"])
    return out


def file_batches(file_offset, batch_offset):
    """{file: query batch that consumed it}: the first batch whose source
    offset reaches the file's log offset."""
    ends = sorted((o, b) for b, o in batch_offset.items())
    out = {}
    for f, o in file_offset.items():
        b = next((b for end, b in ends if end >= o), None)
        if b is not None:
            out[f] = b
    return out


def commit_times(ckpt):
    """{batch id: commit time in epoch ms} from the commit log's mtimes."""
    out = {}
    for p in glob.glob(os.path.join(ckpt, "commits", "*")):
        name = os.path.basename(p)
        if name.isdigit():
            out[int(name)] = os.stat(p).st_mtime_ns / 1e6
    return out


def emit_lags(paced, file_batch, batch_commit):
    """Lag of each paced file: from its due time to the commit of the batch
    that consumed it. Returns (lags in ms, files never committed)."""
    lags, missing = [], []
    for p in paced:
        b = file_batch.get(p["file"])
        if b is None or b not in batch_commit:
            missing.append(p["file"])
        else:
            lags.append(batch_commit[b] - p["due_ms"])
    return lags, missing


def backlog_at_batches(paced, file_batch, batch_start):
    """Mean number of paced files already put but not yet consumed when
    each batch that consumed a paced file started. The file the batch
    itself consumes counts, so 1 means no queue (or slightly less, when the
    trigger started just before the file landed)."""
    batches = sorted({file_batch[p["file"]] for p in paced if p["file"] in file_batch})
    waiting = []
    for b in batches:
        t = batch_start.get(b)
        if t is None:
            continue
        waiting.append(sum(1 for p in paced if p["put_ms"] <= t
                           and file_batch.get(p["file"], b) >= b))
    return sum(waiting) / len(waiting) if waiting else 0.0


def topo_order(keys, deps, rng):
    """A seeded shuffle of `keys` that keeps every producer of `deps`
    (producer, consumer) pairs ahead of its consumers."""
    order = list(keys)
    rng.shuffle(order)
    preds = {k: set() for k in keys}
    for p, c in deps:
        preds[c].add(p)
    done, out = set(), []
    while len(out) < len(order):
        k = next(k for k in order if k not in done and preds[k] <= done)
        done.add(k)
        out.append(k)
    return out
