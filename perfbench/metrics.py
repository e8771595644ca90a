"""Turns the client's event log into the benchmark's metrics.

Pure functions over the JSON records `perfbench.Harness` writes; the unit
tests in perfbench/tests exercise the two rules that are easy to get
wrong: the tail percentile and the driver-only time.
"""
import statistics

# Candidate tail percentiles, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 80.0, 75.0, 50.0)
MIN_BEYOND = 10

# Jobs attributed to an engine source file by the call site Spark records
# for their stages: only files that run actions themselves show up (the
# rest build lazy plans whose jobs start in the query or the client).
ATTRIBUTED = {"operators.MLOps": "MLOps", "operators.Rules": "Rules",
              "operators.Staging": "Staging", "streaming.IngestLoop": "IngestLoop",
              "Tables": "Tables"}
KERNELS = ("minhash", "simhash64", "bpe_count", "nearest_center", "pq_lut")


def percentile(values, p):
    """Linear-interpolated percentile (the inclusive method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_rung(n, ladder=TAIL_LADDER, beyond=MIN_BEYOND):
    """The highest percentile of `ladder` that leaves at least `beyond` of
    `n` samples above it, or None when even the lowest rung does not."""
    for p in ladder:
        if n * (100.0 - p) >= beyond * 100.0 - 1e-6:
            return p
    return None


def tail(samples):
    """(tail latency, percentile used) of {op: [latencies]}: the highest
    rung with at least ten samples beyond it. Below twenty samples no rung
    has, and the tail is the slowest op's median latency (p100 of the
    per-op medians)."""
    values = [v for vs in samples.values() for v in vs]
    rung = tail_rung(len(values))
    if rung is None:
        return max(median(vs) for vs in samples.values()), 100.0
    return percentile(values, rung), rung


def union_length(intervals):
    """Total length covered by a set of [start, end] intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def driver_only(window, intervals):
    """Wall time of `window` during which no job was running: the window
    minus the union of the job intervals clipped to it."""
    w0, w1 = window
    clipped = [(max(s, w0), min(e, w1)) for s, e in intervals]
    return (w1 - w0) - union_length(clipped)


def median(values):
    return statistics.median(values) if values else 0.0


def end_to_end(ev):
    """The metrics of one untraced run that BENCHMARK.json bounds."""
    setups = [e["s"] for e in ev if e["type"] == "setup"]
    passes = [e for e in ev if e["type"] == "pass"]
    return {
        "setup_s": (median(setups), "s"),
        "pass_cpu_s": (median([p["cpu_s"] for p in passes]), "s"),
        "peak_heap_mb": (max(p["live_heap_b"] for p in passes) / 2**20 if passes else 0.0, "MB"),
    }


def latency(ev):
    """Wall-clock latency of the timed ops: (pass_s, op_p50_s, op_tail_s,
    percentile the tail used)."""
    timed = [e for e in ev if e["type"] == "op" and e["phase"] == "timed"]
    samples = {}
    for e in timed:
        if e["ok"]:
            samples.setdefault(e["id"], []).append(e["total_s"])
    by_pass = {}
    for e in timed:
        by_pass[e["pass"]] = by_pass.get(e["pass"], 0.0) + e["total_s"]
    done = {e["pass"] for e in ev if e["type"] == "pass"}
    t, rung = tail(samples) if samples else (0.0, 100.0)
    return (median([v for p, v in by_pass.items() if p in done]),
            median([v for vs in samples.values() for v in vs]), t, rung)


def streaming(ev):
    """Micro-batch figures of the timed window, and the bytes the ops
    left behind against the bytes they landed."""
    b = [e for e in ev if e["type"] == "batch" and e["phase"] == "timed"]
    trig = [e["trigger_ms"] / 1e3 for e in b]
    rows = sum(e["rows"] for e in b)
    timed = [e for e in ev if e["type"] == "op" and e["phase"] == "timed" and e["ok"]]
    landed = sum(e.get("landed_b", 0) for e in timed)
    written = sum(e.get("written_b", 0) for e in timed)
    return {
        "batches": len(b),
        "input_rows": rows,
        "add_batch_s": sum(e["add_ms"] for e in b) / 1e3,
        "query_planning_s": sum(e["plan_ms"] for e in b) / 1e3,
        "wal_commit_s": sum(e["wal_ms"] for e in b) / 1e3,
        "rows_per_s": rows / sum(trig) if trig and sum(trig) > 0 else 0.0,
        "batch_p50_s": median(trig),
        "batch_tail_s": percentile(trig, tail_rung(len(trig)) or 100.0) if trig else 0.0,
        "bytes_written_per_input_byte": written / landed if landed else 0.0,
    }


def per_layer(ev):
    """Layer metrics of one traced run, per timed pass unless named as a
    rate or ratio."""
    win0 = next((e["t"] for e in ev if e["type"] == "window_start"), 0.0)
    win1 = next((e["t"] for e in ev if e["type"] == "window_end"), win0)
    cores = next(e["cores"] for e in ev if e["type"] == "start")
    timed = [e for e in ev if e["type"] == "op" and e["phase"] == "timed"]
    npass = max(1, len([e for e in ev if e["type"] == "pass"]))
    starts = {e["job"]: e for e in ev if e["type"] == "job_start" and e["phase"] == "timed"}
    jobs = [dict(starts[e["job"]], end=e["t"], **e) for e in ev
            if e["type"] == "job_end" and e["job"] in starts and "tasks" in e]
    for j in jobs:
        j["t0"], j["t1"] = starts[j["job"]]["t"], j["end"]

    def per_pass(v):
        return v / npass

    def total(key, js=jobs):
        return sum(j[key] for j in js)

    m = {}
    m["client.pass_s"], m["client.op_p50_s"], m["client.op_tail_s"], _ = latency(ev)
    ok = [e for e in timed if e["ok"]]
    m["queries.build_s"] = per_pass(sum(e["build_s"] for e in ok))
    m["queries.plan_s"] = per_pass(sum(e["plan_s"] for e in ok))
    m["queries.exec_s"] = per_pass(sum(e["exec_s"] for e in ok))
    m["spark.jobs"] = per_pass(len(jobs))
    m["spark.jobs_per_op"] = len(jobs) / max(1, len(timed))
    spans = [(j["t0"], j["t1"]) for j in jobs]
    m["spark.driver_only_s"] = per_pass(sum(driver_only((e["t0"], e["t1"]), spans) for e in ok))
    m["spark.scheduler_delay_s"] = per_pass(total("sched_s"))
    m["spark.core_util"] = total("task_s") / ((win1 - win0) * cores) if win1 > win0 else 0.0
    m["spark.task_run_s"] = per_pass(total("task_s"))
    m["spark.task_cpu_s"] = per_pass(total("cpu_s"))
    m["spark.gc_s"] = per_pass(total("gc_s"))
    m["spark.shuffle_read_mb"] = per_pass(total("shuffle_read_b")) / 2**20
    m["spark.shuffle_write_mb"] = per_pass(total("shuffle_write_b")) / 2**20
    m["spark.spill_mb"] = per_pass(total("spill_b")) / 2**20
    m["spark.failed_tasks"] = per_pass(total("failed_tasks"))
    m["Tables.input_mb"] = per_pass(total("input_b")) / 2**20
    m["Tables.input_rows"] = per_pass(total("input_rows"))
    for name, f in ATTRIBUTED.items():
        js = [j for j in jobs if j["file"] == f]
        m[f"{name}.jobs"] = per_pass(len(js))
        m[f"{name}.job_s"] = per_pass(union_length([(j["t0"], j["t1"]) for j in js]))
        m[f"{name}.task_s"] = per_pass(total("task_s", js))
    kern = {e["name"]: e["rows"] / e["s"] for e in ev if e["type"] == "kernel" and e["s"] > 0}
    for k in KERNELS:
        m[f"functions.{k}_rows_per_s"] = kern.get(k, 0.0)
    st = streaming(ev)
    for k in ("batches", "input_rows", "add_batch_s", "query_planning_s", "wal_commit_s"):
        m[f"streaming.{k}"] = per_pass(st[k])
    m["streaming.output_mb"] = per_pass(total("output_b", [j for j in jobs if j["streaming"]])) / 2**20
    for k in ("rows_per_s", "batch_p50_s", "batch_tail_s", "bytes_written_per_input_byte"):
        m[f"streaming.{k}"] = st[k]
    return m


def unit(name):
    """Unit of a per-layer metric, read off its name."""
    for suffix, u in (("_rows_per_s", "rows/s"), ("rows_per_s", "rows/s"), ("_s", "s"),
                      ("_mb", "MB"), ("_rows", "rows"), ("core_util", "ratio"),
                      ("per_input_byte", "ratio"), ("per_op", "jobs/op")):
        if name.endswith(suffix):
            return u
    return "count"
