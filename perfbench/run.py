#!/usr/bin/env python3
"""Runs one benchmark workload and prints its metrics.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 5 --trace 0

From the repository root. Builds the engine and the benchmark client
(perfbench/build.py), generates the seeded input (perfbench/gen.py),
drives the catalog entries of the workload in one JVM
(perfbench.Harness), checks every result against its DuckDB oracle
(scripts/oracle_compare.py) and against the first result of the run, and
prints one JSON object as the last line of standard output. Everything a
run writes goes under .bench_build/runs/<run> and is deleted at the end;
traced runs keep their span file under .bench_build/traces.
"""
import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import time  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_build")
RUN_LIMIT_S = 165  # wall limit of a run after its build, enforced from outside the JVM
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def note(msg):
    print(f"[perfbench] {msg}", flush=True)


def read_events(path):
    ev = []
    if os.path.exists(path):
        with open(path) as fh:
            for line in fh:
                try:
                    ev.append(json.loads(line))
                except ValueError:
                    pass  # a line cut short by a kill
    return ev


def run_client(cp, run_dir, data, ops, args, log_path, limit_s):
    """The JVM client, killed from outside when it overruns its limit."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Harness",
            f"data={data}", "ops=" + ",".join(ops), f"seed={args.seed}",
            f"seconds={args.seconds}", f"trace={args.trace}",
            f"work={run_dir}", f"out={log_path}"])
    with open(os.path.join(run_dir, "client.log"), "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                                start_new_session=True)

        def stop(signum, frame):
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            shutil.rmtree(run_dir, ignore_errors=True)
            sys.exit(128 + signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            rc = proc.wait(timeout=limit_s)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = None
        signal.signal(signal.SIGTERM, signal.SIG_DFL)
        signal.signal(signal.SIGINT, signal.SIG_DFL)
    if rc not in (0, None):
        with open(os.path.join(run_dir, "client.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
    return rc


def oracle_check(run_dir, data, ops):
    """Names of the ops whose check-pass result differs from its oracle."""
    check = os.path.join(run_dir, "check")
    script = os.path.join(ROOT, "scripts", "oracle_compare.py")
    r = subprocess.run([sys.executable, script, check, data] + list(ops),
                       capture_output=True, text=True,
                       env=dict(os.environ, PYTHONDONTWRITEBYTECODE="1"))
    good = {line.split()[1] for line in r.stdout.splitlines() if line.startswith("ok ")}
    for line in r.stdout.splitlines():
        if line.startswith(("FAIL", "ERR")):
            note(f"oracle: {line}")
    return [o for o in ops if o not in good]


def count_ops(ev, ops, oracle_bad):
    """(attempted, failed). A run cut short counts every op it did not
    finish in its current pass as attempted and failed."""
    done = [e for e in ev if e["type"] == "op"]
    check = {e["id"]: e for e in done if e["phase"] == "check"}
    failed = len([o for o in ops if o not in check or not check[o]["ok"] or o in oracle_bad])
    attempted = len(ops)
    timed = [e for e in done if e["phase"] == "timed"]
    for e in timed:
        ref = check.get(e["id"])
        if not e["ok"] or ref is None or not ref["ok"] or ref["digest"] != e["digest"]:
            failed += 1
            note(f"failed {e['id']} in pass {e['pass']}: {e.get('err') or 'result differs from the checked one'}")
    attempted += len(timed)
    finished = any(e["type"] == "window_end" for e in ev)
    if not finished and check:
        # the pass in flight when the client was stopped
        last = max((e["pass"] for e in timed), default=0)
        left = len(ops) - len([e for e in timed if e["pass"] == last]) if last else len(ops)
        attempted += left
        failed += left
    for o in ops:
        if o in check and not check[o]["ok"]:
            note(f"failed {o} in the check pass: {check[o].get('err')}")
    return attempted, failed


def write_spans(ev, path):
    """Span tree of a traced run: op -> build/plan/exec -> job -> stage."""
    ops = [e for e in ev if e["type"] == "op" and e["phase"] == "timed"]
    jobs = {e["job"]: e for e in ev if e["type"] == "job_start" and e["phase"] == "timed"}
    ends = {e["job"]: e for e in ev if e["type"] == "job_end"}
    stages = {}
    for e in ev:
        if e["type"] == "stage":
            stages.setdefault(e["job"], []).append(e)
    with open(path, "w") as fh:
        for o in ops:
            span = {"span": "op", "id": o["id"], "pass": o["pass"], "t0": o["t0"],
                    "t1": o["t1"], "ok": o["ok"], "children": []}
            if o["ok"]:
                t = o["t0"]
                for part in ("build", "plan", "exec"):
                    span["children"].append({"span": part, "t0": t, "t1": t + o[part + "_s"]})
                    t += o[part + "_s"]
            for j, s in jobs.items():
                if o["t0"] <= s["t"] <= o["t1"]:
                    end = ends.get(j, {})
                    parent = next((c for c in span["children"]
                                   if c["t0"] <= s["t"] <= c["t1"]), span)
                    parent.setdefault("jobs", []).append({
                        "span": "job", "job": j, "file": s["file"],
                        "streaming": s["streaming"], "t0": s["t"], "t1": end.get("t"),
                        "tasks": end.get("tasks"), "task_s": end.get("task_s"),
                        "stages": [{"span": "stage", "stage": st["stage"], "name": st["name"],
                                    "t0": st["t0"], "t1": st["t1"], "tasks": st["tasks"]}
                                   for st in stages.get(j, [])]})
            fh.write(json.dumps(span) + "\n")


def layer_self_times(m):
    """Self time per pass of each layer: the driver-side part of the ops
    outside any job (queries), the job time of each attributed file, and
    the rest of the job time (spark)."""
    files = {k: m[f"{k}.job_s"] for k in metrics.ATTRIBUTED}
    jobs_s = m["queries.build_s"] + m["queries.plan_s"] + m["queries.exec_s"] - m["spark.driver_only_s"]
    out = {"queries": m["spark.driver_only_s"], "spark": max(0.0, jobs_s - sum(files.values()))}
    out.update({k: v for k, v in files.items() if v > 0})
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    wl = WORKLOADS[args.workload]

    cp = build.build()
    t_built = time.time()
    os.makedirs(os.path.join(OUT, "runs"), exist_ok=True)
    run_dir = os.path.join(OUT, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        data = gen.generate(os.path.join(run_dir, "data"), args.seed,
                            wl["scale"], wl["text_scale"], wl["replicas"])
        log_path = os.path.join(run_dir, "events.jsonl")
        t0 = time.time()
        # leave time for the oracle compare after the client
        rc = run_client(cp, run_dir, data, wl["ops"], args, log_path,
                        RUN_LIMIT_S - 10 - (time.time() - t_built))
        note(f"client exit {rc} after {time.time() - t0:.1f} s")
        ev = read_events(log_path)
        for e in ev:
            if e["type"] in ("setup", "check", "quiesce"):
                note(f"{e['type']} {e.get('i', '')} {e['s']:.2f} s")
        if not any(e["type"] == "start" for e in ev):
            raise SystemExit("perfbench: the client did not start")
        oracle_bad = oracle_check(run_dir, data, wl["ops"])
        attempted, failed = count_ops(ev, wl["ops"], oracle_bad)
        note("timed ops: " + ", ".join(
            f"{e['id'].split('_')[0]} {e['total_s']:.3f}/{e['cpu_s']:.3f}" for e in ev
            if e["type"] == "op" and e["phase"] == "timed"))
        e2e = metrics.end_to_end(ev)
        pass_s, p50, tail_s, rung = metrics.latency(ev)
        note(f"wall latency: pass {pass_s:.3f} s, op p50 {p50:.3f} s, "
             f"op tail {tail_s:.3f} s (p{rung:g})")
        st = metrics.streaming(ev)
        note(f"ingest: {st['rows_per_s']:.1f} rows/s, batch p50 {st['batch_p50_s']:.3f} s, "
             f"written/landed {st['bytes_written_per_input_byte']:.2f}")
        out = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        if args.trace:
            m = metrics.per_layer(ev)
            m["trace.pass_s"] = pass_s
            os.makedirs(os.path.join(OUT, "traces"), exist_ok=True)
            spans = os.path.join(OUT, "traces", f"{args.workload}-seed{args.seed}.spans.jsonl")
            write_spans(ev, spans)
            note(f"spans written to {os.path.relpath(spans, ROOT)}")
            note("layer self time per pass: " + ", ".join(
                f"{k} {v:.3f} s" for k, v in layer_self_times(m).items()))
            ref = os.path.join(OUT, f"untraced-{args.workload}.json")
            if os.path.exists(ref):
                base = json.load(open(ref))["pass_s"]
                note(f"tracing overhead: traced pass_s {m['trace.pass_s']:.3f} s vs untraced "
                     f"{base:.3f} s ({(m['trace.pass_s'] / base - 1) * 100:+.1f}%)")
            out = {k: {"value": v, "unit": metrics.unit(k)} for k, v in m.items()}
        else:
            with open(os.path.join(OUT, f"untraced-{args.workload}.json"), "w") as fh:
                json.dump({"pass_s": pass_s}, fh)
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": out}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
