"""Pipeline benchmark of the graft engine: one command, one workload, one seed.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the program and the
benchmark (see build.py) and generates the input tables (gen_data.py) under
`.bench_build/`; later runs reuse both while their sources are unchanged.
Each run starts one JVM, drives the workload through the program's public
entry points, checks every result, prints each metric with its unit and
sample count, and ends with one JSON line:
{"correct": .., "attempted": .., "failed": .., "metrics": {name: {value, unit}}}
With --trace 0 the metrics are BENCHMARK.json's end_to_end set, with
--trace 1 its per_layer set (0 where the workload does not exercise a layer).

`--pin` instead records the result fingerprints of the dashboard views and
heavy queries into perfbench/expected.txt (see README.md).
"""
import argparse
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen_data  # noqa: E402

WORKLOADS = ["ingest_stream", "dashboard_poll", "heavy_queries", "log_read_write"]
DATA_SEED = 42  # the input tables are fixed; --seed drives each workload's ops
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def ensure_data(root):
    """Input tables, regenerated whenever the generator changes."""
    out = os.path.join(root, build.OUT, "data", "base")
    st = build.stamp([os.path.join(HERE, "gen_data.py")]) + f"/{DATA_SEED}"
    stamp_file = out + ".stamp"
    if not (os.path.exists(stamp_file) and open(stamp_file).read() == st):
        shutil.rmtree(out, ignore_errors=True)
        gen_data.generate(out, seed=DATA_SEED)
        with open(stamp_file, "w") as fh:
            fh.write(st)
    return out


def run_jvm(cp, args, work):
    """Run perfbench.Main; returns (exit code, pid). Output goes to work/jvm.log."""
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-Xmx3g", "-XX:ReservedCodeCacheSize=1g",
              f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", cp, "perfbench.Main"] + args)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
        try:
            return p.wait(timeout=JVM_TIMEOUT_S), p.pid
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return -9, p.pid


def scrub(pid, work):
    """Remove the run's directories and the /tmp scratch its JVM left."""
    for d in glob.glob(f"/tmp/*_p{pid}_*"):
        shutil.rmtree(d, ignore_errors=True) if os.path.isdir(d) else os.remove(d)
    shutil.rmtree(work, ignore_errors=True)


def trace_overhead(history, key, traced_work_s, self_frac):
    """Traced vs untraced `work_s` of this workload and build in this
    checkout; before any such untraced run exists, the share of the run spent
    inside the recorder and the tracing listener instead.
    """
    base = [r["work_s"] for r in history
            if r.get("key") == key and r["trace"] == 0 and r["work_s"]]
    if base:
        return traced_work_s / statistics.median(base) - 1.0, len(base)
    return self_frac, 0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--pin", action="store_true")
    a = ap.parse_args()

    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    cp = build.build(root)
    key = f"{a.workload}/{a.seconds}/{open(os.path.join(root, build.OUT, 'classes', 'bench.stamp')).read()[:16]}"
    data = ensure_data(root)
    work = os.path.abspath(os.path.join(root, build.OUT, "work", f"{a.workload}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    expected = os.path.join(HERE, "expected.txt")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", data, "--work", work, "--out", out,
            "--expected", expected]
    if a.pin:
        args += ["--pin", os.path.join(work, "pins.txt")]
    t0 = time.time()
    code, pid = run_jvm(cp, args, work)
    if code != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log"), errors="replace") as fh:
            sys.stderr.write(fh.read()[-6000:])
        scrub(pid, work)
        raise SystemExit(f"workload {a.workload} failed: JVM exit {code}")
    with open(out) as fh:
        res = json.load(fh)
    if a.pin:
        merged = {}
        if os.path.exists(expected):
            for line in open(expected):
                if line.strip() and not line.startswith("#"):
                    k, r, h = line.split()
                    merged[k] = (r, h)
        for line in open(os.path.join(work, "pins.txt")):
            k, r, h = line.split()
            merged[k] = (r, h)
        with open(expected, "w") as fh:
            fh.write("# result fingerprints: key rows hash (perfbench/run.py --pin)\n")
            fh.writelines(f"{k} {r} {h}\n" for k, (r, h) in sorted(merged.items()))
    traces = os.path.join(root, build.OUT, "traces")
    if a.trace:
        os.makedirs(traces, exist_ok=True)
        spans = os.path.join(work, "spans.jsonl")
        if os.path.exists(spans):
            shutil.copy(spans, os.path.join(traces, f"{a.workload}-seed{a.seed}.spans.jsonl"))
    scrub(pid, work)

    history_file = os.path.join(root, build.OUT, "history.jsonl")
    history = []
    if os.path.exists(history_file):
        history = [json.loads(l) for l in open(history_file) if l.strip()]
    work_s = res["e2e"].get("work_s", {}).get("value")
    with open(history_file, "a") as fh:
        fh.write(json.dumps({"key": key, "seed": a.seed, "trace": a.trace,
                             "work_s": work_s}) + "\n")

    layer = res["layer"]
    if a.trace:
        frac, n = trace_overhead(history, key, work_s,
                                 layer.get("trace_overhead_self_frac", {}).get("value", 0.0))
        layer["trace_overhead_frac"] = {"value": frac, "unit": "frac", "n": n}

    print(f"# perfbench {a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace} "
          f"wall={time.time() - t0:.1f}s")
    for section in ("e2e", "info", "layer"):
        for k, m in res[section].items():
            print(f"{section:5s} {k:44s} {m['value']!s:>24} {m['unit']:6s} n={m['n']}")
    print(f"correct={res['correct']} attempted={res['attempted']} failed={res['failed']}")
    for p in res["problems"]:
        print(f"problem: {p}")
    if a.trace:
        print(f"spans: {os.path.relpath(traces, root)}/{a.workload}-seed{a.seed}.spans.jsonl")

    if a.trace:
        names = [(m["name"], m["unit"]) for m in spec["per_layer"]]
        metrics = {n: {"value": layer.get(n, {}).get("value", 0.0) or 0.0, "unit": u}
                   for n, u in names}
    else:
        names = [(m["name"], m["unit"]) for m in spec["end_to_end"]]
        missing = [n for n, _ in names if n not in res["e2e"]]
        if missing:
            raise SystemExit(f"workload {a.workload} did not report {missing}")
        metrics = {n: {"value": res["e2e"][n]["value"], "unit": u} for n, u in names}
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
