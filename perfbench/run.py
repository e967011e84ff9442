"""graft pipeline benchmark: one workload per invocation.

    python3 perfbench/run.py --workload bank-knn --seed 1 --seconds 20 --trace 0

Run from the repository root. It builds the library and the harness
(perfbench/build.py), generates the workload's events from --seed
(perfbench/gen.py), runs the harness JVM (perfbench/src), checks every
output against the DuckDB oracles (perfbench/oracle.py), and prints one JSON
line: with --trace 0 the end-to-end metrics, with --trace 1 the per-layer
metrics of a traced run. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

# Events per workload; the serve calls score 4-series batches cut from the
# same corpus's test patches against the model fitted on it.
WORKLOADS = {
    "bank-knn": dict(series=16, days=30, per_hour=1),
    "dense-ingest": dict(series=8, days=30, per_hour=1200),
}
# closed-loop ModelStore.loadAndScore calls per traced rep (the serve
# layer's per-layer metrics); untraced reps skip them, see README
CALLS_PER_REP = 4
N_BATCHES = 2
ORACLE_THREADS = 2
GAP_RATE = 0.03
DAY_GAP_RATE = 0.03
# one timed rep fits in run_seconds; a traced run adds an untraced rep to
# measure the tracing overhead
MIN_REPS = 1
MIN_REPS_TRACED = 2
HEAP = "3g"
JVM_TIMEOUT_S = 160
LAYERS = (["modelstore.save"] +
          [f"tscore.{s}" for s in ("grid", "fill", "inject", "patches")] +
          ["detect.weight", "detect.score", "postprocess.mask", "impute.linear",
           "forecast.impact", "modelstore.score"])
LAYER_METRICS = ["wall_s", "build_s", "jobs", "builder_jobs", "task_s", "idle_s",
                 "shuffle_mb", "skew", "failed_tasks"]
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def generate(path, spec, seed):
    """Generate a corpus unless this seed's corpus is already there."""
    if os.path.exists(os.path.join(path, "events.parquet")):
        return 0.0
    t0 = time.perf_counter()
    gen.write(path, spec["series"], spec["days"], spec["per_hour"], GAP_RATE, DAY_GAP_RATE,
              seed)
    return time.perf_counter() - t0


def run_jvm(classes, args, work, corpus, threads):
    """Run the harness and, during its warm-up, the DuckDB checks: the
    harness writes the oracle SQL first, marks the serve outputs with
    `serve.ready`, and holds its timed reps until `oracle.done` exists.
    Returns (exit code, oracle frames, serve check failures); a check that
    raised is returned as the exception."""
    jars = os.path.join(build.spark_jars(), "*")
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] +
           [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
            "-cp", f"{classes}{os.pathsep}{jars}", "perfbench.Harness"] + args)
    os.makedirs(f"{work}/tmp", exist_ok=True)
    deadline = time.monotonic() + JVM_TIMEOUT_S

    def await_file(p, name):
        while not os.path.exists(os.path.join(work, name)) and p.poll() is None:
            time.sleep(0.05)
        return p.poll() is None

    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            wants = serve_fails = None
            if await_file(p, "oracle_sql.json"):
                con = oracle.connect(threads)
                try:
                    wants = oracle.run_oracles(con, os.path.join(work, "oracle_sql.json"), corpus)
                    if await_file(p, "serve.ready"):
                        serve_fails = oracle.check_serve(
                            con, os.path.join(work, "check"), os.path.join(work, "model"),
                            oracle.batch_dirs(work))
                except Exception as e:
                    wants = serve_fails = e
                open(os.path.join(work, "oracle.done"), "w").close()
            return p.wait(timeout=max(1.0, deadline - time.monotonic())), wants, serve_fails
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()


def tail(path, n=40):
    with open(path, errors="replace") as f:
        return "".join(f.readlines()[-n:])


def metric(value, unit):
    return {"value": value, "unit": unit}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    w = WORKLOADS[a.workload]

    classes = build.build()
    root = build.build_dir()
    # one corpus per workload is kept: a new seed replaces the last one
    data = os.path.join(root, "data")
    tag = f"{a.workload}-{a.seed}"
    if os.path.isdir(data):
        for d in os.listdir(data):
            if d.startswith(a.workload + "-") and d != tag:
                shutil.rmtree(os.path.join(data, d), ignore_errors=True)
    corpus = os.path.join(data, tag, "corpus")
    gen_s = generate(corpus, w, a.seed)

    work = os.path.join(root, "runs", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cpus = len(os.sched_getaffinity(0))
    reps = MIN_REPS_TRACED if a.trace else MIN_REPS
    calls = CALLS_PER_REP if a.trace else 0
    args = [f"corpus={corpus}", f"work={work}", f"seconds={a.seconds}", f"minReps={reps}",
            f"callsPerRep={calls}", f"nBatches={N_BATCHES}", f"trace={a.trace}", f"cpus={cpus}"]
    rc, wants, serve_fails = run_jvm(classes, args, work, corpus, ORACLE_THREADS)
    res_path = os.path.join(work, "result.json")
    if rc != 0 or not os.path.exists(res_path):
        sys.stderr.write(tail(os.path.join(work, "jvm.log")))
        raise SystemExit(f"perfbench: harness exited with {rc}")
    with open(res_path) as f:
        r = json.load(f)
    attempted, failed = int(r["attempted"]), int(r["failed"])
    if "error" in r:
        sys.stderr.write(f"perfbench: {r['error']}\n")
        print(json.dumps({"correct": False, "attempted": max(attempted, 1), "failed": failed,
                          "metrics": {}}))
        sys.exit(1)

    check = os.path.join(work, "check")
    if isinstance(wants, Exception):
        fails = [f"oracle run failed: {type(wants).__name__}: {wants}"]
    else:
        fails = oracle.check_pipeline(check, wants) + serve_fails
    q = oracle.quality(check)
    for f in fails:
        sys.stderr.write(f"perfbench: oracle mismatch: {f}\n")
    correct = not fails and failed == 0 and all(np.isfinite(v) for v in q.values())

    if a.trace == 0:
        m = {
            "pipeline_s": metric(statistics.median(r["pipeline_s"]), "s"),
            "setup_s": metric(statistics.median(r["setup_s"]), "s"),
            "heap_peak_mb": metric(r["heap_peak_mb"], "MiB"),
            "calls_ok_frac": metric((attempted - failed) / attempted, "frac"),
            "detect_auroc": metric(q["detect_auroc"], "auroc"),
            "forecast_mae_cleaned": metric(q["forecast_mae_cleaned"], "load"),
        }
    else:
        units = {"wall_s": "s", "build_s": "s", "task_s": "s", "idle_s": "s",
                 "shuffle_mb": "MB", "skew": "ratio"}
        m = {f"{l}.{k}": metric(r["layers"][l][k], units.get(k, "count"))
             for l in LAYERS for k in LAYER_METRICS}
        m["log_errors"] = metric(int(r["log_errors"]), "count")
        m["log_errors.accumulator"] = metric(int(r["log_errors_accumulator"]), "count")
        m["trace.overhead_frac"] = metric(
            r["traced_pipeline_s"] / r["untraced_pipeline_s"] - 1.0, "frac")
        m["trace.layer_sum_frac"] = metric(r["layer_sum_frac"], "frac")
        m["setup.warmup_s"] = metric(r["warmup_s"], "s")
        m["setup.gen_s"] = metric(gen_s, "s")
    print(json.dumps({"correct": bool(correct), "attempted": attempted, "failed": failed,
                      "metrics": m}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
