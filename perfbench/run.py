#!/usr/bin/env python3
"""Benchmark of the retail ETL engine.

    python3 perfbench/run.py --workload retail_etl --seed 1 --seconds 10 --trace 0

Run from the repository root. The run generates its inputs from ``--seed``
under ``.perfbench_work/`` (excluded from every metric), then starts one
fresh engine process with one ``get_spark`` session at ``local[<cores>]``,
as the daily job runs. ``setup_s`` is that process's start to session
ready plus one warm-up pass. The process then runs passes of the workload
back to back (one client, closed loop) until ``--seconds`` have passed and
the workload's minimum number of passes ran, checking every pass's outputs
outside the timed region.

The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the per-layer ones,
from passes run with Spark job groups and status-store harvesting,
interleaved with untraced passes to measure the tracing overhead.
Lines before it give the same figures for people, with input sizes,
failing jobs and the tail percentile's sample count. Spans of a traced run
are written to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
PACKAGE = "etl_pipeline_for_retail_sales_data_spark"
WORKER_TIMEOUT_S = 160

# input sizes: "bench" for measurement, "smoke" for the benchmark's own test
SCALES = {
    "bench": {"orders": 1500, "docs": 500, "retail_rows": 200_000, "batches": 3, "batch_size": 133},
    "smoke": {"orders": 300, "docs": 120, "retail_rows": 2_000, "batches": 2, "batch_size": 40},
}


def generate(workload: str, seed: int, scale: dict, work: str) -> dict:
    import gen

    rng = np.random.default_rng(seed)
    inputs: dict = {"sf": os.path.join(work, "sf")}
    rows = gen.star_schema(inputs["sf"], rng, scale["orders"], scale["docs"])
    inputs["sf_docs"] = rows["documents"]
    if workload == "retail_etl":
        r = gen.retail_sales(os.path.join(work, "retail"), rng, scale["retail_rows"])
        inputs["retail"] = r
        # a backfill of every day in seeded order, the first day run twice
        # (replace semantics)
        days = list(rng.permutation(r["days"]))
        inputs["backfill"] = days + [days[0]]
    else:
        inputs["ingest"] = gen.ingest_batches(
            os.path.join(work, "batches"), rng, os.path.join(inputs["sf"], "documents.parquet"),
            scale["batches"], scale["batch_size"],
        )
    return inputs


def tail(samples: list[float], min_n: int) -> tuple[float, float]:
    """``(value, percentile)`` of the highest percentile that has at least
    ten samples beyond it in a run of ``min_n`` samples, the fewest a run
    of the workload has -- so every run reports the same percentile however
    many passes it made; with ten or fewer, the maximum."""
    xs = sorted(samples)
    if min_n <= 10:
        return xs[-1], 100.0
    # the rank ceil(pct/100 * len) in integers: in floats, 2/7 * 14 reads
    # 4.000000000000001 and the ceiling lands one rank too high
    rank = -(-(min_n - 10) * len(xs) // min_n)
    return xs[rank - 1], 100.0 * (min_n - 10) / min_n


def run_worker(args, work: str, inputs_path: str, out: str) -> float:
    """Run the engine process; return its set-up seconds (spawn to
    ``READY``) once it has ended."""
    wdir = os.path.join(work, "engine")
    os.makedirs(os.path.join(wdir, "tmp"), exist_ok=True)
    root = os.getcwd()
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join([root, HERE] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else [])),
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_LOCAL_DIRS": os.path.join(wdir, "spark-local"),
        # a stated maximum heap, not pre-touched. Under the engine's 8g
        # default the collector grows the heap on its own timing: the
        # driver's peak RSS spread 0.27 (IQR/median) over five runs on a
        # 4-core, 15 GB VM, against 0.08-0.13 over ten with this setting
        "SPARK_DRIVER_MEM": "1g",
        "TMPDIR": os.path.join(wdir, "tmp"),
        # keep the JVMs' temporary files inside the checkout too
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(wdir, 'tmp')}",
        "PYSPARK_PYTHON": sys.executable,
    })
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--inputs", inputs_path, "--work", wdir,
           "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--out", out]
    log_path = os.path.join(work, "engine.log")
    log = open(log_path, "w")
    t0 = time.perf_counter()
    proc = subprocess.Popen(cmd, cwd=wdir, env=env, stdout=subprocess.PIPE, stderr=log, text=True)
    watchdog = threading.Timer(WORKER_TIMEOUT_S, proc.kill)
    watchdog.start()
    try:
        setup = None
        for line in proc.stdout:
            if line.strip() == "READY":
                setup = time.perf_counter() - t0
                break
        proc.stdout.read()
        code = proc.wait()
    finally:
        watchdog.cancel()
        log.close()
    if code != 0 or setup is None:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        raise RuntimeError(f"engine process exited with code {code}")
    return setup


def e2e_metrics(res: dict, setup_s: float) -> dict:
    pass_s = statistics.median(p["seconds"] for p in res["passes"])
    job_tail, pct = tail(res["jobs"], res["min_jobs"])
    return {
        "setup_s": (setup_s, "s"),
        "pass_s": (pass_s, "s"),
        "job_p50_s": (statistics.median(res["jobs"]), "s"),
        "job_tail_s": (job_tail, "s"),
        "rows_per_s": (res["input_rows"] / pass_s, "1/s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
        "stored_bytes_per_input_byte": (res["stored_bytes"] / res["input_bytes"], "ratio"),
    }, (pct, len(res["jobs"]))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=sorted(SCALES), default="bench")
    ap.add_argument("--expect-wrong", action="store_true",
                    help="corrupt the expected results (checks that the correctness gate fires)")
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        print(f"error: run from the repository root; {PACKAGE}/ not found in {root}", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    from layers import WORKLOAD_NAMES, per_layer_metrics

    if args.workload not in WORKLOAD_NAMES:
        print(f"error: unknown workload {args.workload!r}; choose from {WORKLOAD_NAMES}", file=sys.stderr)
        return 2

    work = os.path.join(root, ".perfbench_work", f"{args.workload}-s{args.seed}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.perf_counter()
        inputs = generate(args.workload, args.seed, SCALES[args.scale], work)
        inputs["expect_wrong"] = args.expect_wrong
        gen_s = time.perf_counter() - t0
        inputs_path = os.path.join(work, "inputs.json")
        with open(inputs_path, "w") as f:
            json.dump(inputs, f)

        out = os.path.join(work, "result.json")
        setup_s = run_worker(args, work, inputs_path, out)
        with open(out) as f:
            res = json.load(f)
        if args.trace:
            out_dir = os.path.join(root, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            with open(os.path.join(out_dir, f"spans-{args.workload}-s{args.seed}.json"), "w") as f:
                json.dump(res["spans"], f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted = len(res["jobs"])
    failed_jobs = res["failures"] + [{"job": "check", "error": m} for m in res["mismatches"]]
    failed = len(res["failures"]) + len(res["mismatches"])
    correct = not res["mismatches"]
    print(f"workload {args.workload}  seed {args.seed}  scale {args.scale}  "
          f"input_rows {res['input_rows']}  input_bytes {res['input_bytes']}  gen_s {gen_s:.2f} (excluded)")
    if "ingest" in inputs:
        ing = inputs["ingest"]
        print(f"stream repeats: within batch {ing['within_dup_share']:.3f}  of earlier batches {ing['hist_dup_share']:.3f}")
    pass_list = " ".join(f"{p['seconds']:.2f}" for p in res["passes"])
    print(f"passes {len(res['passes'])} ({pass_list} s)  "
          f"jobs {attempted}  failed_frac {failed / attempted:.4f} ({failed}/{attempted})  "
          f"leaked_rdds {res['leaked_rdds']}")
    per_job: dict[str, list[float]] = {}
    for p in res["passes"]:
        for job, sec in p["jobs"].items():
            per_job.setdefault(job, []).append(sec)
    print("median job seconds: " + "  ".join(f"{j} {statistics.median(v):.3f}" for j, v in per_job.items()))
    for f in failed_jobs:
        print(f"  FAILED {f['job']}: {f['error']}")
    if args.trace:
        metrics = per_layer_metrics(res)
    else:
        metrics, (pct, n) = e2e_metrics(res, setup_s)
        print(f"job_tail_s is p{pct:.1f} of {n} job latencies")
    for name, (value, unit) in metrics.items():
        print(f"  {args.workload}  {name:40s} {value:14.6g} {unit}")
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
