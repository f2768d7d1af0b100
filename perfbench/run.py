"""Benchmark entry point.

    python3 perfbench/run.py --workload corpus_roundtrip --seed 1 --seconds 26 --trace 0

runs one workload in one driver process on local[nproc] and prints, as its
last stdout line, {"correct", "attempted", "failed", "metrics"}: the
end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
A traced run also writes its spans and layer metrics to
.perfbench/out/<workload>-seed<seed>-trace.json. Exit status is non-zero
when any operation failed or returned a wrong result.

    python3 perfbench/run.py --workload corpus_roundtrip --repeat 5

runs the workload k times untraced (seeds seed..seed+k-1) and once traced,
each in a fresh process, and prints every metric's median and quartiles
plus the tracing overhead (traced minus untraced median).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = os.path.join(ROOT, "BENCHMARK.json")


def load_spec() -> dict:
    with open(SPEC) as f:
        return json.load(f)


def configure_env(work: str, trace: bool) -> None:
    """Keep every file the run writes inside the checkout, and keep the
    engine importable from the Python workers Spark forks."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None  # re-read TMPDIR
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")  # no hostname lookup
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:  # keep every job/stage/execution of the run in the status store
        for key in ("spark.ui.retainedJobs", "spark.ui.retainedStages",
                    "spark.sql.ui.retainedExecutions"):
            confs[key] = "100000"
    args = [f"--conf {k}={v}" for k, v in confs.items()]
    args.append(f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])


def trace_path(workload: str, seed: int) -> str:
    return os.path.join(ROOT, ".perfbench", "out", f"{workload}-seed{seed}-trace.json")


def write_trace(args, report: dict) -> None:
    path = trace_path(args.workload, args.seed)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(report, f, indent=1, default=str)
    print(f"trace written to {os.path.relpath(path, ROOT)}", file=sys.stderr)


def run_once(args) -> int:
    spec = load_spec()
    names = {"e2e": [m["name"] for m in spec["end_to_end"]],
             "layer": [m["name"] for m in spec["per_layer"]]}
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    sys.path.insert(0, ROOT)
    import copybook_rs_spark  # noqa: F401  (fail before any output without the engine)

    work = os.path.join(ROOT, ".perfbench", f"work-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    configure_env(work, bool(args.trace))

    import layers
    from pipeline import Run

    run = Run(args.workload, args.seed, args.scale, args.seconds, bool(args.trace), work)
    try:
        try:
            run.setup()
            run.measure()
            if args.trace:
                layers.trace_extras(run)
        except Exception as e:  # noqa: BLE001 - reported below as a failed run
            traceback.print_exc()
            run.attempted += 1
            run.failures.append(f"run aborted: {type(e).__name__}: {e}")
        e2e = run.end_to_end()
        if args.trace:
            per_layer = layers.layer_metrics(run)
            write_trace(args, {"info": run.info, "end_to_end": e2e,
                               "per_layer": per_layer, "failures": run.failures,
                               "spans": run.tracer.report()})
    finally:
        run.cleanup()

    print(json.dumps({"info": run.info, "failed_ops_frac": e2e["failed_ops_frac"],
                      "failures": run.failures[:5]}))
    for k in ("lookup", "search"):
        if f"{k}_tail_pct" in run.info:
            print(f"{k}_tail_s is p{run.info[f'{k}_tail_pct']:.1f} "
                  f"of n={run.info[f'{k}_n']}")
    values = per_layer if args.trace else e2e
    wanted = names["layer"] if args.trace else names["e2e"]
    metrics = {n: {"value": values[n], "unit": units[n]} for n in wanted if n in values}
    missing = [n for n in wanted if n not in values]
    failed = len(run.failures) + len(missing)
    for n in missing:
        print(f"metric {n} was not measured", file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": run.attempted + len(missing),
                      "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


def repeat(args) -> int:
    """k untraced runs and one traced run, each in its own process."""
    def child(seed: int, trace: int) -> dict:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
               "--seed", str(seed), "--seconds", str(args.seconds),
               "--trace", str(trace), "--scale", str(args.scale)]
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
        last = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else "{}"
        result = json.loads(last)
        print(f"seed {seed} trace {trace}: exit {proc.returncode} {last}", flush=True)
        if proc.returncode != 0:
            raise SystemExit(f"run with seed {seed} failed")
        return result

    runs = [child(args.seed + i, 0) for i in range(args.repeat)]
    traced = child(args.seed + args.repeat, 1)
    summary = {}
    for name in runs[0]["metrics"]:
        xs = [r["metrics"][name]["value"] for r in runs]
        q1, q2, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (xs[0],) * 3
        summary[name] = {"median": q2, "q1": q1, "q3": q3,
                         "iqr_share": (q3 - q1) / q2 if q2 else None,
                         "unit": runs[0]["metrics"][name]["unit"]}
    with open(trace_path(args.workload, args.seed + args.repeat)) as f:
        traced_e2e = json.load(f)["end_to_end"]
    for name, s in summary.items():
        if name in traced_e2e:
            s["tracing_overhead"] = traced_e2e[name] - s["median"]
    print(json.dumps({"workload": args.workload, "runs": args.repeat,
                      "summary": summary, "per_layer": traced["metrics"]}, indent=1))
    return 0


def main(argv=None) -> int:
    spec = load_spec()
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=spec["run_seconds"])
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input size multiplier (1 = the documented sizes)")
    p.add_argument("--repeat", type=int, default=0,
                   help="run the workload this many times and summarize")
    args = p.parse_args(argv)
    return repeat(args) if args.repeat else run_once(args)


if __name__ == "__main__":
    sys.exit(main())
