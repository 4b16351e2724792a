"""Repo benchmark: one workload per run, closed loop, one caller.

    python3 perfbench/run.py --workload flagship --seed 1 --seconds 11 --trace 0

Run from the repository root. ``--trace 0`` times back-to-back public-API
calls with tracing off and prints the end-to-end metrics; ``--trace 1``
makes one untraced call and one staged, traced composition of the same
work and prints the per-layer metrics. Either way the last stdout line
is one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
Everything the run writes goes under ``.perfbench_work/`` in the
repository root. See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

from harness import ROOT, WORK


def _prepare_env() -> None:
    """Keep every file the run (and its JVM and Python workers) writes
    inside the checkout, and let the workers import the package."""
    for d in ("tmp", "spark-local", "runs"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    tmp = os.path.join(WORK, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)


def timed_run(args, cls, run_dir: str) -> dict:
    from harness import set_up, shutdown
    from workloads import check

    wl = cls(run_dir, args.seed)
    oracle = wl.oracle(os.path.join(WORK, "oracle"))
    spark, setup_steps = set_up(wl)
    try:
        walls, errors, first = [], [], None
        t_end = time.perf_counter() + args.seconds
        while not walls or time.perf_counter() < t_end:
            t0 = time.perf_counter()
            try:
                out = wl.call(spark)
            except Exception as e:  # a failed call is counted, never retried
                walls.append(time.perf_counter() - t0)
                errors.append(f"call raised {type(e).__name__}: {str(e)[:300]}")
                continue
            walls.append(time.perf_counter() - t0)
            errors.extend(filter(None, [check(wl, out, oracle, first)]))
            if first is None and not errors:
                first = wl.metrics_of(out)
        mask_bytes = wl.mask_bytes_per_image(spark)
    finally:
        shutdown(spark)

    run_s = statistics.median(walls)
    metrics = {
        "run_s": (run_s, "s"),
        "images_per_s": (wl.images / run_s, "1/s"),
        "setup_s": (sum(setup_steps), "s"),
        "mask_bytes_per_image": (mask_bytes, "B"),
    }
    detail = dict(samples=len(walls), walls_s=walls, images=wl.images,
                  setup_s=dict(zip(("session", "materialize", "warm_up"), setup_steps)),
                  shape=wl.shape, error_rate=len(errors) / len(walls), errors=errors)
    return dict(metrics=metrics, attempted=len(walls), failed=len(errors),
                correct=not errors, detail=detail)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    _prepare_env()
    import workloads  # imports the package: fails before any output without it
    from harness import host_record

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    cls = workloads.WORKLOADS[args.workload]
    host = host_record()
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    try:
        if args.trace:
            import trace_run

            result = trace_run.traced_run(args, cls, run_dir)
        else:
            result = timed_run(args, cls, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    host["loadavg_after"] = list(os.getloadavg())

    metrics = {k: {"value": v, "unit": u} for k, (v, u) in result["metrics"].items()}
    record = dict(workload=args.workload, seed=args.seed, trace=args.trace, host=host,
                  metrics=metrics, **result["detail"])
    with open(os.path.join(WORK, f"result-{args.workload}-{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    for k, m in metrics.items():
        print(f"{k:>34} {m['value']:>14.6g} {m['unit']}")
    print("detail", json.dumps(result["detail"], default=str))
    print("host", json.dumps(host))
    print(json.dumps(dict(correct=result["correct"], attempted=result["attempted"],
                          failed=result["failed"], metrics=metrics)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
