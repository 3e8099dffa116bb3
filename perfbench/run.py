"""Repository benchmark: one command per workload and seed.

    python3 perfbench/run.py --workload bulk_replay --seed 1 --seconds 5 --trace 0

Run from the repository root. Prints detail lines, then as its LAST line one
JSON object ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1`` (spans
are also written to ``.perfbench/traces/``). Exits non-zero when a
correctness check fails. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _units() -> tuple[dict, dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def _stop_spark(spark) -> None:
    """Stop the session, then end the JVM (it exits when its stdin closes)
    and wait for it, so no process of the run outlives it."""
    from pyspark import SparkContext

    spark.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["bulk_replay", "live_tail"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=5)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)),
                    help="Spark local[N] core count (default: the CPUs this process may use)")
    ap.add_argument("--size", choices=["full", "tiny"], default="full",
                    help="tiny = self-test input sizes")
    args = ap.parse_args(argv)

    package = os.path.join(ROOT, "changedatacapture_spark")
    if not os.path.isdir(package):
        print(f"perfbench: engine package not found at {package}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    # executor Python workers import the package too
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    for v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[v] = "1"

    from common import WORK, build_spark
    from spans import RssSampler, Tracer, install_spans
    from workloads import WORKLOADS, Ctx

    e2e_units, layer_units = _units()
    run_dir = os.path.join(WORK, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    os.environ["TMPDIR"] = run_dir
    rss = RssSampler()
    spark = None
    try:
        tracer = Tracer()
        install_spans(tracer, counts=bool(args.trace))
        t0 = time.monotonic()
        spark = build_spark(args.cores, WORK)
        ctx = Ctx(spark=spark, tracer=tracer, seed=args.seed, seconds=args.seconds,
                  trace=bool(args.trace), size=args.size, run_dir=run_dir,
                  session_s=time.monotonic() - t0)
        e2e, layers, details = WORKLOADS[args.workload](ctx)
    finally:
        if spark is not None:
            _stop_spark(spark)
        peak = rss.stop()
        shutil.rmtree(run_dir, ignore_errors=True)

    if layers is not None:
        layers["proc.peak_rss_mb"] = peak
        chosen, units = layers, layer_units
    else:
        chosen, units = e2e, e2e_units
    missing = sorted(set(units) - set(chosen))
    ctx.checks.add("every_metric_measured", not missing, {"missing": missing})
    print(json.dumps({"workload": args.workload, "seed": args.seed, "cores": args.cores,
                      "seconds": args.seconds, "trace": args.trace, "details": details,
                      "session_s": ctx.session_s, "phase_s": ctx.phase_s,
                      "end_to_end": e2e, "checks": ctx.checks.results,
                      "check_notes": ctx.checks.notes}, default=str))
    result = {
        "correct": ctx.checks.ok,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": float(chosen[k]), "unit": u}
                    for k, u in units.items() if k in chosen},
    }
    print(json.dumps(result))
    return 0 if ctx.checks.ok else 1


if __name__ == "__main__":
    sys.exit(main())
