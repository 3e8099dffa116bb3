"""Run one workload on several seeds and report each metric's median and
spread (interquartile distance over median, as the regression gate takes it).

    python3 perfbench/stability.py --workload live_tail --seeds 1-10 [--trace 1] [--out runs.jsonl]

Runs are sequential (one Spark session at a time). Each run's result and
detail lines are appended to ``--out`` when given.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _seeds(text: str) -> list[int]:
    out: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    args = ap.parse_args()
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}

    values: dict[str, list[float]] = {}
    walls = []
    for seed in _seeds(args.seeds):
        t0 = time.monotonic()
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace)],
            cwd=ROOT, capture_output=True, text=True,
        )
        walls.append(time.monotonic() - t0)
        lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
        result = json.loads(lines[-1]) if lines else None
        if args.out:
            with open(args.out, "a") as f:
                f.write(json.dumps({"seed": seed, "rc": p.returncode, "wall_s": walls[-1],
                                    "result": result,
                                    "detail": json.loads(lines[-2]) if len(lines) > 1 else None})
                        + "\n")
        ok = p.returncode == 0 and result is not None and result["correct"]
        print(f"seed {seed}: rc={p.returncode} correct={ok} wall={walls[-1]:.1f}s", flush=True)
        if not ok:
            print(p.stderr[-2000:], file=sys.stderr)
            continue
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])

    print(f"wall median {statistics.median(walls):.1f}s, max {max(walls):.1f}s")
    for name, vs in values.items():
        med = statistics.median(vs)
        if len(vs) >= 2 and med:
            q1, _q2, q3 = statistics.quantiles(vs, n=4)
            spread = (q3 - q1) / med
        else:
            spread = float("nan")
        bound = bounds.get(name)
        flag = "" if bound is None else f" bound {bound} ({spread / bound:.2f} of it)"
        print(f"{name:34s} n={len(vs):2d} median {med:12.4f} spread {spread:.3f}{flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
