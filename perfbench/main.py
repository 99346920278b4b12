"""Workload process: runs one workload and writes its result as JSON.

Started by perfbench/run.py inside the hermetic environment; not meant to be
run by hand. The result holds the end-to-end metrics of the run, the per-layer
metrics (traced runs), and the correctness verdict.
"""

from __future__ import annotations

import argparse
import json
import traceback
from dataclasses import dataclass, field

from perfbench.trace import Tracer


@dataclass
class Ctx:
    seed: int
    seconds: float
    trace: bool
    root: str
    tracer: Tracer


@dataclass
class Result:
    e2e: dict[str, float] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    checks: list[tuple[str, bool, str]] = field(default_factory=list)

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        """Record a correctness check; a failed check counts as a failed
        operation."""
        self.checks.append((name, bool(ok), detail))
        self.attempted += 1
        if not ok:
            self.failed += 1


def start_spark():
    from oaim_sandbox_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, required=True)
    ap.add_argument("--root", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    ctx = Ctx(args.seed, args.seconds, bool(args.trace), args.root, Tracer(bool(args.trace)))
    res = Result()
    try:
        if args.workload == "serve":
            from perfbench.serve import run
        else:
            from perfbench.analytics import run
        run(ctx, res)
    except Exception:
        # an operation that raised is a failed run: report it, not a number
        traceback.print_exc()
        res.check("workload completed", False, traceback.format_exc(limit=3))
    if ctx.trace:
        res.layers.setdefault("trace.spans", len(ctx.tracer.spans))
        for name, v in res.e2e.items():
            res.layers[f"trace.{name}"] = v
    notes = [f"check {'ok  ' if ok else 'FAIL'} {name} {detail}".rstrip()
             for name, ok, detail in res.checks]
    correct = res.failed == 0 and all(ok for _, ok, _ in res.checks)
    with open(args.out, "w") as fh:
        json.dump({"correct": correct, "attempted": max(res.attempted, 1),
                   "failed": res.failed, "e2e": res.e2e, "layers": res.layers,
                   "notes": notes}, fh)


if __name__ == "__main__":
    main()
