"""Benchmark entry point.

    python3 graftbench/run.py --workload pipelines --seed 1 --seconds 20 --trace 0

Run from the root of a source checkout. The last line of standard
output is one JSON object with ``correct``, ``attempted``, ``failed``
and ``metrics``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. Progress and diagnostics go to
standard error. Outside a checkout holding the engine, the run exits
with status 2 and prints no result.
"""

from __future__ import annotations

import argparse
import json
import statistics
import os
import sys
import traceback
from dataclasses import dataclass
from pathlib import Path

CHECKOUT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(CHECKOUT))
# Python workers unpickle engine classes (the ledger data source) by
# module path, so they need the checkout on their path too.
os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [str(CHECKOUT), os.environ.get("PYTHONPATH")]))

WORKLOADS = ("pipelines", "ingest")


@dataclass
class Context:
    seed: int
    seconds: int
    trace: bool
    run: object  # harness.RunDir


def end_to_end(out: dict) -> dict:
    from graftbench import harness

    units = out["units"]
    print(f"{len(units)} timed units, wall latency median {harness.median(units):.3f} s", file=sys.stderr)
    return {
        "setup_s": {"value": out["setup_s"], "unit": "s"},
        "unit_cpu_s": {"value": statistics.fmean(out["cpu"]), "unit": "s"},
        "peak_rss_mb": {"value": out["peak_rss_mb"], "unit": "MB"},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import etl_jobs_spark  # noqa: F401
    except ImportError as e:
        print(f"engine not importable from {CHECKOUT}: {e}", file=sys.stderr)
        return 2

    from graftbench import harness

    run = harness.RunDir(CHECKOUT, args.workload, args.seed)
    ctx = Context(args.seed, args.seconds, bool(args.trace), run)
    try:
        if args.workload == "pipelines":
            from graftbench import pipelines as workload
        else:
            from graftbench import ingest as workload
        out = workload.run(ctx)
        metrics = out["layers"] if ctx.trace else end_to_end(out)
        correct = out["failed"] == 0 and not out.get("problems")
        for problem in out.get("problems", ()):
            print(f"check failed: {problem}", file=sys.stderr)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        run.close()
    print(json.dumps({
        "correct": correct,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
