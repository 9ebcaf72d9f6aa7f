"""Benchmark of the tokens_ts retention engine and its operators.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 10 --trace 0

Run from the repository root. Workloads: backfill and operators (see
perfbench/README.md). With --trace 0 the last stdout line
is a JSON object holding the end-to-end metrics; with --trace 1 it holds
the per-layer metrics read from Spark's event log and the benchmark's
spans. A JSON report line with the workload's own metric names, sample
counts, failures and session state comes just before it. All files go
to .bench_work/ under the repository root and are removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("backfill", "operators"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in ("tokens_ts/__init__.py", "tests/oracle.py", "tools/verify_oracle.py",
                           "__spark_entry__.py") if not (ROOT / p).is_file()]
    if missing:
        print(f"perfbench: not a tokens_ts checkout, missing {missing}", file=sys.stderr)
        return 2

    os.environ["TZ"] = "UTC"  # collected timestamps are compared as UTC
    time.tzset()
    # import from the repository root, not from this script's directory
    sys.path[:] = [p for p in sys.path if Path(p or ".").resolve() != Path(__file__).resolve().parent]
    sys.path.insert(0, str(ROOT))
    work = ROOT / ".bench_work" / f"{args.workload}-{os.getpid()}"
    work.mkdir(parents=True, exist_ok=True)
    tempfile.tempdir = str(work / "tmp")

    from perfbench.harness import Bench
    from perfbench.workloads import END_TO_END, PER_LAYER, WORKLOADS

    t0 = time.perf_counter()
    b = Bench(ROOT, work)
    try:
        res = WORKLOADS[args.workload](b, args.seed, args.seconds, bool(args.trace))
        res.report["run_wall_s"] = time.perf_counter() - t0
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        b.close()
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        metrics = {k: {"value": float(res.layer.get(k, (0.0,))[0]), "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": float(res.e2e[k][0]), "unit": res.e2e[k][1]} for k in END_TO_END}
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "failed_share": res.failed / max(res.attempted, 1),
        "problems": res.problems[:20],
        **res.report,
    }
    print(json.dumps(report, default=str))
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
