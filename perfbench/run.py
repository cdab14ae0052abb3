"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload transcripts_batch --seed 1 --seconds 15 --trace 0

Run from the repository root.  The last line of stdout is one JSON object
{"correct", "attempted", "failed", "metrics"}: with ``--trace 0`` the
metrics are the ``end_to_end`` list of BENCHMARK.json, with ``--trace 1``
its ``per_layer`` list (layers a workload does not exercise read 0).
Exits non-zero, printing no result, when the package cannot be imported
or the run fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("transcripts_batch", "rawlog_follow")


@dataclass
class Context:
    root: str
    workload: str
    seed: int
    seconds: int
    trace: bool
    tiny: bool
    run_id: str
    work: str
    spans_path: str


def _stop_spark() -> None:
    """Stop the session, then wait for the JVM and its Python workers."""
    from pyspark import SparkContext

    from perfbench.trace import descendants

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    kids = descendants(proc.pid) if proc else []
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while kids and time.monotonic() < deadline:
        kids = [p for p in kids if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for p in kids:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="small inputs, for the smoke tests")
    args = ap.parse_args(argv)

    # the package and tools/ are imported from the checkout, by this
    # process and by the Python workers Spark starts
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        import sqllog_analysis_spark  # noqa: F401
        import gen_contract_expected  # noqa: F401
    except (OSError, ImportError, ValueError) as e:
        print(f"perfbench: cannot run here: {e}", file=sys.stderr)
        return 2

    from perfbench import batch, common, follow

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    out = os.path.join(ROOT, common.OUT_DIR)
    ctx = Context(
        root=ROOT,
        workload=args.workload,
        seed=args.seed,
        seconds=args.seconds,
        trace=bool(args.trace),
        tiny=args.tiny,
        run_id=run_id,
        work=os.path.join(out, "work", run_id),
        spans_path=os.path.join(out, "spans", f"{args.workload}-s{args.seed}.json"),
    )
    os.makedirs(ctx.work, exist_ok=True)
    try:
        res = {"transcripts_batch": batch, "rawlog_follow": follow}[args.workload].run(ctx)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        try:
            _stop_spark()
        finally:
            shutil.rmtree(ctx.work, ignore_errors=True)

    if args.trace:
        names = []
        for m in spec["per_layer"]:
            names.append(m["name"])
            if m["name"] not in res.metrics:
                res.put(m["name"], 0.0, m["unit"])  # layer not exercised here
    else:
        names = [m["name"] for m in spec["end_to_end"]]
    missing = [n for n in names if n not in res.metrics]
    if missing:
        print(f"perfbench: workload reported no {missing}", file=sys.stderr)
        return 1
    res.emit(names)
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
