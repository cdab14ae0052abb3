"""Session start-up, statistics and result reporting shared by the workloads."""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

CORES = 4
APP = "sqllog_analysis_spark"  # the CLI's app name
# the console progress bar only writes to stderr; everything else is
# session.get_spark's default conf, as the CLI builds it
QUIET = {"spark.ui.showConsoleProgress": "false"}
OUT_DIR = ".perfbench_out"


def start_session():
    """Start the session as the CLI does, in a fresh process: launch the
    JVM through ``session.get_spark``, then run a first job.  Returns
    (spark, seconds to the session, seconds of the first job); their sum
    is the run's ``setup_s``.

    One start per run: a second start in the same process would reuse the
    running JVM (about 0.4 s, missing the launch every CLI run pays), and
    a second JVM launch costs as much as the first (13-20 s on a 4-core
    host), more than a run can spare."""
    from sqllog_analysis_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(APP, cores=CORES, extra_conf=QUIET)
    t1 = time.perf_counter()
    spark.range(1).count()
    return spark, t1 - t0, time.perf_counter() - t1


def put_setup(res: "Result", session_s: float, first_job_s: float) -> None:
    res.put("setup_s", session_s + first_job_s, "s")
    res.put("setup.session_s", session_s, "s")
    res.put("setup.first_job_s", first_job_s, "s")


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def median(xs) -> float:
    return float(statistics.median(xs))


def p90(xs) -> float:
    """90th percentile (``statistics.quantiles`` exclusive method)."""
    return float(statistics.quantiles(xs, n=10)[8]) if len(xs) > 1 else float(xs[0])


@dataclass
class Result:
    """What one run reports: metrics by name with units, plus the count of
    attempted and failed units of work (runs, files or queries)."""

    workload: str
    metrics: dict = field(default_factory=dict)
    info: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    phases: dict = field(default_factory=dict)

    def put(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = {"value": float(value), "unit": unit}

    @contextmanager
    def phase(self, name: str):
        """Time a part of the run (printed, so the run's wall is accounted)."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.phases[name] = round(time.perf_counter() - t0, 2)

    def note(self, name: str, value, unit: str = "") -> None:
        """A figure printed for readers but not part of the JSON result."""
        self.info[name] = (value, unit)

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"CHECK FAILED: {what}", file=sys.stderr)
        return ok

    def emit(self, names: list[str]) -> None:
        """Print a readable table, then the one-line JSON result holding
        exactly the metrics in ``names``."""
        print(f"# workload {self.workload}")
        print(f"  {'run.phases_s':<38} {self.phases}")
        for k, (v, unit) in sorted(self.info.items()):
            print(f"  {k:<38} {v!s:>14} {unit}")
        for k in names:
            m = self.metrics[k]
            print(f"  {k:<38} {m['value']:>14.6g} {m['unit']}")
        print(
            f"  {'failed_frac':<38} {self.failed / max(self.attempted, 1):>14.6g} ratio"
            f"  ({self.failed}/{self.attempted})"
        )
        print(
            json.dumps(
                {
                    "correct": self.failed == 0,
                    "attempted": self.attempted,
                    "failed": self.failed,
                    "metrics": {k: self.metrics[k] for k in names},
                }
            )
        )


def close_trace(res: Result, rec, mem, **extra) -> None:
    """Report the sampler's peak RSS, tag each span with its own peaks and
    write the spans file."""
    jvm_mb, py_mb = mem.peak_mb()
    res.put("mem.jvm_peak_rss_mb", jvm_mb, "MiB")
    res.put("mem.pyworker_peak_rss_mb", py_mb, "MiB")
    for s in rec.spans:
        s.tags["jvm_peak_mb"], s.tags["pyworker_peak_mb"] = mem.peak_mb(s.start, s.end)
    rec.close(workload=res.workload, **extra)


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path
