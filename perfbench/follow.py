"""Workload ``rawlog_follow``: ``streaming.stream_sqllog_pipeline`` follows
a directory into which one feeder thread drops rotated ``dmsql_*.log``
files (renamed in, so each arrives complete) on a fixed schedule — an
open loop.  Files arrive in bursts of FILES_PER_DROP every DROP_EVERY_S
seconds, as from a set of hosts rotating their logs together.  The
interval leaves the stream headroom, so each burst is one micro-batch
and the measured work is the same on every run.  Each file's latency
runs from its burst's scheduled drop time to the commit of the
micro-batch that holds its rows.  A new query's micro-batches get faster
over its first few batches, so WARM_DROPS bursts are ingested first and
left out of every figure; the batch reference for the parity check runs
alongside them."""

from __future__ import annotations

import glob
import json
import os
import shutil
import threading
import time
from collections import Counter
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext

from perfbench import common, inputs, operators
from perfbench.common import Result, fresh_dir, median, p90
from perfbench.trace import Recorder, RssSampler

N_TURNS = 12_000
TINY_TURNS = 2_000
TURNS_PER_FILE = 400
FILES_PER_DROP = 5
TINY_FILES_PER_DROP = 1
DROP_EVERY_S = 10.0  # a warm burst of 5 files takes 6-9 s on a 4-core host
MIN_DROPS = 2
WARM_DROPS = 2


def feed(drops: list[list[str]], src: str, watch: str, staging: str) -> dict:
    """Open-loop feeder on its own thread: burst k is renamed into
    ``watch`` at t0 + k * DROP_EVERY_S whatever the stream is doing.
    Returns the schedule {"thread", "scheduled": {name: t}, "lag":
    [actual - scheduled per burst]} (wall clock)."""
    for n in (n for d in drops for n in d):
        shutil.copy(os.path.join(src, n), os.path.join(staging, n))
    sched: dict[str, float] = {}
    lag: list[float] = []

    def loop() -> None:
        t0 = time.time() + 0.2
        for k, names in enumerate(drops):
            due = t0 + k * DROP_EVERY_S
            time.sleep(max(0.0, due - time.time()))
            for n in names:
                os.rename(os.path.join(staging, n), os.path.join(watch, n))
                sched[n] = due
            lag.append(time.time() - due)

    t = threading.Thread(target=loop, name="feeder")
    t.start()
    return {"thread": t, "scheduled": sched, "lag": lag}


def batch_of_file(ckpt: str) -> dict[str, int]:
    """File name → micro-batch id, from the file source's metadata log."""
    out: dict[str, int] = {}
    for p in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        with open(p, encoding="utf-8") as fh:
            for line in fh:
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def commit_times(ckpt: str) -> dict[int, float]:
    """Micro-batch id → wall-clock time its commit log entry was written."""
    out = {}
    for p in glob.glob(os.path.join(ckpt, "commits", "[0-9]*")):
        name = os.path.basename(p)
        if name.isdigit():
            out[int(name)] = os.stat(p).st_mtime
    return out


def rows_by_conv(records_root: str, errors_root: str) -> tuple[Counter, Counter]:
    """(records per conv_id, parse errors per conv_id) under two sink roots."""
    import pyarrow.parquet as pq

    recs: Counter = Counter()
    for d, _, names in os.walk(records_root):
        for n in names:
            if n.endswith(".parquet"):
                col = pq.read_table(os.path.join(d, n), columns=["conv_id"])["conv_id"]
                recs.update(col.to_pylist())
    errs: Counter = Counter()
    for d, _, names in os.walk(errors_root):
        for n in names:
            if n.startswith("part-") and n.endswith(".json"):
                with open(os.path.join(d, n), encoding="utf-8") as fh:
                    errs.update(json.loads(line)["path"] for line in fh if line.strip())
    return recs, errs


def follow_pass(spark, ctx, data: dict, warm: list[list[str]], drops: list[list[str]],
                reference, rec: Recorder | None) -> dict:
    """Start the query on an empty directory and warm it up: each burst of
    ``warm`` is dropped alone and waited for, while ``reference()`` runs
    on a second thread.  A new query's micro-batches get faster for the
    first few batches, so these are left out of every figure.  Then feed
    ``drops`` (traced: inside a ``stream`` span, with the RSS sampler on),
    wait for everything to commit and stop.  Returns per-file latencies,
    the progress reports of the measured micro-batches, the bytes they
    wrote and what ``reference()`` returned."""
    from sqllog_analysis_spark.streaming.stream_pipeline import stream_sqllog_pipeline

    watch = fresh_dir(os.path.join(ctx.work, "watch"))
    staging = fresh_dir(os.path.join(ctx.work, "staging"))
    out, ckpt = os.path.join(ctx.work, "out"), os.path.join(ctx.work, "ckpt")
    q = stream_sqllog_pipeline(spark, watch, out, ckpt).start()
    try:
        with ThreadPoolExecutor(max_workers=1) as ex:
            ref = ex.submit(reference)
            for burst in warm:
                for n in burst:
                    shutil.copy(os.path.join(data["dir"], n), os.path.join(staging, n))
                for n in burst:
                    os.rename(os.path.join(staging, n), os.path.join(watch, n))
                q.processAllAvailable()
            reference_out = ref.result()
        warm_bytes = inputs.tree_size(out)[0]
        with RssSampler(common.jvm_pid()) if rec else nullcontext() as mem:
            with rec.span("stream") if rec else nullcontext() as stream:
                t_start = time.time()
                feeder = feed(drops, data["dir"], watch, staging)
                feeder["thread"].join()
                q.processAllAvailable()
                t_end = time.time()
        progress = q.recentProgress
        run_id = str(q.runId)
    finally:
        q.stop()
    names = [n for d in drops for n in d]
    of = batch_of_file(ckpt)
    commits = commit_times(ckpt)
    files_in = Counter(of[n] for n in names)
    data_batches = [x for x in progress if x.numInputRows > 0]
    return {
        "watch": watch,
        "out": out,
        "reference": reference_out,
        "latency": {n: commits[of[n]] - feeder["scheduled"][n] for n in names},
        "lag": feeder["lag"],
        "n_batches": len(data_batches),
        "warm_ms": [x.durationMs["triggerExecution"] for x in data_batches
                    if x.batchId not in files_in],
        "progress": [x for x in data_batches if x.batchId in files_in],
        "files_in": files_in,
        "batch_of": of,
        "bytes": inputs.tree_size(out)[0] - warm_bytes,
        "wall": t_end - t_start,
        "run_id": run_id,
        "mem": mem,
        "stream": stream,
    }


def batch_reference(spark, ctx, data: dict, names: list[str]) -> str:
    """One batch ``run_pipeline(input_format="raw")`` over a directory
    holding exactly ``names``; returns its output dir."""
    from sqllog_analysis_spark.plans.pipeline import PipelineConfig, run_pipeline

    src = fresh_dir(os.path.join(ctx.work, "reference", "in"))
    for n in names:
        shutil.copy(os.path.join(data["dir"], n), os.path.join(src, n))
    out = os.path.join(ctx.work, "reference", "out")
    run_pipeline(
        spark, PipelineConfig(input_path=src, output_dir=out, input_format="raw", resume=False)
    )
    return out


def check_parity(res: Result, stream_out: str, batch_out: str, names: list[str]) -> None:
    """Per file, the stream's record and parse-error counts must equal the
    batch pipeline's over the same files."""
    s_rec, s_err = rows_by_conv(
        os.path.join(stream_out, "records_stream"), os.path.join(stream_out, "errors_stream")
    )
    b_rec, b_err = rows_by_conv(
        os.path.join(batch_out, "records"), os.path.join(batch_out, "parse_errors")
    )
    for n in names:
        res.check(
            s_rec[n] == b_rec[n] and s_err[n] == b_err[n],
            f"{n}: stream records {s_rec[n]} errors {s_err[n]}, "
            f"batch records {b_rec[n]} errors {b_err[n]}",
        )


def run(ctx) -> Result:
    res = Result("rawlog_follow")
    data = inputs.rawlog_files(
        ctx.root, ctx.seed, TINY_TURNS if ctx.tiny else N_TURNS, TURNS_PER_FILE
    )
    # bursts at 0, DROP_EVERY_S, ... up to --seconds, at least MIN_DROPS,
    # after WARM_DROPS bursts of warm-up
    n_drops = max(MIN_DROPS, 1 + int(ctx.seconds // DROP_EVERY_S))
    per_drop = TINY_FILES_PER_DROP if ctx.tiny else FILES_PER_DROP
    files = [n for n, _ in data["files"]]
    bursts = [files[k * per_drop : (k + 1) * per_drop] for k in range(WARM_DROPS + n_drops)]
    if len(bursts[-1]) < per_drop:
        raise RuntimeError(f"corpus has {len(files)} files, the run needs more")
    warm, drops = bursts[:WARM_DROPS], bursts[WARM_DROPS:]
    every = [n for b in bursts for n in b]
    names = [n for d in drops for n in d]
    turns = dict(data["files"])
    res.note("input.gen_s", round(data["gen_s"], 3), "s")
    res.note("input.files", len(names), "files")
    res.note("input.drops", f"{n_drops} x {per_drop} files every {DROP_EVERY_S:g} s")

    with res.phase("setup"):
        spark, session_s, first_job_s = common.start_session()
    common.put_setup(res, session_s, first_job_s)

    # the batch reference for the parity check runs during the warm-up
    rec = Recorder(ctx.run_id, ctx.spans_path, sc=spark.sparkContext) if ctx.trace else None
    with res.phase("stream"):
        p = follow_pass(spark, ctx, data, warm, drops,
                        lambda: batch_reference(spark, ctx, data, every), rec)
    check_parity(res, p["out"], p["reference"], every)

    lat = sorted(p["latency"].values())
    busy = sum(x.durationMs["triggerExecution"] for x in p["progress"]) / 1000
    fed_turns = sum(turns[n] for n in names)
    # median over micro-batches: one stalled batch does not move it
    batch_turns = Counter()
    for n in names:
        batch_turns[p["batch_of"][n]] += turns[n]
    res.put("turns_per_s", median([batch_turns[x.batchId] * 1000 / x.durationMs["triggerExecution"]
                                   for x in p["progress"]]), "turns/s")
    res.put("latency_s", median(lat), "s")
    res.put("output_bytes_per_turn", p["bytes"] / fed_turns, "B/turn")
    res.note("file_latency_s_p50", round(median(lat), 4), "s")
    res.note("file_latency_s_p90", round(p90(lat), 4), "s")
    res.note("file_latency_samples_beyond_p90", sum(x > p90(lat) for x in lat))
    res.note("feeder_lag_s_max", round(max(p["lag"]), 4), "s")
    res.note("busy_frac", round(busy / p["wall"], 3))
    res.note("batches (files, ms)", [(p["files_in"][x.batchId], x.durationMs["triggerExecution"])
                                     for x in p["progress"]])
    res.note("batches per drop", round(len(p["progress"]) / n_drops, 3))
    res.note("warm-up batches ms", p["warm_ms"], "ms")
    if ctx.trace:
        with res.phase("trace"):
            layer_figures(spark, ctx, res, rec, p, p["stream"], names)
            operators.leaves(spark, ctx, res, rec)
        res.put("input.gen_s", data["gen_s"], "s")
        # the only cost tracing adds to the stream pass: progress reports
        # are produced anyway, the RSS sampler is not
        res.put("trace.overhead_s", p["mem"].cpu_s, "s")
        common.close_trace(res, rec, p["mem"], latency_s_p50=median(lat), latency_s_p90=p90(lat))
    return res


def layer_figures(spark, ctx, res: Result, rec: Recorder, p: dict, stream, names) -> None:
    """Per-layer figures of the measured pass: each micro-batch becomes a
    span with the phases the query reports; then the logfiles source and
    the parse are replayed over the fed files, each materialized."""
    from datetime import datetime

    import pyarrow.parquet as pq

    from sqllog_analysis_spark.functions.parse import parse_transcripts
    from sqllog_analysis_spark.sources.logfiles import read_sqllog_dir

    # trigger start is wall clock; move it onto the span clock
    wall_to_perf = time.perf_counter() - time.time()
    phase_s = 0.0
    for x in p["progress"]:
        t0 = datetime.fromisoformat(x.timestamp).timestamp() + wall_to_perf
        d = dict(x.durationMs)
        rec.add("streaming.batch", stream, t0, t0 + d["triggerExecution"] / 1000,
                batch_id=x.batchId, rows=x.numInputRows, phases_ms=d)
        phase_s += sum(v for k, v in d.items() if k != "triggerExecution") / 1000
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(p["run_id"])

    work = os.path.join(ctx.work, "replay")
    with rec.span("replay"):
        with rec.span("sources.logfiles") as logfiles:
            read_sqllog_dir(spark, p["watch"]).write.mode("overwrite").parquet(
                os.path.join(work, "segments")
            )
        with rec.span("functions.parse") as parse:
            parse_transcripts(spark.read.parquet(os.path.join(work, "segments"))).write.mode(
                "overwrite"
            ).parquet(os.path.join(work, "parsed"))

    seg_rows = sum(pq.ParquetFile(f).metadata.num_rows
                   for f in glob.glob(os.path.join(work, "segments", "*.parquet")))
    parsed = pq.ParquetDataset(os.path.join(work, "parsed")).read(columns=["error"])
    trig = [x.durationMs["triggerExecution"] / 1000 for x in p["progress"]]
    rec_size, rec_files = inputs.tree_size(os.path.join(p["out"], "records_stream"))

    res.put("sources.logfiles.s", logfiles.duration, "s")
    res.put("sources.logfiles.segments", seg_rows, "rows")
    res.put("functions.parse.s", parse.duration, "s")
    res.put("functions.parse.rows_out", parsed.num_rows, "rows")
    res.put("functions.parse.error_frac", 1 - parsed["error"].null_count / parsed.num_rows, "ratio")
    res.put("streaming.batch_s", median(trig), "s")
    res.put("streaming.batches", len(trig), "count")
    res.put("streaming.busy_frac", sum(trig) / p["wall"], "ratio")
    res.put("streaming.jobs_per_batch", len(jobs) / p["n_batches"], "count")
    res.put("streaming.source_reads_per_file",
            sum(x.numInputRows for x in p["progress"]) / len(names), "ratio")
    res.put("streaming.feeder_lag_s", max(p["lag"]), "s")
    res.put("sinks.records_stream.bytes", rec_size, "B")
    res.put("sinks.records_stream.files", rec_files, "count")
    res.put("sinks.errors_stream.rows",
            inputs.json_lines(os.path.join(p["out"], "errors_stream")), "rows")
    # share of micro-batch time covered by the phases Spark names
    res.put("trace.coverage", phase_s / sum(trig), "ratio")
