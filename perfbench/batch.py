"""Workload ``transcripts_batch``: fresh ``run_pipeline`` runs over a
sharded parquet transcripts table (default class mix, Zipf-sized
conversations), and, traced, a layer-by-layer replay of the same run."""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor

from perfbench import common, inputs
from perfbench.common import Result, fresh_dir, median
from perfbench.trace import Recorder, RssSampler, self_times

N_TURNS = 24_000
TINY_TURNS = 2_000
WARM_TURNS = 200
MIN_SAMPLES = 2
MAX_SAMPLES = 12


def check_outputs(res: Result, out: str, expected: dict, label: str) -> None:
    """Per-sink record counts, the derived sink_counts table and the
    parse_errors count against the oracle's expectations."""
    import pyarrow.parquet as pq

    records = inputs.parquet_rows_by_category(os.path.join(out, "records"))
    counts = {
        r["category"]: r["n"]
        for r in pq.read_table(os.path.join(out, "sink_counts")).to_pylist()
    }
    n_errors = inputs.json_lines(os.path.join(out, "parse_errors"))
    want = expected["sinks"]
    res.check(
        records == want and counts == want and n_errors == expected["parse_errors"],
        f"{label}: records {records}, sink_counts {counts}, parse_errors {n_errors}; "
        f"oracle {want}, parse_errors {expected['parse_errors']}",
    )


def run(ctx) -> Result:
    from sqllog_analysis_spark.plans.pipeline import PipelineConfig, run_pipeline

    res = Result("transcripts_batch")
    warm = inputs.transcripts_table(ctx.root, ctx.seed, WARM_TURNS, oracle=False)

    with res.phase("setup"):
        spark, session_s, first_job_s = common.start_session()
    common.put_setup(res, session_s, first_job_s)

    def pipeline(path: str, out: str) -> None:
        run_pipeline(spark, PipelineConfig(input_path=path, output_dir=out, resume=False))

    # warm-up: one run over a small table (JVM code paths and Python
    # workers warm up per process, not per input size); the measured table
    # and its oracle expectations are made meanwhile, off the timed path
    with res.phase("warmup"), ThreadPoolExecutor(max_workers=1) as ex:
        made = ex.submit(
            inputs.transcripts_table, ctx.root, ctx.seed, TINY_TURNS if ctx.tiny else N_TURNS
        )
        pipeline(warm["path"], fresh_dir(os.path.join(ctx.work, "warmup")))
        data = made.result()
    n = data["n_turns"]
    res.note("input.turns", n, "turns")
    res.note("input.gen_s", round(data["gen_s"], 3), "s")

    walls: list[float] = []
    deadline = time.perf_counter() + ctx.seconds
    with res.phase("measure"):
        while len(walls) < MIN_SAMPLES or (
            time.perf_counter() < deadline and len(walls) < MAX_SAMPLES
        ):
            out = fresh_dir(os.path.join(ctx.work, "run"))
            t0 = time.perf_counter()
            pipeline(data["path"], out)
            walls.append(time.perf_counter() - t0)
            check_outputs(res, out, data["expected"], f"run {len(walls)}")
    size, files = inputs.tree_size(out)

    wall = median(walls)
    res.put("turns_per_s", n / wall, "turns/s")
    res.put("latency_s", wall, "s")
    res.put("output_bytes_per_turn", size / n, "B/turn")
    res.note("pipeline.samples_s", [round(w, 3) for w in walls], "s")
    res.note("output.files", files)
    if ctx.trace:
        with res.phase("trace"):
            trace(spark, ctx, data, res, walls)
    return res


def trace(spark, ctx, data: dict, res: Result, walls: list[float]) -> None:
    """Job and task counts of one more untraced run, then the replay.  The
    replay is set beside the median wall of all untraced runs, this one
    included."""
    from sqllog_analysis_spark.plans.pipeline import PipelineConfig, run_pipeline

    out = fresh_dir(os.path.join(ctx.work, "run"))
    with Recorder(f"{ctx.run_id}-count", sc=spark.sparkContext).span("plans.pipeline") as p:
        run_pipeline(spark, PipelineConfig(input_path=data["path"], output_dir=out, resume=False))
    check_outputs(res, out, data["expected"], "counted run")
    res.put("plans.pipeline.jobs", p.jobs, "count")
    res.put("plans.pipeline.tasks", p.tasks, "count")
    res.put("input.gen_s", data["gen_s"], "s")
    wall = median(walls + [p.duration])
    rec = Recorder(ctx.run_id, ctx.spans_path, sc=spark.sparkContext)
    with RssSampler(common.jvm_pid()) as mem:
        replay(spark, ctx, data, res, rec, untraced_wall=wall)
    common.close_trace(res, rec, mem, untraced_wall_s=wall)


def replay(spark, ctx, data: dict, res: Result, rec: Recorder, untraced_wall: float) -> None:
    """``run_pipeline`` rebuilt from its public pieces, one span per layer.

    Each step materializes its output and the next step reads it back, so
    a span's self time is that layer's own cost.  The records and errors
    chains run concurrently, as in the pipeline, so the spans show which
    of the two blocks the result."""
    import pyarrow.parquet as pq
    from pyspark.sql import Window, functions as F

    from sqllog_analysis_spark.functions.parse import parse_transcripts
    from sqllog_analysis_spark.operators.aggregates import conv_buckets
    from sqllog_analysis_spark.operators.routing import split_sink_contract
    from sqllog_analysis_spark.plans.pipeline import downstream
    from sqllog_analysis_spark.sinks.lineage import jsonl_lineage, parquet_lineage
    from sqllog_analysis_spark.sinks.manifest import Manifest, fingerprint_input
    from sqllog_analysis_spark.sinks.writers import (
        write_aggregates,
        write_category_sinks,
        write_error_sink,
    )

    work = fresh_dir(os.path.join(ctx.work, "replay"))
    out = os.path.join(work, "out")
    path = {k: os.path.join(work, k) for k in ("exchanged", "routed", "errors")}
    path.update(
        {k: os.path.join(out, k) for k in ("staged_parsed", "records", "parse_errors",
                                           "conv_buckets", "sink_counts")}
    )
    sc = spark.sparkContext
    write = lambda df, p: df.write.mode("overwrite").parquet(p)  # noqa: E731
    read = spark.read.parquet

    def rows(p: str) -> list[int]:
        return [x["row_count"] for x in parquet_lineage(p)]

    with rec.span("replay") as root:
        with rec.span("sources.transcripts"):
            src = read(data["path"])
            src.write.format("noop").mode("overwrite").save()
        n_parts = 4 * sc.defaultParallelism
        with rec.span("plans.exchange"):
            w = Window.partitionBy("conv_id").orderBy("turn_idx")
            write(
                src.repartition(n_parts, "conv_id").withColumn(
                    "turn_seq", F.row_number().over(w)
                ),
                path["exchanged"],
            )
        with rec.span("functions.parse"):
            write(parse_transcripts(read(path["exchanged"])), path["staged_parsed"])
        g = downstream(spark, read(path["staged_parsed"]))
        with rec.span("operators.routing.degen"):
            g["degen"].persist()
            n_degen = g["degen"].count()
        g["error_rows"].persist()
        with rec.span("operators.route"):
            writable, contract_bad = split_sink_contract(g["routed"], category_total=True)
            write(writable, path["routed"])
            write(g["errors"].unionByName(contract_bad), path["errors"])
        g["degen"].unpersist()
        g["error_rows"].unpersist()

        def chain_records(parent) -> None:
            with rec.span("chain.records", parent=parent):
                with rec.span("sinks.records"):
                    write_category_sinks(
                        read(path["routed"]), out, row_count_hint=data["n_turns"]
                    )
                with rec.span("operators.aggregates"):
                    write(conv_buckets(read(path["records"])), path["conv_buckets"])
                    write_aggregates(
                        read(path["conv_buckets"])
                        .groupBy("category")
                        .agg(F.sum("n").alias("n")),
                        None,
                        out,
                    )

        def chain_errors(parent) -> None:
            with rec.span("chain.errors", parent=parent):
                with rec.span("sinks.errors"):
                    write_error_sink(read(path["errors"]), out)

        with rec.span("plans.chains") as chains, ThreadPoolExecutor(max_workers=2) as ex:
            for f in [ex.submit(c, chains) for c in (chain_records, chain_errors)]:
                f.result()

        with rec.span("sinks.metadata"):
            manifest = Manifest(os.path.join(out, "_manifest"))
            fp = fingerprint_input(data["path"], {"slow_ms": 1000, "bucket": "hour"})
            for stage, lineage in (
                ("parsed", parquet_lineage(path["staged_parsed"])),
                ("records", parquet_lineage(path["records"])),
                ("parse_errors", jsonl_lineage(path["parse_errors"])),
                ("aggregates", parquet_lineage(path["sink_counts"])),
            ):
                manifest.commit(
                    stage,
                    fp,
                    row_count=sum(x.get("row_count", 0) for x in lineage),
                    partitions=lineage,
                )

    check_outputs(res, out, data["expected"], "traced replay")

    st = self_times(rec.spans)
    one = {s.name: s for s in rec.spans}
    selfs = lambda name: st[one[name].id]  # noqa: E731
    parsed_rows = sum(rows(path["staged_parsed"]))
    staged = pq.ParquetDataset(path["staged_parsed"]).read(columns=["error"])
    exch = rows(path["exchanged"])
    rec_size, rec_files = inputs.tree_size(path["records"])
    err_size, _ = inputs.tree_size(path["parse_errors"])

    res.put("sources.transcripts.s", selfs("sources.transcripts"), "s")
    res.put("sources.transcripts.rows", data["n_turns"], "rows")
    res.put("plans.exchange.s", selfs("plans.exchange"), "s")
    res.put("plans.exchange.skew", max(exch) / (sum(exch) / n_parts), "max/mean")
    res.put("functions.parse.s", selfs("functions.parse"), "s")
    res.put("functions.parse.rows_out", parsed_rows, "rows")
    res.put("functions.parse.error_frac", 1 - staged["error"].null_count / parsed_rows, "ratio")
    res.put("operators.routing.degen.s", selfs("operators.routing.degen"), "s")
    res.put("operators.routing.degen.rows", n_degen, "rows")
    res.put("operators.route.s", selfs("operators.route"), "s")
    res.put("operators.route.rows_out", sum(rows(path["routed"])), "rows")
    res.put("sinks.records.s", selfs("sinks.records"), "s")
    res.put("sinks.records.bytes", rec_size, "B")
    res.put("sinks.records.files", rec_files, "count")
    res.put("sinks.errors.s", selfs("sinks.errors"), "s")
    res.put("sinks.errors.rows", inputs.json_lines(path["parse_errors"]), "rows")
    res.put("sinks.errors.bytes", err_size, "B")
    res.put("operators.aggregates.s", selfs("operators.aggregates"), "s")
    res.put("sinks.metadata.s", selfs("sinks.metadata"), "s")
    res.put("chain.records.s", one["chain.records"].duration, "s")
    res.put("chain.errors.s", one["chain.errors"].duration, "s")

    # layer self time along the blocking path: the chain that ends first
    # overlaps the other and is left out; the replay's own glue (root self
    # time) is not a layer
    cr, ce = one["chain.records"], one["chain.errors"]
    idle = ce if ce.end < cr.end else cr
    skip = {idle.id} | {s.id for s in rec.spans if s.parent == idle.id}
    layer_s = sum(v for k, v in st.items() if k not in skip and k != root.id)
    res.put("trace.coverage", layer_s / untraced_wall, "ratio")
    res.put("trace.overhead_s", root.duration - untraced_wall, "s")
    root.tags["blocking_chain"] = (cr if idle is ce else ce).name
