"""Seeded workload inputs, cached per workload, seed and size.

Both pipeline workloads draw their corpus from
``sources.transcripts.generate_transcripts(n_turns, seed)``:

- the transcripts table is that corpus written as sharded parquet;
- the raw log set is the same corpus in time order, cut into rotated
  ``dmsql_*.log`` files of a fixed number of turns.

Generation runs in this process, before any Spark session exists, so it
never counts towards ``setup_s``; its time is reported separately.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time

DATA_DIR = ".perfbench_data"
SHARDS = 8


def _cache_dir(root: str, workload: str, seed: int, n_turns: int) -> str:
    return os.path.join(root, DATA_DIR, workload, f"s{seed}_n{n_turns}")


def build_once(path: str, build) -> float:
    """Run ``build(tmp_dir)`` unless ``path`` is complete; return seconds
    spent (0.0 on a cache hit).  The directory appears atomically."""
    if os.path.exists(os.path.join(path, "_DONE")):
        return 0.0
    t0 = time.perf_counter()
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    with open(os.path.join(tmp, "_DONE"), "w"):
        pass
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)
    return time.perf_counter() - t0


def transcripts_table(root: str, seed: int, n_turns: int, oracle: bool = True) -> dict:
    """Sharded parquet transcripts table plus, with ``oracle``, its
    expectations: per-sink record counts and the ``parse_errors`` count
    from ``tools/gen_contract_expected.expected_for`` over the same corpus.

    Returns {"path", "n_turns", "expected" (None without oracle), "gen_s"}."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from gen_contract_expected import expected_for

    from sqllog_analysis_spark.sources.transcripts import generate_transcripts

    path = _cache_dir(root, "transcripts_batch", seed, n_turns)

    def build(tmp: str) -> None:
        df = generate_transcripts(n_turns, seed)
        # one schema for every shard: a column that is all null in the
        # whole frame (``tool`` in a small one) is still a string column
        t = pa.Table.from_pandas(df, preserve_index=False)
        t = t.cast(pa.schema([f.with_type(pa.string()) if pa.types.is_null(f.type) else f
                              for f in t.schema]))
        table = os.path.join(tmp, "table")
        os.makedirs(table)
        for i in range(SHARDS):
            pq.write_table(
                t.take(list(range(i, t.num_rows, SHARDS))),
                os.path.join(table, f"part-{i:04d}.parquet"),
            )
        if oracle:
            e = expected_for(n_turns, seed)
            with open(os.path.join(tmp, "expected.json"), "w") as fh:
                json.dump({"sinks": dict(e["sink_counts"]), "parse_errors": e["n_errors"]}, fh)

    gen_s = build_once(path, build)
    expected = None
    if oracle:
        with open(os.path.join(path, "expected.json")) as fh:
            expected = json.load(fh)
    return {
        "path": os.path.join(path, "table"),
        "n_turns": n_turns,
        "expected": expected,
        "gen_s": gen_s,
    }


def rawlog_files(root: str, seed: int, n_turns: int, turns_per_file: int) -> dict:
    """The corpus in time order, cut into rotated ``dmsql_*.log`` files of
    ``turns_per_file`` turns each (a log rotated at a fixed size; in raw
    mode each file is one conversation).  Returns
    {"dir", "files": [(name, n_turns)], "gen_s"}."""
    from sqllog_analysis_spark.sources.transcripts import generate_transcripts

    path = _cache_dir(root, "rawlog_follow", seed, n_turns)

    def build(tmp: str) -> None:
        df = generate_transcripts(n_turns, seed).sort_values(["ts", "conv_id", "turn_idx"])
        logs = os.path.join(tmp, "logs")
        os.makedirs(logs)
        index = []
        for k, lo in enumerate(range(0, n_turns, turns_per_file)):
            texts = df["text"].iloc[lo : lo + turns_per_file]
            name = f"dmsql_{k:06d}.log"
            with open(os.path.join(logs, name), "w", encoding="utf-8") as fh:
                fh.write("\n".join(texts) + "\n")
            index.append((name, len(texts)))
        with open(os.path.join(tmp, "index.json"), "w") as fh:
            json.dump(index, fh)

    gen_s = build_once(path, build)
    with open(os.path.join(path, "index.json")) as fh:
        files = [tuple(x) for x in json.load(fh)]
    return {"dir": os.path.join(path, "logs"), "files": files, "gen_s": gen_s}


# --------------------------------------------------------------------------
# reading written outputs (pyarrow / plain files — no Spark, no package code)
# --------------------------------------------------------------------------

_CAT = re.compile(r"(?:^|/)category=([^/]+)/")


def parquet_rows_by_category(root: str) -> dict[str, int]:
    """Row counts per ``category=`` partition of a parquet tree, from footers."""
    import pyarrow.parquet as pq

    out: dict[str, int] = {}
    for d, _, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(d, n)
                m = _CAT.search(os.path.relpath(p, root))
                if m:
                    out[m.group(1)] = out.get(m.group(1), 0) + pq.ParquetFile(p).metadata.num_rows
    return out


def json_lines(root: str) -> int:
    """Number of JSON lines under ``root`` (Spark's JSON sink part files)."""
    n = 0
    for d, _, names in os.walk(root):
        for name in names:
            if name.startswith("part-") and name.endswith(".json"):
                with open(os.path.join(d, name), "rb") as fh:
                    n += sum(1 for line in fh if line.strip())
    return n


def tree_size(root: str, exclude: tuple[str, ...] = ()) -> tuple[int, int]:
    """(bytes, files) of every regular file under ``root``."""
    size = files = 0
    for d, dirs, names in os.walk(root):
        dirs[:] = [x for x in dirs if x not in exclude]
        for n in names:
            size += os.path.getsize(os.path.join(d, n))
            files += 1
    return size, files
