"""The 35 ``bench.HEADLINE`` operator leaves from ``__spark_entry__``,
timed one by one over a seeded star schema.

The tables follow the shapes of the repository's synthetic test data
(TPC-H-like region/nation/customer/supplier/part/orders/lineitem plus
events, documents and embeddings) at scale 0.01, generated here from the
seed so the benchmark reads nothing outside its checkout.  Each query
runs once: its collection to the driver is timed, then the result is
compared with its ``__spark_entry__.oracle_sql()`` DuckDB oracle through
``tools/check_entry.frame_sig`` outside the timed window.
"""

from __future__ import annotations

import os
import sys

from perfbench import inputs

# the package module each leaf exercises ("sql" = Spark SQL operators only)
MODULE = {
    "pricing_summary": "sql",
    "join_topk": "sql",
    "broadcast_enrich": "sql",
    "window_first_order": "sql",
    "regex_route": "sql",
    "time_bucket": "sql",
    "sessionize": "sql",
    "exact_dedup": "operators.dedup",
    "text_quality": "functions.text",
    "minhash_lsh": "operators.dedup",
    "simhash": "operators.dedup",
    "simhash_pairs": "operators.dedup",
    "cosine_topk": "operators.similarity",
    "lsh_near_dup": "operators.similarity",
    "sample_split": "operators.sampling",
    "seq_packing": "operators.sampling",
    "decontaminate": "operators.corpus",
    "repetition_filter": "operators.corpus",
    "stratified_sample": "operators.corpus",
    "passage_stats": "operators.corpus",
    "pii_scrub": "functions.pii",
    "url_extract": "functions.pii",
    "quota_sample": "operators.corpus",
    "asof_join": "operators.asof",
    "interval_join": "operators.rangejoin",
    "sliding_window": "sql",
    "quantiles": "sql",
    "sql_shapes": "operators.loganalytics",
    "funnel": "operators.loganalytics",
    "cohort_retention": "operators.loganalytics",
    "bm25_topk": "operators.loganalytics",
    "heavy_hitters": "operators.loganalytics",
    "event_transitions": "operators.loganalytics",
    "session_stats": "operators.loganalytics",
    "group_entropy": "operators.loganalytics",
}

SCALE = 0.01
TINY_SCALE = 0.001
WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window order data column join small big group filter "
    "customer query stream vector"
).split()


def star_schema(root: str, seed: int, scale: float = SCALE) -> dict:
    """Write the ten tables as parquet; returns {"dir", "gen_s"}."""
    path = os.path.join(root, inputs.DATA_DIR, "operator_tables", f"s{seed}_sf{scale}")
    gen_s = inputs.build_once(path, lambda tmp: _write_tables(tmp, seed, scale))
    return {"dir": path, "gen_s": gen_s}


def _write_tables(out: str, seed: int, scale: float) -> None:
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(seed)
    n = lambda base: max(1, int(base * scale))  # noqa: E731
    money = lambda lo, hi, k: np.round(rng.uniform(lo, hi, k), 2)  # noqa: E731

    def days(start: str, end: str, k: int) -> np.ndarray:
        d0, d1 = np.datetime64(start, "D"), np.datetime64(end, "D")
        return (d0 + rng.integers(0, (d1 - d0).astype(int) + 1, k)).astype("datetime64[us]")

    n_cust, n_supp, n_part = n(150_000), n(10_000), n(200_000)
    n_ord, n_li, n_ev = n(1_500_000), n(6_000_000), n(1_000_000)
    n_doc, n_emb, n_users = n(50_000), n(50_000), max(100, n(150_000))
    tables = {
        "region": pd.DataFrame({
            "r_regionkey": np.arange(5, dtype="int32"),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pd.DataFrame({
            "n_nationkey": np.arange(25, dtype="int32"),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype("int32"),
        }),
        "customer": pd.DataFrame({
            "c_custkey": np.arange(n_cust, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
            ),
        }),
        "supplier": pd.DataFrame({
            "s_suppkey": np.arange(n_supp, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        }),
        "part": pd.DataFrame({
            "p_partkey": np.arange(n_part, dtype="int64"),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(
                    rng.choice(["small", "large", "red", "blue", "hot", "cold", "old", "new"], n_part),
                    rng.choice(["ring", "bolt", "widget", "gear", "pipe", "nut", "valve", "cap"], n_part),
                )
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
            "p_size": rng.integers(1, 51, n_part).astype("int32"),
            "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10,
        }),
        "orders": pd.DataFrame({
            "o_orderkey": np.arange(n_ord, dtype="int64"),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": money(1000, 500000, n_ord),
            "o_orderdate": days("1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
            ),
        }),
        "lineitem": pd.DataFrame({
            "l_orderkey": rng.integers(0, n_ord, n_li),
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": rng.integers(1, 8, n_li).astype("int32"),
            "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
            "l_extendedprice": money(900, 105000, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100,
            "l_tax": rng.integers(0, 9, n_li) / 100,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": days("1995-01-02", "2001-11-04", n_li),
        }),
        "events": pd.DataFrame({
            "event_id": np.arange(n_ev, dtype="int64"),
            "ts": (
                np.datetime64("2024-01-01T00:00:00", "us")
                + np.cumsum(rng.exponential(26e6, n_ev)).astype("int64").astype("timedelta64[us]")
            ),
            "user_id": rng.integers(0, n_users, n_ev),
            "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
            "value": np.round(rng.exponential(50, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }),
    }
    # documents: 10-100 words from a small vocabulary; ~5% near-duplicates
    # of an earlier document (one extra token) and a few exact copies
    texts: list[str] = []
    for i in range(n_doc):
        r = rng.random()
        if i and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i and r < 0.055:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 101)))))
    tables["documents"] = pd.DataFrame({
        "doc_id": np.arange(n_doc, dtype="int64"),
        "text": texts,
        "lang": rng.choice(["en", "zh", "es", "fr", "de"], n_doc, p=[0.41, 0.15, 0.15, 0.15, 0.14]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })
    # embeddings: unit vectors around ten label centres, so similarity
    # joins find near neighbours
    label = rng.integers(0, 10, n_emb).astype("int32")
    centres = rng.normal(size=(10, 64))
    vec = centres[label] * 0.3 + rng.normal(size=(n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype("float32")
    tables["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n_emb, dtype="int64"),
        "embedding": list(vec),
        "label": label,
    })
    for name, df in tables.items():
        df.to_parquet(os.path.join(out, f"{name}.parquet"), index=False)


def leaves(spark, ctx, res, rec) -> None:
    """Time, then check, each headline leaf; ``op.<query>.s`` per leaf."""
    import duckdb

    import __spark_entry__ as entry
    from bench import HEADLINE
    from check_entry import TABLES, frame_sig

    tables = star_schema(ctx.root, ctx.seed, TINY_SCALE if ctx.tiny else SCALE)
    sf_dir = tables["dir"]
    res.put("op.gen_s", tables["gen_s"], "s")
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        qs, oracles = entry.queries(), entry.oracle_sql()
        total = 0.0
        with rec.span("operators"):
            for name in HEADLINE:
                try:
                    with rec.span(f"op.{name}", module=MODULE[name]) as s:
                        got = qs[name](spark, sf_dir).toPandas()
                    ok = frame_sig(got) == frame_sig(con.execute(oracles[name]).df())
                except Exception as e:  # a failing leaf is counted, not fatal
                    ok = False
                    print(f"op {name}: {e!r:.200}", file=sys.stderr)
                if res.check(ok, f"op {name}: differs from its oracle"):
                    res.put(f"op.{name}.s", s.duration, "s")
                    total += s.duration
        res.put("op.suite_s", total, "s")
    finally:
        con.close()
