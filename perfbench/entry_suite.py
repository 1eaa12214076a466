"""The `entry_suite` workload: the 14 headline registry entries of bench.py.

Inputs are seeded stand-ins for the test tables described in TESTDATA.md
(documents, embeddings, lineitem, events), written as one parquet file
each inside the benchmark's work directory, with the same schemas and
value ranges at roughly the sf0.01 size.  Two deliberate differences
keep the DuckDB oracle exact on every seed: prices and discounts are
multiples of 1/4 and 1/64, so every sum is exact in binary floating
point whatever the summation order, and event timestamps are whole
seconds, so Spark's `unix_timestamp` and DuckDB's `epoch` agree on every
session gap.  A few exact and near duplicates are planted so the dedup
entries find pairs.
"""

from __future__ import annotations

import time
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from bench import HEADLINE  # the 14 headline entries, in bench.py's order

N_DOCS = 500
N_VECS = 500
N_LINEITEM = 60_000
N_EVENTS = 10_000

_WORDS = (
    "a the key agg row scan slow fast table value part hash join batch column "
    "customer filter small merge order vector line data stream window spark "
    "group big sort query"
).split()
_LANGS = ["en", "zh", "es", "de", "fr"]
_LANG_P = [0.44, 0.15, 0.15, 0.14, 0.12]


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts = []
    for _ in range(n):
        texts.append(" ".join(rng.choice(_WORDS, size=int(rng.integers(10, 100)))))
    # plant duplicates: 1% exact copies and 2% one-word edits of earlier docs
    for i in rng.choice(np.arange(n // 2, n), size=n // 100, replace=False):
        texts[i] = texts[int(rng.integers(0, n // 2))]
    for i in rng.choice(np.arange(n // 2, n), size=n // 50, replace=False):
        words = texts[int(rng.integers(0, n // 2))].split()
        words[int(rng.integers(0, len(words)))] = str(rng.choice(_WORDS))
        texts[i] = " ".join(words)
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(_LANGS, size=n, p=_LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    v = rng.normal(size=(n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, size=n), pa.int32()),
    })


def _lineitem(rng: np.random.Generator, n: int) -> pa.Table:
    day0 = np.datetime64("1995-01-02", "us")
    days = rng.integers(0, 2498, size=n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, n // 4, size=n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 2000, size=n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 100, size=n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, size=n), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, size=n).astype(np.float64)),
        "l_extendedprice": pa.array(rng.integers(3600, 420_000, size=n) / 4.0),
        "l_discount": pa.array(rng.integers(0, 7, size=n) / 64.0),
        "l_tax": pa.array(rng.integers(0, 6, size=n) / 64.0),
        "l_returnflag": pa.array(rng.choice(["R", "A", "N"], size=n), pa.string()),
        "l_linestatus": pa.array(rng.choice(["O", "F"], size=n), pa.string()),
        "l_shipdate": pa.array(day0 + days, pa.timestamp("us")),
    })


def _events(rng: np.random.Generator, n: int) -> pa.Table:
    secs = np.sort(rng.integers(0, 30 * 86400, size=n))
    ts = np.datetime64("2024-01-01T00:00:00", "us") + secs.astype("timedelta64[s]")
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, size=n), pa.int64()),
        "event_type": pa.array(
            rng.choice(["signup", "error", "click", "view", "purchase"], size=n), pa.string()
        ),
        "value": pa.array(np.round(rng.exponential(50.0, size=n) + 0.01, 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)], pa.string()),
    })


def write_tables(out_dir: Path, seed: int) -> None:
    """Write the four tables for ``seed`` (same seed, same bytes)."""
    out_dir.mkdir(parents=True, exist_ok=True)
    makers = {
        "documents": (_documents, N_DOCS),
        "embeddings": (_embeddings, N_VECS),
        "lineitem": (_lineitem, N_LINEITEM),
        "events": (_events, N_EVENTS),
    }
    for i, (name, (make, n)) in enumerate(makers.items()):
        rng = np.random.default_rng([seed, i])
        pq.write_table(make(rng, n), out_dir / f"{name}.parquet")


def oracle_frames(data_dir: Path) -> dict[str, pd.DataFrame]:
    """Each headline entry's expected rows from its DuckDB oracle SQL."""
    import duckdb

    from bayesian_bm25_spark.entry_queries import ORACLE_SQL

    con = duckdb.connect()
    try:
        for t in ("documents", "embeddings", "lineitem", "events"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir / t}.parquet'")
        return {name: con.sql(ORACLE_SQL[name]).df() for name in HEADLINE}
    finally:
        con.close()


def matches_oracle(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when equal after tools/check_oracle.py's normalisation, else why not."""
    from tools.check_oracle import normalize

    a, b = normalize(got), normalize(want)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} vs {list(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} vs {len(b)}"
    try:
        pd.testing.assert_frame_equal(a, b, check_dtype=False, rtol=0, atol=1e-9)
    except AssertionError as e:
        return "values differ: " + str(e).splitlines()[0]
    return None


def first_call(spark, sf: str) -> None:
    """The suite's first entry, counted, on an empty cache.  In the first
    set-up this also starts the Python workers and compiles the common
    operators, which would otherwise land in the first timed pass."""
    from bayesian_bm25_spark.entry_queries import SPARK_QUERIES

    SPARK_QUERIES[HEADLINE[0]](spark, sf).count()
    spark.catalog.clearCache()


def run(ctx) -> None:
    """Set up three times (write the tables, make the first entry call),
    then time whole passes over the entries, the operation whose latency
    is reported.  Each entry call is an attempted operation too; it
    collects its rows, which are checked against the DuckDB oracle after
    the timed loop."""
    from bayesian_bm25_spark.entry_queries import SPARK_QUERIES

    spark, data_dir = ctx.spark, ctx.work / "tables"
    sf = str(data_dir)
    for _ in range(3):
        with ctx.setup_span():
            write_tables(data_dir, ctx.seed)
            first_call(spark, sf)
    expected = oracle_frames(data_dir)
    ctx.mark("oracle answers ready")

    calls = []  # (pass, entry call, collected rows)
    t_end = time.perf_counter() + ctx.seconds
    ctx.loop_started()
    while time.perf_counter() < t_end:
        # each pass starts from an empty cache, as one run of the suite
        # would; caches an entry shares with later entries of the same
        # pass (the _corpus_postings tf family) still count
        spark.catalog.clearCache()
        with ctx.op("suite_pass", items=len(HEADLINE)) as suite:
            for name in HEADLINE:
                rows = None
                with ctx.op(name, timed=False) as op:
                    rows = SPARK_QUERIES[name](spark, sf).toPandas()
                calls.append((suite, op, rows))
    ctx.loop_ended()

    for suite, op, rows in calls:
        why = matches_oracle(rows, expected[op.name]) if op.ok else None
        if why:
            op.fail(f"differs from its oracle: {why}")
        if not op.ok:
            suite.fail(f"entry {op.name} failed")

    if ctx.trace:
        times = {name: [o.seconds for o in ctx.ops if o.name == name and o.ok] for name in HEADLINE}
        for name, ts in times.items():
            ctx.layer(f"entry.{name}_s", float(np.median(ts)) if ts else 0.0)
