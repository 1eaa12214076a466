"""Synthetic Common-Crawl-style web-page corpus (no external data).

Input-table contract (BASELINE.json input_hint / FIXTURES.md F1):

    pages(url string, warc_ts timestamp, html binary, text string, lang string)

``text`` follows the Zipf corpus model of the reference scalability
harness (reference benchmarks/scalability.py:34-67): vocab ``term_0 …
term_{V-1}`` with weight ∝ 1/rank, doc length ~ max(5, round(N(100,
0.3·100))); ``html`` wraps text trivially so extraction is deterministic
and byte-identical per url.

Scale design: rows are generated *distributed* from ``spark.range`` with
an Arrow-batched pandas UDF; every row derives from
``default_rng(seed ^ doc_id)`` alone, so the output is independent of
partitioning and identical to the driver-side twin
(``generate_rows_local``) used by the pytest oracle.  At 10^12 docs this
generator is embarrassingly parallel with zero shuffle.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

PAGE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), False),
        StructField("html", BinaryType(), False),
        StructField("text", StringType(), False),
        StructField("lang", StringType(), False),
    ]
)

EPOCH = np.datetime64("2024-01-01T00:00:00")


def zipf_weights(vocab_size: int) -> np.ndarray:
    w = 1.0 / np.arange(1, vocab_size + 1, dtype=np.float64)
    return w / w.sum()


def doc_tokens(doc_id: int, seed: int, vocab_size: int, avg_len: int,
               weights: np.ndarray) -> list[str]:
    """Tokens for one document — a pure function of (seed, doc_id).

    Zipf sampling via inverse-CDF (searchsorted on the cumulative
    weights) — O(len·log vocab) per doc instead of rng.choice's
    O(vocab) per draw."""
    rng = np.random.default_rng(np.uint64(seed) ^ np.uint64(doc_id))
    n = max(5, int(round(rng.normal(avg_len, 0.3 * avg_len))))
    cdf = _cdf_cache(vocab_size, weights)
    term_ids = np.searchsorted(cdf, rng.random(n), side="right")
    return _vocab_cache(vocab_size)[term_ids].tolist()


_CDF_CACHE: dict[int, np.ndarray] = {}
_VOCAB_CACHE: dict[int, np.ndarray] = {}


def _vocab_cache(vocab_size: int) -> np.ndarray:
    vocab = _VOCAB_CACHE.get(vocab_size)
    if vocab is None:
        vocab = np.array([f"term_{t}" for t in range(vocab_size)], dtype=object)
        _VOCAB_CACHE[vocab_size] = vocab
    return vocab


def _cdf_cache(vocab_size: int, weights: np.ndarray) -> np.ndarray:
    cdf = _CDF_CACHE.get(vocab_size)
    if cdf is None:
        cdf = np.cumsum(weights)
        cdf[-1] = 1.0
        _CDF_CACHE[vocab_size] = cdf
    return cdf


def _page_row(doc_id: int, seed: int, vocab_size: int, avg_len: int, weights: np.ndarray):
    text = " ".join(doc_tokens(doc_id, seed, vocab_size, avg_len, weights))
    return {
        "doc_id": doc_id,
        "url": f"https://example.org/doc/{doc_id}",
        "warc_ts": (EPOCH + np.timedelta64(int(doc_id), "s")).astype("datetime64[us]").item(),
        "html": b"<html><body>" + text.encode("utf-8") + b"</body></html>",
        "text": text,
        "lang": "en",
    }


def generate_rows_local(
    n_docs: int, seed: int = 42, vocab_size: int | None = None, avg_len: int = 100
) -> list[dict]:
    """Driver-side twin of the distributed generator (same rows)."""
    v = vocab_size or min(10000, n_docs)
    w = zipf_weights(v)
    return [_page_row(i, seed, v, avg_len, w) for i in range(n_docs)]


def generate_pages(
    spark: SparkSession,
    n_docs: int,
    seed: int = 42,
    vocab_size: int | None = None,
    avg_len: int = 100,
    num_partitions: int | None = None,
) -> DataFrame:
    """Distributed page-table generator: spark.range → mapInPandas."""
    v = vocab_size or min(10000, n_docs)

    def gen(batches):
        w = zipf_weights(v)
        for pdf in batches:
            rows = [_page_row(int(i), seed, v, avg_len, w) for i in pdf["id"]]
            out = pd.DataFrame(rows)
            out["warc_ts"] = pd.to_datetime(out["warc_ts"])
            yield out

    rng_df = spark.range(0, n_docs, numPartitions=num_partitions)
    return rng_df.mapInPandas(gen, schema=PAGE_SCHEMA)


def generate_queries(
    n_docs: int, seed: int = 42, vocab_size: int | None = None, n_queries: int | None = None
) -> list[list[str]]:
    """Zipf query generator (reference scalability.py:59-66): min(100,
    n_docs/10) queries of 3-5 Zipf-sampled terms; driver-side single RNG
    stream (queries are tiny)."""
    v = vocab_size or min(10000, n_docs)
    nq = n_queries if n_queries is not None else min(100, max(1, n_docs // 10))
    # decouple the query stream from doc 0's token stream (both would
    # otherwise start from default_rng(seed) and emit identical draws,
    # biasing every query toward doc 0)
    rng = np.random.default_rng(np.uint64(seed) ^ np.uint64(0x9E3779B97F4A7C15))
    w = zipf_weights(v)
    out = []
    for _ in range(nq):
        qlen = int(rng.integers(3, 6))
        out.append([f"term_{t}" for t in rng.choice(v, size=qlen, p=w)])
    return out


_QUERY_SCHEMA = StructType(
    [
        StructField("query_id", LongType(), False),
        StructField("terms", ArrayType(StringType()), False),
    ]
)


def queries_to_df(spark: SparkSession, queries: list[list[str]]) -> DataFrame:
    """(query_id long, terms array<string>) — the query-side input table.

    Built from a ``pyarrow.Table``, so Spark plans it as a
    ``LocalRelation``: no ``parallelize`` and no Python worker reads it."""
    table = pa.table(
        {
            "query_id": pa.array(range(len(queries)), pa.int64()),
            "terms": pa.array([list(q) for q in queries], pa.list_(pa.string())),
        }
    )
    return spark.createDataFrame(table, schema=_QUERY_SCHEMA)


def extract_text(pages: DataFrame) -> DataFrame:
    """html → text extraction stage.

    For the synthetic wrapper this strips the <html><body> shell and must
    be byte-identical per url to the stored ``text`` column (the per-row
    invariant the driver checks).  Real-world extraction would swap in a
    proper parser behind the same signature.
    """
    stripped = F.regexp_replace(
        F.decode(F.col("html"), "UTF-8"), r"^<html><body>|</body></html>$", ""
    )
    return pages.withColumn("extracted_text", stripped)


def pages_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adapt the driver-provided ``documents`` parquet (FIXTURES.md F8)
    onto the page-table shape: url := source || '/' || doc_id."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.concat_ws("/", F.col("source"), F.col("doc_id")).alias("url"),
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.encode(F.col("text"), "UTF-8").cast("binary").alias("html"),
        F.col("text"),
        F.col("lang"),
    )
