"""Inverted-index build: tokenize → postings → stats → bounds → params.

Build DAG (each stage a parquet checkpoint with a lineage manifest, so
the build resumes from any boundary — north rule):

    pages(url, warc_ts, html, text, lang)
      └─ docs:      tokenize (Arrow p_udf-free: pure Column split/filter)
      └─ postings:  row-local tf count (mapInPandas, no shuffle)
                    → join df per term, counted from the docs' distinct
                    tokens [one small shuffle, broadcast when small]
                    → eager impact column (codegen) → laid out by
                    term_bucket = pmod(xxhash64(term), n_buckets)
      └─ posting_lists: ONE shuffle by term + sort by (term, doc_id)
                    → each term's run delta+varbyte-encoded once,
                    written once  [north rule storage tier; queries
                    default to flat postings].  The encode holds every
                    term's arrays, so it also emits df/max/min impact,
                    the θ-pass prefix_cutoff and per-block maxima as
                    extra columns
         └─ term_stats: column-pruned select of posting_lists (payload
                    bytes unread)
         └─ block_max:  explode of the posting_lists block arrays (same)
      └─ params.json: seeded pseudo-query sampling → one pruned Arrow
                    fetch of their terms' postings rows → numpy scoring
                    and α/β/base-rate on the driver (mirrors the
                    reference protocol and the numpy kernel)

Skew: the Zipf head ("the"-like terms) — the flat postings shuffle
relies on AQE skew-join splitting; in the compressed build the head term
is one sorted run in one encode task, streamed in Arrow batches.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from bayesian_bm25_spark.functions import columns as C
from bayesian_bm25_spark.kernel.bm25 import estimate_alpha_beta, estimate_base_rate
from bayesian_bm25_spark.kernel.postings_codec import encode_posting_list
from bayesian_bm25_spark.kernel.transform import TransformParams
from bayesian_bm25_spark.plans import checkpoint as ckpt

# Reference values (scorer.py): block_max blocks cover doc_id ranges of
# BLOCK_SIZE; term_stats.prefix_cutoff is the PREFIX_LEN-th largest
# impact (the MaxScore θ-pass depth); params score PSEUDO_QUERY_SAMPLE
# docs drawn with default_rng(PSEUDO_QUERY_SEED).
BLOCK_SIZE = 128
PREFIX_LEN = 128
PSEUDO_QUERY_SEED = 42
PSEUDO_QUERY_SAMPLE = 50


@dataclass
class IndexConfig:
    k1: float = 1.2
    b: float = 0.75
    method: str = "lucene"  # robertson | lucene | atire
    stemmer: str | None = None  # None | "porter" | "porter2"/"snowball" (index AND queries)
    # None | "english" | explicit word list — removed on the UNSTEMMED
    # token (bm25s.tokenize order), applied at index AND query time
    stopwords: str | tuple | None = None
    alpha: float | None = None
    beta: float | None = None
    base_rate: float | str | None = None  # None | "auto" | float
    base_rate_method: str = "percentile"
    n_buckets: int = 32  # term-hash layout buckets (partition pruning)

    def to_dict(self) -> dict:
        return {k: getattr(self, k) for k in self.__dataclass_fields__}

    @classmethod
    def from_dict(cls, d: dict) -> "IndexConfig":
        # unknown keys are dropped: params.json of an index built by an
        # older version may list fields that no longer exist
        return cls(**{k: v for k, v in d.items() if k in cls.__dataclass_fields__})


@dataclass
class BM25Index:
    """Handle over the built index artifacts."""

    spark: SparkSession
    path: str
    config: IndexConfig
    postings: DataFrame
    term_stats: DataFrame
    block_max: DataFrame
    doc_stats: DataFrame
    n_docs: int
    avgdl: float
    params: TransformParams
    posting_lists: DataFrame
    build_metrics: dict = field(default_factory=dict)


def assign_doc_ids(
    pages: DataFrame,
    order_col: str = "url",
    start_id: int = 0,
    num_partitions: int | None = None,
) -> DataFrame:
    """Distributed url-rank doc_id assignment — NO global window.

    Two-pass zipWithIndex over a range partitioning:

      1. ``repartitionByRange(p, url) + sortWithinPartitions(url)`` puts
         every partition's rows in global url order across partitions —
         each partition sorts locally, in parallel.
      2. one O(p)-row job counts rows per partition; the driver prefix-
         sums the counts into per-partition offsets (KB of state).
      3. a ``mapInPandas`` pass adds ``offset[pid] + local ordinal`` —
         streaming, no shuffle, no single-task funnel.

    The ids are identical to ``row_number() over (ORDER BY url)`` − 1
    (rank-identity pytest enforces it): the range exchange is given an
    explicit partition count (AQE never re-coalesces it) and the
    partitioned frame is localCheckpoint-ed before the count job, so
    the count job and the id job read the SAME materialized partitions
    even when the upstream relation is nondeterministic (json scans,
    joins, samples — e.g. the BEIR loader's output).

    TRADEOFF: localCheckpoint stores blocks on executors with lineage
    truncated — an executor lost between the count job and the id job
    fails the build (non-recomputable blocks), and the materialized
    corpus occupies executor memory/disk for the window between the two
    jobs.  That's the right default here: the window is one short job,
    and the failure mode is a clean retryable error, never silent id
    skew.  For very large builds on preemptible clusters, write the
    range-partitioned frame to the index work dir (a reliable
    checkpoint) instead — same two-job protocol, recoverable blocks —
    at the cost of a full corpus write+read.
    """
    import numpy as np
    import pandas as pd

    spark = pages.sparkSession
    p = num_partitions or spark.sparkContext.defaultParallelism * 2
    if "doc_id" in pages.columns:  # reassigning: discard the old ids
        pages = pages.drop("doc_id")
    parted = (
        pages.repartitionByRange(p, F.col(order_col))
        .sortWithinPartitions(order_col)
        .withColumn("_pid", F.spark_partition_id())
        # materialize the partitioning ONCE (the counts job below
        # triggers it; the id job re-reads the stored blocks).  Without
        # this the two jobs re-execute the range exchange independently
        # and a nondeterministic upstream (a json scan + join, a sample)
        # can land rows in different partitions between them — silently
        # duplicated/skipped ids.  For a deterministic parquet scan the
        # checkpoint is merely cheap insurance.
        .localCheckpoint(eager=False)
    )
    counts = (
        parted.groupBy("_pid").agg(F.count(F.lit(1)).alias("_cnt")).collect()
    )
    offsets, acc = {}, int(start_id)
    for r in sorted(counts, key=lambda r: r["_pid"]):
        offsets[int(r["_pid"])] = acc
        acc += int(r["_cnt"])

    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in parted.schema.fields
        if f.name != "_pid"
    ) + ", doc_id long"

    def add_ids(batches):
        seen = 0
        for pdf in batches:
            if pdf.empty:
                continue
            base = offsets[int(pdf["_pid"].iloc[0])]
            out = pdf.drop(columns=["_pid"])
            out["doc_id"] = np.arange(base + seen, base + seen + len(pdf), dtype=np.int64)
            seen += len(pdf)
            yield out

    return parted.mapInPandas(add_ids, schema=out_schema)


def tokenize_pages(
    pages: DataFrame,
    stemmer: str | None = None,
    stopwords: str | tuple | None = None,
) -> DataFrame:
    """pages → docs(doc_id, url, tokens, doc_len).

    doc_id is taken from the input when present; otherwise assigned as
    the dense url rank via ``assign_doc_ids`` — a range-partitioned
    two-pass zipWithIndex, never a global un-partitioned window.

    ``stemmer`` (off by default) applies a pure-Python stemmer per token
    via an Arrow UDF: "porter" (classic 1980) or "porter2"/"snowball"
    (Snowball English — the stemmer behind the reference's published
    BEIR numbers, hybrid_beir.py:288-296).  ``stopwords`` ("english" or
    an explicit list) removes stopwords BEFORE stemming — the
    bm25s.tokenize order (hybrid_beir.py:293 passes
    ``stopwords="english"`` alongside the stemmer), via a JVM-side
    higher-order filter.  Queries must then be normalized with the same
    flags (the reference applies both on both sides)."""
    base = pages if "doc_id" in pages.columns else assign_doc_ids(pages)
    tokens = C.tokenize(F.col("text"))
    if stopwords is not None:
        from bayesian_bm25_spark.functions.stopwords import remove_stopwords

        tokens = remove_stopwords(tokens, stopwords)
    if stemmer is not None:
        from bayesian_bm25_spark.functions.stemmer import (
            resolve_stemmer,
            stem_tokens_udf,
        )

        resolve_stemmer(stemmer)  # validate the name eagerly
        tokens = stem_tokens_udf(stemmer)(tokens)
    return base.select(
        "doc_id",
        "url",
        tokens.alias("tokens"),
    ).withColumn("doc_len", F.size("tokens").cast("long"))


def _local_tf(docs: DataFrame) -> DataFrame:
    """(doc_id, doc_len, term, tf) computed ROW-LOCALLY — zero shuffle.

    A doc's term frequencies are a function of its own tokens array, so
    the groupBy(term, doc_id) shuffle of the whole exploded token
    stream (≈ Σ doc_len rows serialized over the network at cluster
    scale) is unnecessary: one Arrow-batched pass counts tokens per row
    with vectorized pandas (flatten → groupby(row, term).size — C code,
    no per-token Python).  The only remaining build shuffle for the
    postings table is the per-term df aggregation, whose map-side
    partial reduces to ~|vocab| rows per partition.
    """
    import numpy as np
    import pandas as pd

    def count(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            toks = pdf["tokens"]
            lens = toks.map(len).to_numpy()
            if int(lens.sum()) == 0:
                continue
            row_idx = np.repeat(np.arange(len(pdf)), lens)
            flat = np.concatenate([np.asarray(t, dtype=object) for t in toks])
            g = (
                pd.DataFrame({"i": row_idx, "term": flat})
                .groupby(["i", "term"], sort=False)
                .size()
                .reset_index(name="tf")
            )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy()[g["i"].to_numpy()],
                    "doc_len": pdf["doc_len"].to_numpy()[g["i"].to_numpy()],
                    "term": g["term"].to_numpy(),
                    "tf": g["tf"].to_numpy().astype("int64"),
                }
            )

    return docs.select("doc_id", "doc_len", "tokens").mapInPandas(
        count, schema="doc_id long, doc_len long, term string, tf long"
    )


def _append_tf(old_postings: DataFrame, new_docs: DataFrame) -> DataFrame:
    """tf facts of `old corpus ∪ new docs` for an append.

    (doc_id, doc_len, term, tf) never change once a doc is indexed, so
    the old postings checkpoint IS the old corpus's tf: a columnar scan
    of 4 fixed-width columns replaces a re-count of every old token
    array, and the token pass scales with the appended docs only."""
    return old_postings.select("doc_id", "doc_len", "term", "tf").unionByName(
        _local_tf(new_docs)
    )


def compute_postings(
    docs: DataFrame, tf: DataFrame, n_docs: int, avgdl: float, cfg: IndexConfig
) -> DataFrame:
    """Lazy postings plan from tf facts (doc_id, doc_len, term, tf) —
    ``_local_tf(docs)`` for a fresh corpus, ``_append_tf`` for an append.

    df is a fact of the docs, the number of token arrays holding the
    term, so it is counted from ``docs`` in the JVM (explode of the
    distinct tokens → per-term count) and ``tf`` is read once, as the
    probe side of the df join: the Arrow tf pass runs once with nothing
    cached.  Then an eager impact column (pure codegen) and the
    term-bucket layout column for partition pruning.

    The df join is not forced to a broadcast: its term-hash output
    partitioning keeps the written files term-clustered, and a forced
    broadcast made every downstream postings scan ~3× slower
    (BENCH/BASELINE.md r6 addendum §6)."""
    df_per_term = (
        docs.select(F.explode(F.array_distinct("tokens")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    return (
        tf.select("doc_id", "doc_len", "term", "tf")
        .join(df_per_term, "term")
        .withColumn(
            "impact",
            C.bm25_impact(
                F.col("tf"),
                F.col("doc_len"),
                F.col("df"),
                n_docs,
                avgdl,
                k1=cfg.k1,
                b=cfg.b,
                method=cfg.method,
            ),
        )
        .withColumn("term_bucket", F.pmod(F.xxhash64("term"), F.lit(cfg.n_buckets)))
        .select("term_bucket", "term", "doc_id", "tf", "doc_len", "df", "impact")
    )


@contextmanager
def _read_split_cap(spark: SparkSession, cap: str = "16m"):
    """Build-scoped session tuning (restored afterwards).

    - ``spark.sql.files.maxPartitionBytes`` → 16m: tokenize/explode
      stages multiply input bytes ~10×; a 300 MB page table at the
      default 128 MB split size yields 3 input partitions and caps the
      whole build at 3 tasks no matter how many cores exist.
    - parquet compression → zstd: the build is WRITE-bound on shared
      disks (five checkpoint stages + shuffle); zstd cuts checkpoint
      bytes ~30-40% over snappy for token/posting data at negligible
      CPU here (measured: 6% faster 4-executor build at 200k docs,
      more at larger corpora).
    - file committer → v2 (task-parallel commit): safe for checkpoint
      dirs because the stage ``_manifest.json`` — written strictly
      after the parquet commit — is the completion marker, not the
      directory's existence.
    """
    keys = {
        "spark.sql.files.maxPartitionBytes": cap,
        # the postings checkpoint is term_bucket-partitioned into many
        # ~0.5-2 MB files; the default 4 MB per-file open cost charges
        # each one 4 MB against the 16m split cap (~3 files/split), so
        # every parallel-group scan of it explodes into ~1s-overhead
        # tasks (round-6 event-log audit: +100 tasks, +100s task-time
        # at 16 cores after the write widened).  1 MB packs ~8
        # files/split; the docs scan reads few 16 MB+ files and is
        # unaffected.
        "spark.sql.files.openCostInBytes": str(1 << 20),
        "spark.sql.parquet.compression.codec": "zstd",
        "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version": "2",
    }
    old = {k: spark.conf.get(k, None) for k in keys}
    for k, v in keys.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is not None:
                spark.conf.set(k, v)
            else:
                # the key was unset before the build — restore that, or
                # the override (zstd codec, v2 committer, 16m splits)
                # leaks into every later query in the session
                spark.conf.unset(k)


def _scan_bytes(df: DataFrame) -> int:
    """Input bytes of a plain parquet read, from the relation statistics
    Spark plans with (the data files' byte sum, on any Hadoop path)."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def _postings_write_tasks(docs_bytes: int, default_parallelism: int) -> int:
    """Task count for the postings stage's narrow coalesce.

    A broadcast df join keeps the docs scan's partitioning, so this
    coalesce pins the write stage's task count, and that stage carries
    the Arrow tf pass, the df join, the impact column and the parquet
    encode, not just the file write — so under-sizing it idles cores,
    and over-sizing it multiplies files by the 32 term_bucket partition
    dirs.  Three regimes:

    - big corpus (bytes/32MB >= cluster width): byte-proportional —
      already at least one well-filled task per core;
    - mid corpus (within 4x of cluster width): fill the cluster — the
      event-log audit of the round-6 executor pair showed the 8-task
      floor running a 16-core cluster half-idle for 27.5s of a 122.8s
      build (BENCH/BASELINE.md r6 addendum 5), and filling the width
      here costs at most 4x the byte-sized file count;
    - tiny corpus: floor at min(8, width) so a 50k-doc corpus writes
      ~8x32 files instead of 1024 tiny ones.
    """
    by_bytes = -(-docs_bytes // (32 << 20))
    if by_bytes >= default_parallelism:
        return by_bytes
    if by_bytes * 4 >= default_parallelism:
        return default_parallelism
    return max(min(8, default_parallelism), by_bytes)


def _build_postings_stages(
    spark: SparkSession,
    path: str,
    cfg: IndexConfig,
    docs_fn,
    force: bool = False,
    tf_source: DataFrame | None = None,
    docs_inputs: list[str] | None = None,
) -> tuple[DataFrame, int, float, DataFrame, dict[str, float]]:
    """Serial prefix of every index build, run under ``_read_split_cap``:
    docs stage (``docs_fn()`` → doc_id, tokens, doc_len) →
    ``corpus_stats.json`` → postings stage.

    The postings stage reads tf once and counts df from the docs stage
    (``compute_postings``), so nothing is cached.  ``tf_source``
    (doc_id, doc_len, term, tf) replaces ``_local_tf`` of the docs — the
    append path passes ``_append_tf``, and its df comes from the
    combined docs stage.  Returns (docs, n_docs, avgdl, postings, serial
    phase seconds)."""
    os.makedirs(path, exist_ok=True)
    serial_phase: dict[str, float] = {}
    t_phase = time.time()

    docs_dir = os.path.join(path, "docs")
    config = cfg.to_dict()
    # corpus_stats.json describes the docs stage, so it is recomputed
    # whenever that stage is rebuilt
    docs_reused = not force and ckpt.is_complete(docs_dir, config)
    docs = ckpt.run_stage(
        spark, docs_dir, docs_fn, stage="docs", inputs=docs_inputs,
        force=not docs_reused, config=config,
    )
    serial_phase["docs"] = round(time.time() - t_phase, 2)
    t_phase = time.time()

    stats_file = os.path.join(path, "corpus_stats.json")
    if docs_reused and os.path.exists(stats_file):
        with open(stats_file) as f:
            stats = json.load(f)
    else:
        row = docs.agg(
            F.count(F.lit(1)).alias("n_docs"), F.avg("doc_len").alias("avgdl")
        ).collect()[0]
        stats = {"n_docs": int(row["n_docs"]), "avgdl": float(row["avgdl"])}
        with open(stats_file, "w") as f:
            json.dump(stats, f)
    n_docs, avgdl = stats["n_docs"], stats["avgdl"]
    serial_phase["corpus_stats"] = round(time.time() - t_phase, 2)
    t_phase = time.time()

    postings_dir = os.path.join(path, "postings")

    def build_postings() -> DataFrame:
        tf = tf_source if tf_source is not None else _local_tf(docs)
        out = compute_postings(docs, tf, n_docs, avgdl, cfg)
        # The broadcast df join keeps the probe's partitioning, the docs
        # scan's splits, and each write task writes up to 32 bucket
        # files (1024 tiny files at 32 tasks — measured to double every
        # downstream postings scan via per-file open cost).  No exchange
        # sits before the write for AQE to right-size, so size it from
        # the docs checkpoint bytes: ~32 MB of docs per write task, a
        # NARROW coalesce (no shuffle) — small corpora get few
        # well-filled files, big corpora keep proportional parallelism.
        n_write = _postings_write_tasks(
            _scan_bytes(docs), spark.sparkContext.defaultParallelism
        )
        return out.coalesce(int(n_write))

    postings = ckpt.run_stage(
        spark,
        postings_dir,
        build_postings,
        stage="postings",
        inputs=[docs_dir],
        partition_by=["term_bucket"],
        force=force,
        config=config,
        # the postings table is the QUERY-hot scan: snappy decodes ~3x
        # cheaper than zstd, and every retrieval pass reads it — the
        # zstd build default applies only to write-once checkpoints
        compression="snappy",
    )
    serial_phase["postings"] = round(time.time() - t_phase, 2)
    return docs, n_docs, avgdl, postings, serial_phase


def build_index(
    spark: SparkSession,
    pages: DataFrame,
    path: str,
    config: IndexConfig | None = None,
    force: bool = False,
) -> BM25Index:
    """Build (or resume building) the index at ``path``.

    A resume reuses each stage checkpoint whose manifest records the
    same config, and rebuilds the others (``ckpt.is_complete``)."""
    cfg = config or IndexConfig()
    with _read_split_cap(spark):
        return _build_index_impl(
            spark, path, cfg, force,
            lambda: tokenize_pages(pages, stemmer=cfg.stemmer, stopwords=cfg.stopwords),
        )


def _build_index_impl(
    spark: SparkSession,
    path: str,
    cfg: IndexConfig,
    force: bool,
    docs_fn,
    tf_source: DataFrame | None = None,
    docs_inputs: list[str] | None = None,
) -> BM25Index:
    t_start = time.time()
    docs, n_docs, avgdl, postings, serial_phase = _build_postings_stages(
        spark, path, cfg, docs_fn, force, tf_source, docs_inputs
    )
    list_dir = os.path.join(path, "posting_lists")

    # everything past the postings checkpoint is INDEPENDENT of params
    # (the compressed-list chain and param estimation read only the
    # postings/docs checkpoints) — submit them as concurrent Spark jobs
    # from driver threads.  Per-stage fixed costs (job scheduling, AQE
    # planning, parquet commit, driver math) overlap instead of
    # serializing; outputs land in separate checkpoint dirs, so
    # resumability is unchanged.
    #
    # The compressed-list encode holds every term's full posting
    # arrays, so term_stats and block_max are derived from ITS
    # checkpoint's extra columns (a tiny column-pruned scan — the
    # payload bytes are never read): one bulk postings pass.
    from concurrent.futures import ThreadPoolExecutor

    t_group0 = time.time()
    phase_sec: dict[str, float] = {}
    config = cfg.to_dict()

    def timed(name: str, fn):
        t0 = time.time()
        out = fn()
        phase_sec[name] = round(time.time() - t0, 2)
        return out

    with ThreadPoolExecutor(max_workers=3) as pool:
        # params first: its two small jobs (the sample collect, then the
        # pruned Arrow fetch of the pseudo-query terms' rows) and the
        # driver-side numpy scoring overlap the bulk stages when they
        # claim the FIFO scheduler first
        f_params = pool.submit(
            timed, "params",
            lambda: _estimate_params(spark, docs, postings, cfg, n_docs),
        )
        posting_lists = timed(
            "compressed_lists",
            lambda: _build_posting_lists(spark, postings, path, force, config),
        )
        f_ts = pool.submit(
            timed, "term_stats",
            lambda: ckpt.run_stage(
                spark, os.path.join(path, "term_stats"),
                lambda: _derive_term_stats(posting_lists, cfg.n_buckets),
                stage="term_stats", inputs=[list_dir], force=force,
                config=config,
            ),
        )
        f_bm = pool.submit(
            timed, "block_max",
            lambda: ckpt.run_stage(
                spark, os.path.join(path, "block_max"),
                lambda: _derive_block_max(posting_lists),
                stage="block_max", inputs=[list_dir], force=force,
                config=config,
            ),
        )
        term_stats, block_max = f_ts.result(), f_bm.result()
        params = f_params.result()
    phase_sec["parallel_group"] = round(time.time() - t_group0, 2)

    # doc_stats is a pure projection of the docs checkpoint — derived
    # lazily, no extra stage write
    doc_stats = docs.select("doc_id", "url", "doc_len")

    with open(os.path.join(path, "params.json"), "w") as f:
        json.dump({"params": params.to_dict(), "config": cfg.to_dict()}, f, indent=2)

    return BM25Index(
        spark=spark,
        path=path,
        config=cfg,
        postings=postings,
        term_stats=term_stats,
        block_max=block_max,
        doc_stats=doc_stats,
        n_docs=n_docs,
        avgdl=avgdl,
        params=params,
        posting_lists=posting_lists,
        build_metrics={
            "build_wall_sec": time.time() - t_start,
            # phase attribution for the scaling diagnosis: serial prefix
            # (docs -> corpus_stats -> postings) + the thread-parallel
            # group (per-member walls overlap; parallel_group is its
            # true wall)
            "phase_sec": {**serial_phase, **phase_sec},
        },
    )


_LIST_SCHEMA = StructType(
    [
        StructField("term", StringType(), False),
        StructField("df", LongType(), False),
        StructField("payload", BinaryType(), False),
        # term_stats / block_max by-products of the encode (see
        # _build_posting_lists): it holds every term's full (doc_id, tf,
        # impact) arrays anyway, so these are O(1) extra numpy
        # reductions per term.  Readers of the compressed lists select
        # (term, df, payload) and never pay for them (parquet column
        # pruning).
        StructField("max_impact", DoubleType(), False),
        StructField("min_impact", DoubleType(), False),
        StructField("prefix_cutoff", DoubleType(), False),
        StructField("block_ids", ArrayType(LongType(), False), False),
        StructField("block_maxes", ArrayType(DoubleType(), False), False),
    ]
)


def _run_grouped(batches, key_cols: list[str], flush):
    """Iterate Arrow batches of partition-sorted rows, yielding one output
    row per contiguous key-group via ``flush(group_slice_dict)``.

    The partition is sorted by ``key_cols``, so groups are contiguous.
    The open group (possibly split across batch boundaries) is held as a
    list of per-batch slices and concatenated once, when it closes, so a
    group spanning many batches costs time linear in its length.  Group
    boundaries are found with numpy on the key columns and each group is
    handed to ``flush`` as a dict of numpy arrays — no per-group pandas
    machinery (a per-group applyInPandas pays ~1 ms interpreter overhead
    per term; this pays ~µs).
    """
    import numpy as np

    def close(parts: list[dict]) -> dict:
        return {c: np.concatenate([p[c] for p in parts]) for c in parts[0]}

    pending: list[dict] = []  # slices of the open group, in batch order
    for pdf in batches:
        n = len(pdf)
        if n == 0:
            continue
        cols = {c: pdf[c].to_numpy() for c in pdf.columns}
        change = np.zeros(n, dtype=bool)
        change[0] = not pending or any(
            cols[k][0] != pending[-1][k][-1] for k in key_cols
        )
        for k in key_cols:
            kv = cols[k]
            change[1:] |= kv[1:] != kv[:-1]
        starts = np.nonzero(change)[0]
        if len(starts) == 0:  # the whole batch continues the open group
            pending.append(cols)
            continue
        out = []
        if pending:
            if starts[0] > 0:
                pending.append({c: v[: starts[0]] for c, v in cols.items()})
            out.append(flush(close(pending)))
        out += [
            flush({c: v[a:b] for c, v in cols.items()})
            for a, b in zip(starts[:-1], starts[1:])
        ]
        # hold back the last group — it may continue in the next batch
        pending = [{c: v[starts[-1]:] for c, v in cols.items()}]
        if out:
            yield pd.DataFrame(out)
    if pending:
        yield pd.DataFrame([flush(close(pending))])


def _derive_term_stats(posting_lists: DataFrame, n_buckets: int) -> DataFrame:
    """term_stats from the fused posting-list checkpoint.  term_bucket is
    a pure function of the term; the int cast matches the partition-dir
    type inference of the postings read-back.  Column pruning keeps the
    payload bytes unread.  ``test_term_artifacts_equal_pandas_reference_zipf``
    pins values and schema against a pandas reduction of the postings
    rows."""
    return posting_lists.select(
        "term",
        F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int").alias("term_bucket"),
        "df",
        "max_impact",
        "min_impact",
        "prefix_cutoff",
    )


def _derive_block_max(posting_lists: DataFrame) -> DataFrame:
    """block_max rows from the fused checkpoint's parallel block arrays."""
    z = posting_lists.select(
        "term", F.explode(F.arrays_zip("block_ids", "block_maxes")).alias("z")
    )
    return z.select(
        "term",
        F.col("z.block_ids").alias("block_id"),
        F.col("z.block_maxes").alias("block_max_impact"),
    )


def _build_posting_lists(
    spark: SparkSession, postings: DataFrame, path: str, force: bool, config: dict | None = None
) -> DataFrame:
    """Compressed posting-list construction (north rule).

    One plan: the postings rows (term, doc_id, tf, impact) are
    repartitioned by term and sorted by (term, doc_id) within each
    partition — Spark's shuffle and external sort do the ordering in the
    JVM — and an Arrow-batched ``mapInPandas`` encodes each term's
    contiguous run once with ``encode_posting_list`` (per-batch Python,
    per-group numpy), computing the term_stats / block_max columns from
    the same arrays.  The artifact is written once; the postings
    checkpoint stays the recovery point.

    Skew needs no salt: the Zipf head term is one sorted run in one
    task, streamed in Arrow batches that ``_run_grouped`` concatenates
    once.  The price is shuffle bytes: raw rows cost 12-15 B/posting
    after lz4 on Zipf pages, 1.5-2.5× what map-side varbyte partials
    would.

    ``config`` is the build config the stage manifest records (see
    ``ckpt.run_stage``)."""
    list_dir = os.path.join(path, "posting_lists")
    postings_dir = os.path.join(path, "postings")
    # over-partition the python encode stage 4× so uneven per-term list
    # lengths don't leave cores idle behind stragglers
    n_part = max(spark.sparkContext.defaultParallelism * 4, 8)

    def encode_runs(batches):
        # rows arrive sorted by (term, doc_id): each term's run is its
        # whole doc-sorted list, encoded once, and the term_stats /
        # block_max columns come from the same arrays
        import numpy as np

        def flush(g: dict) -> dict:
            doc_ids, impacts = g["doc_id"], g["impact"]
            n = len(doc_ids)
            # prefix_cutoff = the B-th largest impact (ties at the
            # boundary share the same value, so sorting by impact alone
            # is exact)
            imp_desc = np.sort(impacts)[::-1]
            bids = doc_ids // BLOCK_SIZE
            starts = np.nonzero(np.r_[True, bids[1:] != bids[:-1]])[0]
            return {
                "term": g["term"][0],
                "df": n,
                "payload": encode_posting_list(doc_ids, g["tf"], impacts),
                "max_impact": float(imp_desc[0]),
                "min_impact": float(imp_desc[-1]),
                "prefix_cutoff": float(imp_desc[min(PREFIX_LEN, n) - 1]),
                "block_ids": bids[starts],
                "block_maxes": np.maximum.reduceat(impacts, starts),
            }

        yield from _run_grouped(batches, ["term"], flush)

    def build_lists() -> DataFrame:
        return (
            postings.select("term", "doc_id", "tf", "impact")
            .repartition(n_part, "term")
            .sortWithinPartitions("term", "doc_id")
            .mapInPandas(encode_runs, schema=_LIST_SCHEMA)
        )

    return ckpt.run_stage(
        spark,
        list_dir,
        build_lists,
        stage="posting_lists",
        inputs=[postings_dir],
        force=force,
        config=config,
    )


def _params_from_scores(
    per_query_scores: list, cfg: IndexConfig, n_docs: int
) -> TransformParams:
    """Driver math of the reference protocol (scorer.py:313-337) over
    the per-query nonzero score arrays.  An empty sample goes through
    the same kernel estimators, so user-set α/β/base-rate survive it."""
    alpha, beta = estimate_alpha_beta(per_query_scores, cfg.alpha, cfg.beta)
    if cfg.base_rate == "auto":
        base_rate = estimate_base_rate(per_query_scores, n_docs, cfg.base_rate_method)
    elif isinstance(cfg.base_rate, (int, float)):
        base_rate = float(cfg.base_rate)
    else:
        base_rate = None
    return TransformParams(alpha=alpha, beta=beta, base_rate=base_rate)


def _estimate_params(
    spark: SparkSession, docs: DataFrame, postings: DataFrame, cfg: IndexConfig, n_docs: int
) -> TransformParams:
    """Seeded pseudo-query sampling → α/β/base-rate, mirroring the
    reference protocol exactly (reference scorer.py:287-337)."""
    if cfg.alpha is not None and cfg.beta is not None and not isinstance(cfg.base_rate, str):
        return TransformParams(alpha=cfg.alpha, beta=cfg.beta, base_rate=cfg.base_rate)
    scores = _sample_pseudo_query_scores(docs, postings, cfg.n_buckets, n_docs)
    return _params_from_scores(scores, cfg, n_docs)


def _sample_pseudo_query_scores(
    docs: DataFrame, postings: DataFrame, n_buckets: int, n_docs: int
) -> list:
    """The index's twin of the kernel's ``sample_pseudo_query_scores``:
    per-query nonzero score arrays, equal value for value to the
    kernel's scoring of the same impacts.

    The RNG runs on the driver over the ordered doc_id range
    (``default_rng(seed).choice(n, 50, replace=False)``); each sampled
    doc's first 5 tokens form a query.  The postings rows of their terms
    come back in ONE bucket-pruned Arrow fetch (no join, no ``groupBy``,
    no exchange), and each query is scored in numpy the way
    ``BM25Oracle.get_scores`` does: its tokens in order, a duplicate
    token once per occurrence, each doc's impacts summed in token order,
    then ``score > 0`` in doc_id order.

    Driver bound: the fetch holds Σ df of at most 250 terms, about 20
    rows per doc on Zipf pages (25,940 rows at 1k docs, 406,361 at 20k,
    5.8M at 300k) — fewer, at every size, than the nonzero (query, doc)
    scores themselves (12.4M at 300k).  There is no size switch: a
    corpus past what a driver holds needs this scoring moved into a
    per-doc-range ``mapInPandas`` that returns only nonzero scores.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    from bayesian_bm25_spark.operators import query as Q

    rng = np.random.default_rng(PSEUDO_QUERY_SEED)
    sample_ids = [int(i) for i in rng.choice(n_docs, size=min(n_docs, PSEUDO_QUERY_SAMPLE), replace=False)]
    sampled = (
        docs.where(F.col("doc_id").isin(sample_ids))
        .select("doc_id", F.slice("tokens", 1, 5).alias("terms"))
        .collect()
    )
    tokens_by_id = {int(r["doc_id"]): list(r["terms"]) for r in sampled}
    # sample order is the reference's query order
    queries = [tokens_by_id[did] for did in sample_ids if tokens_by_id.get(did)]
    if not queries:
        return []
    terms = sorted({t for ts in queries for t in ts})
    rows = (
        Q.prune_query_terms_buckets(postings, None, n_buckets, terms)
        .where(F.col("term").isin(terms))
        .select("term", "doc_id", "impact")
        .toArrow()
    )
    # each term's row positions: one stable sort of the term codes
    code = pc.index_in(rows["term"], value_set=pa.array(terms)).to_numpy()
    order = np.argsort(code, kind="stable")
    bounds = np.searchsorted(code[order], np.arange(len(terms) + 1))
    term_rows = {t: order[bounds[i]:bounds[i + 1]] for i, t in enumerate(terms)}
    doc_ids = rows["doc_id"].to_numpy()
    impacts = rows["impact"].to_numpy()
    out = []
    for q in queries:
        sel = np.concatenate([term_rows[t] for t in q])
        # bincount adds in input order, so each doc sums in token order
        _, inv = np.unique(doc_ids[sel], return_inverse=True)
        scores = np.bincount(inv, weights=impacts[sel])
        scores = scores[scores > 0]
        if len(scores):
            out.append(scores)
    return out


def add_documents(
    index: BM25Index, new_pages: DataFrame, new_path: str
) -> BM25Index:
    """Incremental append with full statistics rebuild.

    IDF/avgdl change with every append, so — like the reference
    (scorer.py:469-492 'rebuilds the full index') — the combined corpus
    is re-indexed at ``new_path`` and α/β/base-rate re-estimated.  In
    Spark the rebuild is ``build_index``'s checkpointed DAG over `old
    docs ∪ new docs`: the old tokenization is reused (never recomputed),
    the old postings seed the merged tf (``_append_tf``: only the new
    docs' tokens are counted), and df/avgdl are re-aggregated from the
    combined docs stage.  Every stage at ``new_path`` is rewritten.
    New doc_ids continue after the old range.  Postings and compressed
    list bytes equal a fresh ``build_index`` of the combined corpus
    (pytest-enforced).
    """
    spark = index.spark
    cfg = index.config
    if "doc_id" in new_pages.columns:
        # preserve caller-supplied ids (reference append-order semantics);
        # validate they don't collide with the existing range
        new_docs = tokenize_pages(new_pages, stemmer=cfg.stemmer, stopwords=cfg.stopwords)
        mn = new_docs.agg(F.min("doc_id")).collect()[0][0]
        if mn is not None and int(mn) < index.n_docs:
            raise ValueError(
                f"appended doc_id {mn} overlaps the existing range "
                f"[0, {index.n_docs}); supply ids >= n_docs or drop the column"
            )
    else:
        # assign continuing ids starting at n_docs (url rank within the
        # appended batch, distributed — see assign_doc_ids)
        new_docs = tokenize_pages(
            assign_doc_ids(new_pages, start_id=index.n_docs),
            stemmer=cfg.stemmer,
            stopwords=cfg.stopwords,
        )
    old_docs_dir = os.path.join(index.path, "docs")
    combined = spark.read.parquet(old_docs_dir).unionByName(new_docs)
    with _read_split_cap(spark):
        return _build_index_impl(
            spark, new_path, cfg, True, lambda: combined,
            tf_source=_append_tf(index.postings, new_docs),
            docs_inputs=[old_docs_dir],
        )


def load_index(spark: SparkSession, path: str) -> BM25Index:
    """Re-open a built index from its checkpoints (no recompute).

    Raises ``ValueError`` naming the first stage without a complete
    checkpoint (``ckpt.is_complete``); rebuild with
    ``build_index(..., force=True)``."""
    stages = {}
    for stage in ("docs", "postings", "posting_lists", "term_stats", "block_max"):
        stage_dir = os.path.join(path, stage)
        if not ckpt.is_complete(stage_dir):
            raise ValueError(
                f"{stage_dir}: the index has no complete {stage} checkpoint; "
                "rebuild it with build_index(..., force=True)"
            )
        stages[stage] = spark.read.parquet(stage_dir)
    with open(os.path.join(path, "params.json")) as f:
        meta = json.load(f)
    with open(os.path.join(path, "corpus_stats.json")) as f:
        stats = json.load(f)
    return BM25Index(
        spark=spark,
        path=path,
        config=IndexConfig.from_dict(meta["config"]),
        postings=stages["postings"],
        term_stats=stages["term_stats"],
        block_max=stages["block_max"],
        doc_stats=stages["docs"].select("doc_id", "url", "doc_len"),
        n_docs=stats["n_docs"],
        avgdl=stats["avgdl"],
        params=TransformParams.from_dict(meta["params"]),
        posting_lists=stages["posting_lists"],
    )
