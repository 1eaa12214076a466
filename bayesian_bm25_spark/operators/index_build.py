"""Inverted-index build: tokenize → postings → stats → bounds → params.

Build DAG (each stage a parquet checkpoint with a lineage manifest, so
the build resumes from any boundary — north rule):

    pages(url, warc_ts, html, text, lang)
      └─ docs:      tokenize (Arrow p_udf-free: pure Column split/filter)
      └─ postings:  row-local tf count (mapInPandas, no shuffle)
                    → join df per term [one shuffle, AQE-broadcast when
                    small] → eager impact column (codegen) → laid out by
                    term_bucket = pmod(xxhash64(term), n_buckets)
      └─ posting_lists: map-side varbyte partials → ONE shuffle of
                    compressed bytes → term merge, written once  [north
                    rule storage tier; queries default to flat postings].
                    The merge holds every term's decoded arrays, so it
                    also emits df/max/min impact, the θ-pass
                    prefix_cutoff and per-block maxima as extra columns
      └─ term_stats: column-pruned derivation of posting_lists (payload
                    bytes unread); build_compressed=False scans postings
      └─ block_max:  explode of the posting_lists block arrays (same)
      └─ params.json: seeded pseudo-query sampling → α/β/base-rate on
                    the driver (numpy-exact, mirrors reference protocol)

Skew: the Zipf head ("the"-like terms) is handled twice — the flat
postings shuffle relies on AQE skew-join splitting, and the compressed
build encodes one partial per Arrow batch of the postings scan, so the
head term reaches its merge task pre-chunked.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
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
from bayesian_bm25_spark.kernel.postings_codec import (
    decode_posting_list,
    encode_posting_list,
)
from bayesian_bm25_spark.kernel.transform import TransformParams
from bayesian_bm25_spark.plans import checkpoint as ckpt


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
    block_size: int = 128
    prefix_len: int = 128  # MaxScore θ-pass prefix depth
    n_buckets: int = 32  # term-hash layout buckets (partition pruning)
    # write posting_lists and derive term_stats / block_max from its
    # merge; False skips the compressed lists and scans postings for
    # the two tables instead
    build_compressed: bool = True
    pseudo_query_seed: int = 42
    pseudo_query_sample: int = 50

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
    posting_lists: DataFrame | None = None
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
    tf: DataFrame, n_docs: int, avgdl: float, cfg: IndexConfig | None = None
) -> DataFrame:
    """Lazy postings plan from tf facts (doc_id, doc_len, term, tf) —
    ``_local_tf(docs)`` for a fresh corpus, ``_append_tf`` for an append.

    Per-term df agg (small) → join (AQE broadcasts small vocab; one
    shuffle of the tf rows otherwise) → eager impact column (pure
    codegen) → term-bucket layout column for partition pruning.  The
    plan reads ``tf`` twice (df agg + join probe), so the build persists
    ``tf`` before executing it.

    The df join is not forced to a broadcast: its term-hash output
    partitioning keeps the written files term-clustered, and a forced
    broadcast made every downstream postings scan ~3× slower
    (BENCH/BASELINE.md r6 addendum §6)."""
    cfg = cfg or IndexConfig()
    tf = tf.select("doc_id", "doc_len", "term", "tf")
    df_per_term = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    return (
        tf.join(df_per_term, "term")
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


def _dir_bytes(d: str) -> int:
    """Total bytes of the files directly under a checkpoint dir (the
    local-FS analog of a catalog's table-size stat — used to size write
    parallelism; on object storage swap in the listing API)."""
    total = 0
    for root, _, files in os.walk(d):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def _postings_write_tasks(docs_bytes: int, default_parallelism: int) -> int:
    """Task count for the postings stage's narrow coalesce.

    The cached-tf probe pins the write stage's task count, and that
    stage carries the post-cache compute (broadcast df join + impact +
    parquet encode), not just the file write — so under-sizing it idles
    cores, and over-sizing it multiplies files by the 32 term_bucket
    partition dirs.  Three regimes:

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

    ``tf_source`` (doc_id, doc_len, term, tf) replaces ``_local_tf`` of
    the docs — the append path passes ``_append_tf``.  Returns (docs,
    n_docs, avgdl, postings, serial phase seconds)."""
    os.makedirs(path, exist_ok=True)
    serial_phase: dict[str, float] = {}
    t_phase = time.time()

    docs_dir = os.path.join(path, "docs")
    docs = ckpt.run_stage(
        spark, docs_dir, docs_fn, stage="docs", inputs=docs_inputs, force=force
    )
    serial_phase["docs"] = round(time.time() - t_phase, 2)
    t_phase = time.time()

    stats_file = os.path.join(path, "corpus_stats.json")
    if os.path.exists(stats_file) and not force:
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
    # The postings plan consumes tf TWICE — once under the df agg, once
    # as the probe side of the (broadcast) df join — and Spark does not
    # dedupe common subplans, so without a persist the Arrow token-count
    # pass (and at cluster scale, the docs-checkpoint scan feeding it)
    # executes twice per build.  Persist tf across the two consumers for
    # the duration of the stage write; released right after.  Resume
    # path (checkpoint exists) never builds the plan, so nothing is
    # cached there.
    tf_cached = None

    def build_postings() -> DataFrame:
        nonlocal tf_cached
        src = tf_source if tf_source is not None else _local_tf(docs)
        tf_cached = src.persist()
        out = compute_postings(tf_cached, n_docs, avgdl, cfg)
        # The cached probe pins the write's task count to the cache
        # partition count (32 tasks × 32 bucket dirs = 1024 tiny files
        # at 50k docs — measured to double every downstream postings
        # scan via per-file open cost).  No exchange sits between cache
        # and write for AQE to right-size, so size it ourselves from
        # the docs checkpoint bytes: ~32 MB of docs per write task, a
        # NARROW coalesce (no shuffle) — small corpora get few
        # well-filled files, big corpora keep proportional parallelism.
        n_write = _postings_write_tasks(
            _dir_bytes(docs_dir), spark.sparkContext.defaultParallelism
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
        # the postings table is the QUERY-hot scan: snappy decodes ~3x
        # cheaper than zstd, and every retrieval pass reads it — the
        # zstd build default applies only to write-once checkpoints
        compression="snappy",
    )
    if tf_cached is not None:
        tf_cached.unpersist()
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

    Raises ``ValueError`` when resuming a posting_lists checkpoint that
    lacks the term_stats columns; rebuild with ``force=True``."""
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
    postings_dir = os.path.join(path, "postings")
    term_stats_dir = os.path.join(path, "term_stats")

    def build_term_stats() -> DataFrame:
        base = postings.groupBy("term").agg(
            F.first("term_bucket").alias("term_bucket"),
            F.first("df").alias("df"),
            F.max("impact").alias("max_impact"),
            # sign witness for the pruned query paths: MaxScore/threshold
            # bounds are only valid for non-negative impacts (robertson
            # idf goes negative for df > ~N/2) — query.py checks this
            F.min("impact").alias("min_impact"),
        )
        # MaxScore θ-pass cutoff: the B-th largest impact per term.  The
        # rank-≤-B window compiles to WindowGroupLimit (map-side top-B
        # before the shuffle), so the Zipf head never sorts in one task.
        w = Window.partitionBy("term").orderBy(F.desc("impact"), F.asc("doc_id"))
        cutoff = (
            postings.withColumn("r", F.row_number().over(w))
            .where(F.col("r") <= cfg.prefix_len)
            .groupBy("term")
            .agg(F.min("impact").alias("prefix_cutoff"))
        )
        return base.join(cutoff, "term", "left")

    block_max_dir = os.path.join(path, "block_max")

    def build_block_max() -> DataFrame:
        # blocks are doc-INDEX ranges (reference scorer.py:73: block b
        # covers doc indices [b·bs, (b+1)·bs)): block_id = doc_id // bs —
        # pure column math, no per-term sort, no Zipf-head straggler
        return (
            postings.withColumn(
                "block_id", (F.col("doc_id") / cfg.block_size).cast("long")
            )
            .groupBy("term", "block_id")
            .agg(F.max("impact").alias("block_max_impact"))
        )

    # everything past the postings checkpoint is INDEPENDENT (term_stats,
    # block_max, the compressed-list chain, and param estimation all read
    # only the postings/docs checkpoints) — submit them as concurrent
    # Spark jobs from driver threads.  Per-stage fixed costs (job
    # scheduling, AQE planning, parquet commit, driver math) overlap
    # instead of serializing, which is where the N→4N scaling efficiency
    # was going at small-to-mid corpus sizes; outputs land in separate
    # checkpoint dirs, so resumability is unchanged.
    #
    # With build_compressed, the compressed-list merge already decodes
    # every term's full posting arrays, so term_stats and block_max are
    # derived from ITS checkpoint's extra columns (a tiny column-pruned
    # scan — the payload bytes are never read) instead of each
    # re-scanning the full postings checkpoint: one bulk postings pass
    # instead of three.
    from concurrent.futures import ThreadPoolExecutor

    t_group0 = time.time()
    phase_sec: dict[str, float] = {}

    def timed(name: str, fn):
        t0 = time.time()
        out = fn()
        phase_sec[name] = round(time.time() - t0, 2)
        return out

    def term_artifacts(pool, src_dir: str, term_stats_fn, block_max_fn):
        f_ts = pool.submit(
            timed, "term_stats",
            lambda: ckpt.run_stage(
                spark, term_stats_dir, term_stats_fn,
                stage="term_stats", inputs=[src_dir], force=force,
            ),
        )
        f_bm = pool.submit(
            timed, "block_max",
            lambda: ckpt.run_stage(
                spark, block_max_dir, block_max_fn,
                stage="block_max", inputs=[src_dir], force=force,
            ),
        )
        return f_ts.result(), f_bm.result()

    with ThreadPoolExecutor(max_workers=3) as pool:
        # params first: its chain (score 50 pseudo-queries → cache →
        # several small percentile/agg jobs) has the longest tail of
        # sequential driver round-trips, so giving it first claim on the
        # FIFO scheduler lets that tail overlap the bulk stages
        f_params = pool.submit(
            timed, "params",
            lambda: _estimate_params(spark, docs, postings, cfg, n_docs),
        )
        if cfg.build_compressed:
            posting_lists = timed(
                "compressed_lists",
                lambda: _build_compressed_lists(spark, postings, path, cfg, force),
            )
            term_stats, block_max = term_artifacts(
                pool, os.path.join(path, "posting_lists"),
                lambda: _derive_term_stats(posting_lists, cfg.n_buckets),
                lambda: _derive_block_max(posting_lists),
            )
        else:
            posting_lists = None
            term_stats, block_max = term_artifacts(
                pool, postings_dir, build_term_stats, build_block_max
            )
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


_PARTIAL_SCHEMA = StructType(
    [
        StructField("term", StringType(), False),
        StructField("df_partial", LongType(), False),
        StructField("payload", BinaryType(), False),
    ]
)

_LIST_SCHEMA = StructType(
    [
        StructField("term", StringType(), False),
        StructField("df", LongType(), False),
        StructField("payload", BinaryType(), False),
        # term_stats / block_max by-products of the merge (see
        # _build_compressed_lists): the merge decodes every
        # term's full (doc_id, tf, impact) arrays anyway, so these are
        # O(1) extra numpy reductions per term.  Readers of the
        # compressed lists select (term, df, payload) and never pay for
        # them (parquet column pruning).
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

    The partition is sorted by ``key_cols``, so groups are contiguous; a
    pending tail (group possibly split across batch boundaries) is
    carried over and prepended to the next batch.  Group boundaries are
    found with numpy on the key columns and each group is handed to
    ``flush`` as a dict of numpy array slices — no per-group pandas
    machinery (a per-group applyInPandas pays ~1 ms interpreter overhead
    per term; this pays ~µs).
    """
    import numpy as np

    pending: pd.DataFrame | None = None
    for pdf in batches:
        if pending is not None:
            pdf = pd.concat([pending, pdf], ignore_index=True)
        n = len(pdf)
        if n == 0:
            pending = None
            continue
        cols = {c: pdf[c].to_numpy() for c in pdf.columns}
        change = np.zeros(n, dtype=bool)
        change[0] = True
        for k in key_cols:
            kv = cols[k]
            change[1:] |= kv[1:] != kv[:-1]
        starts = np.nonzero(change)[0]
        # hold back the last group — it may continue in the next batch
        tail_start = starts[-1]
        pending = pdf.iloc[tail_start:]
        if tail_start > 0:
            bounds = list(starts[starts < tail_start]) + [tail_start]
            out = [
                flush({c: v[a:b] for c, v in cols.items()})
                for a, b in zip(bounds[:-1], bounds[1:])
            ]
            yield pd.DataFrame(out)
    if pending is not None and len(pending):
        cols = {c: pending[c].to_numpy() for c in pending.columns}
        yield pd.DataFrame([flush(cols)])


def _derive_term_stats(posting_lists: DataFrame, n_buckets: int) -> DataFrame:
    """term_stats from the fused posting-list checkpoint — value- and
    schema-identical to the standalone postings scan (term_bucket is a
    pure function of the term; the int cast matches the partition-dir
    type inference of the postings read-back).  Column pruning keeps the
    payload bytes unread."""
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


def _build_compressed_lists(
    spark: SparkSession, postings: DataFrame, path: str, cfg: IndexConfig, force: bool
) -> DataFrame:
    """Compressed posting-list construction (north rule).

    Encode varbyte partials MAP-SIDE — each Arrow batch of the postings
    scan is numpy-sorted by (term, doc_id) and every term-run encoded
    into a delta+varbyte partial with its partial df — then ONE shuffle
    by term carries only compressed bytes (~10.5 B/posting vs ~35-40
    B/posting struct rows) into the merge, which decodes,
    argsort-stitches the doc-disjoint partials, re-encodes the global
    list (byte-identical to ``encode_posting_list`` over the term's
    doc-sorted postings) and computes the term_stats / block_max
    columns from the arrays it has decoded.  The merge is an
    Arrow-batched ``mapInPandas`` over partition-sorted runs: per-batch
    Python, per-group numpy.  The artifact is written once; the
    postings checkpoint stays the recovery point.

    Skew needs no salt: the Zipf head term arrives pre-chunked, one
    partial per Arrow batch per read split, and the map side is balanced
    by the scan's byte-sized splits.

    A resumed checkpoint without the term_stats columns (written before
    the merge produced them) raises ``ValueError``: the index must be
    rebuilt with ``force=True``."""
    list_dir = os.path.join(path, "posting_lists")
    postings_dir = os.path.join(path, "postings")
    # over-partition the python merge stage 4× so uneven per-term list
    # lengths don't leave cores idle behind stragglers
    n_part = max(spark.sparkContext.defaultParallelism * 4, 8)

    def encode_partials(batches):
        # Map-side partial encode: sort each Arrow batch by
        # (term, doc_id) with numpy, encode every term-run into a
        # varbyte partial.  No pre-shuffle, no partition-wide sort —
        # (term, doc) rows are globally unique, so batch-local runs are
        # doc-disjoint across batches and the merge's argsort stitches
        # them exactly (byte-identical final lists).
        import numpy as np

        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            term = pdf["term"].to_numpy()
            order = np.lexsort((pdf["doc_id"].to_numpy(), term))
            term = term[order]
            doc = pdf["doc_id"].to_numpy()[order]
            tf = pdf["tf"].to_numpy()[order]
            imp = pdf["impact"].to_numpy()[order]
            change = np.ones(n, dtype=bool)
            change[1:] = term[1:] != term[:-1]
            starts = np.nonzero(change)[0]
            ends = np.append(starts[1:], n)
            yield pd.DataFrame(
                {
                    "term": term[starts],
                    "df_partial": (ends - starts).astype("int64"),
                    "payload": [
                        encode_posting_list(doc[a:b], tf[a:b], imp[a:b])
                        for a, b in zip(starts, ends)
                    ],
                }
            )

    def build_partials() -> DataFrame:
        # The encode is a pure map — its parallelism is the read split
        # count.  The postings checkpoint is ~32 MB/file, so at the
        # build-wide 16m cap a small corpus reads in a handful of
        # splits; clone a session with a byte-sized split cap
        # (~bytes/(4·parallelism), floored at 2m) so every core encodes.
        cap = max(
            2 << 20,
            _dir_bytes(postings_dir)
            // max(4 * spark.sparkContext.defaultParallelism, 8),
        )
        enc_spark = spark.newSession()
        enc_spark.conf.set("spark.sql.files.maxPartitionBytes", str(cap))
        # openCostInBytes must ride along (ADVICE r6): the clone reverts
        # to the 4 MiB default otherwise, which exceeds the 2 MiB cap
        # floor and turns every small postings file into its own task
        for k in ("spark.sql.shuffle.partitions",
                  "spark.sql.files.openCostInBytes",
                  "spark.sql.parquet.compression.codec",
                  "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version"):
            v = spark.conf.get(k, None)
            if v is not None:
                enc_spark.conf.set(k, v)
        src = enc_spark.read.parquet(postings_dir).select(
            "term", "doc_id", "tf", "impact"
        )
        return src.mapInPandas(encode_partials, schema=_PARTIAL_SCHEMA)

    def merge_runs(batches):
        # Merge + stats in one pass: identical bytes to
        # merge_posting_lists (same decode → stable argsort → encode),
        # plus the term_stats / block_max columns computed from the
        # arrays the merge has already decoded — the reason the build
        # no longer re-scans the postings checkpoint for those stages.
        import numpy as np

        prefix_len, block_size = cfg.prefix_len, cfg.block_size

        def flush(g: dict) -> dict:
            # every partial holds >= 1 posting, so n >= 1 below
            parts = [decode_posting_list(bytes(x)) for x in g["payload"]]
            doc_ids = np.concatenate([p[0] for p in parts])
            tfs = np.concatenate([p[1] for p in parts])
            impacts = np.concatenate([p[2] for p in parts])
            order = np.argsort(doc_ids, kind="stable")
            doc_ids, tfs, impacts = doc_ids[order], tfs[order], impacts[order]
            n = len(doc_ids)
            payload = encode_posting_list(doc_ids, tfs, impacts)
            # prefix_cutoff = the B-th largest impact (min over the
            # row_number()<=B window of the standalone builder; ties at
            # the boundary share the same value, so sorting by impact
            # alone is exact)
            imp_desc = np.sort(impacts)[::-1]
            bids = doc_ids // block_size
            starts = np.nonzero(np.r_[True, bids[1:] != bids[:-1]])[0]
            return {
                "term": g["term"][0],
                "df": int(g["df_partial"].sum()),
                "payload": payload,
                "max_impact": float(imp_desc[0]),
                "min_impact": float(imp_desc[-1]),
                "prefix_cutoff": float(imp_desc[min(prefix_len, n) - 1]),
                "block_ids": bids[starts],
                "block_maxes": np.maximum.reduceat(impacts, starts),
            }

        yield from _run_grouped(batches, ["term"], flush)

    def build_lists() -> DataFrame:
        return (
            build_partials()
            .repartition(n_part, "term")
            .sortWithinPartitions("term")
            .mapInPandas(merge_runs, schema=_LIST_SCHEMA)
        )

    ckpt.run_stage(
        spark,
        list_dir,
        build_lists,
        stage="posting_lists",
        inputs=[postings_dir],
        force=force,
    )
    # hand the checkpoint back on the caller's session so downstream
    # lineage never references the split-cap clone
    pl = spark.read.parquet(list_dir)
    if "max_impact" not in pl.columns:
        raise ValueError(
            f"{list_dir} is a posting_lists checkpoint without the "
            "term_stats columns (written by an older build); rebuild the "
            "index with build_index(..., force=True)"
        )
    return pl


# Below this many docs, params come from ONE Arrow collect of the
# pseudo-query score sample; at and above it, from the distributed
# median/std/percentile jobs (the sample grows with n_docs).
_PARAMS_COLLECT_MAX = 500_000


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
    reference protocol exactly (reference scorer.py:287-337).

    The RNG runs on the driver over the ordered doc_id range
    (``default_rng(seed).choice(n, 50, replace=False)``); the 50 pseudo
    queries are scored in ONE distributed batch; the nonzero score arrays
    come back to the driver for exact median/std/percentile math.
    """
    import numpy as np

    from bayesian_bm25_spark.operators import query as Q

    if cfg.alpha is not None and cfg.beta is not None and not isinstance(cfg.base_rate, str):
        return TransformParams(alpha=cfg.alpha, beta=cfg.beta, base_rate=cfg.base_rate)

    rng = np.random.default_rng(cfg.pseudo_query_seed)
    sample_ids = [int(i) for i in rng.choice(n_docs, size=min(n_docs, cfg.pseudo_query_sample), replace=False)]
    sampled = (
        docs.where(F.col("doc_id").isin(sample_ids))
        .select("doc_id", F.slice("tokens", 1, 5).alias("terms"))
        .collect()
    )
    tokens_by_id = {int(r["doc_id"]): list(r["terms"]) for r in sampled}
    queries = [
        (qid, tokens_by_id[did])
        for qid, did in enumerate(sample_ids)
        if tokens_by_id.get(did)
    ]
    if not queries:
        return _params_from_scores([], cfg, n_docs)
    qdf = spark.createDataFrame(queries, schema="query_id long, terms array<string>")
    # co_partition=False is deliberate: the default query plan repartitions
    # the WHOLE postings table by doc_id before the broadcast join — right
    # for large query batches (moves |postings| once instead of the joined
    # blow-up), wrong here where only ~250 pseudo-query terms match.  A
    # plain broadcast join touches just the matched rows, so the params
    # phase costs O(Σ df over query terms) instead of a full-corpus
    # shuffle — this was the critical-path phase of the entire build at
    # 1M docs (183s of a 183s parallel-group wall).
    scored = Q.score_queries(
        postings, qdf, n_buckets=cfg.n_buckets, co_partition=False,
        driver_terms=sorted({t for _, ts in queries for t in ts}),
        # α/β/base-rate read only the score column — skip the
        # tf_match/doc_len aggregates (identical scores, ~40% less agg
        # state; params is the 1M build's critical-path phase)
        score_only=True,
    ).where(F.col("score") > 0)

    if n_docs < _PARAMS_COLLECT_MAX or (
        cfg.base_rate == "auto" and cfg.base_rate_method != "percentile"
    ):
        # ONE Arrow collect of the (query_id, score) sample, then the
        # kernel estimators on the driver.  Small corpora: replaces the
        # distributed chain's ~5 sequential jobs (cache materialize +
        # stddev agg + 3-job exact percentile + window base-rate), each
        # of which queued behind the bulk stages' tasks inside the
        # build's parallel group (~2-3× the standalone params wall in
        # scheduling latency alone).  mixture/elbow: those estimators
        # are whole-sample iterative at any size.  The sample is bounded
        # by the 50 pseudo-queries' nonzero scores.
        pdf = scored.select("query_id", "score").toPandas()
        per_query_scores = [
            g.to_numpy(dtype=np.float64)
            for _, g in pdf.groupby("query_id", sort=True)["score"]
        ]
        return _params_from_scores(per_query_scores, cfg, n_docs)

    # fully distributed path: β = exact median, α = 1/std_pop of the
    # pooled nonzero sample; base-rate = mean over queries of
    # frac(scores ≥ per-query exact 95th pct)/n_docs.  Spark's exact
    # ``percentile`` uses the same linear interpolation as numpy, so
    # the values equal the reference's driver math — without ever
    # collecting the O(n_docs)-sized score sample.
    from bayesian_bm25_spark.operators.stats import exact_percentile

    scored = scored.cache()
    try:
        # job 1 materializes the cache; the exact-median chain and
        # the base-rate chain then read ONLY cached blocks and are
        # independent — run them concurrently so their per-job fixed
        # costs overlap (params is the longest member of the build's
        # parallel group; every serial job here is on the critical
        # path)
        row = scored.agg(
            F.stddev_pop("score").alias("std"),
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]
        if int(row["n"]) == 0:
            return _params_from_scores([], cfg, n_docs)
        from concurrent.futures import ThreadPoolExecutor as _TPE

        def _base_rate() -> float | None:
            if cfg.base_rate == "auto":
                # per-query p95 as a WINDOW aggregate: one shuffle
                # by query_id, then the filter, per-query ratio and
                # global mean all run map-side on that partitioning
                # (the old groupBy + self-join shuffled the scored
                # frame by query_id twice)
                wq = Window.partitionBy("query_id")
                ratios = (
                    scored.withColumn(
                        "thr", F.expr("percentile(score, 0.95)").over(wq)
                    )
                    .where(F.col("score") >= F.col("thr"))
                    .groupBy("query_id")
                    .agg((F.count(F.lit(1)) / F.lit(float(n_docs))).alias("ratio"))
                )
                return float(
                    np.clip(float(ratios.agg(F.avg("ratio")).collect()[0][0]), 1e-6, 0.5)
                )
            if isinstance(cfg.base_rate, (int, float)):
                return float(cfg.base_rate)
            return None

        with _TPE(max_workers=2) as pool:
            f_med = pool.submit(
                exact_percentile, scored, "score", 0.5, n=int(row["n"])
            )
            f_br = pool.submit(_base_rate)
            est_beta = f_med.result()
            base_rate = f_br.result()
        std = float(row["std"])
        est_alpha = 1.0 / std if std > 0 else 1.0
        alpha = cfg.alpha if cfg.alpha is not None else est_alpha
        beta = cfg.beta if cfg.beta is not None else est_beta
        return TransformParams(alpha=alpha, beta=beta, base_rate=base_rate)
    finally:
        scored.unpersist()


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
    docs' tokens are counted), and df/avgdl/impact are plain
    re-aggregations over it.  Every stage at ``new_path`` is rewritten.
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
    """Re-open a built index from its checkpoints (no recompute)."""
    with open(os.path.join(path, "params.json")) as f:
        meta = json.load(f)
    with open(os.path.join(path, "corpus_stats.json")) as f:
        stats = json.load(f)
    cfg = IndexConfig.from_dict(meta["config"])
    pl_dir = os.path.join(path, "posting_lists")
    docs = spark.read.parquet(os.path.join(path, "docs"))
    return BM25Index(
        spark=spark,
        path=path,
        config=cfg,
        postings=spark.read.parquet(os.path.join(path, "postings")),
        term_stats=spark.read.parquet(os.path.join(path, "term_stats")),
        block_max=spark.read.parquet(os.path.join(path, "block_max")),
        doc_stats=docs.select("doc_id", "url", "doc_len"),
        n_docs=stats["n_docs"],
        avgdl=stats["avgdl"],
        params=TransformParams.from_dict(meta["params"]),
        posting_lists=spark.read.parquet(pl_dir) if ckpt.is_complete(pl_dir) else None,
    )
