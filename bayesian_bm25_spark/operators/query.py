"""Query path: BM25 scoring join, top-k, dense probabilities, WAND gates.

Spark lifecycle of a query batch (SURVEY.md §3.1):

    queries(query_id, terms) → explode + groupBy(query_id, term) qtf
      (or (query_id, term, qtf) counted on the driver: local_query_terms)
      → postings: the term_bucket-pruned parquet scan, then
        [exchange] repartition(doc_id) — or a prepartition_for_scoring
        frame, which paid that exchange once for every batch
      → BroadcastHashJoin on term (the query side is always tiny
        relative to the index)
      → groupBy(query_id, doc_id).sum(impact·qtf): NO exchange, the
        doc_id layout already satisfies it
      → [exchange] per-query window top-k with pinned tie-break
        (score desc, doc_id asc); WindowGroupLimit pre-reduces each map
        partition to ≤ k rows per query
      → probability column expressions (pure codegen, no Python)

Scale notes:
- ``doc_len`` is denormalized into the postings rows at build time, so
  scoring needs NO join against a per-doc stats table (at 10^12 docs that
  join would dwarf everything else).
- The postings parquet is laid out by ``term_bucket``; the scan of it
  first prunes buckets to those containing query terms, so a 100-term
  query batch reads a fraction of the index (partition pruning = the
  Spark analog of posting-list lookup).  The persisted scoring layout
  has no ``term_bucket`` column: every doc_id partition holds every
  bucket, so a filter there could skip nothing.
- The Columns every batch's plan repeats (aggregates, group keys, the
  top-k window, the output list) are built once per key: each is a
  py4j round-trip per node.
"""

from __future__ import annotations

import functools
from collections import Counter

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from bayesian_bm25_spark.functions import columns as C
from bayesian_bm25_spark.kernel.transform import TransformParams


_QUERY_TERMS_SCHEMA = StructType(
    [
        StructField("query_id", LongType(), False),
        StructField("term", StringType(), False),
        StructField("qtf", LongType(), False),
    ]
)


def local_query_terms(spark: SparkSession, token_lists: list[list[str]]) -> DataFrame:
    """(query_id, term, qtf) counted on the driver, for query batches that
    already live there as token lists: query ids are ``0..n-1`` in list
    order, and an empty query has no rows.

    The frame comes from a ``pyarrow.Table``, so Spark plans it as a
    ``LocalRelation``: no Python worker reads it, and ``query_terms``
    passes it through without the explode / group-by and its exchange.
    """
    qids, terms, qtfs = [], [], []
    for qid, tokens in enumerate(token_lists):
        for term, qtf in Counter(tokens).items():
            qids.append(qid)
            terms.append(term)
            qtfs.append(qtf)
    table = pa.table(
        {
            "query_id": pa.array(qids, pa.int64()),
            "term": pa.array(terms, pa.string()),
            "qtf": pa.array(qtfs, pa.int64()),
        }
    )
    return spark.createDataFrame(table, schema=_QUERY_TERMS_SCHEMA)


def query_terms(queries: DataFrame) -> DataFrame:
    """(query_id, term, qtf): distinct query terms with multiplicities.

    Duplicate query tokens contribute once per occurrence to the score
    (qtf weight) but only once to the distinct-match count used by the
    tf prior (reference scorer.py:592-601).

    A frame that is already (query_id, term, qtf) — ``local_query_terms``
    — is returned unchanged; a (query_id, terms) frame is exploded and
    counted in Spark.
    """
    cols = set(queries.columns)
    if {"term", "qtf"} <= cols and "terms" not in cols:
        return queries
    return (
        queries.select("query_id", F.explode("terms").alias("term"))
        .groupBy("query_id", "term")
        .agg(F.count(F.lit(1)).alias("qtf"))
    )


def prune_query_terms_buckets(
    postings: DataFrame,
    qterms: DataFrame,
    n_buckets: int,
    driver_terms: list[str] | None = None,
) -> DataFrame:
    """Partition-prune the postings scan to buckets containing query terms.

    With ``driver_terms`` (the facade path — query tokens already live on
    the driver) the bucket set is computed locally via the pure-Python
    replica of Spark's xxhash64 (functions/xxhash.py, golden-tested) —
    zero Spark jobs, and an every-bucket batch skips the filter
    entirely (a 1000-query Zipf batch covers all 32).

    Without driver terms (DataFrame-resident query batches), the prune
    is a broadcast LEFT SEMI join on ``term_bucket`` — lazy, no driver
    collect, no blocking job per batch; the postings parquet is
    directory-partitioned by ``term_bucket``, so Spark's dynamic
    partition pruning turns the broadcast bucket set into file-level
    skipping at scan time.  (Earlier rounds ran a tiny blocking
    ``distinct().collect()`` here — fine once, wrong inside a per-batch
    service loop.)"""
    if driver_terms is not None:
        from bayesian_bm25_spark.functions.xxhash import term_bucket

        buckets = sorted({term_bucket(t, n_buckets) for t in driver_terms})
        if len(buckets) >= n_buckets:
            return postings
        return postings.where(F.col("term_bucket").isin(buckets))
    bucket_rel = qterms.select(
        F.pmod(F.xxhash64("term"), F.lit(n_buckets)).alias("term_bucket")
    ).distinct()
    return postings.join(F.broadcast(bucket_rel), "term_bucket", "left_semi")


# the postings columns scoring reads, and the warm layout's schema
_SCORE_COLS = ["term", "doc_id", "impact", "doc_len"]


def prepartition_for_scoring(
    postings: DataFrame, num_partitions: int | None = None
) -> DataFrame:
    """(term, doc_id, impact, doc_len) postings, doc_id-hash-repartitioned
    and PERSISTED for reuse across query batches.

    Both retrieval plans re-layout the postings by doc_id per batch (the
    co-partitioning that lets the scoring agg run without an exchange).
    A service answering many batches should pay that full-corpus shuffle
    ONCE: this frame keeps its HashPartitioning(doc_id) through persist,
    so every later ``score_queries(..., co_partition=False)`` /
    ``retrieve_maxscore(..., src_partitioned=True)`` runs shuffle-free
    on the postings side.  MEMORY_AND_DISK: on a cluster this is the
    standard materialized re-layout (disk-backed where RAM is short).

    Only the four scoring columns are kept.  Every doc_id partition
    holds every term bucket, so a bucket filter on this frame would skip
    nothing; without ``term_bucket`` the scoring plans skip the prune,
    and no batch puts its bucket list into generated code (a new literal
    is a new Janino compilation per batch).  Bucket pruning stays on the
    postings parquet scan, where it skips files.  The narrower frame
    also shrinks the warm-up shuffle and the cached bytes.
    """
    from pyspark.storagelevel import StorageLevel

    p = num_partitions or postings.sparkSession.sparkContext.defaultParallelism * 2
    out = (
        postings.select(*_SCORE_COLS)
        .repartition(p, "doc_id")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # EAGER materialization is load-bearing, not a warm-up nicety: until
    # the cache is built, consumers see UnknownPartitioning on the
    # InMemoryRelation and re-add the very exchange this function exists
    # to remove (verified against Spark 4.1; test_plans asserts the
    # exchange-free consumer plan)
    out.count()
    return out


def _scoring_columns(src: DataFrame) -> DataFrame:
    """``src`` narrowed to ``_SCORE_COLS`` (tf/df/term_bucket would otherwise
    ride the doc_id exchange and widen every join probe row).
    Projection preserves partitioning, so a prepartition_for_scoring
    frame keeps its exchange-free layout; it already has exactly these
    columns and is returned as is."""
    have = src.columns
    if have == _SCORE_COLS or not set(_SCORE_COLS) <= set(have):
        return src
    return src.select(*_SCORE_COLS)


def score_queries(
    postings: DataFrame,
    queries: DataFrame,
    *,
    n_buckets: int | None = None,
    co_partition: bool = True,
    driver_terms: list[str] | None = None,
) -> DataFrame:
    """(query_id, doc_id, score, tf_match, doc_len) for every matching doc.

    Inner-join semantics: docs with score 0 never appear (the reference's
    ``scores > 0`` active mask falls out of the join for free,
    SURVEY.md §4 item 2).

    Shuffle design: with ``co_partition`` (default) the postings are
    hash-repartitioned by ``doc_id`` BEFORE the broadcast join.  The
    broadcast join preserves that partitioning, and HashPartitioning on
    ``doc_id`` — a subset of the grouping key (query_id, doc_id) —
    satisfies the aggregation's clustered-distribution requirement, so
    the groupBy runs WITHOUT a shuffle.  We move |postings ∩ buckets|
    rows once instead of the joined output (|query terms| × df blow-up:
    ~20× larger on Zipf query batches, and the thing that stops scaling
    when it hits disk).  The only remaining exchange is the tiny
    rank-limited window input.
    """
    qt = query_terms(queries)
    src = postings
    if n_buckets and "term_bucket" in postings.columns:
        src = prune_query_terms_buckets(postings, qt, n_buckets, driver_terms)
    # project BEFORE the exchange / join probe; the in-memory columnar
    # cache of a persisted frame prunes to the selected columns too
    src = _scoring_columns(src)
    if co_partition:
        p = postings.sparkSession.sparkContext.defaultParallelism * 2
        src = src.repartition(p, "doc_id")
    keys, aggs = _score_aggregation()
    return src.join(F.broadcast(qt), "term").groupBy(*keys).agg(*aggs)


def _probability_expr(
    alpha: float, beta: float, base_rate: float | None, mode: str, avgdl: float,
    prior: Column | None = None,
) -> Column:
    prob = C.score_to_probability(
        F.col("score"),
        F.col("tf_match").cast("double"),
        F.col("doc_len").cast("double") / F.lit(avgdl),
        alpha=alpha,
        beta=beta,
        base_rate=base_rate,
        mode=mode,
        prior=prior,
    )
    return F.when(F.col("score") > 0.0, prob).otherwise(F.lit(0.0))


# Batch-invariant Columns, built once per key: building an expression
# tree goes through py4j node by node, which cost more than a small
# batch's withColumn.  Spark 4 turns a Column into a plan expression
# (with fresh expression ids) each time a DataFrame uses it, so one
# Column serves any number of plans.
_probability_col = functools.lru_cache(maxsize=64, typed=True)(_probability_expr)


@functools.lru_cache(maxsize=None)
def _score_aggregation() -> tuple[tuple[Column, ...], tuple[Column, ...]]:
    """(group keys, aggregates) of the (query_id, doc_id) scoring agg."""
    return (F.col("query_id"), F.col("doc_id")), (
        F.sum(F.col("impact") * F.col("qtf")).alias("score"),
        F.count(F.lit(1)).alias("tf_match"),
        F.first("doc_len").alias("doc_len"),
    )


@functools.lru_cache(maxsize=64, typed=True)
def _rank_columns(order_by: str, k: int) -> tuple[Column, Column]:
    """``topk``'s row_number over the pinned window, and ``rank <= k``."""
    w = Window.partitionBy("query_id").orderBy(F.desc(order_by), F.asc("doc_id"))
    return F.row_number().over(w), F.col("rank") <= k


@functools.lru_cache(maxsize=None)
def _result_columns() -> tuple[Column, ...]:
    """The (query_id, rank, doc_id, score, probability) output list."""
    return tuple(F.col(c) for c in ("query_id", "rank", "doc_id", "score", "probability"))


def with_probability(
    scored: DataFrame, params: TransformParams, avgdl: float, prior: Column | None = None
) -> DataFrame:
    """Attach the calibrated probability column (pure Column math)."""
    key = (params.alpha, params.beta, params.base_rate, params.mode, float(avgdl))
    prob = _probability_col(*key) if prior is None else _probability_expr(*key, prior)
    return scored.withColumn("probability", prob)


def topk(
    scored: DataFrame,
    k: int = 10,
    order_by: str = "score",
) -> DataFrame:
    """Per-query top-k with the pinned deterministic tie-break
    (order_by desc, doc_id asc) — rank-identity requires this on both the
    Spark and the oracle side."""
    rank, keep = _rank_columns(order_by, k)
    return scored.withColumn("rank", rank).where(keep)


def retrieve(
    postings: DataFrame,
    queries: DataFrame,
    params: TransformParams,
    avgdl: float,
    k: int = 10,
    n_buckets: int | None = None,
    driver_terms: list[str] | None = None,
    co_partition: bool = True,
) -> DataFrame:
    """Top-k retrieval with probabilities:
    (query_id, rank, doc_id, score, probability).

    Pass ``co_partition=False`` with a ``prepartition_for_scoring``
    frame to reuse one postings re-layout across many batches."""
    scored = score_queries(
        postings, queries, n_buckets=n_buckets, driver_terms=driver_terms,
        co_partition=co_partition,
    )
    ranked = topk(scored, k=k)
    return with_probability(ranked, params, avgdl).select(*_result_columns())


def get_probabilities(
    postings: DataFrame,
    queries: DataFrame,
    params: TransformParams,
    avgdl: float,
    all_docs: DataFrame | None = None,
    n_buckets: int | None = None,
) -> DataFrame:
    """Probabilities for every matching doc; with ``all_docs`` given
    (doc_id column), densifies to every (query, doc) pair with 0.0 fill —
    the reference's dense ``get_probabilities`` (scorer.py:564-590).

    The dense form is for parity/testing only: at web scale a q×N dense
    cross join is exactly what the sparse inner-join design avoids.
    """
    scored = with_probability(
        score_queries(postings, queries, n_buckets=n_buckets), params, avgdl
    )
    if all_docs is None:
        return scored.select("query_id", "doc_id", "score", "probability")
    dense = queries.select("query_id").crossJoin(all_docs.select("doc_id"))
    return (
        dense.join(scored, ["query_id", "doc_id"], "left")
        .select(
            "query_id",
            "doc_id",
            F.coalesce("score", F.lit(0.0)).alias("score"),
            F.coalesce("probability", F.lit(0.0)).alias("probability"),
        )
    )


def _impacts_nonnegative(term_stats: DataFrame) -> bool:
    """Sign check for the pruned paths: MaxScore/threshold bounds hold
    only for non-negative impacts.  One tiny job over the
    ``term_stats.min_impact`` column every build writes."""
    mn = term_stats.agg(F.min("min_impact")).collect()[0][0]
    return mn is None or float(mn) >= 0.0


def retrieve_maxscore(
    postings: DataFrame,
    queries: DataFrame,
    term_stats: DataFrame,
    params: TransformParams,
    avgdl: float,
    k: int = 10,
    n_buckets: int | None = None,
    impacts_nonnegative: bool | None = None,
    driver_terms: list[str] | None = None,
    src_partitioned: bool = False,
) -> DataFrame:
    """Rank-exact top-k with MaxScore-style pruning — the scale path.

    ``src_partitioned=True`` declares that ``postings`` is already a
    ``prepartition_for_scoring`` frame (doc_id hash layout, persisted):
    the exact pass then skips its per-batch full-corpus repartition and
    hashes the candidate set to the postings' existing partition count.

    On Zipf query batches the exhaustive scoring join blows up as
    Σ_q Σ_{t∈q} df(t): head terms (df ≈ N) contribute ~zero idf yet
    dominate the join volume.  The top-k is decided by the rarer terms,
    so we:

      A. θ pass — score only each term's impact-ordered prefix
         (``impact ≥ prefix_cutoff``, the B-th largest impact per term
         precomputed in term_stats).  Partial sums are lower bounds of
         true scores, so the k-th best partial per query is a valid
         threshold θ_q.
      B. essential terms — sort a query's terms by ub = max_impact·qtf
         ascending; terms whose inclusive cumulative ub stays < θ_q are
         prunable (a doc matching only those is bounded below θ_q).
      C. candidates — distinct (query, doc) pairs from essential-term
         postings only (rare terms ⇒ small).
      D. exact pass — the full scoring join streams through a
         co-partitioned hash probe of the candidate set (no 10^8-row
         shuffle, no giant agg hash table), then aggregates per
         (query, doc) without an exchange and takes the pinned top-k.

    Every true top-k doc has score ≥ θ_q ⇒ matches ≥ 1 essential term ⇒
    is a candidate, and candidate scores are exact (the filter is
    doc-level, not row-level) — so ranks and scores are identical to the
    exhaustive plan; tests enforce it.

    SAFETY: both the θ pass (partial sums as lower bounds) and the
    essential-term cumulative bound require NON-NEGATIVE impacts.
    Robertson idf is negative for df > ~N/2 (lucene/atire never are), so
    when ``impacts_nonnegative`` is False — or is None and the
    ``term_stats.min_impact`` column (written at build time) shows a
    negative minimum — the call routes to the exhaustive ``retrieve``
    plan, which is exact for any sign.
    """
    if impacts_nonnegative is None:
        impacts_nonnegative = _impacts_nonnegative(term_stats)
    if not impacts_nonnegative:
        return retrieve(
            postings, queries, params, avgdl,
            k=k, n_buckets=n_buckets, driver_terms=driver_terms,
            # a prepartition_for_scoring frame keeps its doc_id layout
            # through the fallback too (mirrors retrieve_auto's branch)
            co_partition=not src_partitioned,
        )

    spark = postings.sparkSession
    # 4× over-partitioning: the exact pass shuffle-hash-builds the
    # candidate set per partition (no-spill build side) — smaller
    # partitions keep each task's hash map well under its execution-
    # memory share on small-heap executors
    p = spark.sparkContext.defaultParallelism * 4
    qt = query_terms(queries)
    src = postings
    if n_buckets and "term_bucket" in postings.columns:
        src = prune_query_terms_buckets(postings, qt, n_buckets, driver_terms)
    # narrow to the scoring columns before every downstream pass /
    # exchange — same projection score_queries applies
    src = _scoring_columns(src)

    # -- A: θ from impact-ordered prefixes ---------------------------------
    # restrict term_stats to the query batch FIRST (broadcast the tiny
    # term set into the vocab-sized stats table) so the cutoff relation
    # broadcast below is bounded by the batch, never by |vocab| — at
    # 10^12 docs the vocabulary is itself a big table
    batch_terms = qt.select("term").distinct()
    cutoffs = term_stats.join(F.broadcast(batch_terms), "term").select(
        "term", "prefix_cutoff"
    )
    prefix = src.join(F.broadcast(cutoffs), "term").where(
        F.col("impact") >= F.col("prefix_cutoff")
    )
    partial = (
        prefix.join(F.broadcast(qt), "term")
        .groupBy("query_id", "doc_id")
        .agg(F.sum(F.col("impact") * F.col("qtf")).alias("pscore"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("pscore"), F.asc("doc_id"))
    theta = (
        partial.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == k)
        .select("query_id", F.col("pscore").alias("theta"))
    )

    # -- B: essential terms per query --------------------------------------
    # broadcast the query terms INTO term_stats (not the reverse): the
    # stats table is |vocab| rows, the query batch is KBs
    qt_ub = term_stats.select("term", "max_impact").join(
        F.broadcast(qt), "term"
    ).withColumn("ub", F.col("max_impact") * F.col("qtf"))
    w_cum = (
        Window.partitionBy("query_id")
        .orderBy(F.asc("ub"), F.asc("term"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    qt_flagged = (
        qt_ub.withColumn("cum_ub", F.sum("ub").over(w_cum))
        .join(F.broadcast(theta), "query_id", "left")
        .withColumn(
            "essential",
            F.col("theta").isNull() | (F.col("cum_ub") >= F.col("theta")),
        )
    )
    essential_qt = qt_flagged.where("essential").select("query_id", "term")

    # -- C: candidate (query, doc) pairs ------------------------------------
    candidates = (
        src.join(F.broadcast(essential_qt), "term")
        .select("query_id", "doc_id")
        .distinct()
    )

    # -- D: exact scoring of candidates only --------------------------------
    if src_partitioned:
        src_p = src
        p = src.rdd.getNumPartitions()
    else:
        src_p = src.repartition(p, "doc_id")
    cand_p = candidates.repartition(p, "doc_id")
    joined = src_p.join(F.broadcast(qt), "term")
    exact = joined.join(cand_p.hint("shuffle_hash"), ["query_id", "doc_id"])
    keys, aggs = _score_aggregation()
    scored = exact.groupBy(*keys).agg(*aggs)
    ranked = topk(scored, k=k)
    return with_probability(ranked, params, avgdl).select(*_result_columns())


# retrieve_auto routes to MaxScore from this corpus size on
_MAXSCORE_MIN_DOCS = 250_000


def retrieve_auto(
    postings: DataFrame,
    queries: DataFrame,
    term_stats: DataFrame,
    params: TransformParams,
    avgdl: float,
    n_docs: int,
    k: int = 10,
    n_buckets: int | None = None,
    driver_terms: list[str] | None = None,
    src_partitioned: bool = False,
    impacts_nonnegative: bool | None = None,
) -> DataFrame:
    """Cost-based routing between the exhaustive co-partitioned scan and
    MaxScore pruning — the engine's AQE-style physical choice.

    MaxScore's three extra passes (θ, essential-term gate, candidate
    probe) cost a roughly FIXED number of distributed jobs; their
    benefit grows with the posting volume a query batch touches.
    Measured on Zipf batches of 200-1000 queries at 32 cores (see
    BENCH/BASELINE.md round-3 notes): at 50k docs the single-join
    exhaustive plan is 2-3× FASTER (the fixed passes dominate); at 1M
    docs MaxScore is ~1.3× faster warm and ~3× faster cold (the
    exhaustive agg spills).  ``_MAXSCORE_MIN_DOCS`` sits between the
    two measured endpoints.  Both paths are rank-identical
    (pytest-enforced), so routing never changes results.
    ``impacts_nonnegative`` is passed to ``retrieve_maxscore``."""
    if n_docs >= _MAXSCORE_MIN_DOCS:
        return retrieve_maxscore(
            postings, queries, term_stats, params, avgdl,
            k=k, n_buckets=n_buckets, driver_terms=driver_terms,
            src_partitioned=src_partitioned,
            impacts_nonnegative=impacts_nonnegative,
        )
    return retrieve(
        postings, queries, params, avgdl,
        k=k, n_buckets=n_buckets, driver_terms=driver_terms,
        # a prepartition_for_scoring frame already has the doc_id
        # layout — don't re-shuffle it per batch
        co_partition=not src_partitioned,
    )


# -- WAND / BMW bound gates ---------------------------------------------


def term_wand_bounds(term_stats: DataFrame, params: TransformParams, p_max: float = 0.9) -> DataFrame:
    """term_stats + ``wand_ub``: safe per-term probability upper bound."""
    return term_stats.withColumn(
        "wand_ub",
        C.wand_upper_bound(
            F.col("max_impact"),
            alpha=params.alpha,
            beta=params.beta,
            base_rate=params.base_rate,
            p_max=p_max,
        ),
    )


def retrieve_threshold(
    postings: DataFrame,
    queries: DataFrame,
    term_stats: DataFrame,
    params: TransformParams,
    avgdl: float,
    threshold: float,
    n_buckets: int | None = None,
    impacts_nonnegative: bool | None = None,
) -> DataFrame:
    """Threshold query with safe WAND-style pruning.

    A doc's probability is bounded by posterior(L(Σ matched-term
    max_impact)): per query we drop whole queries whose total-impact
    bound cannot reach ``threshold`` (no postings read at all), score the
    rest, and filter on the exact probability.  This is data-level
    pruning — precomputed bound tables + filters — the idiomatic Spark
    translation of index skipping (no custom Catalyst rule needed).

    SAFETY: Σ qtf·max_impact is an upper bound only when impacts are
    non-negative (robertson idf can be negative for df > ~N/2) — same
    guard as ``retrieve_maxscore``: negative-impact indexes skip the
    query-level gate and score every live query exactly.
    """
    if impacts_nonnegative is None:
        impacts_nonnegative = _impacts_nonnegative(term_stats)
    if not impacts_nonnegative:
        scored = with_probability(
            score_queries(postings, queries, n_buckets=n_buckets), params, avgdl
        )
        return scored.where(F.col("probability") >= threshold).select(
            "query_id", "doc_id", "score", "probability"
        )

    qt = query_terms(queries)
    qb = (
        qt.join(term_stats.select("term", "max_impact"), "term", "left")
        .groupBy("query_id")
        .agg(F.sum(F.col("qtf") * F.coalesce("max_impact", F.lit(0.0))).alias("score_ub"))
    )
    qb = qb.withColumn(
        "prob_ub",
        C.wand_upper_bound(
            F.col("score_ub"), alpha=params.alpha, beta=params.beta,
            base_rate=params.base_rate,
        ),
    )
    live = queries.join(
        qb.where(F.col("prob_ub") >= threshold).select("query_id"), "query_id"
    )
    scored = with_probability(
        score_queries(postings, live, n_buckets=n_buckets), params, avgdl
    )
    return scored.where(F.col("probability") >= threshold).select(
        "query_id", "doc_id", "score", "probability"
    )
