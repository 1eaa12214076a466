"""Query path: BM25 scoring join, top-k, dense probabilities, WAND gates.

Spark lifecycle of a query batch (SURVEY.md §3.1):

    queries(query_id, terms) → explode+dedupe terms (qtf weights)
      → [shuffle 1] join postings on term   (query side broadcast — it is
        always tiny relative to the index)
      → [shuffle 2] groupBy(query_id, doc_id).sum(impact·qtf)
      → probability column expressions (pure codegen, no Python)
      → [shuffle 3] per-query window top-k with pinned tie-break
        (score desc, doc_id asc)

Scale notes:
- ``doc_len`` is denormalized into the postings rows at build time, so
  scoring needs NO join against a per-doc stats table (at 10^12 docs that
  join would dwarf everything else).
- The postings parquet is laid out by ``term_bucket``; the scoring join
  first prunes buckets to those containing query terms, so a 100-term
  query batch reads a fraction of the index (partition pruning = the
  Spark analog of posting-list lookup).
- Aggregation is partial (map-side combine) before the shuffle; AQE
  handles Zipf skew on hot terms.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from bayesian_bm25_spark.functions import columns as C
from bayesian_bm25_spark.kernel.transform import TransformParams


def query_terms(queries: DataFrame) -> DataFrame:
    """(query_id, term, qtf): distinct query terms with multiplicities.

    Duplicate query tokens contribute once per occurrence to the score
    (qtf weight) but only once to the distinct-match count used by the
    tf prior (reference scorer.py:592-601).
    """
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


def prepartition_for_scoring(
    postings: DataFrame, num_partitions: int | None = None
) -> DataFrame:
    """doc_id-hash-repartitioned postings, PERSISTED for reuse across
    query batches.

    Both retrieval plans re-layout the postings by doc_id per batch (the
    co-partitioning that lets the scoring agg run without an exchange).
    A service answering many batches should pay that full-corpus shuffle
    ONCE: this frame keeps its HashPartitioning(doc_id) through persist,
    so every later ``score_queries(..., co_partition=False)`` /
    ``retrieve_maxscore(..., src_partitioned=True)`` runs shuffle-free
    on the postings side.  MEMORY_AND_DISK: on a cluster this is the
    standard materialized re-layout (disk-backed where RAM is short).

    Note: term_bucket scan pruning happens before this at build layout
    time; filters on the persisted frame evaluate in memory (cheap) but
    no longer skip file reads — the trade is one corpus read vs a
    corpus shuffle per batch.
    """
    from pyspark.storagelevel import StorageLevel

    p = num_partitions or postings.sparkSession.sparkContext.defaultParallelism * 2
    out = postings.repartition(p, "doc_id").persist(StorageLevel.MEMORY_AND_DISK)
    # EAGER materialization is load-bearing, not a warm-up nicety: until
    # the cache is built, consumers see UnknownPartitioning on the
    # InMemoryRelation and re-add the very exchange this function exists
    # to remove (verified against Spark 4.1; test_plans asserts the
    # exchange-free consumer plan)
    out.count()
    return out


def score_queries(
    postings: DataFrame,
    queries: DataFrame,
    *,
    n_buckets: int | None = None,
    co_partition: bool = True,
    driver_terms: list[str] | None = None,
    score_only: bool = False,
) -> DataFrame:
    """(query_id, doc_id, score, tf_match, doc_len) for every matching doc.

    ``score_only=True`` drops the tf_match / doc_len aggregates (callers
    that never read them — parameter estimation needs only the score
    column): ~40% less per-group aggregation state and narrower partial
    rows through the agg exchange.  The score values are identical.

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
    # project to the four columns scoring reads BEFORE the exchange /
    # join probe (guide §2.3): tf/df/term_bucket otherwise ride the
    # doc_id repartition and widen every probe row.  Projection
    # preserves partitioning, so a prepartition_for_scoring frame keeps
    # its exchange-free layout (and the in-memory columnar cache prunes
    # to the selected columns).
    score_cols = (
        ["term", "doc_id", "impact"]
        if score_only
        else ["term", "doc_id", "impact", "doc_len"]
    )
    if set(score_cols) <= set(src.columns):
        src = src.select(*score_cols)
    if co_partition:
        p = postings.sparkSession.sparkContext.defaultParallelism * 2
        src = src.repartition(p, "doc_id")
    joined = src.join(F.broadcast(qt), "term")
    if score_only:
        return joined.groupBy("query_id", "doc_id").agg(
            F.sum(F.col("impact") * F.col("qtf")).alias("score")
        )
    return joined.groupBy("query_id", "doc_id").agg(
        F.sum(F.col("impact") * F.col("qtf")).alias("score"),
        F.count(F.lit(1)).alias("tf_match"),
        F.first("doc_len").alias("doc_len"),
    )


def with_probability(
    scored: DataFrame, params: TransformParams, avgdl: float, prior: F.Column | None = None
) -> DataFrame:
    """Attach the calibrated probability column (pure Column math)."""
    prob = C.score_to_probability(
        F.col("score"),
        F.col("tf_match").cast("double"),
        F.col("doc_len").cast("double") / F.lit(float(avgdl)),
        alpha=params.alpha,
        beta=params.beta,
        base_rate=params.base_rate,
        mode=params.mode,
        prior=prior,
    )
    return scored.withColumn("probability", F.when(F.col("score") > 0.0, prob).otherwise(F.lit(0.0)))


def topk(
    scored: DataFrame,
    k: int = 10,
    order_by: str = "score",
) -> DataFrame:
    """Per-query top-k with the pinned deterministic tie-break
    (order_by desc, doc_id asc) — rank-identity requires this on both the
    Spark and the oracle side."""
    w = Window.partitionBy("query_id").orderBy(F.desc(order_by), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


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
    return with_probability(ranked, params, avgdl).select(
        "query_id", "rank", "doc_id", "score", "probability"
    )


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
    # exchange (guide §2.3) — same projection score_queries applies
    score_cols = ["term", "doc_id", "impact", "doc_len"]
    if set(score_cols) <= set(src.columns):
        src = src.select(*score_cols)

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
    scored = exact.groupBy("query_id", "doc_id").agg(
        F.sum(F.col("impact") * F.col("qtf")).alias("score"),
        F.count(F.lit(1)).alias("tf_match"),
        F.first("doc_len").alias("doc_len"),
    )
    ranked = topk(scored, k=k)
    return with_probability(ranked, params, avgdl).select(
        "query_id", "rank", "doc_id", "score", "probability"
    )


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


def block_bayesian_bounds(block_max: DataFrame, params: TransformParams, p_max: float = 0.9) -> DataFrame:
    """block_max + ``block_ub``: per-(term, block) Bayesian bound
    (reference Corollary 7.4.2) — tighter than the term-level WAND bound."""
    return block_max.withColumn(
        "block_ub",
        C.wand_upper_bound(
            F.col("block_max_impact"),
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
