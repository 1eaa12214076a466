"""The `serve` workload: a long-lived search service on one Spark session.

Set-up materialises a seeded Zipf page table, indexes it through the
`BayesianBM25Scorer` facade and warms its scoring layout.  The timed loop
sends back-to-back `retrieve(batch, k=10)` calls, one closed-loop client,
ten Zipf queries per batch.  The run sets up three times, and each set-up
is followed by a third of the timed loop.  Every batch is checked
afterwards against `kernel.bm25.BM25Oracle` built from the same generated
tokens.
"""

from __future__ import annotations

import time

import numpy as np

N_DOCS = 1000
BATCH = 10
K = 10
N_QUERIES = 2000  # query pool; the loop walks it batch by batch
TRACED_BATCHES = 5  # batches re-run with nested spans in a traced run
SETUPS = 3
# untimed batches after each set-up: the first few batches on a fresh
# index, and above all on a fresh JVM, run up to 1.5x slower
WARM_UP = 3


def check_batch(oracle, queries, doc_ids, probs) -> str | None:
    """None when one facade batch is a valid top-k of the oracle, else why.

    Ids must be distinct, real matches and a prefix of the row, with the
    (-1, 0.0) fill only past them; their oracle scores must equal the
    oracle's own top-k scores rank by rank (non-increasing), which allows
    the engine to order exact score ties either way."""
    if doc_ids.shape != (len(queries), K) or probs.shape != doc_ids.shape:
        return f"shape {doc_ids.shape} / {probs.shape}"
    _, want_scores = oracle.retrieve(queries, k=K)
    for q, terms in enumerate(queries):
        ids, p = doc_ids[q], probs[q]
        n = int(np.sum(want_scores[q] > 0))
        if np.any(ids[:n] < 0) or np.any(ids[n:] != -1) or np.any(p[n:] != 0.0):
            return f"query {q}: {int(np.sum(ids >= 0))} results, oracle has {n}"
        if len(set(ids[:n].tolist())) != n or np.any(ids[:n] >= oracle.n_docs):
            return f"query {q}: repeated or unknown doc ids {ids[:n].tolist()}"
        if np.any(~((p[:n] > 0.0) & (p[:n] <= 1.0))):
            return f"query {q}: probabilities outside (0, 1]: {p[:n].tolist()}"
        got = oracle.get_scores(terms)[ids[:n]]
        if not np.allclose(got, want_scores[q][:n], rtol=1e-9, atol=1e-12):
            return f"query {q}: scores {got.tolist()} vs oracle {want_scores[q][:n].tolist()}"
    return None


def check_scores(oracle, queries, rows) -> str | None:
    """`retrieve_df` rows (query_id, rank, doc_id, score) vs the oracle:
    ranks 1..n, scores non-increasing and equal to the oracle's."""
    _, want_scores = oracle.retrieve(queries, k=K)
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(int(r["query_id"]), []).append(r)
    for q in range(len(queries)):
        got = sorted(by_q.get(q, []), key=lambda r: r["rank"])
        n = int(np.sum(want_scores[q] > 0))
        scores = np.array([r["score"] for r in got])
        if [r["rank"] for r in got] != list(range(1, n + 1)):
            return f"query {q}: ranks {[r['rank'] for r in got]}, oracle has {n} matches"
        if np.any(np.diff(scores) > 0):
            return f"query {q}: scores increase: {scores.tolist()}"
        if not np.allclose(scores, want_scores[q][:n], rtol=1e-9, atol=1e-12):
            return f"query {q}: scores {scores.tolist()} vs oracle {want_scores[q][:n].tolist()}"
        ids = np.array([r["doc_id"] for r in got], dtype=np.int64)
        if not np.allclose(oracle.get_scores(queries[q])[ids], scores, rtol=1e-9, atol=1e-12):
            return f"query {q}: doc ids {ids.tolist()} do not carry the scores"
    return None


def run(ctx) -> None:
    from bayesian_bm25_spark.api import BayesianBM25Scorer
    from bayesian_bm25_spark.kernel.bm25 import BM25Oracle, tokenize
    from bayesian_bm25_spark.sources.webcorpus import (
        generate_pages,
        generate_queries,
        generate_rows_local,
        queries_to_df,
    )

    spark, pages_dir = ctx.spark, ctx.work / "pages"
    scorer = BayesianBM25Scorer(spark=spark, index_path=str(ctx.work / "index"))
    pool = generate_queries(N_DOCS, seed=ctx.seed, n_queries=N_QUERIES)
    batches = [pool[i:i + BATCH] for i in range(0, len(pool), BATCH)]
    # the last WARM_UP + 1 batches stay out of the timed rotation: they
    # warm the query path after each set-up, and the one before them is
    # the retrieve_df score check
    warm_up, score_check = batches[-WARM_UP:], batches[-WARM_UP - 1]
    rotation = batches[:-WARM_UP - 1]

    # Three rounds of set-up, then a third of the timed loop on the index
    # it built.  Spreading the loop over the whole run, rather than timing
    # one window at the end, averages the batch latencies over more of
    # the host's slow and fast spells.
    setup_phases, outputs, i = [], [], 0
    for _ in range(SETUPS):
        with ctx.setup_span() as span:
            with span.part("webcorpus.generate_s"):
                generate_pages(spark, N_DOCS, seed=ctx.seed, num_partitions=ctx.cores) \
                    .write.mode("overwrite").parquet(str(pages_dir))
            with span.part("index_build.build_s"):
                scorer.index(spark.read.parquet(str(pages_dir)))
            with span.part("query.prepartition_s"):
                scorer.warm_scoring_cache()
        setup_phases.append(scorer.spark_index.build_metrics["phase_sec"])
        for batch in warm_up:
            scorer.retrieve(batch, k=K)

        t_end = time.perf_counter() + ctx.seconds / SETUPS
        ctx.loop_started()
        while time.perf_counter() < t_end:
            batch = rotation[i % len(rotation)]
            i += 1
            with ctx.op("retrieve", items=BATCH) as op:
                outputs.append((op, batch, scorer.retrieve(batch, k=K)))
        ctx.loop_ended()

    oracle = BM25Oracle()
    oracle.index([tokenize(r["text"]) for r in generate_rows_local(N_DOCS, seed=ctx.seed)])
    for op, batch, (doc_ids, probs) in outputs:
        why = check_batch(oracle, batch, doc_ids, probs)
        if why:
            op.fail(f"batch check: {why}")
    with ctx.op("check:retrieve_df", timed=False) as op:
        rows = scorer.retrieve_df(queries_to_df(spark, score_check), k=K).collect()
        why = check_scores(oracle, score_check, rows)
        if why:
            op.fail(f"score check: {why}")

    ctx.mark("outputs checked")
    if ctx.trace:
        from layers import build_layers, query_layers

        build_layers(ctx, scorer.spark_index, setup_phases, spark.read.parquet(str(pages_dir)))
        # the last window's batches ran on the index the spans now trace
        last = outputs[-TRACED_BATCHES:]
        query_layers(ctx, scorer, [b for _, b, _ in last], [op.seconds for op, _, _ in last])
