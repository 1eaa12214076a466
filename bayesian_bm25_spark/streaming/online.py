"""Structured Streaming: online parameter learning + streaming analytics.

The reference's online path is ``update()`` called per feedback
observation (probability.py:350-473; examples/online_learning.py,
examples/live_ranking.py).  The Spark-native mapping is a feedback
stream consumed with ``foreachBatch``: each micro-batch's (score, label)
rows update the driver-held TransformParams (two floats of state — NOT
distributed state), after which re-broadcast parameters serve the query
path.  Temporal decay (TemporalBayesianTransform) rides the same loop.

``windowed_query_stats`` shows the watermark + windowed-aggregation
shape used for streaming corpus statistics (late events tolerated up to
the watermark).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bayesian_bm25_spark.kernel.transform import TransformParams

FEEDBACK_SCHEMA = "score double, label double, tf double, doc_len_ratio double, ts timestamp"


def apply_feedback_batch(params: TransformParams, batch: DataFrame, **update_kw) -> int:
    """One foreachBatch step: mini-batch SGD update of (α, β).

    The whole micro-batch is ONE reference-semantics ``update()`` call
    (mini-batch gradients are means over the batch, exactly the
    reference's array path).  Returns the number of rows consumed.
    """
    rows = batch.select("score", "label", "tf", "doc_len_ratio").toPandas()
    if len(rows) == 0:
        return 0
    kw = dict(update_kw)
    if params.mode == "prior_aware":
        kw.setdefault("tf", rows["tf"].to_numpy())
        kw.setdefault("doc_len_ratio", rows["doc_len_ratio"].to_numpy())
    params.update(rows["score"].to_numpy(), rows["label"].to_numpy(), **kw)
    return len(rows)


def start_online_learning(
    feedback_stream: DataFrame,
    params: TransformParams,
    checkpoint_dir: str,
    on_batch=None,
    **update_kw,
):
    """Wire a feedback stream into the online updater.

    Returns the StreamingQuery; call ``processAllAvailable()`` to drain
    in tests.  ``on_batch(batch_id, n_rows, params)`` observes progress.
    """

    def handle(batch: DataFrame, batch_id: int) -> None:
        n = apply_feedback_batch(params, batch, **update_kw)
        if on_batch is not None:
            on_batch(batch_id, n, params)

    return (
        feedback_stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def windowed_query_stats(
    events: DataFrame,
    window: str = "10 minutes",
    slide: str | None = None,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Streaming windowed aggregation with late-data watermark:
    per-window feedback volume, label rate, and mean score."""
    win = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (
        events.withWatermark("ts", watermark)
        .groupBy(win.alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg("label").alias("label_rate"),
            F.avg("score").alias("mean_score"),
        )
        .select("win.start", "win.end", "n", "label_rate", "mean_score")
    )


def start_streaming_ingest(
    pages_stream: DataFrame,
    index_base: str,
    config=None,
    checkpoint_dir: str | None = None,
    on_batch=None,
):
    """Streaming corpus ingest: each micro-batch of pages is appended to
    the index with full-statistics rebuild semantics (the reference's
    ``add_documents`` contract — IDF/avgdl re-estimated every append).

    The index lives as versioned checkpoint directories
    ``{index_base}_v{n}``; batch n's rebuild reuses every earlier batch's
    tokenization and tf from the docs and postings checkpoints (only the
    batch's own docs are tokenized and counted).  Returns
    (StreamingQuery, state) where ``state['index']`` always points at
    the latest committed BM25Index — queries between batches read a
    consistent snapshot.

    This is bounded-state streaming: the driver holds only the index
    HANDLE (paths + params, O(KB)); all data state is parquet.
    """
    from bayesian_bm25_spark.operators.index_build import (
        IndexConfig,
        add_documents,
        build_index,
    )

    cfg = config or IndexConfig()
    state: dict = {"index": None, "version": 0, "rows": 0}

    def recover_latest(spark) -> None:
        """Resume from the newest COMMITTED ``{base}_v{n}`` on disk.

        After a restart the streaming checkpoint replays only unseen
        micro-batches; rebuilding from scratch here would silently drop
        every batch the checkpoint already considers committed.  A
        version is committed iff its ``params.json`` exists — the build
        writes it strictly after all stage checkpoints.
        """
        import glob
        import re

        from bayesian_bm25_spark.operators.index_build import load_index

        best = None
        for d in glob.glob(f"{glob.escape(index_base)}_v*"):
            m = re.fullmatch(re.escape(index_base) + r"_v(\d+)", d)
            if m and os.path.exists(os.path.join(d, "params.json")):
                n = int(m.group(1))
                if best is None or n > best:
                    best = n
        if best is not None:
            state["index"] = load_index(spark, f"{index_base}_v{best}")
            state["version"] = best + 1
            state["rows"] = state["index"].n_docs

    def handle(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        spark = batch.sparkSession
        if state["index"] is None and state["version"] == 0:
            recover_latest(spark)
        version = state["version"]
        path = f"{index_base}_v{version}"
        # ids are always assigned by the engine (continuing ranges per
        # batch) — source-supplied ids would collide across batches
        if "doc_id" in batch.columns:
            batch = batch.drop("doc_id")
        if state["index"] is None:
            state["index"] = build_index(spark, batch, path, cfg, force=True)
        else:
            state["index"] = add_documents(state["index"], batch, path)
        state["version"] = version + 1
        # n_docs is on the handle (corpus_stats.json): no count job
        state["rows"] = state["index"].n_docs
        if on_batch is not None:
            on_batch(batch_id, state["index"])

    writer = pages_stream.writeStream.foreachBatch(handle).trigger(availableNow=True)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start(), state


def sessionize_stream(
    events: DataFrame,
    gap_sec: int = 1800,
    watermark: str = "1 hour",
):
    """Custom stateful streaming operator: per-user session windows via
    ``applyInPandasWithState`` (the engine's example of arbitrary
    per-key state Spark's built-in windows can't express).

    A session = consecutive events of one user with gaps ≤ ``gap_sec``
    (exactly the batch ``events_sessions`` semantics).  State per user is
    three longs (open-session start/last/count); a session is emitted
    when a later event breaks the gap, or when the event-time timeout
    fires past ``last + gap`` under the watermark.  State is O(active
    users), never O(events) — the bounded-state requirement for an
    unbounded stream.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        "user_id long, session_start timestamp, session_end timestamp, n_events long"
    )
    state_schema = "start long, last long, n long"

    def fn(key, pdfs, state: GroupState):
        (user_id,) = key

        def emit(rows):
            return pd.DataFrame(
                [
                    {
                        "user_id": int(user_id),
                        "session_start": pd.Timestamp(s, unit="s"),
                        "session_end": pd.Timestamp(e, unit="s"),
                        "n_events": int(c),
                    }
                    for s, e, c in rows
                ]
            )

        if state.hasTimedOut:
            start, last, n = state.get
            state.remove()
            yield emit([(start, last, n)])
            return

        ts_all = sorted(
            int(t.timestamp()) for pdf in pdfs for t in pdf["ts"].dropna()
        )
        start = last = None
        n = 0
        if state.exists:
            start, last, n = state.get
        closed = []
        for t in ts_all:
            if start is None:
                start, last, n = t, t, 1
            elif t - last > gap_sec:
                closed.append((start, last, n))
                start, last, n = t, t, 1
            else:
                last, n = t, n + 1
        if start is not None:
            state.update((start, last, n))
            state.setTimeoutTimestamp((last + gap_sec) * 1000)
        if closed:
            yield emit(closed)

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn, out_schema, state_schema, "append", GroupStateTimeout.EventTimeTimeout
        )
    )
