"""Explain traces, streaming online learning, incremental add_documents."""

from __future__ import annotations

import json
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from bayesian_bm25_spark.kernel import combine as KC
from bayesian_bm25_spark.kernel.bm25 import BM25Oracle, tokenize
from bayesian_bm25_spark.kernel.transform import TransformParams
from bayesian_bm25_spark.operators import explain_traces as ET
from bayesian_bm25_spark.operators import query as Q
from bayesian_bm25_spark.operators.index_build import (
    IndexConfig,
    add_documents,
    build_index,
)
from bayesian_bm25_spark.sources.webcorpus import queries_to_df
from bayesian_bm25_spark.streaming import online as OL
from tests.conftest import SIX_DOCS


class TestExplainTraces:
    def test_bm25_trace_fields_match_kernel(self, spark):
        params = TransformParams(alpha=1.3, beta=0.8, base_rate=0.05)
        df = spark.createDataFrame(
            [(2.5, 3.0, 0.9), (0.7, 1.0, 1.4)], "score double, tf double, ratio double"
        )
        traced = df.select(
            "score", ET.bm25_trace(F.col("score"), F.col("tf"), F.col("ratio"), params).alias("t")
        ).collect()
        for r in traced:
            t = r["t"].asDict()
            score, tf, ratio = t["raw_score"], t["tf"], t["doc_len_ratio"]
            assert t["likelihood"] == pytest.approx(params.likelihood(score), rel=1e-9)
            assert t["posterior"] == pytest.approx(
                params.score_to_probability(score, tf, ratio), rel=1e-9
            )
            assert t["alpha"] == params.alpha and t["base_rate"] == 0.05
            # logit identity: posterior == σ(logit L + logit prior + logit br)
            from bayesian_bm25_spark.kernel.transform import sigmoid

            assert t["posterior"] == pytest.approx(
                sigmoid(t["logit_likelihood"] + t["logit_prior"] + t["logit_base_rate"]),
                rel=1e-6,
            )
        text = ET.format_bm25_trace(traced[0]["t"].asDict())
        assert "posterior" in text

    def test_vector_and_not_traces(self, spark):
        df = spark.createDataFrame([(0.4,), (-0.2,)], "cos double")
        rows = df.select(
            ET.vector_trace(F.col("cos")).alias("v"),
            ET.not_trace(KC and F.lit(0.8), "p").alias("n"),
        ).collect()
        for r in rows:
            v = r["v"].asDict()
            assert v["probability"] == pytest.approx(
                KC.cosine_to_probability(v["cosine_score"]), rel=1e-9
            )
            n = r["n"].asDict()
            assert n["complement"] == pytest.approx(1 - 0.8, rel=1e-6)
            assert n["logit_complement"] == pytest.approx(-n["logit_input"], rel=1e-6)

    def test_fusion_trace_matches_kernel(self, spark):
        df = spark.createDataFrame([([0.85, 0.7, 0.6],)], "probs array<double>")
        r = df.select(
            ET.fusion_trace(F.col("probs"), ["a", "b", "c"], gating="swish").alias("t")
        ).collect()[0]["t"].asDict()
        expect = KC.log_odds_conjunction(np.array([0.85, 0.7, 0.6]), gating="swish")
        assert r["fused_probability"] == pytest.approx(expect, rel=1e-9)
        assert r["method"] == "log_odds" and r["signal_names"] == ["a", "b", "c"]

    def test_retrieve_with_explanations(self, spark, tmp_path):
        pages = spark.createDataFrame(
            [(i, f"u{i}", t, "en") for i, t in enumerate(SIX_DOCS)],
            "doc_id long, url string, text string, lang string",
        )
        idx = build_index(spark, pages, str(tmp_path / "idx"), IndexConfig())
        qdf = queries_to_df(spark, [["cat"]])
        scored = Q.topk(Q.score_queries(idx.postings, qdf), k=6)
        traced = ET.retrieve_with_explanations(scored, idx.params, idx.avgdl)
        rows = traced.collect()
        assert all(r["trace"] is not None for r in rows if r["score"] > 0)
        cmp = ET.compare_documents(traced, 0, rows[0]["doc_id"], rows[1]["doc_id"])
        assert cmp["dominant_signal"] in ("likelihood", "composite_prior", "posterior")


class TestStreamingOnline:
    def test_foreachbatch_matches_sequential_updates(self, spark, tmp_path):
        rng = np.random.default_rng(42)
        scores = rng.uniform(0, 8, 16)
        labels = (scores > 4).astype(float)
        # identical batches: file-source trigger order is not guaranteed,
        # and online updates are order-sensitive — identical content makes
        # the sequential oracle order-invariant
        batches = [(scores, labels)] * 4

        # stream via json files (one file per micro-batch, availableNow)
        in_dir = tmp_path / "in"
        in_dir.mkdir()
        for i, (s, y) in enumerate(batches):
            with open(in_dir / f"b{i}.json", "w") as f:
                for j in range(len(s)):
                    f.write(
                        json.dumps(
                            {
                                "score": float(s[j]),
                                "label": float(y[j]),
                                "tf": 1.0,
                                "doc_len_ratio": 1.0,
                                "ts": "2024-01-01T00:00:00",
                            }
                        )
                        + "\n"
                    )
        stream = (
            spark.readStream.schema(OL.FEEDBACK_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .json(str(in_dir))
        )
        params = TransformParams(alpha=1.0, beta=0.0)
        seen = []
        q = OL.start_online_learning(
            stream, params, str(tmp_path / "ckpt"), on_batch=lambda b, n, p: seen.append(n)
        )
        q.processAllAvailable()
        q.stop()
        assert sum(seen) == 64
        # oracle: sequential mini-batch updates in file order
        expect = TransformParams(alpha=1.0, beta=0.0)
        for s, y in batches:
            expect.update(s, y)
        assert params.alpha == pytest.approx(expect.alpha, rel=1e-9)
        assert params.beta == pytest.approx(expect.beta, rel=1e-9)
        assert params.n_updates == 4

    def test_windowed_stats_batch_semantics(self, spark):
        # the windowed agg is testable on a batch frame (same plan)
        rows = [
            ("2024-01-01 00:01:00", 1.0, 0.5),
            ("2024-01-01 00:05:00", 0.0, 1.5),
            ("2024-01-01 00:15:00", 1.0, 2.5),
        ]
        df = spark.createDataFrame(rows, "ts string, label double, score double").withColumn(
            "ts", F.to_timestamp("ts")
        )
        out = {
            str(r["start"]): (r["n"], r["label_rate"])
            for r in OL.windowed_query_stats(df, window="10 minutes").collect()
        }
        assert out["2024-01-01 00:00:00"] == (2, 0.5)
        assert out["2024-01-01 00:10:00"] == (1, 1.0)


class TestIncremental:
    def test_add_documents_rebuilds_to_oracle(self, spark, tmp_path):
        first = SIX_DOCS[:4]
        extra = SIX_DOCS[4:]
        pages1 = spark.createDataFrame(
            [(i, f"https://example.org/doc/{i}", t, "en") for i, t in enumerate(first)],
            "doc_id long, url string, text string, lang string",
        )
        idx1 = build_index(spark, pages1, str(tmp_path / "v1"), IndexConfig(base_rate="auto"))
        pages2 = spark.createDataFrame(
            [(f"https://example.org/doc/{4 + i}", t, "en") for i, t in enumerate(extra)],
            "url string, text string, lang string",
        )
        idx2 = add_documents(idx1, pages2, str(tmp_path / "v2"))
        assert idx2.n_docs == 6

        oracle = BM25Oracle()
        oracle.index([tokenize(t) for t in SIX_DOCS])
        qdf = queries_to_df(spark, [["cat"], ["dog"]])
        got = Q.retrieve(idx2.postings, qdf, idx2.params, idx2.avgdl, k=6).collect()
        ids, scores = oracle.retrieve([["cat"], ["dog"]], k=6)
        by_q: dict[int, list] = {}
        for r in got:
            by_q.setdefault(int(r["query_id"]), []).append(r)
        for qi in (0, 1):
            rows = sorted(by_q[qi], key=lambda r: r["rank"])
            expect = [(int(d), float(s)) for d, s in zip(ids[qi], scores[qi]) if s > 0]
            assert [int(r["doc_id"]) for r in rows] == [d for d, _ in expect]
            for r, (_, s) in zip(rows, expect):
                assert r["score"] == pytest.approx(s, rel=1e-9)

        # params re-estimated on the combined corpus
        from bayesian_bm25_spark.kernel.bm25 import (
            estimate_alpha_beta,
            estimate_base_rate,
            sample_pseudo_query_scores,
        )

        pq = sample_pseudo_query_scores(oracle, [tokenize(t) for t in SIX_DOCS])
        a, b = estimate_alpha_beta(pq)
        br = estimate_base_rate(pq, 6, "percentile")
        assert idx2.params.alpha == pytest.approx(a, rel=1e-9)
        assert idx2.params.base_rate == pytest.approx(br, rel=1e-9)

    def test_add_documents_identical_to_rebuild(self, spark, tmp_path):
        """An append seeds the merged tf from the old postings checkpoint
        (the old corpus's token arrays are never re-counted) — postings,
        compressed posting-list payload bytes, corpus stats and params
        must equal a fresh build of all six pages with the same ids.
        Stopwords in the config exercise the append-side tokenizer
        parity."""
        cfg = IndexConfig(base_rate="auto", build_compressed=True,
                          stopwords="english")
        rows = [(i, f"https://example.org/doc/{i}", t, "en")
                for i, t in enumerate(SIX_DOCS)]
        schema = "doc_id long, url string, text string, lang string"
        idx1 = build_index(
            spark, spark.createDataFrame(rows[:4], schema), str(tmp_path / "w1"), cfg
        )
        # no doc_id column: the append assigns 4, 5 by url rank
        pages2 = spark.createDataFrame(
            [r[1:] for r in rows[4:]], "url string, text string, lang string"
        )
        appended = add_documents(idx1, pages2, str(tmp_path / "w2"))
        fresh = build_index(
            spark, spark.createDataFrame(rows, schema), str(tmp_path / "full"), cfg
        )

        cols = ["term_bucket", "term", "doc_id", "tf", "doc_len", "df", "impact"]
        a = sorted(map(tuple, fresh.postings.select(cols).collect()))
        b = sorted(map(tuple, appended.postings.select(cols).collect()))
        assert a == b
        pa = {r["term"]: (r["df"], bytes(r["payload"]))
              for r in fresh.posting_lists.collect()}
        pb = {r["term"]: (r["df"], bytes(r["payload"]))
              for r in appended.posting_lists.collect()}
        assert pa == pb
        assert appended.n_docs == fresh.n_docs == 6
        assert appended.avgdl == fresh.avgdl
        assert appended.params.to_dict() == fresh.params.to_dict()


class TestPartialResume:
    def test_rebuild_only_missing_stages(self, spark, tmp_path):
        """Kill-and-rerun semantics: deleting a later stage's checkpoint
        and re-running the build recomputes ONLY that stage (earlier
        checkpoints untouched) and yields an identical index."""
        import os
        import shutil

        from bayesian_bm25_spark.plans.checkpoint import read_manifest

        pages = spark.createDataFrame(
            [(i, f"u{i}", t, "en") for i, t in enumerate(SIX_DOCS)],
            "doc_id long, url string, text string, lang string",
        )
        path = str(tmp_path / "resume")
        idx1 = build_index(spark, pages, path, IndexConfig(base_rate="auto"))
        before = {(r["term"], r["doc_id"]): r["impact"] for r in idx1.postings.collect()}
        n_term_stats = idx1.term_stats.count()
        alpha1 = idx1.params.alpha
        docs_manifest = read_manifest(os.path.join(path, "docs"))

        # simulate a crash after postings: wipe term_stats + block_max
        shutil.rmtree(os.path.join(path, "term_stats"))
        shutil.rmtree(os.path.join(path, "block_max"))
        idx2 = build_index(spark, pages.limit(0), path, idx1.config)

        # docs checkpoint untouched (same manifest timestamp = no recompute)
        assert read_manifest(os.path.join(path, "docs")) == docs_manifest
        after = {(r["term"], r["doc_id"]): r["impact"] for r in idx2.postings.collect()}
        assert after == before
        assert idx2.term_stats.count() == n_term_stats
        assert idx2.params.alpha == pytest.approx(alpha1, rel=1e-9)


class TestStreamingIngest:
    def test_micro_batches_append_into_index(self, spark, tmp_path):
        import json as _json
        import os as _os

        from bayesian_bm25_spark.operators import query as Q
        from bayesian_bm25_spark.streaming.online import start_streaming_ingest

        src = tmp_path / "pages_stream"
        src.mkdir()
        # two files → availableNow processes them (micro-batched)
        batches = [
            [("https://a.test/0", "the cat sat", "en"),
             ("https://a.test/1", "a dog barked", "en")],
            [("https://b.test/2", "cats and more cats", "en")],
        ]
        for i, rows in enumerate(batches):
            with open(src / f"part{i}.json", "w") as f:
                for url, text, lang in rows:
                    f.write(_json.dumps({"url": url, "text": text, "lang": lang}) + "\n")

        stream = (
            spark.readStream.schema("url string, text string, lang string")
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )
        q, state = start_streaming_ingest(
            stream, str(tmp_path / "stream_idx"),
            checkpoint_dir=str(tmp_path / "ckpt"),
        )
        q.awaitTermination(120)
        idx = state["index"]
        assert idx is not None and idx.n_docs == 3 and state["rows"] == 3
        got = Q.retrieve(
            idx.postings,
            spark.createDataFrame([(0, ["cats"])], "query_id long, terms array<string>"),
            idx.params, idx.avgdl, k=3,
        ).collect()
        assert len(got) >= 1  # "cats and more cats" matches

    def test_restart_recovers_committed_index(self, spark, tmp_path):
        """A restarted query must APPEND to the on-disk index, not
        rebuild from scratch — the streaming checkpoint won't replay
        batches it already committed."""
        import json as _json

        from bayesian_bm25_spark.streaming.online import start_streaming_ingest

        src = tmp_path / "pages_stream2"
        src.mkdir()
        with open(src / "part0.json", "w") as f:
            f.write(_json.dumps({"url": "https://a.test/0", "text": "first run doc", "lang": "en"}) + "\n")

        schema = "url string, text string, lang string"
        stream = spark.readStream.schema(schema).json(str(src))
        q, state = start_streaming_ingest(
            stream, str(tmp_path / "restart_idx"),
            checkpoint_dir=str(tmp_path / "ckpt2"),
        )
        q.awaitTermination(120)
        assert state["index"].n_docs == 1

        # "restart": fresh state dict, same checkpoint dir, one new file
        with open(src / "part1.json", "w") as f:
            f.write(_json.dumps({"url": "https://a.test/1", "text": "second run doc", "lang": "en"}) + "\n")
        stream2 = spark.readStream.schema(schema).json(str(src))
        q2, state2 = start_streaming_ingest(
            stream2, str(tmp_path / "restart_idx"),
            checkpoint_dir=str(tmp_path / "ckpt2"),
        )
        q2.awaitTermination(120)
        # recovered v0 (1 doc) + appended the replayed new batch → 2 docs
        assert state2["index"] is not None
        assert state2["index"].n_docs == 2
        urls = {r["url"] for r in state2["index"].doc_stats.collect()}
        assert urls == {"https://a.test/0", "https://a.test/1"}


class TestStatefulSessionization:
    def test_sessions_match_batch_semantics(self, spark, tmp_path):
        import json as _json

        from bayesian_bm25_spark.streaming.online import sessionize_stream

        src = tmp_path / "events_stream"
        src.mkdir()
        # user 1: two sessions (gap 3600s > 1800s); user 2: one session.
        rows = [
            (1, "2024-01-01T00:00:00", ), (1, "2024-01-01T00:10:00"),
            (1, "2024-01-01T02:00:00"), (1, "2024-01-01T02:05:00"),
            (2, "2024-01-01T00:00:00"),
        ]
        with open(src / "part0.json", "w") as f:
            for uid, ts in rows:
                f.write(_json.dumps({"user_id": uid, "ts": ts}) + "\n")

        stream = (
            spark.readStream.schema("user_id long, ts timestamp").json(str(src))
        )
        out_dir = tmp_path / "sessions_out"
        q = (
            sessionize_stream(stream, gap_sec=1800)
            .writeStream.format("parquet")
            .option("path", str(out_dir))
            .option("checkpointLocation", str(tmp_path / "ckpt2"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            (r["user_id"], r["n_events"])
            for r in spark.read.parquet(str(out_dir)).collect()
        }
        # user 1's FIRST session closes when the 02:00 event breaks the
        # gap inside the batch; open sessions stay in state (would emit
        # on the event-time timeout in a live stream)
        assert (1, 2) in got
