"""End-to-end: Spark index build + query path vs the numpy oracle.

Rank-identity contract (north rule): top-k doc_ids identical, BM25
scores within rtol 1e-9, calibrated probabilities within rtol 1e-9.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from bayesian_bm25_spark.kernel.bm25 import (
    BM25Oracle,
    estimate_alpha_beta,
    estimate_base_rate,
    sample_pseudo_query_scores,
    tokenize,
)
from bayesian_bm25_spark.kernel.transform import TransformParams
from bayesian_bm25_spark.operators import query as Q
from bayesian_bm25_spark.operators.index_build import IndexConfig, build_index, load_index
from bayesian_bm25_spark.sources.webcorpus import (
    generate_pages,
    generate_queries,
    generate_rows_local,
    queries_to_df,
)
from tests.conftest import SIX_DOC_QUERIES, SIX_DOCS


def pages_df_from_texts(spark, texts):
    rows = [
        (i, f"https://example.org/doc/{i}", t, "en")
        for i, t in enumerate(texts)
    ]
    return spark.createDataFrame(rows, "doc_id long, url string, text string, lang string")


@pytest.fixture(scope="module")
def six_index(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("idx_six"))
    pages = pages_df_from_texts(spark, SIX_DOCS)
    return build_index(spark, pages, path, IndexConfig(base_rate="auto"))


@pytest.fixture(scope="module")
def six_oracle():
    o = BM25Oracle()
    corpus = [tokenize(d) for d in SIX_DOCS]
    o.index(corpus)
    pq = sample_pseudo_query_scores(o, corpus)
    a, b = estimate_alpha_beta(pq)
    br = estimate_base_rate(pq, o.n_docs, "percentile")
    return o, TransformParams(alpha=a, beta=b, base_rate=br)


ZIPF3K_CFG = dict(alpha=1.0, beta=1.0, base_rate=0.05)


@pytest.fixture(scope="module")
def zipf3k_pages(spark):
    return generate_pages(spark, 3000, seed=11, num_partitions=8)


@pytest.fixture(scope="module")
def zipf3k_index(spark, tmp_path_factory, zipf3k_pages):
    path = str(tmp_path_factory.mktemp("idx_zipf3k"))
    return build_index(spark, zipf3k_pages, path, IndexConfig(**ZIPF3K_CFG))


class TestBuild:
    def test_build_scoped_conf_restored(self, spark, tmp_path):
        """build_index's session tuning (split cap, zstd codec, v2
        committer, reader batch) must not leak: keys unset before the
        build stay unset after (conf.unset, not a skipped restore)."""
        keys = [
            "spark.sql.files.maxPartitionBytes",
            "spark.sql.parquet.compression.codec",
            "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version",
            "spark.sql.parquet.columnarReaderBatchSize",
        ]
        before = {k: spark.conf.get(k, None) for k in keys}
        pages = pages_df_from_texts(spark, SIX_DOCS)
        build_index(spark, pages, str(tmp_path / "conf_idx"), IndexConfig())
        after = {k: spark.conf.get(k, None) for k in keys}
        assert after == before

    def test_compressed_lists_equal_codec_reference_zipf(self, zipf3k_index):
        """Every posting_lists row is byte-identical to encode_posting_list
        over that term's postings rows sorted by doc_id on the driver —
        on a Zipf corpus whose head terms span several Arrow batches, so
        the merge stitches many map-side partials per term."""
        from bayesian_bm25_spark.kernel.postings_codec import encode_posting_list

        idx = zipf3k_index
        flat = idx.postings.select("term", "doc_id", "tf", "impact").toPandas()
        expect = {
            term: (
                len(g),
                encode_posting_list(
                    g["doc_id"].to_numpy(), g["tf"].to_numpy(), g["impact"].to_numpy()
                ),
            )
            for term, g in flat.sort_values(["term", "doc_id"]).groupby("term")
        }
        got = {
            r["term"]: (r["df"], bytes(r["payload"]))
            for r in idx.posting_lists.select("term", "df", "payload").collect()
        }
        assert got == expect
        # many 10k-row Arrow batches, and the head term is in most docs:
        # its list is stitched from many partials
        assert len(flat) > 10 * 10_000
        assert max(df for df, _ in got.values()) > idx.n_docs // 2

    def test_fused_term_artifacts_equal_standalone_zipf(
        self, spark, tmp_path, zipf3k_pages, zipf3k_index
    ):
        """term_stats / block_max derived from the posting-list merge
        (build_compressed=True) must be value- AND schema-identical to
        the standalone postings scans of build_compressed=False."""
        a = zipf3k_index
        b = build_index(
            spark, zipf3k_pages, str(tmp_path / "standalone"),
            IndexConfig(build_compressed=False, **ZIPF3K_CFG),
        )
        assert b.posting_lists is None
        assert a.term_stats.schema == b.term_stats.schema
        assert sorted(map(tuple, a.term_stats.collect())) == sorted(
            map(tuple, b.term_stats.collect())
        )
        assert a.block_max.schema == b.block_max.schema
        assert sorted(map(tuple, a.block_max.collect())) == sorted(
            map(tuple, b.block_max.collect())
        )

    def test_distributed_params_equal_collected_zipf(
        self, spark, zipf3k_index, monkeypatch
    ):
        """Above _PARAMS_COLLECT_MAX docs, α/β/base-rate come from the
        distributed median/std/percentile jobs; they must equal the
        one-collect driver math."""
        from bayesian_bm25_spark.operators import index_build as IB

        idx = zipf3k_index
        docs = spark.read.parquet(f"{idx.path}/docs")
        cfg = IndexConfig(base_rate="auto")
        collected = IB._estimate_params(spark, docs, idx.postings, cfg, idx.n_docs)
        monkeypatch.setattr(IB, "_PARAMS_COLLECT_MAX", 0)
        distributed = IB._estimate_params(spark, docs, idx.postings, cfg, idx.n_docs)
        assert distributed.alpha == pytest.approx(collected.alpha, rel=1e-9)
        assert distributed.beta == pytest.approx(collected.beta, rel=1e-9)
        assert distributed.base_rate == pytest.approx(collected.base_rate, rel=1e-9)

    def test_resume_without_fused_columns_raises(self, spark, tmp_path):
        """A posting_lists checkpoint without the term_stats columns
        (written before the merge produced them) must fail the resume
        loudly, naming the path and the remedy."""
        import re
        import shutil

        from bayesian_bm25_spark.plans import checkpoint as ckpt

        path = str(tmp_path / "old_pl")
        pages = pages_df_from_texts(spark, SIX_DOCS)
        cfg = IndexConfig(alpha=1.0, beta=1.0)
        idx = build_index(spark, pages, path, cfg)
        list_dir = f"{path}/posting_lists"
        cut_dir = str(tmp_path / "cut")
        ckpt.write_stage(
            idx.posting_lists.select("term", "df", "payload"), cut_dir,
            stage="posting_lists",
        )
        shutil.rmtree(list_dir)
        shutil.move(cut_dir, list_dir)
        with pytest.raises(ValueError, match=re.escape(list_dir) + ".*force=True"):
            build_index(spark, pages, path, cfg)
        rebuilt = build_index(spark, pages, path, cfg, force=True)
        assert "max_impact" in rebuilt.posting_lists.columns

    def test_corpus_stats(self, six_index):
        corpus = [tokenize(d) for d in SIX_DOCS]
        assert six_index.n_docs == 6
        assert six_index.avgdl == pytest.approx(np.mean([len(c) for c in corpus]))

    def test_postings_match_oracle_impacts(self, six_index, six_oracle):
        oracle, _ = six_oracle
        rows = six_index.postings.collect()
        assert len(rows) == sum(len(m) for m in oracle._impacts.values())
        for r in rows:
            assert r["impact"] == pytest.approx(
                oracle._impacts[r["term"]][r["doc_id"]], rel=1e-12
            ), (r["term"], r["doc_id"])
            assert r["df"] == oracle.df[r["term"]]

    def test_term_stats(self, six_index, six_oracle):
        oracle, _ = six_oracle
        ubs = oracle.term_upper_bounds()
        for r in six_index.term_stats.collect():
            assert r["max_impact"] == pytest.approx(ubs[r["term"]], rel=1e-12)

    def test_params_match_oracle_estimation(self, six_index, six_oracle):
        _, params = six_oracle
        assert six_index.params.alpha == pytest.approx(params.alpha, rel=1e-9)
        assert six_index.params.beta == pytest.approx(params.beta, rel=1e-9)
        assert six_index.params.base_rate == pytest.approx(params.base_rate, rel=1e-9)

    def test_compressed_lists_roundtrip(self, six_index, six_oracle):
        from bayesian_bm25_spark.kernel.postings_codec import decode_posting_list

        oracle, _ = six_oracle
        for r in six_index.posting_lists.collect():
            d, t, i = decode_posting_list(bytes(r["payload"]))
            expect = oracle._impacts[r["term"]]
            assert r["df"] == len(expect) == len(d)
            assert list(d) == sorted(expect.keys())
            np.testing.assert_allclose(i, [expect[x] for x in d], rtol=1e-12)

    def test_block_max_dominates(self, six_index):
        joined = (
            six_index.postings.alias("p")
            .join(six_index.block_max.alias("b"), "term")
            .where(F.col("p.impact") > F.col("b.block_max_impact") + 1e-12)
        )
        # every posting's impact ≤ its term's max block impact for some block;
        # stronger per-block check runs in the zipf test below
        maxes = six_index.block_max.groupBy("term").agg(F.max("block_max_impact").alias("m"))
        viol = (
            six_index.postings.join(maxes, "term")
            .where(F.col("impact") > F.col("m") + 1e-12)
            .count()
        )
        assert viol == 0

    def test_resume_from_checkpoint(self, spark, six_index):
        # a fresh build over the same path must reuse checkpoints (no pages needed)
        idx2 = load_index(spark, six_index.path)
        assert idx2.n_docs == 6
        assert idx2.params.alpha == six_index.params.alpha
        assert idx2.postings.count() == six_index.postings.count()


    def test_config_from_dict_drops_removed_fields(self):
        """load_index reads the config through from_dict, so params.json
        of an index built when IndexConfig had more fields still opens."""
        old = {
            **IndexConfig(k1=2.0).to_dict(),
            "n_salts": 8, "mapside_partials": True, "checkpoint_segments": False,
            "fused_term_artifacts": True, "local_tf": True, "broadcast_vocab_max": 0,
        }
        assert IndexConfig.from_dict(old) == IndexConfig(k1=2.0)

    @pytest.mark.parametrize("distributed", [False, True])
    def test_user_base_rate_survives_empty_sample(
        self, spark, tmp_path, monkeypatch, distributed
    ):
        """Every robertson impact of 4 identical docs is ≤ 0, so no
        pseudo-query score passes the score > 0 filter; the user-set
        base rate must still reach params on both the collect and the
        distributed path."""
        from bayesian_bm25_spark.operators import index_build as IB

        if distributed:
            monkeypatch.setattr(IB, "_PARAMS_COLLECT_MAX", 0)
        pages = pages_df_from_texts(spark, ["same words here"] * 4)
        idx = build_index(
            spark, pages, str(tmp_path / "rob"),
            IndexConfig(method="robertson", base_rate=0.05),
        )
        assert idx.params.base_rate == 0.05
        assert (idx.params.alpha, idx.params.beta) == (1.0, 0.0)


class TestQuerySixDocs:
    def test_rank_identical_topk(self, six_index, six_oracle):
        oracle, params = six_oracle
        queries = [q for q in SIX_DOC_QUERIES if q]
        qdf = queries_to_df(six_index.spark, queries)
        got = Q.retrieve(
            six_index.postings, qdf, six_index.params, six_index.avgdl, k=6
        ).collect()
        ids, scores = oracle.retrieve(queries, k=6)
        by_query: dict[int, list] = {}
        for r in got:
            by_query.setdefault(int(r["query_id"]), []).append(r)
        for qi, q in enumerate(queries):
            rows = sorted(by_query.get(qi, []), key=lambda r: r["rank"])
            expect = [(int(d), float(s)) for d, s in zip(ids[qi], scores[qi]) if s > 0]
            assert [int(r["doc_id"]) for r in rows] == [d for d, _ in expect], q
            for r, (_, s) in zip(rows, expect):
                assert r["score"] == pytest.approx(s, rel=1e-9)

    def test_probabilities_match_oracle(self, six_index, six_oracle):
        oracle, params = six_oracle
        queries = [["cat"], ["dog"], ["machine", "learning"]]
        qdf = queries_to_df(six_index.spark, queries)
        got = Q.get_probabilities(
            six_index.postings, qdf, six_index.params, six_index.avgdl
        ).collect()
        for r in got:
            qi, did = int(r["query_id"]), int(r["doc_id"])
            s = oracle.get_scores(queries[qi])
            tf = len(set(queries[qi]) & set(tokenize(SIX_DOCS[did])))
            expect = six_index.params.score_to_probability(
                s[did], tf, oracle.doc_lengths[did] / oracle.avgdl
            )
            assert r["probability"] == pytest.approx(expect, rel=1e-9), (qi, did)

    def test_empty_and_oov_queries_return_nothing(self, six_index):
        qdf = queries_to_df(six_index.spark, [[], ["xyznonexistent"]])
        got = Q.retrieve(six_index.postings, qdf, six_index.params, six_index.avgdl)
        assert got.count() == 0

    def test_dense_probabilities_zero_fill(self, six_index):
        qdf = queries_to_df(six_index.spark, [["cat"]])
        dense = Q.get_probabilities(
            six_index.postings,
            qdf,
            six_index.params,
            six_index.avgdl,
            all_docs=six_index.doc_stats,
        ).collect()
        assert len(dense) == 6
        probs = {int(r["doc_id"]): float(r["probability"]) for r in dense}
        assert probs[3] == 0.0  # "hello world" has no "cat"
        assert probs[0] > 0.0

    def test_duplicate_query_terms_double_score(self, six_index, six_oracle):
        oracle, _ = six_oracle
        qdf = queries_to_df(six_index.spark, [["cat", "cat"]])
        got = Q.score_queries(six_index.postings, qdf).collect()
        for r in got:
            assert r["score"] == pytest.approx(
                2 * oracle._impacts["cat"][int(r["doc_id"])], rel=1e-12
            )

    def test_threshold_retrieve_safe(self, six_index, six_oracle):
        oracle, _ = six_oracle
        qdf = queries_to_df(six_index.spark, [["cat"], ["xyznonexistent"]])
        thr = 0.2
        got = Q.retrieve_threshold(
            six_index.postings,
            qdf,
            six_index.term_stats,
            six_index.params,
            six_index.avgdl,
            threshold=thr,
        ).collect()
        # exhaustive answer for comparison
        full = Q.with_probability(
            Q.score_queries(six_index.postings, qdf), six_index.params, six_index.avgdl
        ).collect()
        expect = {(r["query_id"], r["doc_id"]) for r in full if r["probability"] >= thr}
        assert {(r["query_id"], r["doc_id"]) for r in got} == expect


class TestZipfCorpus:
    """Seeded Zipf corpus at 1k docs: distributed build vs local oracle."""

    N_DOCS = 1000

    @pytest.fixture(scope="class")
    def zipf(self, spark, tmp_path_factory):
        path = str(tmp_path_factory.mktemp("idx_zipf"))
        pages = generate_pages(spark, self.N_DOCS, seed=42, num_partitions=8)
        idx = build_index(
            spark, pages, path, IndexConfig(base_rate="auto", base_rate_method="mixture")
        )
        rows = generate_rows_local(self.N_DOCS, seed=42)
        oracle = BM25Oracle()
        oracle.index([tokenize(r["text"]) for r in rows])
        return idx, oracle, rows

    def test_generator_deterministic_vs_local(self, zipf):
        idx, oracle, rows = zipf
        # byte-identical text per url between distributed and local generation
        got = {r["url"]: r["text"] for r in idx.spark.read.parquet(
            f"{idx.path}/docs"
        ).select("url", F.concat_ws(" ", "tokens").alias("text")).collect()}
        for r in rows[:50]:
            assert got[r["url"]] == r["text"]

    def test_corpus_stats(self, zipf):
        idx, oracle, _ = zipf
        assert idx.n_docs == oracle.n_docs
        assert idx.avgdl == pytest.approx(oracle.avgdl, rel=1e-12)

    def test_rank_identical_retrieval(self, zipf):
        idx, oracle, _ = zipf
        queries = generate_queries(self.N_DOCS, seed=42, n_queries=25)
        qdf = queries_to_df(idx.spark, queries)
        got = Q.retrieve(idx.postings, qdf, idx.params, idx.avgdl, k=10)
        by_query: dict[int, list] = {}
        for r in got.collect():
            by_query.setdefault(int(r["query_id"]), []).append(r)
        ids, scores = oracle.retrieve(queries, k=10)
        for qi in range(len(queries)):
            rows = sorted(by_query.get(qi, []), key=lambda r: r["rank"])
            expect = [(int(d), float(s)) for d, s in zip(ids[qi], scores[qi]) if s > 0]
            assert [int(r["doc_id"]) for r in rows] == [d for d, _ in expect], queries[qi]
            for r, (_, s) in zip(rows, expect):
                assert r["score"] == pytest.approx(s, rel=1e-9)

    def test_params_match_oracle(self, zipf):
        idx, oracle, rows = zipf
        corpus = [tokenize(r["text"]) for r in rows]
        pq = sample_pseudo_query_scores(oracle, corpus)
        a, b = estimate_alpha_beta(pq)
        br = estimate_base_rate(pq, oracle.n_docs, "mixture")
        assert idx.params.alpha == pytest.approx(a, rel=1e-9)
        assert idx.params.beta == pytest.approx(b, rel=1e-9)
        assert idx.params.base_rate == pytest.approx(br, rel=1e-6)

    def test_block_max_per_block_dominance(self, zipf):
        idx, _, _ = zipf
        # blocks are doc-index ranges: block_id = doc_id // block_size
        with_block = idx.postings.withColumn(
            "block_id", (F.col("doc_id") / idx.config.block_size).cast("long")
        )
        viol = (
            with_block.join(idx.block_max, ["term", "block_id"])
            .where(F.col("impact") > F.col("block_max_impact") + 1e-12)
            .count()
        )
        assert viol == 0
        # and every posting is covered by exactly its block's row
        uncovered = (
            with_block.join(idx.block_max, ["term", "block_id"], "left_anti").count()
        )
        assert uncovered == 0

    def test_wand_bound_safety(self, zipf):
        idx, oracle, _ = zipf
        bounds = Q.term_wand_bounds(idx.term_stats, idx.params)
        queries = generate_queries(self.N_DOCS, seed=7, n_queries=5)
        single = [[q[0]] for q in queries]
        qdf = queries_to_df(idx.spark, single)
        probs = Q.with_probability(
            Q.score_queries(idx.postings, qdf), idx.params, idx.avgdl
        ).collect()
        ub = {r["term"]: r["wand_ub"] for r in bounds.collect()}
        for r in probs:
            term = single[int(r["query_id"])][0]
            assert r["probability"] <= ub[term] + 1e-12


class TestMaxScore:
    """MaxScore pruned retrieval must be rank- and score-identical to the
    exhaustive plan."""

    def test_six_docs_identical(self, six_index):
        queries = [["cat"], ["dog"], ["machine", "learning"], ["cat", "cat"]]
        qdf = queries_to_df(six_index.spark, queries)
        exhaustive = Q.retrieve(
            six_index.postings, qdf, six_index.params, six_index.avgdl, k=4
        ).collect()
        pruned = Q.retrieve_maxscore(
            six_index.postings, qdf, six_index.term_stats,
            six_index.params, six_index.avgdl, k=4,
        ).collect()
        key = lambda r: (r["query_id"], r["rank"])
        e = {key(r): (r["doc_id"], r["score"], r["probability"]) for r in exhaustive}
        p = {key(r): (r["doc_id"], r["score"], r["probability"]) for r in pruned}
        assert e == p

    def test_retrieve_auto_routes_and_is_identical(self, six_index, monkeypatch):
        """retrieve_auto = cost-based routing; results identical on both
        routes (the routes themselves are rank-identical, so routing
        never changes answers)."""
        queries = [["cat"], ["machine", "learning"]]
        qdf = queries_to_df(six_index.spark, queries)
        base = Q.retrieve(
            six_index.postings, qdf, six_index.params, six_index.avgdl, k=3
        ).collect()
        key = lambda r: (r["query_id"], r["rank"])
        want = {key(r): (r["doc_id"], r["score"]) for r in base}
        for threshold in (10**9, 0):  # exhaustive route, maxscore route
            monkeypatch.setattr(Q, "_MAXSCORE_MIN_DOCS", threshold)
            got = Q.retrieve_auto(
                six_index.postings, qdf, six_index.term_stats,
                six_index.params, six_index.avgdl, n_docs=six_index.n_docs,
                k=3,
            ).collect()
            assert {key(r): (r["doc_id"], r["score"]) for r in got} == want

    @pytest.fixture(scope="class")
    def zipf_idx(self, spark, tmp_path_factory):
        path = str(tmp_path_factory.mktemp("idx_zipf_ms"))
        pages = generate_pages(spark, 1000, seed=42, num_partitions=8)
        return build_index(
            spark, pages, path, IndexConfig(base_rate="auto", build_compressed=False)
        )

    def test_zipf_identical_and_prunes(self, zipf_idx):
        idx = zipf_idx
        queries = generate_queries(1000, seed=123, n_queries=30)
        qdf = queries_to_df(idx.spark, queries)
        exhaustive = Q.retrieve(idx.postings, qdf, idx.params, idx.avgdl, k=10).collect()
        pruned = Q.retrieve_maxscore(
            idx.postings, qdf, idx.term_stats, idx.params, idx.avgdl,
            k=10,
        ).collect()
        key = lambda r: (r["query_id"], r["rank"])
        e = {key(r): (r["doc_id"], round(r["score"], 9)) for r in exhaustive}
        p = {key(r): (r["doc_id"], round(r["score"], 9)) for r in pruned}
        assert e == p


class TestAssignDocIds:
    """Rank-identity of the distributed (no-global-window) id assignment."""

    def test_identical_to_global_window_rank(self, spark):
        from pyspark.sql import Window

        from bayesian_bm25_spark.operators.index_build import assign_doc_ids

        pages = generate_pages(spark, 500, seed=3, num_partitions=8).drop("doc_id")
        got = {
            r["url"]: r["doc_id"]
            for r in assign_doc_ids(pages).select("url", "doc_id").collect()
        }
        want = {
            r["url"]: r["doc_id"]
            for r in pages.withColumn(
                "doc_id", F.row_number().over(Window.orderBy("url")).cast("long") - 1
            ).select("url", "doc_id").collect()
        }
        assert got == want

    def test_start_id_offsets_the_range(self, spark):
        from bayesian_bm25_spark.operators.index_build import assign_doc_ids

        pages = generate_pages(spark, 50, seed=5, num_partitions=4)
        ids = sorted(
            r["doc_id"] for r in assign_doc_ids(pages, start_id=1000).collect()
        )
        assert ids == list(range(1000, 1050))

    def test_no_unpartitioned_window_in_build_plan(self, spark):
        from bayesian_bm25_spark.operators.index_build import tokenize_pages

        pages = generate_pages(spark, 100, seed=1, num_partitions=4).drop("doc_id")
        plan = tokenize_pages(pages)._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in plan


class TestRobertsonPrunedPaths:
    """Robertson idf is negative for df > ~N/2, which invalidates the
    MaxScore/threshold bound math — the pruned paths must detect it (via
    term_stats.min_impact) and stay exact by routing to the exhaustive
    plan (ADVICE r01)."""

    @pytest.fixture(scope="class")
    def rob_index(self, spark, tmp_path_factory):
        # "common" appears in 8/10 docs → df > N/2 → negative robertson idf
        texts = [
            f"common filler{i % 3} rare{i} tail{i * 7 % 5}" if i < 8 else f"rare{i} only special{i}"
            for i in range(10)
        ]
        pages = spark.createDataFrame(
            [(i, f"https://x.test/{i}", t, "en") for i, t in enumerate(texts)],
            "doc_id long, url string, text string, lang string",
        )
        path = str(tmp_path_factory.mktemp("idx_rob"))
        return build_index(
            spark, pages, path,
            IndexConfig(method="robertson", base_rate=0.05, alpha=1.0, beta=1.0,
                        build_compressed=False),
        )

    def test_min_impact_is_negative(self, rob_index):
        mn = rob_index.term_stats.agg(F.min("min_impact")).collect()[0][0]
        assert mn < 0.0

    def test_maxscore_exact_despite_negative_impacts(self, rob_index):
        idx = rob_index
        queries = [["common", "rare3"], ["common"], ["rare9", "common", "filler1"]]
        qdf = queries_to_df(idx.spark, queries)
        exhaustive = Q.retrieve(idx.postings, qdf, idx.params, idx.avgdl, k=5).collect()
        pruned = Q.retrieve_maxscore(
            idx.postings, qdf, idx.term_stats, idx.params, idx.avgdl, k=5
        ).collect()
        key = lambda r: (r["query_id"], r["rank"])
        e = {key(r): (r["doc_id"], round(r["score"], 9)) for r in exhaustive}
        p = {key(r): (r["doc_id"], round(r["score"], 9)) for r in pruned}
        assert e == p

    def test_threshold_complete_despite_negative_impacts(self, rob_index):
        idx = rob_index
        qdf = queries_to_df(idx.spark, [["common", "rare3"], ["common"]])
        thr = 0.05
        got = Q.retrieve_threshold(
            idx.postings, qdf, idx.term_stats, idx.params, idx.avgdl, threshold=thr
        ).collect()
        full = Q.with_probability(
            Q.score_queries(idx.postings, qdf), idx.params, idx.avgdl
        ).collect()
        expect = {(r["query_id"], r["doc_id"]) for r in full if r["probability"] >= thr}
        assert {(r["query_id"], r["doc_id"]) for r in got} == expect
