"""End-to-end: Spark index build + query path vs the numpy oracle.

Rank-identity contract (north rule): top-k doc_ids identical, BM25
scores within rtol 1e-9, calibrated probabilities within rtol 1e-9.
"""

from __future__ import annotations

import copy
import os

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
from bayesian_bm25_spark.operators.index_build import (
    BLOCK_SIZE,
    IndexConfig,
    build_index,
    load_index,
)
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
        the encode concatenates each head term's run across batches."""
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
        # its sorted run reaches the encode split across batches
        assert len(flat) > 10 * 10_000
        assert max(df for df, _ in got.values()) > idx.n_docs // 2

    def test_term_artifacts_equal_pandas_reference_zipf(self, zipf3k_index):
        """term_stats / block_max (derived from the posting-list encode)
        equal a pandas reduction of the index's own postings rows, with
        the reference's block size and θ-pass prefix depth of 128:
        df, term_bucket, max/min impact, prefix_cutoff = the
        min(128, df)-th largest impact, and per (term, doc_id // 128)
        block maxima.  Both schemas are pinned."""
        from bayesian_bm25_spark.functions.xxhash import term_bucket

        idx = zipf3k_index
        flat = idx.postings.select("term", "doc_id", "impact").toPandas()
        expect_stats = []
        for term, g in flat.groupby("term"):
            imp = np.sort(g["impact"].to_numpy())[::-1]
            expect_stats.append((
                term, term_bucket(term, idx.config.n_buckets), len(imp),
                float(imp[0]), float(imp[-1]), float(imp[min(128, len(imp)) - 1]),
            ))
        blocks = (
            flat.assign(block_id=flat["doc_id"] // 128)
            .groupby(["term", "block_id"])["impact"].max()
        )
        expect_blocks = [(t, int(b), float(m)) for (t, b), m in blocks.items()]

        assert [(f.name, f.dataType.simpleString()) for f in idx.term_stats.schema] == [
            ("term", "string"), ("term_bucket", "int"), ("df", "bigint"),
            ("max_impact", "double"), ("min_impact", "double"),
            ("prefix_cutoff", "double"),
        ]
        assert sorted(map(tuple, idx.term_stats.collect())) == sorted(expect_stats)
        assert [(f.name, f.dataType.simpleString()) for f in idx.block_max.schema] == [
            ("term", "string"), ("block_id", "bigint"), ("block_max_impact", "double"),
        ]
        assert sorted(map(tuple, idx.block_max.collect())) == sorted(expect_blocks)
        # the prefix depth and the block size both bite: head terms hold
        # more than 128 postings, and docs span many blocks
        assert max(df for _, _, df, *_ in expect_stats) > 128
        assert flat["doc_id"].max() // 128 > 10

    def test_params_equal_kernel_oracle_zipf(self, spark, zipf3k_index):
        """α/β/base-rate of the Spark index equal the numpy kernel's
        (sample_pseudo_query_scores over a BM25Oracle of the same pages)
        exactly, for every base-rate method.  The pseudo-query score
        arrays equal the kernel's run over the index's own impacts (a
        Spark impact may differ from the kernel's in its last ULP): each
        doc sums its impacts in token order."""
        from dataclasses import replace

        from bayesian_bm25_spark.operators import index_build as IB

        corpus = [tokenize(r["text"]) for r in generate_rows_local(3000, seed=11)]
        oracle = BM25Oracle()
        oracle.index(corpus)
        pq = sample_pseudo_query_scores(oracle, corpus)
        idx = zipf3k_index
        flat = idx.postings.select("term", "doc_id", "impact").toPandas()
        oracle._impacts = {
            t: dict(zip(g["doc_id"].tolist(), g["impact"].tolist()))
            for t, g in flat.groupby("term")
        }
        docs = spark.read.parquet(f"{idx.path}/docs")
        got = IB._sample_pseudo_query_scores(
            docs, idx.postings, idx.config.n_buckets, idx.n_docs
        )
        want = sample_pseudo_query_scores(oracle, corpus)
        assert len(got) == len(want) == 50
        assert [g.tolist() for g in got] == [w.tolist() for w in want]
        for method in ("percentile", "mixture", "elbow"):
            cfg = replace(idx.config, alpha=None, beta=None, base_rate="auto",
                          base_rate_method=method)
            params = IB._estimate_params(spark, docs, idx.postings, cfg, idx.n_docs)
            assert (params.alpha, params.beta) == estimate_alpha_beta(pq), method
            assert params.base_rate == estimate_base_rate(pq, idx.n_docs, method), method

    def test_params_sum_negative_impacts_before_filter(self, spark, tmp_path):
        """Robertson impacts of a term in most docs are negative; a
        pseudo-query's doc score is the sum of all its terms' impacts,
        and only then is ``score > 0`` applied (the kernel's order)."""
        texts = [
            f"common filler{i % 5} rare{i % 7} w{i}" if i % 4 else f"rare{i % 7} solo{i}"
            for i in range(40)
        ]
        cfg = IndexConfig(method="robertson", base_rate="auto")
        idx = build_index(spark, pages_df_from_texts(spark, texts), str(tmp_path / "rob"), cfg)
        corpus = [tokenize(t) for t in texts]
        oracle = BM25Oracle(method="robertson")
        oracle.index(corpus)
        pq = sample_pseudo_query_scores(oracle, corpus)
        a, b = estimate_alpha_beta(pq)
        assert (idx.params.alpha, idx.params.beta) == (a, b)
        assert idx.params.base_rate == estimate_base_rate(pq, 40, "percentile")
        # the case bites: dropping the negative impacts first changes
        # the sample
        positive = copy.copy(oracle)
        positive._impacts = {
            t: {d: v for d, v in m.items() if v > 0} for t, m in oracle._impacts.items()
        }
        assert min(min(m.values()) for m in oracle._impacts.values()) < 0
        assert estimate_alpha_beta(sample_pseudo_query_scores(positive, corpus)) != (a, b)

    def test_resume_rebuilds_checkpoint_without_fused_columns(self, spark, tmp_path):
        """A posting_lists checkpoint without the term_stats columns,
        whose manifest records no config (an older build's), is not a
        complete checkpoint: the resume rebuilds it, columns included."""
        import shutil

        from bayesian_bm25_spark.plans import checkpoint as ckpt

        path = str(tmp_path / "old_pl")
        pages = pages_df_from_texts(spark, SIX_DOCS)
        cfg = IndexConfig(alpha=1.0, beta=1.0)
        idx = build_index(spark, pages, path, cfg)
        lists = sorted(map(tuple, idx.posting_lists.collect()))
        list_dir = f"{path}/posting_lists"
        cut_dir = str(tmp_path / "cut")
        ckpt.write_stage(
            idx.posting_lists.select("term", "df", "payload"), cut_dir,
            stage="posting_lists",
        )
        shutil.rmtree(list_dir)
        shutil.move(cut_dir, list_dir)
        assert not ckpt.is_complete(list_dir, cfg.to_dict())
        resumed = build_index(spark, pages, path, cfg)
        assert "max_impact" in resumed.posting_lists.columns
        assert sorted(map(tuple, resumed.posting_lists.collect())) == lists

    def test_scan_bytes_of_path_and_uri(self, spark, six_index):
        """The size of a stage read comes from Spark's relation
        statistics: the parquet files' byte sum, the same for a plain
        path and its file:// URI, so _spread decides alike on both."""
        from bayesian_bm25_spark.entry_queries import _spread
        from bayesian_bm25_spark.operators.index_build import _scan_bytes

        stage_dir = f"{six_index.path}/postings"
        plain = spark.read.parquet(stage_dir)
        uri = spark.read.parquet(f"file://{stage_dir}")
        size = _scan_bytes(plain)
        assert size == sum(
            os.path.getsize(os.path.join(root, fn))
            for root, _dirs, files in os.walk(stage_dir)
            for fn in files
            if fn.endswith(".parquet")
        )
        assert _scan_bytes(uri) == size
        # a small table is spread, unless it is under min_bytes
        assert _spread(plain) is not plain and _spread(uri) is not uri
        assert _spread(plain, min_bytes=size + 1) is plain
        assert _spread(uri, min_bytes=size + 1) is uri

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

    def test_load_without_stage_names_it(self, spark, six_index, tmp_path):
        """An index missing a stage directory fails to load with a
        ValueError naming the stage and the remedy."""
        import re
        import shutil

        path = str(tmp_path / "no_lists")
        shutil.copytree(six_index.path, path)
        shutil.rmtree(f"{path}/posting_lists")
        with pytest.raises(
            ValueError, match=re.escape(f"{path}/posting_lists") + ".*posting_lists.*force=True"
        ):
            load_index(spark, path)

    def test_resume_rebuilds_stage_without_data(self, spark, six_index, tmp_path):
        """A stage directory holding its manifest but no parquet files
        is not a complete checkpoint: the resume rebuilds it."""
        import shutil

        from bayesian_bm25_spark.plans import checkpoint as ckpt

        path = str(tmp_path / "no_data")
        shutil.copytree(six_index.path, path)
        stage_dir = f"{path}/term_stats"
        for fn in os.listdir(stage_dir):
            if fn != ckpt.MANIFEST_NAME:
                os.remove(os.path.join(stage_dir, fn))
        assert not ckpt.is_complete(stage_dir)
        idx = build_index(
            spark, pages_df_from_texts(spark, SIX_DOCS), path, six_index.config
        )
        assert ckpt.is_complete(stage_dir)
        assert sorted(map(tuple, idx.term_stats.collect())) == sorted(
            map(tuple, six_index.term_stats.collect())
        )
        assert load_index(spark, path).params == six_index.params

    def test_resume_from_checkpoint(self, spark, six_index):
        # a fresh build over the same path must reuse checkpoints (no pages needed)
        idx2 = load_index(spark, six_index.path)
        assert idx2.n_docs == 6
        assert idx2.params.alpha == six_index.params.alpha
        assert idx2.postings.count() == six_index.postings.count()


    def test_config_from_dict_drops_removed_fields(self):
        """load_index reads the config through from_dict, so params.json
        of an index built when IndexConfig had more fields still opens."""
        for removed in (
            {"n_salts": 8, "mapside_partials": True, "checkpoint_segments": False,
             "fused_term_artifacts": True, "local_tf": True, "broadcast_vocab_max": 0},
            {"block_size": 128, "prefix_len": 128, "build_compressed": True,
             "pseudo_query_seed": 42, "pseudo_query_sample": 50},
        ):
            old = {**IndexConfig(k1=2.0).to_dict(), **removed}
            assert IndexConfig.from_dict(old) == IndexConfig(k1=2.0)

    def test_user_base_rate_survives_empty_sample(self, spark, tmp_path):
        """Every robertson impact of 4 identical docs is ≤ 0, so no
        pseudo-query score passes the score > 0 filter; the user-set
        base rate must still reach params."""
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
        # blocks are doc-index ranges: block_id = doc_id // BLOCK_SIZE
        with_block = idx.postings.withColumn(
            "block_id", (F.col("doc_id") / BLOCK_SIZE).cast("long")
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
            spark, pages, path, IndexConfig(base_rate="auto")
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


class TestFacadeDriverQueries:
    """The facade builds a token-list batch's query-term relation on the
    driver (normalized, counted, Arrow-local); results must equal the
    DataFrame path (Spark-side stopwords, stem UDF and explode) bit for
    bit."""

    TEXTS = [
        "the runners were running to the running track",
        "cats and dogs are running",
        "a cat chased the dogs over the hills",
        "hills and tracks for the runner",
        "databases of connected things",
    ]
    # duplicated term, all-stopword query, empty query, unknown term
    BATCH = [
        ["running", "cats", "running"],
        ["the", "a", "of"],
        [],
        ["zzzunknownterm"],
        ["Runner", "hills", "the", "dogs"],
    ]

    @pytest.fixture(scope="class")
    def scorer(self, spark, tmp_path_factory):
        from bayesian_bm25_spark.api import BayesianBM25Scorer

        eng = BayesianBM25Scorer(
            spark, index_path=str(tmp_path_factory.mktemp("idx_norm")),
            stemmer="porter", stopwords="english", base_rate="auto",
        )
        eng.index(pages_df_from_texts(spark, self.TEXTS))
        return eng

    @pytest.mark.parametrize("maxscore", [False, True])
    def test_normalization_parity_with_retrieve_df(self, scorer, maxscore, monkeypatch):
        from bayesian_bm25_spark.api import _collect_topk

        if maxscore:
            monkeypatch.setattr(Q, "_MAXSCORE_MIN_DOCS", 0)
        k = 4
        want_ids, want_p = _collect_topk(
            scorer.retrieve_df(queries_to_df(scorer.spark, self.BATCH), k=k),
            len(self.BATCH), k, "probability",
        )
        ids, probs = scorer.retrieve(self.BATCH, k=k)
        assert ids.tolist() == want_ids.tolist()
        assert probs.tolist() == want_p.tolist()
        # the batch exercises matches and the empty rows alike
        assert (ids[0] >= 0).any() and (ids[4] >= 0).any()
        assert (ids[1:4] == -1).all()

    def test_explain_and_probabilities_parity(self, scorer):
        k = 4
        ids, probs = scorer.retrieve(self.BATCH, k=k)
        res = scorer.retrieve(self.BATCH, k=k, explain=True)
        assert res.doc_ids.tolist() == ids.tolist()
        assert res.probabilities.tolist() == probs.tolist()
        dense = scorer.get_probabilities(self.BATCH[0])
        sparse = {
            int(r["doc_id"]): float(r["probability"])
            for r in scorer.get_probabilities_df(
                queries_to_df(scorer.spark, [self.BATCH[0]])
            ).collect()
        }
        assert sparse and all(dense[d] == p for d, p in sparse.items())
        assert all(dense[d] == 0.0 for d in range(len(self.TEXTS)) if d not in sparse)

    def test_empty_batch(self, scorer):
        ids, probs = scorer.retrieve([], k=3)
        assert ids.shape == (0, 3) and probs.shape == (0, 3)

    def test_local_query_terms_equal_exploded(self, spark):
        batch = [["b", "a", "b"], [], ["c"], ["a", "a", "a"]]
        local = Q.local_query_terms(spark, batch)
        assert Q.query_terms(local) is local
        got = sorted(tuple(r) for r in local.collect())
        want = sorted(
            tuple(r) for r in Q.query_terms(queries_to_df(spark, batch))
            .select("query_id", "term", "qtf").collect()
        )
        assert got == want
        assert [(f.name, f.dataType.simpleString(), f.nullable) for f in local.schema] == [
            ("query_id", "bigint", False), ("term", "string", False), ("qtf", "bigint", False),
        ]

    def test_probability_column_memo_keys(self, six_index):
        """Alternating parameter sets and avgdl values in one session:
        each memoized column equals a freshly built one."""
        from bayesian_bm25_spark.functions import columns as C

        qdf = queries_to_df(six_index.spark, [["cat"], ["dog", "the"]])
        scored = Q.score_queries(six_index.postings, qdf).cache()
        p1 = TransformParams(alpha=1.3, beta=0.4, base_rate=0.05)
        p2 = TransformParams(alpha=0.7, beta=1.1)
        try:
            for params, avgdl in [(p1, 4.0), (p2, 4.0), (p1, 7.5), (p2, 7.5), (p1, 4.0)]:
                fresh = C.score_to_probability(
                    F.col("score"),
                    F.col("tf_match").cast("double"),
                    F.col("doc_len").cast("double") / F.lit(avgdl),
                    alpha=params.alpha, beta=params.beta,
                    base_rate=params.base_rate, mode=params.mode,
                )
                want = {
                    (r["query_id"], r["doc_id"]): r["p"]
                    for r in scored.withColumn(
                        "p", F.when(F.col("score") > 0.0, fresh).otherwise(F.lit(0.0))
                    ).collect()
                }
                got = {
                    (r["query_id"], r["doc_id"]): r["probability"]
                    for r in Q.with_probability(scored, params, avgdl).collect()
                }
                assert want and got == want, (params, avgdl)
        finally:
            scored.unpersist()


    def test_topk_column_memo_keys(self, six_index):
        """Alternating k in one session: each memoized top-k equals one
        built from a fresh window."""
        from pyspark.sql import Window

        qdf = queries_to_df(six_index.spark, [["cat"], ["dog", "the"], ["machine"]])
        scored = Q.score_queries(six_index.postings, qdf).cache()
        try:
            for k in (3, 10, 3, 10):
                w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
                fresh = scored.withColumn("rank", F.row_number().over(w)).where(
                    F.col("rank") <= k
                )
                cols = ["query_id", "rank", "doc_id", "score"]
                want = sorted(tuple(r) for r in fresh.select(*cols).collect())
                got = sorted(tuple(r) for r in Q.topk(scored, k=k).select(*cols).collect())
                assert want and got == want, k
        finally:
            scored.unpersist()


class TestWarmEqualsCold:
    """The persisted scoring layout (four columns, no bucket prune) must
    give the facade the same ids and probabilities, bit for bit, as the
    cold bucket-pruned scan."""

    N_DOCS = 400

    @pytest.fixture(scope="class")
    def scorers(self, spark, tmp_path_factory):
        from bayesian_bm25_spark.api import BayesianBM25Scorer

        pages = generate_pages(spark, self.N_DOCS, seed=21, num_partitions=4)
        out = {}
        for method in ("lucene", "robertson"):
            out[method] = BayesianBM25Scorer(
                spark, index_path=str(tmp_path_factory.mktemp(f"idx_warm_{method}")),
                method=method, base_rate="auto",
            )
            out[method].index(pages)
        return out

    @pytest.mark.parametrize(
        "method,maxscore", [("lucene", False), ("robertson", False), ("lucene", True)]
    )
    def test_warm_retrieve_equals_cold(self, scorers, method, maxscore, monkeypatch):
        if maxscore:
            monkeypatch.setattr(Q, "_MAXSCORE_MIN_DOCS", 0)
        scorer = scorers[method]
        queries = generate_queries(self.N_DOCS, seed=22, n_queries=20)
        cold_ids, cold_p = scorer.retrieve(queries, k=10)
        scorer.warm_scoring_cache()
        try:
            ids, probs = scorer.retrieve(queries, k=10)
        finally:
            scorer._drop_scoring_cache()
        assert (ids >= 0).any()
        assert ids.tolist() == cold_ids.tolist()
        assert probs.tolist() == cold_p.tolist()


class TestChangedConfigResume:
    """A resume at a built path under another config equals a fresh
    build of that config: each stage manifest records its build config,
    and a stage built under another one is rebuilt."""

    BASE = IndexConfig(base_rate="auto")

    @pytest.fixture(scope="class")
    def base(self, spark, tmp_path_factory):
        pages = pages_df_from_texts(spark, SIX_DOCS)
        path = str(tmp_path_factory.mktemp("idx_resume_base"))
        build_index(spark, pages, path, self.BASE)
        return pages, path

    @pytest.mark.parametrize(
        "change",
        [
            {"method": "robertson"},
            {"k1": 2.0},
            {"stemmer": "porter"},
            # a tuple is stored as a JSON list; it must still match.
            # Dropping words also changes avgdl, so corpus_stats.json
            # must be recomputed.
            {"stopwords": ("the", "a", "cat")},
        ],
        ids=["method", "k1", "stemmer", "stopwords"],
    )
    def test_resume_equals_fresh_build(self, spark, tmp_path, base, change):
        import dataclasses
        import json
        import shutil

        from bayesian_bm25_spark.plans import checkpoint as ckpt

        pages, base_path = base
        cfg = dataclasses.replace(self.BASE, **change)
        resumed_path, fresh_path = str(tmp_path / "resumed"), str(tmp_path / "fresh")
        shutil.copytree(base_path, resumed_path)
        resumed = build_index(spark, pages, resumed_path, cfg)
        fresh = build_index(spark, pages, fresh_path, cfg)

        def rows(idx):
            cols = ["term", "doc_id", "tf", "doc_len", "df", "impact"]
            return sorted(map(tuple, idx.postings.select(cols).collect()))

        def meta(path):
            with open(f"{path}/params.json") as f:
                return json.load(f)

        assert rows(resumed) == rows(fresh)
        assert rows(resumed) != rows(load_index(spark, base_path))  # the change bites
        assert meta(resumed_path) == meta(fresh_path)
        for stage in ("docs", "postings", "posting_lists", "term_stats", "block_max"):
            assert ckpt.is_complete(f"{resumed_path}/{stage}", cfg.to_dict())


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


class TestRunGrouped:
    """``_run_grouped`` (the posting-list encode and the simhash fold)
    flushes the same groups however the sorted rows are cut into
    batches."""

    @staticmethod
    def _flush_all(batches):
        import pandas as pd

        from bayesian_bm25_spark.operators.index_build import _run_grouped

        def flush(g: dict) -> dict:
            return {"term": g["term"][0], "k": int(g["k"][0]), "v": list(g["v"])}

        outs = list(_run_grouped(iter(batches), ["term", "k"], flush))
        return pd.concat(outs, ignore_index=True) if outs else pd.DataFrame()

    @pytest.mark.parametrize("size", [1, 2, 3, 5, 7, 10, 1000])
    def test_any_batching_equals_one_batch(self, size):
        import pandas as pd

        # group lengths 5, 10, 3, 7, 25, 5 end on every 5th row at first:
        # batch sizes 1 and 5 close groups exactly on a batch boundary;
        # the 25-row group spans many small batches; ("b", 1) and
        # ("b", 2) differ only in the second key column
        lens = [("a", 0, 5), ("b", 1, 10), ("b", 2, 3), ("c", 0, 7),
                ("d", 0, 25), ("e", 0, 5)]
        rows = pd.DataFrame(
            [(t, k, j) for t, k, n in lens for j in range(n)],
            columns=["term", "k", "v"],
        )
        whole = self._flush_all([rows])
        assert whole["term"].tolist() == [t for t, _, _ in lens]
        assert [len(v) for v in whole["v"]] == [n for _, _, n in lens]
        # an empty batch between two full ones changes nothing
        batches = [rows.iloc[a:a + size] for a in range(0, len(rows), size)]
        batches.insert(1, rows.iloc[:0])
        got = self._flush_all(batches)
        pd.testing.assert_frame_equal(got, whole)

    def test_no_rows_flush_nothing(self):
        import pandas as pd

        empty = pd.DataFrame({"term": [], "k": [], "v": []})
        assert self._flush_all([empty, empty]).empty
        assert self._flush_all([]).empty


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
            IndexConfig(method="robertson", base_rate=0.05, alpha=1.0, beta=1.0),
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
