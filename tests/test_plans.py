"""Physical-plan assertions: the scale properties ARCHITECTURE.md claims
are enforced here, not just described.

Each test inspects the executed/initial Spark plan string for the
property that makes the operator survive a 100× scale-up:

- scoring aggregation runs WITHOUT its own exchange (postings are
  hash-partitioned by doc_id first; HashPartitioning on a subset of the
  grouping keys satisfies the agg's distribution requirement)
- the postings scan is partition-pruned to query-term buckets
- the query side of the scoring join is a broadcast, never a shuffle
- Column-math operators (hyperplane buckets, language id, quality)
  contain NO Python eval nodes — whole-stage codegen end to end
"""

from __future__ import annotations

import pytest

from bayesian_bm25_spark.operators import query as Q
from bayesian_bm25_spark.operators.index_build import IndexConfig, build_index
from bayesian_bm25_spark.sources.webcorpus import generate_pages, queries_to_df


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def plan_idx(spark, tmp_path_factory):
    pages = generate_pages(spark, 2000, seed=11, num_partitions=8)
    return build_index(
        spark, pages, str(tmp_path_factory.mktemp("idx_plans")),
        IndexConfig(alpha=1.0, beta=1.0, base_rate=0.05),
    )


class TestScoringPlan:
    def test_no_exchange_for_scoring_aggregation(self, plan_idx):
        qdf = queries_to_df(plan_idx.spark, [["w1", "w2"], ["w3"]])
        import re

        plan = plan_of(Q.score_queries(plan_idx.postings, qdf))
        # the big-side agg over (query_id, doc_id) reuses the explicit
        # doc_id repartition — no exchange keyed on the full agg key.
        # (the query-TERMS side has its own tiny exchange before the
        # broadcast; that one is O(query batch), not O(index).)
        assert "hashpartitioning(doc_id" in plan
        assert not re.search(r"hashpartitioning\(query_id#\d+L?, doc_id", plan)

    def test_prepartitioned_scoring_has_no_postings_exchange(self, plan_idx):
        """prepartition_for_scoring + co_partition=False: the persisted
        doc_id layout is REUSED — the scoring plan contains no exchange
        at all on the postings side (only the tiny query-terms broadcast
        prep), and results are identical to the per-batch-shuffle plan.
        This is the amortization a long-lived service needs: one corpus
        re-layout instead of one per batch."""
        import re

        spark = plan_idx.spark
        src = Q.prepartition_for_scoring(plan_idx.postings, 8)
        try:
            qdf = queries_to_df(spark, [["w1", "w2"], ["w3"]])
            scored = Q.score_queries(src, qdf, co_partition=False)
            plan = plan_of(scored)
            assert "InMemoryTableScan" in plan
            # the scoring agg must NOT re-shuffle: no exchange keyed on
            # the agg key above the cached scan.  (The one
            # REPARTITION_BY_NUM printed INSIDE the InMemoryRelation is
            # the already-materialized layout build itself — executed
            # once at prepartition time, not per batch.)
            assert not re.search(
                r"Exchange hashpartitioning\(query_id#\d+L?, doc_id", plan
            ), plan
            base = {
                (r["query_id"], r["doc_id"], round(r["score"], 9))
                for r in Q.score_queries(plan_idx.postings, qdf).collect()
            }
            got = {
                (r["query_id"], r["doc_id"], round(r["score"], 9))
                for r in scored.collect()
            }
            assert got == base
        finally:
            src.unpersist()

    def test_warm_lane_exchange_free_at_bench_partition_count(self, plan_idx):
        """The official bench's always-on warm lane (bench.py: p = 2×cores
        = 64 at the 32-core default) must keep the exchange-free scoring
        property at ITS partition count, not just the small fixture count
        — pins the plan the query_qps_warm number is measured on."""
        import re

        spark = plan_idx.spark
        src = Q.prepartition_for_scoring(plan_idx.postings, 64)
        try:
            qdf = queries_to_df(spark, [["w1", "w2"], ["w3"]])
            scored = Q.score_queries(src, qdf, co_partition=False)
            plan = plan_of(scored)
            assert "InMemoryTableScan" in plan
            assert not re.search(
                r"Exchange hashpartitioning\(query_id#\d+L?, doc_id", plan
            ), plan
        finally:
            src.unpersist()

    def test_query_side_is_broadcast(self, plan_idx):
        qdf = queries_to_df(plan_idx.spark, [["w1"]])
        plan = plan_of(Q.score_queries(plan_idx.postings, qdf))
        assert "BroadcastExchange" in plan
        assert "SortMergeJoin" not in plan

    def test_bucket_partition_pruning_reaches_scan(self, plan_idx):
        qdf = queries_to_df(plan_idx.spark, [["w1"]])
        pruned = Q.prune_query_terms_buckets(
            plan_idx.postings, Q.query_terms(qdf), plan_idx.config.n_buckets
        )
        plan = plan_of(pruned)
        # the term_bucket filter lands in the scan's PartitionFilters —
        # a layout-pruned read, not a post-scan filter
        scan = plan[plan.index("PartitionFilters"):]
        assert "term_bucket" in scan.split("]")[0]


class TestParamsPlan:
    def test_params_run_two_jobs_and_fetch_without_exchange(
        self, spark, plan_idx, monkeypatch
    ):
        """Parameter estimation is the sample collect plus ONE Arrow
        fetch of the pseudo-query terms' postings rows; the fetch is a
        filtered scan with no join, aggregation or exchange."""
        from bayesian_bm25_spark.operators import index_build as IB

        frames = []
        frame_cls = type(plan_idx.postings)
        to_arrow = frame_cls.toArrow

        def spy(df):
            frames.append(df)
            return to_arrow(df)

        monkeypatch.setattr(frame_cls, "toArrow", spy)
        docs = spark.read.parquet(f"{plan_idx.path}/docs")
        cfg = IndexConfig(base_rate="auto")
        sc = spark.sparkContext
        sc.setJobGroup("params", "pseudo-query parameter estimation")
        try:
            params = IB._estimate_params(spark, docs, plan_idx.postings, cfg, plan_idx.n_docs)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert params.base_rate is not None
        assert len(sc.statusTracker().getJobIdsForGroup("params")) <= 2
        assert len(frames) == 1
        plan = plan_of(frames[0])
        assert "Exchange" not in plan, plan
        assert "Join" not in plan and "Aggregate" not in plan, plan


class TestPostingListsPlan:
    def test_one_term_exchange_and_one_python_map(self, spark, plan_idx, monkeypatch):
        """The posting_lists build is the sort-based inversion: one
        ``hashpartitioning(term, n_part)`` exchange, a sort, and ONE
        ``MapInPandas`` that encodes each term's run.  A second Python
        pass (a map-side pre-encode) or a second exchange fails it."""
        import re

        from bayesian_bm25_spark.operators import index_build as IB

        frames = []

        def spy(spark_, stage_dir, build_fn, **kw):
            frames.append(build_fn())
            return spark_.read.parquet(stage_dir)

        monkeypatch.setattr(IB.ckpt, "run_stage", spy)
        IB._build_posting_lists(spark, plan_idx.postings, plan_idx.path, True)
        assert len(frames) == 1
        plan = plan_of(frames[0])
        n_part = max(spark.sparkContext.defaultParallelism * 4, 8)
        assert plan.count("MapInPandas") == 1, plan
        assert len(re.findall(r"Exchange ", plan)) == 1, plan
        assert re.search(rf"Exchange hashpartitioning\(term#\d+, {n_part}\)", plan), plan


class TestPostingsPlan:
    def test_one_tf_pass_and_nothing_cached(self, spark, tmp_path, monkeypatch):
        """The postings stage reads tf once: its frame has ONE
        ``MapInPandas`` (the Arrow tf count) and no cached relation, and
        the broadcast side of the df join counts df from the docs'
        exploded tokens.  The build leaves no RDD persisted."""
        import re

        from bayesian_bm25_spark.operators import index_build as IB

        frames = []
        run_stage = IB.ckpt.run_stage

        def spy(spark_, stage_dir, build_fn, **kw):
            if kw["stage"] != "postings":
                return run_stage(spark_, stage_dir, build_fn, **kw)
            frames.append(build_fn())
            return run_stage(spark_, stage_dir, lambda: frames[0], **kw)

        monkeypatch.setattr(IB.ckpt, "run_stage", spy)
        persisted = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
        build_index(
            spark, generate_pages(spark, 300, seed=5, num_partitions=4),
            str(tmp_path / "idx"), IndexConfig(alpha=1.0, beta=1.0, base_rate=0.05),
        )
        assert spark.sparkContext._jsc.sc().getPersistentRDDs().size() == persisted
        assert len(frames) == 1
        plan = plan_of(frames[0])
        assert plan.count("MapInPandas") == 1, plan
        assert "InMemoryRelation" not in plan and "InMemoryTableScan" not in plan, plan
        build_side = plan[plan.index("BroadcastExchange"):]
        assert re.search(r"Generate explode\(array_distinct\(tokens", build_side), plan
        assert re.search(r"FileScan parquet \[tokens#\d+\]", build_side), plan
        assert "MapInPandas" not in build_side, plan


@pytest.fixture(scope="class")
def warm_scorer(spark, tmp_path_factory):
    """A facade over 300 Zipf pages with its scoring layout warmed."""
    from bayesian_bm25_spark import api

    scorer = api.BayesianBM25Scorer(
        spark, index_path=str(tmp_path_factory.mktemp("idx_warm"))
    )
    scorer.index(generate_pages(spark, 300, seed=5, num_partitions=4))
    scorer.warm_scoring_cache()
    yield scorer
    scorer._drop_scoring_cache()


class TestFacadeBatchPlan:
    def test_warm_facade_batch_runs_three_jobs(self, spark, tmp_path, monkeypatch):
        """A warmed facade batch builds its query-term relation on the
        driver: the broadcast sits directly on a LocalTableScan, no
        exchange groups (query_id, term), and the whole batch is three
        Spark jobs (broadcast, scan/join/agg, top-k)."""
        import re

        from bayesian_bm25_spark import api
        from bayesian_bm25_spark.sources.webcorpus import generate_queries

        scorer = api.BayesianBM25Scorer(spark, index_path=str(tmp_path / "idx"))
        scorer.index(generate_pages(spark, 300, seed=5, num_partitions=4))
        scorer.warm_scoring_cache()
        queries = generate_queries(300, seed=5, n_queries=20)
        scorer.retrieve(queries[:10], k=10)

        frames = []

        def spy(df, *args):
            frames.append(df)
            return collect(df, *args)

        collect = api._collect_topk
        monkeypatch.setattr(api, "_collect_topk", spy)
        sc = spark.sparkContext
        sc.setJobGroup("facade-batch", "one warm facade batch")
        try:
            ids, _ = scorer.retrieve(queries[10:], k=10)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert (ids >= 0).any()
        assert len(sc.statusTracker().getJobIdsForGroup("facade-batch")) == 3
        plan = plan_of(frames[0])
        assert re.search(r"BroadcastExchange [^\n]*\n\s*\+- LocalTableScan", plan), plan
        assert not re.search(r"Exchange hashpartitioning\(query_id#\d+L?, term", plan), plan
        scorer._drop_scoring_cache()

    def test_warm_retrieve_df_runs_four_jobs(self, warm_scorer):
        """DataFrame queries on the warmed layout: the facade's three jobs
        plus the qtf group-by; no bucket distinct and no broadcast of it,
        because the persisted frame has no term_bucket to prune."""
        from bayesian_bm25_spark.sources.webcorpus import generate_queries

        scorer = warm_scorer
        spark = scorer.spark
        qdf = queries_to_df(spark, generate_queries(300, seed=6, n_queries=10))
        sc = spark.sparkContext
        sc.setJobGroup("retrieve-df", "one warm retrieve_df batch")
        try:
            rows = scorer.retrieve_df(qdf, k=10).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert rows
        assert len(sc.statusTracker().getJobIdsForGroup("retrieve-df")) == 4

    def test_warm_layout_is_the_four_scoring_columns(self, warm_scorer, monkeypatch):
        """The persisted layout keeps only what scoring reads, so a
        warmed batch plan has no term_bucket predicate, still reads the
        cache, and never shuffles on the (query_id, doc_id) agg key."""
        import re

        from bayesian_bm25_spark import api
        from bayesian_bm25_spark.sources.webcorpus import generate_queries

        scorer = warm_scorer
        assert scorer._scoring_src.columns == ["term", "doc_id", "impact", "doc_len"]
        frames = []

        def spy(df, *args):
            frames.append(df)
            return collect(df, *args)

        collect = api._collect_topk
        monkeypatch.setattr(api, "_collect_topk", spy)
        ids, _ = scorer.retrieve(generate_queries(300, seed=7, n_queries=10), k=10)
        assert (ids >= 0).any()
        plan = plan_of(frames[0])
        # (the cached relation still prints the parquet scan it was
        # built from, term_bucket column included, with no filter on it)
        assert not re.search(r"term_bucket#\d+L? IN|isnotnull\(term_bucket", plan), plan
        assert "LeftSemi" not in plan
        assert "InMemoryTableScan" in plan
        assert not re.search(r"hashpartitioning\(query_id#\d+L?, doc_id", plan), plan

    def test_warm_batch_compiles_no_code(self, warm_scorer):
        """A second distinct batch on a warmed facade reuses every
        generated class: nothing batch-specific (such as a bucket list)
        reaches codegen."""
        from bayesian_bm25_spark.sources.webcorpus import generate_queries

        scorer = warm_scorer
        metrics = scorer.spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        queries = generate_queries(300, seed=8, n_queries=20)
        scorer.retrieve(queries[:10], k=10)
        before = metrics.METRIC_COMPILATION_TIME().getCount()
        ids, _ = scorer.retrieve(queries[10:], k=10)
        assert (ids >= 0).any()
        assert metrics.METRIC_COMPILATION_TIME().getCount() - before == 0


class TestCodegenOnlyOperators:
    PY_EVAL_NODES = ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas")

    def _assert_no_python(self, df):
        plan = plan_of(df)
        for node in self.PY_EVAL_NODES:
            assert node not in plan, f"{node} found in plan"

    def test_hyperplane_buckets_pure_column(self, spark):
        from bayesian_bm25_spark.operators.similarity import hyperplane_lsh_buckets

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        self._assert_no_python(hyperplane_lsh_buckets(emb, 64, n_bits=4))

    def test_text_analysis_pure_column(self, spark):
        from bayesian_bm25_spark.operators.text_analysis import (
            language_id,
            quality_features,
        )

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        self._assert_no_python(language_id(docs.select("doc_id", "lang", "text")))
        self._assert_no_python(quality_features(docs.select("doc_id", "text")))

    def test_probability_path_pure_column(self, plan_idx):
        qdf = queries_to_df(plan_idx.spark, [["w1"]])
        scored = Q.with_probability(
            Q.score_queries(plan_idx.postings, qdf),
            plan_idx.params,
            plan_idx.avgdl,
        )
        self._assert_no_python(scored)


class TestSimhashPlan:
    def test_simhash_fold_has_no_exchange(self, spark):
        """simhash64 must stay a pure map-side pipeline: scan → explode
        (narrow: a doc's shingles stay contiguous in its partition) →
        mapInPandas fold.  A groupBy/collect_list here would shuffle
        every shingle hash — ~the corpus token count in bytes."""
        from bayesian_bm25_spark.operators import dedup as DD

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        plan = plan_of(DD.simhash64(docs))
        assert "Exchange" not in plan
        assert "MapInPandas" in plan


class TestRegistryConsistency:
    def test_bench_headline_names_exist(self):
        """bench.py's headline suite must never silently drift from the
        entry registry (VERDICT r4 #8): every benched name is a
        registered entry, and the oracle map only covers registered
        entries."""
        import importlib.util

        from bayesian_bm25_spark.entry_queries import ORACLE_SQL, SPARK_QUERIES

        spec = importlib.util.spec_from_file_location(
            "bench", "/root/repo/bench.py"
        )
        bench = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(bench)
        assert set(bench.HEADLINE) <= set(SPARK_QUERIES)
        assert set(ORACLE_SQL) <= set(SPARK_QUERIES)

    def test_bucket_prune_dataframe_path_is_lazy_semi_join(self, spark, plan_idx):
        """DataFrame-resident query batches prune via a broadcast LEFT
        SEMI join on term_bucket (DPP-prunable at the partitioned scan)
        — NOT a blocking per-batch collect (VERDICT r4 wrong-#3)."""
        from bayesian_bm25_spark.operators import query as Q
        from bayesian_bm25_spark.sources.webcorpus import queries_to_df

        qt = Q.query_terms(queries_to_df(spark, [["alpha", "beta"]]))
        pruned = Q.prune_query_terms_buckets(
            plan_idx.postings, qt, n_buckets=32
        )
        plan = plan_of(pruned)
        assert "LeftSemi" in plan or "left_semi" in plan.lower()
        # driver path still produces the static IN-filter (zero jobs)
        static = Q.prune_query_terms_buckets(
            plan_idx.postings, qt, n_buckets=32, driver_terms=["alpha"]
        )
        assert "term_bucket" in plan_of(static)


class TestPostingsWriteSizing:
    """The postings narrow-coalesce must fill the cluster on mid-size
    corpora: the round-6 pair's event-log audit caught the old 8-task
    floor running the 16-core leg half-idle for 27.5s of a 122.8s
    build (BENCH/BASELINE.md r6 addendum 5)."""

    def test_tiny_corpus_keeps_file_count_guard(self):
        from bayesian_bm25_spark.operators.index_build import (
            _postings_write_tasks,
        )

        # 50k-doc bench corpus (~12 MB docs): stays at 8 on any wide
        # cluster — the 1024-tiny-files trap the guard exists for
        assert _postings_write_tasks(12 << 20, 32) == 8
        # narrow cluster: never above what bytes+floor justify
        assert _postings_write_tasks(12 << 20, 4) == 4

    def test_mid_corpus_fills_the_cluster(self):
        from bayesian_bm25_spark.operators.index_build import (
            _postings_write_tasks,
        )

        # the round-6 pair shape: 1M docs ≈ 230 MB docs checkpoint →
        # by_bytes=8; 16-core leg must get 16 tasks (old code: 8)
        assert _postings_write_tasks(230 << 20, 16) == 16
        # 4-core leg unchanged: byte-proportional 8 ≥ width
        assert _postings_write_tasks(230 << 20, 4) == 8

    def test_big_corpus_is_byte_proportional(self):
        from bayesian_bm25_spark.operators.index_build import (
            _postings_write_tasks,
        )

        assert _postings_write_tasks(10 << 30, 16) == 320  # 10 GB / 32 MB
        # monotone in bytes at fixed width
        prev = 0
        for gb in (1, 2, 4, 8, 16):
            cur = _postings_write_tasks(gb << 30, 32)
            assert cur >= prev
            prev = cur
