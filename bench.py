"""Benchmark harness: headline queries + index-build/query throughput.

Prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ...,
   "build_docs_per_sec": ..., "query_qps": ..., "query_qps_warm": ...,
   "canary": {pre/post single-thread VM-health probes}, "canary_ok": ...,
   "n_cores": ...}

Env:
  SPARK_GRAFT_SF_DIR   testdata dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS     local[N] cores (default 32)
  BENCH_N_DOCS         synthetic corpus size for the build benchmark
                       (default 50000)
  BENCH_N_QUERIES      query-batch size for the QPS benchmark (default 200)

Run via spark-submit --py-files (see tools/scaling_bench.py) or plain
python.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
N_DOCS = int(os.environ.get("BENCH_N_DOCS", "50000"))
N_QUERIES = int(os.environ.get("BENCH_N_QUERIES", "200"))

HEADLINE = [
    "bm25_topk",
    "probability_topk",
    "term_stats_wand",
    "block_max",
    "cosine_topk",
    "minhash_lsh_pairs",
    "dedup_exact",
    "dedup_components",
    "simhash_fingerprints",
    "multimodal_features",
    "fusion_ops",
    "calibration_metrics",
    "pricing_summary",
    "events_sessions",
]


def main() -> None:
    from pyspark.sql import SparkSession

    from bayesian_bm25_spark.entry_queries import SPARK_QUERIES

    # BENCH_MASTER overrides the default thread-local master — used by
    # tools/scaling_bench.py --multi-jvm to run real separate executor
    # JVMs (local-cluster[N,C,M]), the honest N-vs-4N-executor topology
    master = os.environ.get("BENCH_MASTER", f"local[{CPUS}]")
    builder = SparkSession.builder.master(master)
    if os.environ.get("BENCH_EXECUTOR_MEM"):
        # local-cluster executors default to a 1g heap regardless of the
        # worker pool size — set it on the context explicitly
        builder = builder.config(
            "spark.executor.memory", os.environ["BENCH_EXECUTOR_MEM"]
        )
    if os.environ.get("BENCH_EVENT_LOG_DIR"):
        # per-job timeline capture for the scaling diagnosis
        # (tools/joblog.py parses JobStart/JobEnd events to attribute
        # driver-serial seconds — gaps where NO job is running)
        d = os.environ["BENCH_EVENT_LOG_DIR"]
        os.makedirs(d, exist_ok=True)
        builder = (
            builder.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", f"file://{d}")
            # plain JSON: the analyzer runs where no zstd binding exists
            .config("spark.eventLog.compress", "false")
        )
    if os.environ.get("BENCH_EXTRA_CONF"):
        # semicolon-separated key=value pairs — the shuffle-codec /
        # spill-compression A/B harness (BENCH/BASELINE.md) sets e.g.
        # "spark.io.compression.codec=zstd;spark.shuffle.spill.compress=false"
        for kv in os.environ["BENCH_EXTRA_CONF"].split(";"):
            if kv.strip():
                k, _, v = kv.partition("=")
                builder = builder.config(k.strip(), v.strip())
    spark = (
        builder
        .appName("bb25spark-bench")
        # 4× over-partitioning: with exactly one shuffle partition per
        # core, any Zipf skew idles cores for the whole stage tail; 4
        # waves let the scheduler rebalance around stragglers
        .config("spark.sql.shuffle.partitions", str(max(CPUS * 4, 16)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("BENCH_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    # VM-health canary (VERDICT r5 #2): the r5 suite inflated 30-60%
    # uniformly in a depressed shared-VM window, but the headline JSON
    # carried no evidence — now it does.  Probe before AND after so an
    # in-suite window shift is visible too.
    from bayesian_bm25_spark.bench_canary import run_canary

    canary_pre = run_canary()
    print(f"# canary(pre): {canary_pre}", file=sys.stderr)

    # registry-drift guard: every headline name must exist, and any
    # registry entry NOT benched is logged (no silent caps)
    missing = [n for n in HEADLINE if n not in SPARK_QUERIES]
    assert not missing, f"bench.py headline names absent from registry: {missing}"
    unbenched = sorted(
        set(SPARK_QUERIES) - set(HEADLINE) - {"index_build", "query_top10"}
    )
    print(f"# registry coverage: {len(HEADLINE)} benched headline + "
          f"build/query throughput; {len(unbenched)} registry entries not in "
          f"headline suite: {','.join(unbenched)}", file=sys.stderr)

    timings: dict[str, float] = {}
    total = 0.0
    headline = [] if os.environ.get("BENCH_SKIP_HEADLINE") else HEADLINE
    for name in headline:
        fn = SPARK_QUERIES[name]
        t0 = time.time()
        n = fn(spark, SF_DIR).count()
        dt = time.time() - t0
        timings[name] = round(dt, 4)
        total += dt
        print(f"# {name}: {dt:.3f}s ({n} rows)", file=sys.stderr)

    # --- index-build + query throughput on the synthetic web corpus ----
    from bayesian_bm25_spark.operators import query as Q
    from bayesian_bm25_spark.operators.index_build import IndexConfig, build_index
    from bayesian_bm25_spark.sources.webcorpus import (
        generate_pages,
        generate_queries,
        queries_to_df,
    )

    idx_dir = tempfile.mkdtemp(prefix="bb25_bench_idx_")
    pages_dir = tempfile.mkdtemp(prefix="bb25_bench_pages_")
    try:
        # materialize the synthetic web-page table first (untimed): the
        # build benchmark measures indexing a stored table, not the
        # corpus generator
        generate_pages(spark, N_DOCS, seed=42, num_partitions=max(CPUS, 8)).write.mode(
            "overwrite"
        ).parquet(pages_dir)
        pages = spark.read.parquet(pages_dir)
        windows: dict[str, list[float]] = {}
        # best-of-N builds (default 2): this box's run-to-run envelope
        # swings identical builds ±40% (BENCH/BASELINE.md §1/r4) — the
        # repeat de-noises the throughput metric; every wall is
        # reported, and the total charges ONLY the best run so repeats
        # don't inflate the suite number
        build_walls: list[float] = []
        repeats = int(os.environ.get("BENCH_BUILD_REPEATS", "2"))
        idx = None
        for i in range(max(1, repeats)):
            t0 = time.time()
            idx = build_index(
                spark,
                pages,
                idx_dir,
                IndexConfig(base_rate="auto"),
                force=True,
            )
            build_walls.append(time.time() - t0)
            # one window PER repeat so the joblog attribution can be run
            # against the same run the headline number comes from
            windows[f"build{i}"] = [t0, time.time()]
        best_i = build_walls.index(min(build_walls))
        build_sec = build_walls[best_i]
        # alias: the window of the run build_sec reports
        windows["build"] = windows[f"build{best_i}"]
        timings["index_build"] = round(build_sec, 4)
        total += build_sec

        # per-stage breakdown from the checkpoint manifests — the
        # scaling diagnosis needs to see WHICH stage stops scaling
        # (stage wall times overlap for the thread-parallel
        # post-postings stages, so they don't sum to build_sec)
        build_stages = {}
        for stage in ("docs", "postings", "term_stats", "block_max",
                      "segments", "posting_lists"):
            mf = os.path.join(idx_dir, stage, "_manifest.json")
            if os.path.exists(mf):
                with open(mf) as f:
                    build_stages[stage] = round(json.load(f)["wall_sec"], 2)
        build_stages.update(
            {f"phase:{k}": v
             for k, v in idx.build_metrics.get("phase_sec", {}).items()}
        )

        spark.catalog.clearCache()
        qdf = queries_to_df(spark, generate_queries(N_DOCS, seed=42, n_queries=N_QUERIES))
        t0 = time.time()
        res = Q.retrieve_auto(
            idx.postings, qdf, idx.term_stats, idx.params, idx.avgdl,
            n_docs=idx.n_docs, k=10, n_buckets=idx.config.n_buckets,
            # lucene impacts are provably non-negative — skip the
            # min_impact witness scan (robertson would route exhaustive)
            impacts_nonnegative=(idx.config.method != "robertson"),
        )
        n_rows = res.count()
        query_sec = time.time() - t0
        windows["query"] = [t0, time.time()]
        timings["query_top10"] = round(query_sec, 4)
        total += query_sec
        print(f"# build {N_DOCS} docs in {build_sec:.2f}s; "
              f"{N_QUERIES} queries in {query_sec:.2f}s ({n_rows} rows)", file=sys.stderr)

        # warm/amortized lane (VERDICT r5 #6): the layout a long-lived
        # service actually serves — pay the postings→doc_id re-layout
        # once (untimed, amortized), then run the same batch on the
        # persisted layout.  p = 2× cores won the r5 sweep at 16-wide
        # (BENCH/BASELINE.md §5); round-over-round regressions on this
        # path are now visible in the official record.
        warm_p = int(os.environ.get("BENCH_WARM_PARTS", str(max(2 * CPUS, 16))))
        src = Q.prepartition_for_scoring(idx.postings, warm_p)
        t0 = time.time()
        n_w = Q.retrieve_auto(
            src, qdf, idx.term_stats, idx.params, idx.avgdl,
            n_docs=idx.n_docs, k=10, n_buckets=idx.config.n_buckets,
            impacts_nonnegative=(idx.config.method != "robertson"),
            src_partitioned=True,
        ).count()
        warm_sec = time.time() - t0
        windows["query_warm"] = [t0, time.time()]
        timings["query_top10_warm"] = round(warm_sec, 4)
        total += warm_sec
        src.unpersist()
        print(f"# warm p={warm_p}: {warm_sec:.2f}s ({n_w} rows)", file=sys.stderr)

        # warm-layout sweep (BENCH_QUERY_PARTS="16,32,64"): pay the
        # postings→doc_id re-layout once per partition count (untimed —
        # a long-lived service amortizes it), then measure the batch on
        # the persisted layout.  This is the lever VERDICT r4 #3 names:
        # at 16-wide, fewer/larger scoring partitions cut per-task fixed
        # cost exposure.  The cold `query_top10` metric above is
        # untouched (round-3/4 comparability).
        warm_qps: dict[str, float] = {}
        if os.environ.get("BENCH_QUERY_PARTS"):
            for p in [int(x) for x in os.environ["BENCH_QUERY_PARTS"].split(",")]:
                src = Q.prepartition_for_scoring(idx.postings, p or None)
                t0 = time.time()
                n_w = Q.retrieve_auto(
                    src, qdf, idx.term_stats, idx.params, idx.avgdl,
                    n_docs=idx.n_docs, k=10, n_buckets=idx.config.n_buckets,
                    impacts_nonnegative=(idx.config.method != "robertson"),
                    src_partitioned=True,
                ).count()
                dt = time.time() - t0
                warm_qps[str(p)] = round(N_QUERIES / dt, 2)
                timings[f"query_warm_p{p}"] = round(dt, 4)
                src.unpersist()
                print(f"# warm p={p}: {dt:.2f}s ({n_w} rows)", file=sys.stderr)
    finally:
        shutil.rmtree(idx_dir, ignore_errors=True)
        shutil.rmtree(pages_dir, ignore_errors=True)

    out = {
        "metric": "headline-suite+index-build+top10-query wall time",
        "value": round(total, 4),
        "unit": "sec",
        "queries": timings,
        "sf": SF_DIR.rstrip("/").rsplit("sf", 1)[-1],
        "n_cores": CPUS,
        "bench_docs": N_DOCS,
        "bench_queries": N_QUERIES,
        "build_docs_per_sec": round(N_DOCS / timings["index_build"], 2),
        "query_qps": round(N_QUERIES / timings["query_top10"], 2),
        "query_qps_warm": round(N_QUERIES / timings["query_top10_warm"], 2),
        "warm_parts": warm_p,
        "build_stages": build_stages,
        "build_walls": [round(w, 4) for w in build_walls],
        # which repeat build_sec/build_docs_per_sec report (windows["build"]
        # aliases this run's window)
        "build_best_run": best_i,
        "registry_entries": len(SPARK_QUERIES),
        "unbenched_entries": unbenched,
    }
    canary_post = run_canary()
    print(f"# canary(post): {canary_post}", file=sys.stderr)
    out["canary"] = {"pre": canary_pre, "post": canary_post}
    out["canary_ok"] = bool(canary_pre["ok"] and canary_post["ok"])
    if warm_qps:
        out["query_warm_qps"] = warm_qps
    if os.environ.get("BENCH_EVENT_LOG_DIR"):
        out["app_id"] = spark.sparkContext.applicationId
        out["windows"] = {k: [round(v[0], 3), round(v[1], 3)] for k, v in windows.items()}
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
