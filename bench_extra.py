"""Extra benchmarks for the optimization rounds (guide §1: measure first).

NOT part of the frozen driver contract — bench.py stays the official
meter.  This harness isolates single entries / the index build so an
optimization's effect can be measured without the rest of the suite:

  python bench_extra.py entry bm25_topk [--repeat 3] [--noop] [--explain plans/r07/bm25_topk_before.txt]
  python bench_extra.py entries bm25_topk,probability_topk --repeat 2
  python bench_extra.py build [--repeat 2] [--docs 50000]
  python bench_extra.py query [--docs 50000] [--queries 200]

Methodology mirrors bench.py exactly: same session confs, same
``fn(spark, SF_DIR).count()`` timing (or a noop-sink write with --noop
per guide §1.4), cold-first within a fresh session.  Each run prints one
JSON line to stdout; job descriptions are set per phase (guide §1.5).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def make_spark():
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("bb25spark-bench-extra")
        .config("spark.sql.shuffle.partitions", str(max(CPUS * 4, 16)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("BENCH_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )


def run_entry(spark, name, repeat=1, noop=False, explain_path=None):
    from bayesian_bm25_spark.entry_queries import SPARK_QUERIES

    fn = SPARK_QUERIES[name]
    walls, rows = [], None
    for i in range(repeat):
        spark.sparkContext.setJobDescription(f"bench_extra:{name}#{i}")
        t0 = time.time()
        df = fn(spark, SF_DIR)
        if noop:
            df.write.format("noop").mode("overwrite").save()
            rows = -1
        else:
            rows = df.count()
        walls.append(round(time.time() - t0, 4))
        spark.sparkContext.setJobDescription(None)
    if explain_path:
        df = fn(spark, SF_DIR)
        os.makedirs(os.path.dirname(explain_path) or ".", exist_ok=True)
        with open(explain_path, "w") as f:
            f.write(df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"))
    return {"entry": name, "walls": walls, "rows": rows, "noop": noop}


def run_build(spark, n_docs, repeat):
    import shutil
    import tempfile

    from bayesian_bm25_spark.operators.index_build import IndexConfig, build_index
    from bayesian_bm25_spark.sources.webcorpus import generate_pages

    pages_dir = tempfile.mkdtemp(prefix="bb25_bx_pages_")
    idx_dir = tempfile.mkdtemp(prefix="bb25_bx_idx_")
    try:
        generate_pages(spark, n_docs, seed=42, num_partitions=max(CPUS, 8)).write.mode(
            "overwrite"
        ).parquet(pages_dir)
        pages = spark.read.parquet(pages_dir)
        walls, phases = [], []
        for i in range(repeat):
            spark.sparkContext.setJobDescription(f"bench_extra:build#{i}")
            t0 = time.time()
            idx = build_index(
                spark, pages, idx_dir,
                IndexConfig(base_rate="auto"), force=True,
            )
            walls.append(round(time.time() - t0, 4))
            phases.append(idx.build_metrics.get("phase_sec", {}))
        return {"build_walls": walls, "phases": phases, "n_docs": n_docs}
    finally:
        shutil.rmtree(idx_dir, ignore_errors=True)
        shutil.rmtree(pages_dir, ignore_errors=True)


def run_query(spark, n_docs, n_queries):
    import shutil
    import tempfile

    from bayesian_bm25_spark.operators import query as Q
    from bayesian_bm25_spark.operators.index_build import IndexConfig, build_index
    from bayesian_bm25_spark.sources.webcorpus import (
        generate_pages,
        generate_queries,
        queries_to_df,
    )

    pages_dir = tempfile.mkdtemp(prefix="bb25_bx_pages_")
    idx_dir = tempfile.mkdtemp(prefix="bb25_bx_idx_")
    try:
        generate_pages(spark, n_docs, seed=42, num_partitions=max(CPUS, 8)).write.mode(
            "overwrite"
        ).parquet(pages_dir)
        pages = spark.read.parquet(pages_dir)
        idx = build_index(
            spark, pages, idx_dir,
            IndexConfig(base_rate="auto"), force=True,
        )
        spark.catalog.clearCache()
        qdf = queries_to_df(spark, generate_queries(n_docs, seed=42, n_queries=n_queries))
        kw = dict(k=10, n_buckets=idx.config.n_buckets, impacts_nonnegative=True)
        spark.sparkContext.setJobDescription("bench_extra:query_cold")
        t0 = time.time()
        n = Q.retrieve_auto(idx.postings, qdf, idx.term_stats, idx.params, idx.avgdl,
                            n_docs=idx.n_docs, **kw).count()
        cold = round(time.time() - t0, 4)
        src = Q.prepartition_for_scoring(idx.postings, max(2 * CPUS, 16))
        spark.sparkContext.setJobDescription("bench_extra:query_warm")
        t0 = time.time()
        Q.retrieve_auto(src, qdf, idx.term_stats, idx.params, idx.avgdl,
                        n_docs=idx.n_docs, src_partitioned=True, **kw).count()
        warm = round(time.time() - t0, 4)
        src.unpersist()
        return {"query_cold": cold, "query_warm": warm, "rows": n}
    finally:
        shutil.rmtree(idx_dir, ignore_errors=True)
        shutil.rmtree(pages_dir, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=["entry", "entries", "build", "query"])
    ap.add_argument("names", nargs="?", default="")
    ap.add_argument("--repeat", type=int, default=1)
    ap.add_argument("--noop", action="store_true")
    ap.add_argument("--explain", default=None)
    ap.add_argument("--docs", type=int, default=int(os.environ.get("BENCH_N_DOCS", "50000")))
    ap.add_argument("--queries", type=int, default=int(os.environ.get("BENCH_N_QUERIES", "200")))
    args = ap.parse_args()

    spark = make_spark()
    spark.sparkContext.setLogLevel("ERROR")
    out: dict = {"sf": SF_DIR, "cpus": CPUS}
    if args.mode == "entry":
        out.update(run_entry(spark, args.names, args.repeat, args.noop, args.explain))
    elif args.mode == "entries":
        out["results"] = [
            run_entry(spark, n.strip(), args.repeat, args.noop)
            for n in args.names.split(",") if n.strip()
        ]
    elif args.mode == "build":
        out.update(run_build(spark, args.docs, args.repeat))
    elif args.mode == "query":
        out.update(run_query(spark, args.docs, args.queries))
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
