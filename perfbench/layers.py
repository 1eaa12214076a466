"""Per-layer measurements for `--trace 1` runs.

Layers are measured from outside the package: spans around the calls the
benchmark makes into each layer, the artifacts a build leaves on disk,
single-threaded probes of the kernels, and the Spark event log joined to
the spans through tools/joblog.py.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from pathlib import Path

import numpy as np

STAGES = ("docs", "postings", "posting_lists", "term_stats", "block_max")
PHASES = ("docs", "corpus_stats", "postings", "compressed_lists", "term_stats",
          "block_max", "params", "parallel_group")


def cache_mb(spark) -> float:
    """Block-manager memory plus disk held by cached and checkpointed data."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 1e6


def descendants(pids: set[int]) -> set[int]:
    """``pids`` and every process below them."""
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
    out, todo = set(pids), list(pids)
    while todo:
        p = todo.pop()
        kids = [c for c, pp in parent.items() if pp == p and c not in out]
        out.update(kids)
        todo.extend(kids)
    return out


def peak_rss_mb(spark) -> float:
    """Sum of each process's peak resident set (VmHWM): this Python, the
    JVM and the JVM's Python workers."""
    jvm = spark.sparkContext._gateway.proc.pid
    total = 0
    for pid in descendants({os.getpid(), jvm}):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            continue
    return total / 1024.0


def _stage_files(stage_dir: Path) -> list[Path]:
    return [p for p in stage_dir.rglob("*.parquet") if p.is_file()]


def build_layers(run, idx, setup_phases: list[dict], pages) -> None:
    """index_build phases (median over the set-ups), checkpoint artifacts,
    a tokenize probe and a postings_codec round trip of the built lists."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from bayesian_bm25_spark.kernel.postings_codec import (
        decode_posting_list,
        encode_posting_list,
    )
    from bayesian_bm25_spark.operators.index_build import tokenize_pages
    from bayesian_bm25_spark.plans.checkpoint import read_manifest

    for ph in PHASES:
        run.layer(f"index_build.{ph}_s", statistics.median(p.get(ph, 0.0) for p in setup_phases))
    for part in run.setup_parts[0]:
        run.layer(part, statistics.median(p[part] for p in run.setup_parts))
    run.layer("index_build.docs_per_s", idx.n_docs / run.layers["index_build.build_s"])
    serial = sum(run.layers[f"index_build.{p}_s"] for p in ("docs", "corpus_stats", "postings"))
    members = sum(run.layers[f"index_build.{p}_s"]
                  for p in ("compressed_lists", "term_stats", "block_max", "params"))
    print(f"# build accounting: docs + corpus_stats + postings {serial:.2f} s + parallel_group "
          f"{run.layers['index_build.parallel_group_s']:.2f} s of build {run.layers['index_build.build_s']:.2f} s; "
          f"the group's members sum to {members:.2f} s because they overlap")

    walls = []
    for _ in range(3):
        t0 = time.perf_counter()
        tokenize_pages(pages).write.format("noop").mode("overwrite").save()
        walls.append(time.perf_counter() - t0)
    run.layer("index_build.tokenize_rows_per_s", idx.n_docs / statistics.median(walls))

    root, index_bytes = Path(idx.path), 0
    for stage in STAGES:
        files = _stage_files(root / stage)
        size = sum(p.stat().st_size for p in files)
        index_bytes += size
        run.layer(f"checkpoint.{stage}.bytes", size)
        run.layer(f"checkpoint.{stage}.files", len(files))
        run.layer(f"checkpoint.{stage}.rows", read_manifest(str(root / stage))["n_rows"])
    text = pages.select("text").toArrow().column("text")
    run.layer("checkpoint.index_bytes_per_text_byte",
              index_bytes / pc.sum(pc.binary_length(text)).as_py())

    lists = pq.read_table(root / "posting_lists", columns=["payload"]).column("payload").to_pylist()
    mb = sum(len(b) for b in lists) / 1e6
    enc, dec = [], []
    for _ in range(3):
        t0 = time.perf_counter()
        arrays = [decode_posting_list(b) for b in lists]
        t1 = time.perf_counter()
        again = [encode_posting_list(*a) for a in arrays]
        dec.append(t1 - t0)
        enc.append(time.perf_counter() - t1)
    with run.op("check:posting_lists_roundtrip", timed=False) as op:
        if again != lists:
            op.fail("re-encoding the decoded posting lists changed their bytes")
    run.layer("postings_codec.decode_mb_s", mb / statistics.median(dec))
    run.layer("postings_codec.encode_mb_s", mb / statistics.median(enc))


def query_layers(run, scorer, batches: list[list[list[str]]], timed: list[float],
                 k: int = 10) -> None:
    """Nested spans per batch, after the timed loop: score_queries to a
    noop sink, then retrieve_auto to a noop sink, then the facade call;
    plus exact per-batch counts.  A layer's time is its span minus the
    span nested in it.  ``timed`` holds the latencies the timed loop
    measured for the same batches, which the layers must account for."""
    import pyarrow.parquet as pq

    from bayesian_bm25_spark.functions.xxhash import term_bucket
    from bayesian_bm25_spark.operators import query as Q
    from bayesian_bm25_spark.sources.webcorpus import queries_to_df

    idx = scorer.spark_index
    nb = idx.config.n_buckets
    bucket_rows: dict[int, int] = {}
    for p in _stage_files(Path(idx.path) / "postings"):
        b = int(p.parent.name.split("=", 1)[1])
        bucket_rows[b] = bucket_rows.get(b, 0) + pq.ParquetFile(p).metadata.num_rows
    df = dict(idx.term_stats.select("term", "df").toPandas().itertuples(index=False))
    src = Q.prepartition_for_scoring(idx.postings)

    def noop(frame) -> float:
        t0 = time.perf_counter()
        frame.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    sums: dict[str, float] = {}
    for i, batch in enumerate(batches):
        qdf = queries_to_df(run.spark, batch)
        terms = sorted({t for q in batch for t in q})
        t0 = time.perf_counter()
        buckets = {term_bucket(t, nb) for t in terms}
        hash_s = time.perf_counter() - t0
        score = lambda: Q.score_queries(  # noqa: E731
            src, qdf, n_buckets=nb, driver_terms=terms, co_partition=False)
        t_score = noop(score())
        t_route = noop(Q.retrieve_auto(
            src, qdf, idx.term_stats, idx.params, idx.avgdl, n_docs=idx.n_docs, k=k,
            n_buckets=nb, impacts_nonnegative=idx.config.method != "robertson",
            driver_terms=terms, src_partitioned=True))
        t0 = time.perf_counter()
        doc_ids, _ = scorer.retrieve(batch, k=k)
        t_api = time.perf_counter() - t0
        counts = {
            "xxhash.bucket_ms": 1e3 * hash_s,
            "query.buckets": len(buckets),
            "query.pruned_rows": sum(bucket_rows.get(b, 0) for b in
                                     (buckets if len(buckets) < nb else bucket_rows)),
            "query.joined_rows": sum(df.get(t, 0) for q in batch for t in set(q)),
            "query.candidates": score().count(),
            "query.result_rows": int(np.sum(doc_ids >= 0)),
            "query.score_s": t_score,
            "query.topk_prob_s": t_route - t_score,
            "api.collect_s": t_api - t_route,
            "api.retrieve_s": t_api,
        }
        for name in ("query.topk_prob_s", "api.collect_s"):
            if counts[name] < 0:
                print(f"# WARNING batch {i}: {name} = {counts[name]:+.3f} s is negative; "
                      f"the enclosing span ran faster than the span nested in it")
        for name, v in counts.items():
            sums[name] = sums.get(name, 0.0) + v
    src.unpersist()
    for name, v in sums.items():
        run.layer(name, v / len(batches))
    lay = run.layers
    print(f"# serve accounting, mean per batch over {len(batches)} batches: score "
          f"{lay['query.score_s']:.3f} + topk_prob {lay['query.topk_prob_s']:.3f} + collect "
          f"{lay['api.collect_s']:.3f} = {lay['api.retrieve_s']:.3f} s traced facade retrieve")
    mean, median = statistics.fmean(timed), statistics.median(timed)
    gap = lay["api.retrieve_s"] - mean
    print(f"# serve accounting: the timed loop measured the same batches at mean {mean:.3f} s, "
          f"median {median:.3f} s; traced minus timed mean = {gap:+.3f} s ({100 * gap / mean:+.1f}%)")


def _stages_and_spill(log: str | list[str], windows: list[tuple[float, float]]):
    """Per window: completed stages and disk-spilled MB (joblog's
    task_stats covers the other task metrics but not these two)."""
    out = [[0, 0.0] for _ in windows]
    for path in [log] if isinstance(log, str) else log:
        with open(path, encoding="utf-8", errors="replace") as f:
            for line in f:
                if '"SparkListenerStageCompleted"' in line:
                    info = json.loads(line)["Stage Info"]
                    t = info.get("Completion Time", 0) / 1000.0
                    for i, (a, b) in enumerate(windows):
                        out[i][0] += a <= t <= b
                elif '"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    t = (ev.get("Task Info") or {}).get("Finish Time", 0) / 1000.0
                    spilled = (ev.get("Task Metrics") or {}).get("Disk Bytes Spilled", 0)
                    for i, (a, b) in enumerate(windows):
                        if a <= t <= b:
                            out[i][1] += spilled / 1e6
    return out


def spark_layers(run, event_dir: Path, app_id: str) -> None:
    """spark.<span>.* per set-up and per timed operation, from the event log."""
    from tools.joblog import analyze_window, find_log, load_jobs, task_stats

    log = find_log(str(event_dir), app_id)
    jobs = load_jobs(log)
    groups = {"setup": run.setup_windows, "op": run.loop_windows}
    per = {"setup": len(run.setup_windows), "op": max(1, sum(o.timed for o in run.ops))}
    extra = _stages_and_spill(log, [w for ws in groups.values() for w in ws])
    i = 0
    for group, windows in groups.items():
        tot: dict[str, float] = {}
        for a, b in windows:
            job = analyze_window(jobs, a, b)
            task = task_stats(log, a, b, run.cores)
            stages, spill = extra[i]
            i += 1
            for name, v in {
                "jobs": job["n_jobs"], "stages": stages, "tasks": task["n_tasks"],
                "task_s": task["task_sec"], "task_cpu_s": task["cpu_sec"],
                "gc_s": task["gc_sec"], "shuffle_write_mb": task["shuffle_write_mb"],
                "shuffle_read_mb": task["shuffle_read_mb"],
                "fetch_wait_s": task["fetch_wait_sec"], "spill_mb": spill,
                "idle_s": job["gap_sec"], "wall_s": b - a,
            }.items():
                tot[name] = tot.get(name, 0.0) + v
        for name, v in tot.items():
            if name != "wall_s":
                run.layer(f"spark.{group}.{name}", v / per[group])
        run.layer(f"spark.{group}.util_pct", 100.0 * tot["task_s"] / (tot["wall_s"] * run.cores))


def finish_layers(run, values: dict, event_dir: Path, app_id: str, untraced: Path) -> None:
    """Layers every workload reports, after the session has stopped, and
    the tracing overhead against an untraced run of the same workload and
    seed.  The overhead is only printed: it is not a per-layer metric,
    because without such a run there is nothing to subtract."""
    spark_layers(run, event_dir, app_id)
    run.layer("spark.cache_mb", run.memory["cache_mb"])
    run.layer("trace.latency_p50_s", values["latency_p50_s"])
    run.layer("trace.setup_s", values["setup_s"])
    if not untraced.exists():
        print(f"# tracing overhead: unknown, no untraced run with this seed ({untraced.name})")
        return
    with open(untraced) as f:
        base = json.load(f)
    when = time.strftime("%Y-%m-%d %H:%M:%S UTC", time.gmtime(base["finished"]))
    for name in ("latency_p50_s", "setup_s"):
        traced, plain = values[name], base["metrics"][name]
        print(f"# tracing overhead: {name} {traced:.4f} s traced - {plain:.4f} s untraced "
              f"= {traced - plain:+.4f} s (untraced run of this seed finished {when}; "
              f"the host's speed drifts between runs, so read this as a rough figure)")
