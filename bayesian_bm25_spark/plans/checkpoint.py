"""Resumable stage checkpoints with lineage manifests.

Every index-build stage writes its output as parquet plus a
``_manifest.json`` recording the stage name, input manifests (lineage),
the build config, row count and per-partition row counts.  A re-run
that finds a complete manifest of the same config skips recomputation
and reads the parquet back — the build is resumable from any stage
boundary, which is the checkpoint/lineage contract of the north rule.
(The reference has a single in-memory build; persistence there is a
.npz cache, reference benchmarks/hybrid_beir.py:303-373.)
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession

MANIFEST_NAME = "_manifest.json"


def manifest_path(stage_dir: str) -> str:
    return os.path.join(stage_dir, MANIFEST_NAME)


def is_complete(stage_dir: str, config: dict | None = None) -> bool:
    """The stage has its manifest AND at least one parquet file: a
    manifest over a directory whose data is gone makes the stage
    rebuild, instead of failing to infer a schema on read.

    With ``config`` (a build config, as ``run_stage`` takes it), the
    manifest must also record that config: a stage built under another
    config, or whose manifest records none, is incomplete."""
    if not os.path.exists(manifest_path(stage_dir)):
        return False
    # compared as the manifest reads back: a tuple is stored as a list
    if config is not None and read_manifest(stage_dir).get("config") != json.loads(
        json.dumps(config)
    ):
        return False
    return any(
        fn.endswith(".parquet") for _root, _dirs, files in os.walk(stage_dir) for fn in files
    )


def read_manifest(stage_dir: str) -> dict:
    with open(manifest_path(stage_dir)) as f:
        return json.load(f)


def _parquet_file_rows(stage_dir: str) -> list[int]:
    import pyarrow.parquet as pq

    counts = []
    for root, _dirs, files in os.walk(stage_dir):
        for fn in sorted(files):
            if fn.endswith(".parquet"):
                counts.append(pq.ParquetFile(os.path.join(root, fn)).metadata.num_rows)
    return counts


def write_stage(
    df: DataFrame,
    stage_dir: str,
    *,
    stage: str,
    inputs: list[str] | None = None,
    partition_by: list[str] | None = None,
    compression: str | None = None,
    config: dict | None = None,
) -> DataFrame:
    """Write ``df`` as a checkpointed stage and return the re-read frame.

    Re-reading (rather than reusing ``df``) truncates the lineage for
    downstream stages and makes the checkpoint the real recovery point.
    """
    spark = df.sparkSession
    t0 = time.time()
    writer = df.write.mode("overwrite")
    if compression:
        # per-stage codec override: query-HOT tables (postings) stay on
        # cheap-to-decode snappy; write-once checkpoint stages default
        # to the session codec (zstd during builds — see index_build)
        writer = writer.option("compression", compression)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(stage_dir)
    out = spark.read.parquet(stage_dir)

    # per-file row counts straight from the parquet footers — no extra
    # Spark scan (a file is the unit of read parallelism, so these are
    # the per-partition metrics the manifest promises)
    part_counts = _parquet_file_rows(stage_dir)

    manifest = {
        "stage": stage,
        "path": stage_dir,
        "written_at_unix": t0,
        "wall_sec": time.time() - t0,
        "n_rows": int(sum(part_counts)),
        "n_read_partitions": len(part_counts),
        "partition_row_counts": part_counts,
        "inputs": inputs or [],
        "config": config,
    }
    with open(manifest_path(stage_dir), "w") as f:
        json.dump(manifest, f, indent=2)
    return out


def run_stage(
    spark: SparkSession,
    stage_dir: str,
    build_fn,
    *,
    stage: str,
    inputs: list[str] | None = None,
    partition_by: list[str] | None = None,
    force: bool = False,
    compression: str | None = None,
    config: dict | None = None,
) -> DataFrame:
    """Execute ``build_fn()`` unless a complete checkpoint already
    exists.  ``config`` (the build config, JSON-serializable) is
    recorded in the manifest, and a checkpoint built under another
    config is rebuilt."""
    if not force and is_complete(stage_dir, config):
        return spark.read.parquet(stage_dir)
    return write_stage(
        build_fn(),
        stage_dir,
        stage=stage,
        inputs=inputs,
        partition_by=partition_by,
        compression=compression,
        config=config,
    )
