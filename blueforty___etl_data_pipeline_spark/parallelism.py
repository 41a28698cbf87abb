"""Scan-parallelism repair for compute-heavy passes over small inputs.

A parquet scan parallelizes at ROW-GROUP granularity: a table written
as one file with one row group is read by exactly one task no matter
how many cores the session has, and every expensive per-row expression
fused into that scan stage (hash folds, per-row vector math, shingle
explodes) runs serially while the rest of the cluster idles.  This is
the guide's §2.5 "input skew: one huge unsplittable file" case — the
prescribed fix is to repartition immediately after the read.

``spread_scan`` applies that fix ADAPTIVELY: it estimates the scan's
task count from the input files backing the frame (pure driver-side
metadata — no job, no plan materialization) and inserts a round-robin
repartition to the session's default parallelism ONLY when the scan is
starved relative to it.  At real scale the estimate exceeds the core
count and the frame is returned untouched — the exchange exists only
where it buys compute spread, so the helper is a no-op on the 100 TB
path by construction (nothing here is tuned to local mode).

Use it ONLY under operators whose results are partition-order
invariant (exact aggregates over integers/decimals, min/max/count,
windows with total deterministic ordering) — which is the engine's
standard contract anyway (every query hash-matches a sequential
oracle).  The keyless repartition itself is deterministic under task
retry: Spark sorts input rows before round-robin assignment
(``spark.sql.execution.sortBeforeRepartition``, on by default).
"""

from __future__ import annotations

import os
from urllib.parse import unquote, urlparse

from pyspark.errors import NumberFormatException
from pyspark.sql import DataFrame, SparkSession

__all__ = ["spread_scan"]


def _local_size(uri: str) -> int | None:
    """Size of a local input file, or None when it is unknown: a remote
    filesystem (``s3://``, ``hdfs://``, ...) or a file that cannot be
    stat'ed."""
    parsed = urlparse(uri)
    if parsed.scheme not in ("", "file"):
        return None
    try:
        return os.path.getsize(unquote(parsed.path))
    except OSError:
        return None


def _max_partition_bytes(spark: SparkSession) -> int:
    """``spark.sql.files.maxPartitionBytes`` in bytes, unit suffixes
    (``b/k/m/g/...``) parsed the way Spark parses them; the conf's
    128 MiB default when the value cannot be parsed."""
    try:
        raw = spark.conf.get("spark.sql.files.maxPartitionBytes")
        utils = spark.sparkContext._jvm.org.apache.spark.network.util.JavaUtils
        return int(utils.byteStringAsBytes(raw))
    except NumberFormatException:
        return 128 << 20


def spread_scan(df: DataFrame, min_rows_per_task: int | None = None) -> DataFrame:
    """Round-robin repartition ``df`` to the session's default
    parallelism when its underlying scan cannot supply that many
    tasks; identity otherwise.

    The scan's achievable parallelism is estimated as
    ``max(n_files, total_bytes // maxPartitionBytes)`` — one task per
    file floor (row-group granularity; the engine's fixtures and
    sidecar tables are single-row-group), plus the split count for
    large files.  The estimate errs high for many-small-file tables
    (packing), which makes the helper conservatively skip — correct,
    since such scans are already parallel.  When any input's size is
    unknown (a remote filesystem) the frame is returned unchanged: a
    large remote table must never get a full round-robin shuffle.
    """
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    if par <= 1:
        return df
    try:
        files = df.inputFiles()
    except Exception:
        return df
    if not files:
        return df
    sizes = [_local_size(f) for f in files]
    if None in sizes:
        return df
    est_tasks = max(len(files), sum(sizes) // _max_partition_bytes(spark))
    if est_tasks >= par:
        return df
    return df.repartition(par)
