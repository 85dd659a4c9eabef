"""Sinks (SURVEY.md §2.2 K1-K5).

- K1/K2 ``append_table`` — the Spark-native form of the reference's
  ``WRITE_APPEND`` + ``CREATE_IF_NEEDED`` loads and query-to-table
  operators (``cloud_composer/datapipeline_gcp.py:236-238,409-441``):
  ``df.write.mode("append").saveAsTable`` against the session catalog,
  with optional partitioning — the physical-layout decision BigQuery hid
  from the reference and the one that matters most at 100 TB.
- K4 ``archive_files`` — the "smart cleaner": move loaded landing files
  to an archive dir after a successful load
  (``datapipeline_gcp.py:258-269``; ``gsutil mv`` → same-FS rename).
- K5 ``write_manifest`` — the Pub/Sub publish of processed object names
  (``messaging/producer/main.py:6-8``) becomes an optional manifest
  file per batch (the file-arrival event itself is carried by the
  streaming file source, see ``streaming``).

Layering policy: raw tables partition by ``load_date`` (ingestion time);
master/business tables by their ``date`` column. Partition columns are
how Catalyst prunes 100 TB down to the days a query touches.
"""

from __future__ import annotations

import glob as globlib
import json
import os
import re
import shutil
import threading
import warnings
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

# Concurrent appends into the SAME catalog table race on CREATE TABLE
# (saveAsTable's create-if-needed is not atomic against the metastore;
# the losing writer can append its data, then fail the metadata op —
# and a retry then double-appends). Per-table locks serialize the
# metastore-touching write itself; Spark still parallelizes each job's
# tasks, so this costs nothing at scale — different tables still load
# fully concurrently.
#
# TWO layers (VERDICT r12 #7): a per-table threading.Lock serializes
# writers INSIDE this driver, and — when the warehouse lives on a local
# filesystem — an advisory flock on ``<warehouse>/_locks/<table>.lock``
# serializes writers across SEPARATE driver processes sharing the
# warehouse, closing the documented cross-process gap. Non-local
# warehouses (hdfs://, s3a://, gs://) cannot flock; there the contract
# stays one-writer-process-per-table — a multi-writer deployment wants
# a lakehouse table format whose commits are transactional (SCALE.md).
_TABLE_LOCKS: defaultdict[str, threading.Lock] = defaultdict(threading.Lock)
_LOCKS_GUARD = threading.Lock()


def _thread_lock(table: str) -> threading.Lock:
    with _LOCKS_GUARD:
        return _TABLE_LOCKS[table]


def _warehouse_lock_dir() -> str | None:
    """Directory for cross-process table lock files: ``_locks/`` under
    the active session's warehouse when that is a local path (bare or
    ``file:`` URI) — None when no session is active or the warehouse is
    on a filesystem that cannot flock."""
    spark = SparkSession.getActiveSession()
    if spark is None:
        return None
    try:
        wh = spark.conf.get("spark.sql.warehouse.dir")
    except Exception:
        return None
    if not wh:
        return None
    if "://" in wh and not wh.startswith("file:"):
        return None  # remote FS: advisory file locks don't apply
    return os.path.join(re.sub(r"^file:(//)?", "", wh), "_locks")


@contextmanager
def _table_lock(table: str):
    """Hold the per-table write lock: thread lock always, plus an
    exclusive ``fcntl.flock`` on the warehouse lock file when the
    warehouse is local — two processes appending the same table then
    serialize instead of racing saveAsTable's create-if-needed."""
    with _thread_lock(table):
        lock_dir = _warehouse_lock_dir()
        if lock_dir is None:
            yield
            return
        import fcntl

        os.makedirs(lock_dir, exist_ok=True)
        # "db.t" and "db_t" may collide after sanitizing — over-locking
        # is safe (coarser serialization, never a missed lock)
        fname = re.sub(r"[^A-Za-z0-9_.]", "_", table) + ".lock"
        with open(os.path.join(lock_dir, fname), "w") as fh:
            fcntl.flock(fh, fcntl.LOCK_EX)
            try:
                yield
            finally:
                fcntl.flock(fh, fcntl.LOCK_UN)


def ensure_layers(spark: SparkSession) -> None:
    """Create the three layer databases (the reference's BigQuery
    datasets raw_layer/master_layer/business_layer)."""
    for db in ("raw_layer", "master_layer", "business_layer"):
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")


def append_table(
    df: DataFrame,
    table: str,
    partition_by: list[str] | None = None,
    fmt: str = "parquet",
) -> None:
    """K1/K2 — append rows to a catalog table, creating it if needed.

    Matches the reference's load semantics exactly: append-only,
    create-if-needed, fixed schema. Reruns double rows by design
    (documented reference behavior — see ``plans.runner`` for the
    overwrite-by-run-date alternative).
    """
    writer = df.write.format(fmt).mode("append")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    with _table_lock(table):
        writer.saveAsTable(table)


def overwrite_partitions(
    df: DataFrame, table: str, partition_by: list[str], fmt: str = "parquet"
) -> None:
    """Idempotent alternative to ``append_table``: dynamic partition
    overwrite — only the partitions present in ``df`` are replaced, so a
    rerun for one run-date cannot double rows or touch other dates.
    """
    spark = df.sparkSession
    # Dynamic overwrite mode is pinned once per session (session.get_session)
    # and only read here. Setting it per write would mutate session-global
    # conf under the pipeline's concurrent load legs and stream batches,
    # and a static mode would truncate every partition of the table
    # instead of just the incoming ones. (The per-writer .option()
    # spelling is ignored by insertInto on catalog parquet tables, so the
    # session conf is the mechanism.)
    mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    if mode.lower() != "dynamic":
        raise RuntimeError(
            f"overwrite_partitions({table!r}) needs "
            "spark.sql.sources.partitionOverwriteMode=dynamic, the session "
            f"has {mode!r}: build the session with session.get_session or "
            "set the mode before any concurrent write starts"
        )
    with _table_lock(table):
        if not spark.catalog.tableExists(table):
            df.write.format(fmt).partitionBy(*partition_by).saveAsTable(table)
        else:
            df.write.format(fmt).mode("overwrite").insertInto(table)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
    fmt: str = "parquet",
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as a bucketed (and optionally sort-within-bucket)
    catalog table — the co-located-join storage layout (SCALE.md
    "what we'd change first on a real cluster" #1).

    Two tables bucketed on the same key with the same bucket count join
    WITHOUT a shuffle: each task reads matching bucket files from both
    sides, so the join is a per-bucket local hash/merge join. At 100 TB
    that removes the dominant Exchange from every recurring
    raw→master-shape join; the write pays one clustering shuffle ONCE,
    then every downstream join of any two co-bucketed tables is
    exchange-free (proved by the plan assertion in
    ``tests/test_scale_utils.py``). Sorting within buckets additionally
    lets Spark pick a sort-merge join with no Sort node.

    ``n_buckets`` should be sized so one bucket of the biggest table
    fits an executor core's working memory (same arithmetic as shuffle
    partitions — at 100 TB / 1000 buckets ≈ 100 GB per bucket: too big;
    pick thousands. Bucket counts must MATCH across tables you intend
    to co-join). Since the r13 one-file-per-bucket clustering, the
    sizing advice is load-bearing for the WRITE too: the repartition
    below caps write-stage parallelism at ``n_buckets`` tasks, each
    holding one whole bucket in memory — a too-small bucket count now
    means idle cores and fat tasks at volume, not just big files
    (a warning fires when the mismatch is gross).

    The input is clustered to ``n_buckets`` partitions on the bucket
    key first: ``repartition(n, cols)`` uses the same
    Murmur3-pmod hash family as Spark's bucket-id expression, so each
    write task holds exactly ONE bucket and writes exactly one file —
    without it every task writes a sliver of every bucket
    (tasks × buckets files; profiled in the incremental-dedup gate at
    32 × 8 near-empty parquet files per copy, §6 "small files hurt
    twice"). When the input is already partitioned that way (e.g. a
    bucketed-table read), the exchange is planned away.
    """
    cores = df.sparkSession.sparkContext.defaultParallelism
    if n_buckets * 8 <= cores:
        warnings.warn(
            f"write_bucketed({table!r}): n_buckets={n_buckets} caps the "
            f"write at {n_buckets} tasks on a {cores}-slot cluster — one "
            "task writes one whole bucket; pick a bucket count sized to "
            "the data (see docstring), not the co-join convenience",
            stacklevel=2,
        )
    df = df.repartition(n_buckets, *bucket_cols)
    writer = df.write.format(fmt).mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    with _table_lock(table):
        writer.saveAsTable(table)


def analyze_table(spark: SparkSession, table: str, columns: list[str] | None = None) -> None:
    """Compute table (and optionally column) statistics for the
    cost-based optimizer. At 100 TB, join reordering and broadcast
    decisions are only as good as these stats; run after large loads.
    """
    spark.sql(f"ANALYZE TABLE {table} COMPUTE STATISTICS")
    if columns:
        cols = ", ".join(columns)
        spark.sql(f"ANALYZE TABLE {table} COMPUTE STATISTICS FOR COLUMNS {cols}")


def archive_files(path_glob: str, archive_dir: str) -> list[str]:
    """K4 — move files matching the glob into the archive directory
    (same-filesystem rename, like the reference's ``gsutil mv``
    landing→loaded). Returns archived paths. Call only after the load
    action committed — ordering the reference also respects."""
    os.makedirs(archive_dir, exist_ok=True)
    moved = []
    for path in sorted(globlib.glob(path_glob)):
        dest = os.path.join(archive_dir, os.path.basename(path))
        shutil.move(path, dest)
        moved.append(dest)
    return moved


def write_manifest(paths: list[str], manifest_dir: str, batch_id: str) -> str:
    """K5 — record which files a batch processed (the Pub/Sub
    object-name messages, persisted instead of published)."""
    os.makedirs(manifest_dir, exist_ok=True)
    out = os.path.join(manifest_dir, f"batch_{batch_id}.json")
    with open(out, "w") as fh:
        json.dump({"batch_id": batch_id, "files": paths}, fh)
    return out
