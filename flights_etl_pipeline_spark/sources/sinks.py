"""Sinks: partitioned parquet append, managed/external tables, catalog and
filesystem DDL (S4, S5, S8, S9).

Differences from the reference, by design:
- No ``repartition(10000)`` before writes (defect D9) -- AQE coalescing
  sizes output partitions; ``maxRecordsPerFile`` bounds file size instead
  of a magic shuffle width.
- ``partitionOverwriteMode=dynamic`` (set in session.py) makes re-runs of
  a day idempotent instead of appending duplicates.
- The reference's chunked-write loop (transformToSilver.py:100-122, with
  defect D1's stale bounds) is unnecessary: a partitioned write streams
  per-task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_partitioned_parquet(
    df: DataFrame,
    path: str,
    partition_cols: tuple[str, ...] = ("year", "month", "day"),
    mode: str = "append",
    max_records_per_file: int = 5_000_000,
) -> None:
    """S4: hive-layout partitioned parquet write
    (ingestToBronze.py:84; transformToSilver.py:118); with no
    ``partition_cols``, a plain parquet directory."""
    (
        df.write.partitionBy(*partition_cols)
        .option("maxRecordsPerFile", str(max_records_per_file))
        .mode(mode)
        .parquet(path)
    )


def save_as_table(
    df: DataFrame,
    database: str,
    table: str,
    path: str | None = None,
    partition_cols: tuple[str, ...] = (),
    mode: str = "append",
) -> None:
    """S5: saveAsTable into a database, optionally external (``path``) and
    partitioned (updateToGold.py:47-48; loadToWarehouse.py:44-78)."""
    writer = df.write.mode(mode)
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(f"{database}.{table}")


def write_bucketed_table(
    df: DataFrame,
    database: str,
    table: str,
    bucket_col: str,
    n_buckets: int,
    sort_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed table: the storage layout that makes the repo's
    recurring "at 100 TB, bucket both sides on the join key" posture a
    real artifact instead of a docstring claim. ``bucketBy(n, col)``
    hash-partitions rows into n files per write-task group; two tables
    bucketed on the same key with the same n join WITHOUT an Exchange
    (Spark matches HashClusteredDistribution to the bucket spec), and
    a groupBy on the bucket key aggregates without a shuffle.
    ``sortBy`` additionally pre-sorts within buckets so sort-merge
    joins skip the per-partition sort. Verified by
    tests/test_bucketed_join.py, which asserts the joined plan of two
    co-bucketed tables contains zero Exchange operators.

    The reference has no bucketing (its warehouse tables are
    date-partitioned only, loadToWarehouse.py:44-78); this is the
    §2.1-family extension Spark offers for shuffle elimination.

    When sorting, the frame is first repartitioned on the bucket column
    into n_buckets partitions (same Murmur3 hash as the bucket spec),
    so every bucket lands in exactly ONE file — the layout Spark
    requires before it will trust bucket files as pre-sorted at read
    time (multiple files per bucket force a read-side re-Sort, and at
    warehouse scale one fat file per bucket is also the compaction-
    friendly layout)."""
    if sort_col is not None:
        df = df.repartition(n_buckets, F.col(bucket_col))
    writer = df.write.mode(mode).bucketBy(n_buckets, bucket_col)
    if sort_col is not None:
        writer = writer.sortBy(sort_col)
    writer.saveAsTable(f"{database}.{table}")


def ensure_database(spark: SparkSession, database: str) -> None:
    """S9: CREATE DATABASE IF NOT EXISTS (flight_pipeline.py:42-45)."""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {database}")


def mkdirs(spark: SparkSession, path: str) -> bool:
    """S8: filesystem mkdir -p via the JVM FileSystem API
    (the DAG's BashOperator hdfs mkdirs, flight_pipeline.py:29-37)."""
    jvm = spark.sparkContext._jvm
    jsc = spark.sparkContext._jsc
    hadoop_path = jvm.org.apache.hadoop.fs.Path(path)
    fs = hadoop_path.getFileSystem(jsc.hadoopConfiguration())
    return bool(fs.mkdirs(hadoop_path))


def compact_parquet_dir(
    spark: SparkSession,
    path: str,
    target_records_per_file: int = 5_000_000,
) -> tuple[int, int]:
    """Small-file compaction for a parquet directory: rewrite the data
    into files of ~``target_records_per_file`` rows and atomically swap.

    The small-files problem is the warehouse-maintenance twin of the
    reference's defect D9 (``repartition(10000)`` producing 10k tiny
    files per write, updateToGold.py:41): streaming appends and
    over-parallel writers degrade scan throughput (one footer parse +
    seek per file) until a compactor rewrites them. Returns
    (files_before, files_after).

    Scale notes: the rewrite is one distributed scan + write with AQE
    coalescing the shuffle-free pass-through; the swap is
    directory-rename atomic on HDFS/local (object stores need a
    manifest commit instead). Partitioned layouts compact per-partition
    directory so a failed swap never mixes generations.
    """
    import glob
    import os
    import shutil
    import uuid

    def _count_files(p: str) -> int:
        return len(
            [
                f
                for f in glob.glob(os.path.join(p, "**", "*.parquet"), recursive=True)
                if os.path.isfile(f)
            ]
        )

    before = _count_files(path)
    tmp = f"{path}.compact-{uuid.uuid4().hex[:8]}"
    df = spark.read.parquet(path)
    # a pass-through write keeps one output file per input split, so a
    # 1000-tiny-file dir would stay 1000 files; coalesce (shuffle-free
    # narrow repack) to the row-count-derived target, with
    # maxRecordsPerFile as the upper-bound guard
    n_rows = df.count()
    n_files = max(1, -(-n_rows // target_records_per_file))
    (
        df.coalesce(n_files)
        .write.option("maxRecordsPerFile", str(target_records_per_file))
        .mode("overwrite")
        .parquet(tmp)
    )
    old = f"{path}.old-{uuid.uuid4().hex[:8]}"
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)
    return before, _count_files(path)


def retention_delete(
    spark: SparkSession,
    path: str,
    cutoff: dict[str, int],
    dry_run: bool = True,
) -> list[str]:
    """Partition-retention GC for a hive-layout directory: drop every
    leaf partition strictly OLDER than ``cutoff`` (e.g. ``{"year":
    2024, "month": 3}`` keeps 2024-03 onward), comparing the partition
    tuple lexicographically. Returns the affected partition paths;
    with ``dry_run=True`` (the default) nothing is deleted.

    This is the other half of warehouse maintenance next to
    ``compact_parquet_dir``: retention works on partition DIRECTORIES
    (an O(partitions) metadata walk + directory deletes), never by
    scanning rows — a row-level ``DELETE WHERE ts < cutoff`` would read
    and rewrite 100 TB to drop the oldest 5%. The dry-run default plus
    returned path list is the operator-safety contract: inspect, then
    re-invoke with dry_run=False.
    """
    jvm = spark.sparkContext._jvm
    jsc = spark.sparkContext._jsc
    root = jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(jsc.hadoopConfiguration())

    keys = list(cutoff.keys())
    cut = tuple(int(cutoff[k]) for k in keys)

    def _walk(p, depth: int, vals: tuple[int, ...]) -> list:
        if depth == len(keys):
            return [(vals, p)]
        out = []
        for st in fs.listStatus(p):
            if not st.isDirectory():
                continue
            name = st.getPath().getName()
            prefix = f"{keys[depth]}="
            if not name.startswith(prefix):
                continue
            try:
                val = int(name[len(prefix):])
            except ValueError:
                # non-conforming directory (e.g. month=__HIVE_DEFAULT
                # or stray data): never a retention candidate — skip,
                # don't crash the GC sweep
                continue
            out.extend(_walk(st.getPath(), depth + 1, vals + (val,)))
        return out

    doomed = [
        (vals, p) for vals, p in _walk(root, 0, ()) if vals < cut
    ]
    if not dry_run:
        for _vals, p in doomed:
            fs.delete(p, True)
        # prune ancestors emptied by the leaf deletes (year=2023/ after
        # all its months are gone) so listings don't accumulate husks;
        # walk bottom-up, stop at the table root
        for _vals, p in doomed:
            parent = p.getParent()
            while parent is not None and parent.toString() != root.toString():
                if fs.exists(parent) and len(fs.listStatus(parent)) == 0:
                    fs.delete(parent, False)
                    parent = parent.getParent()
                else:
                    break
    return [p.toString() for _vals, p in doomed]
