"""Sinks: parquet writers (flat + Hive-partitioned), reference K1/K2.

The reference writes five tables with ``mode('overwrite')`` (etl.py:46-48,
62,95,134-136,171-173) and repartitions only ``songplays`` before the
partitioned write, which is why its golden ``users`` table is 85 files for
104 rows (SURVEY.md §4.3.8).  This writer always right-sizes output files:
an explicit repartition on the partition columns for partitioned writes
(so each Hive partition is written by few tasks), or an AQE-coalesced
repartition for flat writes.

The partitioned repartition carries an explicit count,
``spark.sql.shuffle.partitions`` (``by_partition``).  Hashing on the
partition columns already sends each output directory to exactly one
task, so the file count is fixed by the data; what the count decides
is how many tasks share the writing.  Without it AQE coalesces a small
shuffle into one partition, and a single task writes every directory,
one after another, while the other slots idle.  AQE never coalesces a
repartition whose count is given.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame


def by_partition(df: DataFrame, partition_by: Sequence[str]) -> DataFrame:
    """Hash-shuffle on the partition columns (reference X1, etl.py:169)
    into ``spark.sql.shuffle.partitions`` tasks: each output directory is
    written by exactly one task, and the directories are spread over
    every slot (see the module docstring)."""
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return df.repartition(n, *partition_by)


def write_parquet(
    df: DataFrame,
    path: str,
    partition_by: Sequence[str] | None = None,
    mode: str = "overwrite",
    target_files: int | None = None,
    partition_overwrite_mode: str | None = None,
) -> None:
    """Parquet sink.  ``partition_overwrite_mode`` sets this write's
    ``partitionOverwriteMode``: ``"static"`` replaces the whole table, as
    a plain ``mode('overwrite')`` does; ``None`` keeps the session default
    (``dynamic``: only the partitions the data touches are replaced)."""
    if partition_by:
        # the dynamic-partition writer then sorts within tasks for free
        df = by_partition(df, partition_by)
    elif target_files is not None:
        df = df.coalesce(target_files)
    writer = df.write.mode(mode)
    if partition_overwrite_mode is not None:
        writer = writer.option("partitionOverwriteMode", partition_overwrite_mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_bucketed_table(
    df: DataFrame,
    name: str,
    path: str,
    bucket_by: Sequence[str],
    n_buckets: int = 32,
    sort_by: Sequence[str] | None = None,
) -> None:
    """Bucketed external parquet table: rows hash-partitioned into
    ``n_buckets`` files per partition by ``bucket_by``, optionally sorted.

    The 100 TB co-location play: two tables bucketed the same way join
    WITHOUT an Exchange — the shuffle was paid once at write time and is
    amortized over every subsequent join/aggregate on the bucket key
    (verified by plan assertion in tests/test_plans.py).  Requires
    ``saveAsTable`` (bucket metadata lives in the catalog, not the files).
    """
    writer = df.write.mode("overwrite").format("parquet").bucketBy(n_buckets, *bucket_by)
    if sort_by:
        writer = writer.sortBy(*sort_by)
    writer.option("path", path).saveAsTable(name)


def compact_parquet(
    spark,
    src_path: str,
    dst_path: str,
    target_file_mb: int = 128,
) -> int:
    """Small-files compaction: rewrite a parquet directory into
    ~``target_file_mb`` files (the long-tail killer for streaming sinks
    and over-parallel writes — a 100 TB table of 1 MB files spends more
    time opening footers than reading data).  Returns the file count
    written.  Sizing is from the actual on-disk bytes, not row counts, so
    compression ratio is accounted for."""
    import math
    import os

    total = sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(src_path)
        for f in files
        if f.endswith(".parquet")
    )
    n = max(1, math.ceil(total / (target_file_mb * 1024 * 1024)))
    df = spark.read.parquet(src_path)
    df.repartition(n).write.mode("overwrite").parquet(dst_path)
    return n


def write_clustered_parquet(
    df: DataFrame,
    path: str,
    cluster_by: Sequence[str],
    target_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Range-clustered parquet: rows range-partitioned across files and
    sorted within them on ``cluster_by``.

    Every parquet footer then carries tight, near-disjoint min/max stats
    for the cluster columns, so a selective read skips whole files and
    row groups instead of scanning them — the zone-map/Z-order play for
    100 TB tables whose hot predicates are known (ship a fact table
    clustered by date, read one day = touch ~1/365th of the files).
    `repartitionByRange` samples the data to build balanced range bounds,
    so skew in the cluster key doesn't produce jumbo files.
    """
    n = target_files or df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    df = df.repartitionByRange(int(n), *cluster_by).sortWithinPartitions(*cluster_by)
    df.write.mode(mode).parquet(path)


def zorder_key(cols: Sequence[str], bits: int = 16) -> "Column":
    """Morton (Z-order) interleave of ``cols`` as one int64 sort key.

    Each column is masked to its low ``bits`` bits and the bits of all
    columns are interleaved (col0 gets the lowest lane), so sorting by
    the result clusters rows that are close in EVERY dimension — unlike
    lexicographic clustering, which leaves trailing dimensions scattered.
    Built from shifts/masks in codegen (no UDF); columns must already be
    non-negative integers (bucketize/rank continuous values first).
    ``bits·len(cols)`` must be ≤ 63.
    """
    from pyspark.sql import Column, functions as F  # local: keep module import-light

    n = len(cols)
    if bits * n > 63:
        raise ValueError(f"{bits} bits × {n} cols exceeds an int64")
    key = F.lit(0).cast("long")
    for b in range(bits):
        for i, c in enumerate(cols):
            bit = F.shiftright(F.col(c).cast("long"), b).bitwiseAND(F.lit(1))
            key = key.bitwiseOR(F.shiftleft(bit, b * n + i))
    return key


def write_zorder_parquet(
    df: DataFrame,
    path: str,
    cluster_by: Sequence[str],
    bits: int = 16,
    target_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Z-order-clustered parquet: rows range-partitioned and sorted on a
    Morton interleave of ``cluster_by``, so parquet min/max stats stay
    tight on ALL cluster columns at once.

    ``write_clustered_parquet`` optimizes one leading column; multi-
    dimensional predicates (the (part, supplier) box probe, the (date,
    region) slice) need every dimension to localize — the Z-curve gives
    each column ~``bits``-deep locality, which is the Delta/Iceberg
    OPTIMIZE ZORDER play re-expressed as plain Spark layout.  The
    Morton key is computed in codegen, used only for layout, and not
    written to the files.
    """
    n = target_files or df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    keyed = df.withColumn("__z", zorder_key(cluster_by, bits))
    (
        keyed.repartitionByRange(int(n), "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(mode)
        .parquet(path)
    )


def write_orc(
    df: DataFrame,
    path: str,
    partition_by: Sequence[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """ORC sink (built into Spark — no extra jars): same layout options
    as the parquet writer, for stacks standardized on ORC."""
    if partition_by:
        by_partition(df, partition_by).write.mode(mode).partitionBy(*partition_by).orc(path)
    else:
        df.write.mode(mode).orc(path)


def upsert_partitioned_parquet(
    spark,
    path: str,
    updates: DataFrame,
    keys: Sequence[str],
    partition_by: Sequence[str],
) -> None:
    """Key-level upsert (MERGE) into a Hive-partitioned parquet table
    without a transaction log: rows in ``updates`` replace same-key rows,
    other rows survive — and only the partitions the updates touch are
    rewritten.

    Mechanics: semi-join the target to the affected partition values
    (partition pruning keeps the read to those directories), anti-join
    out the superseded keys, union the updates, and let
    ``partitionOverwriteMode=dynamic`` (session default) replace just
    those directories.  Untouched partitions are never read or written —
    at 100 TB the cost scales with the update's partition footprint, not
    the table.  The staged frame is materialized (localCheckpoint) before
    the write because Spark refuses an overwrite whose plan still reads
    the same path lazily.
    """
    tgt = spark.read.parquet(path)
    cols = tgt.columns
    parts = updates.select(*partition_by).distinct()
    affected = tgt.join(parts, list(partition_by), "left_semi")
    survivors = affected.join(updates.select(*keys).distinct(), list(keys), "left_anti")
    staged = by_partition(
        survivors.select(*cols).unionByName(updates.select(*cols)), partition_by
    ).localCheckpoint(eager=True)
    staged.write.mode("overwrite").partitionBy(*partition_by).parquet(path)
