"""Sources: parquet table reader + schema-pinned JSON feed reader.

Covers the reference's scan surface (SURVEY.md §2.1):

- S1/S2 (JSON scans with globs, reference etl.py:35-36,77-78) →
  ``read_json_feed`` with an explicit StructType — no inference scan.
- S3/S4 (parquet read-back, reference etl.py:139,144-146) → ``read_table``
  with partition discovery via base path.  The reference's
  ``songs/*/*/*`` glob silently dropped the partition columns
  (SURVEY.md §4.3.4); ``drop_partition_columns`` reproduces that behavior
  explicitly when compat is wanted.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from udacity_datalake_spark_spark.schemas import TESTDATA_SCHEMAS


def read_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    columns: Sequence[str] | None = None,
) -> DataFrame:
    """Read one testdata table; optional projection so column pruning
    reaches the parquet scan even when callers forget to select.

    Nanosecond-precision parquet timestamps (events.ts) are illegal for
    Spark's vectorized reader; read them as raw INT64 nanos
    (``nanosAsLong``, a runtime SQL conf — set defensively so the driver's
    own session works too) and truncate to microsecond TimestampType,
    matching DuckDB's nanos→micros view of the same file.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # scan-level NTZ→timestamp so time predicates stay pushdown-eligible
    # (set defensively for sessions not built by session.get_session; the
    # TimestampNTZType branch below is then a dead fallback)
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    expected = TESTDATA_SCHEMAS.get(name)
    if expected is not None:
        for field in expected.fields:
            actual = df.schema[field.name].dataType if field.name in df.columns else None
            if isinstance(field.dataType, T.TimestampType) and isinstance(actual, T.LongType):
                # integer division — float division of int64 nanos would
                # lose precision (2^63 ≫ 2^53 double mantissa)
                df = df.withColumn(
                    field.name, F.timestamp_micros(F.expr(f"`{field.name}` div 1000"))
                )
            elif isinstance(field.dataType, T.TimestampType) and isinstance(
                actual, T.TimestampNTZType
            ):
                # parquet writers may mark the column isAdjustedToUTC=false
                # (TIMESTAMP_NTZ).  The engine canonicalizes event time to
                # instants; with the session pinned to UTC the cast is
                # value-preserving, and downstream integer time math
                # (unix_micros) only accepts TimestampType.
                df = df.withColumn(field.name, F.col(field.name).cast(T.TimestampType()))
    if columns is not None:
        df = df.select(*columns)
    return df


def parquet_row_count(path: str) -> int | None:
    """Exact row count of a parquet file/directory from FOOTER metadata
    only — a handful of driver-side stat+footer reads, NO Spark job.

    The lazy-strategy input for size-dependent operators (round 11,
    VERDICT r10 #3): ``cosine_near_dup_pairs(prefilter='auto')`` used to
    run ``corpus.count()`` at plan-construction time; builders that read
    from parquet pass this footer count instead, keeping construction
    job-free.  Returns None when the path isn't readable parquet (the
    caller then falls back to a real count).
    """
    import pyarrow.parquet as pq

    try:
        if os.path.isdir(path):
            files = [
                e.path
                for e in os.scandir(path)
                if e.is_file() and not e.name.startswith((".", "_"))
            ]
            if not files:
                return None
            return sum(pq.ParquetFile(f).metadata.num_rows for f in files)
        return pq.ParquetFile(path).metadata.num_rows
    except Exception:
        return None


def read_json_feed(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    multiline: bool = False,
    infer_schema: bool = False,
) -> DataFrame:
    """Line-delimited JSON feed with an explicit schema.

    Replaces the reference's ``spark.read.json(glob)`` (etl.py:36,78) —
    same Hadoop-glob path semantics, but one scan instead of two and no
    inference-decided types.

    ``infer_schema=True`` is the bug-for-bug compat escape hatch: it
    reproduces the reference's inference-driven read exactly (extra
    discovery scan, ids landing as strings, integers widening to long —
    e.g. the reference's ``userId`` arriving as string, etl.py:78).  Use
    it only to reproduce reference behavior; every engine path passes an
    explicit schema.
    """
    if infer_schema:
        return spark.read.option("multiLine", multiline).json(path)
    if schema is None:
        raise ValueError("schema is required unless infer_schema=True")
    return spark.read.schema(schema).option("multiLine", multiline).json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan with partition discovery (columnar alternative to the
    parquet path; same pushdown/pruning behavior in Catalyst)."""
    return spark.read.orc(path)


def read_csv_feed(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    header: bool = True,
    delimiter: str = ",",
) -> DataFrame:
    """CSV feed with an explicit schema — like ``read_json_feed``, never
    inference (which costs an extra full scan and guesses types)."""
    return (
        spark.read.schema(schema)
        .option("header", header)
        .option("delimiter", delimiter)
        .option("mode", "FAILFAST")
        .csv(path)
    )


def read_binary_files(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
) -> DataFrame:
    """Raw media ingest via Spark's ``binaryFile`` source: one row per
    file with ``(path, modificationTime, length, content: binary)``.

    This is the ingestion edge of the multimodal pipeline
    (operators/multimodal.py): images/audio/video land as opaque binary
    payloads with file-level metadata, then decode/feature-extract runs
    as Arrow-batched mapInPandas stages.  The source is splittable by
    file (a task per file group), so a 100 TB media corpus parallelizes
    by file count; use ``glob`` (``pathGlobFilter``) to prune by
    extension at listing time — pruning never reads file bytes.
    """
    reader = spark.read.format("binaryFile")
    if glob is not None:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)


def read_json_feed_tolerant(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    corrupt_col: str = "_corrupt_record",
) -> DataFrame:
    """PERMISSIVE JSON ingest with quarantine: malformed lines land intact
    in ``corrupt_col`` (other columns null) instead of failing the job.

    The 100 TB ingest posture: one bad record in a billion must not kill
    a ten-hour run.  Rows split cleanly — ``WHERE corrupt_col IS NULL``
    is the parsed feed, ``IS NOT NULL`` the quarantine side-output to
    persist for inspection/replay.  Use ``read_json_feed`` (strict) when
    upstream guarantees well-formedness and a fast hard failure is the
    better contract.
    """
    with_corrupt = T.StructType(
        list(schema.fields) + [T.StructField(corrupt_col, T.StringType(), True)]
    )
    return (
        spark.read.schema(with_corrupt)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .json(path)
    )


def read_text_lines(spark: SparkSession, path: str, whole_file: bool = False) -> DataFrame:
    """Raw text ingest — the front door of a text-corpus pipeline.

    ``whole_file=False``: one row per line (column ``value``), splittable
    and parallel by file block.  ``whole_file=True``: one row per FILE
    (``wholetext``) for formats where a document spans lines; each file
    becomes a single task, so only use it when documents are file-sized.
    Both carry ``source_file`` (``input_file_name``) so provenance
    survives into the lake — the corpus-curation requirement that raw
    ``spark.read.text`` alone drops.
    """
    df = spark.read.text(path, wholetext=whole_file)
    return df.withColumn("source_file", F.input_file_name())
