"""spark-submit entry point for the star-schema ETL — the engine's
equivalent of the reference CLI (reference etl.py:176-199: ``spark-submit
etl.py --root_bucket … --input_data … --step_app_name …`` submitted as an
EMR step, emr_createsubmit.py:20-26,97-104).

Differences by design:

- explicit schemas (no inference double-scan, SURVEY.md §4.3.1);
- pinned-UTC session from :mod:`session` (the reference leaked the
  cluster timezone into derived date parts, SURVEY.md §4.3.5);
- storage URIs are opaque — local paths in tests, ``s3a://`` in
  production with ``session.s3a_conf()`` — so no bucket bootstrap logic
  lives here (reference buckets_dropcreate.py:8-63 is AWS account
  plumbing, out of engine scope);
- songs/artists are re-read from the freshly-written parquet, as in the
  reference, and the reference's read-back shape (partition columns
  dropped, SURVEY.md §4.3.4) is reproduced by
  ``sparkify.songs_readback_shape``; the read-back takes the schema the
  tables were written with, so it runs no schema-inference job;
- every table is replaced whole (static partition overwrite, the
  reference's ``mode('overwrite')``), so rerunning into the same
  ``--output_data`` equals a fresh run.

Usage (spark-submit takes a script path, not a module flag)::

    spark-submit /path/to/udacity_datalake_spark_spark/etl_cli.py \
        --input_data /data/raw --output_data /data/lake \
        [--song_glob 'song_data/*/*/*'] [--log_glob 'log_data/*/*'] \
        [--app_name sparkify-etl]

(or ``python -m udacity_datalake_spark_spark.etl_cli …`` locally).
"""

from __future__ import annotations

import argparse

from udacity_datalake_spark_spark.plans.sparkify import process_log_data, process_song_data
from udacity_datalake_spark_spark.schemas import LOG_DATA_SCHEMA, SONG_DATA_SCHEMA
from udacity_datalake_spark_spark.session import get_session
from udacity_datalake_spark_spark.sources.readers import read_json_feed


def run_etl(
    spark,
    input_data: str,
    output_data: str,
    song_glob: str = "song_data/*/*/*",
    log_glob: str = "log_data/*/*",
) -> None:
    """Run both reference pipelines end to end (reference etl.py:23-173):
    song feed → songs/artists dims, log feed → users/time dims +
    songplays fact, all as (partitioned) parquet under ``output_data``."""
    song_df = read_json_feed(spark, f"{input_data}/{song_glob}", SONG_DATA_SCHEMA)
    process_song_data(spark, song_df, output_data)
    log_df = read_json_feed(spark, f"{input_data}/{log_glob}", LOG_DATA_SCHEMA)
    process_log_data(spark, log_df, output_data)


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input_data", required=True, help="root of the JSON feeds")
    ap.add_argument("--output_data", required=True, help="root of the parquet lake")
    ap.add_argument("--song_glob", default="song_data/*/*/*")
    ap.add_argument("--log_glob", default="log_data/*/*")
    ap.add_argument("--app_name", default="sparkify-etl")
    args = ap.parse_args(argv)

    spark = get_session(app_name=args.app_name)
    run_etl(spark, args.input_data, args.output_data, args.song_glob, args.log_glob)
    spark.stop()


if __name__ == "__main__":
    main()
