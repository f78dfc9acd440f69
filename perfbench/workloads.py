"""The workloads: what one op is, how it runs (plain or traced), what a
traced op counts, and how its output is checked.

- ``etl_star``: one op = ``etl_cli.run_etl`` over a seeded Sparkify feed
  into a fresh output directory (JSON ingest, star-schema build,
  Hive-partitioned parquet writes).
- ``curation_build``: one op = build ``q95_dedup_corpus`` (whose eager
  gate actions, fired while the query is constructed, are most of its
  wall), then run it into the no-op sink.

The query table is generated from a fixed seed, so every run scans the
same data; ``--seed`` changes the ETL feed and nothing else.
"""

from __future__ import annotations

import contextlib
import os
import shutil

import pyarrow.parquet as pq

import checks
import gen
from udacity_datalake_spark_spark import explain, scratch
from udacity_datalake_spark_spark import etl_cli
from udacity_datalake_spark_spark.plans import ORACLE_SQL, QUERIES, sparkify
from udacity_datalake_spark_spark.schemas import LOG_DATA_SCHEMA, SONG_DATA_SCHEMA
from udacity_datalake_spark_spark.sources.readers import read_json_feed

CORPUS_SEED = 7


def _noop_sink(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _add(acc: dict, key: str, value) -> None:
    acc[key] = acc.get(key, 0) + value


class CurationWorkload:
    """q95 over a generated ``documents`` table, into the no-op sink."""

    #: build-time gate actions are most of this query's wall
    ops = ["q95_dedup_corpus"]
    #: rows in ``documents``, as in the engine's test table
    N_DOCS = 500

    def __init__(self, work: str, seed: int):
        # ``seed`` is not used: every run scans the same table
        self.table_dir = os.path.join(work, "tables")
        self.tmp = os.path.join(work, "tmp")
        self.results: dict = {}

    def prepare(self) -> None:
        gen.make_corpus(self.table_dir, self.N_DOCS, CORPUS_SEED)

    def warm(self, spark, op: str) -> None:
        """Warm-up run: same build, output collected for the check."""
        self.results[op] = QUERIES[op](spark, self.table_dir).toPandas()

    def run(self, spark, op: str) -> None:
        _noop_sink(QUERIES[op](spark, self.table_dir))

    def run_traced(self, spark, op: str, tr, counts: dict) -> None:
        with _patched(scratch, release=tr.wrap("scratch.release", scratch.release)):
            with tr.span("driver.op"):
                with tr.span("plans.build"):
                    df = QUERIES[op](spark, self.table_dir)
                with tr.span("plan.plan"):
                    df._jdf.queryExecution().executedPlan()
                with tr.span("driver.sink"):
                    _noop_sink(df)
        _add(counts, "plan.exchanges", explain.exchange_count(df))
        infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        for key, value in (
            ("scratch.outstanding", scratch.outstanding()),
            ("scratch.cached_bytes", sum(i.memSize() + i.diskSize() for i in infos)),
        ):
            counts[key] = max(counts.get(key, 0), value)

    def probe_reader(self, spark, tr) -> None:
        pass  # no JSON ingest in this workload

    def after(self, op: str) -> None:
        pass

    def check(self) -> dict[str, str | None]:
        return {
            op: checks.check_query(ORACLE_SQL[op], self.results[op], self.table_dir, self.tmp)
            for op in self.ops
        }


class EtlWorkload:
    """The Sparkify star-schema ETL over a seeded JSON feed."""

    ops = ["run_etl"]

    #: the feed is the reference's local sample (``gen.GOLDEN``) times
    #: this: about 70 ``songs`` partition directories, 8k log events
    FEED_SCALE = 1

    def __init__(self, work: str, seed: int):
        self.seed = seed
        self.feed = os.path.join(work, "feed")
        self.out_root = os.path.join(work, "out")
        self.tmp = os.path.join(work, "tmp")
        self.n = 0
        self.last_out: str | None = None

    def prepare(self) -> None:
        gen.make_feed(self.feed, self.seed, self.FEED_SCALE)
        self.input_bytes = sum(
            os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(self.feed) for f in fs
        )

    def _next_out(self) -> str:
        self.n += 1
        self.last_out = os.path.join(self.out_root, f"op{self.n}")
        return self.last_out

    def warm(self, spark, op: str) -> None:
        self.run(spark, op)

    def run(self, spark, op: str) -> None:
        etl_cli.run_etl(spark, self.feed, self._next_out())

    def run_traced(self, spark, op: str, tr, counts: dict) -> None:
        out = self._next_out()
        hooks = {
            "read_json_feed": "readers.read_json_feed",
            "process_song_data": "sparkify.process_song_data",
            "process_log_data": "sparkify.process_log_data",
        }
        with _patched(
            etl_cli, **{f: tr.wrap(span, getattr(etl_cli, f)) for f, span in hooks.items()}
        ), _patched(
            sparkify, write_parquet=tr.wrap("writers.write_parquet", sparkify.write_parquet)
        ):
            with tr.span("driver.op"):
                etl_cli.run_etl(spark, self.feed, out)
        files = bytes_ = rows = 0
        dirs = -1  # the output root itself is not a written directory
        for d, _, fs in os.walk(out):
            dirs += 1
            for f in fs:
                path = os.path.join(d, f)
                files += 1
                bytes_ += os.path.getsize(path)
                if f.endswith(".parquet"):
                    rows += pq.ParquetFile(path).metadata.num_rows
        _add(counts, "writers.files", files)
        _add(counts, "writers.dirs", dirs)
        _add(counts, "writers.bytes", bytes_)
        _add(counts, "sparkify.rows_out", rows)
        _add(counts, "feed.input_bytes", self.input_bytes)

    def probe_reader(self, spark, tr) -> None:
        """Scan the whole feed through the reader into the no-op sink, so
        the reader's parse cost shows apart from the writes it feeds."""
        with tr.span("readers.json_scan"):
            for glob, schema in (
                ("song_data/*/*/*", SONG_DATA_SCHEMA),
                ("log_data/*/*", LOG_DATA_SCHEMA),
            ):
                _noop_sink(read_json_feed(spark, f"{self.feed}/{glob}", schema))

    def after(self, op: str) -> None:
        """Untimed: drop every output directory but the newest."""
        for d in os.listdir(self.out_root):
            path = os.path.join(self.out_root, d)
            if path != self.last_out:
                shutil.rmtree(path)

    def check(self) -> dict[str, str | None]:
        return {"run_etl": checks.check_etl(self.feed, self.last_out, self.tmp)}


@contextlib.contextmanager
def _patched(module, **attrs):
    """Temporarily replace module attributes (the traced run's span hooks)."""
    old = {k: getattr(module, k) for k in attrs}
    for k, v in attrs.items():
        setattr(module, k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            setattr(module, k, v)


WORKLOADS = {"etl_star": EtlWorkload, "curation_build": CurationWorkload}
