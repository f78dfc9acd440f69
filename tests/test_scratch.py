"""Round-11 contract tests: the package-wide scoped-persist tracker
(udacity_datalake_spark_spark.scratch — VERDICT r10 #2) and the lazy
cosine_near_dup_pairs auto strategy pick (VERDICT r10 #3)."""

from __future__ import annotations

from pyspark.sql import functions as F

from udacity_datalake_spark_spark import scratch
from udacity_datalake_spark_spark.operators.similarity import cosine_near_dup_pairs
from udacity_datalake_spark_spark.plans.registry import QUERIES
from udacity_datalake_spark_spark.sources.readers import parquet_row_count, read_table

from .conftest import SF_DIR


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _n_jobs(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


def test_registered_query_releases_previous_scratch(spark):
    """The bounded-residency contract: entering a registered query via
    QUERIES releases every frame the PREVIOUS query tracked — no harness
    clearCache() required.  q95 (LSH dedup pipeline) persists several
    scratch frames; q01 persists none, so after entering q01 the SQL
    cache must be EMPTY again."""
    scratch.release()
    spark.catalog.clearCache()
    QUERIES["q95_dedup_corpus"](spark, SF_DIR).count()
    assert scratch.outstanding() > 0
    assert not _cache_empty(spark)
    # entering the NEXT registered query releases q95's frames on entry
    QUERIES["q01_pricing_summary"](spark, SF_DIR).count()
    assert scratch.outstanding() == 0
    assert _cache_empty(spark)


def test_release_returns_count_and_is_idempotent(spark):
    df = spark.range(10).transform(scratch.spersist)
    assert scratch.outstanding("query") >= 1
    assert scratch.release() >= 1
    assert scratch.release() == 0
    df.count()  # unpersisted lineage still computes


def test_release_swallows_stale_handles():
    """ADVICE r10: a handle bound to a stopped SparkSession must be
    dropped silently, not raise from the dead context."""

    class Dead:
        def persist(self):
            return self

        def unpersist(self, blocking=False):
            raise RuntimeError("SparkContext was shut down")

    scratch.track(Dead(), scope="__stale_test__")
    assert scratch.release("__stale_test__") == 0  # dropped, not raised
    assert scratch.outstanding("__stale_test__") == 0


def test_track_replace_bounds_scope(spark):
    a = scratch.track(spark.range(5), scope="__rep__", replace=True)
    b = scratch.track(spark.range(6), scope="__rep__", replace=True)
    assert scratch.outstanding("__rep__") == 1
    assert a.storageLevel.useMemory is False  # first frame was released
    assert b.storageLevel.useMemory is True
    scratch.release("__rep__")


def test_parquet_row_count_matches_scan(spark):
    path = f"{SF_DIR}/embeddings.parquet"
    n_footer = parquet_row_count(path)
    n_scan = read_table(spark, SF_DIR, "embeddings").count()
    assert n_footer == n_scan
    assert parquet_row_count("/nonexistent/nope.parquet") is None


def test_auto_prefilter_lsh_pick_is_lazy(spark):
    """VERDICT r10 #3: with a caller-supplied footer row count, the auto
    strategy pick runs NO Spark job — and the whole LSH-path builder is
    job-free at construction time (plans stay declarative until an
    action)."""
    emb = read_table(spark, SF_DIR, "embeddings")
    before = _n_jobs(spark)
    pairs = cosine_near_dup_pairs(
        emb, threshold=0.45, approx_rows=10_000_000  # forces the lsh path
    )
    assert _n_jobs(spark) == before  # zero jobs at construction
    assert pairs.columns == ["id_a", "id_b", "sim"]
    scratch.release()
    spark.catalog.clearCache()


def test_q56_builder_strategy_pick_runs_no_count_job(spark, sf_dir):
    """The q56 builder feeds the auto pick from the parquet FOOTER, so
    the only jobs at build time are the broadcast path's own collect
    (toPandas) — never an extra corpus.count() job.  Verified by
    monkeypatching count() to fail loudly if the pick calls it."""
    emb = read_table(spark, sf_dir, "embeddings")
    n = parquet_row_count(f"{sf_dir}/embeddings.parquet")
    assert n is not None and n > 0
    seen = []
    orig = type(emb).count

    def counting(self):
        seen.append(1)
        return orig(self)

    type(emb).count = counting
    try:
        cosine_near_dup_pairs(emb, threshold=0.45, approx_rows=n)
    finally:
        type(emb).count = orig
    assert seen == []  # the pick consumed approx_rows, not a count() job
    scratch.release()
    spark.catalog.clearCache()
