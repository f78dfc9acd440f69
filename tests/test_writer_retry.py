"""Writer failure-semantics evidence (round-7 VERDICT #7): a write task
that dies after emitting partial output and is RETRIED must not
double-write or torch its partition — the committer contract the 100 TB
story leans on (speculative execution and task retry are routine at
1000 executors; a committer that leaks attempt files corrupts the
table).

Mechanism under test: Spark's HadoopMapReduceCommitProtocol stages each
task attempt's files in an attempt-scoped temporary directory and only
the COMMITTED attempt's files are moved into the final location (task
commit is coordinated by the OutputCommitCoordinator, so exactly one
attempt of a task ever commits).  A failed attempt's partials are
discarded with its temp dir.

Local mode pins task retries in the master string (``local[4, 2]`` = 2
attempts), not ``spark.task.maxFailures``, and a JVM holds exactly one
SparkContext — so the scenario runs in a SUBPROCESS with its own
session, keeping the shared test session untouched.  The injected
failure is a nondeterministic UDF (nondeterminism stops Catalyst from
reordering it out of the write stage) that kills attempt 0 of one write
task AFTER the committer has opened output for that task; the test then
asserts the retried write's read-back equals a clean run byte-for-byte
(same rows, no duplicates, no holes) and that the failure really fired
(marker file)."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap


REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_retried_write_task_produces_exact_output(tmp_path):
    marker = tmp_path / "injected_failure_fired"
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        import pyspark.sql.functions as F
        from pyspark import TaskContext
        from pyspark.sql import SparkSession
        from pyspark.sql.types import LongType

        spark = (
            SparkSession.builder.master("local[4, 2]")
            .appName("writer-retry-evidence")
            .config("spark.sql.shuffle.partitions", "4")
            .config("spark.ui.enabled", "false")
            .config("spark.sql.session.timeZone", "UTC")
            .getOrCreate()
        )

        base = spark.range(20_000).select(
            F.col("id"),
            (F.col("id") % 7).alias("p"),
            (F.col("id") * 3 + 1).alias("v"),
        )

        def poison_fn(x):
            tc = TaskContext.get()
            if tc is not None and tc.partitionId() == 0 and tc.attemptNumber() == 0:
                with open({str(marker)!r}, "w") as fh:
                    fh.write("fired")
                raise RuntimeError("injected first-attempt write-task failure")
            return x

        # nondeterministic so Catalyst cannot hoist it out of the write
        # stage; it runs inside the task that owns the output file
        poison = F.udf(poison_fn, LongType()).asNondeterministic()

        clean_dir = {str(tmp_path / "clean")!r}
        retry_dir = {str(tmp_path / "retried")!r}

        # clean reference write (same plan shape, no poison)
        (
            base.repartition("p")
            .withColumn("v2", F.col("v"))
            .write.mode("overwrite")
            .partitionBy("p")
            .parquet(clean_dir)
        )
        # poisoned write: attempt 0 of write task 0 dies mid-stage,
        # attempt 1 must produce the partition alone
        (
            base.repartition("p")
            .withColumn("v2", poison(F.col("v")))
            .write.mode("overwrite")
            .partitionBy("p")
            .parquet(retry_dir)
        )

        a = spark.read.parquet(clean_dir).select("id", "p", "v", "v2")
        b = spark.read.parquet(retry_dir).select("id", "p", "v", "v2")
        n_a, n_b = a.count(), b.count()
        assert n_a == 20_000, f"clean write wrote {{n_a}} rows"
        assert n_b == 20_000, f"retried write wrote {{n_b}} rows (dup or hole)"
        diff = a.exceptAll(b).count() + b.exceptAll(a).count()
        assert diff == 0, f"retried write diverged from clean write: {{diff}} rows"
        spark.stop()
        print("PARITY-OK")
        """
    )
    proc = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=600,
        env={**os.environ, "PYSPARK_PYTHON": sys.executable},
    )
    assert proc.returncode == 0, f"subprocess failed:\n{proc.stdout}\n{proc.stderr}"
    assert "PARITY-OK" in proc.stdout
    # the scenario is vacuous unless the injected failure actually fired
    assert marker.exists(), "injected failure never fired — no retry was exercised"
