"""Benchmark entry point: one workload, one single-client closed loop.

    python3 perfbench/run.py --workload {etl_star,curation_build}
                             --seed N --seconds S --trace {0,1}

Run from the repository root.  One run:

1. set-up (``setup_s``): generate the inputs from the seed, start the
   Spark session, and run two untimed warm-up passes over every op;
2. timed region: passes over every op, back to back, until ``--seconds``
   have elapsed and at least four passes are done;
3. output check (untimed, outside ``setup_s``): every op's output
   against an independent DuckDB computation.

With ``--trace 0`` the last stdout line carries the end-to-end metrics
``BENCHMARK.json`` names; with ``--trace 1`` the timed passes alternate
untraced and traced, and the line carries its per-layer metrics from the
traced passes.  The line
before it is the run's summary: a stamp with host, versions and
settings, every pass's wall seconds, and in a traced run every span.

Everything the run writes goes under ``.perfbench_work/<pid>`` in the
working directory and is removed at exit.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import dataclasses  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "udacity_datalake_spark_spark"
#: task slots and shuffle partitions.  Two of the host's four CPUs: the
#: ops barely use more slots at these input sizes, and the free CPUs
#: take the JIT, GC and driver threads
CPUS = min(2, len(os.sched_getaffinity(0)))
#: a run's median is over at least this many timed passes.  Four passes
#: take longer than ``run_seconds`` on both workloads, so every run
#: times the same passes of the JVM's settling after the warm-up
MIN_PASSES = 4
#: the package default (64g) does not fit a 15 GB host without swap
DRIVER_MEMORY = "3g"


def _pin_environment(work: str) -> None:
    """Fix the engine's resources and keep every scratch file in ``work``.
    Runs before pyspark or the package is imported (the package reads
    SPARK_GRAFT_CPUS at import)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(CPUS),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
    })
    os.environ.pop("SPARK_GRAFT_MASTER", None)


def _sha256(path: str) -> str:
    """Digest of every ``.py`` file under ``path``, in path order."""
    digest = hashlib.sha256()
    for d, dirs, files in sorted(os.walk(path)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    digest.update(fh.read())
    return digest.hexdigest()[:16]


def _stamp(args) -> dict:
    import pyspark

    try:
        git = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True
        )
        sha = git.stdout.strip() if git.returncode == 0 else None
    except OSError:  # no git on this host
        sha = None
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": os.cpu_count(),
        "mem_gb": round(os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30, 1),
        "spark_version": pyspark.__version__,
        "git_sha": sha,
        "source_sha256": _sha256(os.path.join(ROOT, PACKAGE)),
        "benchmark_sha256": _sha256(os.path.dirname(os.path.abspath(__file__))),
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "SPARK_DRIVER_MEMORY": os.environ["SPARK_DRIVER_MEMORY"],
    }


def _peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _layer_metrics(pass_spans, pass_counts, slots) -> dict[str, float]:
    """Per-pass totals of one traced pass (its op spans and counts)."""
    from spans import self_times

    ops = [s for s in pass_spans if s.op != "probe"]
    probe = [s for s in pass_spans if s.op == "probe"]
    by_id = {s.sid: s for s in ops}

    def under(s, name):
        while s is not None:
            if s.name == name:
                return True
            s = by_id.get(s.parent)
        return False

    def total(spans, key):
        return sum(s.counts.get(key, 0) for s in spans)

    def dur(name):
        return sum(s.dur for s in ops if s.name == name)

    self_s = self_times(ops)
    m = {
        "readers.json_scan_s": sum(s.dur for s in probe),
        "readers.rows_read": total(probe, "input_records"),
        "readers.bytes_read": total(probe, "input_bytes"),
        "readers.self_s": self_s.get("readers", 0.0),
        "sparkify.song_s": dur("sparkify.process_song_data"),
        "sparkify.log_s": dur("sparkify.process_log_data"),
        "sparkify.rows_out": pass_counts.get("sparkify.rows_out", 0),
        "sparkify.self_s": self_s.get("sparkify", 0.0),
        "writers.write_s": dur("writers.write_parquet"),
        "writers.files": pass_counts.get("writers.files", 0),
        "writers.dirs": pass_counts.get("writers.dirs", 0),
        "writers.bytes": pass_counts.get("writers.bytes", 0),
        "writers.bytes_per_input_byte": (
            pass_counts.get("writers.bytes", 0) / pass_counts["feed.input_bytes"]
            if pass_counts.get("feed.input_bytes") else 0.0
        ),
        "writers.self_s": self_s.get("writers", 0.0),
        "plans.build_s": dur("plans.build"),
        "plans.jobs_at_build": total([s for s in ops if under(s, "plans.build")], "jobs"),
        "plans.self_s": self_s.get("plans", 0.0),
        "plan.plan_s": self_s.get("plan", 0.0),
        "plan.exchanges": pass_counts.get("plan.exchanges", 0),
        "exec.exec_s": self_s["exec"],
        "scratch.outstanding": pass_counts.get("scratch.outstanding", 0),
        "scratch.cached_bytes": pass_counts.get("scratch.cached_bytes", 0),
        "scratch.release_s": self_s.get("scratch", 0.0),
        "driver.other_s": self_s.get("driver", 0.0),
        "trace.spans": len(pass_spans),
    }
    for key in ("jobs", "stages", "tasks", "cpu_ms", "run_ms", "gc_ms", "shuffle_write_bytes",
                "shuffle_read_bytes", "fetch_wait_ms", "spill_bytes"):
        m[f"exec.{key}"] = total(ops, key)
    m["exec.slot_util"] = (
        m["exec.run_ms"] / (1000.0 * m["exec.exec_s"] * slots) if m["exec.exec_s"] else 0.0
    )
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["etl_star", "curation_build"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)  # metric names and units
    # a terminated run still stops Spark and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(os.getcwd(), ".perfbench_work", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    _pin_environment(work)
    sys.path.insert(0, ROOT)
    spark = None
    try:
        import workloads
        from spans import Tracer
        from udacity_datalake_spark_spark.session import get_session

        wl = workloads.WORKLOADS[args.workload](work, args.seed)
        wl.prepare()
        t = time.perf_counter()
        spark = get_session(
            app_name=f"perfbench-{args.workload}",
            extra_conf={"spark.sql.warehouse.dir": os.path.join(work, "warehouse")},
        )
        start_s = time.perf_counter() - t

        # warm-up: the first pass collects each output for the check, the
        # second runs the timed op itself; one pass leaves the next
        # 15-40 % slow while the JIT settles
        warm_ops = {}
        for op in wl.ops:
            t = time.perf_counter()
            wl.warm(spark, op)
            warm_ops[op] = time.perf_counter() - t
            wl.after(op)
        warm_s = sum(warm_ops.values())
        for op in wl.ops:
            wl.run(spark, op)
            wl.after(op)
        setup_s = time.perf_counter() - T0

        tracer = Tracer(spark) if args.trace else None
        passes: list[dict] = []  # traced, wall_s of each timed pass
        layer_rows: list[dict] = []
        attempted, raised = {}, {}
        deadline = time.perf_counter() + args.seconds
        while len(passes) < MIN_PASSES or time.perf_counter() < deadline:
            traced = tracer is not None and len(passes) % 2 == 1
            first_span = len(tracer.spans) if traced else 0
            counts: dict = {}
            pass_s = 0.0
            for op in wl.ops:
                attempted[op] = attempted.get(op, 0) + 1
                n_spans = len(tracer.spans) if traced else 0
                t = time.perf_counter()
                try:
                    if traced:
                        tracer.op = op
                        wl.run_traced(spark, op, tracer, counts)
                    else:
                        wl.run(spark, op)
                    wall = time.perf_counter() - t
                except Exception:  # counted in fail_ratio; the loop goes on
                    traceback.print_exc()
                    raised[op] = raised.get(op, 0) + 1
                    pass_s += time.perf_counter() - t
                    continue
                if traced:
                    # the op's wall is its root span: the counting the
                    # traced op does after the span is not part of it
                    op_spans = tracer.spans[n_spans:]
                    wall = sum(sp.dur for sp in op_spans if sp.parent is None)
                    tracer.collect(op_spans)
                pass_s += wall
                wl.after(op)
            if traced:
                tracer.op = "probe"
                n = len(tracer.spans)
                wl.probe_reader(spark, tracer)
                tracer.collect(tracer.spans[n:])
            passes.append({"traced": traced, "wall_s": pass_s})
            if traced:
                layer_rows.append(_layer_metrics(tracer.spans[first_span:], counts, CPUS))

        bad = wl.check()
        for op, reason in bad.items():
            if reason:
                print(f"check failed: {args.workload}/{op}: {reason}", file=sys.stderr)
        failed = sum(
            attempted.get(op, 0) if bad.get(op) else raised.get(op, 0) for op in attempted
        )
        n_attempted = sum(attempted.values())

        plain = [p["wall_s"] for p in passes if not p["traced"]]
        if args.trace:
            traced_passes = [p["wall_s"] for p in passes if p["traced"]]
            metrics = {
                k: statistics.median(row[k] for row in layer_rows) for k in layer_rows[0]
            }
            metrics.update({
                "session.start_s": start_s,
                "session.warmup_s": warm_s - statistics.median(plain),
                "session.peak_rss_mb": _peak_rss_mb(spark),
                "trace.pass_s": statistics.median(traced_passes),
                "trace.overhead_s": statistics.median(traced_passes) - statistics.median(plain),
                "check.fail_ratio": failed / n_attempted,
            })
        else:
            metrics = {
                "setup_s": setup_s,
                "pass_s": statistics.median(plain),
            }
        summary = {
            "stamp": _stamp(args),
            "passes": len(passes),
            "pass_walls_s": [p["wall_s"] for p in passes],
            "fail_ratio": failed / n_attempted,
            "warmup_ops_s": warm_ops,
            "session_start_s": start_s,
            "checks": {op: reason or "ok" for op, reason in bad.items()},
        }
        if tracer is not None:
            summary["spans"] = [dataclasses.asdict(sp) for sp in tracer.spans]
        print(json.dumps(summary, sort_keys=True))
        print(json.dumps({
            "correct": failed == 0,
            "attempted": n_attempted,
            "failed": failed,
            "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                        for m in bench["per_layer" if args.trace else "end_to_end"]},
        }))
        return 0
    finally:
        try:
            if spark is not None:
                _stop(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
            with contextlib.suppress(OSError):  # another run may still use it
                os.rmdir(os.path.dirname(work))


def _stop(spark) -> None:
    """Stop Spark and wait for its JVM (and the Python workers under it) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
        gateway.shutdown()
    finally:
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


if __name__ == "__main__":
    sys.exit(main())
