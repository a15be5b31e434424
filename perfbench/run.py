#!/usr/bin/env python3
"""Benchmark of name_matcher_spark, one workload per process.

    python3 perfbench/run.py --workload link_batch --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. It makes the workload's inputs from
the seed, starts Spark on ``local[nproc]`` (set-up: ``get_spark`` with
its jar check and JVM-kernel registration, then one warm-up pass), runs
timed passes until ``--seconds`` have passed (at least one), checks
every pass's output, and prints one JSON line with the end-to-end
metrics. ``--trace 1`` instead runs untraced passes, then the same
number of passes with every layer wrapped (tracing.py), then, for
link_batch, the same pages as streaming waves (stream.py), and prints
the per-layer metrics from Spark's event log. Earlier stdout lines carry a
stamp (host nproc, versions, jar hash, seed) and per-pass details.

Everything it writes goes under ``.perfbench_work/`` in the checkout
and is removed on exit. ``--record`` stores the default seed's output
digests in perfbench/expected.json instead of checking them.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import platform
import shutil
import signal
import statistics
import sys
import tempfile
import time
from dataclasses import dataclass
from pathlib import Path

import stream
import tracing
from procstat import PeakRss, descendants, stop_all

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
KERNEL_FLAGS = (
    ("similarity", "JVM_JW_ENABLED"),
    ("normalize", "JVM_NORM_ENABLED"),
    ("phonetic", "JVM_SX_ENABLED"),
    ("phonetic", "JVM_DMETA_ENABLED"),
)
# The JVM heap cap. Under the program's default of 8g the heap grows
# with GC timing, and peak RSS spread by 0.30 of its median over four
# crawl runs; under a cap both workloads fit in it spreads about half
# as much, and the runs leave the host's memory to others.
JVM_HEAP = "3g"


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    return ap.parse_args(argv)


def isolate(run_dir: Path) -> dict[str, str]:
    """Point every temp, warehouse and work location at ``run_dir``;
    return the Spark conf that does the same for the JVM."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    os.environ["NMS_WAREHOUSE_DIR"] = str(run_dir / "warehouse")
    os.environ["NMS_DRIVER_MEM"] = JVM_HEAP
    # child JVMs (javac for the kernel jar, Spark's JVM) keep their
    # perf data and temp files out of the system temp dir as well
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    return {"spark.local.dir": str(run_dir / "spark-local")}


def kernels_registered() -> int:
    import importlib

    return sum(
        bool(getattr(importlib.import_module(f"name_matcher_spark.functions.{m}"), flag))
        for m, flag in KERNEL_FLAGS
    )


def stamp(spark, seed: int, workload: str) -> dict:
    jar = ROOT / "name_matcher_spark" / "javaudf" / "nms-udfs.jar"
    jvm = spark.sparkContext._jvm
    return {
        "workload": workload,
        "seed": seed,
        "nproc": len(os.sched_getaffinity(0)),
        "spark": spark.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "jar_sha256": hashlib.sha256(jar.read_bytes()).hexdigest()[:16]
        if jar.exists()
        else None,
    }


def cache_entries(spark) -> tuple[int, bool]:
    """(RDD storage entries, whether the SQL cache manager is empty)."""
    sc = spark.sparkContext
    rdds = len(sc._jsc.sc().getRDDStorageInfo())
    return rdds, bool(spark._jsparkSession.sharedState().cacheManager().isEmpty())


@dataclass
class PassResult:
    wall_s: float
    peak_rss_mb: float
    out: object  # what run_pass returned; None if it raised
    check: object  # workloads.Check; None if the pass raised
    window_ms: tuple[int, int]  # epoch ms, to match event-log times


class Runner:
    """Runs, times and checks passes of one workload, and counts the
    attempted and failed ones."""

    def __init__(self, workload, spark, run_dir: Path) -> None:
        self.w = workload
        self.spark = spark
        self.run_dir = run_dir
        self.n = 0
        self.failed = 0
        self.log: list[dict] = []

    def one_pass(self, label: str, after=None) -> PassResult:
        """One pass into a fresh work dir. ``after(result)`` runs before
        the work dir is removed."""
        self.n += 1
        work = self.run_dir / f"pass-{self.n}"
        problems: list[str] = []
        if kernels_registered() != len(KERNEL_FLAGS):
            problems.append("a JVM kernel is not registered")
        out = check = None
        with PeakRss() as rss:
            start_ms = int(time.time() * 1000)
            t0 = time.perf_counter()
            try:
                out = self.w.run_pass(self.spark, work)
            except Exception as e:  # noqa: BLE001 - a failed pass is counted, not fatal
                problems.append(f"pass raised {type(e).__name__}: {str(e)[:300]}")
            wall = time.perf_counter() - t0
            end_ms = int(time.time() * 1000)
        if out is not None:
            check = self.w.check(out)
            problems += check.problems
        result = PassResult(wall, rss.peak_mb, out, check, (start_ms, end_ms))
        if after is not None:
            after(result)
        rdds, cache_empty = cache_entries(self.spark)
        self.failed += bool(problems)
        self.log.append(
            {
                "pass": label,
                "wall_s": round(wall, 4),
                # input pages on both sides over the pass time; not in the
                # result line, where it would only restate wall_s for a
                # fixed input with a wider spread
                "pages_per_s": round(self.w.input_pages / wall, 2),
                "peak_rss_mb": round(rss.peak_mb, 1),
                "rdd_entries": rdds,
                "cache_manager_empty": cache_empty,
                "problems": problems,
                "digests": check.digests if check else {},
            }
        )
        shutil.rmtree(work, ignore_errors=True)
        return result

    def timed(self, seconds: float, label: str, after=None) -> list[PassResult]:
        """Passes until ``seconds`` have passed, at least one."""
        results: list[PassResult] = []
        deadline = time.perf_counter() + seconds
        while not results or time.perf_counter() < deadline:
            results.append(self.one_pass(f"{label}{len(results) + 1}", after))
        return results


def end_to_end(setup_s: float, results: list[PassResult]) -> dict[str, float]:
    wall = statistics.median(r.wall_s for r in results)
    checks = [r.check for r in results if r.check is not None]
    precision = statistics.median(c.precision for c in checks) if checks else 0.0
    recall = statistics.median(c.recall for c in checks) if checks else 0.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    return {
        "setup_s": setup_s,
        "wall_s": wall,
        "pair_precision": precision,
        "pair_recall": recall,
        "pair_f1": f1,
        "peak_rss_mb": max(r.peak_rss_mb for r in results),
    }


def traced(runner: Runner, seconds: float, log_dir: Path, session_s: float, kernels: int):
    """Untraced passes, then traced ones, then, for a workload that
    streams, the streaming waves; stops Spark to flush the event log and
    returns the per-layer metrics."""
    spark = runner.spark
    untraced = runner.timed(seconds, "untraced")
    rdds, cache_empty = cache_entries(spark)
    metrics = {"fuzzy_join.predicted_pairs": 0.0, "fuzzy_join.largest_block": 0.0}
    with tracing.Tracer(spark) as tracer:

        def after(r: PassResult) -> None:
            tracer.pass_done(*r.window_ms, r.wall_s)
            if r.out is not None:
                spark.sparkContext.setJobDescription("perfbench-preflight")
                metrics.update(runner.w.preflight(spark, r.out))
                spark.sparkContext.setJobDescription(None)

        with_trace = runner.timed(seconds, "traced", after)
    waves = stream_phase(runner, with_trace)
    spark.stop()
    metrics.update(waves.metrics)
    metrics.update(
        tracing.layer_metrics(
            tracer, str(log_dir), {"streaming": ([waves.window_ms], waves.waves)}
        )
    )
    metrics["session.wall_s"] = session_s
    metrics["session.jvm_kernels"] = kernels
    metrics["trace.overhead_s"] = statistics.median(
        r.wall_s for r in with_trace
    ) - statistics.median(r.wall_s for r in untraced)
    metrics["cache.rdd_entries"] = rdds
    metrics["cache.manager_empty"] = int(cache_empty)
    return metrics


def stream_phase(runner: Runner, batch: list[PassResult]) -> stream.StreamResult:
    """The streaming waves of a workload that streams (an empty result
    for one that does not), each counted as attempted and, if it fails,
    as failed."""
    if not runner.w.streams:
        return stream.StreamResult()
    digests = [r.check.digests["clusters"] for r in batch if r.check is not None]
    res = stream.run_stream(
        runner.spark,
        runner.w.in_dir,
        runner.run_dir / "stream",
        digests[-1] if digests else None,
        lambda spark: cache_entries(spark)[0],
    )
    runner.n += res.waves
    runner.failed += res.failed
    runner.log.append(
        {
            "pass": "stream",
            "waves": res.waves,
            "failed": res.failed,
            "problems": res.problems,
            "latency_s": [round(t, 4) for t in res.latencies],
            "rdd_entries": res.rdd_entries,
        }
    )
    return res


def shutdown(spark) -> None:
    """Stop Spark, then its JVM and every other process this run
    started, and wait until each has ended. The JVM would otherwise
    outlive this process until it noticed its closed stdin."""
    procs = descendants(os.getpid())
    context = sys.modules.get("pyspark.context")
    gateway = context and context.SparkContext._gateway
    # a JVM that crashed makes these raise; stop_all still ends it
    with contextlib.suppress(Exception):
        if spark is not None:
            spark.stop()
    if gateway is not None:
        with contextlib.suppress(Exception):
            gateway.shutdown()
        context.SparkContext._gateway = context.SparkContext._jvm = None
        jvm = getattr(gateway, "proc", None)
        if jvm is not None:
            with contextlib.suppress(Exception):
                jvm.stdin.close()  # the gateway exits at end of input
                jvm.wait(30)
    procs.update(descendants(os.getpid()))
    stop_all(procs)


def metric_units(trace: bool) -> dict[str, str]:
    """Name -> unit of the metrics a run reports, from BENCHMARK.json."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def record(workload, digests: dict) -> None:
    from workloads import DEFAULT_SEED, EXPECTED

    data = json.loads(EXPECTED.read_text()) if EXPECTED.exists() else {}
    data["seed"] = DEFAULT_SEED
    data[workload.name] = digests
    EXPECTED.write_text(json.dumps(data, indent=2, sort_keys=True) + "\n")


def _exit_on_sigterm(signum, frame) -> None:
    sys.exit(128 + signum)  # runs main's clean-up


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    signal.signal(signal.SIGTERM, _exit_on_sigterm)
    if not (ROOT / "name_matcher_spark" / "session.py").is_file():
        print(f"perfbench: no name_matcher_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [str(HERE), str(ROOT), str(ROOT / "tools")]
    from workloads import DEFAULT_SEED, WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    if args.record and args.seed != DEFAULT_SEED:
        print(f"perfbench: --record needs --seed {DEFAULT_SEED}", file=sys.stderr)
        return 2

    run_dir = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    conf = isolate(run_dir)
    log_dir = run_dir / "eventlog"
    if args.trace:
        log_dir.mkdir()
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": log_dir.as_uri(),
            }
        )
    spark = None
    try:
        workload = WORKLOADS[args.workload](args.seed, run_dir / "inputs")
        workload.in_dir.mkdir()
        workload.make_inputs()

        from name_matcher_spark import session

        nproc = len(os.sched_getaffinity(0))
        t0 = time.perf_counter()
        spark = session.get_spark(
            app_name=f"perfbench-{args.workload}", master=f"local[{nproc}]", extra_conf=conf
        )
        session_s = time.perf_counter() - t0
        kernels = kernels_registered()
        runner = Runner(workload, spark, run_dir)
        warm = runner.one_pass("warmup")
        # the warm-up pass's own time, without its output check
        setup_s = session_s + warm.wall_s
        print(json.dumps({"stamp": stamp(spark, args.seed, args.workload)}), flush=True)

        if args.record:
            if warm.check is None:
                print("perfbench: the pass failed; nothing recorded", file=sys.stderr)
                return 1
            record(workload, warm.check.digests)
            print(json.dumps({"recorded": warm.check.digests}))
            return 0
        if args.trace:
            values = traced(runner, args.seconds, log_dir, session_s, kernels)
            spark = None  # traced() stopped it to flush the event log
        else:
            results = runner.timed(args.seconds, "timed")
            values = end_to_end(setup_s, results)
        units = metric_units(bool(args.trace))
        for entry in runner.log:
            print(json.dumps(entry), flush=True)
        result = {
            "correct": runner.failed == 0,
            "attempted": runner.n,
            "failed": runner.failed,
            "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
        }
        print(json.dumps(result), flush=True)
        return 0
    finally:
        shutdown(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
