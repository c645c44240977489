"""Benchmark of the ner_ocr_spark engine: one seeded workload per run.

    python3 perfbench/run.py --workload ocr_html_checkpoint --seed 1 --seconds 20 --trace 0

Run from the root of a source checkout; the engine is imported from there.
Each run starts a local[k] Spark session (k = min(3, usable cores)), builds
the workload's inputs from the seed, sets up three times (session start,
caching, warm-up; the first start launches the JVM), then runs a fixed
number of passes sized by --seconds and reports medians over them. The
outputs of the last pass are checked against the reference.

--trace 0 prints the end-to-end metrics; --trace 1 also runs traced passes,
reads Spark's stage and SQL accounting, replays the OCR and text kernels on
the workload's inputs, writes the spans under .bench_build/perfbench/trace/
and prints the per-layer metrics. The last line of stdout is one JSON
object: {"correct", "attempted", "failed", "metrics"}.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build" / "perfbench"
SETUPS = 3
MIN_PASSES = 3
# local[k] with k = min(CORES, usable cores). Task threads, the JVM's GC
# and JIT compiler threads and one Python worker per task all compete for
# the cores; on a shared 4-core machine k = 4 measured the scheduler (a
# checkpointed extraction pass took longer, and twice the CPU seconds, than
# at k = 2), so one core is left to the JVM's own threads.
CORES = 3
JVM_THREADS = "-XX:ParallelGCThreads=2 -XX:ConcGCThreads=1 -XX:CICompilerCount=2"

END_TO_END_UNITS = {
    "wall_s": "s",
    "docs_per_s": "docs/s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "cpu_s": "s",
}


def _parse() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def _isolate() -> Path:
    """Keep every file Spark, the JVM and the Python workers write inside
    the checkout, and let the workers import the engine from it."""
    if not (ROOT / "ner_ocr_spark" / "pipeline.py").is_file():
        sys.exit(f"perfbench: no ner_ocr_spark package under {ROOT}")
    tmp = BUILD / "tmp"
    for scratch in (tmp, BUILD / "work"):
        shutil.rmtree(scratch, ignore_errors=True)
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    # spark-submit first runs a launcher JVM, which takes no Spark conf
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, str(ROOT))
    return tmp


def _start_session(k: int, tmp: Path):
    from ner_ocr_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench", master=f"local[{k}]", shuffle_partitions=k,
        extra={
            # a fixed, pre-touched heap: the JVM's resident size then does
            # not depend on when G1 decides to grow the heap
            "spark.driver.memory": "1g",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -Xms1g -XX:+AlwaysPreTouch -XX:-UsePerfData "
                + JVM_THREADS,
            "spark.local.dir": str(tmp),
            "spark.sql.warehouse.dir": str(tmp / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _setup(wl, seed: int, k: int, tmp: Path) -> tuple[object, dict[str, float]]:
    """Generate once, then start, load and warm SETUPS times; every set-up
    but the last stops its session. Returns the live session and the
    medians."""
    t0 = time.perf_counter()
    wl.generate(seed)
    generate_s = time.perf_counter() - t0
    start, load, warm = [], [], []
    for i in range(SETUPS):
        t0 = time.perf_counter()
        spark = _start_session(k, tmp)
        t1 = time.perf_counter()
        wl.load(spark)
        t2 = time.perf_counter()
        wl.warm(spark, k)
        t3 = time.perf_counter()
        start.append(t1 - t0)
        load.append(t2 - t1)
        warm.append(t3 - t2)
        if i < SETUPS - 1:
            spark.stop()
    totals = [generate_s + s + c + w for s, c, w in zip(start, load, warm)]
    print(f"setup: generate {generate_s:.2f} s; start, load, warm-up per set-up: "
          + "; ".join(f"{s:.2f} {c:.2f} {w:.2f}" for s, c, w in zip(start, load, warm)))
    return spark, {
        "setup_s": statistics.median(totals),
        "session.start_s": statistics.median(start),
        "session.jvm_launch_s": start[0],
        "setup.generate_s": generate_s,
        "setup.load_s": statistics.median(load),
        "setup.warmup_s": statistics.median(warm),
    }


def _measure(wl, spark, seconds: float, jvm_pid: int) -> dict[str, float]:
    """Repeat the workload and take medians of wall and process-tree CPU
    per pass. The pass count is fixed by `seconds` and the workload's
    nominal pass time (at least MIN_PASSES), not by a clock: every run of
    a workload then replays the same sequence of plans, so the JVM has
    compiled the same code by the time each measured pass starts."""
    import procstat

    n = max(MIN_PASSES, int(seconds // wl.nominal_pass_s))
    walls, cpus, extras = [], [], []
    with procstat.PeakRss(jvm_pid) as rss:
        for _ in range(n):
            wl.prepare_pass()
            c0, t0 = procstat.cpu_seconds(jvm_pid), time.perf_counter()
            extras.append(wl.run_pass(spark))
            walls.append(time.perf_counter() - t0)
            cpus.append(procstat.cpu_seconds(jvm_pid) - c0)
    print("passes: " + " ".join(f"{w:.3f}" for w in walls) + " s wall; "
          + " ".join(f"{c:.2f}" for c in cpus) + " s cpu")
    wall = statistics.median(walls)
    out = {
        "wall_s": wall,
        "docs_per_s": wl.n_docs / wall,
        "peak_rss_mb": rss.peak_mb,
        "cpu_s": statistics.median(cpus),
        "passes": n,
    }
    for key in extras[0]:
        out[key] = statistics.median(e[key] for e in extras)
    return out


def _shutdown() -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=60)


def main(args: argparse.Namespace) -> int:
    tmp = _isolate()
    sys.path.insert(0, str(Path(__file__).resolve().parent))
    import workloads

    if args.workload not in workloads.NAMES:
        sys.exit(f"perfbench: unknown workload {args.workload!r}; "
                 f"choose from {', '.join(workloads.NAMES)}")
    k = max(1, min(CORES, len(os.sched_getaffinity(0))))
    wl = workloads.make(args.workload, BUILD / "work")
    try:
        spark, setup = _setup(wl, args.seed, k, tmp)
        jvm_pid = spark.sparkContext._gateway.proc.pid
        t0 = time.perf_counter()
        e2e = _measure(wl, spark, args.seconds, jvm_pid)
        e2e["setup_s"] = setup["setup_s"]
        t1 = time.perf_counter()
        check = wl.check(spark)
        print(f"measure {t1 - t0:.2f} s, check {time.perf_counter() - t1:.2f} s")
        layer = {}
        if args.trace:
            import tracing

            layer = tracing.per_layer(wl, spark, e2e, setup, check, BUILD / "trace",
                                      args.seed)
    finally:
        _shutdown()

    print(f"workload {args.workload} seed {args.seed} k={k} docs={wl.n_docs} "
          f"passes={e2e['passes']}")
    for name, unit in END_TO_END_UNITS.items():
        print(f"  {name:16s} {e2e[name]:12.4f} {unit}")
    print(f"  {'failed_frac':16s} {check.error_rows / max(check.span_rows, 1):12.4f} "
          "error rows/span rows")
    print(f"  {'mismatch_frac':16s} {check.mismatched / max(check.attempted, 1):12.4f} "
          "docs or rows differing/total")
    if "resume_s" in e2e:
        print(f"  {'resume_s':16s} {e2e['resume_s']:12.4f} s")
    for note in check.notes:
        print(f"  check: {note}")
    if args.trace:
        metrics = {name: {"value": v, "unit": u} for name, (v, u) in layer.items()}
    else:
        metrics = {name: {"value": e2e[name], "unit": unit}
                   for name, unit in END_TO_END_UNITS.items()}
    print(json.dumps({
        "correct": check.correct,
        "attempted": check.attempted,
        "failed": check.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(_parse()))
