"""End-to-end and per-layer benchmark of the bayesian_bm25_spark engine.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Run from the repository root.  One process, one Spark session at
`local[nproc]`, one closed-loop client.  The workloads and the metrics
are declared in BENCHMARK.json; perfbench/README.md explains them.

With `--trace 0` the last line of standard output is a JSON object with
every end-to-end metric; with `--trace 1` the Spark event log is on,
every call into a layer is wrapped in a span, and the line carries every
per-layer metric instead.  Everything the run writes stays under
`.perfbench/` in the repository root.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import platform
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

T0 = time.perf_counter()
ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench"


class Op:
    """One attempted operation: a batch, an entry call or an output check."""

    def __init__(self, name: str, timed: bool, items: int) -> None:
        self.name, self.timed, self.items = name, timed, items
        self.seconds = math.inf
        self.error: str | None = None

    @property
    def ok(self) -> bool:
        return self.error is None

    def fail(self, why: str) -> None:
        if self.error is None:
            self.error = why
            print(f"# FAILED {self.name}: {why}", file=sys.stderr)


class SetupSpan:
    def __init__(self) -> None:
        self.parts: dict[str, float] = {}

    @contextlib.contextmanager
    def part(self, name: str):
        t0 = time.perf_counter()
        yield
        self.parts[name] = time.perf_counter() - t0


class Run:
    """What a workload sees: the session, its inputs and the recorders."""

    def __init__(self, spark, args, work: Path, cores: int) -> None:
        self.spark, self.work, self.cores = spark, work, cores
        self.seed, self.seconds, self.trace = args.seed, args.seconds, bool(args.trace)
        self.setup_s: list[float] = []
        self.setup_parts: list[dict[str, float]] = []
        self.setup_windows: list[tuple[float, float]] = []
        self.ops: list[Op] = []
        self.loop_windows: list[tuple[float, float]] = []
        self.loop_wall = 0.0
        self.layers: dict[str, float] = {}
        self.memory: dict[str, float] = {}

    @contextlib.contextmanager
    def setup_span(self):
        """One set-up repetition.  A set-up that raises ends the run."""
        span, w0, t0 = SetupSpan(), time.time(), time.perf_counter()
        yield span
        self.setup_s.append(time.perf_counter() - t0)
        self.setup_parts.append(span.parts)
        self.setup_windows.append((w0, time.time()))
        self.mark(f"set-up {len(self.setup_s)} took {self.setup_s[-1]:.2f}s")

    @contextlib.contextmanager
    def op(self, name: str, timed: bool = True, items: int = 1):
        """One operation; an exception fails it and the run goes on."""
        op = Op(name, timed, items)
        self.ops.append(op)
        t0 = time.perf_counter()
        try:
            yield op
        except Exception:  # noqa: BLE001 - recorded as a failed operation
            op.fail(traceback.format_exc(limit=3).strip().splitlines()[-1])
            traceback.print_exc(file=sys.stderr)
        op.seconds = time.perf_counter() - t0

    def mark(self, what: str) -> None:
        """Log progress with the seconds since the process started."""
        print(f"# t={time.perf_counter() - T0:6.1f}s {what}", flush=True)

    def loop_started(self) -> None:
        """Start one window of the timed loop; a workload may split its
        loop into several windows, which add up to ``seconds``."""
        self.mark("timed loop starts")
        self._loop0 = (time.time(), time.perf_counter())

    def loop_ended(self) -> None:
        self.loop_windows.append((self._loop0[0], time.time()))
        self.loop_wall += time.perf_counter() - self._loop0[1]
        self.mark(f"timed loop ends after {sum(o.timed for o in self.ops)} operations")
        from layers import cache_mb, peak_rss_mb

        self.memory = {"cache_mb": cache_mb(self.spark), "peak_rss_mb": peak_rss_mb(self.spark)}

    def layer(self, name: str, value: float) -> None:
        self.layers[name] = float(value)


def latencies(ops: list[Op]) -> list[float]:
    """Timed operation latencies; a failed one counts as infinitely slow."""
    return sorted(o.seconds if o.ok else math.inf for o in ops if o.timed)


def tail(samples: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile with at least ten
    samples beyond it, but never below the upper median.  With fewer than
    21 samples no percentile above the median has ten beyond it, so the
    tail is the upper median; with one or two it is the maximum."""
    n = len(samples)
    i = max(n - 11, n // 2)
    return samples[i], 100.0 * (i + 1) / n, n


def end_to_end(run: Run, failed: int, attempted: int) -> tuple[dict[str, float], str]:
    lat = latencies(run.ops)
    finite = lambda v: v if math.isfinite(v) else run.loop_wall  # noqa: E731
    t_val, t_pct, n = tail(lat)
    done = sum(o.items for o in run.ops if o.timed and o.ok)
    values = {
        "setup_s": statistics.median(run.setup_s),
        "latency_p50_s": finite(statistics.median(lat)),
        "latency_tail_s": finite(t_val),
        "throughput_per_s": done / run.loop_wall,
        "peak_rss_mb": run.memory["peak_rss_mb"],
        "success_rate": 1.0 - failed / attempted,
    }
    note = f"latency_tail_s is p{t_pct:.1f} of {n} timed operations"
    return values, note


def start_spark(work: Path, cores: int, driver_gb: int, event_dir: Path | None):
    from pyspark.sql import SparkSession

    for d in ("tmp", "spark-local", "warehouse"):
        (work / d).mkdir(parents=True, exist_ok=True)
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{driver_gb}g")
        .config("spark.sql.shuffle.partitions", str(4 * cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", str(work / "spark-local"))
        .config("spark.sql.warehouse.dir", str(work / "warehouse"))
        .config(
            "spark.driver.extraJavaOptions",
            f"-Djava.io.tmpdir={work / 'tmp'} -Dderby.system.home={work / 'tmp'} -XX:-UsePerfData",
        )
    )
    if event_dir is not None:
        event_dir.mkdir(parents=True, exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", f"file://{event_dir}")
            .config("spark.eventLog.compress", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM has exited.  `spark.stop()`
    ends the Python workers but leaves the gateway JVM running until this
    process exits, and nothing would wait for it then."""
    jvm = spark.sparkContext._gateway.proc
    spark.stop()
    jvm.stdin.close()  # the gateway JVM exits when its stdin closes
    jvm.wait(timeout=60)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(ROOT / "BENCHMARK.json") as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        ap.error(f"--workload must be one of {names}")

    sys.path.insert(0, str(ROOT))
    import bayesian_bm25_spark  # noqa: F401 - the program under test must be here
    import entry_suite
    import serve

    workload = {"serve": serve.run, "entry_suite": entry_suite.run}[args.workload]

    cores = len(os.sched_getaffinity(0))
    mem_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    driver_gb = max(1, min(4, int(mem_gb // 4)))
    work = WORK / args.workload
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    # Spark, Python and the JVM put scratch files here instead of /tmp
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )  # Spark's Python workers import the package too
    event_dir = work / "eventlog" if args.trace else None

    env = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cores": cores, "mem_gb": round(mem_gb, 1), "driver_memory_gb": driver_gb,
        "master": f"local[{cores}]", "python": platform.python_version(),
    }
    print("# perfbench " + " ".join(f"{k}={v}" for k, v in env.items()), flush=True)

    spark = start_spark(work, cores, driver_gb, event_dir)
    app_id = spark.sparkContext.applicationId
    run = Run(spark, args, work, cores)
    run.mark("spark session up")
    try:
        workload(run)
    finally:
        stop_spark(spark)
    run.mark("spark stopped")

    failed = sum(not o.ok for o in run.ops)
    attempted = len(run.ops) + len(run.setup_s)
    values, note = end_to_end(run, failed, attempted)
    result_dir = WORK / "results"
    result_dir.mkdir(exist_ok=True)
    untraced = result_dir / f"{args.workload}-{args.seed}.json"

    if args.trace:
        from layers import finish_layers

        finish_layers(run, values, event_dir, app_id, untraced)
        wanted = spec["per_layer"]
        missing = [m["name"] for m in wanted if m["name"] not in run.layers]
        if missing:  # a layer this workload bypasses
            print(f"# zero (layer bypassed by {args.workload}): {', '.join(missing)}")
        got = {**{m: 0.0 for m in missing}, **run.layers}
    else:
        wanted = spec["end_to_end"]
        got = values
        with open(untraced, "w") as f:
            json.dump({"env": env, "finished": time.time(), "metrics": values}, f)

    metrics = {m["name"]: {"value": got[m["name"]], "unit": m["unit"]} for m in wanted}
    for name, m in metrics.items():
        print(f"# {name} = {m['value']:.6g} {m['unit']}")
    print("# operations (s): " + " ".join(f"{o.name}={o.seconds:.3f}" for o in run.ops[:60]))
    print(f"# {note}; attempted {attempted}, failed {failed}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
