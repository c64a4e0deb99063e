"""Repository benchmark entry point.

    python3 perfbench/run.py --workload cdc_stream --seed 1 --seconds 12 --trace 0

Builds one local Spark session (``local[<cpus>]``, BLAS pools pinned to
one thread), generates the workload's inputs from ``--seed``, sets up and
warms up, measures for ``--seconds``, checks the program's outputs, and
prints as its last stdout line one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. Everything it writes stays under
``perfbench/out``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
# import the benchmark as the ``perfbench`` package, never its files as
# top-level modules that could shadow others
sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p) not in (HERE, ROOT)]

# Metric names and units, as BENCHMARK.json at the checkout root lists them.
# Every run prints every end-to-end metric; every traced run prints every
# per-layer metric, and a layer the workload does not use reads 0.
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    _BENCH = json.load(_f)
END_TO_END = {m["name"]: m["unit"] for m in _BENCH["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _BENCH["per_layer"]}


def _prepare_env() -> None:
    """Process environment the session and its Python workers inherit:
    BLAS pools pinned to one thread (set before numpy loads) and the
    package importable from any working directory."""
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    # spark-submit's launcher JVM: no perf-data file outside the checkout
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"


def host_shape() -> dict:
    """Host context stored beside every result. Results are compared only
    between equal shapes; nothing is ever divided by these values."""
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return {"cpus": len(os.sched_getaffinity(0)), "mem_gib": round(mem_kb / 2**20)}


def yardstick_s() -> float:
    """Fixed single-thread Python loop (the same work unit as bench.py):
    a slow or contended host shows here, as context only."""
    t0 = time.perf_counter()
    x = 0
    for i in range(5_000_000):
        x += i
    return time.perf_counter() - t0


def _steal_ticks() -> tuple[int, int]:
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals[7], sum(vals)


def descendants() -> set[int]:
    """PIDs of every process below this one: the JVM the session launched
    and the Python workers under the JVM."""
    parent = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    parent[int(pid)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    tree, frontier = set(), [os.getpid()]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p and c not in tree]
        tree.update(kids)
        frontier += kids
    return tree


PF_FORKNOEXEC = 0x40  # /proc/<pid>/stat flag: forked, not yet exec'd


def _jvm_clone(pid: int) -> bool:
    """A child the JVM has spawned to run a helper (Hadoop's ``chmod``, for
    one) that has not yet exec'd it: it still shares the JVM's memory, so
    counting it would count the JVM twice."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    if not int(fields[6]) & PF_FORKNOEXEC:
        return False
    with open(f"/proc/{fields[1]}/comm") as f:
        return f.read().strip() == "java"


class RssSampler(threading.Thread):
    """Peak resident memory of this process tree — the driver, the JVM it
    launched and the Python workers under the JVM — sampled every 0.5 s.
    Each process counts its proportional set size, so pages that forked
    processes share are counted once."""

    def __init__(self):
        super().__init__(name="perfbench-rss", daemon=True)
        self.peak_mb = 0.0
        self._halt = threading.Event()

    @staticmethod
    def _tree_mb() -> float:
        total_kb = 0
        for pid in descendants() | {os.getpid()}:
            try:
                if _jvm_clone(pid):
                    continue
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    total_kb += next(int(line.split()[1]) for line in f
                                     if line.startswith("Pss:"))
            except (OSError, StopIteration, IndexError, ValueError):
                pass
        return total_kb / 1024

    def run(self) -> None:
        while not self._halt.is_set():
            self.peak_mb = max(self.peak_mb, self._tree_mb())
            self._halt.wait(0.5)

    def stop(self) -> float:
        self._halt.set()
        self.join(5)
        return self.peak_mb


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def _reap(pids: set[int], timeout: float) -> None:
    """Wait for ``pids`` to exit; kill the ones still alive at the end."""
    deadline = time.time() + timeout
    while time.time() < deadline and any(_alive(p) for p in pids):
        time.sleep(0.1)
    for p in pids:
        if _alive(p):
            os.kill(p, signal.SIGKILL)


def _stop_spark(spark) -> None:
    """Stop the session, then wait for the JVM and the Python workers it
    started to exit."""
    from pyspark import SparkContext

    started = descendants()
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    _reap(started, 10)


def _watchdog(limit_s: float) -> threading.Timer:
    """Abort a run that would exceed its time limit: kill every process it
    started and exit with code 3, printing no result."""
    def abort():
        print(f"perfbench: run exceeded {limit_s:.0f} s, aborting", file=sys.stderr)
        _reap(descendants(), 0)
        os._exit(3)
    timer = threading.Timer(limit_s, abort)
    timer.daemon = True
    timer.start()
    return timer


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in _BENCH["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plant-upsert-sleep", type=float, default=0.0,
                    help=argparse.SUPPRESS)  # the benchmark's own slowdown test
    args = ap.parse_args(argv)

    watchdog = _watchdog(170)
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    _prepare_env()
    try:
        from azure_airbnb_cdc_ingestion_pipeline_spark.session import get_spark
    except ImportError as exc:
        print(f"perfbench: the package is not in this checkout: {exc}", file=sys.stderr)
        return 2
    work = os.path.join(OUT, "work", run_id)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")  # pyspark's and the JVM's temp files
    from perfbench import cdc, llm
    from perfbench.common import Config
    from perfbench.tracing import Tracer

    shape = host_shape()
    context = {**shape, "yardstick_s": round(yardstick_s(), 4)}
    steal0 = _steal_ticks()
    rss = RssSampler()
    rss.start()
    tracer = Tracer(enabled=bool(args.trace))
    setup_t0 = time.time()
    spark = get_spark(
        f"perfbench-{args.workload}", master=f"local[{shape['cpus']}]",
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.driver.extraJavaOptions":
                # a fixed, pre-touched heap: peak RSS then does not depend
                # on when the collector grows the heap
                f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} -XX:+AlwaysPreTouch "
                f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.host": "127.0.0.1",
            "spark.driver.bindAddress": "127.0.0.1",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    cfg = Config(seed=args.seed, seconds=args.seconds, tracer=tracer, work=work,
                 upsert_sleep_s=args.plant_upsert_sleep)
    try:
        workload = {"cdc_stream": cdc.run, "llm_curation": llm.run}[args.workload]
        res = workload(spark, cfg)
    finally:
        _stop_spark(spark)
        peak_rss = rss.stop()
        shutil.rmtree(work, ignore_errors=True)
    steal1 = _steal_ticks()
    context["steal_pct"] = round(100 * (steal1[0] - steal0[0])
                                 / max(1, steal1[1] - steal0[1]), 2)

    e2e = {"setup_s": res.setup_end - setup_t0, **res.end_to_end,
           "peak_rss_mb": peak_rss}
    if args.trace:
        unknown = set(res.per_layer) - set(PER_LAYER)
        if unknown:
            raise ValueError(f"per-layer metrics missing from BENCHMARK.json: "
                             f"{sorted(unknown)}")
        layer = dict.fromkeys(PER_LAYER, 0.0)
        layer.update(res.per_layer)
        layer["failed_frac"] = res.failed / max(1, res.attempted)
        layer["trace.overhead_frac"] = res.trace_cost_s / max(res.window_s, 1e-9)
        metrics = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER.items()}
        os.makedirs(os.path.join(OUT, "spans"), exist_ok=True)
        tracer.dump(os.path.join(OUT, "spans", f"{run_id}.json"))
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    correct = res.failed == 0
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "host": context, "end_to_end": e2e,
        "per_layer": res.per_layer, "checks": res.checks, "errors": res.errors,
        "attempted": res.attempted, "failed": res.failed, "context": res.context,
    }
    os.makedirs(os.path.join(OUT, "results"), exist_ok=True)
    with open(os.path.join(OUT, "results", f"{run_id}.json"), "w") as f:
        json.dump(record, f, indent=1)
    for name, ok, detail in res.checks:
        print(f"check {'PASS' if ok else 'FAIL'} {name}: {detail}")
    for err in res.errors:
        print(f"failed operation: {err}")
    print("host " + json.dumps(context))
    print("context " + json.dumps(res.context))
    watchdog.cancel()
    print(json.dumps({"correct": correct, "attempted": res.attempted,
                      "failed": res.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
