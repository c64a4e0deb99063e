"""cdc_stream: the reference's own job, as a closed loop.

``load_booking_fact_stream`` (continuous ``processingTime`` trigger, one
file per trigger, incremental gold) first backfills a month-partitioned
booking fact from a seed file, then takes change-feed files one at a time:
each lands as soon as the one before it has committed, and a reader thread
rebuilds gold from the live resolved fact beside each batch, starting at
the same landing. A file's latency runs from its landing to the end of the
trigger that committed it. Landing only on an idle stream keeps a slow
batch from charging the files behind it, so a run's latencies do not grow
with a queue when the host slows down.
"""

from __future__ import annotations

import os
import queue
import shutil
import threading
import time
from datetime import datetime

import pandas as pd
from pyspark.sql import functions as F

from azure_airbnb_cdc_ingestion_pipeline_spark.operators.aggregate import (
    gold_booking_aggregation,
)
from azure_airbnb_cdc_ingestion_pipeline_spark.pipelines.load_booking_fact import (
    load_booking_fact_stream,
)
from azure_airbnb_cdc_ingestion_pipeline_spark.sources.tables import ParquetTable

from . import gen
from .common import Config, Result, noop
from .tracing import (
    SparkStatus, Tracer, layer_self_times, op_breakdown, p50, reconciliation,
    spark_medians, stages_of, union_length,
)

SEED_KEYS = 24_000  # fact rows, over gen.MONTHS partitions
FILE_EVENTS = 1000  # events per drip file
MIN_CYCLE_S = 2.0  # no batch and scan run faster: sizes the staged drip
# Drip files committed through the incremental-gold path before timing
# starts, in the same cycles as the timed ones, reader scan included: the
# first incremental batches and scans run cold, so the timed ones are warm.
WARMUP_DRIP = 2
WARMUP_FILES = 1 + WARMUP_DRIP  # the seed file (backfill + gold build) first
TRIGGER = "250 milliseconds"
WAIT_TIMEOUT_S = 40.0  # longest wait for a file to commit, outside the window
READER_GROUP = "perfbench-reader"

# Progress phases in the order a micro-batch runs them, with their layer.
PHASES = (("latestOffset", "streaming"), ("walCommit", "streaming"),
          ("getBatch", "streaming"), ("queryPlanning", "streaming"),
          ("addBatch", "pipelines"), ("commitOffsets", "streaming"))
TXN_PROBES = ("exists", "last_txn", "last_txn_base")


class BenchTable(ParquetTable):
    """ParquetTable that records every call of its public methods: the
    table layer as the pipeline sees it. ``upsert_sleep_s`` plants a
    slowdown inside ``upsert_delta`` for the benchmark's own test."""

    TIMED = ("read", "read_for_keys", "overwrite", "append", "upsert_delta",
             "maybe_compact", *TXN_PROBES)

    def __init__(self, spark, root: str, name: str, tracer: Tracer,
                 calls: list, upsert_sleep_s: float = 0.0):
        super().__init__(spark, root)
        self.name = name
        self.tracer = tracer
        self.calls = calls
        self.upsert_sleep_s = upsert_sleep_s
        self._depth = threading.local()

    def _timed(self, method: str, fn, *args, **kwargs):
        if not self.tracer.enabled:
            return fn(*args, **kwargs)
        c0 = time.perf_counter()
        depth = getattr(self._depth, "n", 0)
        self._depth.n = depth + 1
        start, ok = time.time(), False
        cost = time.perf_counter() - c0
        try:
            out = fn(*args, **kwargs)
            ok = True
            return out
        finally:
            end = time.time()
            c0 = time.perf_counter()
            self._depth.n = depth
            self.calls.append({
                "table": self.name, "method": method, "start": start,
                "end": end, "depth": depth, "ok": ok,
                "thread": threading.current_thread().name,
            })
            self.tracer.costs.append(cost + time.perf_counter() - c0)

    def upsert_delta(self, *args, **kwargs):
        def slowed(*a, **kw):
            time.sleep(self.upsert_sleep_s)
            return ParquetTable.upsert_delta(self, *a, **kw)
        return self._timed("upsert_delta", slowed, *args, **kwargs)


def _wrap(method: str):
    base = getattr(ParquetTable, method)

    def timed(self, *args, **kwargs):
        return self._timed(method, lambda *a, **kw: base(self, *a, **kw),
                           *args, **kwargs)
    timed.__name__ = method
    return timed


for _m in BenchTable.TIMED:
    if _m != "upsert_delta":
        setattr(BenchTable, _m, _wrap(_m))


def _progress_time(stamp: str) -> float:
    return datetime.fromisoformat(stamp.replace("Z", "+00:00")).timestamp()


class _Reader(threading.Thread):
    """The analyst beside the writer: gold rebuilt from the live resolved
    fact once per ``request``, on its own thread and job group."""

    def __init__(self, spark, fact, dim):
        super().__init__(name="perfbench-reader", daemon=True)
        self.spark, self.fact, self.dim = spark, fact, dim
        self.scans: list[tuple[float, float, bool, str]] = []
        self._todo: queue.Queue = queue.Queue()

    def scan(self) -> None:
        start, err = time.time(), ""
        try:
            noop(gold_booking_aggregation(self.fact.read(), self.dim))
        except Exception as exc:  # a failed scan is counted, not retried
            err = f"{type(exc).__name__}: {str(exc)[:300]}"
        self.scans.append((start, time.time(), not err, err))

    def request(self) -> None:
        self._todo.put(True)

    def stop(self) -> None:
        self._todo.put(False)

    def run(self) -> None:
        self.spark.sparkContext.setJobGroup(READER_GROUP, "reader scan")
        while self._todo.get():
            self.scan()


def run(spark, cfg: Config) -> Result:
    res = Result()
    tr = cfg.tracer
    n_drip = int(cfg.seconds / MIN_CYCLE_S) + 1  # more than the window can take
    n_files = WARMUP_FILES + n_drip  # the seed file, then the drip
    calls: list[dict] = []  # table calls, recorded by a traced run only
    with tr.span("setup", "phase") as setup_sp:
        with tr.span("generate", "setup", setup_sp):
            feed = gen.make_feed(cfg.seed, SEED_KEYS, n_files - 1, FILE_EVENTS)
            stage, landing = (os.path.join(cfg.work, d) for d in ("stage", "landing"))
            os.makedirs(stage)
            os.makedirs(landing)
            staged = []
            for k, events in enumerate([feed.seed, *feed.drip]):
                staged.append(os.path.join(stage, f"feed_{k:05d}.json"))
                gen.write_json_lines(events, staged[-1])
        dim = spark.createDataFrame(feed.dim, "customer_id int, country string")
        tables = {name: BenchTable(spark, os.path.join(cfg.work, name), name, tr,
                                   calls, cfg.upsert_sleep_s if name == "fact" else 0.0)
                  for name in ("fact", "quarantine", "gold")}
        fact, quarantine, gold = tables["fact"], tables["quarantine"], tables["gold"]
        progress: dict[int, dict] = {}

        def committed() -> list[dict]:
            for p in query.recentProgress:
                progress[int(p["batchId"])] = p
            return [p for _, p in sorted(progress.items())
                    if int(p.get("numInputRows", 0)) > 0]

        def land(k: int) -> None:
            target = os.path.join(landing, os.path.basename(staged[k]))
            shutil.move(staged[k], target)
            os.utime(target)  # increasing mtimes keep the source's file order

        reader = _Reader(spark, fact, dim)
        reader.start()

        def cycle(k: int, scan: bool = True) -> float:
            """Land file ``k``, with a reader scan beside its batch, and wait
            until both have ended; returns the landing time."""
            land(k)
            at = time.time()
            scans = len(reader.scans) + scan
            if scan:
                reader.request()
            deadline = at + WAIT_TIMEOUT_S
            while ((len(committed()) <= k or len(reader.scans) < scans)
                   and query.isActive and time.time() < deadline):
                time.sleep(0.05)
            return at

        with tr.span("stream_warmup", "setup", setup_sp) as warm_sp:
            query = load_booking_fact_stream(
                spark, landing, fact, quarantine, os.path.join(cfg.work, "ckpt"),
                dim=dim, gold=gold, available_now=False, processing_time=TRIGGER,
                max_files_per_trigger=1, incremental_gold=True,
            )
            for k in range(WARMUP_FILES):
                with tr.span(f"warm-up file {k}", "setup", warm_sp):
                    cycle(k, scan=k > 0)  # no fact to scan before the seed file
    n_warm_scans = len(reader.scans)

    # --- timed window: closed-loop drip, reader beside each batch ---------
    landed, late = [], []
    cost0 = tr.cost_s()
    t0 = time.time()
    res.setup_end = t0
    with tr.span("measure", "phase") as measure_sp:
        ready = t0
        while time.time() < t0 + cfg.seconds and len(landed) < n_drip:
            k = WARMUP_FILES + len(landed)
            landed.append(cycle(k))
            late.append(landed[-1] - ready)
            ready = time.time()
            if len(committed()) <= k:
                break  # counted as a failed operation below
    t_end = time.time()
    n_meas = len(landed)
    res.window_s, res.trace_cost_s = t_end - t0, tr.cost_s() - cost0
    with tr.span("drain", "phase"):
        reader.stop()
        reader.join(WAIT_TIMEOUT_S)
        batches = committed()
        stream_error = query.exception()
        query.stop()
    timed_scans = reader.scans[n_warm_scans:]

    # --- operations: measured batches and reader scans -------------------
    meas = batches[WARMUP_FILES:WARMUP_FILES + n_meas]
    latencies, trig_walls, events_in = [], [], 0
    for i, p in enumerate(meas):
        start = _progress_time(p["timestamp"])
        wall = p["durationMs"]["triggerExecution"] / 1e3
        latencies.append(start + wall - landed[i])
        trig_walls.append(wall)
        events_in += int(p["numInputRows"])
    res.attempted += 2 * n_meas + WARMUP_DRIP  # batches, scans
    res.failed += (n_meas - len(meas)) + (WARMUP_DRIP + n_meas - len(reader.scans))
    if len(meas) < n_meas:
        res.errors.append(f"{n_meas - len(meas)} drip files not committed"
                          + (f" (stream error: {stream_error})" if stream_error else ""))
    if len(reader.scans) < WARMUP_DRIP + n_meas:
        res.errors.append(f"{WARMUP_DRIP + n_meas - len(reader.scans)} reader scans "
                          "not finished")
    for _s, _e, ok, err in reader.scans:
        if not ok:
            res.failed += 1
            res.errors.append(f"reader scan: {err}")

    # --- correctness of the end state (outside the timed window) ---------
    with tr.span("check", "phase"):
        _check_end_state(res, feed, len(batches), fact, quarantine, gold, dim)

    scan_walls = [e - s for s, e, ok, _ in timed_scans if ok]
    res.end_to_end = {
        "op_p50_s": p50(latencies),
        "capacity_per_s": events_in / sum(trig_walls) if trig_walls else 0.0,
    }
    res.context = {
        "files_measured": n_meas, "files_committed": len(meas),
        "window_s": round(t_end - t0, 3), "file_events": FILE_EVENTS,
        "event_to_commit_s": [round(x, 4) for x in latencies],
        "reader_scans": len(timed_scans), "seed_fact_keys": SEED_KEYS,
    }
    if tr.enabled:
        res.per_layer = _per_layer(
            spark, tr, measure_sp, meas, landed, latencies, trig_walls, events_in,
            timed_scans, scan_walls, calls, late, t0, t_end, fact)
    return res


def _check_end_state(res: Result, feed: gen.Feed, n_committed: int,
                     fact, quarantine, gold, dim) -> None:
    if not n_committed:
        res.check("seed_committed", False, "the seed file was never committed")
        return
    drip = pd.concat([feed.seed.iloc[:0], *feed.drip[:n_committed - 1]],
                     ignore_index=True)
    bad = gen.inverted_mask(drip)
    events = pd.concat([feed.seed, drip[~bad]], ignore_index=True)
    want = (events.sort_values("timestamp")
            .drop_duplicates("booking_id", keep="last")
            [["booking_id", "customer_id", "amount", "timestamp"]])
    got = fact.read().select(
        "booking_id", "customer_id", "amount",
        F.date_format("timestamp", "yyyy-MM-dd HH:mm:ss").alias("timestamp"),
    ).toPandas()
    dup = int(got["booking_id"].duplicated().sum())
    res.check("fact_unique_keys", dup == 0, f"{dup} duplicate booking_id")
    cols = ["booking_id", "customer_id", "amount", "timestamp"]
    joined = want.astype({"customer_id": "int64"}).merge(
        got.astype({"customer_id": "int64"}), on=cols, how="outer", indicator=True)
    diff = int((joined["_merge"] != "both").sum())
    res.check("fact_latest_per_key", diff == 0 and len(got) == len(want),
              f"{diff} rows differ; fact {len(got)} rows, expected {len(want)}")
    n_q = quarantine.read().count() if quarantine.exists() else 0
    res.check("quarantine_rows", n_q == int(bad.sum()),
              f"quarantine {n_q} rows, planted {int(bad.sum())}")

    def r6(df) -> pd.DataFrame:  # one row per country; money at 6 dp
        return (df.select("country", "total_bookings", "last_booking_date",
                          F.round("total_amount", 6).alias("total_amount"))
                .toPandas().sort_values("country").reset_index(drop=True))

    rebuilt, live = r6(gold_booking_aggregation(fact.read(), dim)), r6(gold.read())
    same = rebuilt.equals(live)
    res.check("gold_parity_6dp", same,
              f"{len(live)} gold rows" if same else f"gold {live} != rebuilt {rebuilt}")


def _per_layer(spark, tr, measure_sp, meas, landed, latencies, trig_walls,
               events_in, scans, scan_walls, calls, late, t0, t_end,
               fact) -> dict:
    status = SparkStatus(spark)
    status.settle()
    jobs, stages = status.fetch()
    job_stages = stages_of(jobs, stages)
    stream_jobs = [j for j in jobs if j["group"] != READER_GROUP]
    reader_jobs = [j for j in jobs if j["group"] == READER_GROUP]

    def in_window(items, lo, hi):
        return [x for x in items if lo <= x["start"] < hi]

    ops, per_batch, txn = [], [], []
    for i, p in enumerate(meas):
        start = _progress_time(p["timestamp"])
        end = start + trig_walls[i]
        op = tr.add(f"batch {p['batchId']}", "op", start, end, measure_sp,
                    latency_s=latencies[i], queue_wait_s=start - landed[i])
        ops.append(op)
        dm = p["durationMs"]
        t, add_span = start, None
        for phase, layer in PHASES:
            d = dm.get(phase, 0) / 1e3
            sp = tr.add(phase, layer, t, t + d, op)
            if phase == "addBatch":
                add_span, add_lo, add_hi = sp, t, t + d
            t += d
        bcalls = [c for c in in_window(calls, start, end)
                  if c["thread"] != "perfbench-reader"]
        _add_calls(tr, bcalls, add_span)
        bj = in_window(stream_jobs, start, end)
        bd = op_breakdown(trig_walls[i], start, bj, job_stages)
        _add_stages(tr, bd["stage_list"], bcalls, add_span)
        bd["driver_s"] = (add_hi - add_lo) - union_length(
            [(s["start"], s["end"]) for s in bd["stage_list"]], add_lo, add_hi)
        per_batch.append(bd)
        txn.append(sum(c["end"] - c["start"] for c in bcalls
                       if c["depth"] == 0 and c["method"] in TXN_PROBES))
    for k, (s, e, ok, _err) in enumerate(scans):
        op = tr.add(f"reader scan {k}", "op", s, e, measure_sp, ok=ok)
        ops.append(op)
        rcalls = [c for c in in_window(calls, s, e) if c["thread"] == "perfbench-reader"]
        _add_calls(tr, rcalls, op)
        rj = in_window(reader_jobs, s, e)
        _add_stages(tr, [a for j in rj for a in job_stages[j["job_id"]]], rcalls, op)

    def top(table, method, in_batches=True):
        lo_hi = [(_progress_time(p["timestamp"]),
                  _progress_time(p["timestamp"]) + trig_walls[i])
                 for i, p in enumerate(meas)]
        out = []
        for c in calls:
            if c["table"] != table or c["method"] != method or c["depth"]:
                continue
            reader_call = c["thread"] == "perfbench-reader"
            if in_batches and not reader_call and any(
                    lo <= c["start"] < hi for lo, hi in lo_hi):
                out.append(c["end"] - c["start"])
            elif not in_batches and reader_call and t0 <= c["start"] < t_end:
                out.append(c["end"] - c["start"])
        return out

    def phase(name):
        return [p["durationMs"].get(name, 0) / 1e3 for p in meas]

    upserts = top("fact", "upsert_delta")
    window = t_end - t0
    m = {
        "event_to_commit_p50_s": p50(latencies),
        "event_to_commit_tail_s": max(latencies, default=0.0),
        "capacity_events_per_s": events_in / sum(trig_walls) if trig_walls else 0.0,
        "fact_scan_p50_s": p50(scan_walls),
        "streaming.queue_wait_p50_s": p50(
            [_progress_time(p["timestamp"]) - landed[i] for i, p in enumerate(meas)]),
        "streaming.trigger_p50_s": p50(trig_walls),
        "streaming.trigger_max_s": max(trig_walls, default=0.0),
        "streaming.offsets_p50_s": p50(
            [a + b for a, b in zip(phase("latestOffset"), phase("getBatch"))]),
        "streaming.commit_log_p50_s": p50(
            [a + b for a, b in zip(phase("walCommit"), phase("commitOffsets"))]),
        "streaming.busy_frac": union_length(
            [(_progress_time(p["timestamp"]),
              _progress_time(p["timestamp"]) + trig_walls[i])
             for i, p in enumerate(meas)], t0, t_end) / window,
        "pipelines.batch_p50_s": p50(phase("addBatch")),
        "tables.fact.upsert_delta_p50_s": p50(upserts),
        "tables.fact.upsert_delta_max_s": max(upserts, default=0.0),
        "tables.fact.read_for_keys_p50_s": p50(top("fact", "read_for_keys")),
        "tables.gold.read_p50_s": p50(top("gold", "read")),
        "tables.gold.overwrite_p50_s": p50(top("gold", "overwrite")),
        "tables.quarantine.append_p50_s": p50(top("quarantine", "append")),
        "tables.txn_probe_s": p50(txn),
        "tables.fact.read_p50_s": p50(top("fact", "read", in_batches=False)),
        "tables.fact.live_files_end": float(fact.live_file_count()),
        "gen.late_max_s": max(late, default=0.0),
    }
    m.update(spark_medians(per_batch, "batch", (
        "jobs", "stages", "tasks", "driver_s", "cpu_s", "gc_s", "shuffle_write_mb")))
    m.update(layer_self_times(tr, ops, n_ops=len(ops) or 1))
    m.update(reconciliation([b["recon_err"] for b in per_batch]))
    return m


def _add_calls(tr, calls: list[dict], parent) -> None:
    """Table calls as spans; a nested call's parent is the enclosing call
    on the same thread."""
    open_: dict[str, list] = {}
    for c in sorted(calls, key=lambda c: (c["start"], c["depth"])):
        stack = open_.setdefault(c["thread"], [])
        while stack and stack[-1][1] <= c["start"]:
            stack.pop()
        sid = tr.add(f"{c['table']}.{c['method']}", "tables", c["start"], c["end"],
                     stack[-1][0] if stack else parent, ok=c["ok"])
        c["span"] = sid
        stack.append((sid, c["end"]))


def _add_stages(tr, stage_list: list[dict], calls: list[dict], parent) -> None:
    """Stage spans under the innermost table call whose interval holds the
    stage's submission, else under ``parent``."""
    for s in stage_list:
        holders = [c for c in calls if c["start"] <= s["start"] < c["end"]]
        inner = max(holders, key=lambda c: c["start"], default=None)
        tr.add(f"stage {s['stage_id']}.{s['attempt']} {s['name'][:60]}", "spark",
               s["start"], s["end"], inner["span"] if inner else parent,
               tasks=s["tasks"], cpu_s=s["cpu_s"])
