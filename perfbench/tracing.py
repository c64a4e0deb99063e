"""In-memory spans and the Spark status API, read from outside the program.

Spans nest run → phase → operation (batch, pass, query, reader scan) →
layer call (table method, streaming progress phase, Spark stage). All
times are epoch seconds, the clock Spark's status API reports in, so
stage spans and benchmark-side spans share one time line. Spans stay in
memory and are written once, when the run ends.
"""

from __future__ import annotations

import json
import statistics
import threading
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime


class Tracer:
    """Span recorder. ``enabled=False`` records nothing, so the untraced
    run executes the same benchmark code without the bookkeeping."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.costs: list[float] = []  # seconds spent recording, per record
        self._lock = threading.Lock()
        self._next_id = 1

    def cost_s(self) -> float:
        """Seconds spent so far in recording code."""
        return sum(self.costs)

    def add(self, name: str, layer: str, start: float, end: float,
            parent: int | None = None, **attrs) -> int | None:
        if not self.enabled:
            return None
        c0 = time.perf_counter()
        with self._lock:
            sid = self._next_id
            self._next_id += 1
            self.spans.append({"id": sid, "parent": parent, "name": name,
                               "layer": layer, "start": start, "end": end,
                               **attrs})
        self.costs.append(time.perf_counter() - c0)
        return sid

    @contextmanager
    def span(self, name: str, layer: str, parent: int | None = None, **attrs):
        """Time a block; yields the span id children use as ``parent``.
        The span is recorded when the block exits, with ``ok=False`` if it
        raised."""
        sid = None
        c0 = time.perf_counter()
        if self.enabled:
            with self._lock:
                sid = self._next_id
                self._next_id += 1
            self.costs.append(time.perf_counter() - c0)
        start = time.time()
        ok = True
        try:
            yield sid
        except BaseException:
            ok = False
            raise
        finally:
            if sid is not None:
                end = time.time()
                c0 = time.perf_counter()
                with self._lock:
                    self.spans.append({"id": sid, "parent": parent,
                                       "name": name, "layer": layer,
                                       "start": start, "end": end,
                                       "ok": ok, **attrs})
                self.costs.append(time.perf_counter() - c0)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(sorted(self.spans, key=lambda s: s["id"]), f)


# --- interval arithmetic ---------------------------------------------------

def union_length(intervals, lo: float | None = None,
                 hi: float | None = None) -> float:
    """Total length covered by ``intervals`` ((start, end) pairs), clipped
    to [lo, hi] when given."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(clipped):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id → self time: its duration minus the part of its interval
    that its child spans cover."""
    children: dict[int, list] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - union_length(children.get(s["id"], []), s["start"], s["end"])
        for s in spans
    }


def p50(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


# --- Spark status API ------------------------------------------------------

def _epoch(stamp: str | None) -> float | None:
    """Status-API time ('2026-10-17T02:46:35.123GMT') → epoch seconds."""
    if not stamp:
        return None
    return datetime.strptime(
        stamp.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z"
    ).timestamp()


class SparkStatus:
    """Jobs and stages of this application from Spark's REST status API
    (the UI server of the driver, on the loopback address)."""

    def __init__(self, spark):
        sc = spark.sparkContext
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = (f"http://127.0.0.1:{port}/api/v1/applications/"
                     f"{sc.applicationId}")

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def settle(self, timeout: float = 20.0) -> None:
        """Wait until the status store shows no running job: the listener
        bus updates it asynchronously after a job ends."""
        deadline = time.time() + timeout
        while time.time() < deadline:
            if not self._get("/jobs?status=running"):
                return
            time.sleep(0.3)

    def fetch(self) -> tuple[list[dict], list[dict]]:
        """(jobs, stages) of completed and failed work, with epoch times
        and per-stage totals in seconds and MB."""
        jobs = []
        for j in self._get("/jobs"):
            start, end = _epoch(j.get("submissionTime")), _epoch(j.get("completionTime"))
            if start is None or end is None:
                continue
            jobs.append({"job_id": j["jobId"], "group": j.get("jobGroup"),
                         "start": start, "end": end,
                         "stage_ids": j.get("stageIds", [])})
        stages = []
        raw = self._get("/stages?withSummaries=true&quantiles=1.0")
        for s in raw:
            start = _epoch(s.get("submissionTime"))
            end = _epoch(s.get("completionTime"))
            if start is None or end is None:
                continue
            dist = (s.get("taskMetricsDistributions") or {})
            max_in = ((dist.get("inputMetrics") or {}).get("bytesRead") or [0])[-1]
            stages.append({
                "stage_id": s["stageId"], "attempt": s["attemptId"],
                "name": s.get("name", ""), "start": start, "end": end,
                "tasks": s.get("numTasks", 0),
                "run_s": s.get("executorRunTime", 0) / 1e3,
                "cpu_s": s.get("executorCpuTime", 0) / 1e9,
                "gc_s": s.get("jvmGcTime", 0) / 1e3,
                "shuffle_write_mb": s.get("shuffleWriteBytes", 0) / 2**20,
                "fetch_wait_s": s.get("shuffleFetchWaitTime", 0) / 1e3,
                "input_mb": s.get("inputBytes", 0) / 2**20,
                "spill_mb": s.get("diskBytesSpilled", 0) / 2**20,
                "max_task_input_mb": max_in / 2**20,
            })
        return jobs, stages


def stages_of(jobs: list[dict], stages: list[dict]) -> dict[int, list[dict]]:
    """Job id → the stage attempts that ran for it. A stage a later job
    reuses is listed by that job too but ran before it started, so only
    attempts submitted inside the job's interval count."""
    by_id: dict[int, list] = {}
    for s in stages:
        by_id.setdefault(s["stage_id"], []).append(s)
    return {j["job_id"]: [a for sid in set(j["stage_ids"])
                          for a in by_id.get(sid, [])
                          if j["start"] - 0.001 <= a["start"] <= j["end"]]
            for j in jobs}


def op_breakdown(wall: float, start: float, jobs: list[dict],
                 job_stages: dict[int, list[dict]]) -> dict:
    """Spark-side breakdown of one operation (a batch or a pass) from the
    jobs attributed to it.

    ``stage_s`` is the wall covered by at least one stage and ``driver_s``
    the rest of the wall. The reconciliation check measures driver time a
    second way, as the wall outside every job, and reports
    |outside-jobs + stage-covered − wall| / wall: it stays small only when
    the status API accounts for the operation's Spark work stage by
    stage."""
    end = start + wall
    stg = [s for j in jobs for s in job_stages.get(j["job_id"], [])]
    job_cov = union_length([(j["start"], j["end"]) for j in jobs], start, end)
    stage_cov = union_length([(s["start"], s["end"]) for s in stg], start, end)
    outside_jobs = wall - job_cov
    return {
        "jobs": len(jobs), "stages": len(stg),
        "tasks": sum(s["tasks"] for s in stg),
        "driver_s": wall - stage_cov, "stage_s": stage_cov,
        "recon_err": (abs(outside_jobs + stage_cov - wall) / wall
                      if wall > 0 else 0.0),
        **{k: sum(s[k] for s in stg) for k in (
            "run_s", "cpu_s", "gc_s", "shuffle_write_mb", "fetch_wait_s",
            "input_mb", "spill_mb")},
        "max_task_input_mb": max((s["max_task_input_mb"] for s in stg),
                                 default=0.0),
        "stage_list": stg,
    }


def spark_medians(breakdowns: list[dict], op: str, fields: tuple[str, ...]) -> dict:
    """Median over operations of each ``op_breakdown`` field, named
    ``spark.<field>_per_<op>[_<unit>]`` (``driver_s`` → ``spark.driver_per_batch_s``)."""
    out = {}
    for f in fields:
        base, _, unit = f.rpartition("_") if f.endswith(("_s", "_mb")) else (f, "", "")
        out[f"spark.{base}_per_{op}" + (f"_{unit}" if unit else "")] = p50(
            [b[f] for b in breakdowns])
    return out


LAYERS = ("op", "streaming", "pipelines", "tables", "plans", "spark")


def layer_self_times(tr, ops: list, n_ops: int) -> dict:
    """Self time per layer under the measured operations, per operation."""
    spans = tr.spans
    by_id = {s["id"]: s for s in spans}
    own = self_times(spans)
    op_set = set(ops)
    totals = dict.fromkeys(LAYERS, 0.0)
    for s in spans:
        a = s
        while a is not None and a["id"] not in op_set:
            a = by_id.get(a["parent"])
        if a is not None and s["layer"] in totals:
            totals[s["layer"]] += own[s["id"]]
    return {f"self.{layer}_s": v / n_ops for layer, v in totals.items()}


def reconciliation(errors: list[float]) -> dict:
    """Share of operations whose driver + stage-covered time matches the
    wall within 10%, and the worst error."""
    return {
        "recon.within_10pct_frac": (sum(e <= 0.10 for e in errors) / len(errors)
                                    if errors else 0.0),
        "recon.max_err_frac": max(errors, default=0.0),
    }
