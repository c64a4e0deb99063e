"""llm_curation: the LLM-data operator catalog, as a closed loop.

One client runs passes over six catalog queries (near-dup detection,
embedding similarity, subword encoding, image dedup) on a seeded corpus;
each query is materialised with the ``noop`` sink, in an order the seed
permutes per pass. The first pass warms the JVM and the Python workers
and doubles as the correctness gate: every result is compared with the
query's DuckDB oracle before timing starts.
"""

from __future__ import annotations

import math
import os
import time
from concurrent.futures import ThreadPoolExecutor

import duckdb
import numpy as np
import pandas as pd

from azure_airbnb_cdc_ingestion_pipeline_spark.plans.queries import ORACLE_SQL, QUERIES
from azure_airbnb_cdc_ingestion_pipeline_spark.session import release_persisted

from . import gen
from .common import LLM_QUERIES, Config, Result, noop
from .tracing import (
    SparkStatus, layer_self_times, op_breakdown, p50, reconciliation, spark_medians,
    stages_of,
)

def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Order-insensitive canonical form: columns by name, integers as
    nullable ints, timestamps as µs strings, floats to 9 dp, rows sorted."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("Int64")
        elif pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.dt.floor("us").astype("datetime64[us]").astype(str)
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.map(lambda v: None if v is None or math.isnan(v)
                          else round(float(v), 9))
        elif s.dtype == object:
            df[c] = s.map(lambda v: None if v is None else str(v))
    return df.sort_values(list(df.columns), na_position="last").reset_index(drop=True)


def compare(got: pd.DataFrame, want: pd.DataFrame) -> tuple[bool, str]:
    got, want = canon(got), canon(want)
    if list(got.columns) != list(want.columns):
        return False, f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return False, f"{len(got)} rows, oracle {len(want)}"
    if not got.equals(want):
        bad = [c for c in got.columns
               if not got[c].equals(want[c])]
        return False, f"values differ in {bad}"
    return True, f"{len(got)} rows"


def run(spark, cfg: Config) -> Result:
    res = Result()
    tr = cfg.tracer
    sc = spark.sparkContext
    rng = np.random.default_rng([cfg.seed, 3])
    with tr.span("setup", "phase"):
        sf_dir = os.path.join(cfg.work, "sf")
        gen.write_corpus(sf_dir, cfg.seed)
        con = duckdb.connect()
        for t in ("documents", "embeddings"):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{t}.parquet')")
        oracles = {name: con.sql(ORACLE_SQL[name]).df() for name in LLM_QUERIES}
        con.close()

        def check(name: str) -> tuple[bool, str]:
            sc.setJobGroup(f"check:{name}", name)
            try:
                return compare(QUERIES[name](spark, sf_dir).toPandas(), oracles[name])
            except Exception as exc:  # counted as a failed check
                return False, f"{type(exc).__name__}: {str(exc)[:300]}"

        # The checking pass is also the warm-up. Its queries run side by
        # side: cold JVM compilation and Python worker start-up dominate
        # it, and they overlap.
        with ThreadPoolExecutor(len(LLM_QUERIES)) as pool:
            outcomes = list(pool.map(check, LLM_QUERIES))
        release_persisted(blocking=True)
        for name, (ok, detail) in zip(LLM_QUERIES, outcomes):
            res.check(f"oracle:{name}", ok, detail)

    # --- timed window: the whole passes that fit in --seconds, at least one
    res.setup_end = t0 = time.time()
    cost0 = tr.cost_s()
    passes = []  # (start, wall, {query: wall}, span id)
    with tr.span("measure", "phase") as measure_sp:
        while not passes or time.time() + passes[-1][1] - t0 <= cfg.seconds:
            order = rng.permutation(LLM_QUERIES)
            with tr.span(f"pass {len(passes)}", "op", measure_sp) as op:
                start, walls = time.time(), {}
                for name in order:
                    sc.setJobGroup(f"pass{len(passes)}:{name}", name)
                    res.attempted += 1
                    with tr.span(name, "plans", op):
                        q0 = time.time()
                        try:
                            noop(QUERIES[name](spark, sf_dir))
                            walls[name] = time.time() - q0
                        except Exception as exc:  # counted, never retried
                            res.failed += 1
                            res.errors.append(f"{name}: {type(exc).__name__}: "
                                              f"{str(exc)[:300]}")
                    release_persisted(blocking=True)
                passes.append((start, time.time() - start, walls, op))
    res.window_s, res.trace_cost_s = time.time() - t0, tr.cost_s() - cost0
    sc.setJobGroup("perfbench", "after the timed window")
    pass_walls = [w for _s, w, walls, _op in passes if len(walls) == len(LLM_QUERIES)]
    res.end_to_end = {
        "op_p50_s": p50(pass_walls),
        "capacity_per_s": (sum(len(w) for _s, _w, w, _op in passes)
                           / sum(w for _s, w, _q, _op in passes)),
    }
    res.context = {"passes": len(passes),
                   "pass_s": [round(w, 4) for w in pass_walls]}
    if tr.enabled:
        res.per_layer = _per_layer(spark, tr, passes, pass_walls)
    return res


def _per_layer(spark, tr, passes, pass_walls) -> dict:
    status = SparkStatus(spark)
    status.settle()
    jobs, stages = status.fetch()
    job_stages = stages_of(jobs, stages)
    query_spans = {(s["parent"], s["name"]): s for s in tr.spans
                   if s["layer"] == "plans"}
    per_pass = []
    for k, (start, wall, _walls, op) in enumerate(passes):
        pj = [j for j in jobs if (j["group"] or "").startswith(f"pass{k}:")]
        bd = op_breakdown(wall, start, pj, job_stages)
        per_pass.append(bd)
        for j in pj:
            parent = query_spans.get((op, j["group"].split(":", 1)[1]))
            for s in job_stages[j["job_id"]]:
                tr.add(f"stage {s['stage_id']}.{s['attempt']} {s['name'][:60]}",
                       "spark", s["start"], s["end"],
                       parent["id"] if parent else op,
                       tasks=s["tasks"], cpu_s=s["cpu_s"])
    m = {"pass_p50_s": p50(pass_walls)}
    for name in LLM_QUERIES:
        m[f"q.{name}_p50_s"] = p50([w[name] for _s, _w, w, _op in passes if name in w])
    m.update(spark_medians(per_pass, "pass", (
        "jobs", "stages", "tasks", "driver_s", "run_s", "cpu_s", "gc_s",
        "shuffle_write_mb", "fetch_wait_s", "input_mb", "spill_mb")))
    m["spark.noncpu_per_pass_s"] = p50([b["run_s"] - b["cpu_s"] for b in per_pass])
    m["spark.max_task_input_mb"] = max((b["max_task_input_mb"] for b in per_pass),
                                       default=0.0)
    m.update(layer_self_times(tr, [op for *_x, op in passes], n_ops=len(passes) or 1))
    m.update(reconciliation([b["recon_err"] for b in per_pass]))
    return m
