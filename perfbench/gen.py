"""Seeded input generation: every input a workload feeds the program is a
pure function of ``--seed`` and the sizes below, written under the run's
work directory before any timing starts."""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# --- llm_curation corpus (sf0.01 shape of the catalog's testdata) ----------

N_DOCS = 500
N_VECS = 500
VEC_DIM = 64
DUP_FRAC = 0.05  # planted near-duplicates: another doc's text plus " dup"
WORDS = (
    "a the spark stream batch table row column key value join hash scan "
    "filter group agg sort merge window order line part customer data "
    "vector query small big fast slow"
).split()
LANGS = ["en", "zh", "de", "es", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def write_corpus(sf_dir: str, seed: int) -> None:
    """``documents`` and ``embeddings`` parquet tables with the schema,
    sizes and near-duplicate structure of the catalog's sf0.01 testdata:
    10-99 word docs over the same 30-word vocabulary, of which
    ``DUP_FRAC`` are copies of another doc with " dup" appended, and
    unit-norm 64-d float vectors with 10 labels."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(sf_dir, exist_ok=True)
    n_words = rng.integers(10, 100, N_DOCS)
    texts = [" ".join(rng.choice(WORDS, n)) for n in n_words]
    for i in rng.choice(N_DOCS, int(N_DOCS * DUP_FRAC), replace=False):
        j = rng.integers(N_DOCS - 1)
        texts[i] = texts[j + (j >= i)] + " dup"
    docs = pa.table({
        "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, N_DOCS, p=LANG_P).tolist(),
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(docs, os.path.join(sf_dir, "documents.parquet"))
    vecs = rng.standard_normal((N_VECS, VEC_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table({
        "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, N_VECS), pa.int32()),
    })
    pq.write_table(emb, os.path.join(sf_dir, "embeddings.parquet"))


# --- cdc_stream change feed -----------------------------------------------

MONTHS = 120  # (booking_year, booking_month) partitions of the seeded fact
HOT_MONTH = MONTHS - 1  # the drip updates only the current month
N_CUSTOMERS = 500
N_COUNTRIES = 12


@dataclass
class Feed:
    """The generated change feed: ``seed`` events build the fact, and
    ``drip`` holds one event frame per landing file, in landing order."""

    seed: pd.DataFrame
    drip: list[pd.DataFrame]
    dim: pd.DataFrame


def make_feed(seed: int, n_keys: int, n_files: int, file_events: int,
              inverted_frac: float = 0.02) -> Feed:
    """Booking change feed shaped like the reference's Cosmos documents.

    - Seed: one event per key over ``MONTHS`` booking months, plus a
      later second event for a tenth of the keys.
    - Drip: update-only events for keys already in the seed, all in the
      hot month, each carrying its key's seeded customer so gold groups
      are updated in place. About ``inverted_frac`` of drip events have
      check-out before check-in; the pipeline must quarantine them.
    - Event timestamps are distinct seconds, increasing along the feed, so
      latest-per-key is well defined by arrival and by event time."""
    rng = np.random.default_rng([seed, 2])
    cust = rng.integers(0, N_CUSTOMERS, n_keys)
    dim = pd.DataFrame({
        "customer_id": np.arange(N_CUSTOMERS, dtype=np.int32),
        "country": [f"country-{c}" for c in
                    rng.integers(0, N_COUNTRIES, N_CUSTOMERS)],
    })
    twice = np.flatnonzero(rng.random(n_keys) < 0.1)
    keys = np.concatenate([np.arange(n_keys), twice])
    seed_events = _events(rng, keys, cust, t0="2024-06-01", inverted=None)
    hot = np.arange(HOT_MONTH, n_keys, MONTHS)
    drip = []
    for k in range(n_files):
        keys = rng.choice(hot, file_events)
        inv = rng.random(file_events) < inverted_frac
        t0 = pd.Timestamp("2034-06-01") + pd.Timedelta(seconds=k * file_events)
        drip.append(_events(rng, keys, cust, t0=t0, inverted=inv))
    return Feed(seed_events, drip, dim)


def _events(rng, keys: np.ndarray, cust: np.ndarray, t0, inverted) -> pd.DataFrame:
    n = len(keys)
    month = keys % MONTHS
    booking = (
        pd.to_datetime({"year": 2024 + month // 12, "month": month % 12 + 1,
                        "day": 1 + (keys // MONTHS) % 28})
        + pd.to_timedelta(keys % 86400, unit="s")
    )
    check_in = pd.Timestamp("2024-01-01") + pd.to_timedelta(
        rng.integers(0, 3000, n), unit="D")
    stay = pd.to_timedelta(rng.integers(1, 15, n), unit="D")
    check_out = check_in + stay
    if inverted is not None:
        check_out = check_out.where(~inverted, check_in - stay)
    ts = pd.Timestamp(t0) + pd.to_timedelta(np.arange(n), unit="s")
    return pd.DataFrame({
        "booking_id": [f"bk-{k}" for k in keys],
        "property_id": [f"prop-{p}" for p in rng.integers(0, 1000, n)],
        "customer_id": cust[keys].astype(np.int32),
        "owner_id": [f"owner-{o}" for o in rng.integers(0, 300, n)],
        "check_in_date": check_in.strftime("%Y-%m-%d"),
        "check_out_date": check_out.strftime("%Y-%m-%d"),
        "booking_date": booking.dt.strftime("%Y-%m-%d %H:%M:%S"),
        "amount": np.round(rng.uniform(50, 950, n), 2),
        "currency": "USD",
        "city": [f"city-{c}" for c in rng.integers(0, 40, n)],
        "country": [f"country-{c}" for c in rng.integers(0, N_COUNTRIES, n)],
        "timestamp": ts.strftime("%Y-%m-%d %H:%M:%S"),
    })


def write_json_lines(df: pd.DataFrame, path: str) -> None:
    """One change-feed document per line, ``property_location`` nested as
    in the reference's booking documents."""
    with open(path, "w") as f:
        for r in df.itertuples(index=False):
            d = r._asdict()
            d["property_location"] = {"city": d.pop("city"),
                                      "country": d.pop("country")}
            d["customer_id"] = int(d["customer_id"])
            f.write(json.dumps(d) + "\n")


def inverted_mask(df: pd.DataFrame) -> pd.Series:
    """Rows the pipeline's quality gate rejects (ISO dates compare as
    strings)."""
    return df["check_out_date"] < df["check_in_date"]
