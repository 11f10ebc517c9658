"""Seeded input generation for the three workloads.

Everything here is plain numpy/pyarrow: the engine under test only ever
sees the files these functions write. The same seed gives the same
bytes, so a run can be repeated exactly.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- live_bars --------------------------------------------------------------

FEEDS = ("deep", "vix", "volume", "cot", "ind")
# seconds after the bar's bucket start at which each feed reports: all
# inside the deep bar's 5-minute bucket and 3-minute join band, the
# aligned-producer layout the reference's consumer assumes
FEED_OFFSET_S = {"deep": 0, "vix": 30, "volume": 60, "cot": 90, "ind": 120}
BAR_SECONDS = 300
LIVE_BASE = dt.datetime(2024, 1, 1, 0, 0, 0)
# a deep message the producer sent twice; the stream's dedup must drop it
DUP_DEEP_SHARE = 0.1

COT_GROUPS = ("asset", "leveraged")
COT_MEASURES = (
    "long_pos", "short_pos", "long_pos_change", "short_pos_change",
    "long_open_int", "short_open_int",
)
IND_EVENTS = (
    "crude_oil_inventories", "ism_non_manufacturing_pmi",
    "ism_non_manufacturing_employment", "services_pmi",
    "adp_nonfarm_employment_change", "core_cpi",
    "fed_interest_rate_decision", "building_permits", "core_retail_sales",
    "retail_sales", "jolts_job_openings", "nonfarm_payrolls",
    "unemployment_rate",
)
IND_VALUES = ("actual", "prev_actual_diff", "forc_actual_diff")


def bar_ts(i: int) -> dt.datetime:
    return LIVE_BASE + dt.timedelta(seconds=BAR_SECONDS * int(i))


def _fmt(ts: dt.datetime) -> str:
    return ts.strftime("%Y-%m-%d %H:%M:%S")


def _r(x: float) -> float:
    # 3 decimals survive the float32 feed schemas without surprises
    return round(float(x), 3)


class BarFactory:
    """Deterministic per-bar feed payloads (one JSON document per feed,
    the ``FEED_SCHEMAS`` layouts). Bar ``i`` depends only on
    ``(seed, i)``, so the benchmark process and the load-generator
    process render identical bytes independently."""

    def __init__(self, seed: int):
        self.seed = seed

    def lines(self, i: int) -> dict[str, list[str]]:
        rng = np.random.default_rng([self.seed, 7, i])
        ts = bar_ts(i)
        mid = 100.0 + 10.0 * np.sin(i / 40.0) + rng.normal(0, 1.0)
        out: dict[str, list[str]] = {}
        deep = {"ts": _fmt(ts)}
        for k in range(7):
            deep[f"bids_{k}"] = {f"bid_{k}": _r(mid - 0.01 * (k + 1)),
                                 f"bid_{k}_size": int(rng.integers(1, 500))}
            deep[f"asks_{k}"] = {f"ask_{k}": _r(mid + 0.01 * (k + 1)),
                                 f"ask_{k}_size": int(rng.integers(1, 500))}
        d = json.dumps(deep)
        out["deep"] = [d, d] if rng.random() < DUP_DEEP_SHARE else [d]

        def at(feed):
            return _fmt(ts + dt.timedelta(seconds=FEED_OFFSET_S[feed]))

        out["vix"] = [json.dumps({"ts": at("vix"), "vix": _r(15 + rng.normal(0, 2))})]
        o, c = mid + rng.normal(0, 0.5), mid + rng.normal(0, 0.5)
        out["volume"] = [json.dumps({
            "ts": at("volume"), "open": _r(o), "close": _r(c),
            "high": _r(max(o, c) + abs(rng.normal(0, 0.5))),
            "low": _r(min(o, c) - abs(rng.normal(0, 0.5))),
            "volume": int(rng.integers(100, 10_000)),
        })]
        cot = {"ts": at("cot")}
        for g in COT_GROUPS:
            cot[g] = {f"{g}_{m}": (int(rng.integers(0, 1000)) if m.endswith("_pos")
                                   else _r(rng.normal(0, 1))) for m in COT_MEASURES}
        out["cot"] = [json.dumps(cot)]
        ind = {"ts": at("ind")}
        for e in IND_EVENTS:
            ind[e] = {f"{e}_{v}": _r(rng.normal(0, 1)) for v in IND_VALUES}
        out["ind"] = [json.dumps(ind)]
        return out


def write_bar(feed_root: str, i: int, payload: dict[str, list[str]]) -> None:
    """Write bar ``i``'s feed files, each to a hidden temp name (the file
    source skips names starting with '.') and renamed into place
    atomically, so no reader ever lists a partial file."""
    for feed in FEEDS:
        d = os.path.join(feed_root, feed)
        final = os.path.join(d, f"bar_{i:07d}.json")
        tmp = os.path.join(d, f".bar_{i:07d}.json.tmp")
        with open(tmp, "w") as fh:
            fh.write("\n".join(payload[feed]) + "\n")
        os.rename(tmp, final)


def make_feed_dirs(feed_root: str) -> None:
    for feed in FEEDS:
        os.makedirs(os.path.join(feed_root, feed), exist_ok=True)


def write_history(path: str, seed: int, n: int = 2000) -> None:
    """A separately seeded bar history with the warehouse columns the
    serving model reads; the model is fitted on it. ``deep_ts`` is
    UTC-adjusted, so Spark reads it as a TIMESTAMP like the stream's."""
    rng = np.random.default_rng([seed, 11])
    i = np.arange(n)
    mid = 100.0 + 10.0 * np.sin(i / 40.0) + rng.normal(0, 1.0, n)
    o = mid + rng.normal(0, 0.5, n)
    c = mid + rng.normal(0, 0.5, n)
    base_us = int(LIVE_BASE.replace(tzinfo=dt.timezone.utc).timestamp() * 1e6)
    ts = base_us + (i - n) * BAR_SECONDS * 1_000_000

    def f32(x):
        return pa.array(np.asarray(x, dtype=np.float32))

    table = pa.table({
        "deep_ts": pa.array(ts.astype("datetime64[us]"), type=pa.timestamp("us", tz="UTC")),
        "open": f32(o), "close": f32(c),
        "high": f32(np.maximum(o, c) + np.abs(rng.normal(0, 0.5, n))),
        "low": f32(np.minimum(o, c) - np.abs(rng.normal(0, 0.5, n))),
        "volume": pa.array(rng.integers(100, 10_000, n).astype(np.int32)),
        "vix": f32(15 + rng.normal(0, 2, n)),
        "bid_0": f32(mid - 0.01),
        "ask_0": f32(mid + 0.01),
    })
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


# --- backfill -------------------------------------------------------------

EVENT_TYPES = ("click", "signup", "error", "view", "purchase")
EVENTS_START = dt.datetime(2019, 1, 1)


def write_events(path: str, seed: int, n_events: int, days: int) -> None:
    """An ``events.parquet`` with the fixture schema (event_id, ts
    timestamp[us], user_id, event_type, value, props) spread uniformly
    over ``days`` days, in event-time order like the fixture."""
    rng = np.random.default_rng([seed, 3])
    span_us = days * 86_400 * 1_000_000
    start_us = int(EVENTS_START.replace(tzinfo=dt.timezone.utc).timestamp() * 1e6)
    ts = np.sort(rng.integers(0, span_us, n_events)) + start_us
    types = np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n_events)]
    table = pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(ts.astype("datetime64[us]"), type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1000, n_events, dtype=np.int64)),
        "event_type": pa.array(types),
        "value": pa.array(np.round(rng.uniform(0.01, 500.0, n_events), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    })
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


# --- corpus_dedup -----------------------------------------------------------

VOCAB = (
    "the a and of to in is data spark table value row column query join "
    "order group window stream batch scan filter merge sort hash key part "
    "line customer fast slow big small agg vector market price bar feed "
    "model trade signal book depth level bid ask spread volume index rate "
    "risk yield bond stock future option credit cash flow report quarter"
).split()
# far more filler words than VOCAB so distinct documents share few shingles
_FILLER = [f"w{k}" for k in range(4000)]


def corpus(seed: int, n_docs: int, dup_share: float = 0.2, short_share: float = 0.05):
    """Documents plus the planted truth.

    Returns ``(docs, source_of)``: ``docs`` is a list of (doc_id, text);
    ``source_of`` maps each planted duplicate's id to the id of the
    earlier document it copies, exactly or with a few token edits. A
    seeded share of documents is too short for ``quality_filter`` so the
    filter drops real rows; duplicates are only planted from documents
    long enough to pass it."""
    rng = np.random.default_rng([seed, 5])
    words = np.array(VOCAB + _FILLER)
    n_vocab = len(VOCAB)
    docs: list[tuple[int, str]] = []
    source_of: dict[int, int] = {}
    originals: list[int] = []
    for doc_id in range(n_docs):
        if originals and rng.random() < dup_share:
            src = originals[int(rng.integers(0, len(originals)))]
            toks = docs[src][1].split()
            # one plant in ten is an exact copy, the rest 1-3 token edits
            n_edits = 0 if rng.random() < 0.1 else int(rng.integers(1, 4))
            for _ in range(n_edits):
                pos = int(rng.integers(0, len(toks)))
                toks[pos] = str(words[int(rng.integers(0, len(words)))])
            docs.append((doc_id, " ".join(toks)))
            source_of[doc_id] = src
            continue
        if rng.random() < short_share:
            n_tok = int(rng.integers(3, 15))
        else:
            n_tok = int(rng.integers(40, 120))
        # one token in ten a stopword (VOCAB[:7]), a quarter from the
        # small topical vocabulary, the rest from the long tail
        u = rng.random(n_tok)
        idx = np.where(u < 0.1, rng.integers(0, 7, n_tok),
                       np.where(u < 0.35, rng.integers(7, n_vocab, n_tok),
                                rng.integers(n_vocab, len(words), n_tok)))
        docs.append((doc_id, " ".join(words[idx])))
        if n_tok >= 40:
            originals.append(doc_id)
    return docs, source_of


def write_corpus(path: str, docs) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table({
        "doc_id": pa.array([d for d, _ in docs], type=pa.int64()),
        "text": pa.array([t for _, t in docs]),
    }), path)
