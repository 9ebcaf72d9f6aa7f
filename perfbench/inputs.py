"""Seeded inputs of the workloads, and the numpy reference of the raw
tier they produce. Every input is drawn from a string key built from the
run's seed ("<seed>/sample/2", "<seed>/warm", ...), so the same seed gives
the same inputs and no two inputs of a run coincide. The program under test
only ever sees the generated tables and DataFrames."""

from __future__ import annotations

import hashlib
import math
import random
from pathlib import Path

import numpy as np
import pandas as pd

from tokens_ts import config as C
from tokens_ts.registry import SourceSpec

SERIES = ("full_mean", "full_max", "point_p7")


def _rng(key: str) -> np.random.Generator:
    return np.random.default_rng(int.from_bytes(hashlib.sha256(key.encode()).digest()[:8], "big"))


def source_specs(key: str, n_sources: int, k_total: int) -> list[SourceSpec]:
    """n_sources Zipf-skewed sources (budget ceil(k_total/(r+1)) for rank r).

    The key picks the source names and the list order. The list position
    sets a source's token recurrence; the trailing number of the name sets
    its grid step through the default registry (60·(1 + N % 3) s). Names are
    drawn with N % 3 == r % 3, so every seed has the same steps and row
    counts and only the token content and names change."""
    rng = random.Random(key)
    picks = rng.sample(range(33), n_sources)
    specs = [
        SourceSpec(
            f"src{3 * picks[r] + r % 3:03d}",
            C.T0_EPOCH,
            C.step_seconds(r),
            math.ceil(k_total / (r + 1)),
        )
        for r in range(n_sources)
    ]
    rng.shuffle(specs)
    return specs


def expected_raw(specs: list[SourceSpec]) -> pd.DataFrame:
    """Reference raw tier of pipeline.default_extraction over the synthetic
    sequences of `specs`: full-array mean and max and the token at position
    7, PAD masked to null (tests/oracle.py semantics, vectorised per
    source)."""
    parts = []
    for s, sp in enumerate(specs):
        a, b, c = C.src_params(s)
        ks = np.arange(sp.budget, dtype=np.int64)
        ks = ks[(ks * C.GAP_MULT) % 1000 >= C.GAP_CUT]
        n_tok = C.NTOK_BASE + (ks * C.NTOK_MULT) % C.NTOK_MOD
        i = np.arange(C.NTOK_BASE + C.NTOK_MOD, dtype=np.int64)
        rec = (a * ks[:, None] + b * i[None, :] + c) % C.V
        valid = (i[None, :] < n_tok[:, None]) & (rec >= C.PAD_THRESHOLD)
        vals = np.where(valid, rec, 0).astype(np.float64)
        cnt = valid.sum(axis=1)
        with np.errstate(invalid="ignore", divide="ignore"):
            mean = np.where(cnt > 0, vals.sum(axis=1) / cnt, np.nan)
        mx = np.where(cnt > 0, np.where(valid, vals, -np.inf).max(axis=1), np.nan)
        p7 = np.where(valid[:, 7], vals[:, 7], np.nan)
        ts = pd.to_datetime(C.T0_EPOCH + ks * C.step_seconds(_ordinal(sp.source)), unit="s")
        for sid, v in zip(SERIES, (mean, mx, p7)):
            parts.append(pd.DataFrame({"source": sp.source, "series_id": sid, "event_ts": ts, "value": v}))
    return pd.concat(parts, ignore_index=True)


def _ordinal(name: str) -> int:
    digits = name[len(name.rstrip("0123456789")):]
    return int(digits)


_WORDS = (
    "a the data row column table key value query join merge sort hash scan "
    "filter group agg order part window batch stream spark vector line "
    "customer big small fast slow dup"
).split()
_LANGS = ("en", "de", "fr", "es", "zh")
_TYPES = ("click", "view", "purchase", "signup", "error")


def write_ops_tables(key: str, out_dir: Path, n_events: int, n_docs: int) -> None:
    """events and documents parquet tables shaped like those of
    TESTDATA.md: events over January 2024 with ~67 events per user, five event
    types and exponential values in cents; documents of 8-100 words from a
    small vocabulary in five languages (40% en) and twenty sources, one in
    ten a near-duplicate of an earlier one."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = _rng(key)
    out_dir.mkdir(parents=True, exist_ok=True)
    t0_us = 1704067200 * 1_000_000  # 2024-01-01
    ts = np.sort(t0_us + rng.integers(0, 30 * 86400 * 1_000_000, n_events))
    n_users = max(1, round(n_events / 66.7))
    events = pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_events, dtype=np.int64)),
        "event_type": pa.array([_TYPES[i] for i in rng.integers(0, 5, n_events)]),
        "value": pa.array(np.round(rng.exponential(50.0, n_events), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    })
    pq.write_table(events, out_dir / "events.parquet")
    lang_p = np.array([0.4, 0.15, 0.15, 0.15, 0.15])
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 10 and rng.random() < 0.1:
            # near-duplicate of an earlier document: 1 word in 20 replaced
            words = texts[rng.integers(0, i)].split()
            for j in np.flatnonzero(rng.random(len(words)) < 0.05):
                words[j] = _WORDS[rng.integers(0, len(_WORDS))]
        else:
            words = [_WORDS[j] for j in rng.integers(0, len(_WORDS), rng.integers(8, 101))]
        texts.append(" ".join(words))
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([_LANGS[i] for i in rng.choice(5, n_docs, p=lang_p)]),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    pq.write_table(docs, out_dir / "documents.parquet")
