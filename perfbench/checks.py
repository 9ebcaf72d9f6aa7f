"""Output checks. They run outside the timed region; every mismatch is
counted as a failed operation."""

from __future__ import annotations

import numpy as np
import pandas as pd

from tests import oracle

KEYS = ["source", "series_id", "window_start"]
STATE = ["cnt", "sum", "min", "max", "sum_sq"]
TOL = 1e-12  # the tolerance tests/test_pipeline.py uses for tier state


def expected_tiers(raw: pd.DataFrame) -> dict[str, pd.DataFrame]:
    """tests/oracle.py rollup to 1m, cascaded to 1h and 1d."""
    t1m = oracle.rollup(raw, "1m")
    t1h = oracle.cascade(t1m, "1h")
    return {"t1m": t1m, "t1h": t1h, "t1d": oracle.cascade(t1h, "1d")}


def frames_equal(got: pd.DataFrame, exp: pd.DataFrame, keys=KEYS, cols=STATE) -> str | None:
    """None when equal (keys exactly, values within TOL, nulls matching),
    else a one-line reason."""
    if len(got) != len(exp):
        return f"{len(got)} rows, expected {len(exp)}"
    g = got.sort_values(keys).reset_index(drop=True)
    e = exp.sort_values(keys).reset_index(drop=True)
    for k in keys:
        if not (g[k].to_numpy() == e[k].to_numpy()).all():
            return f"key column {k} differs"
    for c in cols:
        gv = g[c].to_numpy(dtype=np.float64, na_value=np.nan)
        ev = e[c].to_numpy(dtype=np.float64, na_value=np.nan)
        if not np.isclose(gv, ev, rtol=TOL, atol=TOL, equal_nan=True).all():
            return f"column {c} differs"
    return None


def check_store(spark, cat, raw: pd.DataFrame, tier_tables: dict[str, pd.DataFrame]) -> list[str]:
    """The raw and tier tables of a warehouse against the reference raw
    tier and its expected_tiers; one reason per table that differs."""
    got = cat.read(spark, "raw").select("source", "series_id", "event_ts", "value").toPandas()
    why = frames_equal(got, raw, keys=["source", "series_id", "event_ts"], cols=["value"])
    bad = [f"raw: {why}"] if why else []
    for name, exp in tier_tables.items():
        why = frames_equal(cat.read(spark, name).drop("day").toPandas(), exp)
        if why:
            bad.append(f"{name}: {why}")
    return bad
