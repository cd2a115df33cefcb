"""Cell comparison shared by the checks."""

from __future__ import annotations

import datetime as dt
import decimal
import math

import numpy as np
import pandas as pd


def cells_equal(a, b) -> bool:
    """Value equality across the shapes the codecs hand back: numpy
    scalars and arrays, pandas NA/NaT, lists, dicts, floats with NaN."""
    if a is pd.NaT:
        a = None
    if b is pd.NaT:
        b = None
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, np.ndarray):
        a = a.tolist()
    if isinstance(b, np.ndarray):
        b = b.tolist()
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(cells_equal(x, y) for x, y in zip(a, b))
    if isinstance(a, dict) and isinstance(b, dict):
        return len(a) == len(b) and all(k in b and cells_equal(v, b[k]) for k, v in a.items())
    if isinstance(a, (float, np.floating)) and isinstance(b, (float, np.floating)):
        fa, fb = float(a), float(b)
        return (math.isnan(fa) and math.isnan(fb)) or fa == fb
    if isinstance(a, (dt.datetime, pd.Timestamp)) and isinstance(b, (dt.datetime, pd.Timestamp)):
        return _utc(a) == _utc(b)
    if isinstance(a, dt.timedelta) and isinstance(b, dt.timedelta):
        return pd.Timedelta(a) == pd.Timedelta(b)
    if isinstance(a, np.generic):
        a = a.item()
    if isinstance(b, np.generic):
        b = b.item()
    if isinstance(a, decimal.Decimal) or isinstance(b, decimal.Decimal):
        return decimal.Decimal(a) == decimal.Decimal(b)
    return type(a) is type(b) and a == b or (
        isinstance(a, (int, float)) and isinstance(b, (int, float))
        and not isinstance(a, bool) and not isinstance(b, bool) and a == b
    )


def _utc(v) -> pd.Timestamp:
    ts = pd.Timestamp(v)
    return ts.tz_convert("UTC").tz_localize(None) if ts.tzinfo is not None else ts


def ts_micros(values) -> list:
    """Timestamps of any pandas/numpy/datetime flavour -> epoch µs ints."""
    s = pd.to_datetime(pd.Series(list(values)) if not isinstance(values, pd.Series) else values, utc=True)
    return (s.dt.tz_localize(None).astype("datetime64[us]").astype("int64")).tolist()
