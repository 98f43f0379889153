"""Pure arithmetic of the benchmark: percentiles, quartile spread, span
self time, and the canonical form of a query result."""
import datetime
import decimal
import hashlib
import math
import statistics

import numpy as np
import pandas as pd


def percentile(values, p):
    """The p-th percentile (0..100) by linear interpolation between the
    closest ranks (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    k = (len(xs) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def quartile_spread(values):
    """(Q3 - Q1) / median, quartiles as `statistics.quantiles(n=4)`."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


def union_length(intervals):
    """Total length covered by possibly overlapping [start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Map span id -> self time: its duration minus the part of its
    interval that its direct children cover (children clipped to the
    parent; overlapping children counted once). Spans are dicts with
    id, parent, start_ns, end_ns."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        covered = union_length(
            (max(c["start_ns"], lo), min(c["end_ns"], hi))
            for c in kids.get(s["id"], []) if c["end_ns"] > lo and c["start_ns"] < hi)
        out[s["id"]] = (hi - lo) - covered
    return out


def render(v):
    """One value in canonical text form: floats by shortest round-trip
    repr, decimals as floats, timestamps at microseconds, nulls and NaN
    as `null`, arrays element-wise."""
    if v is None or v is pd.NaT:
        return "null"
    if isinstance(v, (bool, np.bool_)):
        return "true" if v else "false"
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (float, np.floating, decimal.Decimal)):
        f = float(v)
        return "null" if math.isnan(f) else repr(f)
    if isinstance(v, (datetime.datetime, np.datetime64)):
        t = np.datetime64(v, "us")
        return "null" if np.isnat(t) else str(t)
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, dict):
        return "{" + ",".join(sorted(f"{render(k)}={render(x)}"
                                     for k, x in v.items())) + "}"
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(render(x) for x in v) + "]"
    return str(v)


def canonical_rows(df):
    """A result frame as sorted row strings, columns in name order."""
    cols = sorted(df.columns)
    return sorted("\x1f".join(render(v) for v in rec)
                  for rec in df[cols].itertuples(index=False, name=None))


def canonical_hash(df):
    """sha256 of the canonical rows: equal results hash equal regardless
    of row and column order."""
    return hashlib.sha256("\n".join(canonical_rows(df)).encode()).hexdigest()
