"""Arithmetic of the benchmark: percentiles, interval unions, span self
time, answer comparison and failure counting. Pure functions, tested in
test_metrics.py."""
import datetime as dt
import math
from decimal import Decimal


class TooFewSamples(ValueError):
    pass


def percentile(values, p):
    """Linear-interpolated percentile `p` (0..100) of `values`."""
    xs = sorted(values)
    if not xs:
        raise TooFewSamples("no samples")
    r = p / 100.0 * (len(xs) - 1)
    lo = math.floor(r)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (r - lo)


def tail_percentile(values, p, min_beyond=10):
    """Percentile `p`, refused unless at least `min_beyond` samples lie
    strictly beyond it."""
    v = percentile(values, p)
    beyond = sum(1 for x in values if x > v)
    if beyond < min_beyond:
        raise TooFewSamples(f"p{p} has {beyond} samples beyond it, need {min_beyond}")
    return v


def median(values):
    return percentile(values, 50)


def union_length(intervals, lo=None, hi=None):
    """Total length covered by `intervals` ((start, end) pairs), each
    clipped to [lo, hi] when given. Overlaps count once."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    clipped.sort()
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def driver_gap(start, end, job_intervals):
    """Request wall time not covered by any of its jobs."""
    return (end - start) - union_length(job_intervals, start, end)


def self_times(spans):
    """Self time per span name. `spans` are dicts with `id`, `parent`,
    `name`, `start`, `end`; a span's self time is its duration minus the
    part of its interval that its children cover (overlaps once)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered = union_length(children.get(s["id"], []), s["start"], s["end"])
        out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
    return out


def _norm(v):
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat(sep=" ") if isinstance(v, dt.datetime) else v.isoformat()
    if isinstance(v, (list, tuple)):
        return [_norm(x) for x in v]
    return v


def _same(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, bool) or isinstance(b, bool):
        return a == b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    if isinstance(a, str) and isinstance(b, str):
        if a == b:
            return True
        try:  # timestamps: Spark's JSON and DuckDB's isoformat differ in form
            return dt.datetime.fromisoformat(a.replace("T", " ").rstrip("Z")) == \
                dt.datetime.fromisoformat(b.replace("T", " ").rstrip("Z"))
        except ValueError:
            return False
    return a == b


def _sort_key(row):
    def k(v):
        if v is None:
            return (0, "")
        if isinstance(v, float):
            return (1, f"{v:.6e}")
        if isinstance(v, (int, bool)):
            return (1, f"{float(v):.6e}")
        return (2, repr(v))
    return tuple(k(v) for v in row)


def compare(spark_rows, oracle_cols, oracle_rows):
    """Compare Spark's answer (a list of dicts, one per row, as Spark's
    Row.json gives them) with the oracle's (column names, row tuples),
    ignoring column and row order. Returns None when they agree, else a
    one-line reason."""
    cols = sorted(oracle_cols)
    if spark_rows and sorted(spark_rows[0].keys()) != cols:
        return f"columns spark={sorted(spark_rows[0].keys())} oracle={cols}"
    if len(spark_rows) != len(oracle_rows):
        return f"rows spark={len(spark_rows)} oracle={len(oracle_rows)}"
    pos = {c: i for i, c in enumerate(oracle_cols)}
    a = sorted((tuple(_norm(r.get(c)) for c in cols) for r in spark_rows), key=_sort_key)
    b = sorted((tuple(_norm(r[pos[c]]) for c in cols) for r in oracle_rows), key=_sort_key)
    for i, (x, y) in enumerate(zip(a, b)):
        for c, u, v in zip(cols, x, y):
            if not _same(u, v):
                return f"row {i} column {c}: spark={u!r} oracle={v!r}"
    return None


def count_failures(ops, checks):
    """Failed operations: an exception, a wrong checked answer, or a row
    count that differs from the checked answer of the same request."""
    failed = 0
    for op in ops:
        chk = checks.get(op["id"])
        if op.get("error") or chk is None or chk.get("error") or op["rows"] != chk["rows"]:
            failed += 1
    return failed


def fail_ratio(attempted, failed):
    if attempted < 1:
        raise ValueError("nothing attempted")
    return failed / attempted
