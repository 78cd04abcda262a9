"""Correctness checks and the pure computations the benchmark's numbers
rest on. Nothing here starts Spark, so the tests drive it directly.

* ``canon_rows`` / ``digest``: the oracle comparison rules of
  tools/check_correctness.py, frozen here so the check cannot drift with
  that tool: columns sorted by name, rows sorted, every cell rendered
  with plain ``str()`` (an int-vs-float dtype drift is a mismatch).
* ``audit_store``: exactly one prediction per distinct valid id.
* ``latencies``: event -> visible-prediction latency from store rows.
* ``quantile`` / ``median``: the one percentile rule every metric uses.
"""

from __future__ import annotations

import hashlib
import math
from collections import Counter


def _cell(v) -> str:
    import numpy as np
    import pandas as pd

    if v is None or v is pd.NaT or (isinstance(v, float) and np.isnan(v)):
        return "NULL"
    if isinstance(v, pd.Timestamp):
        # DuckDB renders DATE as a midnight datetime, Spark as a date
        if v.tzinfo is None and v == v.normalize():
            return v.date().isoformat()
        return v.isoformat()
    if isinstance(v, (np.bool_, bool)):
        return str(bool(v))
    return str(v)


def canon_rows(df) -> list[str]:
    """Order-insensitive canonical form of a pandas frame; raises
    ValueError on list/array/dict cells (they have no canonical order)."""
    import numpy as np

    df = df[sorted(df.columns)]
    for col in df.columns:
        if df[col].map(lambda v: isinstance(v, (list, tuple, np.ndarray, dict))).any():
            raise ValueError(f"unhashable cells in column {col}")
    df = df.sort_values(by=list(df.columns), kind="mergesort")
    return ["|".join(_cell(v) for v in row) for row in df.itertuples(index=False)]


def digest(df) -> str:
    h = hashlib.sha256()
    h.update("|".join(sorted(df.columns)).encode())
    for line in canon_rows(df):
        h.update(b"\n" + line.encode())
    return h.hexdigest()


def frames_match(spark_pdf, oracle_pdf) -> str | None:
    """None when the frames agree under the canonical rules, else why not."""
    if sorted(spark_pdf.columns) != sorted(oracle_pdf.columns):
        return f"columns {sorted(spark_pdf.columns)} vs {sorted(oracle_pdf.columns)}"
    if len(spark_pdf) != len(oracle_pdf):
        return f"rows {len(spark_pdf)} vs {len(oracle_pdf)}"
    if digest(spark_pdf) != digest(oracle_pdf):
        return "values differ"
    return None


def audit_store(store_ids, valid_ids) -> dict:
    """Compare the ids found in the prediction store with the distinct
    valid ids emitted. Every emitted id must appear exactly once and
    nothing else may appear (a corrupt payload has no valid id, so any
    stray id counts as ``extra``)."""
    counts = Counter(store_ids)
    valid = set(valid_ids)
    lost = sum(1 for t in valid if t not in counts)
    dup = sum(c - 1 for t, c in counts.items() if t in valid and c > 1)
    extra = sum(c for t, c in counts.items() if t not in valid)
    return {"attempted": len(valid), "lost": lost, "duplicated": dup,
            "extra": extra, "failed": lost + dup + extra}


def latencies(rows, send_of) -> dict[str, float]:
    """{transaction_id: seconds from scheduled send to visible}.

    rows: (transaction_id, event_time_epoch_s, file_mtime_epoch_s) read
    from the store; send_of(event_time_epoch_s) -> wall-clock scheduled
    send time. A redelivered id keeps its first (earliest) visibility."""
    out: dict[str, float] = {}
    for tid, event_time, mtime in rows:
        lat = mtime - send_of(event_time)
        if tid not in out or lat < out[tid]:
            out[tid] = lat
    return out


def quantile(values, q: float) -> float:
    """Linear-interpolated quantile (numpy's default rule)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("quantile of no values")
    pos = (len(xs) - 1) * q
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return quantile(values, 0.5)
