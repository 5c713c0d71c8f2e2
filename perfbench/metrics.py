"""Pure helpers for the benchmark: the median, geometric-mean and tail rules, metric-name
checks, order-insensitive result digests, host readings and an in-memory
span recorder. Importing this module touches no Spark state."""

from __future__ import annotations

import datetime as _dt
import decimal
import hashlib
import math
import re
import resource
import threading

_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
_UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")
#: Bumped whenever frame_digest renders cells differently (keys oracle caches).
DIGEST_VERSION = "1"
#: Lowest percentile reported as a tail; the ten-beyond rule reaches it at
#: 100 samples.
TAIL_MIN_PCT = 90.0


def check_name(name: str) -> str:
    """Return ``name`` when it is a valid metric name, else raise ValueError."""
    if not isinstance(name, str) or not _NAME.fullmatch(name):
        raise ValueError(f"invalid metric name: {name!r}")
    return name


def check_unit(unit: str) -> str:
    if not isinstance(unit, str) or not _UNIT.fullmatch(unit):
        raise ValueError(f"invalid metric unit: {unit!r}")
    return unit


def median(values) -> float:
    xs = sorted(values)
    if not xs:
        raise ValueError("median of no samples")
    mid = len(xs) // 2
    return xs[mid] if len(xs) % 2 else (xs[mid - 1] + xs[mid]) / 2


def geomean(values) -> float:
    xs = list(values)
    if not xs or min(xs) <= 0:
        raise ValueError("geometric mean needs positive samples")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def tail(values, beyond: int = 10) -> tuple[float, float, int]:
    """The highest percentile of ``values`` with at least ``beyond`` samples
    above it. With n sorted samples that is the (n - beyond)-th smallest, at
    percentile 100 * (n - beyond) / n. Returns (value, percentile, n); raises
    ValueError when n <= beyond, where no percentile qualifies."""
    xs = sorted(values)
    n = len(xs)
    rank = n - beyond
    if rank < 1:
        raise ValueError(f"{n} samples: no percentile has {beyond} beyond it")
    return xs[rank - 1], 100.0 * rank / n, n


def summary(values, beyond: int = 10, min_pct: float = TAIL_MIN_PCT) -> dict:
    """Median and sample count of a sample list, plus the tail and its
    percentile when the rule lands at ``min_pct`` or above. With fewer
    samples (under 100 for the defaults) the rule would pick a value at or
    below the median, so no tail is reported."""
    out = {"n": len(values), "p50": median(values) if values else None,
           "tail": None, "tail_pct": None}
    if len(values) > beyond:
        value, pct, _n = tail(values, beyond)
        if pct >= min_pct:
            out.update(tail=value, tail_pct=pct)
    return out


def _cell(v) -> str:
    if v is None:
        return "\\N"
    if isinstance(v, float) or type(v).__name__.startswith("float"):
        f = float(v)
        return "\\N" if math.isnan(f) else repr(f)
    if isinstance(v, (bool, int, str, decimal.Decimal)) or type(v).__name__.startswith(
        ("int", "bool")
    ):
        return str(v)
    if isinstance(v, (_dt.datetime, _dt.date)):
        return v.isoformat(sep=" ") if isinstance(v, _dt.datetime) else v.isoformat()
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_cell(x)}" for k, x in sorted(v.items())) + "}"
    if hasattr(v, "tolist") or isinstance(v, (list, tuple)):
        items = v.tolist() if hasattr(v, "tolist") else v
        if not isinstance(items, list):
            return _cell(items)
        return "[" + ",".join(_cell(x) for x in items) + "]"
    return str(v)


def frame_digest(pdf) -> tuple[str, int]:
    """Order-insensitive digest of a pandas frame: columns sorted by name,
    datetimes normalized to microseconds, every cell rendered canonically,
    then the sorted per-row hashes digested. Returns (digest, rows)."""
    import numpy as np
    import pandas as pd

    cols = sorted(pdf.columns)
    canon = {}
    for c in cols:
        s = pdf[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            s = pd.to_datetime(s)
            if getattr(s.dt, "tz", None) is not None:
                s = s.dt.tz_convert("UTC").dt.tz_localize(None)
            text = s.dt.strftime("%Y-%m-%d %H:%M:%S.%f")
        elif pd.api.types.is_numeric_dtype(s) or pd.api.types.is_bool_dtype(s):
            text = s.astype(str)
        else:
            canon[c] = s.map(_cell)
            continue
        canon[c] = text.where(s.notna(), "\\N")
    frame = pd.DataFrame(canon, columns=cols)
    rows = pd.util.hash_pandas_object(frame, index=False).to_numpy(dtype=np.uint64)
    rows.sort()
    h = hashlib.sha1("\x1f".join(cols).encode())
    h.update(rows.tobytes())
    return h.hexdigest(), len(frame)


def loadavg() -> list[float] | None:
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except (OSError, ValueError):
        return None


def python_peak_rss_kb() -> int:
    return int(resource.getrusage(resource.RUSAGE_SELF).ru_maxrss)


def proc_peak_rss_kb(pid: int) -> int | None:
    """Peak resident set (VmHWM) of a live process, from /proc."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except (OSError, ValueError):
        return None
    return None


class Tracer:
    """In-memory spans: name, start, end, parent span id and run id, with
    free-form attributes. Spans are recorded from timestamps the caller has
    already taken, so a disabled tracer costs one branch per call. Thread
    safe: the stream sink reports from the engine's callback thread."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._lock = threading.Lock()

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs):
        if not self.enabled:
            return None
        with self._lock:
            sid = len(self.spans)
            self.spans.append(
                {"id": sid, "name": name, "start": start, "end": end,
                 "parent": parent, "run": self.run_id, **attrs}
            )
        return sid
