"""Statistics and output fingerprints shared by run.py and its self-tests."""
import hashlib
import math
import statistics
from decimal import Decimal


def median(xs):
    return statistics.median(xs)


def quartiles(xs):
    """(q1, median, q3) as statistics.quantiles(n=4) gives them."""
    q = statistics.quantiles(xs, n=4)
    return q[0], q[1], q[2]


def spread(xs):
    """Inter-quartile distance as a share of the median."""
    q1, m, q3 = quartiles(xs)
    return (q3 - q1) / m if m else float("inf")


TAIL_BEYOND = 10


def tail(xs, beyond=TAIL_BEYOND):
    """The highest percentile with at least `beyond` samples above it.

    Returns (value, percentile, n), or None when the sample is too small
    for that percentile to sit at or above the median.
    """
    n = len(xs)
    k = n - beyond  # the k-th smallest value has `beyond` values after it
    if k < 1 or 2 * k < n:
        return None
    return sorted(xs)[k - 1], math.floor(100 * k / n), n


def canon(v):
    """Canonical string of a cell: NaN and None are nulls, bytes are hex,
    decimals keep their scale, lists and arrays render element-wise."""
    if v is None:
        return "<null>"
    try:
        import numpy as np
        if isinstance(v, np.ndarray):
            v = v.tolist()
        elif isinstance(v, np.bool_):
            v = bool(v)
        elif isinstance(v, np.integer):
            v = int(v)
        elif isinstance(v, np.floating):
            v = float(v)
    except ImportError:  # pragma: no cover
        pass
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        return "<null>" if math.isnan(v) else repr(v)
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (bytes, bytearray)):
        return "0x" + bytes(v).hex()
    if isinstance(v, Decimal):
        return str(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if str(v) == "NaT":
        return "<null>"
    return str(v)


def fingerprint(columns, rows):
    """Order-insensitive fingerprint of a result: sha256 over the sorted
    canonical rows, with columns taken in name order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    h.update("\x1f".join(columns[i] for i in order).encode())
    for line in lines:
        h.update(b"\x1e" + line.encode())
    return f"{len(lines)}:{h.hexdigest()[:16]}"
