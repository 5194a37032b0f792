"""Output checks and latency statistics for the benchmark.

``result_hash`` is an order-insensitive, type-class-aware digest of a
result table, following the comparison rules of ``tests/oracle_harness.py``:
columns are compared by name (sorted), rows as a multiset, and each column's
coarse type class (int, float, decimal, bool, timestamp, string, binary,
list; a DATE is a timestamp, as pandas reads it) is part of the digest, so
a DECIMAL column never equals a DOUBLE column even when the numbers agree. Within a class the physical width
does not matter: float32 and float64 columns holding the same values hash
alike, as do decimal(10,2) and decimal(38,4) columns holding the same
numbers. Values are compared exactly, as the oracle harness does.

:func:`shingles` and :func:`jaccard` decide, exactly, what the ingest
gate's MinHash estimate approximates.

Spark and DuckDB add floats in different orders, so a sum over 600k rows
can differ in its last bits (q1 and q2 do, even at sf0.01 under the
serving session's partitioning). When the exact digests differ,
:func:`approx_equal` decides, with floats allowed summation-order noise
only; the run reports how many results needed it.
"""

from __future__ import annotations

import hashlib
import math
from decimal import Decimal

import pyarrow as pa
import pyarrow.compute as pc

PERCENTILE_GRID = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
MIN_TAIL_SAMPLES = 10


def _type_class(t: pa.DataType) -> str:
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_decimal(t):
        return "decimal"
    if pa.types.is_timestamp(t) or pa.types.is_date(t):
        # pandas reads both as datetime64, so the oracle harness does too
        return "timestamp"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "binary"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return "list<" + _type_class(t.value_type) + ">"
    return str(t)


def _canon(v) -> str:
    """Width-independent text of one cell. Floats keep every bit (repr of
    the double); a float32 value is widened first, so the same stored value
    reads the same at either width. Decimals drop trailing zeros of the
    scale, so 35.00 and 35.0000 agree."""
    if v is None:
        return "∅"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    if isinstance(v, Decimal):
        return str(v.normalize()) if v else "0"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def _micros(col: pa.ChunkedArray) -> pa.ChunkedArray:
    """Timestamps and dates as int64 microseconds since the epoch."""
    if pa.types.is_date(col.type):
        col = col.cast(pa.date32()).cast(pa.int32()).cast(pa.int64())
        return pc.multiply(col, 86_400_000_000)
    return col.cast(pa.timestamp("us")).cast(pa.int64())


def _column_cells(col: pa.ChunkedArray) -> list[str]:
    t = col.type
    if pa.types.is_timestamp(t) or pa.types.is_date(t):
        col = _micros(col)
    elif pa.types.is_floating(t) and t != pa.float64():
        col = col.cast(pa.float64())
    elif (pa.types.is_list(t) or pa.types.is_large_list(t)) and pa.types.is_floating(
        t.value_type
    ):
        col = col.cast(pa.list_(pa.float64()))
    return [_canon(v) for v in col.to_pylist()]


def result_hash(table: pa.Table) -> str:
    """Order-insensitive, type-class-aware digest of ``table``."""
    names = sorted(table.column_names)
    header = "|".join(f"{n}:{_type_class(table.schema.field(n).type)}" for n in names)
    cols = [_column_cells(table.column(n)) for n in names]
    rows = sorted(
        hashlib.blake2b("\x1f".join(r).encode(), digest_size=16).digest()
        for r in zip(*cols)
    ) if cols else []
    h = hashlib.blake2b(header.encode(), digest_size=16)
    h.update(len(rows).to_bytes(8, "little"))
    for r in rows:
        h.update(r)
    return h.hexdigest()


def _sort_key(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.6g}"
    return _canon(v)


def canonical_rows(table: pa.Table) -> tuple[str, list[tuple]]:
    """(header, rows) with columns in name order and rows sorted; the
    header carries each column's type class. Floats sort by six
    significant digits so that rows which differ only in float noise line
    up in both tables."""
    names = sorted(table.column_names)
    header = "|".join(f"{n}:{_type_class(table.schema.field(n).type)}" for n in names)
    cols = []
    for n in names:
        col = table.column(n)
        if pa.types.is_timestamp(col.type) or pa.types.is_date(col.type):
            col = _micros(col)
        elif pa.types.is_floating(col.type):
            col = col.cast(pa.float64())
        cols.append(col.to_pylist())
    rows = list(zip(*cols)) if cols else []
    rows.sort(key=lambda r: tuple(_sort_key(v) for v in r))
    return header, rows


def _decimals(v: float) -> int:
    text = repr(v)
    if "e" in text or "." not in text:
        return 99
    return len(text.split(".")[1])


def floats_close(got: float, want: float, rel: float = 1e-9) -> bool:
    """Equal up to summation-order noise: within ``rel`` relatively, or,
    when both read as values rounded to the same 4-6 decimals, within one
    unit of that last decimal (a rounding tie that the two engines'
    last-bit differences broke in opposite directions)."""
    if got == want or (math.isnan(got) and math.isnan(want)):
        return True
    if abs(got - want) <= rel * max(abs(got), abs(want)):
        return True
    d = _decimals(want)
    return 4 <= d <= 6 and _decimals(got) == d and abs(got - want) <= 1.000001 * 10.0 ** -d


def _cells_close(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return floats_close(a, b)
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(_cells_close(x, y) for x, y in zip(a, b))
    return _canon(a) == _canon(b)


def approx_equal(got: tuple[str, list[tuple]], want: tuple[str, list[tuple]]) -> bool:
    """Same header and row count, and every cell equal, floats by
    :func:`floats_close`. The fallback when :func:`result_hash` differs."""
    (gh, gr), (wh, wr) = got, want
    return gh == wh and len(gr) == len(wr) and all(
        _cells_close(a, b) for ra, rb in zip(gr, wr) for a, b in zip(ra, rb)
    )


def shingles(text: str, k: int) -> frozenset:
    """Distinct word ``k``-shingles of ``text`` split on whitespace, as
    ``functions.text.word_shingles`` builds them; empty below ``k`` words."""
    words = text.split()
    return frozenset(" ".join(words[i:i + k]) for i in range(len(words) - k + 1))


def jaccard(a: frozenset, b: frozenset) -> float:
    union = len(a | b)
    return len(a & b) / union if union else 0.0


def percentile(samples: list[float], p: float) -> float:
    """Linear-interpolated percentile ``p`` (0-100) of ``samples``."""
    if not samples:
        raise ValueError("percentile of no samples")
    s = sorted(samples)
    k = (len(s) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def tail_percentile(samples: list[float]) -> dict:
    """The highest percentile on ``PERCENTILE_GRID`` that has at least
    ``MIN_TAIL_SAMPLES`` samples beyond it, with its value and the sample
    count; ``p`` is None when even the median lacks that many."""
    n = len(samples)
    best = None
    for p in PERCENTILE_GRID:
        if n * (100.0 - p) / 100.0 >= MIN_TAIL_SAMPLES:
            best = p
    return {
        "p": best,
        "value": percentile(samples, best) if best is not None else None,
        "n": n,
    }
