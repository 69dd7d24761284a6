"""Order statistics and order-independent result digests.

Percentile rule: a percentile is reported together with the number of
samples behind it, and it is *supported* only when at least ten samples
lie beyond it, i.e. ``n * (1 - q) >= 10`` (p50 needs 20 samples, p90
needs 100, p99 needs 1000). The value is the nearest-rank percentile,
so it is always one of the measured samples, never an interpolation.

Digest rule: a result set is summarised by its row count and the sum
of CRC-32 over each row's fields joined by a tab. Spark computes the
same number with ``sum(crc32(concat_ws(chr(9), ...)))``, so one Spark
aggregate checks a result against a reference computed outside Spark
without shipping the rows back, and row order never matters.
"""

from __future__ import annotations

import math
import statistics
import zlib
from dataclasses import dataclass
from typing import Iterable, Sequence


@dataclass(frozen=True)
class Pct:
    value: float
    n: int
    q: float

    @property
    def supported(self) -> bool:
        return self.n >= min_samples(self.q)


def min_samples(q: float) -> int:
    """Smallest sample count for which at least ten samples lie beyond
    the q-quantile."""
    if not 0.0 < q < 1.0:
        raise ValueError(f"quantile must be in (0, 1), got {q}")
    return math.ceil(10.0 / (1.0 - q) - 1e-9)


def percentile(values: Sequence[float], q: float) -> Pct:
    """Nearest-rank q-quantile of ``values`` with its sample count."""
    if not values:
        raise ValueError("percentile of an empty sample")
    s = sorted(values)
    rank = max(1, math.ceil(q * len(s) - 1e-9))
    return Pct(float(s[rank - 1]), len(s), q)


def median(values: Sequence[float]) -> float:
    return float(statistics.median(values))


def row_crc(fields: Iterable[object]) -> int:
    return zlib.crc32("\t".join(str(f) for f in fields).encode("utf-8"))


def digest(rows: Iterable[Iterable[object]]) -> tuple[int, int]:
    """(row count, sum of row CRCs) — equal for equal multisets."""
    n = h = 0
    for r in rows:
        n += 1
        h += row_crc(r)
    return n, h


def spark_digest(df, cols: Sequence[str]) -> tuple[int, int]:
    """The same digest as ``digest`` computed by one Spark aggregate."""
    parts = ", ".join(f"cast(`{c}` as string)" for c in cols)
    row = df.selectExpr(
        "count(1) as n", f"coalesce(sum(crc32(concat_ws(chr(9), {parts}))), 0) as h"
    ).first()
    return int(row["n"]), int(row["h"])
