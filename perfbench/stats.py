"""Pure helpers shared by the benchmark and its tests: the tail rule and the
order-independent output fingerprints. No Spark import at module
level, so the tests of these rules run without a JVM."""

from __future__ import annotations

import math

FAILED = math.inf  # a failed or timed-out op misses every latency limit


def tail(samples):
    """The highest percentile with at least ten samples beyond it.

    Returns ``(value, pct, n)``. Failed ops enter as ``FAILED`` (+inf), so
    they count as missing the limit. ``pct`` is the largest p in whole
    percent such that at least ten samples lie strictly above the p-th
    percentile's rank. With fewer than eleven samples no percentile has ten
    beyond it; the maximum is returned and ``pct`` is 100, so a caller can
    state which figure it reports.
    """
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    if n < 11:
        return xs[-1], 100, n
    # rank r (1-based) of the p-th percentile is ceil(p/100 * n); ten samples
    # beyond it means r <= n - 10
    pct = max(p for p in range(0, 100) if math.ceil(p / 100 * n) <= n - 10)
    rank = max(1, math.ceil(pct / 100 * n))
    return xs[rank - 1], pct, n


def fingerprint_rows(rows) -> tuple[int, int]:
    """(row count, order-independent hash) of an iterable of tuples: the
    sum modulo 2**64 of a stable per-row hash. Used on driver-side rows; the
    Spark-side twin is ``spark_fingerprint``."""
    import hashlib

    total = 0
    n = 0
    for r in rows:
        h = hashlib.blake2b(repr(tuple(r)).encode(), digest_size=8).digest()
        total = (total + int.from_bytes(h, "little")) % (1 << 64)
        n += 1
    return n, total


def spark_fingerprint(df, cols=None) -> list:
    """[row count, hash] of a DataFrame: sum of xxhash64 over the chosen
    columns, as an exact decimal, so neither row order nor partitioning
    changes it. Doubles should be rounded by the caller first."""
    from pyspark.sql import functions as F

    cols = cols or df.columns
    row = df.select(F.xxhash64(*cols).cast("decimal(38,0)").alias("h")).agg(
        F.count("*").alias("n"), F.sum("h").alias("s")
    ).collect()[0]
    return [int(row["n"]), int(row["s"] or 0)]
