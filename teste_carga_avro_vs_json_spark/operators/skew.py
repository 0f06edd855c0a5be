"""Skew mitigation utilities (100 TB design toolbox).

AQE's skew-join splitting (on in session.py) handles most runtime skew;
:func:`salted_agg` is the *explicit* shape for when the skew is known
up front — hot grouping keys (boilerplate-heavy corpora in dedup,
error-storm event types in metrics): phase 1 aggregates ``(key, salt)``
sub-groups (spreads one hot key over N reducers), phase 2 merges the
tiny partials by key. Only decomposable aggregates (sum/count/min/max)
qualify — exactly the counter set the metrics pipeline uses
(MetricasDesempenho.java:29-39 are all adds).

Salts are deterministic (``xxhash64`` of the row's own key columns), so
results stay oracle-reproducible.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
import pyspark.sql.functions as F

# Aggregates that decompose into (partial, merge) with the same op.
_DECOMPOSABLE = {
    "sum": (F.sum, F.sum),
    "count": (F.count, F.sum),
    "min": (F.min, F.min),
    "max": (F.max, F.max),
}


def _salt(cols: list[str], buckets: int) -> Column:
    return F.pmod(F.xxhash64(*[F.col(c) for c in cols]), F.lit(buckets)).alias(
        "_salt"
    )


def salted_agg(
    df: DataFrame,
    keys: list[str],
    aggs: list[tuple[str, str, str]],
    salt_buckets: int = 16,
    salt_cols: list[str] | None = None,
) -> DataFrame:
    """groupBy(keys).agg(...) in two salted phases.

    ``aggs`` entries are ``(agg_name, in_col, out_alias)`` with
    ``agg_name`` in sum/count/min/max. ``salt_cols`` defaults to every
    non-key column so rows of one hot key spread evenly.

    Plan: exchange 1 hashes (keys + _salt) — a hot key occupies up to
    ``salt_buckets`` reducers instead of one; exchange 2 moves only the
    tiny partial rows. Same trade Spark's own partial agg makes, made
    explicit for key-level (not partition-level) skew.
    """
    for name, _, _ in aggs:
        if name not in _DECOMPOSABLE:
            raise ValueError(f"{name!r} is not decomposable; use sum/count/min/max")
    salt_cols = salt_cols or [c for c in df.columns if c not in keys]
    salted = df.withColumn("_salt", _salt(salt_cols, salt_buckets))
    partial = salted.groupBy(*keys, "_salt").agg(
        *[
            _DECOMPOSABLE[name][0](in_col).alias(out)
            for name, in_col, out in aggs
        ]
    )
    # merge preserves the partial's type (sum(long)->long, sum(double)->double)
    return partial.groupBy(*keys).agg(
        *[_DECOMPOSABLE[name][1](out).alias(out) for name, _, out in aggs]
    )
