"""Skew mitigation helpers for hot-key aggregations.

AQE handles skewed sort-merge JOINs automatically
(``spark.sql.adaptive.skewJoin.enabled``, on in :mod:`..session`), and
all of this engine's aggregates use map-side partial aggregation — the
first line of defense. But a groupBy whose per-group state is large
(``collect_list``, big structs) concentrates one hot key's entire state
in a single reducer. The standard fix is two-stage salted aggregation:

    stage 1: groupBy(key, salt)  — hot key spreads over N reducers
    stage 2: groupBy(key)        — merge the N partial states

which works for any aggregate with an associative merge. The helper
covers the common count/sum/min/max family; custom merges follow the
same shape.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_MERGEABLE = {"count", "sum", "min", "max"}


def salted_agg(
    df: DataFrame,
    group_cols: list[str],
    aggs: dict[str, tuple[str, str]],
    *,
    n_salts: int = 16,
) -> DataFrame:
    """Two-stage salted aggregation.

    ``aggs``: {output_name: (fn, column)} with fn in count/sum/min/max.
    Stage-1 shuffle key is (group_cols, salt) with a random-but-
    deterministic salt from ``xxhash64`` of a monotonic row id — uniform
    over salts, stable within a job run; stage-2 merges per group
    (count merges via sum).

    The salt must come from row *position*, never row *content*: the
    canonical skew case is a hot key whose rows are identical (repeated
    events, default values), and a content hash would map them all to
    one salt — concentrating the hot key on a single reducer, exactly
    the failure this operator exists to prevent.
    """
    bad = {f for f, _ in aggs.values()} - _MERGEABLE
    if bad:
        raise ValueError(f"unsupported salted aggregate fns: {sorted(bad)}")

    salt = F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(n_salts))
    salted = df.withColumn("__salt", salt)

    def _fn(name: str, col: str) -> Column:
        return getattr(F, name)(F.col(col) if name != "count" else F.lit(1))

    stage1 = salted.groupBy(*group_cols, "__salt").agg(
        *[_fn(fn, col).alias(f"__p_{out}") for out, (fn, col) in aggs.items()]
    )
    merge = {
        out: ("sum" if fn == "count" else fn) for out, (fn, _) in aggs.items()
    }
    stage2 = stage1.groupBy(*group_cols).agg(
        *[
            getattr(F, merge[out])(F.col(f"__p_{out}")).alias(out)
            for out in aggs
        ]
    )
    return stage2


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: list[str],
    *,
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-proof equi-join: salt the big side by row position, replicate
    the small side once per salt value, join on (keys..., salt).

    A hot join key concentrates every matching big-side row in one
    sort-merge task; AQE's skew-join split helps sort-merge plans but
    cannot split a hash partition whose single KEY is hot when the
    downstream requires hash clustering. Salting spreads the hot key over
    ``n_salts`` reducers unconditionally: the big side's shuffle is
    unchanged in volume (one extra tiny column), the small side shuffles
    ``n_salts``x — acceptable by definition of "small". Result is
    row-identical to the plain join (the `skew_salted_join` oracle checks
    exactly that).

    Supports inner and left joins (right/full would need unmatched
    small-side rows, which replication breaks). The salt is positional
    (monotonically_increasing_id), never content-derived — identical hot
    rows must land on different salts.
    """
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    salt = F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(n_salts))
    big_s = big.withColumn("__salt", salt.cast("int"))
    salts = F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    small_s = small.withColumn("__salt", salts)
    return big_s.join(small_s, [*on, "__salt"], how).drop("__salt")


def skew_report(
    df: DataFrame,
    key_cols: list[str],
    *,
    top_n: int = 10,
) -> DataFrame:
    """Key-skew diagnostics: the top-``top_n`` hottest keys with their
    row counts, share of the table, and skew factor (count / mean count
    over distinct keys). Run this BEFORE choosing a mitigation — a skew
    factor near 1 needs nothing, moderate factors are AQE's job
    (skew-join splitting), triple digits call for :func:`salted_agg` /
    :func:`salted_join` or the union-window as-of join.

    One map-side-combinable count aggregate + a 1-row global summary
    broadcast — the diagnostic costs one shuffle of (distinct keys)
    rows, never the data. Deterministic output order (count desc, then
    keys) so results are comparable run-to-run. ``pct_e4`` is
    integer basis points; ``skew_x_e2`` is the skew factor in
    hundredths — integer outputs, portable everywhere.
    """
    counts = df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("cnt"))
    summary = counts.agg(
        F.sum("cnt").alias("__total"),
        F.count(F.lit(1)).alias("__nkeys"),
    )
    order = [F.col("cnt").desc()] + [F.col(k).asc() for k in key_cols]
    return (
        counts.crossJoin(F.broadcast(summary))
        .select(
            *key_cols,
            "cnt",
            F.floor(
                F.col("cnt") * 10000 / F.col("__total") + F.lit(0.5)
            )
            .cast("long")
            .alias("pct_e4"),
            F.floor(
                F.col("cnt") * 100 * F.col("__nkeys") / F.col("__total")
                + F.lit(0.5)
            )
            .cast("long")
            .alias("skew_x_e2"),
        )
        .orderBy(*order)
        .limit(top_n)
    )
