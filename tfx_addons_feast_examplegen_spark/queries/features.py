"""Point-in-time feature joins, feature service, dataset stats (SURVEY §2.3/§2.4).

Mechanically split from the former single-module query corpus; see
the package __init__ for the registry assembly and driver window.
"""


from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from ..operators.pit_join import materialize_features
from ..registry import Registry, testdata_registry
from ..session import register_tables



# ---------------------------------------------------------------------------
# Shared fixtures for the point-in-time queries
# ---------------------------------------------------------------------------

# Weekly training-snapshot timestamps inside the events fixture's Jan-2024
# span — the "entity dataframe" pattern of the reference's usage sketch
# (/root/reference/example/usage_prototype.py:46-47: an arbitrary SQL spine
# with an event-time column).
_SNAPSHOTS = "(VALUES (TIMESTAMP '2024-01-08 00:00:00'), (TIMESTAMP '2024-01-15 00:00:00'), (TIMESTAMP '2024-01-22 00:00:00'), (TIMESTAMP '2024-01-29 00:00:00')) AS t(event_timestamp)"

_SPINE_SQL = f"""
SELECT c_custkey AS user_id, event_timestamp
FROM customer CROSS JOIN {_SNAPSHOTS}
"""

# DuckDB rendering of the reference's compiled join template
# (SURVEY.md §2.3 / executor.py:128-129): candidates by equi-key + as-of
# predicate, ROW_NUMBER latest-wins dedup (ts DESC, created DESC), LEFT
# JOIN back onto the spine. Our Spark implementation uses max_by instead of
# a window sort; the oracle keeps the reference's ROW_NUMBER form so the
# two derivations are independent.
def _pit_oracle(ttl_days: int | None = None) -> str:
    ttl_pred = (
        f" AND e.ts >= s.event_timestamp - INTERVAL {ttl_days} DAY"
        if ttl_days
        else ""
    )
    return f"""
WITH spine AS ({_SPINE_SQL}),
cand AS (
  SELECT s.user_id, s.event_timestamp, e.value, e.event_type,
         ROW_NUMBER() OVER (
           PARTITION BY s.user_id, s.event_timestamp
           ORDER BY e.ts DESC, e.event_id DESC) AS rn
  FROM spine s
  JOIN events e ON e.user_id = s.user_id AND e.ts <= s.event_timestamp{ttl_pred}
)
SELECT s.user_id,
       CAST(epoch(s.event_timestamp) AS BIGINT) AS snapshot_ts,
       c.value, c.event_type
FROM spine s
LEFT JOIN (SELECT * FROM cand WHERE rn = 1) c
  ON c.user_id = s.user_id AND c.event_timestamp = s.event_timestamp
"""


def _pit_query(view_refs: list[str] | str, registry: Registry | None = None):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        register_tables(spark, sf_dir)
        df = materialize_features(
            spark,
            entity_query=_SPINE_SQL,
            features=view_refs,
            registry=registry or testdata_registry(),
            sf_dir=sf_dir,
        )
        return df.select(
            F.col("user_id"),
            F.unix_timestamp("event_timestamp").alias("snapshot_ts"),
            F.col("value"),
            F.col("event_type"),
        )

    return run


def _q_pit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _pit_query(["user_events:value", "user_events:event_type"])(spark, sf_dir)


def _q_pit_join_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _pit_query(["user_events_7d:value", "user_events_7d:event_type"])(
        spark, sf_dir
    )


def _pit_union_window(
    spark: SparkSession, sf_dir: str, ttl_seconds: int | None = None
) -> DataFrame:
    # The linear-per-key as-of strategy (hot-key / deep-history path)
    # against the SAME oracle as the pair+max_by join of the same TTL —
    # strategy equivalence is part of the contract; see
    # scripts/scale_probe_pit_skew.py for why it exists.
    from ..operators.pit_join import point_in_time_join_union_window

    t = register_tables(spark, sf_dir)
    spine = spark.sql(_SPINE_SQL)
    out = point_in_time_join_union_window(
        spine,
        t["events"],
        join_keys=["user_id"],
        entity_ts_col="event_timestamp",
        feature_ts_col="ts",
        features=["value", "event_type"],
        created_col="event_id",
        ttl_seconds=ttl_seconds,
    )
    return out.select(
        F.col("user_id"),
        F.unix_timestamp("event_timestamp").alias("snapshot_ts"),
        F.col("value"),
        F.col("event_type"),
    )


def _q_pit_union_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _pit_union_window(spark, sf_dir)


def _q_pit_union_window_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TTL rides as a post-filter on the carried winner; the oracle is
    # the pair join's candidate-side interval predicate.
    return _pit_union_window(spark, sf_dir, ttl_seconds=7 * 24 * 3600)


def _q_feature_service(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Feature-service expansion (P2): service name -> stored refs.
    return _pit_query("user_activity")(spark, sf_dir)


def _q_pit_multiview(spark: SparkSession, sf_dir: str) -> DataFrame:
    # J5: one as-of view + one static dimension view on a different key.
    register_tables(spark, sf_dir)
    spine = f"""
        SELECT c_custkey, c_custkey AS user_id, event_timestamp
        FROM customer CROSS JOIN {_SNAPSHOTS}
    """
    df = materialize_features(
        spark,
        entity_query=spine,
        features=[
            "user_events:value",
            "customer_profile:c_acctbal",
            "customer_profile:c_mktsegment",
        ],
        registry=testdata_registry(),
        sf_dir=sf_dir,
    )
    return df.select(
        F.col("user_id"),
        F.unix_timestamp("event_timestamp").alias("snapshot_ts"),
        F.col("value"),
        F.col("c_acctbal"),
        F.col("c_mktsegment"),
    )


_PIT_MULTIVIEW_ORACLE = f"""
WITH spine AS (
  SELECT c_custkey, c_custkey AS user_id, event_timestamp
  FROM customer CROSS JOIN {_SNAPSHOTS}
),
cand AS (
  SELECT s.user_id, s.event_timestamp, e.value,
         ROW_NUMBER() OVER (
           PARTITION BY s.user_id, s.event_timestamp
           ORDER BY e.ts DESC, e.event_id DESC) AS rn
  FROM spine s
  JOIN events e ON e.user_id = s.user_id AND e.ts <= s.event_timestamp
)
SELECT s.user_id,
       CAST(epoch(s.event_timestamp) AS BIGINT) AS snapshot_ts,
       c.value, cu.c_acctbal, cu.c_mktsegment
FROM spine s
LEFT JOIN (SELECT * FROM cand WHERE rn = 1) c
  ON c.user_id = s.user_id AND c.event_timestamp = s.event_timestamp
LEFT JOIN customer cu ON cu.c_custkey = s.c_custkey
"""


def _q_pit_prefixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    # P1 full_feature_names: outputs prefixed view__feature columns.
    register_tables(spark, sf_dir)
    df = materialize_features(
        spark,
        entity_query=_SPINE_SQL,
        features=["user_events:value", "user_events:event_type"],
        registry=testdata_registry(),
        sf_dir=sf_dir,
        full_feature_names=True,
    )
    return df.select(
        F.col("user_id"),
        F.unix_timestamp("event_timestamp").alias("snapshot_ts"),
        F.col("user_events__value"),
        F.col("user_events__event_type"),
    )


_PIT_PREFIXED_ORACLE = _pit_oracle().replace(
    "c.value, c.event_type", "c.value AS user_events__value, c.event_type AS user_events__event_type"
)


def _q_dataset_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import column_stats

    t = register_tables(spark, sf_dir)
    return column_stats(
        t["lineitem"],
        ["l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag", "l_shipdate"],
    )


def _stats_oracle() -> str:
    def one(col: str, numeric: bool) -> str:
        mean = f"round(avg({col}), 4)" if numeric else "CAST(NULL AS DOUBLE)"
        std = f"round(stddev_samp({col}), 4)" if numeric else "CAST(NULL AS DOUBLE)"
        return f"""
SELECT '{col}' AS "column", CAST(count({col}) AS BIGINT) AS count,
       CAST(count(*) - count({col}) AS BIGINT) AS n_null,
       CAST(count(DISTINCT {col}) AS BIGINT) AS n_distinct,
       CAST(min({col}) AS VARCHAR) AS min_val,
       CAST(max({col}) AS VARCHAR) AS max_val,
       {mean} AS mean_val, {std} AS stddev_val
FROM lineitem"""

    parts = [
        one("l_orderkey", True),
        one("l_quantity", True),
        one("l_extendedprice", True),
        one("l_returnflag", False),
        one("l_shipdate", False),
    ]
    return "\nUNION ALL\n".join(parts)


def _q_nearest_event_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # merge_asof(direction='nearest'): each purchase attaches its
    # closest click within ±10 min — always time-bucketed (the mandatory
    # tolerance bounds candidates to three windows per row), ties break
    # backward-first then newest event_id, microsecond integer
    # arithmetic end-to-end.
    from ..operators.pit_join import nearest_event_join

    t = register_tables(spark, sf_dir)
    ev = t["events"]
    purchases = ev.filter("event_type = 'purchase'").select("user_id", "ts")
    clicks = ev.filter("event_type = 'click'").select(
        "user_id", F.col("ts").alias("cts"), "value", "event_id"
    )
    out = nearest_event_join(
        purchases,
        clicks,
        join_keys=["user_id"],
        entity_ts_col="ts",
        feature_ts_col="cts",
        features=["value"],
        tolerance_seconds=600,
        created_col="event_id",
    )
    return out.select(
        "user_id",
        F.col("ts").alias("purchase_ts"),
        "matched_ts",
        F.round("value", 2).alias("click_value"),
    )


_NEAREST_EVENT_ORACLE = """
WITH p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
c AS (SELECT user_id, ts AS cts, value, event_id
      FROM events WHERE event_type = 'click'),
cand AS (
  SELECT sp.user_id, sp.ts, c.cts, c.value, c.event_id,
         abs(epoch_us(c.cts) - epoch_us(sp.ts)) AS dist,
         CASE WHEN c.cts <= sp.ts THEN 0 ELSE 1 END AS fwd
  FROM (SELECT DISTINCT user_id, ts FROM p) sp
  JOIN c USING (user_id)
  WHERE abs(epoch_us(c.cts) - epoch_us(sp.ts)) <= 600000000
),
best AS (
  SELECT user_id, ts, cts, value,
         row_number() OVER (PARTITION BY user_id, ts
                            ORDER BY dist, fwd, cts, event_id DESC) AS rn
  FROM cand
)
SELECT p.user_id, p.ts AS purchase_ts, b.cts AS matched_ts,
       round(b.value, 2) AS click_value
FROM p LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (user_id, ts)
"""


def _q_feature_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Population-stability-index drift between two order cohorts (1995
    # split point): fixed-width value bins, add-1 Laplace smoothing so
    # empty bins stay finite, per-bin micro-nat floor BEFORE the integer
    # sum (order-free). The monitoring primitive a feature platform runs
    # per feature per day; one scan, two conditional aggregates.
    register_tables(spark, sf_dir)
    return spark.sql("""
WITH binned AS (
  SELECT least(9, CAST(floor(o_totalprice / 60000) AS INT)) AS bin,
         CASE WHEN o_orderdate < DATE'1995-01-01' THEN 0 ELSE 1 END AS era
  FROM orders
),
counts AS (
  SELECT b.bin,
         sum(CASE WHEN era = 0 THEN 1 ELSE 0 END) AS c_ref,
         sum(CASE WHEN era = 1 THEN 1 ELSE 0 END) AS c_new
  FROM binned b GROUP BY b.bin
),
tot AS (SELECT sum(c_ref) AS n_ref, sum(c_new) AS n_new FROM counts),
terms AS (
  SELECT bin,
         CAST(c_ref AS BIGINT) AS c_ref, CAST(c_new AS BIGINT) AS c_new,
         CAST(floor(
           ((c_ref + 1) / (n_ref + 10) - (c_new + 1) / (n_new + 10)) *
           ln(((c_ref + 1) / (n_ref + 10)) / ((c_new + 1) / (n_new + 10)))
           * 1000000) AS BIGINT) AS psi_term_micro
  FROM counts, tot
)
SELECT bin, c_ref, c_new, psi_term_micro FROM terms
""")


# Same text modulo dialect: DuckDB divides BIGINTs to DOUBLE with '/'
# exactly like Spark, so the oracle is near-verbatim.
_FEATURE_DRIFT_PSI_ORACLE = """
WITH binned AS (
  SELECT least(9, CAST(floor(o_totalprice / 60000) AS INT)) AS bin,
         CASE WHEN o_orderdate < DATE'1995-01-01' THEN 0 ELSE 1 END AS era
  FROM orders
),
counts AS (
  SELECT b.bin,
         sum(CASE WHEN era = 0 THEN 1 ELSE 0 END) AS c_ref,
         sum(CASE WHEN era = 1 THEN 1 ELSE 0 END) AS c_new
  FROM binned b GROUP BY b.bin
),
tot AS (SELECT sum(c_ref) AS n_ref, sum(c_new) AS n_new FROM counts),
terms AS (
  SELECT bin,
         CAST(c_ref AS BIGINT) AS c_ref, CAST(c_new AS BIGINT) AS c_new,
         CAST(floor(
           ((c_ref + 1) / (n_ref + 10) - (c_new + 1) / (n_new + 10)) *
           ln(((c_ref + 1) / (n_ref + 10)) / ((c_new + 1) / (n_new + 10)))
           * 1000000) AS BIGINT) AS psi_term_micro
  FROM counts, tot
)
SELECT bin, c_ref, c_new, psi_term_micro FROM terms
"""


def _q_pit_composite_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    # J4 breadth: composite entity key (user_id, event_type) — the as-of
    # join's equi-conjuncts span both keys plus the created-ts tie-break.
    register_tables(spark, sf_dir)
    spine = f"""
        SELECT user_id, event_type, event_timestamp
        FROM (SELECT DISTINCT user_id, event_type FROM events)
        CROSS JOIN {_SNAPSHOTS}
    """
    df = materialize_features(
        spark,
        entity_query=spine,
        features=["user_type_events:value"],
        registry=testdata_registry(),
        sf_dir=sf_dir,
    )
    return df.select(
        F.col("user_id"),
        F.col("event_type"),
        F.unix_timestamp("event_timestamp").alias("snapshot_ts"),
        F.col("value"),
    )


_PIT_COMPOSITE_ORACLE = f"""
WITH spine AS (
  SELECT user_id, event_type, event_timestamp
  FROM (SELECT DISTINCT user_id, event_type FROM events)
  CROSS JOIN {_SNAPSHOTS}
),
cand AS (
  SELECT s.user_id, s.event_type, s.event_timestamp, e.value,
         ROW_NUMBER() OVER (
           PARTITION BY s.user_id, s.event_type, s.event_timestamp
           ORDER BY e.ts DESC, e.event_id DESC) AS rn
  FROM spine s
  JOIN events e ON e.user_id = s.user_id AND e.event_type = s.event_type
               AND e.ts <= s.event_timestamp
)
SELECT s.user_id, s.event_type,
       CAST(epoch(s.event_timestamp) AS BIGINT) AS snapshot_ts,
       c.value
FROM spine s
LEFT JOIN (SELECT * FROM cand WHERE rn = 1) c
  ON c.user_id = s.user_id AND c.event_type = s.event_type
 AND c.event_timestamp = s.event_timestamp
"""


def _q_pit_field_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    # P3: registry field_mapping renames source `value` to feature
    # `activity_value` before selection; same as-of semantics otherwise.
    register_tables(spark, sf_dir)
    df = materialize_features(
        spark,
        entity_query=_SPINE_SQL,
        features=["user_events_renamed:activity_value"],
        registry=testdata_registry(),
        sf_dir=sf_dir,
    )
    return df.select(
        F.col("user_id"),
        F.unix_timestamp("event_timestamp").alias("snapshot_ts"),
        F.col("activity_value"),
    )


_PIT_FIELD_MAPPING_ORACLE = _pit_oracle().replace(
    "c.value, c.event_type", "c.value AS activity_value"
)


def _q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TFDV-style feature statistics: fixed-width histogram of order
    # totals per priority — bin assignment is scan-time arithmetic, the
    # shuffle carries only (group, bin) partial counts. floor of a linear
    # map on identical doubles replays exactly in the oracle.
    from ..operators.stats import fixed_width_histogram

    t = register_tables(spark, sf_dir)
    return fixed_width_histogram(
        t["orders"],
        "o_totalprice",
        lo=0.0,
        hi=600000.0,
        n_bins=12,
        group_cols=["o_orderpriority"],
    )


_HISTOGRAM_ORACLE = """
WITH binned AS (
  SELECT o_orderpriority,
         CAST(least(greatest(floor((o_totalprice - 0.0) / 50000.0), 0), 11)
              AS INT) AS bin
  FROM orders
)
SELECT o_orderpriority, bin,
       round(0.0 + bin * 50000.0, 6) AS bin_lo,
       round(0.0 + (bin + 1) * 50000.0, 6) AS bin_hi,
       CAST(count(*) AS BIGINT) AS n
FROM binned GROUP BY o_orderpriority, bin
"""


def _q_latest_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The "materialize to online store" shape (Feast materialize): latest
    # feature row per entity as of now — max_by agg, one map-side-
    # combinable shuffle (vs the oracle's full window sort).
    t = register_tables(spark, sf_dir)
    ev = t["events"]
    return (
        ev.groupBy("user_id")
        .agg(
            F.max_by(
                F.struct("value", "event_type"),
                F.struct(F.col("ts"), F.col("event_id")),
            ).alias("__p"),
            F.max("ts").alias("__ts"),
        )
        .select(
            "user_id",
            # unix_micros, not unix_timestamp: event times are fractional
            # seconds, and second-granular casts disagree across engines
            # (Spark truncates, DuckDB's double->BIGINT cast rounds).
            F.unix_micros("__ts").alias("last_ts_us"),
            F.col("__p.value").alias("value"),
            F.col("__p.event_type").alias("event_type"),
        )
    )


_LATEST_SNAPSHOT_ORACLE = """
WITH ranked AS (
  SELECT user_id, ts, value, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
SELECT user_id, epoch_us(ts) AS last_ts_us, value, event_type
FROM ranked WHERE rn = 1
"""


ENTRIES: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {
    "pit_join": (_q_pit_join, _pit_oracle()),
    "pit_join_prefixed": (_q_pit_prefixed, _PIT_PREFIXED_ORACLE),
    "pit_join_composite_key": (_q_pit_composite_key, _PIT_COMPOSITE_ORACLE),
    "pit_join_field_mapping": (_q_pit_field_mapping, _PIT_FIELD_MAPPING_ORACLE),
    "latest_feature_snapshot": (_q_latest_snapshot, _LATEST_SNAPSHOT_ORACLE),
    "dataset_stats": (_q_dataset_stats, _stats_oracle()),
    "nearest_event_join": (_q_nearest_event_join, _NEAREST_EVENT_ORACLE),
    "feature_drift_psi": (_q_feature_drift_psi, _FEATURE_DRIFT_PSI_ORACLE),
    "feature_histogram": (_q_histogram, _HISTOGRAM_ORACLE),
    "pit_join_union_window": (_q_pit_union_window, _pit_oracle()),
    "pit_join_ttl": (_q_pit_join_ttl, _pit_oracle(ttl_days=7)),
    "pit_join_union_window_ttl": (
        _q_pit_union_window_ttl,
        _pit_oracle(ttl_days=7),
    ),
    "pit_join_multiview": (_q_pit_multiview, _PIT_MULTIVIEW_ORACLE),
    "feature_service": (_q_feature_service, _pit_oracle()),
}
