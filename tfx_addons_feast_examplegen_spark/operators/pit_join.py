"""Point-in-time (as-of) historical feature join — the engine's core.

Rebuilds, as a native DataFrame composition, the single most important
operator of the reference: ``fs.get_historical_features(entity_df=query,
features=refs)`` (``executor.py:87``), which Feast's BigQuery offline store
compiles to one SQL statement (recoverable at ``executor.py:128-129``).
The compiled template's shape (SURVEY.md §2.3) is:

1. entity spine (arbitrary SQL) + synthesized per-row id,
2. per view: candidate rows with ``feature.ts <= entity.ts`` and, with a
   TTL, ``feature.ts >= entity.ts - ttl`` (as-of / interval predicate),
3. latest-wins dedup: ``ROW_NUMBER() OVER (PARTITION BY row_id ORDER BY
   event_ts DESC, created_ts DESC) = 1``,
4. LEFT JOIN each deduped view back to the spine (entities with no match
   survive with NULL features),
5. final projection dropping helper columns.

Spark-first design decisions (scale rationale):

- **``max_by`` aggregate instead of ``row_number`` window** for the
  latest-wins dedup. A window function must shuffle *every* candidate row
  and sort each partition by (keys, ts DESC, created DESC);
  ``max_by(struct(features), struct(ts, created))`` runs map-side partial
  aggregation first, so the shuffle moves at most one row per (entity, ts)
  group per mapper instead of all candidates — at 100 TB of feature rows
  the shuffle-volume difference dominates. (With a struct payload Spark
  compiles max_by to SortAggregate rather than HashAggregate, but that
  sort is by group keys only — cheaper than the window's composite sort —
  and in the observed plan it is reused verbatim by the downstream
  sort-merge join back onto the spine, making its marginal cost ~zero.)
- **Join on the natural composite key** (entity keys + entity event time)
  rather than a synthesized row id. The reference's row id is itself just
  ``concat(join_keys, event_ts)``, so semantics are identical (duplicate
  spine rows sharing keys+ts receive identical features, as in the
  reference); skipping the synthetic column keeps the join key equi-only
  + range, which lets Catalyst drive the shuffle from the equi conjuncts.
- **Distinct spine projection before the candidate join** so a wide spine
  (many non-key columns) or duplicated spine rows never inflate the
  candidate set. The distinct's shuffle partitioning on (keys, ts) is
  reused by the following aggregate (Catalyst sees matching partitioning),
  so it costs one shuffle, not two.
- **Equi-conjuncts drive the shuffle; the time predicate stays a post-join
  filter** inside the sort-merge/shuffled-hash join. Deep or hot-key
  history, where the candidate pairs grow quadratically per key, goes to
  the union-window strategy instead
  (:func:`point_in_time_join_union_window`, linear per key).
- Small feature views broadcast automatically (AQE); no hints needed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import Registry, RegistryError


def _apply_field_mapping(df: DataFrame, mapping: dict[str, str]) -> DataFrame:
    """View-level source-column -> feature-name renames (SURVEY.md P3)."""
    for src, dst in mapping.items():
        df = df.withColumnRenamed(src, dst)
    return df


def _normalize_ts(df: DataFrame, ts_col: str) -> DataFrame:
    """Coerce an int64-nanos event-time column to TimestampType.

    Parquet TIMESTAMP(NANOS) surfaces as long under
    ``spark.sql.legacy.parquet.nanosAsLong``; the registry declares which
    column is event time, so the coercion is schema-driven, not guessed.
    """
    if ts_col and dict(df.dtypes).get(ts_col) == "bigint":
        df = df.withColumn(ts_col, F.timestamp_micros(F.expr(f"{ts_col} div 1000")))
    return df


def _distinct_spine(
    entity_df: DataFrame,
    spine_source: DataFrame | None,
    join_keys: list[str],
    entity_ts_col: str,
) -> DataFrame:
    """Distinct ``(__ek_*, __ent_ts)`` spine both strategies join against,
    taken from ``spine_source`` when given (see :func:`point_in_time_join`).

    The reference's synthesized row id is concat(keys, ts), so this is the
    same grain. Helper names are unique across both join sides so every
    later reference resolves by name (avoids self-join attribute
    ambiguity — the spine derives from the entity frame).
    """
    base = spine_source if spine_source is not None else entity_df
    return base.select(
        *[F.col(k).alias(f"__ek_{k}") for k in join_keys],
        F.col(entity_ts_col).alias("__ent_ts"),
    ).distinct()


def _join_back(
    entity_df: DataFrame,
    latest: DataFrame,
    join_keys: list[str],
    entity_ts_col: str,
) -> DataFrame:
    """LEFT join the per-(keys, ts) winners back onto the entity rows (J6)
    and drop the spine's helper columns."""
    join_cond = None
    for k in join_keys:
        c = entity_df[k] == F.col(f"__ek_{k}")
        join_cond = c if join_cond is None else (join_cond & c)
    join_cond = join_cond & (entity_df[entity_ts_col] == F.col("__ent_ts"))
    helper_cols = [f"__ek_{k}" for k in join_keys] + ["__ent_ts"]
    return entity_df.join(latest, join_cond, "left").drop(*helper_cols)


def point_in_time_join(
    entity_df: DataFrame,
    feature_df: DataFrame,
    *,
    join_keys: list[str],
    entity_ts_col: str,
    feature_ts_col: str,
    features: list[str],
    created_col: str | None = None,
    ttl_seconds: int | None = None,
    output_prefix: str = "",
    spine_source: DataFrame | None = None,
) -> DataFrame:
    """As-of join one feature table onto an entity spine (J1-J4, J6).

    For each entity row, attaches the feature values of the single newest
    feature row with the same join keys and ``feature_ts <= entity_ts``
    (and ``feature_ts >= entity_ts - ttl`` when a TTL bounds staleness),
    ties broken by newest ``created_col``. Entities with no candidate keep
    their row with NULL features (left-outer semantics).

    ``spine_source`` (default ``entity_df``) is the frame the distinct
    (keys, ts) spine and candidate set are computed from. When chaining
    several as-of joins, pass the ORIGINAL entity frame here while
    ``entity_df`` is the running chain. The *physical* plan is the same
    either way (Catalyst's outer-join elimination prunes the chained left
    joins out of the spine's distinct subtree), but the *logical* tree
    doubles per level without it, and analysis/optimization cost follows:
    measured compile time for a 10-view chain is 6.3s chained vs 0.9s
    (flat) with ``spine_source`` — which is driver-side latency per query
    on wide feature services. Requires ``join_keys`` and
    ``entity_ts_col`` to exist in ``spine_source`` with the same values
    as in ``entity_df``.
    """
    if not features:
        raise RegistryError("point_in_time_join: empty feature list")

    ent_ts = F.col("__ent_ts")
    spine = _distinct_spine(entity_df, spine_source, join_keys, entity_ts_col)

    feat_cols: list[Column] = [F.col(k).alias(f"__fk_{k}") for k in join_keys]
    feat_cols.append(F.col(feature_ts_col).alias("__f_ts"))
    if created_col:
        feat_cols.append(F.col(created_col).alias("__f_created"))
    out_names = {f: f"{output_prefix}{f}" for f in features}
    feat_cols.extend(F.col(f).alias(f"__fv_{f}") for f in features)
    feat = feature_df.select(*feat_cols)

    cond = None
    for k in join_keys:
        c = F.col(f"__ek_{k}") == F.col(f"__fk_{k}")
        cond = c if cond is None else (cond & c)
    time_cond = F.col("__f_ts") <= ent_ts
    if ttl_seconds:
        # Interval lower bound: feature row valid only within
        # [entity_ts - ttl, entity_ts] (J2).
        lower = ent_ts - F.expr(f"INTERVAL {int(ttl_seconds)} SECOND")
        time_cond = time_cond & (F.col("__f_ts") >= lower)
    cond = cond & time_cond

    candidates = spine.join(feat, cond, "inner")

    # Latest-wins dedup via max_by (Sort + SortAggregate with a struct
    # payload; see module docstring).
    ordering = (
        F.struct(F.col("__f_ts"), F.col("__f_created"))
        if created_col
        else F.struct(F.col("__f_ts"))
    )
    payload = F.struct(*[F.col(f"__fv_{f}").alias(f) for f in features])
    latest = (
        candidates.groupBy(*[F.col(f"__ek_{k}") for k in join_keys], F.col("__ent_ts"))
        .agg(F.max_by(payload, ordering).alias("__payload"))
        .select(
            *[F.col(f"__ek_{k}") for k in join_keys],
            F.col("__ent_ts"),
            *[F.col(f"__payload.{f}").alias(out_names[f]) for f in features],
        )
    )
    return _join_back(entity_df, latest, join_keys, entity_ts_col)


def _static_join(
    entity_df: DataFrame,
    feature_df: DataFrame,
    *,
    join_keys: list[str],
    features: list[str],
    output_prefix: str = "",
) -> DataFrame:
    """Left equi-join a static (no event time) dimension view.

    Extension beyond the reference (Feast views always carry event time);
    small dims broadcast automatically via AQE.
    """
    feat = feature_df.select(
        *[F.col(k).alias(f"__fk_{k}") for k in join_keys],
        *[F.col(f).alias(f"{output_prefix}{f}") for f in features],
    ).dropDuplicates([f"__fk_{k}" for k in join_keys])
    cond = None
    for k in join_keys:
        c = entity_df[k] == feat[f"__fk_{k}"]
        cond = c if cond is None else (cond & c)
    out = entity_df.join(feat, cond, "left")
    return out.select(
        *[entity_df[c] for c in entity_df.columns],
        *[feat[f"{output_prefix}{f}"] for f in features],
    )


# ---- automatic as-of strategy selection (SURVEY.md §4.2) -------------
#
# Decision rule, from the measured crossovers
# (scripts/scale_probe_pit_skew.py; docs/BENCH_NOTES_r09.md):
#
# - per-key history depth <~100: pair+max_by wins (the union-window
#   shuffles and sorts every feature row, which costs more than the few
#   candidate pairs it saves);
# - deep history, with or without a TTL: union_window (linear per-key
#   cost; the 30x hot-key cliff AQE cannot see, restored to 1.0x). A TTL
#   does not change the choice: union-window applies it as a post-filter
#   on the carried winner.
#
# The probe is a bounded, cached, feature-side stat: max per-key row count
# within the first _AUTO_PROBE_ROWS rows, computed once per (view, path)
# per process and NEVER re-run on the query path. It deliberately reads a
# row-limited prefix rather than sample() — deterministic, one-job, and
# at 100 TB it touches a handful of input splits instead of scanning the
# table. SPINE-side skew is per-query and invisible to a registry-time
# stat: callers with a hot spine key pin strategy="union_window" on the
# view (see scripts/scale_probe_pit_skew.py for when that matters).
_AUTO_PROBE_ROWS = 100_000
_AUTO_DEPTH_THRESHOLD = 128
_DEPTH_CACHE: dict[tuple[str, str], int] = {}

# view name -> strategy chosen by the most recent materialize_features
# call in this process; read by tests and scripts/dump_plans.py so every
# plan dump records WHICH physical as-of shape produced it.
_LAST_STRATEGY_CHOICES: dict[str, str] = {}


def last_strategy_choices() -> dict[str, str]:
    """Strategy picked per view by the latest materialize_features call."""
    return dict(_LAST_STRATEGY_CHOICES)


def _probe_max_key_depth(fdf: DataFrame, keys: list[str], cache_key: tuple[str, str]) -> int:
    if cache_key not in _DEPTH_CACHE:
        row = (
            fdf.select(*keys)
            .limit(_AUTO_PROBE_ROWS)
            .groupBy(*keys)
            .count()
            .agg(F.max("count").alias("d"))
            .first()
        )
        _DEPTH_CACHE[cache_key] = int(row["d"] or 0)
    return _DEPTH_CACHE[cache_key]


def _select_strategy(view, fdf: DataFrame, sf_dir: str) -> str:
    """Resolve a view's as-of strategy (explicit pin or the auto rule)."""
    if view.strategy != "auto":
        return view.strategy
    depth = _probe_max_key_depth(
        fdf, list(view.entities), (view.name, view.resolve_path(sf_dir))
    )
    return "union_window" if depth > _AUTO_DEPTH_THRESHOLD else "pair"


def materialize_features(
    spark: SparkSession,
    *,
    entity_query: str | DataFrame,
    features: list[str] | str,
    registry: Registry,
    sf_dir: str,
    entity_ts_col: str = "event_timestamp",
    full_feature_names: bool = False,
    cache_entities: bool = False,
) -> DataFrame:
    """End-to-end historical retrieval: the engine's ``get_historical_features``.

    Mirrors the reference chain ``executor.py:76-87`` + the compiled SQL of
    ``executor.py:128-129``: resolve feature refs or a feature-service name
    through the registry (P1/P2/P5), run the entity SQL (S1), then chain
    one as-of join per referenced view onto the spine (J5 multi-view
    composition — each view deduped independently, all LEFT onto the
    spine). ``full_feature_names=True`` prefixes outputs ``view__feature``
    (Feast's naming option; default unprefixed like the reference).

    ``cache_entities=True`` caches the entity frame, which every view's
    spine distinct AND the final left joins re-scan (measured 0.79s vs
    1.06s median on the sf0.1 pit_join; the win grows with entity-query
    cost and view count). Opt-in because the cache must fit cluster
    memory — a spine wider than storage memory would spill and lose; the
    caller owns ``unpersist`` (the cache must live until the result is
    consumed, which this function cannot see).

    Each view's physical as-of strategy is resolved per its registry
    ``strategy`` field: ``auto`` (default) applies the measured decision
    rule above :func:`_select_strategy` using a cached bounded per-key
    depth probe; explicit ``pair`` / ``union_window`` pin the shape (both
    are oracle-equivalent — only the plan differs). The per-view choice is recorded in
    :func:`last_strategy_choices` so plan dumps show which shape ran.
    """
    resolved = registry.resolve_features(features)
    _LAST_STRATEGY_CHOICES.clear()

    entity_df = (
        spark.sql(entity_query) if isinstance(entity_query, str) else entity_query
    )
    if cache_entities:
        entity_df = entity_df.cache()
    if entity_ts_col not in entity_df.columns:
        raise RegistryError(
            f"entity query result lacks timestamp column {entity_ts_col!r}"
        )
    entity_df = _normalize_ts(entity_df, entity_ts_col)

    out = entity_df
    for view_name, feats in resolved.items():
        view = registry.views[view_name]
        fdf = view.read(spark, sf_dir)
        fdf = _apply_field_mapping(fdf, view.field_mapping)
        fdf = _normalize_ts(fdf, view.timestamp_col)
        prefix = f"{view_name}__" if full_feature_names else ""
        missing = [k for k in view.entities if k not in out.columns]
        if missing:
            raise RegistryError(
                f"entity dataframe lacks join key(s) {missing} for view "
                f"{view_name!r}"
            )
        if view.timestamp_col:
            # Derive this view's spine/candidates from the ORIGINAL entity
            # frame whenever its keys live there (they almost always do —
            # the exception is a view keyed on a feature produced by an
            # earlier view). Keeps the logical tree — and query compile
            # time — linear in the number of views instead of doubling
            # per level (see point_in_time_join docstring).
            from_base = all(k in entity_df.columns for k in view.entities)
            strategy = _select_strategy(view, fdf, sf_dir)
            _LAST_STRATEGY_CHOICES[view_name] = strategy
            kw = dict(
                join_keys=list(view.entities),
                entity_ts_col=entity_ts_col,
                feature_ts_col=view.timestamp_col,
                features=feats,
                created_col=view.created_col,
                ttl_seconds=view.ttl_seconds,
                output_prefix=prefix,
                spine_source=entity_df if from_base else None,
            )
            join = (
                point_in_time_join_union_window
                if strategy == "union_window"
                else point_in_time_join
            )
            out = join(out, fdf, **kw)
        else:
            out = _static_join(
                out,
                fdf,
                join_keys=list(view.entities),
                features=feats,
                output_prefix=prefix,
            )
    return out


def nearest_event_join(
    entity_df: DataFrame,
    feature_df: DataFrame,
    *,
    join_keys: list[str],
    entity_ts_col: str,
    feature_ts_col: str,
    features: list[str],
    tolerance_seconds: int,
    created_col: str | None = None,
) -> DataFrame:
    """Nearest-in-time join (pandas ``merge_asof(direction='nearest')``):
    for each entity row, the single feature row with the same keys
    minimizing ``|feature_ts - entity_ts|``, bounded by a mandatory
    ``tolerance_seconds`` window either direction. Complements the
    backward-only :func:`point_in_time_join` for sensor alignment and
    event attribution where the closest reading wins regardless of side.

    Always time-bucketed — the tolerance is mandatory precisely so the
    candidate set is bounded: each feature row lands in bucket
    ``floor(us / tol_us)``, each entity probes its own bucket and both
    neighbors (covering the full ±tolerance interval), and the exact
    range predicate filters inside the match. A hot key pairs each
    entity row with at most three tolerance windows of history — the
    standard interval-join shape (SURVEY.md §4.2), made non-optional
    because "nearest" without a bound is a full-history scan per row.

    Ties (equal distance both sides) break backward-first, then newest
    ``created_col`` — deterministic and replayable in ANSI SQL.
    Microsecond integer arithmetic throughout; entities with no
    candidate keep NULL features (left-outer).
    """
    tol_us = int(tolerance_seconds) * 1_000_000
    e_us = F.unix_micros(F.col(entity_ts_col))
    f_us = F.unix_micros(F.col(feature_ts_col))
    extra = [created_col] if created_col else []
    spine = entity_df.select(*join_keys, entity_ts_col).distinct()
    probes = spine.select(
        "*",
        F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))).alias("__d"),
    ).withColumn("__b", F.floor(e_us / tol_us) + F.col("__d"))
    fb = feature_df.select(
        *join_keys, feature_ts_col, *features, *extra
    ).withColumn("__b", F.floor(f_us / tol_us))
    dist = F.abs(f_us - e_us)
    order = [
        F.asc(dist),
        # backward-first on exact-distance ties
        F.asc(F.when(f_us <= e_us, 0).otherwise(1)),
        F.asc(feature_ts_col),
    ]
    if created_col:
        order.append(F.desc(created_col))
    w = Window.partitionBy(*join_keys, entity_ts_col).orderBy(*order)
    best = (
        probes.join(fb, [*join_keys, "__b"])
        .filter(dist <= tol_us)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            *join_keys,
            entity_ts_col,
            F.col(feature_ts_col).alias("matched_ts"),
            *features,
        )
    )
    return entity_df.join(best, [*join_keys, entity_ts_col], "left")


def point_in_time_join_union_window(
    entity_df: DataFrame,
    feature_df: DataFrame,
    *,
    join_keys: list[str],
    entity_ts_col: str,
    feature_ts_col: str,
    features: list[str],
    created_col: str | None = None,
    ttl_seconds: int | None = None,
    output_prefix: str = "",
    spine_source: DataFrame | None = None,
) -> DataFrame:
    """As-of join with LINEAR per-key cost: the union-window strategy.

    Same contract as :func:`point_in_time_join` (J1/J2/J3/J6 —
    equivalence is test-enforced), different physical shape. The
    default strategy enumerates every key-equal (spine row, feature
    row) candidate pair before its ``max_by`` dedup, which is
    O(spine_k x features_k) per key k — quadratic on a hot key, and
    invisible to AQE's skew mitigation because ``OptimizeSkewedJoin``
    triggers on partition BYTES while a hot key's partition can be
    tiny in bytes and quadratic in compute (measured: 1% hot key,
    10M x 2M rows -> 30x wall blowup that neither default nor
    aggressively-tuned AQE touches; scripts/scale_probe_pit_skew.py).

    This strategy never materializes pairs. Both sides are unioned into
    one (key, ts)-sorted stream — feature rows ordered before spine
    rows at equal ts so the as-of predicate stays inclusive, and by
    (ts, created) among themselves so the running winner IS the
    ``max_by(payload, struct(ts, created))`` winner — and a running
    ``last(..., ignorenulls)`` over ROWS UNBOUNDED PRECEDING carries
    the newest feature payload onto each spine row: O(n log n) sort per
    key, O(n) frame evaluation (Spark's UnboundedPreceding frame keeps
    a running value; no per-row rescan). A TTL filters the carried
    payload afterwards — if the newest as-of feature row is older than
    the bound, every other candidate is too, so post-filtering is
    exactly the candidate-side interval predicate.

    Trade-off at 100 TB: one shuffle + sort of features+spine vs the
    default's shuffle of map-side-combined candidate winners. With
    shallow per-key history the default moves less data; with deep or
    skewed history the union-window's linear per-key cost wins by
    orders of magnitude, with or without a TTL.
    """
    if not features:
        raise RegistryError("point_in_time_join_union_window: empty feature list")

    spine = _distinct_spine(entity_df, spine_source, join_keys, entity_ts_col)

    ordering = (
        F.struct(F.col(feature_ts_col), F.col(created_col))
        if created_col
        else F.struct(F.col(feature_ts_col))
    )
    payload = F.struct(
        F.col(feature_ts_col).alias("__f_ts"),
        *[F.col(f).alias(f) for f in features],
    )
    # Null join keys never match under equi-join semantics: drop them
    # from the stream (partitionBy would otherwise group NULLs together
    # and leak features across "equal" null keys). Spine rows with null
    # keys still survive via the final left join.
    def _non_null(df: DataFrame, cols: list[str]) -> DataFrame:
        cond = None
        for c in cols:
            k = F.col(c).isNotNull()
            cond = k if cond is None else (cond & k)
        return df.filter(cond)

    feat_stream = _non_null(feature_df, join_keys).select(
        *[F.col(k).alias(f"__ek_{k}") for k in join_keys],
        F.col(feature_ts_col).alias("__ts"),
        F.lit(0).alias("__is_spine"),
        ordering.alias("__ord"),
        payload.alias("__payload"),
    )
    spine_stream = _non_null(spine, [f"__ek_{k}" for k in join_keys]).select(
        *[F.col(f"__ek_{k}") for k in join_keys],
        F.col("__ent_ts").alias("__ts"),
        F.lit(1).alias("__is_spine"),
        F.lit(None).cast(feat_stream.schema["__ord"].dataType).alias("__ord"),
        F.lit(None).cast(feat_stream.schema["__payload"].dataType).alias(
            "__payload"
        ),
    )

    w = (
        Window.partitionBy(*[F.col(f"__ek_{k}") for k in join_keys])
        .orderBy(F.col("__ts"), F.col("__is_spine"), F.col("__ord"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = (
        feat_stream.unionByName(spine_stream)
        .withColumn("__carry", F.last("__payload", ignorenulls=True).over(w))
        .filter(F.col("__is_spine") == 1)
    )
    if ttl_seconds:
        lower = F.col("__ts") - F.expr(f"INTERVAL {int(ttl_seconds)} SECOND")
        carried = carried.withColumn(
            "__carry",
            F.when(F.col("__carry.__f_ts") >= lower, F.col("__carry")),
        )
    out_names = {f: f"{output_prefix}{f}" for f in features}
    latest = carried.select(
        *[F.col(f"__ek_{k}") for k in join_keys],
        F.col("__ts").alias("__ent_ts"),
        *[F.col(f"__carry.{f}").alias(out_names[f]) for f in features],
    )
    return _join_back(entity_df, latest, join_keys, entity_ts_col)
