"""Automatic as-of join strategy selection (VERDICT r9 item 4).

The two physical strategies (pair+max_by, union_window) are
oracle-equivalent; ``materialize_features`` must pick per the measured
decision rule — pair for shallow history, union_window for deep history
with or without a TTL — with explicit registry pins honored and the
probe cached off the query path. Each branch is asserted here on
fixture tables, plus end-to-end equivalence across both pinned
strategies.
"""

import pytest

from tfx_addons_feast_examplegen_spark.operators import pit_join as pj
from tfx_addons_feast_examplegen_spark.operators.pit_join import (
    last_strategy_choices,
    materialize_features,
)
from tfx_addons_feast_examplegen_spark.registry import (
    FeatureView,
    Registry,
    RegistryError,
    testdata_registry as _testdata_registry,
)
from tfx_addons_feast_examplegen_spark.session import register_tables

SPINE = """
    SELECT c_custkey AS user_id,
           TIMESTAMP '2024-01-20 00:00:00' AS event_timestamp
    FROM customer WHERE c_custkey < 50
"""


def _deep_view_path(spark, tmp_path, rows_per_key=200):
    """Parquet feature table whose per-key depth exceeds the auto
    threshold (200 > _AUTO_DEPTH_THRESHOLD=128)."""
    path = str(tmp_path / "deep_features.parquet")
    spark.sql(
        f"""
        SELECT CAST(user_id AS BIGINT) AS user_id,
               TIMESTAMP '2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,n) AS ts,
               CAST(n AS DOUBLE) AS score
        FROM (SELECT explode(sequence(1, 5)) AS user_id),
             (SELECT explode(sequence(1, {rows_per_key})) AS n)
        """
    ).write.mode("overwrite").parquet(path)
    return path


def _view(path, *, ttl=None, strategy="auto"):
    return FeatureView(
        name="deep",
        path=path,
        entities=("user_id",),
        timestamp_col="ts",
        features=("score",),
        ttl_seconds=ttl,
        strategy=strategy,
    )


def _materialize(spark, reg, sf_dir, features=("deep:score",)):
    return materialize_features(
        spark,
        entity_query=SPINE,
        features=list(features),
        registry=reg,
        sf_dir=sf_dir,
    )


def test_auto_shallow_history_picks_pair(spark, sf_dir):
    # events fixture: <=100 rows/key at every SF, under the threshold.
    register_tables(spark, sf_dir)
    df = _materialize(
        spark, _testdata_registry(), sf_dir, ["user_events:value"]
    )
    df.count()
    assert last_strategy_choices() == {"user_events": "pair"}


def test_auto_deep_history_no_ttl_picks_union_window(spark, sf_dir, tmp_path):
    register_tables(spark, sf_dir)
    path = _deep_view_path(spark, tmp_path)
    reg = Registry(views={"deep": _view(path)})
    df = _materialize(spark, reg, sf_dir)
    assert last_strategy_choices() == {"deep": "union_window"}
    # and the plan really is the union-window shape: a running-frame
    # Window instead of the pair join's max_by aggregate
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "unboundedpreceding" in plan.lower()


def test_auto_deep_history_with_ttl_picks_union_window(
    spark, sf_dir, tmp_path
):
    register_tables(spark, sf_dir)
    path = _deep_view_path(spark, tmp_path)
    reg = Registry(views={"deep": _view(path, ttl=7 * 86400)})
    df = _materialize(spark, reg, sf_dir)
    assert last_strategy_choices() == {"deep": "union_window"}
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "unboundedpreceding" in plan.lower()


def test_explicit_pin_overrides_auto(spark, sf_dir, tmp_path):
    register_tables(spark, sf_dir)
    path = _deep_view_path(spark, tmp_path)
    # deep history would auto-select union_window; the pin wins
    reg = Registry(views={"deep": _view(path, strategy="pair")})
    _materialize(spark, reg, sf_dir).count()
    assert last_strategy_choices() == {"deep": "pair"}
    reg = Registry(views={"deep": _view(path, ttl=86400, strategy="union_window")})
    _materialize(spark, reg, sf_dir).count()
    assert last_strategy_choices() == {"deep": "union_window"}


def test_all_strategies_equivalent_end_to_end(spark, sf_dir, tmp_path):
    register_tables(spark, sf_dir)
    path = _deep_view_path(spark, tmp_path)
    results = {}
    for strat in ("pair", "union_window"):
        reg = Registry(
            views={"deep": _view(path, ttl=30 * 86400, strategy=strat)}
        )
        rows = _materialize(spark, reg, sf_dir).collect()
        results[strat] = sorted(
            (r.user_id, r.event_timestamp, r.score) for r in rows
        )
    assert results["pair"] == results["union_window"]


def test_probe_is_cached_per_view(spark, sf_dir, tmp_path):
    register_tables(spark, sf_dir)
    path = _deep_view_path(spark, tmp_path)
    reg = Registry(views={"deep": _view(path)})
    _materialize(spark, reg, sf_dir).count()
    key = ("deep", path)
    assert pj._DEPTH_CACHE[key] == 200
    # poison the cache: a second materialize must NOT re-probe
    pj._DEPTH_CACHE[key] = 1
    _materialize(spark, reg, sf_dir).count()
    assert pj._DEPTH_CACHE[key] == 1
    assert last_strategy_choices() == {"deep": "pair"}
    del pj._DEPTH_CACHE[key]


def test_invalid_strategy_rejected():
    with pytest.raises(RegistryError, match="unknown join strategy"):
        _view("x.parquet", strategy="sortmerge")


def test_time_bucketed_pin_requires_ttl():
    # "time_bucketed" was a strategy once and required a TTL; it is gone, so
    # a config still pinning it must fail loudly, with or without a TTL,
    # rather than silently fall back to another strategy.
    for ttl in (None, 7 * 86400):
        with pytest.raises(RegistryError, match="unknown join strategy"):
            _view("x.parquet", ttl=ttl, strategy="time_bucketed")


def test_strategy_round_trips_through_yaml(tmp_path):
    reg = Registry(
        views={"deep": _view("x.parquet", ttl=60, strategy="union_window")}
    )
    reloaded = Registry.from_yaml(reg.to_yaml())
    assert reloaded.views["deep"].strategy == "union_window"
    # default stays auto when the field is absent (older configs)
    legacy = Registry.from_yaml(
        '{"views": [{"name": "v", "path": "p", "entities": ["k"],'
        ' "timestamp_col": "ts", "features": ["f"]}]}'
    )
    assert legacy.views["v"].strategy == "auto"
