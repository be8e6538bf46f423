"""Skew handling and sketches.

Mechanically split from the former single-module query corpus; see
the package __init__ for the registry assembly and driver window.
"""


from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from ..session import register_tables




def _q_sketch_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    # HyperLogLog++ sketches: the 100 TB path for distinct counting —
    # constant memory per group vs countDistinct's exact shuffle. Sketch
    # estimates aren't bit-portable across engines, so the oracle-checked
    # contract is the ERROR BOUND, not the estimate: emit the exact
    # counts (portable) plus a boolean per sketch asserting the estimate
    # lies within 3x the configured rsd (0.02); the oracle emits the same
    # exact counts with literal TRUE. A sketch drifting out of its
    # accuracy contract hash-mismatches and turns the row red.
    t = register_tables(spark, sf_dir)
    agg = t["lineitem"].groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", 0.02).alias("__ao"),
        F.approx_count_distinct("l_partkey", 0.02).alias("__ap"),
        F.countDistinct("l_orderkey").alias("exact_orders"),
        F.countDistinct("l_partkey").alias("exact_parts"),
    )
    def in_bound(approx, exact):
        return (
            F.abs(F.col(approx) - F.col(exact))
            <= F.col(exact).cast("double") * 0.06
        )
    return agg.select(
        "l_returnflag",
        "exact_orders",
        "exact_parts",
        in_bound("__ao", "exact_orders").alias("orders_in_bound"),
        in_bound("__ap", "exact_parts").alias("parts_in_bound"),
    )


_SKETCH_DISTINCT_ORACLE = """
SELECT l_returnflag,
       COUNT(DISTINCT l_orderkey) AS exact_orders,
       COUNT(DISTINCT l_partkey) AS exact_parts,
       TRUE AS orders_in_bound,
       TRUE AS parts_in_bound
FROM lineitem GROUP BY l_returnflag
"""


def _q_sketch_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Mergeable quantile sketches (percentile_approx, Greenwald-Khanna
    # style): the 100 TB alternative to exact ordered-set aggregates.
    # Same bound-as-contract oracle as sketch_distinct_counts: at
    # accuracy=1000 the rank error is 0.1%, so the approx p50/p90 must
    # land between the exact 45th/55th (resp. 85th/95th) percentiles — a
    # 50x margin. Output carries the exact interpolated percentiles
    # (identical (n-1)*q arithmetic in both engines) plus the in-bracket
    # booleans; the oracle emits TRUE.
    t = register_tables(spark, sf_dir)
    agg = t["lineitem"].groupBy("l_returnflag").agg(
        F.percentile_approx("l_extendedprice", 0.5, 1000).alias("__a50"),
        F.percentile_approx("l_extendedprice", 0.9, 1000).alias("__a90"),
        F.expr(
            "percentile(l_extendedprice, array(0.45, 0.5, 0.55, 0.85, 0.9, 0.95))"
        ).alias("__ex"),
    )
    return agg.select(
        "l_returnflag",
        F.round(F.col("__ex")[1], 4).alias("exact_p50"),
        F.round(F.col("__ex")[4], 4).alias("exact_p90"),
        F.col("__a50").between(F.col("__ex")[0], F.col("__ex")[2]).alias(
            "p50_in_bound"
        ),
        F.col("__a90").between(F.col("__ex")[3], F.col("__ex")[5]).alias(
            "p90_in_bound"
        ),
    )


_SKETCH_QUANTILES_ORACLE = """
SELECT l_returnflag,
       round(quantile_cont(l_extendedprice, 0.5), 4) AS exact_p50,
       round(quantile_cont(l_extendedprice, 0.9), 4) AS exact_p90,
       TRUE AS p50_in_bound,
       TRUE AS p90_in_bound
FROM lineitem GROUP BY l_returnflag
"""


def _q_skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Salted skew-join: physically spreads any hot l_suppkey over 8
    # reducers (positional salt on the big side, replicated small side)
    # while producing a row-identical result — so the oracle is simply
    # the PLAIN join+aggregate, proving the rewrite is semantics-free.
    from ..operators.skew import salted_join

    t = register_tables(spark, sf_dir)
    li = t["lineitem"].select("l_suppkey", "l_extendedprice")
    sup = t["supplier"].select(
        F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"
    )
    j = salted_join(li, sup, ["l_suppkey"], n_salts=8)
    # exact integer cents -> order-free sum (see the Q10 comment)
    cents = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
    return j.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(F.sum(cents).cast("double") / 100.0, 2).alias("revenue"),
    )


_SKEW_SALTED_JOIN_ORACLE = """
SELECT s.s_nationkey,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       round(CAST(SUM(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT))
                  AS DOUBLE) / 100.0, 2) AS revenue
FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
GROUP BY s.s_nationkey
"""


def _q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The diagnostics half of skew mitigation: hottest keys + integer
    # basis-point share + skew factor, so the mitigation choice (none /
    # AQE / salting / union-window) is measured, not guessed.
    from ..operators.skew import skew_report

    t = register_tables(spark, sf_dir)
    return skew_report(t["documents"], ["lang"], top_n=10)


_SKEW_REPORT_ORACLE = """
WITH c AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY lang),
s AS (SELECT sum(cnt) AS total, count(*) AS nkeys FROM c)
SELECT lang, CAST(cnt AS BIGINT) AS cnt,
       CAST(floor(cnt * 10000 / total + 0.5) AS BIGINT) AS pct_e4,
       CAST(floor(cnt * 100 * nkeys / total + 0.5) AS BIGINT) AS skew_x_e2
FROM c, s
ORDER BY cnt DESC, lang ASC
LIMIT 10
"""


def _q_sketch_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    # MERGEABLE sketches — the property that makes sketch
    # infrastructure work at 100 TB: per-source HLL sketches built
    # independently (one pass, map-side combinable), then UNIONED
    # without touching the raw data; the merged estimate must land
    # within ±5% of the exact global distinct count, per-source
    # estimates within ±5% of theirs (error-bound contract, oracle
    # emits exact counts + literal TRUE). Datasketches HLL via Spark's
    # hll_sketch_agg / hll_union_agg / hll_sketch_estimate.
    register_tables(spark, sf_dir)
    return spark.sql("""
        WITH per AS (
          SELECT source, hll_sketch_agg(CAST(doc_id AS STRING)) AS sk,
                 count(DISTINCT doc_id) AS exact
          FROM documents GROUP BY source
        ),
        per_rows AS (
          SELECT source AS scope, CAST(exact AS BIGINT) AS exact_distinct,
                 abs(hll_sketch_estimate(sk) - exact) <= 0.05 * exact
                   AS est_in_bound
          FROM per
        ),
        merged AS (
          SELECT 'merged' AS scope,
                 (SELECT CAST(count(DISTINCT doc_id) AS BIGINT)
                  FROM documents) AS exact_distinct,
                 abs(hll_sketch_estimate(hll_union_agg(sk))
                     - (SELECT count(DISTINCT doc_id) FROM documents))
                   <= 0.05 * (SELECT count(DISTINCT doc_id) FROM documents)
                   AS est_in_bound
          FROM per
        )
        SELECT * FROM per_rows UNION ALL SELECT * FROM merged
    """)


_SKETCH_HLL_MERGE_ORACLE = """
SELECT source AS scope, CAST(count(DISTINCT doc_id) AS BIGINT)
         AS exact_distinct, TRUE AS est_in_bound
FROM documents GROUP BY source
UNION ALL
SELECT 'merged', CAST(count(DISTINCT doc_id) AS BIGINT), TRUE
FROM documents
"""


def _q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Skew-salted two-stage aggregation vs the plain-groupBy oracle:
    # result equivalence is the contract (salting changes the shuffle
    # layout, never the answer). l_returnflag has 3 hot values — each
    # spreads over n_salts stage-1 reducers.
    from ..operators.skew import salted_agg

    t = register_tables(spark, sf_dir)
    out = salted_agg(
        t["lineitem"],
        ["l_returnflag"],
        {
            "n_rows": ("count", "l_quantity"),
            "sum_qty": ("sum", "l_quantity"),
            "min_price": ("min", "l_extendedprice"),
            "max_price": ("max", "l_extendedprice"),
        },
    )
    return out.select(
        "l_returnflag",
        "n_rows",
        F.round("sum_qty", 2).alias("sum_qty"),
        "min_price",
        "max_price",
    )


_SALTED_AGG_ORACLE = """
SELECT l_returnflag, count(*) AS n_rows,
       round(sum(l_quantity), 2) AS sum_qty,
       min(l_extendedprice) AS min_price,
       max(l_extendedprice) AS max_price
FROM lineitem GROUP BY l_returnflag
"""


def _q_bloom_prejoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Bloom runtime-filter join reduction: a selective dimension
    # predicate (high-value orders) prunes the fact scan BEFORE the
    # join shuffle via a broadcast O(bits) bitmap — the explicit form
    # of the engine runtime filter, portable to any plan shape. False
    # positives are swallowed by the exact join that follows, so the
    # contract is result identity with the PLAIN join (the oracle);
    # the reduction itself is asserted by pytest plan/row checks, not
    # here, because the oracle can only see values.
    from ..operators.runtime_filter import bloom_prefilter, build_bloom_bitmap

    t = register_tables(spark, sf_dir)
    dim = (
        t["orders"]
        .where(F.col("o_totalprice") > 350000)
        .select("o_orderkey", "o_orderpriority")
    )
    bloom = build_bloom_bitmap(dim, "o_orderkey")
    li = bloom_prefilter(
        t["lineitem"].select("l_orderkey", "l_extendedprice"),
        "l_orderkey",
        bloom,
    )
    j = li.join(dim, li["l_orderkey"] == dim["o_orderkey"])
    cents = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(F.sum(cents).cast("double") / 100.0, 2).alias("revenue"),
    )


_BLOOM_PREJOIN_ORACLE = """
SELECT o.o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       round(CAST(SUM(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT))
                  AS DOUBLE) / 100.0, 2) AS revenue
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_totalprice > 350000
GROUP BY o.o_orderpriority
"""


def _q_sketch_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Count-Min frequency sketch — the third mergeable-sketch leg
    # (HLL=cardinality, GK=quantiles, CMS=per-key frequency). Row
    # hashes are the repo's SQL-portable fingerprint family, so unlike
    # the HLL/quantile entries the oracle replays the ENTIRE sketch
    # arithmetic exactly: grid build, per-row bucket, min-estimate.
    # width=256 << 1500 customers forces real collisions, so the
    # never-underestimate property is exercised, not vacuous.
    from ..operators.sketches import countmin_build, countmin_estimate

    t = register_tables(spark, sf_dir)
    orders = t["orders"].select("o_custkey")
    sk = countmin_build(orders, "o_custkey", width=256, depth=4)
    exact = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("exact_n")
    )
    est = countmin_estimate(
        sk, exact.select("o_custkey"), "o_custkey", width=256, depth=4
    )
    return exact.join(est, "o_custkey").select(
        "o_custkey",
        "exact_n",
        "cm_est",
        (F.col("cm_est") >= F.col("exact_n")).alias("never_under"),
    )


_SKETCH_COUNTMIN_ORACLE = """
WITH mult(row_j, k) AS (
  VALUES (0, 2654435761), (1, 2246822519), (2, 3266489917), (3, 668265263)
),
keys AS (
  SELECT o_custkey, CAST(count(*) AS BIGINT) AS exact_n
  FROM orders GROUP BY o_custkey
),
cells AS (
  SELECT m.row_j,
         ((o.o_custkey * m.k) % 2147483648 + 2147483648) % 2147483648 % 256
           AS bucket,
         CAST(count(*) AS BIGINT) AS cnt
  FROM orders o CROSS JOIN mult m
  GROUP BY 1, 2
),
est AS (
  SELECT k.o_custkey, MIN(c.cnt) AS cm_est
  FROM keys k CROSS JOIN mult m
  JOIN cells c
    ON c.row_j = m.row_j
   AND c.bucket =
       ((k.o_custkey * m.k) % 2147483648 + 2147483648) % 2147483648 % 256
  GROUP BY 1
)
SELECT k.o_custkey, k.exact_n, e.cm_est, e.cm_est >= k.exact_n AS never_under
FROM keys k JOIN est e USING (o_custkey)
"""


def _q_sketch_countmin_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Join-cardinality estimation from two CMS grids (the CMS inner
    # product): what a planner needs to pick broadcast vs shuffle
    # WITHOUT executing the join — both grids are parameter-sized. The
    # estimate provably never underestimates; the oracle replays the
    # full grid/dot/min arithmetic and the exact join count.
    from ..operators.sketches import countmin_build, countmin_join_size

    t = register_tables(spark, sf_dir)
    ska = countmin_build(
        t["orders"].select("o_custkey"), "o_custkey", width=256, depth=4
    )
    skb = countmin_build(
        t["customer"].select("c_custkey"), "c_custkey", width=256, depth=4
    )
    est = countmin_join_size(ska, skb, depth=4)
    exact = (
        t["orders"]
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .agg(F.count(F.lit(1)).alias("exact_n"))
    )
    return exact.crossJoin(est).select(
        "exact_n",
        "cm_join_est",
        (F.col("cm_join_est") >= F.col("exact_n")).alias("never_under"),
    )


_SKETCH_COUNTMIN_JOIN_ORACLE = """
WITH mult(row_j, k) AS (
  VALUES (0, 2654435761), (1, 2246822519), (2, 3266489917), (3, 668265263)
),
ca AS (
  SELECT m.row_j,
         ((o.o_custkey * m.k) % 2147483648 + 2147483648) % 2147483648 % 256
           AS bucket,
         CAST(count(*) AS BIGINT) AS cnt
  FROM orders o CROSS JOIN mult m GROUP BY 1, 2
),
cb AS (
  SELECT m.row_j,
         ((c.c_custkey * m.k) % 2147483648 + 2147483648) % 2147483648 % 256
           AS bucket,
         CAST(count(*) AS BIGINT) AS cnt
  FROM customer c CROSS JOIN mult m GROUP BY 1, 2
),
dots AS (
  SELECT a.row_j, CAST(SUM(a.cnt * b.cnt) AS BIGINT) AS dot
  FROM ca a JOIN cb b ON a.row_j = b.row_j AND a.bucket = b.bucket
  GROUP BY 1
),
est AS (
  SELECT CAST(CASE WHEN COUNT(*) = 4 THEN MIN(dot) ELSE 0 END AS BIGINT)
           AS cm_join_est
  FROM dots
),
exact AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS exact_n
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
)
SELECT exact_n, cm_join_est, cm_join_est >= exact_n AS never_under
FROM exact, est
"""


def _q_sketch_corpus_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    # One-permutation MinHash corpus sketches (Li/Owen/Zhang 2012):
    # estimate pairwise corpus Jaccard WITHOUT a shingle join — each
    # corpus collapses to <= k (bucket, min-hash) rows in one map-side-
    # combinable pass (min is duplicate-insensitive, so no distinct
    # shuffles either), and overlap is a broadcast join of k-row
    # frames. The shingle hash is the portable 60-bit md5 fingerprint,
    # so the oracle replays the ENTIRE sketch arithmetic: bucketing,
    # minima, co-filled counts, matched minima, the estimator ratio.
    from ..operators.sketches import (
        minhash_corpus_overlap,
        minhash_corpus_sketch,
    )

    t = register_tables(spark, sf_dir)
    sk = minhash_corpus_sketch(
        t["documents"].select("lang", "text"), "lang", "text", k=256,
        shingle_n=3,
    )
    return minhash_corpus_overlap(sk, "lang")


_SKETCH_CORPUS_OVERLAP_ORACLE = """
WITH t AS (
  SELECT lang, string_split(lower(text), ' ') AS w
  FROM documents WHERE text IS NOT NULL
),
sh AS (
  SELECT lang, array_to_string(w[i:i+2], ' ') AS s
  FROM t, LATERAL (SELECT unnest(generate_series(1, len(w)-2)) AS i)
),
hv AS (
  SELECT lang, CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) AS h FROM sh
),
sk AS (SELECT lang, h % 256 AS bucket, MIN(h) AS min_h FROM hv GROUP BY 1, 2),
filled AS (SELECT lang, CAST(count(*) AS BIGINT) AS f FROM sk GROUP BY 1),
pair AS (
  SELECT a.lang AS group_a, b.lang AS group_b,
         CAST(count(*) AS BIGINT) AS both_filled,
         CAST(SUM(CASE WHEN a.min_h = b.min_h THEN 1 ELSE 0 END) AS BIGINT)
           AS matched
  FROM sk a JOIN sk b ON a.bucket = b.bucket AND a.lang < b.lang
  GROUP BY 1, 2
)
SELECT p.group_a, p.group_b, fa.f AS filled_a, fb.f AS filled_b,
       p.both_filled, p.matched,
       round(p.matched * 1.0 / p.both_filled, 4) AS jaccard_e4
FROM pair p
JOIN filled fa ON fa.lang = p.group_a
JOIN filled fb ON fb.lang = p.group_b
"""


ENTRIES: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {
    "skew_salted_agg": (_q_salted_agg, _SALTED_AGG_ORACLE),
    "sketch_corpus_overlap": (
        _q_sketch_corpus_overlap,
        _SKETCH_CORPUS_OVERLAP_ORACLE,
    ),
    "bloom_prejoin_filter": (_q_bloom_prejoin, _BLOOM_PREJOIN_ORACLE),
    "sketch_distinct_counts": (_q_sketch_distinct, _SKETCH_DISTINCT_ORACLE),
    "sketch_quantiles": (_q_sketch_quantiles, _SKETCH_QUANTILES_ORACLE),
    "sketch_countmin": (_q_sketch_countmin, _SKETCH_COUNTMIN_ORACLE),
    "sketch_countmin_join": (_q_sketch_countmin_join, _SKETCH_COUNTMIN_JOIN_ORACLE),
    "sketch_hll_mergeable": (_q_sketch_hll_merge, _SKETCH_HLL_MERGE_ORACLE),
    "skew_report": (_q_skew_report, _SKEW_REPORT_ORACLE),
    "skew_salted_join": (_q_skew_salted_join, _SKEW_SALTED_JOIN_ORACLE),
}
