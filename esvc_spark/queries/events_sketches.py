"""Sketch/state event analytics: KMV / HLL / CMS / Bloom sketches
(+ unions, windows), audience overlap, incremental rollup (IVM), salted
distinct, pagerank, lift, RFM, SCD2, LTV, bot detection, stickiness,
Gini, key skew, GDPR erasure.

Split from the original single events module (round 6) — see `events.py`
for the registry.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table as T
from ._util import dec, dsum, sql_dsum, tracked_persist as _tp

# ------------------------------------------------------ audience overlap
# Sketch SET OPERATIONS: estimate the user-audience intersection of
# every event-type pair from per-type KMV sketches alone —
# est(A∩B) = est(A) + est(B) − est(A∪B), where the union sketch is just
# the k smallest of the two sketches' union (KMV's closure property).
# Audited against the exact intersection. This is how audience-overlap
# questions get answered at 100 TB without ever joining raw user sets:
# sketches are k rows per type, the pair lattice is |types|² tiny.

_AOV_K = 64
_AOV_SPACE = float(1 << 60)


def q_ev_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events")
    h = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10
    ).cast("bigint")
    dh = ev.select("event_type", h.alias("h")).distinct().transform(_tp)
    wt = Window.partitionBy("event_type").orderBy("h")
    sketch = (
        dh.withColumn("rn", F.row_number().over(wt))
        .filter(F.col("rn") <= _AOV_K)
        .drop("rn")
        .transform(_tp)
    )

    def est_from(df, keys):
        w = Window.partitionBy(*keys).orderBy("h")
        ranked = df.withColumn("rn", F.row_number().over(w))
        kth = ranked.filter(F.col("rn") == _AOV_K).select(
            *keys, F.col("h").alias("kth")
        )
        n = ranked.groupBy(*keys).agg(F.count(F.lit(1)).alias("n_seen"))
        return n.join(kth, list(keys), "left").select(
            *keys,
            F.when(F.col("kth").isNull(), F.col("n_seen").cast("double"))
            .otherwise(
                F.lit(float(_AOV_K - 1))
                / (F.col("kth").cast("double") / F.lit(_AOV_SPACE))
            )
            .alias("est"),
        )

    singles = est_from(sketch, ["event_type"])
    ta = sketch.select(F.col("event_type").alias("type_a"), "h")
    tb = sketch.select(F.col("event_type").alias("type_b"), "h")
    pair_rows = (
        ta.join(tb.select("type_b").distinct(), F.col("type_a") < F.col("type_b"))
        .select("type_a", "type_b", "h")
        .unionByName(
            tb.join(
                ta.select("type_a").distinct(), F.col("type_a") < F.col("type_b")
            ).select("type_a", "type_b", "h")
        )
        .distinct()
    )
    unions = est_from(pair_rows, ["type_a", "type_b"]).withColumnRenamed(
        "est", "est_union"
    )
    ea = singles.select(
        F.col("event_type").alias("type_a"), F.col("est").alias("est_a")
    )
    eb = singles.select(
        F.col("event_type").alias("type_b"), F.col("est").alias("est_b")
    )
    xa = dh.select(F.col("event_type").alias("type_a"), "h")
    xb = dh.select(F.col("event_type").alias("type_b"), "h")
    exact = (
        xa.join(xb, ["h"])
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_exact_overlap"))
    )
    return (
        unions.join(F.broadcast(ea), "type_a")
        .join(F.broadcast(eb), "type_b")
        .join(exact, ["type_a", "type_b"], "left")
        .select(
            "type_a",
            "type_b",
            F.coalesce("n_exact_overlap", F.lit(0)).cast("bigint").alias(
                "n_exact_overlap"
            ),
            (F.col("est_a") + F.col("est_b") - F.col("est_union")).alias(
                "est_overlap"
            ),
        )
    )


_AOV_SQL = f"""
WITH dh AS (
  SELECT DISTINCT event_type,
         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
  FROM events
),
sketch AS (
  SELECT event_type, h FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
    FROM dh
  ) WHERE rn <= {_AOV_K}
),
singles AS (
  SELECT event_type,
         CASE WHEN MAX(CASE WHEN rn = {_AOV_K} THEN h END) IS NULL
              THEN CAST(COUNT(*) AS DOUBLE)
              ELSE {float(_AOV_K - 1)}
                   / (CAST(MAX(CASE WHEN rn = {_AOV_K} THEN h END) AS DOUBLE)
                      / {_AOV_SPACE}) END AS est
  FROM (SELECT event_type, h,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
        FROM sketch)
  GROUP BY event_type
),
pair_rows AS (
  SELECT DISTINCT a.event_type AS type_a, b.event_type AS type_b, x.h
  FROM (SELECT DISTINCT event_type FROM sketch) a
  JOIN (SELECT DISTINCT event_type FROM sketch) b ON a.event_type < b.event_type
  JOIN sketch x ON x.event_type IN (a.event_type, b.event_type)
),
unions AS (
  SELECT type_a, type_b,
         CASE WHEN MAX(CASE WHEN rn = {_AOV_K} THEN h END) IS NULL
              THEN CAST(COUNT(*) AS DOUBLE)
              ELSE {float(_AOV_K - 1)}
                   / (CAST(MAX(CASE WHEN rn = {_AOV_K} THEN h END) AS DOUBLE)
                      / {_AOV_SPACE}) END AS est_union
  FROM (SELECT type_a, type_b, h,
               ROW_NUMBER() OVER (PARTITION BY type_a, type_b ORDER BY h) AS rn
        FROM pair_rows)
  GROUP BY type_a, type_b
),
exact AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         COUNT(*) AS n_exact_overlap
  FROM dh a JOIN dh b ON a.h = b.h AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT u.type_a, u.type_b,
       CAST(COALESCE(e.n_exact_overlap, 0) AS BIGINT) AS n_exact_overlap,
       sa.est + sb.est - u.est_union AS est_overlap
FROM unions u
JOIN singles sa ON sa.event_type = u.type_a
JOIN singles sb ON sb.event_type = u.type_b
LEFT JOIN exact e ON e.type_a = u.type_a AND e.type_b = u.type_b
"""


# ------------------------------------------------------- KMV window merge
# The mergeability story: per-day KMV sketches (k smallest distinct
# user-hashes per type) merged over a trailing 7-day window by taking
# the k smallest of the union — the reason sketches exist at scale (a
# sliding distinct count without re-touching raw data), audited against
# the exact windowed distinct. If the union holds fewer than k hashes,
# every contributing day was complete, so the union IS exact — the
# fallback uses its size. One explode (×7) of sketch rows, never of raw
# events.

_KMVW_K = 32
_KMVW_DAYS = 7
_DAY_US = 86_400_000_000
_KMVW_SPACE = float(1 << 60)  # 15 hex digits of md5 = 60-bit hash space


def q_ev_kmv_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events")
    h = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10
    ).cast("bigint")
    dh = (
        ev.select(
            "event_type",
            F.expr(f"unix_micros(ts) div {_DAY_US}").alias("day"),
            h.alias("h"),
        )
        .distinct()
        .transform(_tp)
    )
    wd = Window.partitionBy("event_type", "day").orderBy("h")
    sketch = (
        dh.withColumn("rn", F.row_number().over(wd))
        .filter(F.col("rn") <= _KMVW_K)
        .drop("rn")
    )
    bounds = dh.agg(F.max("day").alias("max_day"))
    merged = (
        sketch.withColumn(
            "out_day", F.explode(F.expr(f"sequence(day, day + {_KMVW_DAYS - 1})"))
        )
        .crossJoin(F.broadcast(bounds))
        .filter(F.col("out_day") <= F.col("max_day"))
        .select("event_type", "out_day", "h")
        .distinct()
        # persist: the merged sketch (≤ k·groups·window_days rows) feeds
        # BOTH the kth-hash window and the union count — unpersisted,
        # the explode+distinct ran twice (round 11)
        .transform(_tp)
    )
    wo = Window.partitionBy("event_type", "out_day").orderBy("h")
    ranked = merged.withColumn("rn", F.row_number().over(wo))
    kth = ranked.filter(F.col("rn") == _KMVW_K).select(
        "event_type", "out_day", F.col("h").alias("kth_hash")
    )
    # count from merged, not ranked: row_number adds no rows, and the
    # count-side consumer shouldn't pay the kth-hash window sort twice
    union_n = merged.groupBy("event_type", "out_day").agg(
        F.count(F.lit(1)).alias("n_union")
    )
    exact = (
        dh.withColumn(
            "out_day", F.explode(F.expr(f"sequence(day, day + {_KMVW_DAYS - 1})"))
        )
        .crossJoin(F.broadcast(bounds))
        .filter(F.col("out_day") <= F.col("max_day"))
        .select("event_type", "out_day", "h")
        .distinct()
        .groupBy("event_type", "out_day")
        .agg(F.count(F.lit(1)).alias("n_exact"))
    )
    est = F.lit(float(_KMVW_K - 1)) / (
        F.col("kth_hash").cast("double") / F.lit(_KMVW_SPACE)
    )
    return (
        exact.join(union_n, ["event_type", "out_day"])
        .join(kth, ["event_type", "out_day"], "left")
        .select(
            "event_type",
            "out_day",
            "n_exact",
            F.when(F.col("kth_hash").isNull(), F.col("n_union").cast("double"))
            .otherwise(est)
            .alias("est_distinct"),
        )
        .withColumn(
            "rel_err",
            (F.col("est_distinct") - F.col("n_exact").cast("double"))
            / F.col("n_exact").cast("double"),
        )
    )


_KMVW_SQL = f"""
WITH dh AS (
  SELECT DISTINCT event_type,
         epoch_us(ts::TIMESTAMP) // {_DAY_US} AS day,
         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
  FROM events
),
sketch AS (
  SELECT event_type, day, h FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type, day ORDER BY h) AS rn
    FROM dh
  ) WHERE rn <= {_KMVW_K}
),
mx AS (SELECT MAX(day) AS max_day FROM dh),
merged AS (
  SELECT DISTINCT event_type, day + t.i AS out_day, h
  FROM sketch, unnest(range(0, {_KMVW_DAYS})) t(i), mx
  WHERE day + t.i <= mx.max_day
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type, out_day ORDER BY h) AS rn
  FROM merged
),
kth AS (
  SELECT event_type, out_day, h AS kth_hash FROM ranked WHERE rn = {_KMVW_K}
),
un AS (
  SELECT event_type, out_day, COUNT(*) AS n_union FROM merged GROUP BY 1, 2
),
exact AS (
  SELECT event_type, out_day, COUNT(*) AS n_exact FROM (
    SELECT DISTINCT event_type, day + t.i AS out_day, h
    FROM dh, unnest(range(0, {_KMVW_DAYS})) t(i), mx
    WHERE day + t.i <= mx.max_day
  ) GROUP BY 1, 2
)
SELECT e.event_type, e.out_day, CAST(e.n_exact AS BIGINT) AS n_exact,
       CASE WHEN k.kth_hash IS NULL THEN CAST(u.n_union AS DOUBLE)
            ELSE {float(_KMVW_K - 1)} / (CAST(k.kth_hash AS DOUBLE) / {_KMVW_SPACE})
       END AS est_distinct,
       (CASE WHEN k.kth_hash IS NULL THEN CAST(u.n_union AS DOUBLE)
             ELSE {float(_KMVW_K - 1)} / (CAST(k.kth_hash AS DOUBLE) / {_KMVW_SPACE})
        END - CAST(e.n_exact AS DOUBLE)) / CAST(e.n_exact AS DOUBLE) AS rel_err
FROM exact e
JOIN un u ON u.event_type = e.event_type AND u.out_day = e.out_day
LEFT JOIN kth k ON k.event_type = e.event_type AND k.out_day = e.out_day
"""


# ------------------------------------------------------------------- lift
# Market-basket association lift between event types co-occurring in the
# same (user, hour) basket: lift(a,b) = P(a,b)/(P(a)·P(b)) computed as
# the exact rational n_ab·N/(n_a·n_b) — PMI without the log, so the
# value is one IEEE division of exact integers (cross-engine identical).
# Shape: distinct baskets (one shuffle), then a self-join whose side is
# |baskets|×|types| with only ~types² output — never corpus-quadratic.


def q_ev_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events")
    baskets = (
        ev.select(
            "user_id",
            F.expr("unix_micros(ts) div 3600000000").alias("h"),
            "event_type",
        )
        .distinct()
        .transform(_tp)
    )
    nb_row = (
        baskets.select("user_id", "h")
        .distinct()
        .agg(F.count(F.lit(1)).alias("n_baskets"))
    )
    per_type = baskets.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    a, b = baskets.alias("a"), baskets.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.h") == F.col("b.h"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    na = per_type.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a"))
    nb = per_type.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b"))
    return (
        pairs.join(F.broadcast(na), "type_a")
        .join(F.broadcast(nb), "type_b")
        .crossJoin(F.broadcast(nb_row))
        .select(
            "type_a",
            "type_b",
            "n_ab",
            "n_a",
            "n_b",
            "n_baskets",
            (
                (F.col("n_ab") * F.col("n_baskets")).cast("double")
                / (F.col("n_a") * F.col("n_b")).cast("double")
            ).alias("lift"),
        )
    )


_LIFT_SQL = """
WITH baskets AS (
  SELECT DISTINCT user_id, epoch_us(ts::TIMESTAMP) // 3600000000 AS h, event_type
  FROM events
),
nb AS (SELECT COUNT(*) AS n_baskets FROM (SELECT DISTINCT user_id, h FROM baskets)),
per_type AS (SELECT event_type, COUNT(*) AS n FROM baskets GROUP BY 1),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b, COUNT(*) AS n_ab
  FROM baskets a JOIN baskets b
    ON a.user_id = b.user_id AND a.h = b.h AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT type_a, type_b, n_ab, ta.n AS n_a, tb.n AS n_b,
       CAST(nb.n_baskets AS BIGINT) AS n_baskets,
       CAST(n_ab * nb.n_baskets AS DOUBLE) / CAST(ta.n * tb.n AS DOUBLE) AS lift
FROM pairs
JOIN per_type ta ON ta.event_type = type_a
JOIN per_type tb ON tb.event_type = type_b
CROSS JOIN nb
"""


# ------------------------------------------------------------- RFM features
# User feature engineering: recency / frequency / monetary per user with
# quartile binning (ntile over a pinned total order — metric then
# user_id, so both engines tile identically) and a composed RFM segment
# label — the feature-store shape behind churn/LTV training sets.
#
# Scale: the quartiles come from three PARTITION-PARALLEL global ranks
# (core.spark_engine.grouped_row_number with no group columns:
# range-partition, per-partition row_number, broadcast partition
# offsets), never from an unpartitioned NTILE window that would
# funnel the |users| table through one task. NTILE(4) is then exact
# integer arithmetic on (rank, n): with n = 4q + r the first r tiles
# hold q+1 rows — identical to the oracle's NTILE down to the last
# straddling tie, because the rank key (metric, user_id) is a total
# order. The returned plan embeds the prefix-sum localCheckpoints
# (listed in plan_audit._IMPERATIVE with the honest topology).


def _ntile4(rank_col: str) -> "F.Column":
    from ._util import ntile_from_rank

    return ntile_from_rank(rank_col, "_n_users", 4)


def q_ev_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from esvc_spark.catalog import table_rows
    from esvc_spark.core.spark_engine import grouped_row_number

    ev = T(spark, sf_dir, "events")
    # |users| ≤ |events|: the metadata count gates the three rank passes
    n_bound = table_rows(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.max("ts").alias("last_ts"),
        F.count(F.lit(1)).alias("n_events"),
        dsum("value", 2).alias("monetary"),
    )
    # NULL convention (degenerate-suite seeds): a NULL user_id group and
    # a NULL monetary (all-NULL values) sort FIRST in every quartile
    # ranking — Spark's ASC default (grouped_row_number inherits it for
    # both the range partitioner and the window), pinned explicitly in
    # the oracle (DuckDB defaults to NULLS LAST).
    ranked = per_user
    for metric, out in (
        ("last_ts", "_ri"), ("n_events", "_fi"), ("monetary", "_mi")
    ):
        ranked = grouped_row_number(
            spark, ranked, [], [metric, "user_id"], out, n_rows=n_bound
        )
    # n from the rank frame (max rank = row count). On the two-phase
    # path the frame is checkpoint-pinned (no second evaluation); on the
    # size-gated local path the agg re-derives the (deterministic,
    # unique-tiebreak) per-user subtree — small by the gate's bound
    n = ranked.agg(F.max("_mi").alias("_n_users"))
    return ranked.crossJoin(F.broadcast(n)).select(
        "user_id",
        "last_ts",
        "n_events",
        "monetary",
        _ntile4("_ri").alias("r_quartile"),
        _ntile4("_fi").alias("f_quartile"),
        _ntile4("_mi").alias("m_quartile"),
        F.concat(
            _ntile4("_ri").cast("string"),
            _ntile4("_fi").cast("string"),
            _ntile4("_mi").cast("string"),
        ).alias("rfm_segment"),
    )


_RFM_SQL = f"""
WITH per_user AS (
  SELECT user_id, MAX(ts) AS last_ts, COUNT(*) AS n_events,
         {sql_dsum('value', 2)} AS monetary
  FROM events GROUP BY user_id
)
SELECT user_id, last_ts, n_events, monetary,
       NTILE(4) OVER (ORDER BY last_ts NULLS FIRST, user_id NULLS FIRST)
         AS r_quartile,
       NTILE(4) OVER (ORDER BY n_events NULLS FIRST, user_id NULLS FIRST)
         AS f_quartile,
       NTILE(4) OVER (ORDER BY monetary NULLS FIRST, user_id NULLS FIRST)
         AS m_quartile,
       CAST(NTILE(4) OVER (ORDER BY last_ts NULLS FIRST,
                           user_id NULLS FIRST) AS VARCHAR)
         || CAST(NTILE(4) OVER (ORDER BY n_events NULLS FIRST,
                                user_id NULLS FIRST) AS VARCHAR)
         || CAST(NTILE(4) OVER (ORDER BY monetary NULLS FIRST,
                                user_id NULLS FIRST) AS VARCHAR)
         AS rfm_segment
FROM per_user
"""

# ------------------------------------------------------------- KMV sketch
# K-minimum-values distinct-count sketch over user_id per event type —
# the deterministic cousin of HyperLogLog (md5-derived hashes, so both
# engines compute the identical sketch; approx_count_distinct would never
# oracle-match). Estimator: (k-1) / U_k with U_k the k-th smallest hash
# normalized to [0,1). Two-phase k-min: per-(type, salt) partial k-min
# first (parallel, bounded state), then global k-min over the ≤ salt·k
# survivors — the same shape a 1000-executor job needs, since a single
# window over all distinct hashes of one type would funnel that type's
# whole hash set through one task. Exact distinct rides along for the
# relative-error column.

_KMV_K = 64
_KMV_SALTS = 16
_KMV_SPACE = float(1 << 60)


def q_ev_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events")
    h = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10
    ).cast("bigint")
    dh = ev.select("event_type", h.alias("h")).distinct().transform(_tp)
    w_salt = Window.partitionBy("event_type", "salt").orderBy("h")
    survivors = (
        dh.withColumn("salt", F.pmod(F.col("h"), F.lit(_KMV_SALTS)))
        .withColumn("rn", F.row_number().over(w_salt))
        .filter(F.col("rn") <= _KMV_K)
        .drop("salt", "rn")
    )
    w = Window.partitionBy("event_type").orderBy("h")
    kth = (
        survivors.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == _KMV_K)
        .select("event_type", F.col("h").alias("kth_hash"))
    )
    exact = dh.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_exact"))
    est = (
        F.lit(float(_KMV_K - 1))
        / (F.col("kth_hash").cast("double") / F.lit(_KMV_SPACE))
    )
    return (
        exact.join(kth, "event_type", "left")
        .select(
            "event_type",
            "n_exact",
            "kth_hash",
            F.when(F.col("kth_hash").isNull(), F.col("n_exact").cast("double"))
            .otherwise(est)
            .alias("est_distinct"),
        )
        .withColumn(
            "rel_err",
            (F.col("est_distinct") - F.col("n_exact").cast("double"))
            / F.col("n_exact").cast("double"),
        )
    )


_KMV_SQL = f"""
WITH dh AS (
  SELECT DISTINCT event_type,
         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
  FROM events
),
ranked AS (
  SELECT event_type, h,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
  FROM dh
),
kth AS (SELECT event_type, h AS kth_hash FROM ranked WHERE rn = {_KMV_K}),
exact AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_exact
          FROM dh GROUP BY event_type)
SELECT e.event_type, e.n_exact, k.kth_hash,
       CASE WHEN k.kth_hash IS NULL THEN CAST(e.n_exact AS DOUBLE)
            ELSE CAST({_KMV_K - 1} AS DOUBLE)
                 / (CAST(k.kth_hash AS DOUBLE) / {_KMV_SPACE!r})
       END AS est_distinct,
       (CASE WHEN k.kth_hash IS NULL THEN CAST(e.n_exact AS DOUBLE)
             ELSE CAST({_KMV_K - 1} AS DOUBLE)
                  / (CAST(k.kth_hash AS DOUBLE) / {_KMV_SPACE!r})
        END - CAST(e.n_exact AS DOUBLE)) / CAST(e.n_exact AS DOUBLE) AS rel_err
FROM exact e LEFT JOIN kth k USING (event_type)
"""



# ------------------------------------------------------- count-min sketch
# Count-min frequency sketch over user_id (depth 4 x width 512, md5-derived
# row hashes — identical in both engines), with per-key estimates for a
# fixed probe set and the exact counts alongside for the overcount column.
# The streaming-aggregation workhorse for heavy-hitter detection: the
# sketch build is one explode(d rows) + groupBy of at most d*w cells —
# constant-size state no matter how many events flow through — and
# estimation joins the d*w-cell sketch (broadcast) against the probe keys.

_CMS_D = 4
_CMS_W = 512
_CMS_PROBE_N = 15


def _cms_bucket(i: int) -> Column:
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"{i}:"), F.col("user_id").cast("string"))), 1, 15
        ),
        16,
        10,
    ).cast("bigint")
    return F.pmod(h, F.lit(_CMS_W))


def _sql_cms_bucket(i: int) -> str:
    return (
        f"CAST(('0x' || substr(md5('{i}:' || CAST(user_id AS VARCHAR)), 1, 15)) "
        f"AS BIGINT) % {_CMS_W}"
    )


def q_ev_cms_heavy(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events").select("user_id")
    cells = ev.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("row_i"), _cms_bucket(i).alias("bucket")
                    )
                    for i in range(_CMS_D)
                ]
            )
        ).alias("rb")
    ).select("rb.row_i", "rb.bucket")
    sketch = cells.groupBy("row_i", "bucket").agg(F.count(F.lit(1)).alias("cnt"))
    probes = ev.filter(F.col("user_id") < _CMS_PROBE_N)
    exact = probes.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_exact"))
    keyed = exact.select(
        "user_id",
        "n_exact",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("row_i"), _cms_bucket(i).alias("bucket")
                    )
                    for i in range(_CMS_D)
                ]
            )
        ).alias("rb"),
    ).select("user_id", "n_exact", "rb.row_i", "rb.bucket")
    return (
        keyed.join(F.broadcast(sketch), ["row_i", "bucket"])
        .groupBy("user_id", "n_exact")
        .agg(F.min("cnt").alias("est"))
        .withColumn("overcount", F.col("est") - F.col("n_exact"))
        .select("user_id", "n_exact", "est", "overcount")
    )


def _cms_sql() -> str:
    bucket_rows = " UNION ALL ".join(
        f"SELECT user_id, {i} AS row_i, {_sql_cms_bucket(i)} AS bucket FROM ev"
        for i in range(_CMS_D)
    )
    return f"""
WITH ev AS (SELECT user_id FROM events),
cells AS ({bucket_rows}),
sketch AS (SELECT row_i, bucket, COUNT(*) AS cnt
           FROM cells GROUP BY row_i, bucket),
exact AS (SELECT user_id, COUNT(*) AS n_exact FROM ev
          WHERE user_id < {_CMS_PROBE_N} GROUP BY user_id),
keyed AS (
  SELECT e.user_id, e.n_exact, c.row_i, c.bucket
  FROM exact e JOIN (SELECT DISTINCT * FROM cells) c USING (user_id)
)
SELECT user_id, n_exact, MIN(cnt) AS est, MIN(cnt) - n_exact AS overcount
FROM keyed JOIN sketch USING (row_i, bucket)
GROUP BY user_id, n_exact
"""


# ---------------------------------------------------------------- HLL
# Real HyperLogLog (m=64 registers) over user_id per event type, next to
# the exact count — raw estimator, no small-range correction (that needs
# ln(), which is not correctly rounded across engines; KMV above is the
# corrected-accuracy alternative). Register update is pure integer math:
# bucket = hash div 2^54, rho = leading zeros of the 54-bit remainder + 1
# computed as 55 - length(bin(rest)) (string length of the binary
# expansion — identical in both engines, no log2). The indicator sum
# folds 2^-rho in bucket order: each term is an exact power of two, but
# adding 2^-60 into a ~64 accumulator rounds, so order is pinned.
# Scale shape: constant 64-register state per group, map-side combined.

_HLL_M = 64  # registers (6-bit bucket index)
_HLL_REST_BITS = 54  # 60-bit hash minus 6 bucket bits
_HLL_ALPHA = 0.7213 / (1 + 1.079 / _HLL_M)  # same literal in both engines


def q_ev_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events")
    h = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10
    ).cast("bigint")
    # persist: the distinct hash table feeds both the register build and
    # the exact count (same pattern as the KMV sketch above)
    hashed = ev.select("event_type", h.alias("h")).distinct().transform(_tp)
    regs = (
        hashed.select(
            "event_type",
            F.expr(f"CAST(h div {1 << _HLL_REST_BITS} AS INT)").alias("bucket"),
            F.expr(
                f"CASE WHEN h % {1 << _HLL_REST_BITS} = 0 THEN {_HLL_REST_BITS + 1} "
                f"ELSE {_HLL_REST_BITS + 1} - length(bin(h % {1 << _HLL_REST_BITS})) END"
            ).alias("rho"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.max("rho").alias("reg"))
    )
    ind = regs.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_present"),
        F.aggregate(
            F.expr("transform(array_sort(collect_list(struct(bucket, reg))), t -> pow(2.0, -t.reg))"),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("present_sum"),
    )
    exact = hashed.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_exact"))
    est = (
        F.lit(_HLL_ALPHA)
        * F.lit(float(_HLL_M * _HLL_M))
        / (F.col("present_sum") + (F.lit(_HLL_M) - F.col("n_present")).cast("double"))
    )
    return (
        exact.join(F.broadcast(ind), "event_type")
        .withColumn("est_hll", est)
        .withColumn(
            "rel_err",
            (F.col("est_hll") - F.col("n_exact").cast("double"))
            / F.col("n_exact").cast("double"),
        )
        .select("event_type", "n_exact", "est_hll", "rel_err")
    )


_HLL_SQL = f"""
WITH hashed AS (
  SELECT DISTINCT event_type,
         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
  FROM events
),
regs AS (
  SELECT event_type, CAST(h // {1 << _HLL_REST_BITS} AS INT) AS bucket,
         MAX(CASE WHEN h % {1 << _HLL_REST_BITS} = 0 THEN {_HLL_REST_BITS + 1}
                  ELSE {_HLL_REST_BITS + 1} - length(bin(h % {1 << _HLL_REST_BITS})) END)
           AS reg
  FROM hashed GROUP BY 1, 2
),
ind AS (
  SELECT event_type, COUNT(*) AS n_present,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                  list(pow(2.0, -reg) ORDER BY bucket)),
                     (acc, x) -> acc + x) AS present_sum
  FROM regs GROUP BY event_type
),
exact AS (SELECT event_type, COUNT(*) AS n_exact FROM hashed GROUP BY event_type)
SELECT event_type, n_exact,
       CAST({_HLL_ALPHA!r} AS DOUBLE) * {float(_HLL_M * _HLL_M)!r}
         / (present_sum + CAST({_HLL_M} - n_present AS DOUBLE)) AS est_hll,
       (CAST({_HLL_ALPHA!r} AS DOUBLE) * {float(_HLL_M * _HLL_M)!r}
         / (present_sum + CAST({_HLL_M} - n_present AS DOUBLE)) - CAST(n_exact AS DOUBLE))
         / CAST(n_exact AS DOUBLE) AS rel_err
FROM exact JOIN ind USING (event_type)
"""


# --------------------------------------------------------- HLL union merge
# HLL's defining merge: register-wise MAX. Prefix unions over the
# alphabetically-ranked event types (types 1..k merged per row) show the
# estimate stays calibrated as sketches from different partitions merge
# — the exact op a 1000-executor rollup runs when per-partition HLL
# states combine. Audited per prefix against the exact distinct count;
# estimates use the same pinned-order pow(2,-reg) fold as
# q_ev_hll_distinct.


def q_ev_hll_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events")
    h = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10
    ).cast("bigint")
    # NULL convention (degenerate-suite seeds): a NULL user_id is not a
    # user (COUNT(DISTINCT user_id) skips it in both engines — the union
    # sketch must agree with its own exact arm) and a NULL event_type is
    # unroutable: it takes opposite ranks in the two engines' type
    # ordering (Spark NULLS FIRST, DuckDB NULLS LAST) and then silently
    # drops out of the equality joins, shifting every union prefix.
    hashed = (
        ev.filter(F.col("user_id").isNotNull() & F.col("event_type").isNotNull())
        .select("event_type", h.alias("h"))
        .distinct()
        .transform(_tp)
    )
    wt = Window.orderBy("event_type")
    ranks = (
        hashed.select("event_type")
        .distinct()
        .withColumn("rank", F.row_number().over(wt))
        # prefix bound derived from the data, not hardcoded: a new event
        # type must widen the prefixes on BOTH engines or fail loudly,
        # never silently diverge (sequence(rank, k) descends for rank>k).
        .withColumn("n_types", F.max("rank").over(Window.partitionBy()))
    )
    regs = (
        hashed.select(
            "event_type",
            F.expr(f"CAST(h div {1 << _HLL_REST_BITS} AS INT)").alias("bucket"),
            F.expr(
                f"CASE WHEN h % {1 << _HLL_REST_BITS} = 0 THEN {_HLL_REST_BITS + 1} "
                f"ELSE {_HLL_REST_BITS + 1} - length(bin(h % {1 << _HLL_REST_BITS})) END"
            ).alias("rho"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.max("rho").alias("reg"))
    )
    pref = (
        regs.join(F.broadcast(ranks), "event_type")
        .withColumn("prefix_k", F.explode(F.expr("sequence(rank, n_types)")))
        .groupBy("prefix_k", "bucket")
        .agg(F.max("reg").alias("reg"))
    )
    ind = pref.groupBy("prefix_k").agg(
        F.count(F.lit(1)).alias("n_present"),
        F.aggregate(
            F.expr(
                "transform(array_sort(collect_list(struct(bucket, reg))),"
                " t -> pow(2.0, -t.reg))"
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("present_sum"),
    )
    exact = (
        hashed.join(F.broadcast(ranks), "event_type")
        .withColumn("prefix_k", F.explode(F.expr("sequence(rank, n_types)")))
        .select("prefix_k", "h")
        .distinct()
        .groupBy("prefix_k")
        .agg(F.count(F.lit(1)).alias("n_exact"))
    )
    est = (
        F.lit(_HLL_ALPHA)
        * F.lit(float(_HLL_M * _HLL_M))
        / (F.col("present_sum") + (F.lit(_HLL_M) - F.col("n_present")).cast("double"))
    )
    return (
        exact.join(F.broadcast(ind), "prefix_k")
        .withColumn("est_hll", est)
        .withColumn(
            "rel_err",
            (F.col("est_hll") - F.col("n_exact").cast("double"))
            / F.col("n_exact").cast("double"),
        )
        .select(
            F.col("prefix_k").cast("int").alias("prefix_k"),
            "n_exact",
            "est_hll",
            "rel_err",
        )
    )


_HLL_UNION_SQL = f"""
WITH hashed AS (
  SELECT DISTINCT event_type,
         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
  FROM events
  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
),
ranks AS (
  SELECT event_type, ROW_NUMBER() OVER (ORDER BY event_type) AS rank
  FROM (SELECT DISTINCT event_type FROM hashed)
),
regs AS (
  SELECT event_type, CAST(h // {1 << _HLL_REST_BITS} AS INT) AS bucket,
         MAX(CASE WHEN h % {1 << _HLL_REST_BITS} = 0 THEN {_HLL_REST_BITS + 1}
                  ELSE {_HLL_REST_BITS + 1} - length(bin(h % {1 << _HLL_REST_BITS})) END)
           AS reg
  FROM hashed GROUP BY 1, 2
),
pref AS (
  SELECT CAST(p AS INT) AS prefix_k, bucket, MAX(reg) AS reg
  FROM regs JOIN ranks USING (event_type),
       unnest(range(rank, (SELECT MAX(rank) + 1 FROM ranks))) t(p)
  GROUP BY 1, 2
),
ind AS (
  SELECT prefix_k, COUNT(*) AS n_present,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                  list(pow(2.0, -reg) ORDER BY bucket)),
                     (acc, x) -> acc + x) AS present_sum
  FROM pref GROUP BY prefix_k
),
exact AS (
  SELECT prefix_k, COUNT(*) AS n_exact FROM (
    SELECT DISTINCT CAST(p AS INT) AS prefix_k, h
    FROM hashed JOIN ranks USING (event_type),
         unnest(range(rank, (SELECT MAX(rank) + 1 FROM ranks))) t(p)
  ) GROUP BY prefix_k
)
SELECT e.prefix_k, e.n_exact,
       CAST({_HLL_ALPHA!r} AS DOUBLE) * {float(_HLL_M * _HLL_M)!r}
         / (present_sum + CAST({_HLL_M} - n_present AS DOUBLE)) AS est_hll,
       (CAST({_HLL_ALPHA!r} AS DOUBLE) * {float(_HLL_M * _HLL_M)!r}
         / (present_sum + CAST({_HLL_M} - n_present AS DOUBLE))
        - CAST(e.n_exact AS DOUBLE)) / CAST(e.n_exact AS DOUBLE) AS rel_err
FROM exact e JOIN ind USING (prefix_k)
"""


# ------------------------------------------------------------ bloom filter
# Deterministic Bloom filter over purchase user_ids (k=3 md5-derived
# hashes into m=1024 bits, stored as 16 bigint words via bit_or
# aggregation), probed with every distinct user to measure the actual
# false-positive rate against ground truth. Completes the sketch family
# (KMV = cardinality, count-min = frequency, Bloom = membership); the
# filter build is a constant-size bit_or aggregate and the probe side
# joins against 16 broadcast words.

_BF_K = 3
_BF_M = 1024  # bits
# 63 usable bits per signed-64 word: bit 63 would overflow DuckDB's
# checked left shift (and silently wrap in Spark)
_BF_WORDS = -(-_BF_M // 63)
_BF_ABSENT_OFFSET = 1_000_000  # shadow probe ids guaranteed non-member


def _bf_bit(i: int, col: str = "user_id", dialect: str = "spark") -> str:
    """Bit index of hash i — same md5-derived integer in both dialects
    (Spark parses hex via conv(); DuckDB via the '0x' string cast)."""
    if dialect == "spark":
        return (
            f"CAST(conv(substr(md5(concat('b{i}:', CAST({col} AS STRING))), "
            f"1, 15), 16, 10) AS BIGINT) % {_BF_M}"
        )
    return (
        f"CAST(('0x' || substr(md5('b{i}:' || CAST({col} AS VARCHAR)), 1, 15)) "
        f"AS BIGINT) % {_BF_M}"
    )


def q_ev_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events")
    members = (
        ev.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    )
    # word w collects bit (b % 64) of every hash landing in word b div 64
    # (integer div — `/`+cast truncates in Spark but CAST(double) ROUNDS
    # in DuckDB, so both dialects use their integer-division operator)
    bits = members.select(
        *[F.expr(_bf_bit(i)).alias(f"b{i}") for i in range(_BF_K)]
    )
    for w in range(_BF_WORDS):
        ors = " | ".join(
            f"CASE WHEN CAST(b{i} div 63 AS INT) = {w} "
            f"THEN shiftleft(CAST(1 AS BIGINT), CAST(b{i} % 63 AS INT)) "
            f"ELSE CAST(0 AS BIGINT) END"
            for i in range(_BF_K)
        )
        bits = bits.withColumn(f"w{w}", F.expr(ors))
    filt = bits.agg(
        *[F.expr(f"bit_or(w{w})").alias(f"w{w}") for w in range(_BF_WORDS)]
    )
    # probe every real user plus an offset shadow set guaranteed absent,
    # so the false-positive rate is measured against true negatives
    real = ev.select("user_id").distinct()
    probes = real.union(
        real.select((F.col("user_id") + _BF_ABSENT_OFFSET).alias("user_id"))
    ).distinct()
    truth = members.withColumn("is_member", F.lit(True))
    probe_bits = probes.join(F.broadcast(filt)).select(
        "user_id",
        *[F.col(f"w{w}") for w in range(_BF_WORDS)],
        *[F.expr(_bf_bit(i)).alias(f"b{i}") for i in range(_BF_K)],
    )
    maybe = None
    for i in range(_BF_K):
        w_expr = " ".join(
            f"WHEN CAST(b{i} div 63 AS INT) = {w} THEN w{w}"
            for w in range(_BF_WORDS)
        )
        t = F.expr(
            f"(shiftright(CASE {w_expr} END, CAST(b{i} % 63 AS INT)) & 1) = 1"
        )
        maybe = t if maybe is None else (maybe & t)
    verdicts = probe_bits.withColumn("maybe", maybe).join(
        F.broadcast(truth), "user_id", "left"
    ).select(
        "user_id",
        "maybe",
        F.coalesce("is_member", F.lit(False)).alias("is_member"),
    )
    return verdicts.agg(
        F.count(F.lit(1)).alias("n_probes"),
        F.sum(F.when(F.col("is_member"), 1).otherwise(0)).cast("bigint").alias("n_members"),
        F.sum(F.when(F.col("maybe") & ~F.col("is_member"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_false_positives"),
        F.sum(F.when(~F.col("maybe") & F.col("is_member"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_false_negatives"),
    )


def _bloom_sql() -> str:
    bit_cols = ", ".join(
        f"{_bf_bit(i, dialect='duckdb')} AS b{i}" for i in range(_BF_K)
    )
    word_exprs = ", ".join(
        "bit_or(" + " | ".join(
            f"CASE WHEN CAST(b{i} // 63 AS INT) = {w} "
            f"THEN (CAST(1 AS BIGINT) << CAST(b{i} % 63 AS INT)) "
            f"ELSE CAST(0 AS BIGINT) END"
            for i in range(_BF_K)
        ) + f") AS w{w}"
        for w in range(_BF_WORDS)
    )
    tests = " AND ".join(
        "((CASE "
        + " ".join(f"WHEN CAST(b{i} // 63 AS INT) = {w} THEN w{w}" for w in range(_BF_WORDS))
        + f" END >> CAST(b{i} % 63 AS INT)) & 1) = 1"
        for i in range(_BF_K)
    )
    return f"""
WITH members AS (
  SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
),
mbits AS (SELECT user_id, {bit_cols} FROM members),
filt AS (SELECT {word_exprs} FROM mbits),
probes AS (
  SELECT DISTINCT user_id FROM (
    SELECT user_id FROM events
    UNION ALL
    SELECT user_id + {_BF_ABSENT_OFFSET} FROM events
  )
),
pbits AS (SELECT user_id, {bit_cols} FROM probes),
verdicts AS (
  SELECT p.user_id, ({tests}) AS maybe,
         (m.user_id IS NOT NULL) AS is_member
  FROM pbits p CROSS JOIN filt
  LEFT JOIN members m ON m.user_id = p.user_id
)
SELECT COUNT(*) AS n_probes,
       CAST(SUM(CASE WHEN is_member THEN 1 ELSE 0 END) AS BIGINT) AS n_members,
       CAST(SUM(CASE WHEN maybe AND NOT is_member THEN 1 ELSE 0 END) AS BIGINT)
         AS n_false_positives,
       CAST(SUM(CASE WHEN NOT maybe AND is_member THEN 1 ELSE 0 END) AS BIGINT)
         AS n_false_negatives
FROM verdicts
"""


# ---------------------------------------------------------------- pagerank
# PageRank over the event-type transition graph (3 power iterations,
# damping 0.85): the iterative-graph-algorithm pattern on Spark. The heavy
# work at scale is building the edge list — one window over (user_id, ts)
# and one aggregate; the rank loop itself runs on the tiny node/edge
# tables (joins on a broadcast-sized side), each iteration a new Catalyst
# plan built in the driver — no corpus data ever leaves the cluster.
# Determinism: transition probabilities are single IEEE divisions of exact
# counts; each iteration's per-node contribution sum is a sequential fold
# in src order (decimal rounding of full-precision doubles would sit at
# the ulp boundary where engines disagree), so both engines walk
# bit-identical rank vectors.

_PR_DAMP = 0.85
_PR_ITERS = 3


def q_ev_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    )
    edges = (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy(F.col("prev_type").alias("src"), F.col("event_type").alias("dst"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    out = edges.groupBy("src").agg(F.sum("cnt").alias("out_cnt"))
    # edges/probabilities feed every iteration — persist the tiny table
    p = (
        edges.join(out, "src")
        .select("src", "dst", (F.col("cnt").cast("double") / F.col("out_cnt")).alias("p"))
        .transform(_tp)
    )
    nodes = ev.select(F.col("event_type").alias("node")).distinct()
    n = nodes.agg(F.count(F.lit(1)).alias("n_nodes"))
    base = nodes.join(n)  # single-row cross join: N reaches every node row
    ranks = base.select("node", (F.lit(1.0) / F.col("n_nodes")).alias("r"))
    for _ in range(_PR_ITERS):
        # every per-iteration table is node-cardinality (tiny): broadcast
        # them so the rank loop never sorts or shuffles
        contrib = p.join(
            F.broadcast(ranks.select(F.col("node").alias("src"), "r")), "src"
        ).select("dst", "src", (F.col("r") * F.col("p")).alias("c"))
        agg = contrib.groupBy("dst").agg(
            F.aggregate(
                F.expr("transform(array_sort(collect_list(struct(src, c))), t -> t.c)"),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("s")
        )
        ranks = base.join(F.broadcast(agg), base["node"] == agg["dst"], "left").select(
            "node",
            (
                (F.lit(1.0) - F.lit(_PR_DAMP)) / F.col("n_nodes")
                + F.lit(_PR_DAMP) * F.coalesce(F.col("s"), F.lit(0.0))
            ).alias("r"),
        )
    return ranks.select("node", F.col("r").alias("pagerank"))


def _pagerank_sql() -> str:
    it = """
SELECT node,
       (CAST(1.0 AS DOUBLE) - CAST({d} AS DOUBLE)) / n_nodes
         + CAST({d} AS DOUBLE) * COALESCE(s, CAST(0.0 AS DOUBLE)) AS r
FROM nodes CROSS JOIN n LEFT JOIN (
  SELECT dst, list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                       list(c ORDER BY src)),
                          (acc, x) -> acc + x) AS s
  FROM (SELECT dst, src, r * p AS c
        FROM p JOIN {prev} ON {prev}.node = p.src)
  GROUP BY dst
) agg ON agg.dst = nodes.node"""
    ctes = ",\n".join(
        f"r{i + 1} AS ({it.format(d=_PR_DAMP, prev=f'r{i}')})"
        for i in range(_PR_ITERS)
    )
    return f"""
WITH seq AS (
  SELECT event_type,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type
  FROM events
),
edges AS (
  SELECT prev_type AS src, event_type AS dst, COUNT(*) AS cnt
  FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
),
outd AS (SELECT src, SUM(cnt) AS out_cnt FROM edges GROUP BY src),
p AS (SELECT src, dst, CAST(cnt AS DOUBLE) / out_cnt AS p
      FROM edges JOIN outd USING (src)),
nodes AS (SELECT DISTINCT event_type AS node FROM events),
n AS (SELECT COUNT(*) AS n_nodes FROM nodes),
r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / n_nodes AS r
       FROM nodes CROSS JOIN n),
{ctes}
SELECT node, r AS pagerank FROM r{_PR_ITERS}
"""


# --------------------------------------------------- incremental rollup
# Incremental aggregate maintenance: the materialized-rollup pattern
# where yesterday's aggregate TABLE merges with today's delta instead of
# rescanning history. The daily (day, event_type) states — count,
# decimal sum, min, max — are all MERGEABLE (count/sum add, min/max
# combine), so base ∪ delta → re-aggregate equals the from-scratch
# answer; the oracle computes FROM SCRATCH over all events, making the
# hash-match a proof of merge correctness. The cutoff (last 6 epoch-days
# = the delta) stands in for the daily incremental batch.
#
# Scale: this is the map-side-combine algebra made explicit — at 100 TB
# the base states are |days|·|types| rows read from storage, and only
# the delta scans raw events. Both sides here aggregate BEFORE the
# union, so the merge shuffles state rows, never raw history.

_INC_DELTA_DAYS = 6


def q_ev_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events").withColumn(
        "day", F.expr("unix_micros(ts) div 86400000000")
    )
    cutoff = ev.agg((F.max("day") - _INC_DELTA_DAYS + 1).alias("c"))

    def states(side: DataFrame, tag: int) -> DataFrame:
        return side.groupBy("day", "event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec("value", 2)).alias("s"),
            F.min("value").alias("mn"),
            F.max("value").alias("mx"),
            F.lit(tag).alias("is_delta"),
        )

    base = states(ev.join(F.broadcast(cutoff), ev.day < F.col("c")), 0)
    delta = states(ev.join(F.broadcast(cutoff), ev.day >= F.col("c")), 1)
    return (
        base.unionByName(delta)
        .groupBy("day", "event_type")
        .agg(
            F.sum("n").cast("bigint").alias("n_events"),
            F.sum("s").cast("double").alias("sum_value"),
            F.min("mn").alias("min_value"),
            F.max("mx").alias("max_value"),
            F.sum(F.col("is_delta") * F.col("n")).cast("bigint")
            .alias("n_delta"),
        )
    )


_INC_AGG_SQL = f"""
WITH ev AS (
  SELECT epoch_us(ts::TIMESTAMP) // 86400000000 AS day, event_type, value
  FROM events
),
c AS (SELECT MAX(day) - {_INC_DELTA_DAYS} + 1 AS c FROM ev)
SELECT day, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       {sql_dsum('value', 2)} AS sum_value,
       MIN(value) AS min_value, MAX(value) AS max_value,
       CAST(SUM(CASE WHEN day >= (SELECT c FROM c) THEN 1 ELSE 0 END)
            AS BIGINT) AS n_delta
FROM ev GROUP BY day, event_type
"""

# ---------------------------------------------------------------- gini
# Activity concentration: the exact Gini coefficient of per-user event
# counts, G = (2·Σ i·xᵢ)/(n·Σxᵢ) − (n+1)/n over counts ranked
# ascending (ties pinned by user_id) — the one-number answer to "is
# this product used by everyone or by ten whales?", and the
# concentration diagnosis behind sampling and skew decisions. All
# integer until two final divisions.
#
# Scale: per-user aggregate, then the rank-weighted sum is computed
# from the HISTOGRAM of per-user counts, never from per-user ranks:
# within a tie group of value v and size c the ranks form an arithmetic
# series whatever the user_id tiebreak, so
#   Σ i·x over the group = v·(c·B + c·(c+1)/2),  B = #users with count < v.
# The only window runs over the distinct-count histogram (bounded by
# the max per-user activity — ~1e5 rows at 1e9 users, the
# q_skyline_customers distinct-values shape), so no corpus-proportional
# table ever funnels through one task. wsum is the identical integer
# the per-user ROW_NUMBER formulation yields (the oracle keeps that
# form). Output is one row. BIGINT bound: wsum ≤ n_users·total_events,
# safe while that product stays under 2^63 (~1e9 users × 1e9 events);
# beyond that switch wsum and the denominator to DECIMAL(38,0) — the
# q_ev_bot_detect escalation rule.


def q_ev_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events")
    per = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("x"))
    hist = per.groupBy("x").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    wb = (
        Window.orderBy("x")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.withColumn("b", F.sum("c").over(wb) - F.col("c"))
    return cum.agg(
        F.sum("c").alias("n_users"),
        F.sum(F.col("x") * F.col("c")).cast("bigint").alias("total_events"),
        F.sum(
            F.col("x")
            * (F.col("c") * F.col("b") + F.expr("(c * (c + 1)) div 2"))
        ).cast("bigint").alias("wsum"),
    ).select(
        "n_users",
        "total_events",
        (
            F.expr("CAST(2 * wsum AS DOUBLE) / (n_users * total_events)")
            - F.expr("CAST(n_users + 1 AS DOUBLE) / n_users")
        ).alias("gini"),
    )


_GINI_SQL = """
WITH per AS (SELECT user_id, COUNT(*) AS x FROM events GROUP BY user_id),
ranked AS (
  SELECT x, CAST(ROW_NUMBER() OVER (ORDER BY x, user_id) AS BIGINT) AS i
  FROM per
),
agg AS (
  SELECT COUNT(*) AS n_users, CAST(SUM(x) AS BIGINT) AS total_events,
         CAST(SUM(i * x) AS BIGINT) AS wsum
  FROM ranked
)
SELECT n_users, total_events,
       CAST(2 * wsum AS DOUBLE) / (n_users * total_events)
         - CAST(n_users + 1 AS DOUBLE) / n_users AS gini
FROM agg
"""

# ------------------------------------------------------------ key skew
# Shuffle-key skew audit: for each candidate partitioning key, hash rows
# onto a fixed 32-slot grid (md5-derived, engine-independent — this
# audits the KEY DISTRIBUTION, not any engine's internal hash) and
# report per-key imbalance: slots used, max/min slot load, the
# imbalance factor max·slots/total (1.0 = perfectly even), and the
# share of rows on the single hottest raw key. The diagnosis a pipeline
# runs before picking join/agg keys at scale — an imbalance factor of k
# means the slowest reducer does k× the average work.
#
# Scale: one aggregate per candidate key over derived (key, slot)
# columns; output is |candidates| rows.

_SKEW_SLOTS = 32


def q_ev_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events")

    def audit(col: str) -> DataFrame:
        h = F.conv(
            F.substring(F.md5(F.col(col).cast("string")), 1, 15), 16, 10
        ).cast("bigint")
        slots = (
            ev.select((h % _SKEW_SLOTS).alias("slot"))
            .groupBy("slot")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        keys = (
            ev.groupBy(F.col(col).alias("k"))
            .agg(F.count(F.lit(1)).alias("kn"))
            .agg(
                F.count(F.lit(1)).alias("n_keys"),
                F.max("kn").alias("hottest_key_rows"),
            )
        )
        return (
            slots.agg(
                F.count(F.lit(1)).alias("slots_used"),
                F.sum("n").cast("bigint").alias("total_rows"),
                F.max("n").alias("max_slot"),
                F.min("n").alias("min_slot"),
            )
            .join(keys)
            .select(
                F.lit(col).alias("key_name"),
                "n_keys", "total_rows", "slots_used", "max_slot", "min_slot",
                "hottest_key_rows",
                (
                    (F.col("max_slot") * _SKEW_SLOTS).cast("double")
                    / F.col("total_rows")
                ).alias("imbalance"),
                (
                    F.col("hottest_key_rows").cast("double")
                    / F.col("total_rows")
                ).alias("hottest_share"),
            )
        )

    return audit("user_id").unionByName(audit("event_type"))


def _key_skew_sql() -> str:
    def one(col: str) -> str:
        h = f"CAST(('0x' || substr(md5(CAST({col} AS VARCHAR)), 1, 15)) AS BIGINT)"
        return f"""
SELECT '{col}' AS key_name,
       (SELECT COUNT(*) FROM (SELECT {col} FROM events GROUP BY {col}))
         AS n_keys,
       CAST(SUM(n) AS BIGINT) AS total_rows,
       COUNT(*) AS slots_used,
       MAX(n) AS max_slot, MIN(n) AS min_slot,
       (SELECT MAX(kn) FROM (SELECT COUNT(*) AS kn FROM events
                             GROUP BY {col})) AS hottest_key_rows,
       CAST(MAX(n) * {_SKEW_SLOTS} AS DOUBLE) / SUM(n) AS imbalance,
       CAST((SELECT MAX(kn) FROM (SELECT COUNT(*) AS kn FROM events
                                  GROUP BY {col})) AS DOUBLE) / SUM(n)
         AS hottest_share
FROM (SELECT {h} % {_SKEW_SLOTS} AS slot, COUNT(*) AS n
      FROM events GROUP BY 1)
"""

    return one("user_id") + " UNION ALL " + one("event_type")


# ------------------------------------------------------------- bot detect
# Automation / bot-traffic detection from inter-arrival timing: real user
# gaps are exponential-ish (CV² ≈ 1), schedulers are metronomic (CV² → 0)
# and scrapers are fast (small mean gap). Per user: exact integer moments
# of the second-floored gaps (s1 = Σg, s2 = Σg²), the squared coefficient
# of variation quantized to a 1e4 grid via INTEGER floor division
# (CV² = (n·s2 − s1²)/s1² — no doubles anywhere, so both engines agree
# bit-for-bit), the count of exact-minute gaps (cron signature), and two
# calibrated flags. Thresholds are data-calibrated demonstrations (the
# synthetic corpus has no true metronomes); the operator's contract is
# the exact feature columns.
#
# Scale: one lag window + one aggregate per user — the same two-shuffle
# shape as sessionize. The BIGINT moment arithmetic holds to ~1e6 events
# per user (n·s2·1e4 < 9.2e18 for second-scale gaps); beyond that switch
# s2 to DECIMAL(38,0) — noted, not needed at any test sf.

_BOT_MIN_GAPS = 20


def q_ev_bot_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events")
    g = ev.select(
        "user_id",
        F.expr(
            "(unix_micros(ts) - lag(unix_micros(ts)) over "
            "(partition by user_id order by ts, event_id)) div 1000000"
        ).alias("gap_s"),
    ).where(F.col("gap_s").isNotNull())
    per = g.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.sum("gap_s").cast("bigint").alias("s1"),
        F.sum(F.col("gap_s") * F.col("gap_s")).cast("bigint").alias("s2"),
        F.min("gap_s").alias("min_gap_s"),
        F.max("gap_s").alias("max_gap_s"),
        F.sum(
            F.when((F.col("gap_s") > 0) & (F.col("gap_s") % 60 == 0), 1)
            .otherwise(0)
        ).cast("bigint").alias("n_mod60"),
    ).where(F.col("n_gaps") >= _BOT_MIN_GAPS)
    feat = per.select(
        "user_id", "n_gaps", "s1", "s2", "min_gap_s", "max_gap_s", "n_mod60",
        F.expr("s1 div n_gaps").alias("mean_gap_s"),
        F.expr("((n_gaps * s2 - s1 * s1) * 10000) div (s1 * s1)")
        .alias("cv2_q4"),
    )
    return feat.select(
        "*",
        (F.col("cv2_q4") < 6500).alias("is_regular"),
        (F.col("mean_gap_s") < 40000).alias("is_high_rate"),
        (
            (F.col("cv2_q4") < 6500).cast("int")
            + (F.col("mean_gap_s") < 40000).cast("int")
        ).alias("suspicion"),
    )


_BOT_SQL = f"""
WITH g AS (
  SELECT user_id,
         (epoch_us(ts::TIMESTAMP)
          - LAG(epoch_us(ts::TIMESTAMP))
              OVER (PARTITION BY user_id ORDER BY ts, event_id)) // 1000000
           AS gap_s
  FROM events
),
per AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_gaps,
         CAST(SUM(gap_s) AS BIGINT) AS s1,
         CAST(SUM(gap_s * gap_s) AS BIGINT) AS s2,
         MIN(gap_s) AS min_gap_s, MAX(gap_s) AS max_gap_s,
         CAST(SUM(CASE WHEN gap_s > 0 AND gap_s % 60 = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_mod60
  FROM g WHERE gap_s IS NOT NULL GROUP BY user_id
),
feat AS (
  SELECT user_id, n_gaps, s1, s2, min_gap_s, max_gap_s, n_mod60,
         s1 // n_gaps AS mean_gap_s,
         ((n_gaps * s2 - s1 * s1) * 10000) // (s1 * s1) AS cv2_q4
  FROM per WHERE n_gaps >= {_BOT_MIN_GAPS}
)
SELECT user_id, n_gaps, s1, s2, min_gap_s, max_gap_s, n_mod60, mean_gap_s,
       cv2_q4,
       cv2_q4 < 6500 AS is_regular,
       mean_gap_s < 40000 AS is_high_rate,
       CAST(cv2_q4 < 6500 AS INT) + CAST(mean_gap_s < 40000 AS INT)
         AS suspicion
FROM feat
"""

# ------------------------------------------------------------------- LTV
# Cohort lifetime-value curves: users cohorted by the epoch-week of their
# first event; revenue accumulated per (cohort, weeks-since-first) cell
# and normalized per cohort user — the standard LTV panel behind payback
# forecasting. Revenue sums are decimal-exact (dsum) and the cumulative
# sum is a decimal window aggregate, so only the final per-user division
# is IEEE. Scale: one per-user aggregate, one co-partitioned user_id
# join, one (cohort, week) aggregate over a tiny cell table; the cumsum
# window runs per cohort over ≤ a few hundred offsets.


def q_ev_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    _WK = 7 * 24 * 3600 * 1_000_000
    ev = T(spark, sf_dir, "events")
    first = ev.groupBy("user_id").agg(
        F.expr(f"min(unix_micros(ts)) div {_WK}").alias("cohort_week")
    )
    sizes = first.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("cohort_users")
    )
    cells = (
        ev.join(first, "user_id")
        .select(
            "cohort_week",
            (F.expr(f"unix_micros(ts) div {_WK}") - F.col("cohort_week"))
            .alias("week_offset"),
            "value",
            "user_id",
        )
        .groupBy("cohort_week", "week_offset")
        .agg(
            F.count_distinct("user_id").alias("active_users"),
            # keep the sum DECIMAL through the cumulative window: window
            # sums are segment-tree-ordered in DuckDB vs frame-ordered in
            # Spark, which diverges on doubles but never on decimals
            F.sum(dec("value", 2)).alias("rev_d"),
        )
    )
    wc = (
        Window.partitionBy("cohort_week")
        .orderBy("week_offset")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        cells.join(sizes, "cohort_week")
        .select(
            "cohort_week", "week_offset", "cohort_users", "active_users",
            F.col("rev_d").cast("double").alias("revenue"),
            F.sum("rev_d").over(wc).cast("double").alias("cum_revenue"),
            (
                F.sum("rev_d").over(wc).cast("double")
                / F.col("cohort_users")
            ).alias("ltv_per_user"),
        )
    )


_LTV_SQL = f"""
WITH first AS (
  SELECT user_id,
         MIN(epoch_us(ts::TIMESTAMP)) // {7 * 24 * 3600 * 1_000_000}
           AS cohort_week
  FROM events GROUP BY user_id
),
sizes AS (
  SELECT cohort_week, COUNT(*) AS cohort_users FROM first GROUP BY 1
),
cells AS (
  SELECT f.cohort_week,
         epoch_us(e.ts::TIMESTAMP) // {7 * 24 * 3600 * 1_000_000}
           - f.cohort_week AS week_offset,
         COUNT(DISTINCT e.user_id) AS active_users,
         SUM(CAST(e.value AS DECIMAL(18,2))) AS rev_d
  FROM events e JOIN first f USING (user_id)
  GROUP BY 1, 2
)
SELECT c.cohort_week, c.week_offset, s.cohort_users, c.active_users,
       CAST(c.rev_d AS DOUBLE) AS revenue,
       CAST(SUM(c.rev_d) OVER (PARTITION BY c.cohort_week
                               ORDER BY c.week_offset
                               ROWS UNBOUNDED PRECEDING) AS DOUBLE)
         AS cum_revenue,
       CAST(SUM(c.rev_d) OVER (PARTITION BY c.cohort_week
                               ORDER BY c.week_offset
                               ROWS UNBOUNDED PRECEDING) AS DOUBLE)
         / s.cohort_users AS ltv_per_user
FROM cells c JOIN sizes s USING (cohort_week)
"""


# ---------------------------------------------------------------- SCD2
# Slowly-Changing-Dimension Type-2 history build: compress each user's
# event-type sequence into versioned validity intervals
# [valid_from_us, valid_to_us) — the dimension-maintenance op every
# warehouse runs to turn a change stream into a point-in-time joinable
# history (Kimball SCD2). Change points via lag(); version numbers via a
# running sum of change flags; valid_to via lead() (NULL = current
# version). Output is the interval table for a deterministic 1-in-7 user
# slice (full table at sf0.1 would dominate the compare, not the logic).
#
# Scale shape: two windows over the same (user_id, time) partitioning —
# one shuffle total, no joins; the run-compression output is strictly
# smaller than the input. All integer micros arithmetic.

_SCD2_MOD = 7


def q_ev_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events").filter(F.col("user_id") % _SCD2_MOD == 0)
    w = Window.partitionBy("user_id").orderBy("t_us", "event_id")
    seq = ev.select(
        "user_id", "event_id", "event_type", F.unix_micros("ts").alias("t_us")
    ).withColumn(
        "chg",
        F.when(
            F.lag("event_type").over(w).isNull()
            | (F.lag("event_type").over(w) != F.col("event_type")),
            1,
        ).otherwise(0),
    )
    runs = (
        seq.withColumn(
            "version",
            F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, 0))
            .cast("bigint"),
        )
        .groupBy("user_id", "version")
        .agg(
            # all rows in a run share one type; MIN == that type (and
            # matches the oracle's aggregate exactly)
            F.min("event_type").alias("state"),
            F.min("t_us").alias("valid_from_us"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    wv = Window.partitionBy("user_id").orderBy("version")
    return runs.select(
        "user_id",
        "version",
        "state",
        "valid_from_us",
        F.lead("valid_from_us").over(wv).alias("valid_to_us"),
        "n_events",
        (F.lead("valid_from_us").over(wv) - F.col("valid_from_us"))
        .alias("dwell_us"),
    )


_SCD2_SQL = f"""
WITH seq AS (
  SELECT user_id, event_id, event_type, epoch_us(ts::TIMESTAMP) AS t_us,
         CASE WHEN LAG(event_type) OVER w IS NULL
                   OR LAG(event_type) OVER w <> event_type
              THEN 1 ELSE 0 END AS chg
  FROM events WHERE user_id % {_SCD2_MOD} = 0
  WINDOW w AS (PARTITION BY user_id ORDER BY t_us, event_id)
),
runs AS (
  SELECT user_id,
         CAST(SUM(chg) OVER (PARTITION BY user_id ORDER BY t_us, event_id
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS version,
         event_type, t_us
  FROM seq
),
grp AS (
  SELECT user_id, version, MIN(event_type) AS state,
         MIN(t_us) AS valid_from_us, COUNT(*) AS n_events
  FROM runs GROUP BY user_id, version
)
SELECT user_id, version, state, valid_from_us,
       LEAD(valid_from_us) OVER wv AS valid_to_us, n_events,
       LEAD(valid_from_us) OVER wv - valid_from_us AS dwell_us
FROM grp
WINDOW wv AS (PARTITION BY user_id ORDER BY version)
"""


# ------------------------------------------------------------- stickiness
# DAU / WAU(7) engagement stickiness per calendar day — the product
# metric every event pipeline reports. The trailing-7-day distinct-user
# count is computed WITHOUT per-day distinct scans: each distinct
# (user, day) pair supports the 7 days [d, d+6], so one bounded ×7
# explode of the user-day table followed by a pair-dedup groupBy yields
# every window count in a single pass. Day grid is gap-filled (a day with
# no events still has a WAU from its trailing week). Scale shape: the
# user-day table is ≪ events; everything after is bounded by |users|·days.


def q_ev_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events")
    ud = (
        ev.select(
            F.expr("unix_micros(ts) div 86400000000").alias("d"), "user_id"
        )
        .distinct()
        .transform(_tp)
    )
    dau = ud.groupBy("d").agg(F.count(F.lit(1)).cast("bigint").alias("dau"))
    bounds = ud.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    wau = (
        ud.select(
            F.explode(F.expr("sequence(d, d + 6)")).alias("sd"), "user_id"
        )
        .distinct()
        .groupBy("sd")
        .agg(F.count(F.lit(1)).cast("bigint").alias("wau7"))
    )
    grid = bounds.select(F.explode(F.expr("sequence(d0, d1)")).alias("sd"))
    return (
        grid.join(wau, "sd", "left")
        .join(dau.withColumnRenamed("d", "sd"), "sd", "left")
        .select(
            F.timestamp_micros(F.expr("sd * 86400000000")).alias("day"),
            F.coalesce("dau", F.lit(0)).cast("bigint").alias("dau"),
            F.coalesce("wau7", F.lit(0)).cast("bigint").alias("wau7"),
            # wau7 = 0 (a fully idle trailing week) must yield 0.0, not
            # engine-divergent 0/0 (Spark NaN vs DuckDB NULL)
            F.when(
                F.coalesce("wau7", F.lit(0)) == 0, F.lit(0.0)
            ).otherwise(
                F.coalesce("dau", F.lit(0)).cast("double")
                / F.col("wau7").cast("double")
            ).alias("stickiness"),
        )
    )


_STICKINESS_SQL = """
WITH ud AS (
  SELECT DISTINCT epoch_us(ts::TIMESTAMP) // 86400000000 AS d, user_id
  FROM events
),
dau AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS dau FROM ud GROUP BY 1),
bounds AS (SELECT MIN(d) AS d0, MAX(d) AS d1 FROM ud),
sup AS (
  SELECT DISTINCT d + t.i AS sd, user_id
  FROM ud, unnest(range(0, 7)) t(i)
),
wau AS (SELECT sd, CAST(COUNT(*) AS BIGINT) AS wau7 FROM sup GROUP BY 1),
grid AS (SELECT t.i AS sd FROM bounds, unnest(range(d0, d1 + 1)) t(i))
SELECT make_timestamp(sd * 86400000000) AS day,
       COALESCE(dau.dau, 0) AS dau,
       COALESCE(wau.wau7, 0) AS wau7,
       CASE WHEN COALESCE(wau.wau7, 0) = 0 THEN CAST(0 AS DOUBLE)
            ELSE CAST(COALESCE(dau.dau, 0) AS DOUBLE)
                   / CAST(wau.wau7 AS DOUBLE)
       END AS stickiness
FROM grid LEFT JOIN wau USING (sd) LEFT JOIN dau ON dau.d = grid.sd
"""


# ----------------------------------------------------------- GDPR erasure
# Right-to-be-forgotten compliance audit: a deterministic ~25% erasure
# cohort (user hash % 4 == 0 — large enough that even the 15-user
# smallest-sf table has members — standing in for the request queue) is
# materialized as a distinct-user cohort frame and anti-joined out of
# the event log; the report carries what an auditor checks: rows
# before/after per event type, rows erased (semi-join), the bit_xor
# checksum of SURVIVING event ids (the tombstone-ledger fingerprint),
# and the residual count of surviving rows still in the cohort —
# computed by a second semi-join over the anti-join's OUTPUT, so a
# broken erasure path reports compliant = 0 instead of being true by
# construction. Scale shape: the cohort frame broadcasts (requests are
# ≪ corpus); one anti-join + two semi-joins on the natural key; nothing
# driver-side.

_GDPR_MOD = 4


def q_ev_gdpr_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events").select(
        "event_id", "event_type", "user_id"
    ).transform(_tp)  # feeds before-counts, erasure, survivors, residual
    # the cohort as a distinct-user FRAME (the request-queue table), so
    # erasure and the residual check run through real join machinery
    # rather than re-evaluating a predicate inline
    cohort = (
        ev.select("user_id")
        .distinct()
        .filter(
            F.expr(
                "CAST(conv(substr(md5(concat('gdpr:', CAST(user_id AS"
                f" STRING))), 1, 15), 16, 10) AS BIGINT) % {_GDPR_MOD} = 0"
            )
        )
    )
    before = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_before")
    )
    erased = (
        ev.join(F.broadcast(cohort), "user_id", "left_semi")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_erased"))
    )
    survivors = ev.join(
        F.broadcast(cohort), "user_id", "left_anti"
    ).transform(_tp)
    after = survivors.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_after"),
        F.bit_xor("event_id").cast("bigint").alias("survivor_xor"),
    )
    # residual: an INDEPENDENT semi-join of the surviving rows back
    # against the cohort — 0 only if the anti-join actually erased
    residual = (
        survivors.join(F.broadcast(cohort), "user_id", "left_semi")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_residual"))
    )
    return (
        before.join(erased, "event_type", "left")
        .join(after, "event_type")
        .join(residual, "event_type", "left")
        .select(
            "event_type",
            "n_before",
            F.coalesce("n_erased", F.lit(0)).cast("bigint").alias("n_erased"),
            "n_after",
            "survivor_xor",
            F.coalesce("n_residual", F.lit(0)).cast("bigint")
            .alias("n_residual"),
            F.when(
                (F.coalesce("n_residual", F.lit(0)) == 0)
                & (
                    F.col("n_before")
                    == F.coalesce("n_erased", F.lit(0)) + F.col("n_after")
                ),
                1,
            ).otherwise(0).alias("compliant"),
        )
    )


_GDPR_SQL = f"""
WITH cohort AS (
  SELECT DISTINCT user_id FROM events
  WHERE CAST(('0x' || substr(md5('gdpr:' || CAST(user_id AS VARCHAR)),
              1, 15)) AS BIGINT) % {_GDPR_MOD} = 0
),
before AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_before
  FROM events GROUP BY 1
),
erased AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_erased
  FROM events e WHERE EXISTS (SELECT 1 FROM cohort c
                              WHERE c.user_id = e.user_id)
  GROUP BY 1
),
survivors AS (
  SELECT event_id, event_type, user_id FROM events e
  WHERE NOT EXISTS (SELECT 1 FROM cohort c WHERE c.user_id = e.user_id)
),
after AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_after,
         CAST(bit_xor(event_id) AS BIGINT) AS survivor_xor
  FROM survivors GROUP BY 1
),
residual AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_residual
  FROM survivors s WHERE EXISTS (SELECT 1 FROM cohort c
                                 WHERE c.user_id = s.user_id)
  GROUP BY 1
)
SELECT b.event_type, b.n_before,
       COALESCE(e.n_erased, 0) AS n_erased,
       a.n_after, a.survivor_xor,
       COALESCE(r.n_residual, 0) AS n_residual,
       CASE WHEN COALESCE(r.n_residual, 0) = 0
                 AND b.n_before = COALESCE(e.n_erased, 0) + a.n_after
            THEN 1 ELSE 0 END AS compliant
FROM before b
LEFT JOIN erased e USING (event_type)
JOIN after a USING (event_type)
LEFT JOIN residual r USING (event_type)
"""




# --------------------------------------------------------- k-anonymity
# k-anonymity release audit (Sweeney 2002): if events were released with
# the quasi-identifier tuple (event_type, day, hour) — the columns a
# "safe" export typically keeps — how identifiable are the rows?
# Equivalence classes are the QI groups; a row's k is its class size.
# Output: the k-histogram (unique / 2-4 / 5-9 / 10+) with class and row
# counts plus each band's share of released rows in integer basis
# points — the number a privacy review reads before approving an export.
# All integers, so the cross-engine hash is exact.
#
# Scale shape: ONE groupBy on the QI tuple (map-side combine), then a
# 4-row histogram; the totals join is a single-row cross join
# (annotated). At 100 TB the QI cardinality (types x days x 24) is tiny
# vs the corpus — the class table broadcasts anywhere.

# Shared scaffolding of the two release audits (k-anonymity below,
# l-diversity after it): QI equivalence classes over the
# (event_type, day, hour) tuple, a banded histogram over a per-class
# measure, the single-row totals cross join, and row shares in basis
# points — identical in both queries and BOTH dialects so the QI tuple
# and bp convention can never drift between the twins.


def _qi_classes(ev: DataFrame, *extra_aggs) -> DataFrame:
    return (
        ev.select(
            "event_type",
            F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
            .cast("bigint")
            .alias("day_idx"),
            F.hour("ts").cast("bigint").alias("hr"),
            "user_id",
        )
        .groupBy("event_type", "day_idx", "hr")
        .agg(F.count(F.lit(1)).cast("bigint").alias("k"), *extra_aggs)
    )


def _band_hist(classes: DataFrame, band: Column, band_name: str) -> DataFrame:
    hist = classes.select(band.alias(band_name), "k").groupBy(band_name).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_classes"),
        F.sum("k").cast("bigint").alias("n_rows"),
    )
    tot = hist.agg(F.sum("n_rows").cast("bigint").alias("n_total"))
    return hist.join(tot).select(
        band_name,
        "n_classes",
        "n_rows",
        F.expr("n_rows * 10000 div n_total").alias("rows_bp"),
    )


def _release_audit_sql(extra_cls: str, band_case: str, band_name: str) -> str:
    return f"""
WITH classes AS (
  SELECT event_type,
         CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT)
           AS day_idx,
         CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hr,
         CAST(COUNT(*) AS BIGINT) AS k{extra_cls}
  FROM events GROUP BY 1, 2, 3
),
hist AS (
  SELECT {band_case} AS {band_name},
         CAST(COUNT(*) AS BIGINT) AS n_classes,
         CAST(SUM(k) AS BIGINT) AS n_rows
  FROM classes GROUP BY 1
),
tot AS (SELECT CAST(SUM(n_rows) AS BIGINT) AS n_total FROM hist)
SELECT {band_name}, n_classes, n_rows, n_rows * 10000 // n_total AS rows_bp
FROM hist CROSS JOIN tot
"""


def q_ev_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    classes = _qi_classes(T(spark, sf_dir, "events"))
    band = F.when(F.col("k") == 1, "k=1").when(F.col("k") <= 4, "k=2-4").when(
        F.col("k") <= 9, "k=5-9"
    ).otherwise("k>=10")
    return _band_hist(classes, band, "k_band")


_K_ANONYMITY_SQL = _release_audit_sql(
    "",
    "CASE WHEN k = 1 THEN 'k=1' WHEN k <= 4 THEN 'k=2-4'\n"
    "              WHEN k <= 9 THEN 'k=5-9' ELSE 'k>=10' END",
    "k_band",
)


# --------------------------------------------------------- l-diversity
# l-diversity release audit (Machanavajjhala et al. 2007) — the
# k-anonymity companion: a QI class can be large (k-anonymous) yet still
# leak if every row shares the SAME sensitive value. Same QI tuple
# (event_type, day, hour); sensitive attribute = user_id; a class's l is
# its count of DISTINCT non-NULL users (NULL sensitive values are
# excluded, agreeing with COUNT(DISTINCT) in both engines — an all-NULL
# class lands in the l=0 band). Output: the l-histogram with class/row
# counts and each band's share of released rows in basis points.
#
# Scale shape: one groupBy on the QI tuple (the distinct-user count is a
# hash aggregate over (QI, user) then QI — two map-side-combinable
# shuffles of the small class table), a 5-row histogram, and the
# single-row totals cross join (annotated). Same 100 TB story as
# q_ev_k_anonymity: QI cardinality is types x days x 24.


def q_ev_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    classes = _qi_classes(
        T(spark, sf_dir, "events"),
        F.count_distinct("user_id").cast("bigint").alias("l"),
    )
    band = (
        F.when(F.col("l") == 0, "l=0")
        .when(F.col("l") == 1, "l=1")
        .when(F.col("l") <= 4, "l=2-4")
        .when(F.col("l") <= 9, "l=5-9")
        .otherwise("l>=10")
    )
    return _band_hist(classes, band, "l_band")


_L_DIVERSITY_SQL = _release_audit_sql(
    ",\n         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS l",
    "CASE WHEN l = 0 THEN 'l=0' WHEN l = 1 THEN 'l=1'\n"
    "              WHEN l <= 4 THEN 'l=2-4' WHEN l <= 9 THEN 'l=5-9'\n"
    "              ELSE 'l>=10' END",
    "l_band",
)
