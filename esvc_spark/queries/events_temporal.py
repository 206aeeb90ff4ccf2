"""Time-structured event analytics: tumbling/session windows,
event dedup, JSON props, funnels (+ latency), as-of / nearest-as-of /
range joins, attribution, path mining, cohorts, sliding windows,
watermark planning, and the Structured-Streaming queries (oracle-checked
bounded streams, incl. the idempotent ingest log).

Split from the original single events module (round 6) — see `events.py`
for the registry.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table as T
from ._util import dec, dsum, sql_dsum, tracked_persist as _tp
from .events_stats import _ANOM_SIGMA

# ---------------------------------------------------------------- tumbling
# 1-hour tumbling windows per event type: the canonical streaming aggregate
# (streaming equivalent: groupBy(window('ts','1 hour'), ...) + watermark).


def q_ev_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour").start.alias("window_start"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value", 2).alias("sum_value"),
            F.count_distinct("user_id").alias("n_users"),
        )
    )


_TUMBLING_SQL = f"""
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
       COUNT(*) AS n_events,
       {sql_dsum('value', 2)} AS sum_value,
       COUNT(DISTINCT user_id) AS n_users
FROM events
GROUP BY 1, 2
"""

# ---------------------------------------------------------------- sessions
# 30-minute-gap sessionization per user (batch session_window; streaming
# equivalent uses the same session_window with a watermark). Oracle:
# classic gaps-and-islands. Spark closes a session when the next event is
# >= gap after the previous one, matching the `>=` in the oracle.


def q_ev_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes"), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value", 2).alias("sum_value"),
            F.max("ts").alias("last_ts"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            "last_ts",
            "n_events",
            "sum_value",
        )
    )


_SESSION_SQL = f"""
WITH flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   >= INTERVAL '30 minutes' OR
                   LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
numbered AS (
  SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                   ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
)
SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS last_ts,
       COUNT(*) AS n_events, {sql_dsum('value', 2)} AS sum_value
FROM numbered
GROUP BY user_id, session_id
"""

# ---------------------------------------------------------------- dedup
# Exact event dedup by content (streaming equivalent: dropDuplicates
# within the watermark); deterministic representative = earliest
# (ts, event_id).


def q_ev_dedup_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", "event_type", "value")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min(F.struct("ts", "event_id")).getField("event_id").alias("first_event_id"),
        )
        .filter(F.col("n_copies") > 1)
    )


_DEDUP_SQL = """
SELECT user_id, event_type, value, COUNT(*) AS n_copies,
       MIN(ROW(ts, event_id))[2] AS first_event_id
FROM events
GROUP BY user_id, event_type, value
HAVING COUNT(*) > 1
"""

# ---------------------------------------------------------------- JSON
# Scalar JSON extraction from the props column.


def q_ev_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        ev.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            (F.sum("k").cast("double") / F.count("k")).alias("avg_k"),
            F.max("k").alias("max_k"),
        )
    )


_JSON_SQL = """
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS DOUBLE)
         / COUNT(CAST(props->>'$.k' AS BIGINT)) AS avg_k,
       MAX(CAST(props->>'$.k' AS BIGINT)) AS max_k
FROM events
GROUP BY event_type
"""

# ---------------------------------------------------------------- funnels
# Per-user first/last behavior via window functions over event time.


def q_ev_user_journey(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events")
    w_asc = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_full = w_asc.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        ev.select(
            "user_id",
            F.first("event_type").over(w_full).alias("first_type"),
            F.last("event_type").over(w_full).alias("last_type"),
            F.count(F.lit(1)).over(w_full).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).over(w_full)
            .cast("double")
            .alias("total_value"),
        )
        .distinct()
    )


_JOURNEY_SQL = """
SELECT DISTINCT user_id,
       FIRST_VALUE(event_type) OVER w AS first_type,
       LAST_VALUE(event_type) OVER w AS last_type,
       COUNT(*) OVER w AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS total_value
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


# ---------------------------------------------------------------- as-of join
# Attribution: each click joined to the user's most recent purchase at or
# before the click (esvc_spark.operators.temporal.asof_join — one shuffle
# + window, no inequality-join blowup). Oracle: DuckDB native ASOF JOIN.


def q_ev_asof_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.temporal import asof_join

    ev = T(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("purchase_value"))
    )
    return asof_join(
        clicks, purchases, on="ts", by=["user_id"], value_cols=["purchase_value"]
    )


_ASOF_SQL = """
WITH clicks AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
),
purch AS (
  SELECT user_id, ts AS pts, MAX(value) AS purchase_value
  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
)
SELECT event_id, clicks.user_id AS user_id, ts, purchase_value
FROM clicks ASOF LEFT JOIN purch
  ON clicks.user_id = purch.user_id AND clicks.ts >= purch.pts
"""

# ------------------------------------------------------------ nearest asof
# Nearest-direction as-of: each click matched to the CLOSEST purchase of
# the same user in either time direction (ties → backward), the variant
# sensor-fusion and attribution pipelines need when "most recent" is the
# wrong prior. operators.temporal.asof_nearest_join runs the asof union
# trick in both window directions — one shuffle, no inequality join; the
# oracle states the identical two-pass window algorithm (DuckDB's ASOF
# is backward-only, so the composition IS the reference semantics).


def q_ev_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.temporal import asof_nearest_join

    ev = T(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", F.unix_micros("ts").alias("t_us")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", F.unix_micros("ts").alias("t_us"), "value")
        .groupBy("user_id", "t_us")
        .agg(F.max("value").alias("purchase_value"))
    )
    out = asof_nearest_join(
        clicks,
        purchases,
        on="t_us",
        by=["user_id"],
        value_cols=["purchase_value"],
    )
    return out.select(
        "event_id", "user_id", "t_us", "purchase_value",
        F.col("matched_on").alias("purchase_t_us"),
        F.abs(F.col("t_us") - F.col("matched_on")).alias("gap_us"),
        "direction",
    )


_ASOF_NEAREST_SQL = """
WITH clicks AS (
  SELECT event_id, user_id, epoch_us(ts::TIMESTAMP) AS t_us
  FROM events WHERE event_type = 'click'
),
purch AS (
  SELECT user_id, epoch_us(ts::TIMESTAMP) AS t_us,
         MAX(value) AS purchase_value
  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
),
u AS (
  -- (ts, value) travel as ONE struct (null for left rows) so IGNORE
  -- NULLS can never mix the nearest row's ts with another row's value —
  -- mirrors the _rrow struct in operators.temporal.asof_nearest_join
  SELECT user_id, t_us, event_id,
         CAST(NULL AS STRUCT(rts BIGINT, pv DOUBLE)) AS rrow, 1 AS side
  FROM clicks
  UNION ALL
  SELECT user_id, t_us, CAST(NULL AS BIGINT),
         struct_pack(rts := t_us, pv := purchase_value), 0
  FROM purch
),
w AS (
  SELECT *,
         (LAST_VALUE(rrow IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY t_us, side
           ROWS UNBOUNDED PRECEDING)).pv AS b_v,
         (LAST_VALUE(rrow IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY t_us, side
           ROWS UNBOUNDED PRECEDING)).rts AS b_ts,
         (FIRST_VALUE(rrow IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY t_us, side DESC
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)).pv AS f_v,
         (FIRST_VALUE(rrow IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY t_us, side DESC
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)).rts AS f_ts
  FROM u
)
SELECT event_id, user_id, t_us,
       CASE WHEN f_ts IS NULL
                 OR (b_ts IS NOT NULL AND (t_us - b_ts) <= (f_ts - t_us))
            THEN b_v ELSE f_v END AS purchase_value,
       CASE WHEN f_ts IS NULL
                 OR (b_ts IS NOT NULL AND (t_us - b_ts) <= (f_ts - t_us))
            THEN b_ts ELSE f_ts END AS purchase_t_us,
       abs(t_us - CASE WHEN f_ts IS NULL
                            OR (b_ts IS NOT NULL
                                AND (t_us - b_ts) <= (f_ts - t_us))
                       THEN b_ts ELSE f_ts END) AS gap_us,
       CASE WHEN b_ts IS NULL AND f_ts IS NULL THEN NULL
            WHEN f_ts IS NULL
                 OR (b_ts IS NOT NULL AND (t_us - b_ts) <= (f_ts - t_us))
            THEN 'backward' ELSE 'forward' END AS direction
FROM w WHERE side = 1
"""

# ---------------------------------------------------------------- range join
# Click→purchase pairs of the same user within (1s, 5min]: bucketized
# equality join (operators.temporal.range_join) instead of the
# nested-loop plan a raw inequality join would get.


def q_ev_range_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.temporal import range_join

    ev = T(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    pairs = range_join(
        clicks, purchases, on="ts", by=["user_id"],
        lower_us=1_000_000, upper_us=300_000_000,
    )
    return pairs.select(
        "click_id",
        F.col("purchase_id_r").alias("purchase_id"),
        "user_id",
        F.col("_gap_us").alias("gap_us"),
    )


_RANGE_SQL = """
WITH c AS (SELECT event_id AS click_id, user_id, ts
           FROM events WHERE event_type = 'click'),
p AS (SELECT event_id AS purchase_id, user_id, ts
      FROM events WHERE event_type = 'purchase')
SELECT click_id, purchase_id, c.user_id AS user_id,
       epoch_us(p.ts::TIMESTAMP) - epoch_us(c.ts::TIMESTAMP) AS gap_us
FROM c JOIN p ON c.user_id = p.user_id
WHERE epoch_us(p.ts::TIMESTAMP) - epoch_us(c.ts::TIMESTAMP)
      BETWEEN 1000000 AND 300000000
"""


# ------------------------------------------------------------ attribution
# Multi-touch attribution with linear time decay: every click landing
# 1 s..300 s before a same-user purchase gets integer weight
# 301 - gap_seconds, normalized to a share of that purchase's credit —
# the marketing-analytics sibling of the funnel/as-of family. Exact
# integer weights + one IEEE division keep both engines bit-identical;
# the pair generation reuses the bucketized bounded range join (no
# inequality NLJ), and the normalization is one window sum over the
# (small) pair set.


def q_ev_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators.temporal import range_join

    ev = T(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    pairs = range_join(
        clicks, purchases, on="ts", by=["user_id"],
        lower_us=1_000_000, upper_us=300_000_000,
    ).select(
        "click_id",
        F.col("purchase_id_r").alias("purchase_id"),
        "user_id",
        F.expr("301 - _gap_us div 1000000").cast("bigint").alias("weight"),
    )
    total = Window.partitionBy("purchase_id")
    return pairs.select(
        "purchase_id",
        "click_id",
        "user_id",
        "weight",
        (
            F.col("weight").cast("double")
            / F.sum("weight").over(total).cast("double")
        ).alias("credit_share"),
    )


_ATTRIBUTION_SQL = """
WITH c AS (SELECT event_id AS click_id, user_id, ts
           FROM events WHERE event_type = 'click'),
p AS (SELECT event_id AS purchase_id, user_id, ts
      FROM events WHERE event_type = 'purchase'),
pairs AS (
  SELECT purchase_id, click_id, c.user_id AS user_id,
         CAST(301 - (epoch_us(p.ts::TIMESTAMP) - epoch_us(c.ts::TIMESTAMP))
                    // 1000000 AS BIGINT) AS weight
  FROM c JOIN p ON c.user_id = p.user_id
  WHERE epoch_us(p.ts::TIMESTAMP) - epoch_us(c.ts::TIMESTAMP)
        BETWEEN 1000000 AND 300000000
)
SELECT purchase_id, click_id, user_id, weight,
       CAST(weight AS DOUBLE)
         / CAST(SUM(weight) OVER (PARTITION BY purchase_id) AS DOUBLE)
         AS credit_share
FROM pairs
"""


# ---------------------------------------------------- streaming (oracle)
# The SAME tumbling aggregate executed through Structured Streaming: the
# events parquet is consumed as a file-stream source, aggregated with
# groupBy(window(...)) in complete output mode into a memory sink, and
# the sink table is returned. Complete-mode aggregation over a bounded
# stream is deterministic and equals the batch aggregate, so this is the
# rare streaming operator with a full value-level SQL oracle — driver-
# grade attestation that the streaming path computes the batch answer.
# (count_distinct is unsupported in streaming aggs, so the measure set is
# count + decimal sum.) At scale the same topology runs unbounded with a
# watermark (see esvc_spark.streaming.pipelines.tumbling_stream).

_STREAM_SEQ = [0]


from contextlib import contextmanager  # noqa: E402


@contextmanager
def _bounded_stream_confs(spark: SparkSession):
    """Cap state-store partitions while a bounded contract stream runs:
    every stateful streaming operator spawns shuffle.partitions state
    tasks per micro-batch, and a plain driver session defaults to 200 —
    pure task-scheduling latency on a one-batch bounded stream (measured
    ~2-4x of these queries' wall time). Restored afterwards so batch
    queries on the same session keep their own sizing; an unbounded
    production deployment sizes state partitions to key cardinality
    instead (see esvc_spark.streaming.pipelines)."""
    old = spark.conf.get("spark.sql.shuffle.partitions", None)
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset("spark.sql.shuffle.partitions")
        else:
            spark.conf.set("spark.sql.shuffle.partitions", old)


def _drain_to_memory(spark: SparkSession, df: DataFrame, prefix: str, mode: str):
    """Run the bounded contract stream `df` to completion, under
    _bounded_stream_confs, into a fresh in-memory table named
    `stream_<prefix>_<n>`, and return that table."""
    _STREAM_SEQ[0] += 1
    name = f"stream_{prefix}_{_STREAM_SEQ[0]}"
    with _bounded_stream_confs(spark):
        q = (
            df.writeStream.outputMode(mode).format("memory")
            .queryName(name).start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    return spark.table(name)


def q_stream_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the file-stream source needs a directory basePath; a glob that
    # matches the single file keeps the parent dir as base
    stream = _event_stream(spark, sf_dir)
    agg = stream.groupBy(
        F.window("ts", "1 hour").start.alias("window_start"),
        F.col("event_type"),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum("value", 2).alias("sum_value"),
    )
    return _drain_to_memory(spark, agg, "tumbling", "complete")


_STREAM_TUMBLING_SQL = f"""
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
       COUNT(*) AS n_events,
       {sql_dsum('value', 2)} AS sum_value
FROM events
GROUP BY 1, 2
"""



def q_stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows through Structured Streaming (complete mode, same
    memory-sink pattern as q_stream_tumbling_hourly): attests that
    streaming sessionization computes the identical gaps-and-islands
    answer as the batch session_window / recursive-window oracle."""
    stream = _event_stream(spark, sf_dir)
    agg = (
        stream.groupBy(F.session_window("ts", "30 minutes"), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value", 2).alias("sum_value"),
            F.max("ts").alias("last_ts"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            "last_ts",
            "n_events",
            "sum_value",
        )
    )
    return _drain_to_memory(spark, agg, "sessionize", "complete")


def _event_stream(spark: SparkSession, sf_dir: str):
    """File-stream source over the events parquet (shared setup for the
    q_stream_* family): schema pinned from the batch footer, directory-glob
    basePath, ts normalized to TIMESTAMP µs whatever the file's physical
    type (catalog.normalize_event_ts) — all self-sufficient on a plain
    session."""
    import os

    from ..catalog import normalize_event_ts, set_events_read_confs

    set_events_read_confs(spark)
    path = os.path.join(sf_dir, "events.parquet")
    schema = spark.read.parquet(path).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(sf_dir, "events.parque*"))
    )
    return normalize_event_ts(stream)


def _click_purchase_streams(spark: SparkSession, sf_dir: str):
    """The watermarked click/purchase stream pair shared by the inner
    (q_stream_join) and left-outer (q_stream_left_join) interval joins —
    one builder so delay/bounds/aliases cannot drift between the two."""
    clicks = (
        _event_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        _event_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    return clicks, purchases


def q_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: clicks joined to same-user purchases
    landing 1 s..300 s later, both sides watermarked so the state store
    evicts rows older than the horizon — the unbounded-safe topology.
    Inner interval joins emit eagerly, so over a bounded stream the result
    equals the batch range join and shares q_ev_range_pairs' oracle
    semantics (driver-grade attestation of the stream-stream join path)."""
    clicks, purchases = _click_purchase_streams(spark, sf_dir)
    joined = clicks.join(
        purchases,
        F.expr(
            "c_user = p_user AND "
            "p_ts >= c_ts + INTERVAL 1 SECOND AND "
            "p_ts <= c_ts + INTERVAL 300 SECOND"
        ),
    ).select(
        "click_id",
        "purchase_id",
        F.col("c_user").alias("user_id"),
        (F.unix_micros("p_ts") - F.unix_micros("c_ts")).alias("gap_us"),
    )
    return _drain_to_memory(spark, joined, "join", "append")


def q_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join — the semantics q_stream_join
    cannot show: a click with no same-user purchase 1 s..300 s later emits
    a null-padded row once the watermark passes its join horizon. Matched
    pairs emit eagerly; unmatched clicks emit exactly when
    c_ts + 300 s < final watermark, where the final watermark is
    ms_floor(min(max click ts, max purchase ts)) − 1 h (two watermarked
    sides, min policy; each side's watermark tracks its own filtered
    stream because the type filter precedes withWatermark; Spark floors
    event-time watermarks to milliseconds and the oracle mirrors that). On a bounded stream the tail
    of unmatched clicks inside the final horizon stays in state by DESIGN
    — and the DuckDB oracle encodes exactly that eviction rule, so the
    driver hash-checks the real outer-join watermark semantics, tail
    retention included. Scale shape: identical to q_stream_join (bounded
    watermarked state, no corpus-sized anything)."""
    clicks, purchases = _click_purchase_streams(spark, sf_dir)
    joined = clicks.join(
        purchases,
        F.expr(
            "c_user = p_user AND "
            "p_ts >= c_ts + INTERVAL 1 SECOND AND "
            "p_ts <= c_ts + INTERVAL 300 SECOND"
        ),
        "leftOuter",
    ).select(
        "click_id",
        F.col("c_user").alias("user_id"),
        "purchase_id",
        (F.unix_micros("p_ts") - F.unix_micros("c_ts")).alias("gap_us"),
        F.when(F.col("purchase_id").isNotNull(), 1).otherwise(0)
        .alias("matched"),
    )
    return _drain_to_memory(spark, joined, "left_join", "append")


# The oracle states the outer-join eviction rule explicitly: every
# matched pair, plus null-padded rows ONLY for clicks whose join horizon
# (c_ts + 300 s) lies strictly before the final watermark
# min(max c_ts, max p_ts) − 1 h. (A microsecond-exact tie between a
# horizon and the watermark would make strictness observable; the
# synthetic timestamps make that measure-zero.)
_STREAM_LEFT_JOIN_SQL = """
WITH clicks AS (
  SELECT event_id AS click_id, user_id, ts::TIMESTAMP AS c_ts
  FROM events WHERE event_type = 'click'
),
purch AS (
  SELECT event_id AS purchase_id, user_id, ts::TIMESTAMP AS p_ts
  FROM events WHERE event_type = 'purchase'
),
wmf AS (
  -- Spark floors event-time watermarks to MILLISECONDS
  -- (EventTimeWatermarkExec tracks max event time in ms), so the
  -- eviction cutoff must be ms-floored here too or a click whose
  -- horizon lands in the sub-ms gap diverges between engines
  SELECT (LEAST((SELECT MAX(epoch_us(c_ts)) FROM clicks),
                (SELECT MAX(epoch_us(p_ts)) FROM purch)) // 1000
          - 3600000) * 1000 AS wm_us
)
SELECT c.click_id, c.user_id, p.purchase_id,
       CASE WHEN p.purchase_id IS NULL THEN NULL
            ELSE epoch_us(p.p_ts) - epoch_us(c.c_ts) END AS gap_us,
       CASE WHEN p.purchase_id IS NULL THEN 0 ELSE 1 END AS matched
FROM clicks c LEFT JOIN purch p
  ON p.user_id = c.user_id
 AND p.p_ts >= c.c_ts + INTERVAL 1 SECOND
 AND p.p_ts <= c.c_ts + INTERVAL 300 SECOND
WHERE p.purchase_id IS NOT NULL
   OR epoch_us(c.c_ts) + 300000000 < (SELECT wm_us FROM wmf)
"""


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup with bounded state: dropDuplicatesWithinWatermark
    on the content key evicts dedup state past the horizon. Over the
    bounded one-batch stream every duplicate falls inside the horizon, so
    the append-mode output equals batch SELECT DISTINCT — a value-level
    oracle for the streaming dedup path (the unbounded topology is
    esvc_spark.streaming.pipelines.dedup_stream)."""
    stream = _event_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    deduped = stream.dropDuplicatesWithinWatermark(
        ["user_id", "event_type", "value"]
    ).select("user_id", "event_type", "value")
    return _drain_to_memory(spark, deduped, "dedup", "append")


_STREAM_DEDUP_SQL = """
SELECT DISTINCT user_id, event_type, value FROM events
"""


def q_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: the event stream joined to the
    static `customer` dimension (broadcast — the dim rides to every
    executor once; no stream-side state, no shuffle of the stream), then
    a windowless streaming aggregate per market segment in complete mode.
    This is the canonical unbounded-safe dimension-enrichment topology;
    over the bounded stream it equals the batch join+aggregate, giving
    the stream-static join path a full value-level oracle."""
    from ..catalog import table as T

    stream = _event_stream(spark, sf_dir)
    cust = F.broadcast(
        T(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    )
    enriched = stream.join(cust, stream.user_id == cust.c_custkey, "inner")
    # (count_distinct is unsupported in streaming aggs — count + exact
    # decimal sum, like q_stream_tumbling_hourly)
    agg = enriched.groupBy("c_mktsegment", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum("value", 2).alias("sum_value"),
    )
    return _drain_to_memory(spark, agg, "enrich", "complete")


_STREAM_ENRICH_SQL = f"""
SELECT c_mktsegment, event_type, COUNT(*) AS n_events,
       {sql_dsum('value', 2)} AS sum_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1, 2
"""


def q_stream_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming top-k: the 5 highest-volume users by event count through
    a complete-mode streaming aggregate with sorted, limited output —
    the leaderboard topology (sorting is only legal in complete mode,
    which is exactly what this attests). Deterministic tiebreak on
    user_id; exact decimal value sum."""
    stream = _event_stream(spark, sf_dir)
    agg = (
        stream.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value", 2).alias("sum_value"),
        )
        .orderBy(F.desc("n_events"), F.asc("user_id"))
        .limit(5)
    )
    return _drain_to_memory(spark, agg, "topk", "complete")


_STREAM_TOPK_SQL = f"""
SELECT user_id, COUNT(*) AS n_events, {sql_dsum('value', 2)} AS sum_value
FROM events GROUP BY user_id
ORDER BY n_events DESC, user_id ASC LIMIT 5
"""


def q_stream_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming anomaly flagging — the live-monitoring topology: only
    the hourly counting runs in the stream (tumbling window, complete
    mode); the per-type baseline (mean/σ from exact integer moment sums)
    is a precomputed static dimension broadcast onto the streamed counts.
    On a real cluster the baseline refreshes out-of-band while the stream
    only ever shuffles window counts. Over the bounded stream the flagged
    set equals the batch q_ev_anomaly exactly, giving the topology a full
    value-level oracle (shared: _ANOMALY_SQL)."""
    stream = _event_stream(spark, sf_dir)
    agg = stream.groupBy(
        F.window("ts", "1 hour").start.alias("hr"), F.col("event_type")
    ).agg(F.count(F.lit(1)).alias("n"))
    hourly = _drain_to_memory(spark, agg, "anomaly", "complete")
    # the memory-sink view resolves to one set of attribute ids, so the
    # hourly⋈stats self-join needs the stats key re-aliased or analysis
    # sees "conflicting attributes"
    stats = (
        hourly.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("n").alias("s"),
            F.sum(F.col("n") * F.col("n")).alias("sq"),
        )
        .withColumnRenamed("event_type", "et")
    )
    enriched = hourly.join(
        F.broadcast(stats), hourly["event_type"] == stats["et"]
    ).select(
        "hr",
        "event_type",
        "n",
        (F.col("s").cast("double") / F.col("cnt")).alias("mean"),
        F.sqrt(
            F.col("sq").cast("double") / F.col("cnt")
            - (F.col("s").cast("double") / F.col("cnt"))
            * (F.col("s").cast("double") / F.col("cnt"))
        ).alias("std"),
    )
    return enriched.filter(
        F.abs(F.col("n").cast("double") - F.col("mean"))
        > F.lit(_ANOM_SIGMA) * F.col("std")
    ).select(
        "hr",
        "event_type",
        "n",
        "mean",
        "std",
        ((F.col("n").cast("double") - F.col("mean")) / F.col("std")).alias("z"),
    )


def q_stream_heads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The esvc head-set antichain maintained incrementally in a stream
    (streaming/stateful.streaming_head_tracker — the streaming twin of
    append_head + compaction, ref crates/exvc/src/main.rs:217-250), under
    the driver contract. Events are sharded into 16 graph keys by id; an
    event depends on its key-predecessor (id-16) except every third
    generation, which starts a fresh chain — so the final head set per
    key is exactly the events never named as a later event's dependency,
    which a closed-form oracle can state. The tracker's fold is
    order-independent (pending-supersession state), so the oracle holds
    even when ts is not id-monotone (out-of-order delivery)."""
    from ..streaming.stateful import streaming_head_tracker

    ev = _event_stream(spark, sf_dir)
    has_dep = (F.col("event_id") >= 16) & (
        F.expr("(event_id div 16) % 3") != 0
    )
    stream = ev.select(
        (F.col("event_id") % 16).cast("string").alias("graph_key"),
        "event_id",
        "ts",
        F.when(
            has_dep,
            F.concat(F.lit('["'), (F.col("event_id") - 16).cast("string"), F.lit('"]')),
        )
        .otherwise(F.lit("[]"))
        .alias("deps_json"),
    )
    tracked = streaming_head_tracker(stream)
    return _drain_to_memory(spark, tracked, "heads", "update").select(
        "graph_key",
        F.array_join("heads", ",").alias("heads_csv"),
        F.size("heads").cast("bigint").alias("n_heads"),
        "n_events",
    )


# head ⟺ never referenced as a later event's dep: its successor (id+16)
# is NOT in the log, or starts a fresh chain ((id+16) div 16 ≡ 0 mod 3 —
# Spark's has_dep rule negated). Presence is tested directly (anti-join)
# rather than via a max-id bound: the bound form silently assumed a
# DENSE id space and mislabeled heads when the degenerate suite seeded
# sparse ids — the tracker itself never assumed density.
_STREAM_HEADS_SQL = """
WITH e AS (SELECT event_id, event_id % 16 AS gk FROM events),
heads AS (
  SELECT gk, event_id FROM e
  WHERE NOT EXISTS (SELECT 1 FROM e s WHERE s.event_id = e.event_id + 16)
     OR ((event_id + 16) // 16) % 3 = 0
),
agg AS (
  SELECT gk,
         array_to_string(list_sort(list(CAST(event_id AS VARCHAR))), ',') AS heads_csv,
         CAST(COUNT(*) AS BIGINT) AS n_heads
  FROM heads GROUP BY gk
),
cnt AS (SELECT gk, CAST(COUNT(*) AS BIGINT) AS n_events FROM e GROUP BY gk)
SELECT CAST(a.gk AS VARCHAR) AS graph_key, a.heads_csv, a.n_heads, c.n_events
FROM agg a JOIN cnt c ON a.gk = c.gk
"""


# -------------------------------------------------------- streaming ingest
# The event-log ingest pipeline under the oracle: the events stream is
# driven through streaming.pipelines.ingest_into_event_log (foreachBatch,
# append-only parquet log, idempotent by event_id anti-join — the
# streaming realization of Graph.ensure_event's content-identity
# get-or-insert, ref crates/esvc-core/src/graph.rs:132-155) TWICE, the
# second pass with a FRESH checkpoint so every micro-batch is re-delivered
# — the at-least-once redelivery a real source exhibits. If the
# idempotence anti-join ever regressed, every count in the final
# aggregate would double and the hash gate would fail.


def q_stream_ingest_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from ..streaming.pipelines import ingest_into_event_log

    work = tempfile.mkdtemp(prefix="esvc_ingest_")
    try:
        with _bounded_stream_confs(spark):
            for attempt in ("first", "redelivery"):
                ingest_into_event_log(
                    _event_stream(spark, sf_dir),
                    log_dir=work,
                    checkpoint_dir=os.path.join(work, f"ckpt_{attempt}"),
                )
            log = spark.read.parquet(os.path.join(work, "events_stream"))
            out = (
                log.groupBy("event_type")
                .agg(
                    F.count(F.lit(1)).alias("n_events"),
                    F.count_distinct("user_id").alias("n_users"),
                    F.bit_xor("event_id").alias("id_xor"),
                    dsum("value", 2).alias("sum_value"),
                )
                # tiny (one row per event type): materialize eagerly so the
                # temp log dir can be removed before returning
                .localCheckpoint()
            )
        return out
    finally:
        shutil.rmtree(work, ignore_errors=True)


# ------------------------------------------------ streamed event-log loop
# The full REPL loop from a STREAM (VERDICT r7 #4, ref main.rs:217-250):
# each source event becomes a content-addressed graph event (blake2b-512
# over Event.encode, dependency on its 16-chain predecessor except every
# third generation), appended MERGE-shaped (anti-join on the content
# address) into the events_log table, with per-batch append_head and
# head-set minimization into the heads table. The whole pipeline runs
# TWICE (fresh checkpoint — full redelivery): if the idempotent append
# ever regressed, n_events doubles and the hash gate fails. The final
# row set folds the MAINTAINED heads table through one last minimize,
# as every reader does (a crash between a batch's log append and its
# heads swap leaves heads non-minimal until the batch replays) — the
# same closed form q_stream_heads' oracle states.


def q_stream_event_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from ..streaming.pipelines import (
        _superseded,
        event_log_stream_pipeline,
    )

    work = tempfile.mkdtemp(prefix="esvc_evlog_")
    try:
        with _bounded_stream_confs(spark):
            for attempt in ("first", "redelivery"):
                event_log_stream_pipeline(
                    _event_stream(spark, sf_dir),
                    work_dir=work,
                    checkpoint_dir=os.path.join(work, f"ckpt_{attempt}"),
                )
            log = spark.read.parquet(os.path.join(work, "events_log"))
            heads = _superseded(
                spark.read.parquet(os.path.join(work, "heads")), log
            ).withColumn("graph_key", F.col("head_src") % 16)
            per_log = log.groupBy("graph_key").agg(
                F.count(F.lit(1)).alias("n_events"),
                F.bit_xor("src_id").alias("src_xor"),
                F.count("dep_src").alias("n_dep_edges"),
            )
            per_heads = heads.groupBy("graph_key").agg(
                F.count(F.lit(1)).cast("bigint").alias("n_heads"),
                F.bit_xor("head_src").alias("head_xor"),
                F.max("head_src").alias("head_max"),
            )
            out = (
                per_log.join(per_heads, "graph_key")
                .select(
                    "graph_key", "n_events", "src_xor", "n_dep_edges",
                    "n_heads", "head_xor", "head_max",
                )
                # materialize before the temp dir is removed
                .localCheckpoint()
            )
        return out
    finally:
        shutil.rmtree(work, ignore_errors=True)


# closed form: the log ≡ distinct source events; a dependency edge exists
# for src >= 16 with (src div 16) % 3 != 0; a head is a src whose chain
# successor never names it (successor absent OR fresh-chain) — presence
# tested via NOT EXISTS, never a density assumption (q_stream_heads rule).
_STREAM_EVENT_LOG_SQL = """
WITH e AS (SELECT DISTINCT event_id AS src FROM events),
log_ AS (
  SELECT src, src % 16 AS graph_key,
         CASE WHEN src >= 16 AND (src // 16) % 3 <> 0
              THEN src - 16 END AS dep_src
  FROM e
),
heads AS (
  SELECT src, src % 16 AS graph_key FROM e h
  WHERE NOT EXISTS (
    SELECT 1 FROM e s
    WHERE s.src = h.src + 16 AND ((h.src + 16) // 16) % 3 <> 0
  )
),
pl AS (
  SELECT graph_key, CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(bit_xor(src) AS BIGINT) AS src_xor,
         CAST(COUNT(dep_src) AS BIGINT) AS n_dep_edges
  FROM log_ GROUP BY graph_key
),
ph AS (
  SELECT graph_key, CAST(COUNT(*) AS BIGINT) AS n_heads,
         CAST(bit_xor(src) AS BIGINT) AS head_xor,
         CAST(MAX(src) AS BIGINT) AS head_max
  FROM heads GROUP BY graph_key
)
SELECT pl.graph_key, pl.n_events, pl.src_xor, pl.n_dep_edges,
       ph.n_heads, ph.head_xor, ph.head_max
FROM pl JOIN ph ON pl.graph_key = ph.graph_key
"""


# the log holds each DISTINCT event exactly once regardless of how many
# times the stream delivered it; event_id is the content address and is
# unique in the source, so the log ≡ the batch events table
_STREAM_INGEST_SQL = f"""
SELECT event_type, COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       CAST(bit_xor(event_id) AS BIGINT) AS id_xor,
       {sql_dsum('value', 2)} AS sum_value
FROM (SELECT DISTINCT event_id, user_id, event_type, value FROM events)
GROUP BY event_type
"""


# ------------------------------------------------------------- path mining
# Frequent event paths: 3-step sequences per user (lead x2 over event
# time), counted corpus-wide with a deterministic top-10 — the sequence-
# pattern mining behind funnel discovery. One window + one aggregate +
# one windowed top-k.

_PATH_K = 10


def q_ev_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).filter(F.col("e3").isNotNull())
    counts = seq.groupBy("e1", "e2", "e3").agg(F.count(F.lit(1)).alias("n"))
    wr = Window.orderBy(F.desc("n"), "e1", "e2", "e3")
    return (
        counts.withColumn("rk", F.row_number().over(wr).cast("bigint"))
        .filter(F.col("rk") <= _PATH_K)
        .select("e1", "e2", "e3", "n", "rk")
    )


_TOP_PATHS_SQL = f"""
WITH seq AS (
  SELECT event_type AS e1,
         LEAD(event_type, 1) OVER w AS e2,
         LEAD(event_type, 2) OVER w AS e3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
counts AS (
  SELECT e1, e2, e3, COUNT(*) AS n FROM seq
  WHERE e3 IS NOT NULL GROUP BY e1, e2, e3
)
SELECT e1, e2, e3, n,
       CAST(ROW_NUMBER() OVER (ORDER BY n DESC, e1, e2, e3) AS BIGINT) AS rk
FROM counts QUALIFY rk <= {_PATH_K}
"""


# --------------------------------------------------------------- funnel
# Ordered 3-step conversion funnel (view -> click -> purchase): first
# qualifying event per user per stage, each stage constrained to strictly
# after the previous stage's timestamp. Stage tables are per-user minima
# (shuffle on user_id, map-side combined); the final output is a single
# summary row. Time deltas are exact integer microseconds; the average is
# one IEEE division at the end so both engines agree bitwise.


def q_ev_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id", "t_view")
        .agg(F.min("ts").alias("t_click"))
    )
    pch = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id", "t_view", "t_click")
        .agg(F.min("ts").alias("t_purchase"))
    )
    nv = v.agg(F.count(F.lit(1)).alias("n_view_users"))
    nc = c.agg(F.count(F.lit(1)).alias("n_click_users"))
    np_ = pch.agg(
        F.count(F.lit(1)).alias("n_purchase_users"),
        (
            F.sum(F.unix_micros("t_click") - F.unix_micros("t_view")).cast("double")
            / F.count(F.lit(1))
            / F.lit(1000000.0)
        ).alias("avg_view_to_click_sec"),
        (
            F.sum(F.unix_micros("t_purchase") - F.unix_micros("t_click")).cast("double")
            / F.count(F.lit(1))
            / F.lit(1000000.0)
        ).alias("avg_click_to_purchase_sec"),
    )
    return nv.crossJoin(nc).crossJoin(np_)


# -------------------------------------------------- funnel latency
# Step-latency distribution for completed view→click→purchase journeys:
# exact p50/p90/max of each hop, the SLO-style view of the funnel that
# q_ev_funnel's averages hide (skewed hop times look fine on average).
# Latencies are integer microseconds (unix_micros differences), so the
# exact interpolated percentile is a deterministic rational → one double.
# Scale: same three min-aggregates as the funnel; the latency table is
# |converted users| rows, tiny next to the event scan.


def q_ev_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id", "t_view")
        .agg(F.min("ts").alias("t_click"))
    )
    pch = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id", "t_view", "t_click")
        .agg(F.min("ts").alias("t_purchase"))
    )
    lat = pch.select(
        (F.unix_micros("t_click") - F.unix_micros("t_view")).alias("vc"),
        (F.unix_micros("t_purchase") - F.unix_micros("t_click")).alias("cp"),
    )
    return lat.agg(
        F.count(F.lit(1)).alias("n_journeys"),
        (F.expr("percentile(vc, 0.5)") / F.lit(1000000.0)).alias("vc_p50_sec"),
        (F.expr("percentile(vc, 0.9)") / F.lit(1000000.0)).alias("vc_p90_sec"),
        (F.max("vc").cast("double") / F.lit(1000000.0)).alias("vc_max_sec"),
        (F.expr("percentile(cp, 0.5)") / F.lit(1000000.0)).alias("cp_p50_sec"),
        (F.expr("percentile(cp, 0.9)") / F.lit(1000000.0)).alias("cp_p90_sec"),
        (F.max("cp").cast("double") / F.lit(1000000.0)).alias("cp_max_sec"),
    )


_FUNNEL_LATENCY_SQL = """
WITH v AS (SELECT user_id, MIN(ts) AS t_view FROM events
           WHERE event_type = 'view' GROUP BY user_id),
c AS (SELECT e.user_id, v.t_view, MIN(e.ts) AS t_click
      FROM events e JOIN v USING (user_id)
      WHERE e.event_type = 'click' AND e.ts > v.t_view
      GROUP BY e.user_id, v.t_view),
p AS (SELECT e.user_id, c.t_view, c.t_click, MIN(e.ts) AS t_purchase
      FROM events e JOIN c USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > c.t_click
      GROUP BY e.user_id, c.t_view, c.t_click),
lat AS (
  SELECT epoch_us(t_click::TIMESTAMP) - epoch_us(t_view::TIMESTAMP) AS vc,
         epoch_us(t_purchase::TIMESTAMP) - epoch_us(t_click::TIMESTAMP) AS cp
  FROM p
)
SELECT COUNT(*) AS n_journeys,
       quantile_cont(vc, 0.5) / 1000000.0 AS vc_p50_sec,
       quantile_cont(vc, 0.9) / 1000000.0 AS vc_p90_sec,
       CAST(MAX(vc) AS DOUBLE) / 1000000.0 AS vc_max_sec,
       quantile_cont(cp, 0.5) / 1000000.0 AS cp_p50_sec,
       quantile_cont(cp, 0.9) / 1000000.0 AS cp_p90_sec,
       CAST(MAX(cp) AS DOUBLE) / 1000000.0 AS cp_max_sec
FROM lat
"""


_FUNNEL_SQL = """
WITH v AS (SELECT user_id, MIN(ts) AS t_view FROM events
           WHERE event_type = 'view' GROUP BY user_id),
c AS (SELECT e.user_id, v.t_view, MIN(e.ts) AS t_click
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t_view
      GROUP BY e.user_id, v.t_view),
p AS (SELECT e.user_id, c.t_view, c.t_click, MIN(e.ts) AS t_purchase
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t_click
      GROUP BY e.user_id, c.t_view, c.t_click)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM v) AS n_view_users,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM c) AS n_click_users,
       CAST(COUNT(*) AS BIGINT) AS n_purchase_users,
       CAST(SUM(epoch_us(t_click) - epoch_us(t_view)) AS DOUBLE)
         / COUNT(*) / 1000000.0 AS avg_view_to_click_sec,
       CAST(SUM(epoch_us(t_purchase) - epoch_us(t_click)) AS DOUBLE)
         / COUNT(*) / 1000000.0 AS avg_click_to_purchase_sec
FROM p
"""



def q_stream_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming (applyInPandasWithState) under the
    driver contract: per-user lifetime totals over the bounded event
    stream. The single-file source yields one micro-batch, so the
    emitted state equals the batch aggregate and a value-level oracle
    applies: exact integer cents (one terminal round over the float sum,
    error << 0.5 cent) and max event time per user."""
    from ..streaming.stateful import running_user_totals

    totals = running_user_totals(_event_stream(spark, sf_dir))
    return _drain_to_memory(spark, totals, "running", "update")


_RUNNING_TOTALS_SQL = """
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
       -- NULL values contribute 0 cents (the stateful op's pandas sum
       -- skips NaN; an all-NULL user must not yield a NULL total)
       CAST(ROUND(COALESCE(SUM(value * 100), 0)) AS BIGINT) AS value_cents,
       MAX(ts) AS last_ts
FROM events GROUP BY user_id
"""



# ------------------------------------------------------------- cohorts
# Weekly cohort retention: users grouped by first-seen week, counted by
# distinct activity in each later week offset. Two shuffles total (first
# -seen per user, then cohort x offset counts); the cohort dimension is
# derived, never joined — the standard retention matrix at any scale.


def q_ev_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events").select("user_id", "ts")
    first = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    acts = ev.join(first, "user_id").select(
        "user_id",
        "cohort_week",
        (
            F.datediff(F.date_trunc("week", F.col("ts")), F.col("cohort_week"))
            / 7
        )
        .cast("bigint")
        .alias("week_offset"),
    )
    return (
        acts.groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct("user_id").alias("n_active"))
    )


_COHORT_SQL = """
WITH first AS (
  SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
  FROM events GROUP BY user_id
),
acts AS (
  SELECT e.user_id, f.cohort_week,
         CAST(date_diff('day', f.cohort_week,
                        date_trunc('week', e.ts)) // 7 AS BIGINT)
           AS week_offset
  FROM events e JOIN first f ON e.user_id = f.user_id
)
SELECT cohort_week, week_offset,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_active
FROM acts GROUP BY cohort_week, week_offset
"""



# ------------------------------------------------------------- sliding
# 1-hour windows sliding every 15 minutes: each event lands in 4
# overlapping windows. Spark's window(slideDuration) explodes window
# membership before the aggregate (shuffle carries 4x rows — inherent to
# hop windows); the oracle rebuilds membership with an explicit
# range-unnest. Streaming runs the identical expression incrementally.


def q_ev_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour", "15 minutes").start.alias("window_start"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value", 2).alias("sum_value"),
        )
    )


_SLIDING_SQL = f"""
WITH hopped AS (
  SELECT time_bucket(INTERVAL '15 minutes', ts)
           - k * INTERVAL '15 minutes' AS window_start,
         event_type, value
  FROM events, unnest(range(0, 4)) t(k)
)
SELECT window_start, event_type, COUNT(*) AS n_events,
       {sql_dsum('value', 2)} AS sum_value
FROM hopped GROUP BY 1, 2
"""



def q_ev_salted_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe exact distinct: operators.skew.salted_distinct_count
    under the driver contract. Per event_type (a low-cardinality, hence
    hot, key), distinct users are counted via (key, salt-of-value)
    partials so no task ever assembles one key's whole distinct set —
    the decomposition a 1000-executor job needs when one key dominates.
    The oracle is the plain COUNT(DISTINCT): the decomposition is exact
    by construction (salt is a function of the value)."""
    from ..operators.skew import salted_distinct_count

    ev = T(spark, sf_dir, "events")
    return salted_distinct_count(ev, key="event_type", value="user_id").select(
        "event_type", F.col("n_distinct").cast("bigint").alias("n_distinct")
    )


_SALTED_DISTINCT_SQL = """
SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_distinct
FROM events GROUP BY event_type
"""


# -------------------------------------------------------- watermark planning
# Watermark-delay planning audit: the driver data arrives in perfect
# event-time order (event_id ≡ ts order), so delivery disorder is
# simulated with a deterministic hash jitter — arrival_us = ts_us +
# h(event_id) mod 120 s, a bounded network-delay model. Replaying events
# in ARRIVAL order, an event is late-by the running max event time minus
# its own; for each candidate watermark delay the audit reports how many
# events a `withWatermark(delay)` would drop and the residual late rate —
# exactly the table an engineer reads before picking the q_stream_* delay.
# Integer µs end-to-end. Scale shape (round 7): the arrival-order
# running max is PARTITION-PARALLEL — the two-phase prefix-max
# (core.spark_engine.global_running_max: range-partition on arrival
# order, per-partition running max, broadcast prefix maxima), never an
# unpartitioned window funnelling |events| through one task — then a
# single aggregate unpivoted over the constant delay lattice. The plan
# embeds the prefix-max localCheckpoint (plan_audit._IMPERATIVE).

_WM_JITTER_US = 120_000_000
_WM_DELAYS_S = (0, 10, 30, 60, 120)


def q_ev_watermark_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events").select(
        "event_id", F.expr("unix_micros(ts)").alias("t_us")
    )
    arr = ev.select(
        "event_id",
        "t_us",
        (
            F.col("t_us")
            + F.expr(
                "CAST(conv(substr(md5(concat('wm:', CAST(event_id AS"
                " STRING))), 1, 15), 16, 10) AS BIGINT)"
            )
            % _WM_JITTER_US
        ).alias("a_us"),
    )
    from ..catalog import table_rows
    from ..core.spark_engine import global_running_max

    late = global_running_max(
        spark, arr, ["a_us", "event_id"], "t_us", "_runmax",
        n_rows=table_rows(spark, sf_dir, "events"),
    ).select((F.col("_runmax") - F.col("t_us")).alias("late_us"))
    aggs = late.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        *[
            F.sum(F.when(F.col("late_us") > d * 1_000_000, 1).otherwise(0))
            .cast("bigint")
            .alias(f"d{d}")
            for d in _WM_DELAYS_S
        ],
        F.max("late_us").cast("bigint").alias("max_late_us"),
    )
    stack = ", ".join(f"{d}L, d{d}" for d in _WM_DELAYS_S)
    return aggs.select(
        F.expr(
            f"stack({len(_WM_DELAYS_S)}, {stack}) AS (delay_s, n_dropped)"
        ),
        "n_events",
        "max_late_us",
    ).select(
        "delay_s",
        "n_events",
        "n_dropped",
        (F.col("n_dropped").cast("double") / F.col("n_events").cast("double"))
        .alias("drop_rate"),
        "max_late_us",
    )


def _watermark_plan_sql() -> str:
    rows = " UNION ALL ".join(
        f"SELECT CAST({d} AS BIGINT) AS delay_s, d{d} AS n_dropped,"
        f" n_events, max_late_us FROM aggs"
        for d in _WM_DELAYS_S
    )
    sums = ", ".join(
        f"CAST(SUM(CASE WHEN late_us > {d * 1_000_000} THEN 1 ELSE 0 END)"
        f" AS BIGINT) AS d{d}"
        for d in _WM_DELAYS_S
    )
    return f"""
WITH ev AS (
  SELECT event_id, epoch_us(ts::TIMESTAMP) AS t_us FROM events
),
arr AS (
  SELECT event_id, t_us,
         t_us + CAST(('0x' || substr(md5('wm:' || CAST(event_id AS VARCHAR)),
                      1, 15)) AS BIGINT) % {_WM_JITTER_US} AS a_us
  FROM ev
),
late AS (
  SELECT MAX(t_us) OVER (ORDER BY a_us, event_id
                         ROWS UNBOUNDED PRECEDING) - t_us AS late_us
  FROM arr
),
aggs AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_events, {sums},
         CAST(MAX(late_us) AS BIGINT) AS max_late_us
  FROM late
)
SELECT delay_s, n_events, n_dropped,
       CAST(n_dropped AS DOUBLE) / CAST(n_events AS DOUBLE) AS drop_rate,
       max_late_us
FROM ({rows})
"""


