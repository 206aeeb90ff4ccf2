"""Cross-engine numeric determinism helpers.

Double-precision SUM is shuffle-order dependent in Spark and engine-order
dependent in DuckDB, so `sum(double)` cannot hash-match across engines.
Strategy: cast each addend to a fixed-scale DECIMAL (exact integer
arithmetic — order-invariant and identical in both engines; Spark CAST uses
HALF_UP, DuckDB rounds half-away-from-zero: same function on reals), sum
exactly, cast the exact result back to DOUBLE (one correctly-rounded
conversion). AVG = exact decimal sum cast to double, divided by the count:
a single IEEE division, identical in both engines.

The matching DuckDB SQL fragment for `dsum(c, s)` is
    CAST(SUM(CAST(c AS DECIMAL(18,s))) AS DOUBLE)
and for `davg(c, s)`
    CAST(SUM(CAST(c AS DECIMAL(18,s))) AS DOUBLE) / COUNT(c)

WHEN THE DECIMAL PATH IS SOUND — only for EXACT-GRID inputs. The cast
double->decimal is engine-divergent for arbitrary doubles, in two ways
found the hard way in round 4:
  * ties: a double landing exactly on a 10^-s midpoint (possible — a
    float32 embedding value 0.1494140625 is one at s=9) splits the
    engines: Spark rounds half-up, DuckDB half-even;
  * high scales don't save you: at s >= 17 DuckDB converts via the
    double's SHORTEST STRING ("0.1494140625" + zero padding) while
    Spark rounds the exact binary expansion — systematically different
    decimals — and DuckDB's wide-DECIMAL -> DOUBLE cast-back is itself
    not correctly rounded (route through VARCHAR if ever needed).
So: use dsum/davg ONLY when the addends already sit exactly on the
decimal grid (money at scale 2, money-product reals at 4/6) — then the
cast never rounds and both engines agree exactly. For FULL-PRECISION
doubles (distances, errors, float32-origin values) use the order-pinned
sequential folds below (ofold_sum / sql_ofold_sum) — no decimals at
all; bit-identical by construction. Their cost is collect_list state
per group: bounded groups (array dims, PQ subcodes) are free; corpus-
sized groups trade memory for reproducibility — at cluster scale
accept last-ulp nondeterminism (plain double sum) or pre-quantize the
metric to an exact grid instead.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _prec(scale: int) -> int:
    return 38 if scale > 16 else 18


def dec(col: Column | str, scale: int = 2) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal({_prec(scale)},{scale})")


def dsum(col: Column | str, scale: int = 2) -> Column:
    """Order-invariant cross-engine-exact sum of a double column."""
    return F.sum(dec(col, scale)).cast("double")


def davg(col: Column | str, scale: int = 2) -> Column:
    """Cross-engine-exact average: exact sum / count, one double division."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(dec(c, scale)).cast("double") / F.count(c)


def _sql_sum_to_double(expr: str, scale: int) -> str:
    # Wide (int128-backed) decimals: DuckDB's direct DECIMAL->DOUBLE cast
    # is NOT correctly rounded (two-step float division, observed 1 ulp
    # off), while Spark's BigDecimal.doubleValue() is. Routing through
    # VARCHAR (exact text, correctly-rounded parse) restores bit equality.
    agg = f"SUM(CAST({expr} AS DECIMAL({_prec(scale)},{scale})))"
    if scale > 16:
        return f"CAST(CAST({agg} AS VARCHAR) AS DOUBLE)"
    return f"CAST({agg} AS DOUBLE)"


def sql_dsum(expr: str, scale: int = 2) -> str:
    return _sql_sum_to_double(expr, scale)


def sql_davg(expr: str, scale: int = 2) -> str:
    return f"{_sql_sum_to_double(expr, scale)} / COUNT({expr})"


def ofold_sum(key: str, val: str) -> Column:
    """Order-pinned sequential fold sum of a full-precision double column,
    usable inside .agg(). `key` must be unique within the group (the fold
    order); both args must be plain column names. DuckDB twin:
    sql_ofold_sum."""
    return F.aggregate(
        F.expr(
            f"transform(array_sort(collect_list(struct({key}, {val}))),"
            f" t -> t.{val})"
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def sql_ofold_sum(key: str, val: str) -> str:
    """DuckDB twin of ofold_sum: same pinned order, same left fold.
    `val` may be any expression; `key` must order rows uniquely."""
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list({val} ORDER BY {key})), (acc, x) -> acc + x)"
    )


def ntile_from_rank(rank_col: str, n_col: str, k: int) -> Column:
    """Exact NTILE(k) from a 1-based global rank and the total row count
    — pure integer arithmetic, so a partition-parallel global rank
    (core.spark_engine.grouped_row_number) replaces the unpartitioned
    NTILE window while matching DuckDB's NTILE down to the last
    straddling tie: with n = k·q + r the first r tiles hold q+1 rows.
    The ELSE branch divides by q, which is 0 only when n < k — in that
    case every rank satisfies the first branch, and Spark's CASE
    short-circuits."""
    q = f"({n_col} div {k})"
    r = f"({n_col} % {k})"
    i = rank_col
    return F.expr(
        f"CAST(CASE WHEN {i} <= {r} * ({q} + 1) "
        f"THEN ({i} - 1) div ({q} + 1) + 1 "
        f"ELSE {r} + ({i} - {r} * ({q} + 1) - 1) div {q} + 1 END AS INT)"
    )


# --------------------------------------------------------------- cache scope
# Query functions persist() intermediates that feed multiple plan branches
# (LSH signatures, hashed event sets, shingle tables). The returned
# DataFrame is lazy, so the query itself cannot unpersist — the cache must
# outlive the function until the CALLER materializes. Spark's CacheManager
# holds strong references, so in a long-lived session those entries leak.
# tracked_persist() registers every such intermediate; release_cached()
# (re-exported as esvc_spark.release_cached) drops exactly them — unlike
# spark.catalog.clearCache() it cannot clobber caches the host application
# owns. bench.py and the pytest hygiene test call it after materializing
# each query.

_TRACKED: list = []


def tracked_persist(df):
    """persist() a query intermediate and register it for release_cached()."""
    df = df.persist()
    _TRACKED.append(df)
    return df


def release_cached() -> int:
    """Unpersist every intermediate registered by tracked_persist().
    Returns the number released. Safe to call at any time: unpersisting a
    not-yet-materialized frame merely forfeits the cache."""
    n = 0
    while _TRACKED:
        _TRACKED.pop().unpersist()
        n += 1
    return n


def release_between_queries(spark, full_gc: bool = False) -> None:
    """The between-query hygiene every long-lived timing/verify harness
    needs (bench.py, scripts/verify_contract.py,
    scripts/recheck_outliers.py all import THIS — review r10: three
    hand-copied versions had already started to drift, and a harness
    whose hygiene differs from the one that recorded the anchors
    produces non-comparable timings):

    - unpersist every tracked_persist() intermediate,
    - clearCache() as the belt-and-braces guard for anything persisted
      outside that registry,
    - drop the q_stream_* memory-sink temp views (each run registers a
      fresh name; 100+ queries would otherwise accumulate driver-held
      sink rows),
    - with ``full_gc``, nudge both collectors so localCheckpoint blocks
      (which live OUTSIDE the CacheManager — clearCache cannot drop
      them; only the ContextCleaner frees the orphaned RDDs) do not
      accumulate across a 200+ query session. Timing harnesses skip
      this by default: a forced JVM System.gc() between measurements
      adds seconds of pause noise.

    Never raises — hygiene must not fail a run.
    """
    try:
        release_cached()
        spark.catalog.clearCache()
        for v in spark.catalog.listTables():
            if v.name.startswith("stream_"):
                spark.catalog.dropTempView(v.name)
        if full_gc:
            import gc

            gc.collect()
            spark._jvm.System.gc()
    except Exception:  # noqa: BLE001 - hygiene must never fail a run
        pass
