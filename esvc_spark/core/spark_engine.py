"""Spark-native dataset engines for the event-log core.

The reference requires whole-dataset-value equality (`Dat: PartialEq`,
esvc-traits/src/lib.rs:12-13) — the enabler for dependency inference. For
DataFrames that becomes a canonical, order-insensitive content fingerprint
computed in ONE aggregate job:

    fingerprint = (count, bit_xor(xxhash64(cols)), sum(xxhash64(cols)))

xor+sum+count of per-row 64-bit hashes is commutative/associative →
shuffle-order invariant, and cheap at any scale (map-side partial
aggregation, no sort, no collect of data). Every `run_event_bare`
returns the new value with its fingerprint known and its DataFrame
persisted (lazily), because shelve/merge compare states constantly and
the WorkCache memoizes by state anyway (workcache.rs:85-102 role). The
fingerprint job runs the first time the engine applies a (cmd, arg) to
a given input fingerprint; later applications take the output
fingerprint from the engine's transform memo and run no job. The memo
skips only that job: every call still builds the command's plan over
its actual input DataFrame, so replay reads real predecessor data.

Engines:
  - SparkReplaceEngine: literal search-and-replace over every row of a
    text corpus (doc_id, text) — the sear engine (workcache.rs:507-511)
    generalized to a distributed corpus. Uses F.replace (JVM, codegen).
  - SparkExEngine: the ed/ex line editor (en.rs:214-258) over an ordered
    lines DataFrame (line_no, text). Spark rows are unordered, so the
    reference's implicit vector order is an explicit line_no column
    (SURVEY.md §1.2). Renumbering switches on dataset size: below
    _RENUMBER_LOCAL_ROWS a single row_number window (one-task sort, the
    cheapest plan at editor scale); above it a distributed two-phase
    prefix sum (range-partition on the order key, per-partition counts,
    cumulative offsets broadcast back, within-partition rank + offset) —
    no single-task stage at any size, so the editor holds up on
    corpus-of-lines datasets too.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .engines import BaseEngine, CommandNotFound
from .graph import canonical_json_encode


def _fingerprint_aggs(h) -> list:
    """(count, bit_xor, exact decimal sum) of the per-row hash column `h`."""
    return [F.count(F.lit(1)).alias("n"), F.bit_xor(h).alias("x"),
            F.sum(h.cast("decimal(38,0)")).alias("s")]


def _fingerprint_of(row) -> tuple:
    """An aggregate row as a fingerprint; the empty state is (0, 0, 0)."""
    return (row["n"], row["x"] if row["n"] else 0, int(row["s"] or 0))


@dataclass(frozen=True)
class SparkDat:
    """An immutable dataset value: a persisted DataFrame plus its canonical
    content fingerprint. Equality = fingerprint equality (no job)."""

    df: DataFrame
    fingerprint: tuple

    @property
    def count(self) -> int:
        return self.fingerprint[0]

    @staticmethod
    def create(df: DataFrame, cols: list[str]) -> "SparkDat":
        df = df.persist()
        row = df.select(*_fingerprint_aggs(F.xxhash64(*cols))).collect()[0]
        return SparkDat(df=df, fingerprint=_fingerprint_of(row))

    def __eq__(self, other: object) -> bool:
        return isinstance(other, SparkDat) and self.fingerprint == other.fingerprint

    def __hash__(self) -> int:
        return hash(self.fingerprint)


def _DISK_ONLY():
    from pyspark import StorageLevel

    return StorageLevel.DISK_ONLY


# Below this many ranked rows the single-window plan beats the two-phase
# machinery (repartitionByRange sampling pass + shuffle + DISK_ONLY
# checkpoint + offsets collect+join: a fixed ~0.3-0.5 s per invocation
# on this host, vs one small sort). Crossover measured in-process,
# min-of-5 interleaved, `scripts/ab_offset_path.py --helpers` (round 8):
#   1e4 rows  global 0.12 vs 0.39 s  grouped 0.17 vs 0.38 s  (local wins)
#   1e5 rows  global 0.14 vs 0.35 s  grouped 0.23 vs 0.37 s  (local wins)
#   1e6 rows  global 0.43 vs 0.41 s  grouped 0.24 vs 0.51 s  (parity/local)
#   4e6 rows  global 1.74 vs 0.60 s  grouped 0.50 vs 0.96 s  (two-phase
#                                                             wins global)
# The global crossover sits at ~1e6; the grouped local window
# parallelizes over groups so it stays ahead longer, but n_rows bounds
# TOTAL rows (not the largest group), so one conservative constant
# serves both: 1<<20, the bound the editor's renumber gate has proven
# since r5 (_RENUMBER_LOCAL_ROWS). The probe's grouped3 arm (3 balanced
# groups — the zonemap/zorder max_group_rows shape, its worst case
# short of one group) backs the per-group bound: at 1e6 rows / 333k per
# group local wins 0.21 vs 0.44 s, and even at 4e6 / 1.33M per group
# (past the bound) it still edges the two-phase plan 0.62 vs 0.85 s —
# the gate flips conservatively before the crossover, never after. Callers thread `n_rows` (any cheap
# UPPER BOUND, e.g. the parquet-metadata base-table count via
# catalog.table_rows) and the helper picks the path; an unknown bound
# keeps the distributed plan, so scale safety is the default.
TWO_PHASE_MIN_ROWS = 1 << 20


def _use_local(local: bool | None, n_rows: int | None) -> bool:
    """Resolve the path switch: an explicit `local` wins; otherwise go
    local only when the caller PROVED the input small (n_rows is an
    upper bound ≤ TWO_PHASE_MIN_ROWS). Unknown size → distributed."""
    if local is not None:
        return local
    return n_rows is not None and n_rows <= TWO_PHASE_MIN_ROWS


def exclusive_prefix_sum(
    spark: SparkSession,
    df: DataFrame,
    order_cols: list[str],
    value_col: str,
    out_col: str,
    *,
    local: bool | None = None,
    n_rows: int | None = None,
    bucket_of=None,
) -> DataFrame:
    """`df` plus `out_col` = exclusive prefix sum of `value_col` in
    `order_cols` order (row i gets the sum of values strictly before it).

    ``bucket_of`` (round 12): a Column expression mapping each ROW to an
    integer bucket 0..P-1 that is monotone non-decreasing along
    `order_cols` — i.e. the caller KNOWS the order key's domain and can
    range-bucket it deterministically from the data alone. With it the
    two-phase plan becomes a PURE PLAN: within-bucket window + a tiny
    bucket-offset aggregate joined back — no repartitionByRange sampling,
    so no eager localCheckpoint + partial-sum collect at plan-BUILD time
    (that eager pair made every renumbering `_apply_plan` construction
    cost two jobs inside the esvc shelve loop, where one commutation
    round builds many plans). The plan reads `df` TWICE (the bucket
    offsets aggregate and the within-bucket window), so `df` must be
    deterministic: both reads must see the same rows with the same
    bucket. A nondeterministic input (rand(), a sample, a
    nondeterministic UDF, an unpinned limit) can give the two reads
    different rows and wrong offsets; pin such an input first (persist
    or localCheckpoint). Given a deterministic input, correctness does
    not depend on exchange reuse: the bucket is a pure row function, so
    re-evaluated branches agree by construction. Use only with
    exactly-summable value types (integers/decimals): the bucketed
    addition order differs from the sampled-range order.

    Distributed path (default): two-phase prefix sum —
    1. range-partition on the order key and PIN the partitioning with an
       eager localCheckpoint (repartitionByRange samples its boundaries,
       so two jobs over the lazy plan could see different partition ids);
    2. one small aggregate collects per-partition sums (P rows) and turns
       them into cumulative offsets on the driver;
    3. within-partition running sum (ROWS frame, pinned — RANGE would
       merge ties) + broadcast offset. Every stage is partition-parallel;
       the only driver-side data is P partial sums. This is the renumber
       strategy behind SparkExEngine at corpus scale, factored out so
       other prefix-sum consumers (e.g. global line numbering of an
       exploded corpus) share it.

    `local=True` keeps the single-window plan — cheapest when the CALLER
    knows the input is small (one tiny sort beats three jobs). With
    `local=None` (default) the path is derived from `n_rows`, any cheap
    upper bound on df's rows (parquet-metadata base-table count at the
    query call sites): ≤ TWO_PHASE_MIN_ROWS → local window, else (or
    unknown) the two-phase plan. Both paths are bit-identical
    (tests/test_spark_core.py differential suite).

    NULL `value_col` rows count as 0 in BOTH paths (coalesced below, to
    match the driver-side offset coalescing `_s or 0`), so a nullable
    caller gets shifted-by-0 rows, never mixed NULL/shifted output.
    """
    from pyspark.sql import Window

    val = F.coalesce(F.col(value_col), F.lit(0))
    if _use_local(local, n_rows):
        w = (
            Window.orderBy(*order_cols)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return df.withColumn(out_col, F.sum(val).over(w) - val)
    if bucket_of is not None:
        base = df.withColumn("_b", bucket_of.cast("int"))
        off_w = Window.orderBy("_b").rowsBetween(
            Window.unboundedPreceding, -1
        )
        # P rows total: the offset window's single task is trivial
        offs = (
            base.groupBy("_b")
            .agg(F.sum(val).alias("_s"))
            .select(
                "_b",
                F.coalesce(F.sum("_s").over(off_w), F.lit(0)).alias("_off"),
            )
        )
        w = (
            Window.partitionBy("_b")
            .orderBy(*order_cols)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return (
            base.join(F.broadcast(offs), "_b")
            .withColumn(out_col, F.sum(val).over(w) - val + F.col("_off"))
            .drop("_b", "_off")
        )
    p = max(spark.sparkContext.defaultParallelism, 2)
    part = (
        df.repartitionByRange(p, *order_cols)
        .withColumn("_pid", F.spark_partition_id())
        # DISK_ONLY: checkpoint blocks live outside the CacheManager and
        # survive clearCache(), so a long session running many prefix-sum
        # queries would otherwise accumulate them in the heap (observed:
        # OOM halfway through the 224-query sf0.1 attestation); the block
        # is scanned twice, disk read is fine
        .localCheckpoint(storageLevel=_DISK_ONLY())
    )
    sums = part.groupBy("_pid").agg(F.sum(value_col).alias("_s")).collect()
    offs, acc = [], 0
    for r in sorted(sums, key=lambda r: r["_pid"]):
        offs.append((r["_pid"], acc))
        acc += r["_s"] or 0
    off_df = spark.createDataFrame(offs, "_pid INT, _off BIGINT")
    w = (
        Window.partitionBy("_pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        part.join(F.broadcast(off_df), "_pid")
        .withColumn(out_col, F.sum(val).over(w) - val + F.col("_off"))
        .drop("_pid", "_off")
    )


def grouped_exclusive_prefix_sum(
    spark: SparkSession,
    df: DataFrame,
    group_cols: list,
    order_cols: list,  # str names or Column sort orders (F.desc(...))
    value_col: str,
    out_col: str,
    *,
    local: bool | None = None,
    n_rows: int | None = None,
    max_group_rows: int | None = None,
) -> DataFrame:
    """Per-GROUP exclusive prefix sum of `value_col` in `order_cols`
    order — the grouped twin of exclusive_prefix_sum, for the plan shape
    a per-group window over a LOW-CARDINALITY key produces at scale: a
    `Window.partitionBy(event_type)` over 1e9 events funnels each type's
    whole partition through one task, while this runs every stage
    partition-parallel. Range-partition on (group, order) so each
    group's rows are contiguous across partitions, pin with
    localCheckpoint, collect the P×|groups| per-(partition, group)
    partial sums (the only driver-side data — use the plain grouped
    window instead when |groups| is high-cardinality, since then each
    group is small and the window already parallelizes), fold them into
    per-group offsets, and add the within-partition running sum.
    NULL `value_col` counts as 0 (matching exclusive_prefix_sum).
    `local`/`n_rows` switch to a plain per-group window below
    TWO_PHASE_MIN_ROWS (see exclusive_prefix_sum) — at that size even
    the largest group is one small task. The per-group window's real
    single-task cost is the LARGEST GROUP's sort, so a caller whose
    groups are bounded by construction (e.g. a per-layout union of G
    copies of one table — every group is exactly that table) may pass
    `max_group_rows` instead of / alongside `n_rows`; either bound
    landing under the threshold selects the local plan."""
    from pyspark.sql import Window

    val = F.coalesce(F.col(value_col), F.lit(0))
    if _use_local(local, n_rows) or (
        local is None and _use_local(None, max_group_rows)
    ):
        w = (
            Window.partitionBy(*group_cols)
            .orderBy(*order_cols)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return df.withColumn(out_col, F.sum(val).over(w) - val)
    p = max(spark.sparkContext.defaultParallelism, 2)
    part = (
        df.repartitionByRange(p, *group_cols, *order_cols)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(storageLevel=_DISK_ONLY())  # heap-safe, see above
    )
    sums = part.groupBy("_pid", *group_cols).agg(
        F.sum(value_col).alias("_s")
    ).collect()
    gtypes = dict(part.dtypes)
    vt = gtypes[value_col]
    off_type = (
        "BIGINT" if vt in ("tinyint", "smallint", "int", "bigint") else vt
    )
    # the accumulator seed must carry the off_type's Python type —
    # createDataFrame's verifier accepts only float for DOUBLE and
    # Decimal for DECIMAL (ADVICE r7; integer callers saw int 0, fine)
    if off_type == "BIGINT":
        zero: object = 0
    elif vt.startswith("decimal"):
        from decimal import Decimal

        zero = Decimal(0)
    else:
        zero = 0.0
    acc: dict = {}
    offs = []
    for r in sorted(sums, key=lambda r: r["_pid"]):
        g = tuple(r[c] for c in group_cols)
        offs.append((r["_pid"], *g, acc.get(g, zero)))
        s = r["_s"]
        acc[g] = acc.get(g, zero) + (s if s is not None else zero)
    schema = ", ".join(
        ["_pid INT"]
        + [f"{c} {gtypes[c]}" for c in group_cols]
        + [f"_off {off_type}"]
    )
    off_df = spark.createDataFrame(offs, schema)
    w = (
        Window.partitionBy("_pid", *group_cols)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # NULL group keys: join on null-safe equality so a NULL group (the
    # degenerate-suite convention allows NULL lang/event_type) gets its
    # offset like any other group
    cond = [part["_pid"] == off_df["_pid"]] + [
        part[c].eqNullSafe(off_df[c]) for c in group_cols
    ]
    joined = part.join(F.broadcast(off_df), cond).drop(off_df["_pid"])
    for c in group_cols:
        joined = joined.drop(off_df[c])
    return (
        joined.withColumn(out_col, F.sum(val).over(w) - val + F.col("_off"))
        .drop("_pid", "_off")
    )


def grouped_row_number(
    spark: SparkSession,
    df: DataFrame,
    group_cols: list,
    order_cols: list,
    out_col: str,
    *,
    local: bool | None = None,
    n_rows: int | None = None,
    max_group_rows: int | None = None,
) -> DataFrame:
    """1-based per-group ROW_NUMBER in `order_cols` order, computed
    partition-parallel via grouped_exclusive_prefix_sum of a constant 1
    — the scale replacement for `row_number().over(Window.partitionBy(
    low_cardinality_key).orderBy(...))`. Deterministic iff (group,
    order) is a total order. `local`/`n_rows`/`max_group_rows`: see
    grouped_exclusive_prefix_sum (threaded through)."""
    tmp = "_grn_one"
    out = grouped_exclusive_prefix_sum(
        spark, df.withColumn(tmp, F.lit(1)), group_cols, order_cols,
        tmp, out_col, local=local, n_rows=n_rows,
        max_group_rows=max_group_rows,
    )
    return out.withColumn(
        out_col, (F.col(out_col) + F.lit(1)).cast("bigint")
    ).drop(tmp)


def global_running_max(
    spark: SparkSession,
    df: DataFrame,
    order_cols: list,  # str names or Column sort orders (F.desc(...))
    value_col: str,
    out_col: str,
    *,
    local: bool | None = None,
    n_rows: int | None = None,
) -> DataFrame:
    """`df` plus `out_col` = running MAX of `value_col` over the rows at
    or before this one in `order_cols` order (inclusive prefix max) —
    the exclusive_prefix_sum two-phase shape with max in place of sum:
    range-partition on the order key (pinned by localCheckpoint),
    collect the P per-partition maxima, turn them into exclusive prefix
    maxima on the driver, then greatest(within-partition running max,
    broadcast offset). Partition-parallel at any scale; NULL values are
    ignored by max in both phases. `local`/`n_rows` switch to one small
    single-task window below TWO_PHASE_MIN_ROWS (see
    exclusive_prefix_sum)."""
    from pyspark.sql import Window

    if _use_local(local, n_rows):
        w = (
            Window.orderBy(*order_cols)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return df.withColumn(out_col, F.max(value_col).over(w))
    p = max(spark.sparkContext.defaultParallelism, 2)
    part = (
        df.repartitionByRange(p, *order_cols)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(storageLevel=_DISK_ONLY())  # heap-safe, see above
    )
    maxima = part.groupBy("_pid").agg(F.max(value_col).alias("_m")).collect()
    offs, run = [], None
    for r in sorted(maxima, key=lambda r: r["_pid"]):
        offs.append((r["_pid"], run))
        if r["_m"] is not None and (run is None or r["_m"] > run):
            run = r["_m"]
    schema_val = dict(part.dtypes)[value_col]
    off_df = spark.createDataFrame(offs, f"_pid INT, _off {schema_val}")
    w = (
        Window.partitionBy("_pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local_max = F.max(value_col).over(w)
    return (
        part.join(F.broadcast(off_df), "_pid")
        .withColumn(out_col, F.greatest(local_max, F.col("_off")))
        .drop("_pid", "_off")
    )


def global_row_number(
    spark: SparkSession,
    df: DataFrame,
    order_cols: list,  # str names or Column sort orders (F.desc(...))
    out_col: str,
    *,
    local: bool | None = None,
    n_rows: int | None = None,
) -> DataFrame:
    """`df` plus `out_col` = 1-based global ROW_NUMBER() in `order_cols`
    order, computed partition-parallel as exclusive_prefix_sum of a
    constant 1 (per-partition row_number + broadcast partition offsets)
    — never an unpartitioned window funnelling the whole table through
    one task. Deterministic iff `order_cols` is a total order (unique
    full key); ties would land on whichever side of a sampled range
    boundary they fall. Spark's ASC default (NULLS FIRST) applies to
    both the range partitioning and the within-partition window, so a
    DuckDB oracle twin must pin NULLS FIRST explicitly. `local`/`n_rows`:
    see exclusive_prefix_sum (threaded through).
    """
    tmp = "_grn_one"
    out = exclusive_prefix_sum(
        spark, df.withColumn(tmp, F.lit(1)), order_cols, tmp, out_col,
        local=local, n_rows=n_rows,
    )
    return out.withColumn(
        out_col, (F.col(out_col) + F.lit(1)).cast("bigint")
    ).drop(tmp)


class SparkEngineBase(BaseEngine):
    def __init__(self, spark: SparkSession):
        self.spark = spark
        # transform memo: (input fingerprint, cmd, canonical JSON of arg)
        # -> output fingerprint. Sound because transforms are pure and
        # deterministic (engines.py) and the fingerprint is the value
        # identity dat_eq already uses. It skips only the fingerprint
        # job: every call still builds the real plan over the real input.
        self._fps: dict[tuple, tuple] = {}

    def dat_eq(self, a: SparkDat, b: SparkDat) -> bool:
        return a.fingerprint == b.fingerprint

    def release(self, dat: Any) -> None:
        if isinstance(dat, SparkDat):
            dat.df.unpersist()

    def dat_key(self, dat: SparkDat) -> str:
        return super().dat_key(dat.fingerprint)

    @staticmethod
    def _fp_key(cmd: int, arg, fingerprint: tuple) -> tuple:
        return (fingerprint, cmd, canonical_json_encode(arg))

    def _plan(self, cmd: int, arg, dat: SparkDat) -> tuple:
        """(plan over `dat` — `dat.df` itself on the no-op paths, memo
        key, memoized output fingerprint or None)."""
        key = self._fp_key(cmd, arg, dat.fingerprint)
        plan = self._apply_plan(cmd, arg, dat.df, dat.count)
        return plan, key, self._fps.get(key)

    def run_event_bare(self, cmd: int, arg: dict, dat: SparkDat) -> SparkDat:
        """The transform as a persisted state. A memo hit persists the
        lazy plan under the known fingerprint — no job until the state
        is read; a miss runs SparkDat.create's fingerprint job."""
        out, key, fp = self._plan(cmd, arg, dat)
        if out is dat.df:
            return dat  # no-op path: same value, no re-persist, no job
        if fp is not None:
            return SparkDat(df=out.persist(), fingerprint=fp)
        made = SparkDat.create(out, self.COLS)
        self._fps[key] = made.fingerprint
        return made

    # -- batched commutation testing (WorkCache.shelve_event seam) --------
    # Both states a commutation test derives are TRANSIENT — only their
    # fingerprints feed the verdict — so the engine computes every
    # candidate's pair in TWO tagged aggregate jobs total (VERDICT r8 #6)
    # over the same triple SparkDat.create collects: verdicts are
    # bit-identical to BaseEngine's sequential replay, proven by the
    # differential test in tests/test_spark_core.py.

    def run_event_transient(self, cmd: int, arg, dat: SparkDat) -> SparkDat:
        """`run_event_bare` for a result that will only ever be COMPARED
        (dat_eq = fingerprint equality), never replayed from: the value
        travels as a lazy plan + its fingerprint, skipping the persist a
        memoized state needs. At most one aggregate job (none on a memo
        hit), no block writes, nothing to unpersist. WorkCache uses this
        for the expected-state, safety-net, and commutation-test
        transients (VERDICT r8 #6)."""
        out, key, fp = self._plan(cmd, arg, dat)
        if out is dat.df:
            return dat  # no-op path: same value
        if fp is None:
            fp = self._fps[key] = self._batched_fingerprints([(0, out)])[0]
        return SparkDat(df=out, fingerprint=fp)

    def commute_batch(self, ev, tests, cur_st: SparkDat) -> dict:
        """Independence verdicts for candidate dependencies, batched.

        `tests` = [(key, conc_base: SparkDat, conc_ev: Event)]; for each,
        the verdict is the reference's commutation rule
        (workcache.rs:288-296): ev_first = ev(conc_base),
        ev_first_then = conc_ev(ev_first), independent iff
        fp(ev_first) != fp(ev_first_then) AND
        fp(ev_first_then) == fp(cur_st). Job 1 fingerprints every
        ev_first the transform memo lacks (also yielding its row count,
        which job 2's plans need); job 2 fingerprints every missing
        ev_first_then. A no-op plan takes its input's fingerprint and a
        job with nothing left to compute is skipped, so one candidate
        costs no more jobs than two run_event_transient calls."""
        # build each ev_first plan at most once, and only if a job needs
        # it: plan construction is not free for renumbering commands
        ev_first_plans: dict = {}

        def ev_first(key, base):
            if key not in ev_first_plans:
                ev_first_plans[key] = self._apply_plan(
                    ev.cmd, ev.arg, base.df, base.count
                )
            return ev_first_plans[key]

        k1 = {
            key: self._fp_key(ev.cmd, ev.arg, base.fingerprint)
            for key, base, _ in tests
        }
        self._memoize_fingerprints({
            k1[key]: (ev_first(key, base), base.df, base.fingerprint)
            for key, base, _ in tests
            if k1[key] not in self._fps
        })
        fp1 = {key: self._fps[k] for key, k in k1.items()}
        k2 = {
            key: self._fp_key(cev.cmd, cev.arg, fp1[key])
            for key, _, cev in tests
        }
        self._memoize_fingerprints({
            k2[key]: (
                self._apply_plan(
                    cev.cmd, cev.arg, ev_first(key, base), fp1[key][0]
                ),
                ev_first(key, base),
                fp1[key],
            )
            for key, base, cev in tests
            if k2[key] not in self._fps
        })
        fp2 = {key: self._fps[k] for key, k in k2.items()}
        return {
            key: fp1[key] != fp2[key] and fp2[key] == cur_st.fingerprint
            for key, _, _ in tests
        }

    def _memoize_fingerprints(self, plans: dict) -> None:
        """Fingerprint {memo key: (plan, input df, input fingerprint)}
        into the transform memo in ONE tagged aggregate job. A no-op plan
        (the input df itself) takes the input's fingerprint; no job runs
        when nothing is left to compute."""
        todo = []
        for key, (plan, df, fp) in plans.items():
            if plan is df:
                self._fps[key] = fp
            else:
                todo.append((key, plan))
        if todo:
            self._fps.update(self._batched_fingerprints(todo))

    def _batched_fingerprints(self, tagged_plans) -> dict:
        """Content fingerprints of many plans in ONE aggregate job: tag
        each plan, union, groupBy(tag). Exactly SparkDat.create's triple
        — (n, bit_xor(xxhash64(COLS)), sum(xxhash64 as decimal)) with the
        empty state normalized to (0, 0, 0); a plan with no output rows
        simply has no group row."""
        from functools import reduce

        h = F.xxhash64(*self.COLS)
        parts = [
            plan.select(F.lit(i).alias("_t"), h.alias("_h"))
            for i, (_, plan) in enumerate(tagged_plans)
        ]
        rows = (
            reduce(DataFrame.unionByName, parts)
            .groupBy("_t")
            .agg(*_fingerprint_aggs(F.col("_h")))
            .collect()
        )
        got = {r["_t"]: _fingerprint_of(r) for r in rows}
        return {
            key: got.get(i, (0, 0, 0))
            for i, (key, _) in enumerate(tagged_plans)
        }

    # -- snapshot spill seam (store.SnapshotStore) -------------------------
    # The reference memoizes every prefix state in RAM forever
    # (workcache.rs:14,100 — its documented flaw); the Spark engine can do
    # better because a dataset value is a DataFrame: spill = one parquet
    # write, reload = one scan, and the content fingerprint travels in a
    # sidecar file so equality checks after a reload cost NO job.

    def save_snapshot(self, dat: SparkDat, path: str) -> None:
        """Spill a dataset value to `path` (parquet + fingerprint sidecar).
        The sidecar is written LAST — its presence marks a complete spill."""
        import json

        dat.df.write.mode("overwrite").option("compression", "zstd").parquet(
            path + ".parquet"
        )
        with open(path + ".json", "w") as f:
            json.dump({"fingerprint": list(dat.fingerprint)}, f)

    def load_snapshot(self, path: str) -> SparkDat:
        """Reload a spilled dataset value. The DataFrame is persisted (the
        WorkCache compares states constantly) but the fingerprint comes
        from the sidecar — no recompute job."""
        import json

        with open(path + ".json") as f:
            fp = tuple(json.load(f)["fingerprint"])
        df = self.spark.read.parquet(path + ".parquet").persist()
        return SparkDat(df=df, fingerprint=fp)

    @staticmethod
    def snapshot_exists(path: str) -> bool:
        """A spill counts as present only when its sidecar exists AND its
        row count (fingerprint[0]) equals the row total in the parquet
        footers, read on the driver with pyarrow (no Spark job). A
        deleted or truncated part file thus makes the state a miss: it is
        replayed, and the next spill rewrites it, instead of loading
        wrong rows under the right fingerprint."""
        import json
        import os

        import pyarrow as pa
        import pyarrow.parquet as pq

        try:
            with open(path + ".json") as f:
                n = json.load(f)["fingerprint"][0]
            d = path + ".parquet"
            rows = sum(
                pq.ParquetFile(os.path.join(d, name)).metadata.num_rows
                for name in os.listdir(d)
                if name.endswith(".parquet") and name[0] not in "._"
            )
        except (OSError, ValueError, KeyError, pa.ArrowException):
            return False
        return rows == n

    @staticmethod
    def pin_snapshot(dat: SparkDat) -> None:
        """Materialize a freshly-loaded snapshot into the block manager
        so it survives its backing files being deleted (SnapshotStore.pop
        deletes the spill right after loading; the persisted scan is lazy
        until the first action)."""
        dat.df.count()

    @staticmethod
    def drop_snapshot(path: str) -> None:
        """Delete a spilled snapshot. The sidecar goes FIRST — it is the
        presence marker, so a partial delete fails safe (absent)."""
        import os
        import shutil

        try:
            os.remove(path + ".json")
        except OSError:
            pass
        shutil.rmtree(path + ".parquet", ignore_errors=True)


class SparkReplaceEngine(SparkEngineBase):
    """Distributed literal search-and-replace: cmd 0, arg = {"search",
    "replacement"}, dataset = (doc_id BIGINT, text STRING). Fully
    partition-parallel; no shuffle (fingerprint agg is map-side)."""

    COLS = ["doc_id", "text"]

    def init_data(self, df: DataFrame) -> SparkDat:
        return SparkDat.create(df, self.COLS)

    def from_texts(self, texts: list[str]) -> SparkDat:
        df = self.spark.createDataFrame(
            list(enumerate(texts)), "doc_id BIGINT, text STRING"
        )
        return self.init_data(df)

    def _apply_plan(self, cmd: int, arg: dict, df: DataFrame, n: int) -> DataFrame:
        if cmd != 0:
            raise CommandNotFound(cmd)
        return df.withColumn(
            "text", F.replace(F.col("text"), F.lit(arg["search"]), F.lit(arg["replacement"]))
        )


class SparkExEngine(SparkEngineBase):
    """ed/ex editor over an ordered lines DataFrame (line_no BIGINT
    0-based contiguous, text STRING). Address → selection; command →
    declarative DataFrame transform; renumber via row_number."""

    COLS = ["line_no", "text"]

    def init_data(self, lines: list[str]) -> SparkDat:
        df = self.spark.createDataFrame(
            list(enumerate(lines)), "line_no BIGINT, text STRING"
        )
        return SparkDat.create(df, self.COLS)

    def lines(self, dat: SparkDat) -> list[str]:
        return [r["text"] for r in dat.df.orderBy("line_no").collect()]

    # -- helpers ---------------------------------------------------------

    # Below this many rows a single-task row_number window is the cheapest
    # renumber (one tiny sort beats three distributed jobs); above it the
    # two-phase prefix sum keeps every stage partition-parallel. The
    # threshold is an upper bound on rows ONE task must sort — 1M short
    # lines is a few tens of MB.
    _RENUMBER_LOCAL_ROWS = 1 << 20

    def _global_index(
        self, df: DataFrame, order_cols: list[str], n_rows: int | None
    ) -> DataFrame:
        """(line_no, text) with line_no = 0-based contiguous global rank in
        `order_cols` order — the exclusive prefix sum of 1s, delegated to
        `exclusive_prefix_sum` (two-phase partition-parallel above
        _RENUMBER_LOCAL_ROWS, single tiny window below)."""
        local = n_rows is None or n_rows <= self._RENUMBER_LOCAL_ROWS
        bucket = None
        if not local:
            # the order key's domain IS known here: the leading column is
            # a (possibly fractional) position in [-0.5, n_rows], so a
            # fixed range bucketing is monotone and near-balanced by
            # construction — the deterministic bucket_of path keeps the
            # renumber a PURE PLAN (no eager checkpoint/collect at every
            # _apply_plan construction inside the shelve loop — round 12)
            p = max(self.spark.sparkContext.defaultParallelism, 2)
            lead = F.col(order_cols[0]).cast("double")
            bucket = F.least(
                F.lit(p - 1),
                F.greatest(
                    F.lit(0),
                    F.floor(
                        (lead + F.lit(1.0))
                        * F.lit(float(p))
                        / F.lit(float(n_rows + 2))
                    ),
                ),
            )
        out = exclusive_prefix_sum(
            self.spark,
            df.withColumn("_one", F.lit(1).cast("bigint")),
            order_cols,
            "_one",
            "line_no",
            local=local,
            bucket_of=bucket,
        )
        return out.select(F.col("line_no").cast("bigint").alias("line_no"), "text")

    def _renumber(self, df: DataFrame, n_rows: int | None = None) -> DataFrame:
        """Reassign contiguous line_no by (pos, sub) order."""
        return self._global_index(df, ["pos", "sub"], n_rows)

    def _new_rows(self, lines: list[str], pos, sub_start: int = 1) -> DataFrame:
        return self.spark.createDataFrame(
            [(float(pos), sub_start + k, t) for k, t in enumerate(lines)],
            "pos DOUBLE, sub BIGINT, text STRING",
        )

    def _apply_plan(self, cmd: int, arg: dict, df: DataFrame, n: int) -> DataFrame:
        """The command as a PURE PLAN over `df` (known to hold `n` rows):
        no persist, no fingerprint job — `commute_batch` unions many of
        these into one tagged aggregate. Returns `df` itself (same
        object) on the no-op paths so callers can skip re-materializing."""
        if cmd != 0:
            raise CommandNotFound(cmd)
        addr, kind = arg["addr"], arg["kind"]
        k = kind["kind"]
        t = addr["type"]

        # ---- empty dataset special cases (en.rs:107-114)
        if n == 0:
            selects_insertion = (t == "rngf" and addr["start"] == 0) or t == "last"
            if not selects_insertion:
                return df
            if k in ("append", "insert", "change"):
                return self.spark.createDataFrame(
                    list(enumerate(kind["lines"])), "line_no BIGINT, text STRING"
                )
            return df  # delete/substitute of an empty segment: no-op

        if t == "rgx":
            return self._rgx_plan(df, kind, addr["pattern"], n)

        # ---- contiguous selection [lo, hi) on n rows
        if t == "rng":
            s, e = addr["start"], addr["end"]
            if s >= n or s >= e:
                return df
            lo, hi = s, min(e, n)
        elif t == "rngf":
            s = addr["start"]
            if s > n:
                return df
            lo, hi = s, n  # s == n → empty insertion point at end
        elif t == "last":
            lo, hi = n - 1, n
        else:
            raise ValueError(f"unknown address type {t!r}")

        sel = (F.col("line_no") >= lo) & (F.col("line_no") < hi)

        if k == "substitute":
            return df.withColumn(
                "text",
                F.when(sel, F.regexp_replace("text", kind["pat"], kind["repl"])).otherwise(
                    F.col("text")
                ),
            )

        base = df.select(
            F.col("line_no").cast("double").alias("pos"), F.lit(0).alias("sub"), "text"
        )
        if k == "delete":
            return self._renumber(
                base.filter(~((F.col("pos") >= lo) & (F.col("pos") < hi))), n
            )
        if k == "append":
            # new lines right after the selected segment: boundary hi
            return self._renumber(
                base.unionByName(self._new_rows(kind["lines"], hi - 0.5)), n
            )
        if k == "insert":
            # before the segment: boundary lo
            return self._renumber(
                base.unionByName(self._new_rows(kind["lines"], lo - 0.5)), n
            )
        if k == "change":
            kept = base.filter(~((F.col("pos") >= lo) & (F.col("pos") < hi)))
            return self._renumber(
                kept.unionByName(self._new_rows(kind["lines"], lo - 0.5)), n
            )
        raise ValueError(f"unknown command kind {k!r}")

    def _rgx_plan(
        self, df: DataFrame, kind: dict, pattern: str, n: int | None = None
    ) -> DataFrame:
        """Per-line segments: each matching line is its own selected run
        (en.rs:143-148), so append/insert/change expand per matching line."""
        java_ok = True
        try:  # patterns are Rust-regex syntax; Java accepts the same basics
            re.compile(pattern)
        except re.error:
            java_ok = False
        if not java_ok:
            raise ValueError(f"invalid regex {pattern!r}")
        sel = F.col("text").rlike(pattern)
        k = kind["kind"]
        if k == "substitute":
            return df.withColumn(
                "text",
                F.when(sel, F.regexp_replace("text", kind["pat"], kind["repl"])).otherwise(
                    F.col("text")
                ),
            )
        if k == "delete":
            return self._global_index(df.filter(~sel), ["line_no"], n)
        lines_arr = F.array(*[F.lit(x) for x in kind["lines"]])
        if k == "append":
            arr = F.when(sel, F.concat(F.array(F.col("text")), lines_arr)).otherwise(
                F.array(F.col("text"))
            )
        elif k == "insert":
            arr = F.when(sel, F.concat(lines_arr, F.array(F.col("text")))).otherwise(
                F.array(F.col("text"))
            )
        elif k == "change":
            arr = F.when(sel, lines_arr).otherwise(F.array(F.col("text")))
        else:
            raise ValueError(f"unknown command kind {k!r}")
        exploded = df.select(
            "line_no", F.posexplode(arr).alias("sub", "new_text")
        ).select("line_no", "sub", F.col("new_text").alias("text"))
        return self._global_index(exploded, ["line_no", "sub"], n)
