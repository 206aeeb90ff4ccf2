"""Spark-native dataset engines for the event-log core.

The reference requires whole-dataset-value equality (`Dat: PartialEq`,
esvc-traits/src/lib.rs:12-13) — the enabler for dependency inference. For
DataFrames that becomes a canonical, order-insensitive content fingerprint:

    fingerprint = (count, bit_xor(xxhash64(cols)), sum(xxhash64(cols)))

xor+sum+count of per-row 64-bit hashes is commutative/associative →
shuffle-order invariant, and cheap at any scale (map-side partial
aggregation, no sort, no collect of data). `_fingerprints_of` is the one
aggregate that computes it: any number of plans, tagged and unioned, in
ONE groupBy job. Every `run_event_bare` returns the new value with its
fingerprint known and its DataFrame persisted (lazily), because
shelve/merge compare states constantly and the WorkCache memoizes by
state anyway (workcache.rs:85-102 role). The engine's transform memo
maps (input fingerprint, cmd, arg) to the output fingerprint, and one
method (`SparkEngineBase._memo`) reads and fills it: the fingerprint job
runs the first time the engine applies a (cmd, arg) to a given input
fingerprint, and later applications run no job. The memo skips only
that job: `run_event_bare`/`run_event_transient` still build the
command's plan over its actual input DataFrame, so replay reads real
predecessor data.

Engines:
  - SparkReplaceEngine: literal search-and-replace over every row of a
    text corpus (doc_id, text) — the sear engine (workcache.rs:507-511)
    generalized to a distributed corpus. Uses F.replace (JVM, codegen).
  - SparkExEngine: the ed/ex line editor (en.rs:214-258) over an ordered
    lines DataFrame (line_no, text). Spark rows are unordered, so the
    reference's implicit vector order is an explicit line_no column
    (SURVEY.md §1.2). Every address resolves to row predicates and
    every command kind is one plan shape whatever the address: a
    projection (substitute), a filter (delete), or one array per row
    exploded in place (append/insert/change). Renumbering is one running
    count of rows in (input line_no, array position) order and switches
    on dataset size: below TWO_PHASE_MIN_ROWS the count runs over a
    single window (one-task sort, the cheapest plan at editor scale);
    above it within fixed line_no buckets, plus a broadcast per-bucket
    offset (bucket sizes summed cumulatively, `_offset_scan`) — no
    single-task stage at any size, so the editor holds up on
    corpus-of-lines datasets too.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from functools import partial, reduce
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import storage
from .engines import BaseEngine, CommandNotFound
from .graph import canonical_json_encode


def _fingerprints_of(plans: list[DataFrame], cols: list[str]) -> list[tuple]:
    """The content fingerprints of `plans` in ONE aggregate job: tag each
    plan, union, groupBy(tag) → (count, bit_xor, exact decimal sum) of
    the per-row xxhash64(cols). A plan with no rows has no group row and
    reads (0, 0, 0), the empty state."""
    h = F.xxhash64(*cols)
    tagged = [p.select(F.lit(i).alias("_t"), h.alias("_h"))
              for i, p in enumerate(plans)]
    rows = (
        reduce(DataFrame.unionByName, tagged)
        .groupBy("_t")
        .agg(F.count(F.lit(1)).alias("n"), F.bit_xor("_h").alias("x"),
             F.sum(F.col("_h").cast("decimal(38,0)")).alias("s"))
        .collect()
    )
    got = {r["_t"]: (r["n"], r["x"], int(r["s"])) for r in rows}
    return [got.get(i, (0, 0, 0)) for i in range(len(plans))]


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
        return SparkDat(df=df, fingerprint=_fingerprints_of([df], cols)[0])

    def __eq__(self, other: object) -> bool:
        return isinstance(other, SparkDat) and self.fingerprint == other.fingerprint

    def __hash__(self) -> int:
        return hash(self.fingerprint)


# Below this many ranked rows the single-window plan beats the two-phase
# machinery (repartitionByRange sampling pass + shuffle + DISK_ONLY
# checkpoint + per-partition sums and their broadcast offset join: a
# fixed ~0.3-0.5 s per invocation on a 4-vCPU host, vs one small sort).
# Crossover measured in-process, min-of-5 interleaved, global/grouped row-number and prefix-sum helpers
# on a synthetic frame, local window vs two-phase plan (round 8):
#   1e4 rows  global 0.12 vs 0.39 s  grouped 0.17 vs 0.38 s  (local wins)
#   1e5 rows  global 0.14 vs 0.35 s  grouped 0.23 vs 0.37 s  (local wins)
#   1e6 rows  global 0.43 vs 0.41 s  grouped 0.24 vs 0.51 s  (parity/local)
#   4e6 rows  global 1.74 vs 0.60 s  grouped 0.50 vs 0.96 s  (two-phase
#                                                             wins global)
# The global crossover sits at ~1e6; the grouped local window
# parallelizes over groups so it stays ahead longer, but n_rows bounds
# TOTAL rows (not the largest group), so one conservative constant
# serves both: 1<<20, the bound the editor's renumber gate
# (SparkExEngine._global_index) has used since r5. The probe's grouped3
# arm (3 balanced groups — the zonemap/zorder max_group_rows shape, its
# worst case short of one group) backs the per-group bound: at 1e6 rows / 333k per
# group local wins 0.21 vs 0.44 s, and even at 4e6 / 1.33M per group
# (past the bound) it still edges the two-phase plan 0.62 vs 0.85 s —
# the gate flips conservatively before the crossover, never after. Callers thread `n_rows` (any cheap
# UPPER BOUND, e.g. the parquet-metadata base-table count via
# catalog.table_rows) and the helper picks the path; an unknown bound
# keeps the distributed plan, so scale safety is the default.
TWO_PHASE_MIN_ROWS = 1 << 20


def _use_local(n_rows: int | None) -> bool:
    """The path switch: local only when the caller PROVED the input
    small (n_rows is an upper bound ≤ TWO_PHASE_MIN_ROWS). Unknown size
    → distributed."""
    return n_rows is not None and n_rows <= TWO_PHASE_MIN_ROWS


def _range_partitioned(spark: SparkSession, df: DataFrame, cols: list) -> DataFrame:
    """`df` range-partitioned on `cols` into P partitions, each row
    tagged with its partition id `_pid`, pinned by a localCheckpoint so
    every later read sees the same partitioning (a re-run of the sampled
    range boundaries could move rows between partitions)."""
    from pyspark import StorageLevel

    p = max(spark.sparkContext.defaultParallelism, 2)
    return (
        df.repartitionByRange(p, *cols)
        .withColumn("_pid", F.spark_partition_id())
        # DISK_ONLY: checkpoint blocks live outside the CacheManager and
        # survive clearCache(), so a long session running many two-phase
        # queries would otherwise accumulate them in the heap (observed:
        # OOM halfway through the 224-query sf0.1 attestation); the block
        # is scanned twice, disk read is fine
        .localCheckpoint(storageLevel=StorageLevel.DISK_ONLY)
    )


def _offset_scan(
    df: DataFrame, block: str, group_cols: list, order_cols: list,
    val, out_col: str,
) -> DataFrame:
    """`df` plus `out_col` = per-group exclusive running sum of the
    never-NULL column expression `val` in (`block`, `order_cols`)
    order, where `block` numbers contiguous ranges of that order (a
    range partition id, a fixed line_no bucket). Two phases, both in
    the plan: the per-(block, group) sums, each block's offset (the sum
    of its group's earlier blocks, from one window over those few
    rows) broadcast-joined back on null-safe keys, plus the running sum
    within the block. A pure plan (no job while it is built); it reads
    `df` twice, so `df` must be deterministic. `block` is dropped."""
    from pyspark.sql import Window

    keys = [block, *group_cols]
    # the offsets carry renamed keys, so the self-join cannot go ambiguous
    offs = df.groupBy(*keys).agg(F.sum(val).alias("_s")).select(
        *[F.col(c).alias(f"_k{i}") for i, c in enumerate(keys)],
        F.coalesce(
            F.sum("_s").over(
                Window.partitionBy(*group_cols).orderBy(block)
                .rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("_off"),
    )
    # NULL group keys (the degenerate-suite convention allows NULL
    # lang/event_type) get their offset like any other group. The block
    # is never NULL and joins on plain equality: a lone integral key
    # broadcasts as a compact long map, where a null-safe key would
    # build a byte map holding a whole memory page per broadcast
    cond = [F.col(block) == F.col("_k0")] + [
        F.col(c).eqNullSafe(F.col(f"_k{i}"))
        for i, c in enumerate(group_cols, 1)
    ]
    w = (
        Window.partitionBy(*keys)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        df.join(F.broadcast(offs), cond)
        .withColumn(out_col, F.sum(val).over(w) - val + F.col("_off"))
        .drop(block, "_off", *[f"_k{i}" for i in range(len(keys))])
    )


def grouped_exclusive_prefix_sum(
    spark: SparkSession,
    df: DataFrame,
    group_cols: list,
    order_cols: list,  # str names or Column sort orders (F.desc(...))
    value_col: str,
    out_col: str,
    *,
    n_rows: int | None = None,
    max_group_rows: int | None = None,
) -> DataFrame:
    """`df` plus `out_col` = per-GROUP exclusive prefix sum of
    `value_col` in `order_cols` order (row i gets the sum of its group's
    values strictly before it); `group_cols=[]` makes it one global
    prefix sum. It replaces the plan a per-group window over a
    LOW-CARDINALITY key produces at scale: a
    `Window.partitionBy(event_type)` over 1e9 events funnels each type's
    whole partition through one task, while this runs every stage
    partition-parallel. Range-partition on (group, order) so each
    group's rows are contiguous across partitions (`_range_partitioned`),
    then `_offset_scan` over the partition id: the P×|groups|
    per-(partition, group) sums, each partition's per-group offset from
    one window over them, broadcast back and added to the
    within-partition running sum — all inside the plan, nothing
    collected (use the plain grouped window instead when |groups| is
    high-cardinality, since then each group is small and the window
    already parallelizes, and the offsets table would not be).
    NULL `value_col` counts as 0 on both paths, so a nullable caller
    gets shifted-by-0 rows, never mixed NULL/shifted output.
    `n_rows` (any cheap UPPER bound on df's rows, e.g. the
    parquet-metadata base-table count) switches to a plain per-group
    window at or below TWO_PHASE_MIN_ROWS — at that size even the
    largest group is one small task; unknown keeps the two-phase plan.
    The per-group window's real single-task cost is the LARGEST GROUP's
    sort, so a caller whose groups are bounded by construction (e.g. a
    per-layout union of G copies of one table — every group is exactly
    that table) may pass `max_group_rows` instead of / alongside
    `n_rows`; either bound landing under the threshold selects the local
    plan. Both paths are bit-identical for exactly-summable values
    (tests/test_spark_core.py differential suite)."""
    from pyspark.sql import Window

    val = F.coalesce(F.col(value_col), F.lit(0))
    if _use_local(n_rows) or _use_local(max_group_rows):
        w = (
            Window.partitionBy(*group_cols)
            .orderBy(*order_cols)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return df.withColumn(out_col, F.sum(val).over(w) - val)
    part = _range_partitioned(spark, df, [*group_cols, *order_cols])
    return _offset_scan(part, "_pid", group_cols, order_cols, val, out_col)


def grouped_row_number(
    spark: SparkSession,
    df: DataFrame,
    group_cols: list,
    order_cols: list,
    out_col: str,
    *,
    n_rows: int | None = None,
    max_group_rows: int | None = None,
) -> DataFrame:
    """1-based per-group ROW_NUMBER (BIGINT) in `order_cols` order,
    computed partition-parallel via grouped_exclusive_prefix_sum of a
    constant 1 — the scale replacement for `row_number().over(
    Window.partitionBy(low_cardinality_key).orderBy(...))`;
    `group_cols=[]` gives the global ROW_NUMBER, never an unpartitioned
    window funnelling the whole table through one task. Deterministic
    iff (group, order) is a total order (a unique full key); ties would
    land on whichever side of a sampled range boundary they fall.
    Spark's ASC default (NULLS FIRST) applies to both the range
    partitioning and the within-partition window, so a DuckDB oracle
    twin must pin NULLS FIRST explicitly. `n_rows`/`max_group_rows`:
    see grouped_exclusive_prefix_sum (threaded through)."""
    tmp = "_grn_one"
    out = grouped_exclusive_prefix_sum(
        spark, df.withColumn(tmp, F.lit(1)), group_cols, order_cols,
        tmp, out_col, n_rows=n_rows, max_group_rows=max_group_rows,
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
    n_rows: int | None = None,
) -> DataFrame:
    """`df` plus `out_col` = running MAX of `value_col` over the rows at
    or before this one in `order_cols` order (inclusive prefix max) —
    the grouped_exclusive_prefix_sum two-phase shape (no groups) with
    max in place of sum: `_range_partitioned` on the order key, the P
    per-partition maxima, each partition's offset the max over the
    partitions before it (one window over P rows, inside the plan), then
    greatest(within-partition running max, broadcast offset).
    Partition-parallel at any scale;
    NULL values are ignored by max in both phases. `n_rows` switches to
    one small single-task window at or below TWO_PHASE_MIN_ROWS (see
    grouped_exclusive_prefix_sum)."""
    from pyspark.sql import Window

    if _use_local(n_rows):
        w = (
            Window.orderBy(*order_cols)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return df.withColumn(out_col, F.max(value_col).over(w))
    part = _range_partitioned(spark, df, order_cols)
    offs = part.groupBy("_pid").agg(F.max(value_col).alias("_m")).select(
        F.col("_pid").alias("_k"),
        F.max("_m").over(
            Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
        ).alias("_off"),
    )
    w = (
        Window.partitionBy("_pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local_max = F.max(value_col).over(w)
    return (
        part.join(F.broadcast(offs), F.col("_pid") == F.col("_k"))
        .withColumn(out_col, F.greatest(local_max, F.col("_off")))
        .drop("_pid", "_k", "_off")
    )


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

    def _memo(self, builds: dict) -> dict:
        """The output fingerprints of {memo key: thunk → (plan, input
        SparkDat)}, read from the transform memo and filled on a miss.
        A thunk runs only on a miss; a no-op plan (the input's DataFrame
        itself) takes the input's fingerprint; the other misses are
        fingerprinted together in one job, none when nothing is left."""
        todo = {}
        for key, build in builds.items():
            if key not in self._fps:
                plan, dat = build()
                if plan is dat.df:
                    self._fps[key] = dat.fingerprint
                else:
                    todo[key] = plan
        if todo:
            fps = _fingerprints_of(list(todo.values()), self.COLS)
            self._fps.update(zip(todo, fps))
        return {key: self._fps[key] for key in builds}

    def run_event_bare(self, cmd: int, arg: dict, dat: SparkDat) -> SparkDat:
        """The transform as a persisted state. A memo hit persists the
        lazy plan under the known fingerprint — no job until the state
        is read; a miss runs the fingerprint job over the persisted plan."""
        return self._run_event(cmd, arg, dat, persist=True)

    def run_event_transient(self, cmd: int, arg, dat: SparkDat) -> SparkDat:
        """`run_event_bare` for a result that will only ever be COMPARED
        (dat_eq = fingerprint equality), never replayed from: the value
        travels as a lazy plan + its fingerprint, skipping the persist a
        memoized state needs. At most one aggregate job (none on a memo
        hit), no block writes, nothing to unpersist. WorkCache uses this
        for the expected-state, safety-net, and commutation-test
        transients (VERDICT r8 #6)."""
        return self._run_event(cmd, arg, dat, persist=False)

    def _run_event(self, cmd: int, arg, dat: SparkDat, persist: bool) -> SparkDat:
        plan = self._apply_plan(cmd, arg, dat.df, dat.count)
        if plan is dat.df:
            return dat  # no-op path: same value, no re-persist, no job
        if persist:
            plan = plan.persist()  # before the job, which then fills it
        key = (dat.fingerprint, cmd, canonical_json_encode(arg))
        fp = self._memo({key: lambda: (plan, dat)})[key]
        return SparkDat(df=plan, fingerprint=fp)

    # -- batched commutation testing (WorkCache.shelve_event seam) --------
    # Both states a commutation test derives are TRANSIENT — only their
    # fingerprints feed the verdict — so the engine fingerprints every
    # candidate's pair with two `_memo` calls, at most one tagged
    # aggregate job each (VERDICT r8 #6): verdicts are bit-identical to
    # BaseEngine's sequential replay, proven by the differential test in
    # tests/test_spark_core.py.

    def commute_batch(self, ev, tests, cur_st: SparkDat) -> dict:
        """Independence verdicts for candidate dependencies, batched.

        `tests` = [(key, conc_base: SparkDat, conc_ev: Event)]; for each,
        the verdict is the reference's commutation rule
        (workcache.rs:288-296): ev_first = ev(conc_base),
        ev_first_then = conc_ev(ev_first), independent iff
        fp(ev_first) != fp(ev_first_then) AND
        fp(ev_first_then) == fp(cur_st). The first `_memo` call
        fingerprints every ev_first (its row count is what the second
        call's plans need), the second every ev_first_then, so one
        candidate costs no more jobs than two run_event_transient calls."""
        plans: dict = {}

        def ev_first(key, base):
            """(ev_first's plan, its input); the plan is built once."""
            if key not in plans:
                plans[key] = self._apply_plan(ev.cmd, ev.arg, base.df, base.count)
            return plans[key], base

        def ev_first_then(key, base, cev, fp):
            df = ev_first(key, base)[0]
            return (self._apply_plan(cev.cmd, cev.arg, df, fp[0]),
                    SparkDat(df=df, fingerprint=fp))

        ev_json = canonical_json_encode(ev.arg)
        k1 = {key: (base.fingerprint, ev.cmd, ev_json) for key, base, _ in tests}
        got = self._memo({
            k1[key]: partial(ev_first, key, base) for key, base, _ in tests
        })
        fp1 = {key: got[k] for key, k in k1.items()}
        k2 = {
            key: (fp1[key], cev.cmd, canonical_json_encode(cev.arg))
            for key, _, cev in tests
        }
        got = self._memo({
            k2[key]: partial(ev_first_then, key, base, cev, fp1[key])
            for key, base, cev in tests
        })
        fp2 = {key: got[k] for key, k in k2.items()}
        return {
            key: fp1[key] != fp2[key] and fp2[key] == cur_st.fingerprint
            for key in k1
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
        storage.write_bytes(
            path + ".json",
            json.dumps({"fingerprint": list(dat.fingerprint)}).encode(),
        )

    def load_snapshot(self, path: str) -> SparkDat:
        """Reload a spilled dataset value. The DataFrame is persisted (the
        WorkCache compares states constantly) but the fingerprint comes
        from the sidecar — no recompute job."""
        import json

        fp = tuple(json.loads(storage.read_bytes(path + ".json"))["fingerprint"])
        df = self.spark.read.parquet(path + ".parquet").persist()
        return SparkDat(df=df, fingerprint=fp)

    @staticmethod
    def snapshot_exists(path: str) -> bool:
        """A spill counts as present only when its sidecar exists AND its
        row count (fingerprint[0]) equals the row total in the parquet
        footers, read on the driver (no Spark job). A deleted or
        truncated part file thus makes the state a miss: it is replayed,
        and the next spill rewrites it, instead of loading wrong rows
        under the right fingerprint."""
        import json

        import pyarrow as pa

        try:
            n = json.loads(storage.read_bytes(path + ".json"))["fingerprint"][0]
            return storage.parquet_rows(path + ".parquet") == n
        except (OSError, ValueError, KeyError, pa.ArrowException):
            return False

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
        storage.delete(path + ".json")
        storage.delete(path + ".parquet")


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
    0-based contiguous, text STRING). One algorithm for every address,
    as in ExEngine (en.rs:105-188): the address resolves to row
    predicates (`_segments`) and each command kind is one plan shape —
    substitute a projection, delete a filter, append/insert/change one
    array per row exploded in place — renumbered by `_global_index`."""

    COLS = ["line_no", "text"]

    def _lines_df(self, lines: list[str]) -> DataFrame:
        return self.spark.createDataFrame(
            list(enumerate(lines)), "line_no BIGINT, text STRING"
        )

    def init_data(self, lines: list[str]) -> SparkDat:
        return SparkDat.create(self._lines_df(lines), self.COLS)

    def lines(self, dat: SparkDat) -> list[str]:
        return [r["text"] for r in dat.df.orderBy("line_no").collect()]

    # -- helpers ---------------------------------------------------------

    def _global_index(
        self, df: DataFrame, order_cols: list[str], n_rows: int
    ) -> DataFrame:
        """(line_no, text) with line_no = 0-based contiguous global rank in
        `order_cols` order: a running count of rows, minus 1, in one
        select. At or below TWO_PHASE_MIN_ROWS the count runs over one
        window (1M short lines, the most ONE task sorts, is a few tens
        of MB). Above it the leading order column, the input's line_no
        in [0, n_rows), buckets the rows by fixed ranges, monotone and
        balanced by construction, and `_offset_scan` over the bucket
        counts the rows within each bucket plus a broadcast per-bucket
        offset (the bucket sizes before it) — the same offset scan the
        two-phase prefix-sum helpers run over range partitions, without
        their checkpoint. Either way the renumber is a PURE PLAN (no job
        while it is built), which commute_batch relies on when one
        commutation round builds many plans. The bucketed plan reads
        `df` twice (bucket sizes and the within-bucket count), so `df`
        must be deterministic; every editor plan is (a filter or an
        explode over a persisted state). The count is BIGINT: one bucket
        can outgrow row_number's int range."""
        from pyspark.sql import Window

        rank = F.count(F.lit(1))
        running = (Window.unboundedPreceding, Window.currentRow)
        if _use_local(n_rows):
            w = Window.orderBy(*order_cols).rowsBetween(*running)
            return df.select((rank.over(w) - 1).alias("line_no"), "text")
        p = max(self.spark.sparkContext.defaultParallelism, 2)
        df = df.withColumn(
            "_b", F.floor(F.col(order_cols[0]) * F.lit(p) / F.lit(n_rows))
        )
        return _offset_scan(
            df, "_b", [], order_cols, F.lit(1), "line_no"
        ).select("line_no", "text")

    @staticmethod
    def _segments(addr: dict, n: int):
        """The address over `n` > 0 rows as row predicates (sel, first,
        last): the selected rows, and the first and the last row of each
        selected run (≙ resolve_addr). None when no row is selected."""
        t = addr["type"]
        if t == "rgx":
            pattern = addr["pattern"]
            try:  # patterns are Rust-regex syntax; Java accepts the same basics
                re.compile(pattern)
            except re.error:
                raise ValueError(f"invalid regex {pattern!r}") from None
            # each matching line is its own one-line run (en.rs:143-148)
            sel = F.col("text").rlike(pattern)
            return sel, sel, sel
        if t == "rng":
            lo, hi = addr["start"], min(addr["end"], n)
        elif t == "rngf":
            lo, hi = addr["start"], n
        elif t == "last":
            lo, hi = n - 1, n
        else:
            raise ValueError(f"unknown address type {t!r}")
        if lo >= hi:
            return None
        line = F.col("line_no")
        return (line >= lo) & (line < hi), line == lo, line == hi - 1

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
        inserts = k in ("append", "insert", "change")

        # ---- empty dataset special cases (en.rs:107-114)
        if n == 0:
            selects_insertion = (t == "rngf" and addr["start"] == 0) or t == "last"
            if selects_insertion and inserts:
                return self._lines_df(kind["lines"])
            return df  # nothing selected, or delete/substitute of nothing

        if t == "rngf" and addr["start"] == n:
            # the empty insertion point after the last line: inserting
            # there appends to the last line; delete/substitute are no-ops
            if not inserts:
                return df
            addr, k = {"type": "last"}, "append"
        seg = self._segments(addr, n)
        if seg is None:
            return df
        sel, first, last = seg

        if k == "substitute":
            return df.withColumn(
                "text",
                F.when(sel, F.regexp_replace("text", kind["pat"], kind["repl"])).otherwise(
                    F.col("text")
                ),
            )
        if k == "delete":
            return self._global_index(df.filter(~sel), ["line_no"], n)
        text = F.array(F.col("text"))
        new = F.array(*[F.lit(x) for x in kind["lines"]])
        if k == "append":
            arr = F.when(last, F.concat(text, new))
        elif k == "insert":
            arr = F.when(first, F.concat(new, text))
        elif k == "change":
            arr = F.when(first, new).when(sel, F.array())
        else:
            raise ValueError(f"unknown command kind {k!r}")
        rows = df.select(
            "line_no", F.posexplode(arr.otherwise(text)).alias("sub", "text")
        )
        return self._global_index(rows, ["line_no", "sub"], n)
