"""Graph persistence + import/merge + head compaction.

Parity with crates/exvc/src/main.rs:
  - save/load     ≙ main.rs:44-53, 267-276 (bincode+zstd → parquet+zstd)
  - import_merge  ≙ main.rs:54-111 (load foreign graph, idempotent append,
    union heads, minimize, try_merge, commit new head-set)
  - compact_heads ≙ main.rs:232-249 (re-minimize when > threshold heads)

The events table is the FIXTURES.md §B.1 schema:
    events_log(event_id BINARY, cmd INT, arg STRING(JSON),
               deps MAP<BINARY, BOOLEAN>)
    nstates(name STRING, heads ARRAY<BINARY>)

A graph is driver-sized metadata, so save_graph and load_graph write and
read both tables on the driver with pyarrow (zstd parquet, zero Spark
jobs); Spark reads the same directories unchanged. Spark is used only by
events_dataframe, which hands the event log to SQL.
"""

from __future__ import annotations

import json
import os
import shutil
from typing import Any

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import SparkSession
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    IntegerType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from .graph import Event, Graph, GraphError, IncludeSpec
from .workcache import WorkCache

EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", BinaryType(), False),
        StructField("cmd", IntegerType(), False),
        StructField("arg", StringType(), False),
        StructField("deps", MapType(BinaryType(), BooleanType()), False),
    ]
)

NSTATES_SCHEMA = StructType(
    [
        StructField("name", StringType(), False),
        StructField("heads", ArrayType(BinaryType()), False),
    ]
)


EVENTS_ARROW = pa.schema(
    [
        pa.field("event_id", pa.binary(), nullable=False),
        pa.field("cmd", pa.int32(), nullable=False),
        pa.field("arg", pa.string(), nullable=False),
        pa.field("deps", pa.map_(pa.binary(), pa.bool_()), nullable=False),
    ]
)

NSTATES_ARROW = pa.schema(
    [
        pa.field("name", pa.string(), nullable=False),
        pa.field("heads", pa.list_(pa.binary()), nullable=False),
    ]
)


def _event_rows(graph: Graph) -> list[tuple]:
    """events_log rows in EVENTS_SCHEMA column order, sorted by hash."""
    return [
        (h, ev.cmd, json.dumps(ev.arg, sort_keys=True), dict(ev.deps))
        for h, ev in sorted(graph.events.items())
    ]


def _write_table(rows: list[tuple], schema: pa.Schema, table_dir: str) -> None:
    """Replace the parquet table at `table_dir` with one zstd part file.
    The old table goes first, as with Spark's overwrite; the new part is
    written under a dot-prefixed name and renamed into place, so readers
    (pyarrow and Spark both skip `.` and `_` files) never see a partial
    file."""
    shutil.rmtree(table_dir, ignore_errors=True)
    os.makedirs(table_dir)
    table = pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows], schema=schema
    )
    tmp = os.path.join(table_dir, ".part-00000.parquet.tmp")
    pq.write_table(table, tmp, compression="zstd")
    os.replace(tmp, os.path.join(table_dir, "part-00000.zstd.parquet"))


def _read_table(table_dir: str, schema: pa.Schema) -> list[dict]:
    """The rows of the parquet table at `table_dir`, which must have the
    columns and types of `schema` (field names inside map and list types
    may differ: Spark's writer names them differently)."""
    table = pq.read_table(table_dir, columns=schema.names)
    got = {f.name: f.type for f in table.schema}
    want = {f.name: f.type for f in schema}
    if got != want:
        raise GraphError(f"{table_dir!r}: columns {got} are not {want}")
    return table.to_pylist()


def save_graph(spark: SparkSession | None, graph: Graph, path: str) -> None:
    """Write `graph` as the parquet directory store at `path`
    (events_log/ and nstates/). Runs on the driver with pyarrow; `spark`
    is unused and kept so existing callers need no change."""
    _write_table(_event_rows(graph), EVENTS_ARROW, os.path.join(path, "events_log"))
    nrows = [(name, sorted(heads)) for name, heads in sorted(graph.nstates.items())]
    _write_table(nrows, NSTATES_ARROW, os.path.join(path, "nstates"))


def load_graph(
    spark: SparkSession | None, path: str, arg_decode=json.loads
) -> Graph:
    """Read the parquet directory store at `path`, whether save_graph or
    Spark's writer produced it. Runs on the driver with pyarrow; `spark`
    is unused and kept so existing callers need no change. Raises
    GraphError when `path` is not a readable graph store."""
    try:
        events = _read_table(os.path.join(path, "events_log"), EVENTS_ARROW)
        nstates = _read_table(os.path.join(path, "nstates"), NSTATES_ARROW)
        g = Graph()
        for r in events:
            g.events[r["event_id"]] = Event(
                cmd=r["cmd"],
                arg=arg_decode(r["arg"]),
                deps=dict(r["deps"] or ()),
            )
        for r in nstates:
            g.nstates[r["name"]] = set(r["heads"])
    except (pa.ArrowException, OSError, ValueError) as e:
        raise GraphError(
            f"not a readable graph store {path!r}: {type(e).__name__}: {e}"
        ) from e
    return g


def ensure_events_idempotent(graph: Graph, other: Graph) -> None:
    """Append every event of `other` into `graph` in dependency order,
    collision-checked (≙ main.rs:68-87). The parquet-table equivalent of a
    MERGE INTO ... WHEN NOT MATCHED INSERT."""
    heads = other.nstates.get("", set(other.events.keys()))
    schedule = other.calculate_dependencies(
        set(), {h: IncludeSpec.INCLUDE_ALL for h in heads}
    )
    for h in schedule:
        ev = other.events[h]
        collision, got = graph.ensure_event(
            Event(cmd=ev.cmd, arg=ev.arg, deps=dict(ev.deps))
        )
        if collision is not None:
            from .graph import HashCollision

            raise HashCollision(got, collision)


def import_merge(wc: WorkCache, graph: Graph, other: Graph, state: str = "") -> set[bytes]:
    """Import a foreign graph and merge its head-set with ours
    (≙ main.rs:54-111). Returns the new merged head-set (also stored as
    nstates[state])."""
    ensure_events_idempotent(graph, other)
    ours = graph.nstates.get(state, set())
    theirs = other.nstates.get(state, set())
    union = {h: False for h in ours | theirs}
    minimized = set(graph.fold_state(union, expand=False).keys())
    wc.try_merge(graph, set(minimized | ours | theirs))
    merged = set(
        graph.fold_state({h: False for h in ours | theirs}, expand=False).keys()
    )
    graph.nstates[state] = merged
    return merged


def compact_heads(graph: Graph, state: str = "", threshold: int = 100) -> None:
    """Re-minimize a named head-set when it exceeds `threshold`
    (≙ main.rs:232-249)."""
    heads = graph.nstates.get(state)
    if heads and len(heads) > threshold:
        graph.nstates[state] = set(
            graph.fold_state({h: False for h in heads}, expand=False).keys()
        )


def append_head(graph: Graph, evid: bytes, state: str = "", threshold: int = 100) -> None:
    """Record a newly shelved event as a head (≙ main.rs:217-250)."""
    graph.nstates.setdefault(state, set()).add(evid)
    compact_heads(graph, state, threshold)


# ------------------------------------------------------- snapshot store
# The reference's WorkCache memoizes every materialized prefix state in
# RAM for the process lifetime (workcache.rs:14,100 — its documented
# unbounded-cache flaw; README.md:3-6 calls the whole design an
# anti-benchmark). SURVEY §4 maps that to "session persist + parquet
# spill by state-key" — this store is that mapping: an LRU-bounded
# in-session memo whose evictions spill to parquet keyed by the
# canonical state key, reloaded on miss (same session OR a brand-new
# one, which is strictly better than the reference: a restarted REPL
# replays nothing that was ever spilled).


class SnapshotStore:
    """dict-like state→dataset memo for WorkCache with an LRU persist
    budget and parquet spill.

    Keys are frozensets of event hashes (WorkCache states); the key's
    canonical form is the blake2b digest of the sorted hashes, so the
    same state maps to the same spill file across sessions. Values are
    engine dataset values; the engine supplies the spill seam
    (save_snapshot / load_snapshot / snapshot_exists — SparkEngineBase
    writes parquet + a fingerprint sidecar). The empty base state is
    pinned in memory (it is the session's init_data).

    Budget semantics: at most `persist_budget` non-base states stay
    materialized in the session (persisted DataFrames); inserting past
    the budget spills-and-releases the least-recently-USED entry.
    Reads re-admit spilled states (one parquet scan, zero replay)."""

    def __init__(self, engine, spill_dir: str, persist_budget: int = 8):
        from collections import OrderedDict

        self.engine = engine
        self.spill_dir = spill_dir
        self.persist_budget = max(1, int(persist_budget))
        self._mem: "OrderedDict[frozenset, Any]" = OrderedDict()
        self._ns: str | None = None  # spill namespace, fixed by the first write
        self.spills = 0
        self.loads = 0
        os.makedirs(spill_dir, exist_ok=True)

    @staticmethod
    def state_key(st: frozenset) -> str:
        import hashlib

        h = hashlib.blake2b(digest_size=16)
        for e in sorted(st):
            h.update(e)
        return h.hexdigest()

    def _path(self, st: frozenset) -> str:
        return os.path.join(
            self.spill_dir, f"st_{self._ns or ''}{self.state_key(st)}"
        )

    # -- mapping protocol (exactly what WorkCache uses: in / [] / get /
    #    pop / iteration over keys) ---------------------------------------
    def __contains__(self, st: frozenset) -> bool:
        if st in self._mem:
            return True
        return self.engine.snapshot_exists(self._path(st))

    def __getitem__(self, st: frozenset):
        if st in self._mem:
            self._mem.move_to_end(st)
            return self._mem[st]
        path = self._path(st)
        if not self.engine.snapshot_exists(path):
            raise KeyError(st)
        dat = self.engine.load_snapshot(path)
        self.loads += 1
        self._insert(st, dat)
        return dat

    def __setitem__(self, st: frozenset, dat) -> None:
        if self._ns is None:
            # spill files are namespaced by the BASE state's content
            # digest: event hashes cover only (cmd, arg, deps), so two
            # sessions sharing a spill dir over DIFFERENT init_data must
            # not resolve the same logical state to each other's
            # snapshots. WorkCache writes the empty state (its
            # init_data) first; a store written before its base keeps
            # the shared namespace, so no spilled state changes path
            self._ns = self.engine.dat_key(dat) + "_" if not st else ""
        # OVERWRITE must invalidate a stale spill: _spill skips the save
        # when a file already exists (re-evicting an unchanged reloaded
        # state must not rewrite parquet), so a file predating this new
        # value would silently resurrect the old one on the next
        # evict/reload cycle (found by the dict-semantics property:
        # set k / evict k / set k again)
        path = self._path(st)
        if self.engine.snapshot_exists(path):
            self.engine.drop_snapshot(path)
        self._insert(st, dat)

    def get(self, st: frozenset, default=None):
        try:
            return self[st]
        except KeyError:
            return default

    def pop(self, st: frozenset):
        """Strict mapping semantics: after pop the state is GONE — from
        memory AND from disk (WorkCache.prune means 'forget this state';
        a presence probe answering True afterwards would un-forget it).

        A spilled-only state is loaded DIRECTLY (no LRU re-admission —
        re-admitting could evict and parquet-write an unrelated hot
        entry for a value that is about to be forgotten) and PINNED off
        its files via the engine's pin_snapshot hook before they are
        deleted — a lazily-persisted scan would otherwise dangle."""
        path = self._path(st)
        if st in self._mem:
            dat = self._mem.pop(st)
        elif self.engine.snapshot_exists(path):
            dat = self.engine.load_snapshot(path)
            self.engine.pin_snapshot(dat)
            self.loads += 1
        else:
            raise KeyError(st)
        self.engine.drop_snapshot(path)
        return dat

    def clear_spill(self) -> int:
        """Delete every spill file in THIS store's namespace — the disk
        side of a full forget (in-memory entries are untouched). Needed
        because spilled-only states cannot be enumerated (their keys are
        one-way digests), so a targeted prune/pop can only reach states
        it knows by name; this is the wholesale complement. Returns the
        number of snapshots deleted."""
        import glob as _glob

        # a state key is 32 hex digits, so the shared namespace's
        # pattern matches no namespaced file
        sides = _glob.glob(
            os.path.join(self.spill_dir, f"st_{self._ns or ''}{'?' * 32}.json")
        )
        for side in sides:
            self.engine.drop_snapshot(side[: -len(".json")])
        return len(sides)

    def __iter__(self):
        return iter(list(self._mem))

    def __len__(self) -> int:
        return len(self._mem)

    def _insert(self, st: frozenset, dat) -> None:
        self._mem[st] = dat
        self._mem.move_to_end(st)
        while len(self._mem) - 1 > self.persist_budget:  # -1: pinned base
            victim = next(
                (k for k in self._mem if k and k != st), None
            )
            if victim is None:
                break
            self._spill(victim)

    def _spill(self, st: frozenset) -> None:
        dat = self._mem.pop(st)
        path = self._path(st)
        if not self.engine.snapshot_exists(path):
            self.engine.save_snapshot(dat, path)
            self.spills += 1
        self.engine.release(dat)

    def flush(self) -> int:
        """Spill every non-base in-memory state (end-of-session hook so a
        NEW session can reuse all of them). Returns states spilled."""
        n = 0
        for st in [k for k in self._mem if k]:
            self._spill(st)
            n += 1
        return n


def events_dataframe(spark: SparkSession, graph: Graph):
    """The event log as a DataFrame (for SQL over the DAG)."""
    return spark.createDataFrame(_event_rows(graph), EVENTS_SCHEMA)
