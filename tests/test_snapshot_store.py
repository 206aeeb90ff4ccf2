"""SnapshotStore: the spillable WorkCache memo (VERDICT r7 #3).

The reference memoizes every materialized prefix state in RAM for the
process lifetime (ref workcache.rs:12-15,100 — its documented unbounded
cache). store.SnapshotStore bounds the persisted footprint: LRU
evictions spill to parquet keyed by the canonical state key, misses
reload from disk — in the same session or a brand-new one. Proven here:

  (a) a full shelve session under a persist budget smaller than its
      state count produces IDENTICAL event hashes to the unbounded run
      (spills actually happen along the way);
  (b) a NEW session over the same spill dir materializes a spilled
      state WITHOUT replaying a single event (run_event_bare counter);
  (c) the canonical state key is insertion-order independent, so the
      same logical state hits the same spill file.
"""

from __future__ import annotations

import pytest

from esvc_spark.core import Event, Graph, WorkCache
from esvc_spark.core.engines import BaseEngine, SearEngine, sear
from esvc_spark.core.spark_engine import SparkReplaceEngine
from esvc_spark.core.store import SnapshotStore


@pytest.fixture(scope="module")
def replace_engine(spark):
    return SparkReplaceEngine(spark)


class _CountingEngine:
    """Delegating wrapper that counts dataset transforms (= replays)."""

    def __init__(self, inner):
        self._inner = inner
        self.runs = 0

    def run_event_bare(self, cmd, arg, dat):
        self.runs += 1
        return self._inner.run_event_bare(cmd, arg, dat)

    def __getattr__(self, name):
        return getattr(self._inner, name)


_TEXTS = ["Hi, what's up??", "nothing up here", "Hi again", "what now"]
_EVENTS = [
    sear("Hi", "Hello"),
    sear("up", "down"),
    sear("Hello", "Hey"),
    sear("what", "which"),
]


def _shelve_chain(eng, sts=None):
    g = Graph()
    w = WorkCache(eng, eng.from_texts(_TEXTS), sts=sts)
    heads: set[bytes] = set()
    hashes = []
    for arg in _EVENTS:
        h = w.shelve_event(g, set(heads), Event(cmd=0, arg=arg))
        assert h is not None
        heads.add(h)
        hashes.append(h)
    return g, w, hashes


def test_budgeted_session_matches_unbounded(spark, replace_engine, tmp_path):
    """(a) persist_budget=1 (far below the session's prefix-state count)
    must not change a single inferred hash — and must actually spill."""
    _, w_free, hashes_free = _shelve_chain(replace_engine)
    assert len(w_free.sts) > 3  # the unbounded run really holds many states

    store = SnapshotStore(
        replace_engine, str(tmp_path / "spill"), persist_budget=1
    )
    _, w_tight, hashes_tight = _shelve_chain(replace_engine, sts=store)
    assert hashes_tight == hashes_free
    assert store.spills > 0  # the budget bound was actually enforced
    assert len(store) - 1 <= store.persist_budget  # base state is pinned
    w_free.prune()


def test_new_session_reuses_snapshot_without_replay(spark, tmp_path):
    """(b) a brand-new WorkCache over the same spill dir materializes a
    spilled state with ZERO engine transforms — the reference restarts
    from scratch; we restart from parquet."""
    spill = str(tmp_path / "spill")

    eng1 = _CountingEngine(SparkReplaceEngine(spark))
    store1 = SnapshotStore(eng1, spill, persist_budget=2)
    g, w1, hashes = _shelve_chain(eng1, sts=store1)
    final_state = frozenset(hashes)
    final_dat = w1.materialize(g, set(hashes))
    final_fp = final_dat.fingerprint
    assert store1.flush() > 0  # everything in-memory goes to disk

    eng2 = _CountingEngine(SparkReplaceEngine(spark))
    store2 = SnapshotStore(eng2, spill, persist_budget=2)
    w2 = WorkCache(eng2, eng2.from_texts(_TEXTS), sts=store2)
    dat2 = w2.materialize(g, set(hashes))
    assert eng2.runs == 0  # not one event replayed
    assert store2.loads >= 1
    assert dat2.fingerprint == final_fp
    # the reloaded frame carries the same rows, not just the same sidecar
    got = sorted(r["text"] for r in dat2.df.collect())
    want = sorted(r["text"] for r in final_dat.df.collect())
    assert got == want
    assert final_state in store2  # membership answered from disk


def test_state_key_is_order_insensitive():
    """(c) the canonical key hashes the SORTED hash set — the same
    logical state reuses the same spill file whatever the walk order."""
    a, b, c = b"\x01" * 64, b"\x02" * 64, b"\x03" * 64
    k1 = SnapshotStore.state_key(frozenset([a, b, c]))
    k2 = SnapshotStore.state_key(frozenset([c, a, b]))
    assert k1 == k2
    assert k1 != SnapshotStore.state_key(frozenset([a, b]))


def test_spill_dir_not_shared_across_different_base_data(spark, tmp_path):
    """(d) spill files are namespaced by the BASE state's fingerprint:
    event hashes cover only (cmd, arg, deps), so a second session over
    DIFFERENT init_data sharing the spill dir must REPLAY, never load
    the first corpus's snapshots (code-review r8 finding)."""
    spill = str(tmp_path / "spill")

    eng1 = _CountingEngine(SparkReplaceEngine(spark))
    store1 = SnapshotStore(eng1, spill, persist_budget=2)
    g, w1, hashes = _shelve_chain(eng1, sts=store1)
    store1.flush()

    other_texts = ["Hi there", "up and up", "Hello what"]
    eng2 = _CountingEngine(SparkReplaceEngine(spark))
    store2 = SnapshotStore(eng2, spill, persist_budget=2)
    w2 = WorkCache(eng2, eng2.from_texts(other_texts), sts=store2)
    dat2 = w2.materialize(g, set(hashes))
    assert eng2.runs > 0  # replayed — no cross-corpus snapshot reuse
    assert store2.loads == 0
    # and the result is the fold over corpus B, not corpus A's snapshot
    want = ["Hey there", "down and down", "Hey which"]
    got = sorted(r["text"] for r in dat2.df.collect())
    assert got == sorted(want)


def test_in_memory_spill_dir_not_shared_across_different_base_data(tmp_path):
    """(d) for an in-memory engine: the namespace is the base value's
    dat_key, so a second session over different init_data sharing the
    spill dir replays instead of loading the first session's state, and
    clear_spill deletes only its own namespace's files."""
    spill = str(tmp_path / "spill")
    eng = SearEngine()
    g = Graph()
    store1 = SnapshotStore(eng, spill, persist_budget=1)
    w1 = WorkCache(eng, "aaa", sts=store1)
    h = w1.shelve_event(g, set(), Event(cmd=0, arg=sear("a", "b")))
    assert w1.materialize(g, {h}) == "bbb"
    assert store1.flush() == 1

    store2 = SnapshotStore(eng, spill, persist_budget=1)
    w2 = WorkCache(eng, "xa", sts=store2)
    assert w2.materialize(g, {h}) == "xb"
    assert store2.loads == 0
    assert store2.clear_spill() == 0
    assert frozenset({h}) in store1  # the first session's spill survives
    assert store1.clear_spill() == 1


def test_repl_spill_dir_not_shared_across_different_init_lines(tmp_path):
    """(d) through the REPL's in-memory ExEngine: the same inserted line
    over different init_lines materializes each session's own lines."""
    import io

    from esvc_spark.cli import Repl

    out = io.StringIO()
    a = Repl(("hello",), spill_dir=str(tmp_path), persist_budget=1)
    a.handle_line("0,i", out, lambda: ["first"])
    assert a.materialize() == ("first", "hello")
    assert a.wc.sts.flush() >= 1
    b = Repl(("bye",), spill_dir=str(tmp_path), persist_budget=1)
    b.handle_line("0,i", out, lambda: ["first"])
    assert b.heads == a.heads  # the same event, over different lines
    assert b.materialize() == ("first", "bye")


def test_store_matches_dict_semantics_property():
    """(e) Hypothesis: under any interleaving of set / get / contains /
    pop against random state keys, SnapshotStore observationally equals
    a plain dict — whatever the LRU budget spilled in between. Runs on
    BaseEngine's spill seam (no Spark): values are ints, 'spill' is a
    pickle file."""
    import os
    import pickle
    import tempfile

    from hypothesis import given, settings
    from hypothesis import strategies as st


    keys = [frozenset(), *(frozenset([bytes([i])]) for i in range(5)),
            frozenset([b"\x01", b"\x02"])]
    ops = st.lists(
        st.tuples(
            st.sampled_from(["set", "get", "contains", "pop"]),
            st.integers(0, len(keys) - 1),
            st.integers(0, 99),
        ),
        max_size=40,
    )

    @settings(max_examples=60, deadline=None)
    @given(ops=ops, budget=st.integers(1, 3))
    def run(ops, budget):
        with tempfile.TemporaryDirectory() as d:
            store = SnapshotStore(BaseEngine(), d, persist_budget=budget)
            model: dict = {}
            for op, ki, val in ops:
                k = keys[ki]
                if op == "set":
                    store[k] = val
                    model[k] = val
                elif op == "contains":
                    assert (k in store) == (k in model)
                elif op == "get":
                    assert store.get(k, None) == model.get(k, None)
                elif op == "pop":
                    if k in model:
                        assert store.pop(k) == model.pop(k)
            # closing sweep: every surviving key readable with its value
            for k, v in model.items():
                assert store[k] == v

    run()


def test_pop_of_spilled_state_forgets_it():
    """Directed regression for the sequence the property may not reach:
    set -> evict (spill) -> pop must FORGET the state — a presence probe
    answering True afterwards would un-forget a pruned state."""
    import os
    import pickle
    import tempfile


    with tempfile.TemporaryDirectory() as d:
        store = SnapshotStore(BaseEngine(), d, persist_budget=1)
        k0, k1, k2 = (frozenset([bytes([i])]) for i in range(3))
        store[k0], store[k1], store[k2] = 1, 2, 3  # k0 evicted + spilled
        assert store.spills >= 1 and k0 in store
        assert store.pop(k0) == 1
        assert k0 not in store  # gone from memory AND disk


def test_overwrite_invalidates_stale_spill(tmp_path):
    """Directed regression for the property's flaky counterexample
    (code-review r8 #1): set k -> evict (spill) -> set k with a NEW
    value; the next eviction must not 'skip save' into the stale file
    and resurrect the old value."""
    store = SnapshotStore(BaseEngine(), str(tmp_path), persist_budget=1)
    k0, k1 = frozenset([b"\x00"]), frozenset([b"\x01"])
    store[k0] = 1
    store[k1] = 2  # k0 evicted, spilled as 1
    store[k0] = 99  # overwrite must invalidate the stale spill
    store[k1] = 2  # k0 evicted again — must SAVE 99, not skip
    assert store[k0] == 99


def test_pop_of_spilled_state_survives_file_deletion(spark, tmp_path):
    """Real-engine twin of the pop contract (code-review r8 #2): popping
    a SPILLED state deletes its backing parquet, so the returned frame
    must be pinned off the files first (pin_snapshot) — collecting it
    afterwards must work, not FileNotFoundException."""
    eng = SparkReplaceEngine(spark)
    store = SnapshotStore(eng, str(tmp_path / "spill"), persist_budget=1)
    k1, k2 = frozenset([b"\x01" * 64]), frozenset([b"\x02" * 64])
    store[frozenset()] = eng.from_texts(["base"])
    store[k1] = eng.from_texts(["hello world"])
    store[k2] = eng.from_texts(["other"])  # k1 evicted + spilled
    assert store.spills == 1
    dat = store.pop(k1)
    assert k1 not in store  # forgotten: memory AND disk
    assert [r["text"] for r in dat.df.collect()] == ["hello world"]


def test_repl_opts_into_snapshot_store(tmp_path):
    """The REPL's spill_dir option wires the bounded memo end-to-end:
    editing commands work, and the session's state memo IS a
    SnapshotStore with the requested budget."""
    import io

    from esvc_spark.cli import Repl

    r = Repl(("hello", "world"), spill_dir=str(tmp_path), persist_budget=2)
    out = io.StringIO()
    assert r.handle_line("0,i", out, lambda: ["first"]) is True
    assert r.materialize()[0] == "first"
    assert isinstance(r.wc.sts, SnapshotStore)
    assert r.wc.sts.persist_budget == 2


def _spill_then_damage(spark, tmp_path, damage):
    """Spill every state of the chain, apply `damage` to one non-empty
    part file of the final state's spill, then read the final state
    back through a new session's store. Returns the read-back value,
    that session's counting engine and store, and the final state."""
    import os

    import pyarrow.parquet as pq

    spill = str(tmp_path / "spill")
    eng1 = SparkReplaceEngine(spark)
    store1 = SnapshotStore(eng1, spill, persist_budget=2)
    g, w1, hashes = _shelve_chain(eng1, sts=store1)
    final_state = frozenset(hashes)
    w1.materialize(g, set(hashes))
    store1.flush()
    base = store1._path(final_state)
    assert eng1.snapshot_exists(base)
    d = base + ".parquet"
    part = next(
        os.path.join(d, f)
        for f in sorted(os.listdir(d))
        if f.endswith(".parquet")
        and pq.ParquetFile(os.path.join(d, f)).metadata.num_rows > 0
    )
    damage(part)

    eng2 = _CountingEngine(SparkReplaceEngine(spark))
    store2 = SnapshotStore(eng2, spill, persist_budget=2)
    w2 = WorkCache(eng2, eng2.from_texts(_TEXTS), sts=store2)
    assert final_state not in store2  # the damaged spill is a miss
    dat = w2.materialize(g, set(hashes))
    return dat, eng2, store2, final_state


def _assert_true_fingerprint(dat, eng2, store2, final_state):
    from esvc_spark.core.spark_engine import SparkDat

    assert eng2.runs >= 1  # replayed instead of loading the damaged spill
    fresh = SparkDat.create(dat.df, SparkReplaceEngine.COLS).fingerprint
    assert dat.fingerprint == fresh
    want = list(_TEXTS)
    for arg in _EVENTS:
        want = [t.replace(arg["search"], arg["replacement"]) for t in want]
    assert sorted(r["text"] for r in dat.df.collect()) == sorted(want)
    # the next spill rewrites the damaged files
    store2.flush()
    assert final_state in store2


def test_truncated_spill_part_file_is_a_miss(spark, tmp_path):
    """A spill whose parquet part file was truncated (sidecar intact)
    must not load: the state is replayed and carries its true
    fingerprint."""

    def truncate(part):
        with open(part, "rb") as f:
            data = f.read()
        with open(part, "wb") as f:
            f.write(data[: len(data) // 2])

    _assert_true_fingerprint(*_spill_then_damage(spark, tmp_path, truncate))


def test_deleted_spill_part_file_is_a_miss(spark, tmp_path):
    """A spill with one parquet part file deleted (sidecar intact) would
    load fewer rows under the full state's fingerprint; it must be a
    miss instead."""
    import os

    _assert_true_fingerprint(*_spill_then_damage(spark, tmp_path, os.remove))
