"""The event-log core driven through the Spark-native engines: DataFrame
datasets, content-fingerprint equality, distributed transforms."""

from __future__ import annotations

import pytest

from esvc_spark.core import Event, Graph, IncludeSpec, WorkCache
from esvc_spark.core.dot import to_dot
from esvc_spark.core.engines import sear
from esvc_spark.core.exparse import make_command, parse_address
from esvc_spark.core.spark_engine import SparkExEngine, SparkReplaceEngine
from esvc_spark.core.store import (
    EVENTS_SCHEMA,
    HEAD_THRESHOLD,
    NSTATES_SCHEMA,
    append_head,
    compact_heads,
    import_merge,
    load_graph,
    save_graph,
)

from .conftest import PATH_FORMS, path_in_form

ALL = IncludeSpec.INCLUDE_ALL


@pytest.fixture(scope="module")
def replace_engine(spark):
    return SparkReplaceEngine(spark)


@pytest.fixture(scope="module")
def ex_engine(spark):
    return SparkExEngine(spark)


def test_spark_replace_shelve_and_replay(spark, replace_engine):
    """Distributed sear: shelve a chain over a small corpus, replay equals
    the sequential per-document fold."""
    texts = ["Hi, what's up??", "nothing up here", "Hi again"]
    eng = replace_engine
    dat0 = eng.from_texts(texts)
    g = Graph()
    w = WorkCache(eng, dat0)
    events = [sear("Hi", "Hello"), sear("up", "down"), sear("Hello", "Hey")]
    xs: set[bytes] = set()
    for arg in events:
        h = w.shelve_event(g, set(xs), Event(cmd=0, arg=arg))
        assert h is not None
        xs.add(h)
    got, tt = w.run_foreach_recursively(g, {h: ALL for h in xs})
    expected = list(texts)
    for arg in events:
        expected = [t.replace(arg["search"], arg["replacement"]) for t in expected]
    rows = {r["doc_id"]: r["text"] for r in got.df.collect()}
    assert [rows[i] for i in range(len(texts))] == expected
    assert tt == frozenset(xs)


def test_spark_replace_noop_rejected(spark, replace_engine):
    eng = replace_engine
    dat0 = eng.from_texts(["aaa"])
    g = Graph()
    w = WorkCache(eng, dat0)
    assert w.shelve_event(g, set(), Event(cmd=0, arg=sear("zzz", "q"))) is None


def test_spark_ex_engine_matches_local_oracle(spark, ex_engine, monkeypatch):
    """Every editor command on the lines DataFrame matches the in-memory
    ExEngine (the reference-parity implementation): a short script, then
    a table of every address form × every command kind × data of 0, 1,
    4 and 37 lines, on both renumber paths. The table's plans are
    tagged, unioned and collected once per dataset and path. Every plan
    is built without a Spark job, valid or not: commute_batch builds
    many per round and relies on that."""
    from functools import reduce

    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    from esvc_spark.core import spark_engine
    from esvc_spark.core.engines import ExEngine as LocalEx

    local = LocalEx()
    eng = ex_engine
    start = ["foo one", "bar", "foo two", "baz"]
    script = [
        ("$", "append", ["tail1", "tail2"]),
        ("/foo/", "substitute", ["foo", "FOO"]),
        ("1,3", "delete", None),
        ("0,", "insert", ["head"]),
        ("2", "change", ["mid"]),
        ("/a/", "append", ["after-a"]),
        ("1,", "delete", None),
    ]
    sdat = eng.init_data(start)
    ldat = tuple(start)
    for addr_s, cmd, body in script:
        addr, rest = parse_address(addr_s)
        assert rest == ""
        arg = make_command(addr, cmd, body)
        sdat = eng.run_event_bare(0, arg, sdat)
        ldat = local.run_event_bare(0, arg, ldat)
        assert eng.lines(sdat) == list(ldat), f"divergence after {addr_s}{cmd}"

    kinds = [
        (cmd, body)
        for cmd in ("append", "insert", "change")
        for body in ([], ["new1", "new2"])
    ] + [("delete", None), ("substitute", ["o", "0"])]

    def addresses(n):
        # $, regexes (some, every, no line), N, N,M, N,M past the end,
        # N, (from the top, mid-way, the empty insertion point at n),
        # and N / N, past the end
        return ["$", "/o/", "/^/", "/zzz/", "0", "1", "1,3", "2,99", "0,",
                "2,", f"{n},", f"{n + 2}", f"{n + 2},"]

    for threshold in (spark_engine.TWO_PHASE_MIN_ROWS, 0):
        monkeypatch.setattr(spark_engine, "TWO_PHASE_MIN_ROWS", threshold)
        for n in (0, 1, 4, 37):
            data = [f"{'foo' if i % 3 == 0 else 'bar'} {i}" for i in range(n)]
            sdat = eng.init_data(data)
            cases, plans = [], []
            for addr_s in addresses(n):
                addr, rest = parse_address(addr_s)
                assert rest == ""
                for cmd, body in kinds:
                    arg = make_command(addr, cmd, body)
                    want = local.run_event_bare(0, arg, tuple(data))
                    plan, jobs = _jobs_of(
                        spark, eng._apply_plan, 0, arg, sdat.df, sdat.count
                    )
                    assert jobs == 0, (threshold, n, addr_s, cmd)
                    if plan is sdat.df:  # the no-op path returns its input
                        assert list(want) == data, (threshold, addr_s, cmd)
                        continue
                    plans.append(plan.select(
                        F.lit(len(cases)).alias("case"), "line_no", "text"
                    ))
                    cases.append((addr_s, cmd, body, list(want)))
            got: dict = {}
            for r in reduce(DataFrame.unionByName, plans).collect():
                got.setdefault(r["case"], []).append((r["line_no"], r["text"]))
            for i, (addr_s, cmd, body, want) in enumerate(cases):
                rows = sorted(got.get(i, []))
                assert rows == list(enumerate(want)), (
                    threshold, n, addr_s, cmd, body, rows, want
                )

            # an invalid pattern is rejected while the plan is built,
            # before any Spark job, whatever the command
            if n:
                bad, _ = parse_address("/(/")
                for cmd, body in kinds:
                    arg = make_command(bad, cmd, body)

                    def build(arg=arg):
                        with pytest.raises(ValueError, match="invalid regex"):
                            eng._apply_plan(0, arg, sdat.df, sdat.count)

                    assert _jobs_of(spark, build)[1] == 0, cmd
            sdat.df.unpersist()


def test_spark_ex_distributed_renumber_matches_local(spark, ex_engine, monkeypatch):
    """Force the large-dataset renumber path (running count within fixed
    line_no buckets plus broadcast bucket offsets) by zeroing the
    threshold and check the full editor script stays
    bit-identical to the in-memory ExEngine — the differential contract
    for the no-single-task-sort plan."""
    from esvc_spark.core import spark_engine
    from esvc_spark.core.engines import ExEngine as LocalEx

    monkeypatch.setattr(spark_engine, "TWO_PHASE_MIN_ROWS", 0)
    local = LocalEx()
    eng = ex_engine
    # enough lines to span several range partitions
    start = [f"line {i} {'odd' if i % 2 else 'even'}" for i in range(197)]
    script = [
        ("/odd/", "delete", None),
        ("$", "append", ["tail1", "tail2"]),
        ("/even/", "append", ["after-even"]),
        ("5,40", "delete", None),
        ("0,", "insert", ["head"]),
        ("/line 1[0-9]0/", "change", ["rounded"]),
    ]
    sdat = eng.init_data(start)
    ldat = tuple(start)
    for addr_s, cmd, body in script:
        addr, rest = parse_address(addr_s)
        assert rest == ""
        arg = make_command(addr, cmd, body)
        sdat = eng.run_event_bare(0, arg, sdat)
        ldat = local.run_event_bare(0, arg, ldat)
        assert eng.lines(sdat) == list(ldat), f"divergence after {addr_s}{cmd}"


def test_spark_ex_empty_data(spark, ex_engine):
    eng = ex_engine
    empty = eng.init_data([])
    addr, _ = parse_address("$")
    out = eng.run_event_bare(0, make_command(addr, "append", ["x"]), empty)
    assert eng.lines(out) == ["x"]
    addr, _ = parse_address("1")
    out2 = eng.run_event_bare(0, make_command(addr, "append", ["x"]), empty)
    assert eng.lines(out2) == []


def test_substitute_dollar_zero_is_whole_match(spark, ex_engine):
    """`$0` in a substitute replacement is the whole match in both
    editors, as in Java and Rust regex (not a NUL character)."""
    from esvc_spark.core.engines import ExEngine as LocalEx

    addr, _ = parse_address("/ab/")
    arg = make_command(addr, "substitute", ["ab", "<$0>"])
    assert LocalEx().run_event_bare(0, arg, ("ab",)) == ("<ab>",)
    out = ex_engine.run_event_bare(0, arg, ex_engine.init_data(["ab"]))
    assert ex_engine.lines(out) == ["<ab>"]


def test_graph_store_roundtrip(spark, tmp_path, replace_engine):
    eng = replace_engine
    dat0 = eng.from_texts(["hello world"])
    g = Graph()
    w = WorkCache(eng, dat0)
    h1 = w.shelve_event(g, set(), Event(cmd=0, arg=sear("hello", "goodbye")))
    append_head(g, h1)
    path = str(tmp_path / "graph")
    save_graph(spark, g, path)
    g2 = load_graph(spark, path)
    assert set(g2.events) == set(g.events)
    assert g2.events[h1].arg == g.events[h1].arg
    assert g2.events[h1].deps == g.events[h1].deps
    assert g2.nstates[""] == {h1}


def _store_case(name: str) -> Graph:
    """Graphs that exercise every column of the graph store."""
    g = Graph()
    if name == "empty":
        return g
    _, h1 = g.ensure_event(Event(cmd=0, arg=sear("a", "b")))
    if name == "no_deps":
        g.nstates[""] = {h1}
        return g
    _, h2 = g.ensure_event(Event(cmd=3, arg=sear("b", "c"), deps={h1: True}))
    _, h3 = g.ensure_event(
        Event(cmd=0, arg=sear("x", "y"), deps={h1: False, h2: True})
    )
    if name == "soft_deps":
        g.nstates[""] = {h3}
        return g
    _, h4 = g.ensure_event(
        Event(cmd=0, arg=sear("Grüße", "日本語 → ✓\n"), deps={h2: False})
    )
    g.nstates.update({"": {h3, h4}, "old": {h1}, "none": set(), "ü": {h4}})
    return g


_STORE_CASES = ["empty", "no_deps", "soft_deps", "named_heads_non_ascii"]


def _assert_same_graph(got: Graph, want: Graph) -> None:
    assert got.events == want.events  # Event equality covers the deps
    assert got.nstates == want.nstates


def _spark_save_graph(spark, graph: Graph, path: str) -> None:
    """The Spark writer of the graph store before it moved to pyarrow:
    one createDataFrame -> repartition(1) -> zstd write per table."""
    import json
    import os

    rows = [
        (h, ev.cmd, json.dumps(ev.arg, sort_keys=True), dict(ev.deps))
        for h, ev in sorted(graph.events.items())
    ]
    spark.createDataFrame(rows, EVENTS_SCHEMA).repartition(1).write.mode(
        "overwrite"
    ).option("compression", "zstd").parquet(os.path.join(path, "events_log"))
    nrows = [(n, sorted(hs)) for n, hs in sorted(graph.nstates.items())]
    spark.createDataFrame(nrows, NSTATES_SCHEMA).repartition(1).write.mode(
        "overwrite"
    ).option("compression", "zstd").parquet(os.path.join(path, "nstates"))


@pytest.mark.parametrize("form", PATH_FORMS)
def test_graph_store_roundtrip_cases(tmp_path, clean_cwd, form):
    """Every case round-trips, each saved over the previous one in the
    same directory (save_graph replaces both tables), whether the store
    is named by a plain path or a `file:` URI."""
    path = path_in_form(tmp_path / "graph", form)
    for name in _STORE_CASES + _STORE_CASES[::-1]:
        g = _store_case(name)
        save_graph(None, g, path)
        _assert_same_graph(load_graph(None, path), g)
    assert not (clean_cwd / "file:").exists()


@pytest.mark.parametrize("table", ["events_log", "nstates"])
def test_graph_store_swap_survives_crash(tmp_path, monkeypatch, table):
    """A crash between deleting a table and moving its stage in
    (injected in storage's move step) leaves the table absent; the next
    load_graph rolls the staged tables forward and returns the new
    graph."""
    import os

    from esvc_spark.core import storage

    path = str(tmp_path / "graph")
    save_graph(None, _store_case("no_deps"), path)
    new = _store_case("named_heads_non_ascii")
    real_move = storage._move

    def crash_before_move(fs, src, dst):
        if src.endswith(f"{table}_stage"):
            raise OSError("injected crash before the stage move")
        real_move(fs, src, dst)

    monkeypatch.setattr(storage, "_move", crash_before_move)
    with pytest.raises(OSError, match="injected"):
        save_graph(None, new, path)
    monkeypatch.undo()
    assert not os.path.exists(os.path.join(path, table))  # the crash window
    _assert_same_graph(load_graph(None, path), new)


def test_graph_store_uncommitted_save_loads_old_graph(tmp_path, monkeypatch):
    """A save that dies before the nstates stage is complete never
    committed: load_graph deletes both stages, including the complete
    events_log one, and returns the old graph whole."""
    from esvc_spark.core import storage

    path = str(tmp_path / "graph")
    old = _store_case("soft_deps")
    save_graph(None, old, path)
    real_write = storage.write_bytes

    def crash_on_nstates_marker(p, data):
        if p.endswith("nstates_stage/_SUCCESS"):
            raise OSError("injected crash before the nstates marker")
        real_write(p, data)

    monkeypatch.setattr(storage, "write_bytes", crash_on_nstates_marker)
    with pytest.raises(OSError, match="injected"):
        save_graph(None, _store_case("named_heads_non_ascii"), path)
    monkeypatch.undo()
    _assert_same_graph(load_graph(None, path), old)


def test_graph_store_issues_no_spark_jobs(spark, tmp_path):
    """save_graph + load_graph run on the driver: zero Spark jobs."""
    g = _store_case("named_heads_non_ascii")
    path = str(tmp_path / "graph")

    def save_and_load():
        save_graph(spark, g, path)
        return load_graph(spark, path)

    got, jobs = _jobs_of(spark, save_and_load)
    assert jobs == 0
    _assert_same_graph(got, g)


@pytest.mark.parametrize("name", _STORE_CASES)
def test_graph_store_loads_spark_written_dir(spark, tmp_path, name):
    """A store written by Spark's parquet writer (part files, _SUCCESS,
    .crc files) loads to an equal Graph, and save_graph can overwrite
    it."""
    import os

    g = _store_case(name)
    path = str(tmp_path / "graph")
    _spark_save_graph(spark, g, path)
    assert "_SUCCESS" in os.listdir(os.path.join(path, "events_log"))
    _assert_same_graph(load_graph(spark, path), g)
    save_graph(spark, _store_case("no_deps"), path)
    _assert_same_graph(load_graph(spark, path), _store_case("no_deps"))


def test_graph_store_schema_as_spark_reads_it(spark, tmp_path):
    """Spark reads a save_graph store with the column names and types
    of EVENTS_SCHEMA and NSTATES_SCHEMA, and the same rows."""
    import os

    g = _store_case("named_heads_non_ascii")
    path = str(tmp_path / "graph")
    save_graph(spark, g, path)
    for table, schema, n in (
        ("events_log", EVENTS_SCHEMA, len(g.events)),
        ("nstates", NSTATES_SCHEMA, len(g.nstates)),
    ):
        df = spark.read.parquet(os.path.join(path, table))
        assert [(f.name, f.dataType) for f in df.schema] == [
            (f.name, f.dataType) for f in schema
        ]
        assert df.count() == n
    heads = {
        r["name"]: {bytes(h) for h in r["heads"]}
        for r in spark.read.parquet(os.path.join(path, "nstates")).collect()
    }
    assert heads == g.nstates


def test_m_import_corrupt_graph_store_reports_and_survives(spark, tmp_path):
    """`m<` on a store whose events_log part file is corrupt reports
    `?m<:` (load_graph raises GraphError) and keeps the session."""
    import io
    import os

    from esvc_spark.cli import Repl

    path = str(tmp_path / "graph")
    save_graph(spark, _store_case("soft_deps"), path)
    part_dir = os.path.join(path, "events_log")
    part = next(
        os.path.join(part_dir, f)
        for f in os.listdir(part_dir)
        if f.startswith("part-")
    )
    with open(part, "rb") as f:
        data = f.read()
    with open(part, "wb") as f:
        f.write(data[: len(data) // 2])
    r = Repl(("keep-me",))
    r.submit(make_command({"type": "last"}, "append", ["unsaved"]))
    out = io.StringIO()
    assert r.handle_line(f"m< {path}", out, lambda: [], spark=spark)
    assert out.getvalue().startswith("?m<:")
    assert r.materialize() == ("keep-me", "unsaved")


def test_import_merge_two_graphs(spark, replace_engine):
    """≙ main.rs:54-111: two sessions branch from a common graph; importing
    one into the other merges head-sets."""
    eng = replace_engine
    base_texts = ["A|B|C"]
    # session 1
    g1 = Graph()
    w1 = WorkCache(eng, eng.from_texts(base_texts))
    hc = w1.shelve_event(g1, set(), Event(cmd=0, arg=sear("B", "D")))
    append_head(g1, hc)
    h1 = w1.shelve_event(g1, {hc}, Event(cmd=0, arg=sear("A|D", "E|D")))
    append_head(g1, h1)
    # session 2: same common event (content-addressed → same hash)
    g2 = Graph()
    w2 = WorkCache(eng, eng.from_texts(base_texts))
    hc2 = w2.shelve_event(g2, set(), Event(cmd=0, arg=sear("B", "D")))
    assert hc2 == hc
    h2 = w2.shelve_event(g2, {hc2}, Event(cmd=0, arg=sear("D|C", "D|F")))
    append_head(g2, h2)
    # import session 2 into session 1
    merged = import_merge(w1, g1, g2)
    got, _ = w1.run_foreach_recursively(g1, {h: ALL for h in merged})
    assert [r["text"] for r in got.df.collect()] == ["E|D|F"]


def test_compact_heads_threshold():
    """A head-set compacts once it holds more than HEAD_THRESHOLD heads:
    a 101-event chain minimizes to its tip, a 100-event chain keeps
    every head."""
    for n, want in ((HEAD_THRESHOLD + 1, 1), (HEAD_THRESHOLD, HEAD_THRESHOLD)):
        g = Graph()
        g.nstates[""] = set()
        prev: bytes | None = None
        # build a chain a->b->c...; heads accumulate
        for i in range(n):
            deps = {prev: True} if prev else {}
            _, h = g.ensure_event(
                Event(cmd=0, arg=sear(f"s{i}", f"r{i}"), deps=deps)
            )
            g.nstates[""].add(h)
            prev = h
        compact_heads(g)
        assert len(g.nstates[""]) == want, n


def test_dot_export():
    g = Graph()
    _, h1 = g.ensure_event(Event(cmd=0, arg=sear("a", "b")))
    _, h2 = g.ensure_event(Event(cmd=0, arg=sear("b", "c"), deps={h1: True}))
    g.nstates[""] = {h2}
    dot = to_dot(g)
    assert dot.startswith("digraph esvc {")
    assert "hard" in dot and "cluster_0" in dot


# --------------------------------------------- example pipeline on Spark
# ≙ crates/example-sear/src/main.rs:31-101: the reference's end-to-end
# golden chain (shelve 7 events → minimize head-set → replay minimized),
# here over a distributed corpus via SparkReplaceEngine instead of the
# WASM sear module. Covers the same surface the reference's binary does:
# shelve_event, fold_state(minimize), run_foreach_recursively, and the
# tt == xs invariant asserted at main.rs:100.


def test_example_pipeline_golden_spark(spark, replace_engine):
    start = "Hi, what's up??"
    texts = [start, "what's up with p??", "no match here"]
    events = [
        sear("Hi", "Hello UwU"),
        sear("UwU", "World"),
        sear("what", "wow"),
        sear("s up", "sup"),
        sear("??", "!"),
        sear("sup!", "soap?"),
        sear("p", "np"),
    ]
    expected = []
    for t in texts:
        for s in events:
            t = t.replace(s["search"], s["replacement"])
        expected.append(t)
    assert expected[0] == "Hello World, wow'soanp?"  # main.rs:48-57 chain

    eng = replace_engine
    g = Graph()
    w = WorkCache(eng, eng.from_texts(texts))
    xs: set[bytes] = set()
    for ev in events:
        h = w.shelve_event(g, set(xs), Event(cmd=0, arg=ev))
        if h is not None:
            xs.add(h)

    # minimize the head-set exactly like main.rs:79-84
    minx = set(g.fold_state({h: False for h in xs}, expand=False).keys())
    assert minx <= xs

    got, tt = w.run_foreach_recursively(g, {h: ALL for h in minx})
    assert tt == frozenset(xs)  # main.rs:100
    rows = sorted(got.df.collect(), key=lambda r: r["doc_id"])
    assert [r["text"] for r in rows] == expected


# ------------------------------------------- import/merge via saved graphs
# ≙ main.rs:54-111 driven end-to-end THROUGH PARQUET at sf scale: two
# sessions branch from a shared ancestor over the real documents table,
# each saves its graph, a third session reloads both files and merges.


def test_import_merge_saved_graphs_sf(spark, tmp_path, replace_engine, sf_dir):
    import os

    eng = replace_engine
    corpus = (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .select("doc_id", "text")
        .filter("doc_id < 50")
        .repartition(4, "doc_id")
    )

    def fresh():
        return eng.init_data(corpus)

    common = sear("the", "THE")
    branch_a = sear("merge", "MERGE")
    branch_b = sear("join", "JOIN")

    g1 = Graph()
    w1 = WorkCache(eng, fresh())
    hc = w1.shelve_event(g1, set(), Event(cmd=0, arg=common))
    append_head(g1, hc)
    ha = w1.shelve_event(g1, {hc}, Event(cmd=0, arg=branch_a))
    append_head(g1, ha)

    g2 = Graph()
    w2 = WorkCache(eng, fresh())
    hc2 = w2.shelve_event(g2, set(), Event(cmd=0, arg=common))
    assert hc2 == hc  # content-addressed: same event, same id
    hb = w2.shelve_event(g2, {hc2}, Event(cmd=0, arg=branch_b))
    append_head(g2, hb)

    p1, p2 = str(tmp_path / "g1"), str(tmp_path / "g2")
    save_graph(spark, g1, p1)
    save_graph(spark, g2, p2)

    # third session: reload both from parquet and merge
    ours = load_graph(spark, p1)
    theirs = load_graph(spark, p2)
    w3 = WorkCache(eng, fresh())
    merged = import_merge(w3, ours, theirs)

    # fold invariant: merged head-set minimizes to itself and its closure
    # covers every event of both branches
    closure = set(
        ours.fold_state({h: True for h in merged}, expand=True).keys()
    )
    assert {hc, ha, hb} <= closure
    assert merged == set(
        ours.fold_state({h: False for h in merged}, expand=False).keys()
    )

    # replay equals the sequential three-replace fold over the corpus
    got, _ = w3.run_foreach_recursively(ours, {h: ALL for h in merged})
    import pyspark.sql.functions as F

    expected = corpus.withColumn(
        "text",
        F.replace(
            F.replace(
                F.replace(F.col("text"), F.lit("the"), F.lit("THE")),
                F.lit("merge"),
                F.lit("MERGE"),
            ),
            F.lit("join"),
            F.lit("JOIN"),
        ),
    )
    assert got.df.exceptAll(expected).isEmpty()
    assert expected.exceptAll(got.df).isEmpty()


def test_word_lines_hash_join_path_matches_broadcast(spark, sf_dir, monkeypatch):
    """The size-conditional offsets join in q_esvc_editor_large's
    _word_lines: past _ED_OFFS_BROADCAST_DOCS the broadcast swaps to a
    doc_id-partitioned hash join. Force the swap (threshold -> 0) and
    require the numbered lines to be identical to the broadcast path —
    the join strategy must never change the numbering."""
    from esvc_spark.queries import esvc as esvc_q

    bcast = esvc_q._word_lines(spark, sf_dir).orderBy("line_no").collect()
    monkeypatch.setattr(esvc_q, "_ED_OFFS_BROADCAST_DOCS", 0)
    hashed = esvc_q._word_lines(spark, sf_dir).orderBy("line_no").collect()
    assert bcast == hashed
    assert [r["line_no"] for r in bcast] == list(range(len(bcast)))


def test_global_rank_helpers_match_single_window(spark):
    """The two-phase partition-parallel helpers (grouped_row_number
    with no group columns, global_running_max) are plan-shape optimizations only: on a random
    frame they must equal the unpartitioned-window formulation row for
    row, whatever the range partitioner sampled."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from esvc_spark.core.spark_engine import (
        global_running_max,
        grouped_row_number,
    )

    rng = random.Random(42)
    rows = [(i, rng.randint(0, 40), rng.randint(-100, 100)) for i in range(500)]
    df = spark.createDataFrame(rows, "id BIGINT, k BIGINT, x BIGINT").repartition(7)

    got_rank = {
        r["id"]: r["rn"]
        for r in grouped_row_number(spark, df, [], ["k", "id"], "rn").collect()
    }
    w = Window.orderBy("k", "id")
    want_rank = {
        r["id"]: r["rn"]
        for r in df.withColumn(
            "rn", F.row_number().over(w).cast("bigint")
        ).collect()
    }
    assert got_rank == want_rank

    got_max = {
        r["id"]: r["m"]
        for r in global_running_max(spark, df, ["k", "id"], "x", "m").collect()
    }
    wm = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    want_max = {
        r["id"]: r["m"]
        for r in df.withColumn("m", F.max("x").over(wm)).collect()
    }
    assert got_max == want_max


def test_grouped_rank_helpers_match_grouped_window(spark):
    """grouped_row_number / grouped_exclusive_prefix_sum equal the
    plain partitionBy(group) window formulation on a random frame with
    a NULL group key (the degenerate-suite convention)."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from esvc_spark.core.spark_engine import (
        grouped_exclusive_prefix_sum,
        grouped_row_number,
    )

    rng = random.Random(7)
    rows = [
        (
            i,
            rng.choice(["a", "b", "c", None]),
            rng.randint(0, 30),
            rng.randint(0, 9),
        )
        for i in range(400)
    ]
    df = spark.createDataFrame(
        rows, "id BIGINT, g STRING, k BIGINT, x BIGINT"
    ).repartition(5)

    got = {
        r["id"]: r["rn"]
        for r in grouped_row_number(
            spark, df, ["g"], ["k", "id"], "rn"
        ).collect()
    }
    w = Window.partitionBy("g").orderBy("k", "id")
    want = {
        r["id"]: r["rn"]
        for r in df.withColumn(
            "rn", F.row_number().over(w).cast("bigint")
        ).collect()
    }
    assert got == want

    got_s = {
        r["id"]: r["ps"]
        for r in grouped_exclusive_prefix_sum(
            spark, df, ["g"], ["k", "id"], "x", "ps"
        ).collect()
    }
    ws = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    want_s = {
        r["id"]: r["ps"]
        for r in df.withColumn(
            "ps", F.sum("x").over(ws) - F.col("x")
        ).collect()
    }
    assert got_s == want_s


def test_topk_per_group_matches_single_window(spark):
    """topk_per_group equals the single per-group rank window on a
    random frame, for several k and partitionings."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from esvc_spark.operators.topk import topk_per_group

    rng = random.Random(3)
    rows = [
        (i, rng.randint(0, 7), rng.random(), rng.randint(0, 5))
        for i in range(600)
    ]
    for parts in (3, 13):
        df = spark.createDataFrame(
            rows, "id BIGINT, g BIGINT, s DOUBLE, t BIGINT"
        ).repartition(parts)
        for k in (1, 5, 40):
            got = sorted(
                (r["g"], r["rank"], r["id"])
                for r in topk_per_group(
                    df, ["g"], [F.desc("s"), F.asc("id")], k
                ).collect()
            )
            w = Window.partitionBy("g").orderBy(F.desc("s"), F.asc("id"))
            want = sorted(
                (r["g"], r["rank"], r["id"])
                for r in df.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= k)
                .collect()
            )
            assert got == want, (parts, k)


def test_rank_helpers_local_gate_both_paths_identical(spark):
    """Round 8's size-conditional fast path: every helper must return
    IDENTICAL rows on both sides of the TWO_PHASE_MIN_ROWS gate, and
    the gate must actually switch the physical plan — n_rows under the
    threshold compiles to one window (no checkpoint scan), over it (or
    unknown) to the two-phase checkpointed plan."""
    from pyspark.sql import functions as F

    from esvc_spark.core.spark_engine import (
        TWO_PHASE_MIN_ROWS,
        global_running_max,
        grouped_exclusive_prefix_sum,
        grouped_row_number,
    )

    # built from range (NOT createDataFrame) so "ExistingRDD" appears in
    # the physical plan ONLY via the two-phase path's localCheckpoint —
    # the plan-switch assertions below depend on that
    df = spark.range(300).select(
        "id",
        F.when(F.col("id") % 3 == 0, "a")
        .when(F.col("id") % 3 == 1, "b")
        .otherwise(F.lit(None).cast("string"))
        .alias("g"),
        (F.col("id") * 7 % 31).alias("k"),
        (F.col("id") * 13 % 101 - 50).alias("x"),
    ).repartition(6)

    def rows_of(out, cols):
        return sorted(tuple(r[c] for c in cols) for r in out.collect())

    for helper, cols in (
        (lambda **kw: grouped_row_number(spark, df, [], ["k", "id"], "rn", **kw),
         ("id", "rn")),
        (lambda **kw: global_running_max(spark, df, ["k", "id"], "x", "m", **kw),
         ("id", "m")),
        (lambda **kw: grouped_row_number(spark, df, ["g"], ["k", "id"], "rn", **kw),
         ("id", "rn")),
        (lambda **kw: grouped_exclusive_prefix_sum(
            spark, df, ["g"], ["k", "id"], "x", "ps", **kw), ("id", "ps")),
    ):
        local = rows_of(helper(n_rows=300), cols)
        two_phase = rows_of(helper(n_rows=TWO_PHASE_MIN_ROWS + 1), cols)
        default = rows_of(helper(), cols)
        assert local == two_phase == default
        # the gate must switch the PLAN, not just agree on values: the
        # two-phase path scans a checkpointed RDD, the local path is a
        # plain window over the parallelized input
        assert "ExistingRDD" not in helper(n_rows=300)._jdf.queryExecution().executedPlan().toString()
        assert "ExistingRDD" in helper(n_rows=TWO_PHASE_MIN_ROWS + 1)._jdf.queryExecution().executedPlan().toString()

    # max_group_rows: balanced-group callers may bound the largest group
    # instead of the total — under the threshold it selects the local plan
    g_local = grouped_row_number(
        spark, df, ["g"], ["k", "id"], "rn",
        n_rows=TWO_PHASE_MIN_ROWS + 1, max_group_rows=200,
    )
    assert "ExistingRDD" not in g_local._jdf.queryExecution().executedPlan().toString()
    assert rows_of(g_local, ("id", "rn")) == rows_of(
        grouped_row_number(spark, df, ["g"], ["k", "id"], "rn"), ("id", "rn")
    )


def test_grouped_prefix_sum_non_integer_value_types(spark):
    """The two-phase grouped prefix sum must handle DOUBLE and DECIMAL
    value columns (ADVICE r7: the Python accumulator seed must carry the
    off-column's type or createDataFrame rejects it). Values sit on the
    binary half-grid so every summation order is exact — both paths
    bit-identical."""
    import random
    from decimal import Decimal

    from esvc_spark.core.spark_engine import grouped_exclusive_prefix_sum

    rng = random.Random(5)
    base = [(i, rng.choice(["a", "b"]), rng.randint(0, 20)) for i in range(120)]

    ddf = spark.createDataFrame(
        [(i, g, k, k / 2.0) for (i, g, k) in base],
        "id BIGINT, g STRING, k BIGINT, x DOUBLE",
    ).repartition(4)
    dec_df = spark.createDataFrame(
        [(i, g, k, Decimal(k)) for (i, g, k) in base],
        "id BIGINT, g STRING, k BIGINT, x DECIMAL(10,2)",
    ).repartition(4)
    for df in (ddf, dec_df):
        two = {
            r["id"]: r["ps"]
            for r in grouped_exclusive_prefix_sum(
                spark, df, ["g"], ["k", "id"], "x", "ps"
            ).collect()
        }
        loc = {
            r["id"]: r["ps"]
            for r in grouped_exclusive_prefix_sum(
                spark, df, ["g"], ["k", "id"], "x", "ps", n_rows=len(base)
            ).collect()
        }
        assert two == loc


def test_rank_helpers_empty_input(spark):
    """The two-phase helpers must not blow up on an empty frame (a
    filter upstream can legitimately produce one)."""
    from pyspark.sql import functions as F

    from esvc_spark.core.spark_engine import (
        global_running_max,
        grouped_exclusive_prefix_sum,
        grouped_row_number,
    )

    df = spark.createDataFrame([], "id BIGINT, g STRING, x BIGINT")
    assert grouped_row_number(spark, df, [], ["id"], "rn").count() == 0
    assert (
        grouped_exclusive_prefix_sum(spark, df, [], ["id"], "x", "ps").count()
        == 0
    )
    assert (
        global_running_max(spark, df, ["id"], "x", "m").count() == 0
    )
    assert (
        grouped_row_number(spark, df, ["g"], ["id"], "rn").count() == 0
    )
    assert (
        grouped_exclusive_prefix_sum(
            spark, df, ["g"], ["id"], "x", "ps"
        ).count() == 0
    )


def test_ntile_from_rank_matches_real_ntile(spark):
    """_util.ntile_from_rank is exactly Spark's (and DuckDB's) NTILE for
    every (n, k) on a small lattice — including n < k."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from esvc_spark.queries._util import ntile_from_rank

    for n in (1, 2, 3, 4, 7, 10, 23):
        for k in (2, 3, 4, 10):
            df = spark.range(1, n + 1).select(
                F.col("id").alias("i"), F.lit(n).cast("bigint").alias("n")
            )
            got = {
                r["i"]: r["t"]
                for r in df.select(
                    "i", ntile_from_rank("i", "n", k).alias("t")
                ).collect()
            }
            w = Window.orderBy("i")
            want = {
                r["i"]: r["t"]
                for r in df.select(
                    "i", F.ntile(k).over(w).alias("t")
                ).collect()
            }
            assert got == want, (n, k)


# shelve scripts engineered to hit multi-candidate commutation rounds,
# independence and dependence on both Spark engines
# replace engine: branches that commute (disjoint) and ones that don't
_SEAR_TEXTS = ["Hi, what's up??", "nothing up here", "Hi again", "zebra"]
_SEARS = [
    sear("Hi", "Hello"),
    sear("zebra", "quagga"),   # independent of the first
    sear("up", "down"),
    sear("Hello", "Hey"),      # depends on the first
    sear("down here", "below"),
]
# editor engine: mixed line and regex commands
_EX_LINES = [f"line {i} alpha" for i in range(12)] + ["needle row"]
_EX_SCRIPT = [
    make_command({"type": "rng", "start": 0, "end": 2}, "substitute",
                 ["alpha", "beta"]),
    make_command({"type": "rgx", "pattern": "needle"}, "append",
                 ["added after needle"]),
    make_command({"type": "last"}, "append", ["tail"]),
    make_command({"type": "rng", "start": 3, "end": 5}, "delete"),
]

# a chain whose safety net fails: the walk degrades to soft deps
# (workcache.rs:343-393); "zebra" is left for a commuting branch
_SOFT_TEXTS = ["bcacca", "zebra"]
_SOFT_SEARS = [sear("ac", "c"), sear("bc", ""), sear("ca", "a"),
               sear("ac", "ba")]


def test_commute_batch_matches_sequential_shelve(spark, monkeypatch):
    """VERDICT r8 #6 differential: shelving through the batched
    commutation path (two tagged aggregate jobs per round) must infer
    EXACTLY the event hashes and dep maps the sequential per-candidate
    replay (BaseEngine.commute_batch) infers — on a script engineered to
    hit multi-candidate rounds, independence, dependence, and soft-dep
    cases on both Spark engines — and issue no more Spark jobs on each
    script."""
    from esvc_spark.core import spark_engine as se
    from esvc_spark.core.engines import BaseEngine

    def run_chain(eng, dat0, events):
        g = Graph()
        w = WorkCache(eng, dat0)
        xs: set[bytes] = set()
        for arg in events:
            h = w.shelve_event(g, set(xs), Event(cmd=0, arg=arg))
            if h is not None:
                xs.add(h)
        return xs, {h: ev.deps for h, ev in g.events.items()}

    scripts = [
        (SparkReplaceEngine, lambda e: e.from_texts(_SEAR_TEXTS), _SEARS),
        (SparkExEngine, lambda e: e.init_data(_EX_LINES), _EX_SCRIPT),
        (SparkReplaceEngine, lambda e: e.from_texts(_SOFT_TEXTS),
         _SOFT_SEARS),
    ]
    results, jobs = {}, {}
    for mode in ("batched", "sequential"):
        if mode == "sequential":
            monkeypatch.setattr(
                se.SparkEngineBase, "commute_batch", BaseEngine.commute_batch
            )
        else:
            monkeypatch.undo()
        for i, (cls, init, events) in enumerate(scripts):
            eng = cls(spark)
            dat0 = init(eng)
            results[mode, i], jobs[mode, i] = _jobs_of(
                spark, run_chain, eng, dat0, events
            )
        spark.catalog.clearCache()
    for i in range(len(scripts)):
        assert results["batched", i] == results["sequential", i], i
        assert jobs["batched", i] <= jobs["sequential", i], (i, jobs)


def test_commute_batch_single_candidate_costs_no_more_jobs(spark):
    """One candidate through the batched path costs no more jobs than
    the sequential replay, including a command that is a no-op on the
    candidate's base (its plan IS the base DataFrame: the fingerprint is
    the base's, no job)."""
    from esvc_spark.core.engines import BaseEngine

    noop = make_command({"type": "rng", "start": 50, "end": 60}, "delete")
    edit = make_command({"type": "last"}, "append", ["tail"])
    for ev_arg, conc_arg in ((noop, edit), (edit, noop), (edit, edit)):
        ev, conc_ev = Event(cmd=0, arg=ev_arg), Event(cmd=0, arg=conc_arg)
        got, jobs = {}, {}
        for mode, batch in (("batched", SparkExEngine.commute_batch),
                            ("sequential", BaseEngine.commute_batch)):
            eng = SparkExEngine(spark)
            base = eng.init_data(_EX_LINES[:3])
            cur = eng.run_event_bare(0, conc_arg, base)
            got[mode], jobs[mode] = _jobs_of(
                spark, batch, eng, ev, [("c", base, conc_ev)], cur
            )
        assert got["batched"] == got["sequential"], (ev_arg, conc_arg)
        assert jobs["batched"] <= jobs["sequential"], (ev_arg, conc_arg, jobs)
    spark.catalog.clearCache()


def _jobs_of(spark, fn, *args):
    """(fn(*args), number of Spark jobs it issued), read back from a
    job group of its own."""
    import uuid

    sc = spark.sparkContext
    group = f"t-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn(*args)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_transform_memo_skips_repeat_fingerprint_jobs(spark):
    """The engine's transform memo: the first application of a command
    to an input fingerprint runs a fingerprint job, a repeat runs none
    and still returns the same value over the real input."""
    # a renumbering command: its plan construction must stay job-free
    arg = make_command({"type": "rgx", "pattern": "needle"}, "append",
                       ["added after needle"])
    for name in ("run_event_transient", "run_event_bare"):
        eng = SparkExEngine(spark)
        dat = eng.init_data(_EX_LINES)
        run = getattr(eng, name)
        first, n_first = _jobs_of(spark, run, 0, arg, dat)
        again, n_again = _jobs_of(spark, run, 0, arg, dat)
        assert n_first >= 1 and n_again == 0, (name, n_first, n_again)
        assert again.fingerprint == first.fingerprint
        assert again.df is not first.df  # rebuilt over the real input
        assert eng.lines(again) == eng.lines(first)


def _forgetful(eng):
    """Clear the engine's transform memo before every engine call."""
    for name in ("run_event_bare", "run_event_transient", "commute_batch"):
        def call(*args, _fn=getattr(eng, name)):
            eng._fps.clear()
            return _fn(*args)

        setattr(eng, name, call)
    return eng


def _memo_session(eng, dat0, chain, branch):
    """Shelve `chain` on a main line; in a second session shelve its
    first event and then `branch`; import_merge the second into the
    first; prune, and check out every head-set seen (replay through
    run_event_bare). Returns what the session inferred and read, and the
    WorkCaches whose memoized states it left."""
    g1, w1 = Graph(), WorkCache(eng, dat0)
    xs: set[bytes] = set()
    history = [frozenset()]
    for arg in chain:
        h = w1.shelve_event(g1, set(xs), Event(cmd=0, arg=arg))
        if h is not None:
            xs.add(h)
            history.append(frozenset(xs))
    g1.nstates[""] = set(xs)
    g2, w2 = Graph(), WorkCache(eng, dat0)
    h0 = w2.shelve_event(g2, set(), Event(cmd=0, arg=chain[0]))
    hb = w2.shelve_event(g2, {h0}, Event(cmd=0, arg=branch))
    g2.nstates[""] = {h0, hb}
    merged = import_merge(w1, g1, g2)
    history.append(frozenset(merged))
    w1.prune()
    checkouts = [w1.materialize(g1, set(hs)).fingerprint for hs in history]
    inferred = (
        {h: ev.deps for h, ev in g1.events.items()},
        {h: ev.deps for h, ev in g2.events.items()},
        merged,
        checkouts,
    )
    return inferred, (w1, w2)


def test_transform_memo_matches_memo_free_run(spark):
    """Differential check of the transform memo on one warm engine per
    script: the commute-test scripts (soft-dep chain included), a
    two-branch import_merge and checkouts after a prune.
    Every memoized state's fingerprint must equal a fresh recompute of
    its DataFrame, and the event hashes, dep maps, merged heads and
    checkout fingerprints must equal a run whose memo is cleared before
    every engine call."""
    from esvc_spark.core.spark_engine import SparkDat

    cases = [
        (SparkReplaceEngine, lambda e: e.from_texts(_SEAR_TEXTS), _SEARS,
         sear("nothing", "something")),
        (SparkExEngine, lambda e: e.init_data(_EX_LINES), _EX_SCRIPT,
         make_command({"type": "rgx", "pattern": "needle"}, "substitute",
                      ["row", "ROW"])),
        (SparkReplaceEngine, lambda e: e.from_texts(_SOFT_TEXTS),
         _SOFT_SEARS, sear("zebra", "quagga")),
    ]
    for cls, init, chain, branch in cases:
        runs, jobs = {}, {}
        for mode in ("warm", "cleared"):
            eng = cls(spark)
            if mode == "cleared":
                _forgetful(eng)
            dat0 = init(eng)
            (runs[mode], caches), jobs[mode] = _jobs_of(
                spark, _memo_session, eng, dat0, chain, branch
            )
            for wc in caches:
                for st, dat in wc.sts.items():
                    fresh = SparkDat.create(dat.df, cls.COLS).fingerprint
                    assert dat.fingerprint == fresh, (cls.__name__, mode, st)
                wc.prune()
        assert runs["warm"] == runs["cleared"], cls.__name__
        # the memo did skip work, so the comparison is not vacuous
        assert jobs["warm"] < jobs["cleared"], (cls.__name__, jobs)
        soft_deps = [
            h for deps in runs["warm"][0].values()
            for h, hard in deps.items() if not hard
        ]
        assert bool(soft_deps) == (chain is _SOFT_SEARS), cls.__name__
    spark.catalog.clearCache()


# Known fingerprints (count, bit_xor, decimal sum of per-row xxhash64)
# of three fixed states. `dat_key` names spill namespaces after them,
# so a changed aggregate would orphan every spill written before it.
_KAT_LINES = ["alpha", "beta", "gamma"]
_KAT_LINES_FP = (3, 8802779974756983915, -8838835056976849005)
_KAT_TEXTS = ["a cat", "a dog", "a bird"]
_KAT_TEXTS_FP = (3, -7166630806251743691, -11242111400020691719)
_KAT_EMPTY_FP = (0, 0, 0)


def test_fingerprint_known_answers(spark):
    """Every route that fingerprints a state — SparkDat.create,
    init_data, run_event_bare, run_event_transient and the memo entries
    commute_batch fills — gives the pinned triples, and dat_key the
    pinned spill namespaces."""
    from esvc_spark.core.graph import canonical_json_encode
    from esvc_spark.core.spark_engine import SparkDat

    ex, rep = SparkExEngine(spark), SparkReplaceEngine(spark)
    lines_df = spark.createDataFrame(
        list(enumerate(_KAT_LINES)), "line_no BIGINT, text STRING"
    )
    assert SparkDat.create(lines_df, ex.COLS).fingerprint == _KAT_LINES_FP
    assert SparkDat.create(
        lines_df.limit(0), ex.COLS
    ).fingerprint == _KAT_EMPTY_FP
    assert ex.init_data(_KAT_LINES).fingerprint == _KAT_LINES_FP
    assert ex.init_data([]).fingerprint == _KAT_EMPTY_FP
    assert rep.from_texts(_KAT_TEXTS).fingerprint == _KAT_TEXTS_FP
    assert ex.dat_key(ex.init_data(_KAT_LINES)) == "72eeb67aaf047e11"
    assert rep.dat_key(rep.from_texts(_KAT_TEXTS)) == "9fa5f6e1f600ff65"
    assert ex.dat_key(ex.init_data([])) == "d0b41695d7a47457"

    # each engine reaches its pinned state by one command from a nearby
    # state; the follow-up command empties the editor state
    add = make_command({"type": "last"}, "append", ["gamma"])
    wipe = make_command({"type": "rng", "start": 0, "end": 3}, "delete")
    fix = sear("a cow", "a cat")
    cases = [
        (ex, ex.init_data(_KAT_LINES[:2]), add, wipe,
         _KAT_LINES_FP, _KAT_EMPTY_FP),
        (rep, rep.from_texts(["a cow", *_KAT_TEXTS[1:]]), fix, fix,
         _KAT_TEXTS_FP, _KAT_TEXTS_FP),
    ]
    for eng, base, arg, then_arg, fp1, fp2 in cases:
        for run in (eng.run_event_bare, eng.run_event_transient):
            eng._fps.clear()
            assert run(0, arg, base).fingerprint == fp1, run.__name__
            assert run(0, arg, base).fingerprint == fp1, run.__name__
        eng._fps.clear()
        ev, then_ev = Event(cmd=0, arg=arg), Event(cmd=0, arg=then_arg)
        eng.commute_batch(ev, [("c", base, then_ev)], base)
        assert eng._fps == {
            (base.fingerprint, 0, canonical_json_encode(arg)): fp1,
            (fp1, 0, canonical_json_encode(then_arg)): fp2,
        }
    spark.catalog.clearCache()
