"""REPL end-to-end (FIXTURES.md §B.6 representative script): drive the
exvc-style loop and compare against a plain-Python ed oracle; meta
commands *state/*dot; save/merge round-trip through parquet."""

from __future__ import annotations

import io

from esvc_spark.cli import Repl


def _drive(repl, script):
    """script: list of (line, body) pairs; returns captured output."""
    out = io.StringIO()
    it = iter(script)
    bodies: list[list[str]] = []

    def read_body():
        return bodies.pop(0)

    for line, body in script:
        if body is not None:
            bodies.append(body)
        assert repl.handle_line(line, out, read_body)
    return out.getvalue()


def test_repl_script_matches_ed_oracle():
    repl = Repl()
    _drive(
        repl,
        [
            ("$a", ["alpha", "foo one", "beta", "foo two", "gamma"]),  # append all
            ("/foo/s", ["foo", "bar"]),  # substitute on matching lines
            ("1,3d", None),  # delete lines [1,3)
            ("0,i", ["head"]),  # insert at top
        ],
    )
    # independent plain-list oracle
    lines = ["alpha", "foo one", "beta", "foo two", "gamma"]
    lines = [ln.replace("foo", "bar") for ln in lines]  # s on matches only is same here
    lines = lines[:1] + lines[3:]  # 1,3d deletes index 1..2
    lines = ["head"] + lines
    assert list(repl.materialize()) == lines

    out = io.StringIO()
    repl.print_lines({"type": "rngf", "start": 0}, out)
    printed = [ln[8:] for ln in out.getvalue().splitlines()]
    assert printed == lines


def test_repl_noop_discarded_and_state():
    repl = Repl()
    out = _drive(
        repl,
        [
            ("$a", ["x"]),
            ("/zzz/s", ["zzz", "yyy"]),  # matches nothing -> no-op
            ("*state", None),
        ],
    )
    assert "?no-op event discarded" in out
    assert len(repl.heads) == 1  # only the append landed
    assert out.count("blake2b512:") == 1


def test_repl_dot_export():
    repl = Repl()
    _drive(repl, [("$a", ["a"]), ("$a", ["b"])])
    out = _drive(repl, [("*dot", None)])
    assert out.startswith("digraph") and out.count("label") >= 2


def test_repl_save_merge_roundtrip(spark, tmp_path):
    a = Repl()
    _drive(a, [("$a", ["base"])])
    out = io.StringIO()
    assert a.handle_line(f"w {tmp_path}/g", out, lambda: [], spark=spark)

    # a second repl diverges from the same base
    b = Repl()
    _drive(b, [("$a", ["base"])])  # same first event (content-addressed)
    _drive(b, [("$a", ["from-b"])])

    # merge a's saved graph into b: identical base event is idempotent
    assert b.handle_line(f"m< {tmp_path}/g", out, lambda: [], spark=spark)
    assert list(b.materialize()) == ["base", "from-b"]


def test_repl_spark_engine_save_merge(spark, tmp_path):
    """≙ main.rs:54-111 driven through the REPL grammar with the
    Spark-backed editor engine: two REPLs diverge, `w` their graphs to
    parquet, a `m<` merges — same semantics as the in-memory engine."""
    from esvc_spark.core.spark_engine import SparkExEngine

    out = io.StringIO()
    a = Repl(init_lines=("base",), engine=SparkExEngine(spark))
    _drive(a, [("$a", ["alpha"])])
    assert a.handle_line(f"w {tmp_path}/ga", out, lambda: [], spark=spark)

    b = Repl(init_lines=("base",), engine=SparkExEngine(spark))
    _drive(b, [("$a", ["alpha"])])  # shared event, same content address
    _drive(b, [("$a", ["beta"])])
    assert b.handle_line(f"m< {tmp_path}/ga", out, lambda: [], spark=spark)
    assert list(b.materialize()) == ["base", "alpha", "beta"]

    # print path works through engine.lines on the Spark engine too
    b.handle_line("1,", out, lambda: [])
    assert "beta" in out.getvalue()


def test_m_import_bad_path_reports_not_editor_error():
    """Review-fix regression (round 9): a Spark-less `m<` with a typo'd
    path must report the import failure, not fall through to the editor
    parser and print an address-syntax error."""
    import io

    from esvc_spark.cli import Repl

    r = Repl(("hello",))
    out = io.StringIO()
    assert r.handle_line("m< /no/such/file.exvc.zst", out, lambda: [])
    assert "no such file" in out.getvalue()
    # a directory that is no graph store reports, and the session keeps
    # its events
    _drive(r, [("$a", ["unsaved"])])
    out2 = io.StringIO()
    assert r.handle_line("m< /tmp", out2, lambda: [])
    assert out2.getvalue().startswith("?m<:")
    assert r.materialize() == ("hello", "unsaved")


def test_m_import_corrupt_file_reports_and_survives(tmp_path):
    """ADVICE r9 (medium): a corrupt/truncated reference file through
    `m<` must report per-line like the Rust REPL's error loop, never
    escape handle_line and kill the session with its unsaved events."""
    bad = tmp_path / "corrupt.exvc.zst"
    bad.write_bytes(b"\x28\xb5\x2f\xfd garbage not zstd")
    r = Repl(("keep-me",))
    _drive(r, [("$a", ["unsaved"])])
    out = io.StringIO()
    assert r.handle_line(f"m< {bad}", out, lambda: [])
    assert out.getvalue().startswith("?m<:")
    # session state intact: the unsaved event is still there
    assert list(r.materialize()) == ["keep-me", "unsaved"]


def test_main_startup_graph_file_load(tmp_path):
    """≙ main.rs:267-276: an argv graph-file path loads BEFORE the REPL
    loop — the first *state already shows the file's heads."""
    from esvc_spark.cli import main

    a = Repl()
    _drive(a, [("$a", ["from-file"])])
    out = io.StringIO()
    path = f"{tmp_path}/boot.exvc.zst"
    assert a.handle_line(f"w {path}", out, lambda: [])
    assert out.getvalue() == ""  # write succeeded silently

    captured = io.StringIO()
    main(
        argv=[path],
        stdin=io.StringIO("*state\n0,\nq!\n"),
        stdout=captured,
    )
    got = captured.getvalue()
    assert got.count("blake2b512:") == 1  # the file's single head
    assert "from-file" in got  # and its materialized line


def test_main_startup_bad_path_reports_and_starts_empty():
    from esvc_spark.cli import main

    captured = io.StringIO()
    main(
        argv=["/no/such/graph.exvc.zst"],
        stdin=io.StringIO("*state\nq!\n"),
        stdout=captured,
    )
    got = captured.getvalue()
    assert got.startswith("?load:")
    assert "blake2b512:" not in got  # empty graph, no heads
