"""Reference graph-file interop (core/bincode_io.py): the bincode
1.3.3 + zstd format the Rust exvc reads and writes (ref
crates/exvc/src/main.rs:44-53,54-111,267-276; encoding frozen per
graph.rs:5-7).

The codec is pinned three ways: (1) hand-assembled golden byte vectors
straight from the bincode legacy spec (little-endian fixint, u64
lengths, u32 enum tags), (2) the reference's own identity invariant —
every map key must equal blake2b-512 of its event's bincode bytes —
enforced on every decode, and (3) byte-exact encode∘decode round-trips
on the checked-in fixture."""

from __future__ import annotations

import struct

import pytest

from esvc_spark.cli import Repl
from esvc_spark.core.bincode_io import (
    BincodeError,
    _zstd_bin,
    decode_graph,
    encode_event,
    encode_graph,
    export_reference_file,
    import_reference_file,
    read_graph_file,
    reference_event_hash,
    rehash_to_native,
)
from esvc_spark.core.graph import Event
from esvc_spark.core.hashing import calculate_hash

FIXTURE = "tests/fixtures/reference_graph.exvc.zst"


def _fixture_repl() -> Repl:
    from scripts.make_reference_fixture import build_repl

    return build_repl()


# ------------------------------------------------------------ golden bytes


def test_event_encoding_matches_bincode_spec_minimal():
    """$d with no deps — every field width hand-assembled from the
    bincode legacy spec (u32 cmd, u32 enum tags, u64 lengths, LE)."""
    ev = Event(cmd=0, arg={"addr": {"type": "last"}, "kind": {"kind": "delete"}})
    want = (
        b"\x00\x00\x00\x00"  # cmd: u32 0
        b"\x00\x00\x00\x00"  # Command::Normal tag
        b"\x03\x00\x00\x00"  # Address::Last tag
        b"\x02\x00\x00\x00"  # CommandKind::Delete tag
        + b"\x00" * 8  # deps: u64 count 0
    )
    assert encode_event(ev) == want


def test_event_encoding_matches_bincode_spec_full():
    """1,3s with one hard dep — exercises Rng (two u64s), Substitute
    (two length-prefixed strings), and the Hash wire form (u32 variant
    tag + u64 len 64 + raw digest) + bool byte."""
    dep = bytes(range(64))
    ev = Event(
        cmd=7,
        arg={
            "addr": {"type": "rng", "start": 1, "end": 3},
            "kind": {"kind": "substitute", "pat": "a", "repl": "bc"},
        },
        deps={dep: True},
    )
    want = (
        struct.pack("<I", 7)
        + struct.pack("<I", 0)  # Command::Normal
        + struct.pack("<I", 1)  # Address::Rng
        + struct.pack("<Q", 1)  # start
        + struct.pack("<Q", 3)  # end
        + struct.pack("<I", 4)  # CommandKind::Substitute
        + struct.pack("<Q", 1)
        + b"a"
        + struct.pack("<Q", 2)
        + b"bc"
        + struct.pack("<Q", 1)  # deps count
        + struct.pack("<I", 0)  # Hash::Blake2b512 tag
        + struct.pack("<Q", 64)
        + dep
        + b"\x01"  # is_hard
    )
    assert encode_event(ev) == want
    assert reference_event_hash(ev) == calculate_hash(want)


def test_vec_string_kinds_and_rgx_addr_encoding():
    """Append(Vec<String>) and Rgx(String) — u64 counts and UTF-8."""
    ev = Event(
        cmd=0,
        arg={
            "addr": {"type": "rgx", "pattern": "héllo"},
            "kind": {"kind": "append", "lines": ["x", "yz"]},
        },
    )
    pat = "héllo".encode("utf-8")
    want = (
        struct.pack("<I", 0)
        + struct.pack("<I", 0)  # Normal
        + struct.pack("<I", 0)  # Rgx
        + struct.pack("<Q", len(pat))
        + pat
        + struct.pack("<I", 0)  # Append
        + struct.pack("<Q", 2)
        + struct.pack("<Q", 1)
        + b"x"
        + struct.pack("<Q", 2)
        + b"yz"
        + struct.pack("<Q", 0)  # deps
    )
    assert encode_event(ev) == want


# ---------------------------------------------------------------- fixture


def test_fixture_decodes_and_verifies_reference_hashes():
    """Every key in the file must equal blake2b-512 of the event's
    bincode bytes — the invariant the Rust side guarantees by
    construction (graph.rs:140-141); decode enforces it."""
    g = read_graph_file(FIXTURE)
    assert len(g.events) == 6
    assert set(g.nstates) == {""}
    assert len(g.nstates[""]) == 6
    kinds = sorted(ev.arg["kind"]["kind"] for ev in g.events.values())
    assert kinds == ["append", "append", "change", "delete", "insert", "substitute"]
    for h, ev in g.events.items():
        assert reference_event_hash(ev) == h


def test_fixture_byte_roundtrip_is_exact():
    import subprocess

    raw = subprocess.run(
        [_zstd_bin(), "-d", "-c", "-q", FIXTURE], capture_output=True, check=True
    ).stdout
    g = decode_graph(raw)
    assert encode_graph(g) == raw


def test_corrupted_payload_fails_hash_verification():
    import subprocess

    raw = bytearray(
        subprocess.run(
            [_zstd_bin(), "-d", "-c", "-q", FIXTURE], capture_output=True, check=True
        ).stdout
    )
    # flip a byte inside the first event's argument payload (past the
    # 8-byte map count + 76-byte first key)
    raw[120] ^= 0xFF
    with pytest.raises(BincodeError):
        decode_graph(bytes(raw))


def test_uncompressed_bincode_file_accepted(tmp_path):
    import subprocess

    raw = subprocess.run(
        [_zstd_bin(), "-d", "-c", "-q", FIXTURE], capture_output=True, check=True
    ).stdout
    p = tmp_path / "graph.bin"
    p.write_bytes(raw)
    g = read_graph_file(str(p))
    assert len(g.events) == 6


# ----------------------------------------------------------- import path


def test_import_reference_file_reproduces_document():
    """m< of the fixture into a FRESH session must materialize the same
    document the original session produced: the rehash preserves the
    DAG exactly, and the merged head-set is the minimized frontier."""
    r = Repl()
    heads = import_reference_file(r.wc, r.graph, FIXTURE)
    assert r.heads == heads
    want = _fixture_repl().materialize()
    assert r.materialize() == want
    # the minimized frontier of the fixture DAG is a single event (the
    # final append depends, transitively, on everything else)
    assert len(heads) == 1


def test_import_is_idempotent():
    r = Repl()
    first = import_reference_file(r.wc, r.graph, FIXTURE)
    again = import_reference_file(r.wc, r.graph, FIXTURE)
    assert first == again
    assert len(r.graph.events) == 6


def test_repl_m_less_accepts_reference_file_without_spark():
    import io

    r = Repl()
    out = io.StringIO()
    assert r.handle_line(f"m< {FIXTURE}", out, lambda: [])
    assert r.materialize() == _fixture_repl().materialize()


def test_import_merges_with_native_prefix_history():
    """A session that already replayed a PREFIX of the fixture's
    commands imports the full file: the shared events land on identical
    native ids (the rehash is deterministic), so the merge is a clean
    superset — no duplicates, full document."""
    from esvc_spark.core.exparse import make_command
    from scripts.make_reference_fixture import SESSION

    r = Repl()
    for addr, cmd, body in SESSION[:2]:
        r.submit(make_command(addr, cmd, body))
    import_reference_file(r.wc, r.graph, FIXTURE)
    assert len(r.graph.events) == 6
    assert r.materialize() == _fixture_repl().materialize()


def test_import_of_conflicting_history_fails_like_reference():
    """Divergent histories whose interleaving changes event hashes must
    FAIL the merge with HashChangeAtMerge — exactly how the Rust exvc
    bails (workcache.rs:419-479 via main.rs rewrap_wce), rather than
    silently committing an inconsistent head-set."""
    from esvc_spark.core.exparse import make_command
    from esvc_spark.core.workcache import HashChangeAtMerge

    r = Repl()
    r.submit(
        make_command({"type": "rngf", "start": 0}, "insert", ["native first line"])
    )
    with pytest.raises(HashChangeAtMerge):
        import_reference_file(r.wc, r.graph, FIXTURE)


# ----------------------------------------------------------- export path


def test_export_import_roundtrip_preserves_document(tmp_path):
    """Native graph -> reference file -> fresh import: the document and
    DAG shape survive the double id translation."""
    src = _fixture_repl()
    p = str(tmp_path / "exported.exvc.zst")
    mapping = export_reference_file(src.graph, p, state="")
    assert len(mapping) == 6
    back = read_graph_file(p)  # hash-verified on decode
    assert len(back.events) == 6
    native, _ = rehash_to_native(back)
    # the native rehash of our own export reproduces the original ids
    assert set(native.events) == set(src.graph.events)
    r = Repl()
    import_reference_file(r.wc, r.graph, p)
    assert r.materialize() == src.materialize()


def test_export_rejects_non_editor_args(tmp_path):
    from esvc_spark.core.graph import Graph

    g = Graph()
    g.ensure_event(Event(cmd=0, arg={"free": "form"}))
    with pytest.raises(BincodeError):
        export_reference_file(g, str(tmp_path / "bad.zst"))


# ------------------------------------------------------------ properties
# Random exvc-shaped graphs: the codec must round-trip byte-exactly and
# the reference identity invariant (key == blake2b-512 of the event's
# bincode bytes) must hold for every generated event — pure Python, no
# Spark.

from hypothesis import given, settings
from hypothesis import strategies as st

_text = st.text(max_size=12)
_addr = st.one_of(
    st.builds(lambda p: {"type": "rgx", "pattern": p}, _text),
    st.builds(
        lambda a, b: {"type": "rng", "start": min(a, b), "end": max(a, b)},
        st.integers(0, 1 << 40),
        st.integers(0, 1 << 40),
    ),
    st.builds(lambda s: {"type": "rngf", "start": s}, st.integers(0, 1 << 40)),
    st.just({"type": "last"}),
)
_kind = st.one_of(
    st.builds(
        lambda k, ls: {"kind": k, "lines": ls},
        st.sampled_from(["append", "change", "insert"]),
        st.lists(_text, max_size=4),
    ),
    st.just({"kind": "delete"}),
    st.builds(
        lambda p, r: {"kind": "substitute", "pat": p, "repl": r}, _text, _text
    ),
)
_command = st.builds(lambda a, k: {"addr": a, "kind": k}, _addr, _kind)


@st.composite
def _graphs(draw):
    from esvc_spark.core.graph import Graph

    g = Graph()
    n = draw(st.integers(0, 6))
    ids: list[bytes] = []
    for _ in range(n):
        cmd = draw(st.integers(0, 1 << 31))
        arg = draw(_command)
        deps: dict[bytes, bool] = {}
        for d in draw(
            st.lists(st.integers(0, max(0, len(ids) - 1)), max_size=3)
        ):
            if ids:
                deps[ids[d]] = draw(st.booleans())
        ev = Event(cmd=cmd, arg=arg, deps=deps)
        h = reference_event_hash(ev)
        g.events[h] = ev
        ids.append(h)
    n_states = draw(st.integers(0, 2))
    for i in range(n_states):
        name = draw(st.text(max_size=6)) + str(i)  # unique map keys
        g.nstates[name] = {
            ids[j]
            for j in draw(
                st.lists(st.integers(0, max(0, len(ids) - 1)), max_size=3)
            )
            if ids
        }
    return g


@given(_graphs())
@settings(max_examples=150, deadline=None)
def test_codec_roundtrip_property(g):
    raw = encode_graph(g)
    back = decode_graph(raw)  # hash verification ON — the invariant holds
    assert encode_graph(back) == raw
    assert set(back.events) == set(g.events)
    assert back.nstates == g.nstates
    for h, ev in back.events.items():
        assert back.events[h] == g.events[h]
        assert reference_event_hash(ev) == h


def test_repl_w_writes_reference_format(tmp_path):
    """REPL `w` parity with the Rust exvc: a .zst target writes the
    reference's bincode+zstd format (no Spark), and a fresh session can
    m< it back to the same document."""
    import io

    from esvc_spark.core.exparse import make_command

    src = Repl(("alpha", "beta"))
    src.submit(make_command({"type": "last"}, "append", ["gamma"]))
    p = str(tmp_path / "session.exvc.zst")
    out = io.StringIO()
    assert src.handle_line(f"w {p}", out, lambda: [])
    g = read_graph_file(p)  # hash-verified decode
    assert len(g.events) == 1 and set(g.nstates) == {""}
    dst = Repl(("alpha", "beta"))
    assert dst.handle_line(f"m< {p}", out, lambda: [])
    assert dst.materialize() == ("alpha", "beta", "gamma")
    # the parquet directory form needs no Spark session either
    out2 = io.StringIO()
    assert src.handle_line(f"w {tmp_path}/pq_dir", out2, lambda: [])
    dst2 = Repl(("alpha", "beta"))
    assert dst2.handle_line(f"m< {tmp_path}/pq_dir", out2, lambda: [])
    assert out2.getvalue() == ""
    assert dst2.materialize() == ("alpha", "beta", "gamma")
    # an unwritable store path reports instead of killing the session
    (tmp_path / "a_file").write_text("x")
    out3 = io.StringIO()
    assert src.handle_line(f"w {tmp_path}/a_file", out3, lambda: [])
    assert out3.getvalue().startswith("?w:")


def test_repl_w_reports_unexportable_graph_instead_of_crashing():
    """Review-fix regression: `w x.zst` on a session whose graph holds a
    non-editor arg must print a ?-error and keep the REPL alive, like
    every other bad input."""
    import io

    from esvc_spark.core.graph import Event

    r = Repl(("a",))
    r.graph.ensure_event(Event(cmd=0, arg={"free": "form"}))
    out = io.StringIO()
    assert r.handle_line("w /tmp/bad_export.exvc.zst", out, lambda: [])
    assert out.getvalue().startswith("?w:")


def test_graph_encoding_matches_bincode_spec_golden():
    """ADVICE r9: Graph-LEVEL framing pinned by hand-assembled golden
    bytes (events BTreeMap count + (Hash,Event) pairs in ascending raw
    digest order; nstates BTreeMap<String, BTreeSet<Hash>> in UTF-8 byte
    order of the names, heads ascending) — previously only EVENT bytes
    were spec-pinned, so a symmetric encode/decode drift in the map/set
    framing would have passed every round-trip test. Assembled straight
    from the bincode 1.3.3 legacy spec (u64 LE collection lengths,
    nothing else at graph level), independent of encode_graph's code
    paths (no shared helpers below struct.pack).

    A Rust-exvc-written file would be stronger evidence still; this
    container has no crate registry access (checked round 10), so the
    spec-derived vector is the pin.
    """
    from esvc_spark.core.graph import Graph

    # event 1: byte string from test_event_encoding_matches_bincode_spec_minimal
    e1 = (
        b"\x00\x00\x00\x00"  # cmd u32 0
        b"\x00\x00\x00\x00"  # Command::Normal
        b"\x03\x00\x00\x00"  # Address::Last
        b"\x02\x00\x00\x00"  # CommandKind::Delete
        + b"\x00" * 8  # deps count 0
    )
    h1 = calculate_hash(e1)
    # event 2: cmd 1, 0,a ["z"], one hard dep on event 1
    e2 = (
        struct.pack("<I", 1)
        + struct.pack("<I", 0)  # Normal
        + struct.pack("<I", 2)  # Address::RngF
        + struct.pack("<Q", 0)  # start
        + struct.pack("<I", 0)  # CommandKind::Append
        + struct.pack("<Q", 1)  # 1 line
        + struct.pack("<Q", 1)
        + b"z"
        + struct.pack("<Q", 1)  # deps count
        + struct.pack("<I", 0)  # Hash::Blake2b512
        + struct.pack("<Q", 64)
        + h1
        + b"\x01"  # hard
    )
    h2 = calculate_hash(e2)

    def hash_wire(h):
        return struct.pack("<I", 0) + struct.pack("<Q", 64) + h

    pairs = sorted([(h1, e1), (h2, e2)])  # BTreeMap: ascending digest bytes
    want = struct.pack("<Q", 2)
    for h, e in pairs:
        want += hash_wire(h) + e
    # nstates: names "", "x", "é" — pins UTF-8 BYTE order ("é" = C3 A9
    # sorts after "x" = 78, same as Rust String Ord) and empty-name /
    # multi-head set framing
    want += struct.pack("<Q", 3)
    want += struct.pack("<Q", 0)  # name ""
    want += struct.pack("<Q", 1) + hash_wire(h2)
    want += struct.pack("<Q", 1) + b"x"
    want += struct.pack("<Q", 2) + b"".join(hash_wire(h) for h in sorted([h1, h2]))
    name = "é".encode("utf-8")
    want += struct.pack("<Q", len(name)) + name
    want += struct.pack("<Q", 0)  # empty head set

    g = Graph()
    g.events[h1] = Event(
        cmd=0, arg={"addr": {"type": "last"}, "kind": {"kind": "delete"}}
    )
    g.events[h2] = Event(
        cmd=1,
        arg={
            "addr": {"type": "rngf", "start": 0},
            "kind": {"kind": "append", "lines": ["z"]},
        },
        deps={h1: True},
    )
    g.nstates[""] = {h2}
    g.nstates["x"] = {h1, h2}
    g.nstates["é"] = set()

    assert encode_graph(g) == want
    back = decode_graph(want)
    assert set(back.events) == {h1, h2}
    assert back.nstates == {"": {h2}, "x": {h1, h2}, "é": set()}
