"""Reference-format graph file interop: bincode 1.3.3 + zstd.

The reference persists graphs with `bincode::serialize_into(zstd(file))`
and imports them with `bincode::deserialize_from(zstd(file))`
(ref crates/exvc/src/main.rs:44-53 `w`, 54-111 `m<`, 267-276 startup
load). The encoding is FROZEN by design — graph.rs:5-7 warns that
changing the data types would change the hashes — so a byte-exact codec
is a stable contract, not a moving target. This module implements that
codec in pure Python so a graph file written by the Rust exvc can be
imported into (and exported from) this engine.

Wire format (bincode 1.3.3 "legacy" options, the crate-root
`serialize`/`deserialize_from` entry points: little-endian, FIXED-width
integers, u64 length prefixes, u32 enum variant tags):

    Graph<Command>                         ref graph.rs:23-29
      events:  u64 count, then (Hash, Event) pairs in BTreeMap order
               (= ascending raw-byte order of the 64-byte digests)
      nstates: u64 count, then (String name, u64 count, Hash...) pairs
               in ascending byte order of the UTF-8 names
    Hash                                   ref hash.rs:12-14
      u32 variant tag (0 = Blake2b512), then serde_bytes [u8;64]:
      u64 length (= 64) + 64 raw digest bytes
    Event<Command>                         ref graph.rs:9-15
      cmd: u32;  arg: Command;  deps: u64 count + (Hash, bool u8) pairs
    Command                                ref exvc/en.rs:47-60
      u32 tag (0 = Normal), then Address + CommandKind
    Address                                ref exvc/addr.rs:5-11
      u32 tag: 0 Rgx(String) | 1 Rng{start u64, end u64} |
               2 RngF(u64)   | 3 Last
    CommandKind                            ref exvc/en.rs:13-21
      u32 tag: 0 Append(Vec<String>) | 1 Change(Vec<String>) |
               2 Delete | 3 Insert(Vec<String>) |
               4 Substitute{pat: String, repl: String}
    String = u64 byte length + UTF-8;  Vec<T> = u64 count + items;
    bool = 1 byte

Event identity in the reference is blake2b-512 over the event's bincode
bytes (graph.rs:140-141). Decoding therefore carries a built-in
integrity check: re-encoding every decoded event and hashing it must
reproduce the file's own map keys — `decode_graph` verifies exactly
that, so a codec drift (or a corrupted/foreign file) fails loudly
instead of importing garbage.

This engine hashes events over a canonical-JSON encoding instead
(graph.py — the documented SURVEY §7 decision), so imported events get
NEW native ids: `rehash_to_native` walks the foreign DAG in dependency
order, translating each event's dep keys through the old→new map. The
translation is total and structure-preserving; only the id scheme
changes.

The file reaches disk through core.storage (so a `file:` URI names the
same file Spark's Hadoop `Path` would) and its zstd frame goes through
pyarrow's bundled codec. A streaming decoder reads the frames exvc
writes, which carry no content-size header; corrupt or truncated input
raises OSError.
"""

from __future__ import annotations

import io
import struct
from typing import Any, Callable

import pyarrow as pa

from . import storage
from .graph import Event, Graph, HashCollision, IncludeSpec
from .hashing import calculate_hash


class BincodeError(ValueError):
    pass


# ------------------------------------------------------------ primitives


class _Reader:
    def __init__(self, data: bytes):
        self.b = data
        self.i = 0

    def take(self, n: int) -> bytes:
        if self.i + n > len(self.b):
            raise BincodeError(
                f"truncated input: need {n} bytes at offset {self.i}, "
                f"have {len(self.b) - self.i}"
            )
        out = self.b[self.i : self.i + n]
        self.i += n
        return out

    def u32(self) -> int:
        return struct.unpack("<I", self.take(4))[0]

    def u64(self) -> int:
        return struct.unpack("<Q", self.take(8))[0]

    def boolean(self) -> bool:
        v = self.take(1)[0]
        if v > 1:
            raise BincodeError(f"invalid bool byte {v} at offset {self.i - 1}")
        return v == 1

    def string(self) -> str:
        n = self.u64()
        return self.take(n).decode("utf-8")

    def done(self) -> bool:
        return self.i == len(self.b)


class _Writer:
    def __init__(self) -> None:
        self.out = io.BytesIO()

    def u32(self, v: int) -> None:
        self.out.write(struct.pack("<I", v))

    def u64(self, v: int) -> None:
        self.out.write(struct.pack("<Q", v))

    def boolean(self, v: bool) -> None:
        self.out.write(b"\x01" if v else b"\x00")

    def raw(self, b: bytes) -> None:
        self.out.write(b)

    def string(self, s: str) -> None:
        b = s.encode("utf-8")
        self.u64(len(b))
        self.raw(b)

    def getvalue(self) -> bytes:
        return self.out.getvalue()


# ------------------------------------------------------- Hash / Address


def _read_hash(r: _Reader) -> bytes:
    tag = r.u32()
    if tag != 0:
        raise BincodeError(f"unknown Hash variant {tag}")
    n = r.u64()
    if n != 64:
        raise BincodeError(f"Blake2b512 digest must be 64 bytes, got {n}")
    return r.take(64)


def _write_hash(w: _Writer, h: bytes) -> None:
    if len(h) != 64:
        raise BincodeError(f"Blake2b512 digest must be 64 bytes, got {len(h)}")
    w.u32(0)
    w.u64(64)
    w.raw(h)


def _read_address(r: _Reader) -> dict:
    tag = r.u32()
    if tag == 0:
        return {"type": "rgx", "pattern": r.string()}
    if tag == 1:
        return {"type": "rng", "start": r.u64(), "end": r.u64()}
    if tag == 2:
        return {"type": "rngf", "start": r.u64()}
    if tag == 3:
        return {"type": "last"}
    raise BincodeError(f"unknown Address variant {tag}")


def _write_address(w: _Writer, a: dict) -> None:
    t = a["type"]
    if t == "rgx":
        w.u32(0)
        w.string(a["pattern"])
    elif t == "rng":
        w.u32(1)
        w.u64(a["start"])
        w.u64(a["end"])
    elif t == "rngf":
        w.u32(2)
        w.u64(a["start"])
    elif t == "last":
        w.u32(3)
    else:
        raise BincodeError(f"unknown address type {t!r}")


# -------------------------------------------------- CommandKind / Command

_KIND_TAGS = ("append", "change", "delete", "insert", "substitute")


def _read_kind(r: _Reader) -> dict:
    tag = r.u32()
    if tag in (0, 1, 3):
        n = r.u64()
        return {"kind": _KIND_TAGS[tag], "lines": [r.string() for _ in range(n)]}
    if tag == 2:
        return {"kind": "delete"}
    if tag == 4:
        return {"kind": "substitute", "pat": r.string(), "repl": r.string()}
    raise BincodeError(f"unknown CommandKind variant {tag}")


def _write_kind(w: _Writer, k: dict) -> None:
    kind = k["kind"]
    if kind in ("append", "change", "insert"):
        w.u32(_KIND_TAGS.index(kind))
        lines = k.get("lines", [])
        w.u64(len(lines))
        for ln in lines:
            w.string(ln)
    elif kind == "delete":
        w.u32(2)
    elif kind == "substitute":
        w.u32(4)
        w.string(k["pat"])
        w.string(k["repl"])
    else:
        raise BincodeError(f"unknown command kind {kind!r}")


def _read_command(r: _Reader) -> dict:
    tag = r.u32()
    if tag != 0:
        raise BincodeError(f"unknown Command variant {tag}")
    addr = _read_address(r)
    kind = _read_kind(r)
    return {"addr": addr, "kind": kind}


def _write_command(w: _Writer, c: dict) -> None:
    w.u32(0)
    _write_address(w, c["addr"])
    _write_kind(w, c["kind"])


# --------------------------------------------------------- Event / Graph


def _read_event(r: _Reader) -> Event:
    cmd = r.u32()
    arg = _read_command(r)
    n = r.u64()
    deps: dict[bytes, bool] = {}
    for _ in range(n):
        h = _read_hash(r)
        deps[h] = r.boolean()
    return Event(cmd=cmd, arg=arg, deps=deps)


def encode_event(ev: Event) -> bytes:
    """The exact byte string the reference hashes for event identity
    (graph.rs:140-141: `bincode::serialize::<Event<Arg>>`)."""
    w = _Writer()
    w.u32(ev.cmd)
    _write_command(w, ev.arg)
    # BTreeMap<Hash, bool> iterates in ascending key order; Rust [u8;64]
    # Ord == Python bytes ordering
    w.u64(len(ev.deps))
    for h in sorted(ev.deps):
        _write_hash(w, h)
        w.boolean(ev.deps[h])
    return w.getvalue()


def reference_event_hash(ev: Event) -> bytes:
    """blake2b-512 over the bincode encoding — the id the Rust exvc
    assigns this event (graph.rs:136-154)."""
    return calculate_hash(encode_event(ev))


def decode_graph(data: bytes) -> Graph:
    """Decode a bincode `Graph<Command>` byte string into a Graph whose
    keys are the file's OWN (reference-scheme) event ids. Every event is
    re-encoded and re-hashed and must reproduce its map key — the
    reference's own identity invariant — which catches both corrupted
    files and any codec drift."""
    r = _Reader(data)
    g = Graph()
    n_events = r.u64()
    for _ in range(n_events):
        h = _read_hash(r)
        ev = _read_event(r)
        got = reference_event_hash(ev)
        if got != h:
            from .hashing import format_hash

            raise BincodeError(
                "event hash mismatch (corrupted file or codec drift): "
                f"key {format_hash(h)} vs content {format_hash(got)}"
            )
        g.events[h] = ev
    n_states = r.u64()
    for _ in range(n_states):
        name = r.string()
        n_heads = r.u64()
        g.nstates[name] = {_read_hash(r) for _ in range(n_heads)}
    if not r.done():
        raise BincodeError(
            f"{len(r.b) - r.i} trailing bytes after graph payload"
        )
    return g


def encode_graph(g: Graph) -> bytes:
    """Encode a Graph (whose keys ARE reference-scheme ids and whose
    args are exvc Command dicts) back to the reference's bincode bytes.
    Inverse of decode_graph: decode(encode(g)) == g byte-for-byte."""
    w = _Writer()
    w.u64(len(g.events))
    for h in sorted(g.events):
        _write_hash(w, h)
        w.raw(encode_event(g.events[h]))
    w.u64(len(g.nstates))
    # BTreeMap<String, _> iterates in UTF-8 byte order (Rust String Ord)
    for name in sorted(g.nstates, key=lambda s: s.encode("utf-8")):
        w.string(name)
        heads = g.nstates[name]
        w.u64(len(heads))
        for h in sorted(heads):
            _write_hash(w, h)
    return w.getvalue()


# ------------------------------------------------------------- zstd I/O


_ZSTD_MAGIC = b"\x28\xb5\x2f\xfd"


def read_graph_file(path: str) -> Graph:
    """Load a Rust-exvc-written graph file (zstd frame around bincode;
    ref main.rs:267-276). Accepts an uncompressed bincode file too (the
    4-byte zstd magic disambiguates)."""
    raw = storage.read_bytes(path)
    if raw[:4] == _ZSTD_MAGIC:
        raw = pa.input_stream(pa.BufferReader(raw), compression="zstd").read()
    return decode_graph(raw)


def write_graph_file(g: Graph, path: str) -> None:
    """Write a graph in the reference's on-disk format (`w` command,
    ref main.rs:44-53 — zstd level 20 there; any level decodes the
    same). The file is opened only once the bytes are complete, so a
    graph that fails to encode leaves the old file intact."""
    comp = pa.Codec("zstd", compression_level=19).compress(
        encode_graph(g), asbytes=True
    )
    storage.write_bytes(path, comp)


# ----------------------------------------------------- native rehashing


def _rekey(graph: Graph, insert: Callable[[Event], bytes]) -> dict[bytes, bytes]:
    """Re-key every event of `graph` in dependency order (the same
    deterministic schedule import uses, ref main.rs:69-76): `insert`
    stores each event, its dep keys already translated through the
    old-id → new-id map built so far, and returns its new id. Returns
    the old → new map."""
    schedule = graph.calculate_dependencies(
        set(), {h: IncludeSpec.INCLUDE_ALL for h in sorted(graph.events)}
    )
    mapping: dict[bytes, bytes] = {}
    for old in schedule:
        ev = graph.events[old]
        mapping[old] = insert(
            Event(
                cmd=ev.cmd,
                arg=ev.arg,
                deps={mapping[d]: hard for d, hard in ev.deps.items()},
            )
        )
    return mapping


def rehash_to_native(other: Graph) -> tuple[Graph, dict[bytes, bytes]]:
    """Translate a reference-hashed graph into this engine's id scheme:
    every event is re-ensured into a fresh Graph (`_rekey`) and the
    head-sets translate through the same map. Returns (native graph,
    old→new map)."""
    native = Graph()

    def insert(ev: Event) -> bytes:
        collision, new = native.ensure_event(ev)
        if collision is not None:
            raise HashCollision(new, collision)
        return new

    mapping = _rekey(other, insert)
    for name, heads in other.nstates.items():
        native.nstates[name] = {mapping[h] for h in heads}
    return native, mapping


def import_reference_file(wc, graph: Graph, path: str, state: str = "") -> set[bytes]:
    """The `m<` path for a reference-format FILE: decode + verify, rehash
    to native ids, then run the standard import/merge
    (store.import_merge ≙ main.rs:54-111). Returns the merged head-set."""
    from .store import import_merge

    native, _ = rehash_to_native(read_graph_file(path))
    return import_merge(wc, graph, native, state=state)


def arg_to_reference_command(arg: Any) -> dict:
    """Validate/normalize a native event arg into the exvc Command shape
    (the only args the reference file format can carry)."""
    if (
        isinstance(arg, dict)
        and set(arg) == {"addr", "kind"}
        and isinstance(arg.get("addr"), dict)
        and isinstance(arg.get("kind"), dict)
    ):
        return arg
    raise BincodeError(
        f"arg is not an exvc editor command and cannot be exported to the "
        f"reference format: {arg!r}"
    )


def export_reference_file(
    graph: Graph, path: str, state: str = ""
) -> dict[bytes, bytes]:
    """Write a native graph AS a reference-format file the Rust exvc can
    `m<`-import: every event is re-keyed under the reference's
    bincode-blake2b id scheme (`_rekey`, the mirror of
    rehash_to_native), and the named head-set travels as
    nstates[state]. Returns the native→reference id map."""
    out = Graph()

    def insert(ev: Event) -> bytes:
        arg_to_reference_command(ev.arg)  # BincodeError: not an editor arg
        h = reference_event_hash(ev)
        out.events[h] = ev
        return h

    mapping = _rekey(graph, insert)
    heads = graph.nstates.get(state, set())
    if heads:
        out.nstates[state] = {mapping[h] for h in heads}
    write_graph_file(out, path)
    return mapping
