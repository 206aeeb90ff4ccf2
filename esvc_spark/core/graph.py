"""The event DAG.

Parity with crates/esvc-core/src/graph.rs:
  - Event                  ≙ graph.rs:9-15 (cmd, arg, deps{hash: is_hard})
  - Graph                  ≙ graph.rs:23-29 (events by hash + named states)
  - fold_state             ≙ graph.rs:56-83 (closure / frontier-minimize)
  - calculate_dependencies ≙ graph.rs:85-129 (deterministic topo schedule)
  - ensure_event           ≙ graph.rs:132-155 (content-addressed upsert)

Event identity is the Blake2b-512 digest of a canonical byte encoding
(ours, versioned — NOT bincode-compatible with the reference; SURVEY.md §7
recommendation). Determinism: everywhere the reference relies on BTreeMap/
BTreeSet iteration order (sorted by hash), we sort the byte-string hashes —
Python bytes ordering == Rust [u8] Ord.

Args are engine-specific values serialized as canonical JSON (sorted
keys, compact separators, UTF-8).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from enum import Enum
from typing import Any

from .hashing import calculate_hash, format_hash


class GraphError(Exception):
    pass


class DatasetNotFound(GraphError):
    pass


class DependencyCircuit(GraphError):
    def __init__(self, evid: bytes):
        super().__init__(f"dependency circuit @ {format_hash(evid)}")
        self.evid = evid


class DependencyNotFound(GraphError):
    def __init__(self, evid: bytes):
        super().__init__(f"unable to retrieve dependency {format_hash(evid)}")
        self.evid = evid


class HashCollision(GraphError):
    def __init__(self, evid: bytes, ev: Any):
        super().__init__(f"hash collision @ {format_hash(evid)} inserting {ev!r}")
        self.evid = evid


class IncludeSpec(Enum):
    INCLUDE_ALL = "include_all"
    INCLUDE_ONLY_DEPS = "include_only_deps"


def canonical_json_encode(arg: Any) -> bytes:
    return json.dumps(arg, sort_keys=True, separators=(",", ":"), ensure_ascii=False).encode(
        "utf-8"
    )


@dataclass(frozen=True)
class Event:
    """One event: a command id, an opaque argument, and a dependency map
    hash -> is_hard (hard = unambiguous, soft = ambiguous; graph.rs:13)."""

    cmd: int
    arg: Any
    deps: dict[bytes, bool] = field(default_factory=dict)

    def encode(self) -> bytes:
        """Canonical byte encoding (versioned on-disk contract; the hash
        input ≙ graph.rs:140-141 bincode role)."""
        arg_b = canonical_json_encode(self.arg)
        out = bytearray(b"esvc-spark:event:v1\x00")
        out += self.cmd.to_bytes(4, "little")
        out += len(arg_b).to_bytes(8, "little")
        out += arg_b
        out += len(self.deps).to_bytes(8, "little")
        for h in sorted(self.deps):
            out += h
            out += b"\x01" if self.deps[h] else b"\x00"
        return bytes(out)

    def __eq__(self, other: object) -> bool:
        return (
            isinstance(other, Event)
            and self.cmd == other.cmd
            and self.arg == other.arg
            and self.deps == other.deps
        )

    def __hash__(self) -> int:  # pragma: no cover - identity by content hash
        return hash((self.cmd, repr(self.arg), tuple(sorted(self.deps.items()))))


# The one named head-set in use: the editor's heads, kept where the
# reference's exvc keeps them (nstates[""], main.rs). A decoded graph file
# still keeps every name it carries.
HEADS = ""


class Graph:
    """Append-only content-addressed event log + named head-sets."""

    def __init__(self):
        self.events: dict[bytes, Event] = {}
        self.nstates: dict[str, set[bytes]] = {}

    # -- fold_state ≙ graph.rs:56-83 ------------------------------------
    def fold_state(self, st: dict[bytes, bool], expand: bool) -> dict[bytes, bool]:
        """Transitive closure over deps edges. Entries start False; every
        hash that is some member's dependency is marked True. expand=True
        returns the full ancestor closure; expand=False keeps only frontier
        heads (entries never marked as a dependency)."""
        st = dict(st)
        while True:
            before = len(st)
            for h in sorted(st):
                ev = self.events.get(h)
                if ev is None:
                    raise DependencyNotFound(h)
                for j in ev.deps:
                    st[j] = True
            if len(st) == before:
                break
        if not expand:
            st = {h: is_dep for h, is_dep in st.items() if not is_dep}
        return st

    # -- calculate_dependencies ≙ graph.rs:85-129 ------------------------
    def calculate_dependencies(
        self, tt: set[bytes], evids: dict[bytes, IncludeSpec]
    ) -> list[bytes]:
        """Deterministic dependency-respecting schedule (iterative DFS with
        an explicit stack, processed in hash order). INCLUDE_ONLY_DEPS
        schedules an event's ancestors but omits the event itself. Cycles
        raise DependencyCircuit; unknown events DependencyNotFound."""
        ret: list[bytes] = []
        tt = set(tt)
        for main_evid in sorted(evids):
            incl = evids[main_evid]
            stack = [main_evid]
            # events pushed back awaiting deps; a pending event re-expanded
            # with still-unresolved deps means a cycle ANYWHERE in the
            # ancestry, not just through main_evid (the reference's check,
            # graph.rs:103-106, misses intermediate cycles — a TODO there —
            # but this port can ingest cyclic graphs from foreign parquet
            # via load_graph/import_merge, so a bad file must raise, not
            # spin the driver forever).
            pending: set[bytes] = set()
            while stack:
                evid = stack.pop()
                if evid in tt:
                    continue
                evwd = self.events.get(evid)
                if evwd is None:
                    raise DependencyNotFound(evid)
                necessary = [h for h in sorted(evwd.deps) if h not in tt]
                if necessary:
                    if evid in pending:
                        # re-expanded while already awaiting deps: cycle
                        raise DependencyCircuit(evid)
                    pending.add(evid)
                    stack.append(evid)
                    stack.extend(necessary)
                else:
                    pending.discard(evid)
                    if evid == main_evid and incl is not IncludeSpec.INCLUDE_ALL:
                        break
                    ret.append(evid)
                    tt.add(evid)
        return ret

    # -- ensure_event ≙ graph.rs:132-155 ---------------------------------
    def ensure_event(self, ev: Event) -> tuple[Event | None, bytes]:
        """Content-addressed get-or-insert. Returns (colliding event or
        None, hash). Re-inserting an identical event is a no-op; same hash
        with different payload reports the collision."""
        h = calculate_hash(ev.encode())
        existing = self.events.get(h)
        if existing is None:
            self.events[h] = ev
            return None, h
        if existing == ev:
            return None, h
        return ev, h
