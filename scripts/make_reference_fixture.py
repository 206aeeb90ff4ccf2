"""Generate tests/fixtures/reference_graph.exvc.zst — a graph file in
the Rust exvc's on-disk format (bincode 1.3.3 + zstd, ref
crates/exvc/src/main.rs:44-53).

The session below is replayed through the engine's own REPL (local
ExEngine, no Spark) so the dependency structure is the real
shelve-inferred DAG, then re-keyed under the REFERENCE id scheme
(blake2b-512 over each event's bincode bytes, ref graph.rs:140-141) by
core.bincode_io.export_reference_file. The resulting file is exactly
what the Rust binary would accept with `m<` and what it writes with
`w`; tests/test_bincode_io.py proves the import path against it.

Deterministic: same script -> byte-identical fixture.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from esvc_spark.cli import Repl  # noqa: E402
from esvc_spark.core.bincode_io import export_reference_file  # noqa: E402
from esvc_spark.core.exparse import make_command  # noqa: E402

FIXTURE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tests",
    "fixtures",
    "reference_graph.exvc.zst",
)

# (addr, cmd, body) triples — every command form and address form the
# reference file format can carry appears at least once.
SESSION = [
    ({"type": "rngf", "start": 0}, "insert", ["Guten Tag!", "hello world", "esvc"]),
    ({"type": "last"}, "append", ["tail line", "the end"]),
    ({"type": "rgx", "pattern": "hello"}, "substitute", ["l", "L"]),
    ({"type": "rng", "start": 1, "end": 2}, "change", ["heLLo spark"]),
    ({"type": "rng", "start": 3, "end": 4}, "delete", None),
    ({"type": "rgx", "pattern": "spark"}, "append", ["after spark"]),
]


def build_repl() -> Repl:
    r = Repl()
    for addr, cmd, body in SESSION:
        r.submit(make_command(addr, cmd, body))
    return r


def main() -> None:
    r = build_repl()
    os.makedirs(os.path.dirname(FIXTURE), exist_ok=True)
    mapping = export_reference_file(r.graph, FIXTURE)
    print(f"wrote {FIXTURE}")
    print(f"  events: {len(r.graph.events)}  heads: {len(r.heads)}")
    print(f"  final document: {r.materialize()!r}")
    print(f"  size: {os.path.getsize(FIXTURE)} bytes, {len(mapping)} ids mapped")


if __name__ == "__main__":
    main()
