"""esvc event-log core: content-addressed event DAG with automatic
dependency inference (commutation testing) and branch merge.

Semantics re-expressed from the reference (fogti/esvc):
  - hashing.py   ≙ crates/esvc-core/src/hash.rs
  - graph.py     ≙ crates/esvc-core/src/graph.rs
  - workcache.py ≙ crates/esvc-core/src/workcache.rs
  - engines.py   ≙ crates/esvc-traits/src/lib.rs (BaseEngine, the engine
                   contract) + the in-memory engines, incl. ExEngine
                   ≙ crates/exvc/src/en.rs
  - exparse.py   ≙ crates/exvc/src/addr.rs + en.rs (parsers)
  - sandbox.py   ≙ crates/esvc-wasm/src/lib.rs (process-isolated engine)
  - spark_engine.py — the Spark-native engines (DataFrame datasets)
  - store.py     ≙ crates/exvc/src/main.rs persistence
  - bincode_io.py — the reference's bincode+zstd graph file format
  - dot.py       ≙ crates/esvc-core/src/dot.rs
  - highlight.py ≙ the REPL print's syntect highlighting (main.rs:121-177)

The control loops (shelve/merge) run on the driver; every dataset
transform and equality test is a Spark job when the Spark engines are
used, or plain Python for the in-memory engines (reference parity).
"""

from .graph import (
    DependencyCircuit,
    DependencyNotFound,
    Event,
    Graph,
    GraphError,
    HashCollision,
    IncludeSpec,
)
from .hashing import calculate_hash, format_hash, parse_hash
from .workcache import (
    HashChangeAtMerge,
    NoopAtMerge,
    WorkCache,
    WorkCacheError,
)

__all__ = [
    "DependencyCircuit",
    "DependencyNotFound",
    "Event",
    "Graph",
    "GraphError",
    "HashCollision",
    "IncludeSpec",
    "calculate_hash",
    "format_hash",
    "parse_hash",
    "HashChangeAtMerge",
    "NoopAtMerge",
    "WorkCache",
    "WorkCacheError",
]
