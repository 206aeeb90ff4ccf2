"""The engine contract (BaseEngine) + in-memory engines.

BaseEngine is the one engine contract (≙ the Engine trait,
crates/esvc-traits/src/lib.rs:15-28): WorkCache, SnapshotStore and the
REPL call its seams directly. An engine must define only
run_event_bare(cmd, arg, dat) -> dat, a pure, deterministic,
whole-value transform returning a NEW value (datasets are immutable).
It may override the other seams, each of which has a default here:

  - dat_eq(a, b): whole-value equality, the reference's `Dat: PartialEq`
    bound, which dependency inference leans on (default `==`);
  - run_event_transient(cmd, arg, dat): the transform for a result that
    is only ever compared, never replayed from (default run_event_bare);
  - commute_batch(ev, tests, cur_st): every commutation verdict of one
    shelve round (default: the reference's sequential per-candidate
    replay);
  - release(dat): free a memoized value's resources (default no-op);
  - dat_key(dat): a content digest stable across processes, which
    names the base state's spill namespace (default blake2b of the
    value's repr);
  - the snapshot spill seam save_snapshot / load_snapshot /
    snapshot_exists / drop_snapshot / pin_snapshot (default one pickle
    file per state).

In-memory engines (reference parity, used by the regression/property
tests):
  - SearEngine: Dat=str, literal search-and-replace
    (≙ workcache.rs:500-511 test engine / example-sear fuzz target)
  - ExEngine: Dat=tuple[str,...], ed/ex-style line editor
    (≙ crates/exvc/src/en.rs:214-258)

The Spark-native engines live in spark_engine.py.
"""

from __future__ import annotations

import re
from typing import Any


class BaseEngine:
    def run_event_bare(self, cmd: int, arg: Any, dat: Any) -> Any:
        raise NotImplementedError

    def dat_eq(self, a: Any, b: Any) -> bool:
        return a == b

    def release(self, dat: Any) -> None:
        pass

    def run_event_transient(self, cmd: int, arg: Any, dat: Any) -> Any:
        """run_event_bare for a result that will only be compared."""
        return self.run_event_bare(cmd, arg, dat)

    def commute_batch(self, ev, tests, cur_st) -> dict:
        """{key: independent?} for `tests` = [(key, conc_base, conc_ev)],
        by the reference's commutation rule (workcache.rs:288-296):
        ev_first = ev(conc_base), ev_first_then = conc_ev(ev_first),
        independent iff ev_first != ev_first_then == cur_st."""
        verdicts = {}
        for key, conc_base, conc_ev in tests:
            ev_first = self.run_event_transient(ev.cmd, ev.arg, conc_base)
            ev_first_then = self.run_event_transient(
                conc_ev.cmd, conc_ev.arg, ev_first
            )
            verdicts[key] = (
                not self.dat_eq(ev_first, ev_first_then)
            ) and self.dat_eq(ev_first_then, cur_st)
        return verdicts

    def dat_key(self, dat: Any) -> str:
        """Hex content digest of `dat`, equal across processes for equal
        values: the repr of str, bytes and tuples is (`hash()` is salted
        per process; a pickle also encodes object identity)."""
        import hashlib

        return hashlib.blake2b(repr(dat).encode(), digest_size=8).hexdigest()

    # -- snapshot spill seam (store.SnapshotStore) -------------------------
    # Local engines hold plain picklable values (line tuples, text
    # lists), so the default spill is one pickle file with a .json
    # sidecar as the presence marker (written last / deleted first, so a
    # partial write or delete fails safe). SparkEngineBase overrides the
    # whole seam with parquet + a fingerprint sidecar.

    def save_snapshot(self, dat: Any, path: str) -> None:
        import pickle

        with open(path + ".pkl", "wb") as f:
            pickle.dump(dat, f)
        with open(path + ".json", "w") as f:
            f.write("{}")

    def load_snapshot(self, path: str) -> Any:
        import pickle

        with open(path + ".pkl", "rb") as f:
            return pickle.load(f)

    @staticmethod
    def snapshot_exists(path: str) -> bool:
        import os

        return os.path.exists(path + ".json")

    @staticmethod
    def pin_snapshot(dat: Any) -> None:
        """Make a loaded snapshot independent of its files, which
        SnapshotStore.pop deletes next. A loaded pickle already is."""

    @staticmethod
    def drop_snapshot(path: str) -> None:
        import os

        for suffix in (".json", ".pkl"):
            try:
                os.remove(path + suffix)
            except OSError:
                pass


class CommandNotFound(Exception):
    def __init__(self, cmd: int):
        super().__init__(f"engine couldn't find command with ID {cmd}")
        self.cmd = cmd


class SearEngine(BaseEngine):
    """Literal (non-regex) global search-and-replace over a string.
    arg = {"search": str, "replacement": str}; cmd must be 0.
    Non-idempotence (e.g. "0"->"0000") is semantically significant
    (workcache.rs:280-286)."""

    def run_event_bare(self, cmd: int, arg: Any, dat: str) -> str:
        if cmd != 0:
            raise CommandNotFound(cmd)
        return dat.replace(arg["search"], arg["replacement"])


def sear(search: str, replacement: str) -> dict[str, str]:
    return {"search": search, "replacement": replacement}


class RegistryEngine(BaseEngine):
    """The open extension point (≙ the WASM engine's role,
    crates/esvc-wasm/src/lib.rs:11-81, re-expressed as registered Python
    callables): commands are arbitrary `(arg, dat) -> dat` functions
    indexed by command id (add_commands ≙ lib.rs:92-108)."""

    def __init__(self) -> None:
        self._cmds: dict[int, Any] = {}

    def register(self, fn) -> int:
        cmd = len(self._cmds)
        self._cmds[cmd] = fn
        return cmd

    def add_commands(self, fns) -> tuple[int, int]:
        first = len(self._cmds)
        for fn in fns:
            self.register(fn)
        return first, len(self._cmds) - first

    def run_event_bare(self, cmd: int, arg: Any, dat: Any) -> Any:
        fn = self._cmds.get(cmd)
        if fn is None:
            raise CommandNotFound(cmd)
        return fn(arg, dat)


# --------------------------------------------------------------------- ex
# Local line-editor engine (≙ crates/exvc/src/en.rs). Dat = tuple[str,...]
# (immutable line vector). arg = the parsed Command as a plain dict (the
# serializable AST, ≙ en.rs:46-60):
#   {"addr": <address>, "kind": <kind>, ...}
# address: {"type": "rng", "start": s, "end": e} | {"type": "rngf",
#   "start": s} | {"type": "rgx", "pattern": p} | {"type": "last"}
# kind: {"kind": "append"|"change"|"insert", "lines": [...]} |
#   {"kind": "delete"} | {"kind": "substitute", "pat": p, "repl": r}


def resolve_addr(dat: tuple[str, ...], addr: dict) -> list[tuple[list[str], bool]]:
    """Split the line vector into (segment, selected) runs
    (≙ en.rs:105-156, incl. the empty-data insertion special case)."""
    n = len(dat)
    t = addr["type"]
    if n == 0:
        if (t == "rngf" and addr["start"] == 0) or t == "last":
            return [([], True)]
        return []
    if t == "rng":
        s, e = addr["start"], addr["end"]
        if s >= n or s >= e:
            return [(list(dat), False)]
        if e >= n:
            return [(list(dat[:s]), False), (list(dat[s:]), True)]
        return [
            (list(dat[:s]), False),
            (list(dat[s:e]), True),
            (list(dat[e:]), False),
        ]
    if t == "rngf":
        s = addr["start"]
        if s < n:
            return [(list(dat[:s]), False), (list(dat[s:]), True)]
        if s == n:
            return [(list(dat), False), ([], True)]
        return [(list(dat), False)]
    if t == "rgx":
        rx = re.compile(addr["pattern"])
        return [([line], bool(rx.search(line))) for line in dat]
    if t == "last":
        return [(list(dat[:-1]), False), ([dat[-1]], True)]
    raise ValueError(f"unknown address type {t!r}")


def _rust_repl_to_python(repl: str) -> str:
    """Translate Rust-regex `$1`/`${name}` group refs to Python `\\1`/
    `\\g<name>` so stored args keep one canonical syntax (the Spark engine
    passes `$1` through to Java regexp_replace unchanged)."""
    repl = re.sub(r"\$\{(\w+)\}", r"\\g<\1>", repl)
    repl = re.sub(r"\$(\d+)", r"\\\1", repl)
    return repl.replace("$$", "$")


def run_command(kind: dict, seg: list[str]) -> list[str]:
    """Apply one command to one selected segment (≙ en.rs:158-188)."""
    k = kind["kind"]
    if k == "append":
        return seg + list(kind["lines"])
    if k == "insert":
        return list(kind["lines"]) + seg
    if k == "change":
        return list(kind["lines"])
    if k == "delete":
        return []
    if k == "substitute":
        rx = re.compile(kind["pat"])
        repl = _rust_repl_to_python(kind["repl"])
        return [rx.sub(repl, line) for line in seg]
    raise ValueError(f"unknown command kind {k!r}")


class ExEngine(BaseEngine):
    """ed/ex-style line editor over an immutable line vector
    (≙ en.rs:214-258: resolve address → apply command to selected runs →
    flatten)."""

    def init_data(self, lines: list[str]) -> tuple[str, ...]:
        return tuple(lines)

    def lines(self, dat: tuple[str, ...]) -> tuple[str, ...]:
        return dat

    def run_event_bare(self, cmd: int, arg: dict, dat: tuple[str, ...]) -> tuple[str, ...]:
        if cmd != 0:
            raise CommandNotFound(cmd)
        segs = resolve_addr(tuple(dat), arg["addr"])
        out: list[str] = []
        for seg, selected in segs:
            out.extend(run_command(arg["kind"], seg) if selected else seg)
        return tuple(out)
