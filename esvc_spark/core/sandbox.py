"""Process-isolated plugin command engine (≙ crates/esvc-wasm/src/lib.rs).

The reference's `WasmEngine` runs UNTRUSTED command modules with a
fresh `wasmtime::Store` + `Instance` per call (lib.rs:36-37: no state
survives between calls) over a byte-buffer ABI: Arg = Vec<u8>,
Dat = Vec<u8>, `transform(arg, dat) -> bytes` (lib.rs:13-14, 51-61).
`add_commands` compiles/validates every module up front
(lib.rs:92-108) and `run_event_bare` addresses them by integer id.

`SandboxEngine` restores those properties without a wasm runtime
(wasmtime-py is not available in this environment):

- commands are Python SOURCE STRINGS defining
  ``transform(arg: bytes, dat: bytes) -> bytes`` — the analog of a wasm
  module's bytes; registration parse-checks them (compile(), no
  execution — ≙ `Module::new` validation) and returns (first_id, n)
  exactly like the reference.
- every call spawns a FRESH ``python -I -S`` subprocess (isolated mode:
  no env hooks, no user site-packages), so per-call instance freshness
  holds: no globals, monkeypatching, or interpreter state can leak
  between calls or back into the host — the property an in-process
  registry of Python callables would lose.
- the child is resource-limited (address-space + CPU rlimits, wall
  timeout) and talks over a length-framed stdin/stdout byte protocol —
  no pickling of host objects into or out of the sandbox.

Honest scope: this is PROCESS isolation (fresh state, crash/hang/alloc
containment), not a wasm-grade security boundary — a hostile module
still holds an unrestricted Python interpreter with the child's OS
privileges (it can read files the process user can read). The
reference's wasm sandbox is stronger there; SURVEY §2.4 records the
delta.

Determinism contract: like every Engine, transforms must be pure
functions of (arg, dat) — the dependency-inference algorithm replays
them and compares results (workcache.rs:119-417 parity).
"""

from __future__ import annotations

import struct
import subprocess
import sys
from typing import Any, Iterable

from .engines import BaseEngine, CommandNotFound
from .graph import canonical_json_encode


class SandboxError(RuntimeError):
    """The sandboxed command failed: crashed, timed out, blew a resource
    limit, or returned a malformed reply."""


# The child-side runner. Reads one length-framed request from stdin
# (source, arg, dat), execs the command module in a fresh namespace,
# calls transform, writes the length-framed result to stdout. Runs
# under `python -I -S -c` so nothing of the host session leaks in.
_RUNNER = r"""
import resource, struct, sys
resource.setrlimit(resource.RLIMIT_AS, (_AS_, _AS_))
resource.setrlimit(resource.RLIMIT_CPU, (_CPU_, _CPU_))
raw = sys.stdin.buffer.read()
off = 0
def take(n):
    global off
    if off + n > len(raw):
        raise SystemExit("truncated request frame")
    b = raw[off:off+n]; off += n
    return b
(n,) = struct.unpack("<Q", take(8)); src = take(n).decode("utf-8")
(n,) = struct.unpack("<Q", take(8)); arg = take(n)
(n,) = struct.unpack("<Q", take(8)); dat = take(n)
ns = {}
exec(compile(src, "<command>", "exec"), ns)
fn = ns.get("transform")
if fn is None:
    raise SystemExit("command module defines no transform(arg, dat)")
out = fn(arg, dat)
if not isinstance(out, (bytes, bytearray)):
    raise SystemExit(
        "transform must return bytes, got %s" % type(out).__name__
    )
sys.stdout.buffer.write(struct.pack("<Q", len(out)) + bytes(out))
"""


def _frame(*parts: bytes) -> bytes:
    out = bytearray()
    for p in parts:
        out += struct.pack("<Q", len(p))
        out += p
    return bytes(out)


class SandboxEngine(BaseEngine):
    """Engine whose commands run in throwaway subprocesses.

    Dat = bytes, Arg = any JSON-able value (delivered to the command as
    canonical-JSON bytes, mirroring the reference's Arg = Vec<u8>) or
    raw bytes."""

    def __init__(
        self,
        timeout: float = 30.0,
        memory_limit_mb: int = 512,
        cpu_limit_sec: int = 20,
    ):
        self._cmds: list[str] = []
        self.timeout = timeout
        self._runner = _RUNNER.replace(
            "_AS_", str(memory_limit_mb * 1024 * 1024)
        ).replace("_CPU_", str(cpu_limit_sec))

    # -- registration (≙ lib.rs:92-108) ---------------------------------
    def register(self, source: str) -> int:
        compile(source, "<command>", "exec")  # validate, never execute
        self._cmds.append(source)
        return len(self._cmds) - 1

    def add_commands(self, sources: Iterable[str]) -> tuple[int, int]:
        first = len(self._cmds)
        for src in sources:
            self.register(src)
        return first, len(self._cmds) - first

    # -- execution (≙ lib.rs:16-82) -------------------------------------
    def run_event_bare(self, cmd: int, arg: Any, dat: bytes) -> bytes:
        if not (0 <= cmd < len(self._cmds)):
            raise CommandNotFound(cmd)
        arg_b = arg if isinstance(arg, bytes) else canonical_json_encode(arg)
        req = _frame(self._cmds[cmd].encode("utf-8"), arg_b, bytes(dat))
        try:
            proc = subprocess.run(
                [sys.executable, "-I", "-S", "-c", self._runner],
                input=req,
                capture_output=True,
                timeout=self.timeout,
            )
        except subprocess.TimeoutExpired as exc:
            raise SandboxError(
                f"command {cmd} exceeded {self.timeout}s wall timeout"
            ) from exc
        if proc.returncode != 0:
            err = proc.stderr.decode("utf-8", "replace").strip()
            raise SandboxError(
                f"command {cmd} failed (exit {proc.returncode}): {err[-2000:]}"
            )
        out = proc.stdout
        if len(out) < 8:
            raise SandboxError(f"command {cmd}: malformed reply (too short)")
        (n,) = struct.unpack("<Q", out[:8])
        if len(out) != 8 + n:
            raise SandboxError(
                f"command {cmd}: reply frame says {n} bytes, got {len(out) - 8}"
            )
        return out[8 : 8 + n]
