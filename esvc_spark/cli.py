"""exvc-style REPL over the event-log core (≙ crates/exvc/src/main.rs:255-339).

Line grammar:
  *dot           emit graphviz .dot of the event DAG   (main.rs:36-38)
  *state         list current head hashes              (main.rs:39-43)
  w <dir>        save graph                            (main.rs:44-53)
  m< <dir>       import + merge another graph          (main.rs:54-111)
  q!             quit                                  (main.rs:321-322)
  <addr><cmd>    editor command; a/c/i/s read body lines until "."
                 (main.rs:183-210); bare <addr> prints (main.rs:121-177)

Driver-side orchestration only — the dataset engine can be the in-memory
ExEngine (default) or the Spark-backed one; the REPL logic is identical
(the reference's whole point: the core is engine-agnostic).
"""

from __future__ import annotations

import sys
from typing import Callable, TextIO

from .core.dot import to_dot
from .core.engines import ExEngine, resolve_addr
from .core.exparse import AddressParseError, make_command, parse_command
from .core.graph import Event, Graph
from .core.hashing import format_hash
from .core.store import append_head
from .core.workcache import WorkCache

_BODY_CMDS = {"append", "change", "insert"}


class Repl:
    def __init__(
        self,
        init_lines: tuple[str, ...] = (),
        engine=None,
        spill_dir: str | None = None,
        persist_budget: int = 8,
        path: str | None = None,
    ):
        # the session's graph-file path (≙ Context.path, main.rs:15):
        # bare `w` writes here, and Print picks its highlight syntax
        # from its extension (main.rs:134-138) — set even when the file
        # doesn't exist yet, exactly like the reference (main.rs:283)
        self.path = path
        self.engine = engine or ExEngine()
        # Engine-agnostic bootstrapping (the reference's whole point): the
        # in-memory ExEngine's Dat IS the line tuple; the Spark-backed
        # engine wraps the lines in a persisted DataFrame + fingerprint.
        init = self.engine.init_data(list(init_lines))
        self.graph = Graph()
        # spill_dir opts into the bounded SnapshotStore memo (parquet
        # spill by state key, reload across sessions) — the reference's
        # REPL holds every state in RAM forever; a long session here
        # doesn't have to.
        sts = None
        if spill_dir is not None:
            from .core.store import SnapshotStore

            sts = SnapshotStore(
                self.engine, spill_dir, persist_budget=persist_budget
            )
        self.wc = WorkCache(self.engine, init, sts=sts)

    @property
    def heads(self) -> set[bytes]:
        return set(self.graph.nstates.get("", set()))

    def materialize(self) -> tuple[str, ...]:
        dat = self.wc.materialize(self.graph, self.heads)
        return tuple(self.engine.lines(dat))

    # ---------------------------------------------------------------- ops

    def print_lines(self, addr: dict, out: TextIO) -> None:
        """≙ main.rs:121-177: numbered print of the selected segment,
        syntax-highlighted when the session path's extension names a
        known syntax (core/highlight.py — the reduced syntect twin).
        The highlighter consumes EVERY line in order, selected or not,
        so multi-line constructs stay in sync (main.rs:146); line
        numbers are grey 240 like the reference's Colour::Fixed(240)."""
        from .core.highlight import Highlighter

        dat = self.materialize()
        hl = Highlighter.for_path(self.path)
        lineno = 0
        for seg, selected in resolve_addr(dat, addr):
            for line in seg:
                lineno += 1
                if hl is not None:
                    painted = hl.highlight_line(line)
                    if selected:
                        out.write(
                            f"\x1b[38;5;240m{lineno:6d}\x1b[0m  "
                            f"{painted}\x1b[0m\n"
                        )
                elif selected:
                    out.write(f"{lineno:6d}  {line}\n")

    def submit(self, command: dict) -> bytes | None:
        """Shelve an editor command as an event; update heads
        (≙ main.rs:217-250). Returns the new event id, or None if no-op."""
        evid = self.wc.shelve_event(
            self.graph, self.heads, Event(cmd=0, arg=command, deps={})
        )
        if evid is not None:
            append_head(self.graph, evid)
        return evid

    def merge_from(self, path: str, spark=None) -> None:
        """`m<` accepts both on-disk graph forms: a parquet DIRECTORY
        written by store.save_graph, or a reference-format FILE
        (bincode+zstd, as the Rust exvc writes — ref main.rs:54-111);
        the latter is decoded, hash-verified, and rehashed to the
        native id scheme before the standard import/merge. Neither form
        needs a Spark session; `spark` is passed through to
        store.load_graph, which ignores it."""
        import os

        if os.path.isfile(path):
            from .core.bincode_io import import_reference_file

            import_reference_file(self.wc, self.graph, path)
            return
        from .core.store import import_merge, load_graph

        other = load_graph(spark, path)
        import_merge(self.wc, self.graph, other)

    # ---------------------------------------------------------------- loop

    def handle_line(
        self,
        line: str,
        out: TextIO,
        read_body: Callable[[], list[str]],
        spark=None,
        read_line: Callable[[], str] | None = None,
    ) -> bool:
        """One REPL line; returns False to quit (≙ main.rs:278-339)."""
        line = line.rstrip("\n")
        if line == "q!":
            return False
        if line == "*dot":
            out.write(to_dot(self.graph))
            return True
        if line == "*state":
            for h in sorted(self.heads):
                out.write(format_hash(h) + "\n")
            return True
        if line == "w" or line.startswith("w "):
            if line == "w":
                # bare `w` writes the session's graph file, the
                # reference-format form always (≙ main.rs:44-52, which
                # bincode+zstd-serializes to self.path unconditionally)
                # — unless the session was opened ON a parquet
                # directory store, which round-trips as itself
                if self.path is None:
                    out.write(
                        "?w: no file path is associated with this "
                        "session\n"
                    )
                    return True
                target = self.path
            else:
                target = line[2:].strip()
            # `.zst`/`.exvc` target = the reference's own on-disk format
            # (bincode+zstd, exactly what the Rust exvc's `w` writes —
            # main.rs:44-53). Anything else is the parquet directory
            # store. Neither needs a Spark session.
            import os as _os

            if (line == "w" and not _os.path.isdir(target)) or target.endswith(
                (".zst", ".exvc")
            ):
                import subprocess

                from .core.bincode_io import BincodeError, export_reference_file

                # user errors (non-editor args from a merged-in registry
                # session, missing zstd binary, unwritable path, a failing
                # zstd subprocess) must report like every other bad REPL
                # input — an escaped exception would kill the session and
                # its unsaved events
                try:
                    export_reference_file(self.graph, target, state="")
                except (
                    BincodeError,
                    RuntimeError,
                    OSError,
                    subprocess.CalledProcessError,
                ) as e:
                    out.write(f"?w: {e}\n")
                return True
            from .core.store import save_graph

            try:
                save_graph(spark, self.graph, target)
            except OSError as e:
                out.write(f"?w: {e}\n")
            return True
        if line == "m<" or line.startswith("m< "):
            import os

            if line == "m<":
                # bare `m<` reads the import path from the NEXT input
                # line, the reference's interactive form (main.rs:54-58)
                if read_line is None:
                    out.write("?m<: missing path (use `m< <path>`)\n")
                    return True
                target = read_line().strip()
            else:
                target = line[3:].strip()
            # neither the reference-format FILE nor the parquet directory
            # store needs a Spark session. Never fall through to the
            # editor parser — a typo'd path would masquerade as a syntax
            # error.
            if os.path.exists(target):
                import subprocess

                from .core.bincode_io import BincodeError
                from .core.graph import GraphError

                # same containment contract as `w`: a corrupt/truncated
                # file, a missing zstd binary, or a graph whose heads
                # reference unknown events (DependencyNotFound et al.)
                # reports per-line like the reference REPL (main.rs loop)
                # instead of killing the session with its unsaved events
                try:
                    self.merge_from(target, spark)
                except (
                    BincodeError,
                    GraphError,
                    RuntimeError,
                    OSError,
                    KeyError,
                    subprocess.CalledProcessError,
                ) as e:
                    out.write(f"?m<: {e}\n")
            else:
                out.write(f"?m<: no such file {target!r}\n")
            return True
        if not line.strip():
            return True
        try:
            parsed, _ = parse_command(line)
        except AddressParseError as e:
            out.write(f"?{e}\n")
            return True
        if parsed["cmd"] == "print":
            self.print_lines(parsed["addr"], out)
            return True
        body = (
            read_body() if parsed["cmd"] in (*_BODY_CMDS, "substitute") else None
        )
        try:
            command = make_command(parsed["addr"], parsed["cmd"], body)
        except ValueError as e:
            out.write(f"?{e}\n")
            return True
        evid = self.submit(command)
        if evid is None:
            out.write("?no-op event discarded\n")
        return True


def main(
    argv: list[str] | None = None,
    stdin: TextIO | None = None,
    stdout: TextIO | None = None,
    spark=None,
) -> None:
    """REPL entry. Like the reference binary (main.rs:267-276), an
    optional argv path is a graph file loaded BEFORE the loop starts —
    both the reference's bincode+zstd file form and the parquet
    directory store, neither of which needs a Spark session. A bad
    startup file reports and starts empty rather than refusing to
    launch: the session is still useful and the user sees why the graph
    is empty."""
    argv = sys.argv[1:] if argv is None else argv
    stdin = sys.stdin if stdin is None else stdin
    stdout = sys.stdout if stdout is None else stdout
    # the argv path becomes the session path even when the file doesn't
    # exist yet (≙ main.rs:283 `ctx.path = arg.map(Into::into)`): bare
    # `w` targets it and Print highlights by its extension
    repl = Repl(path=argv[0] if argv else None)

    if argv:
        import os
        import subprocess

        from .core.bincode_io import BincodeError
        from .core.graph import GraphError

        path = argv[0]
        try:
            if not os.path.exists(path):
                stdout.write(f"?load: no such file {path!r}\n")
            else:
                repl.merge_from(path, spark)
        except (
            BincodeError,
            GraphError,
            RuntimeError,
            OSError,
            KeyError,
            subprocess.CalledProcessError,
        ) as e:
            stdout.write(f"?load: {e}\n")

    def read_body() -> list[str]:
        lines = []
        for raw in stdin:
            raw = raw.rstrip("\n")
            if raw == ".":
                break
            lines.append(raw)
        return lines

    def read_line() -> str:
        return next(iter(stdin), "").rstrip("\n")

    for raw in stdin:
        if not repl.handle_line(
            raw, stdout, read_body, spark=spark, read_line=read_line
        ):
            break


if __name__ == "__main__":  # pragma: no cover
    main()
