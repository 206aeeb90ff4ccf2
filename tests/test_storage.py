"""core.storage: the one storage seam of the stateful paths. Its path
resolution must name the directory Spark writes for the same string,
and the stateful modules must reach storage through nothing else."""

from __future__ import annotations

import ast
import os

import pyarrow.fs as pafs
import pytest

from esvc_spark.core import storage

_ROOT = os.path.join(os.path.dirname(os.path.dirname(__file__)), "esvc_spark")


@pytest.mark.parametrize(
    "path, want",
    [
        ("/tmp/a b/ü", "/tmp/a b/ü"),
        ("file:///tmp/a b/ü", "/tmp/a b/ü"),
        ("file:/tmp/x", "/tmp/x"),
        ("file://localhost/tmp/x", "/tmp/x"),
        ("file:///tmp/a%20b", "/tmp/a%20b"),  # not percent-decoded
    ],
)
def test_resolve_local_forms(path, want):
    fs, p = storage._resolve(path)
    assert fs is storage._LOCAL
    assert p == want


def test_parquet_rows_reads_the_dir_spark_writes_for_a_file_uri(
    spark, tmp_path, clean_cwd
):
    """Spark writes parquet at a `file:` URI holding a space (and a
    `%20`, which Hadoop's Path keeps literal); parquet_rows on the same
    string sums that directory's footers to Spark's row count."""
    for name in ("a b", "a%20b"):
        uri = "file://" + str(tmp_path / name / "t")
        spark.range(37).repartition(3).write.parquet(uri)
        assert (tmp_path / name / "t").is_dir()
        assert storage.parquet_rows(uri) == spark.read.parquet(uri).count() == 37
    assert not (clean_cwd / "file:").exists()


def test_mock_uri_store_round_trips_on_one_filesystem(monkeypatch):
    """A non-`file:` scheme builds its filesystem once per authority:
    a graph saved at a `mock://` URI (a fresh in-memory filesystem per
    `from_uri` call) loads back, and `from_uri` ran once for each
    authority, whose later paths match what `from_uri` names."""
    from esvc_spark.core.graph import Event, Graph
    from esvc_spark.core.store import load_graph, save_graph

    calls = []

    class _FileSystem:
        @staticmethod
        def from_uri(uri):
            calls.append(uri)
            return pafs.FileSystem.from_uri(uri)

    class _Pafs:
        FileSystem = _FileSystem

        def __getattr__(self, name):
            return getattr(pafs, name)

    monkeypatch.setattr(storage, "pafs", _Pafs())
    monkeypatch.setattr(storage, "_FS", {}, raising=False)
    g = Graph()
    _, h = g.ensure_event(Event(cmd=0, arg={"x": 1}))
    g.nstates[""] = {h}
    for root in ("mock:///g", "mock://other/g ü"):
        save_graph(None, g, root)
        back = load_graph(None, root)
        assert back.events == g.events and back.nstates == g.nstates
    assert [u.split("/")[2] for u in calls] == ["", "other"]
    for uri in ("mock:///g/nstates/", "mock://other/g%20%C3%BC/c", "mock:"):
        assert storage._resolve(uri)[1] == pafs.FileSystem.from_uri(uri)[1]


def test_unknown_scheme_is_an_os_error():
    with pytest.raises(OSError, match="no filesystem"):
        storage.exists("nosuchscheme://x/y")


_SEAM_MODULES = [
    "core/store.py",
    "core/bincode_io.py",
    "cli.py",
    "core/spark_engine.py",
    "core/engines.py",
    "streaming/pipelines.py",
    "operators/ann_store.py",
    "sources/io.py",
]
_FORBIDDEN_CALLS = {
    "os.listdir",
    "os.replace",
    "os.rename",
    "os.remove",
    "os.makedirs",
    "os.path.exists",
    "os.path.isdir",
    "os.path.isfile",
    "open",
}
_FORBIDDEN_MODULES = {"shutil", "glob", "subprocess"}


def _dotted(node) -> str | None:
    parts = []
    while isinstance(node, ast.Attribute):
        parts.append(node.attr)
        node = node.value
    if not isinstance(node, ast.Name):
        return None
    return ".".join([node.id, *reversed(parts)])


def test_stateful_modules_reach_storage_only_through_the_seam():
    """No call in the stateful modules reaches the filesystem around
    core.storage: no os file calls, no shutil, glob or subprocess, no
    builtin open, no Hadoop FileSystem over py4j."""
    found = []
    for rel in _SEAM_MODULES:
        tree = ast.parse(open(os.path.join(_ROOT, rel), encoding="utf-8").read())
        for node in ast.walk(tree):
            where = f"{rel}:{getattr(node, 'lineno', '?')}"
            if isinstance(node, ast.Import):
                found += [
                    f"{where} import {a.name}" for a in node.names
                    if a.name.split(".")[0] in _FORBIDDEN_MODULES
                ]
            elif isinstance(node, ast.ImportFrom) and node.module:
                top = node.module.split(".")[0]
                found += [
                    f"{where} from {node.module} import {a.name}"
                    for a in node.names
                    if top in _FORBIDDEN_MODULES
                    or f"{node.module}.{a.name}" in _FORBIDDEN_CALLS
                ]
            elif isinstance(node, ast.Call):
                name = _dotted(node.func)
                if name in _FORBIDDEN_CALLS or (
                    name and name.split(".")[0] in _FORBIDDEN_MODULES
                ):
                    found.append(f"{where} {name}()")
            elif isinstance(node, ast.Attribute):
                name = _dotted(node)
                if name and "org.apache.hadoop" in name:
                    found.append(f"{where} {name}")
    assert not found, found
