"""The one way the stateful paths reach storage: the graph store, the
reference-format graph file (core/bincode_io.py: the REPL's `w x.zst`,
`m< x.zst` and startup load), the snapshot spill seam, the event-log
heads swap, table compaction, the IVF index store
(operators/ann_store.py: its codebook swaps, cell compactions and cell
drops) and the REPL's path checks. Every operation takes the path
string Spark is handed for the same location and resolves it to a
`pyarrow.fs` filesystem:

  * a plain path (no `scheme:` before its first `/`, Hadoop's rule) is
    a `LocalFileSystem` path;
  * a `file:` string is the raw path after the scheme and authority, NOT
    percent-decoded, because that is the directory Spark's Hadoop `Path`
    writes for it (`file:///tmp/a b/ü` is `/tmp/a b/ü`, `file:///a%20b`
    is `/a%20b`). `FileSystem.from_uri` rejects the first and decodes
    the second;
  * any other scheme (hdfs://, s3://, ...) goes to
    `FileSystem.from_uri`; a scheme it cannot serve raises OSError. The
    filesystem is built once per scheme, authority and query (building
    an S3 one looks up the bucket's region), and later paths under it
    are derived as `from_uri` derives them.

Correctness rests on commit markers, not on an atomic rename, which an
object store lacks (there a directory move is a copy and a delete):

  * a spill counts only once its sidecar exists; the sidecar is written
    last and deleted first (the engines' snapshot seams);
  * a directory is replaced through a stage that is complete once it
    holds `_SUCCESS` (Spark's committer writes it; the graph store
    writes it after its part file). `replace_dir` deletes the old
    directory, then moves the stage in; `recover_dir`, run before the
    next read or write, rolls a marked stage forward and deletes an
    unmarked one. Once recovered, a crash at any step leaves the old or
    the new directory, never neither.
"""

from __future__ import annotations

import posixpath
import re
from urllib.parse import unquote, urlsplit

import pyarrow.fs as pafs
import pyarrow.parquet as pq

SUCCESS = "_SUCCESS"

_SCHEME = re.compile(r"([A-Za-z][A-Za-z0-9+.\-]*):")
_LOCAL = pafs.LocalFileSystem()
_MISSING = pafs.FileType.NotFound


# the path inside the filesystem that `FileSystem.from_uri` names for a
# URI's (authority, percent-decoded path), per scheme: object stores
# prefix the bucket and drop a trailing slash, mock drops the leading
# slash, hdfs keeps the path. A scheme not listed is resolved uncached.
def _bucket_path(auth: str, p: str) -> str:
    return (auth.rpartition("@")[2] + p).rstrip("/")


_FS_PATH = {
    "s3": _bucket_path,
    "gs": _bucket_path,
    "gcs": _bucket_path,
    "hdfs": lambda auth, p: p,
    "viewfs": lambda auth, p: p,
    "mock": lambda auth, p: p.lstrip("/"),
}
_FS: dict[str, pafs.FileSystem] = {}


def _from_uri(uri: str) -> tuple[pafs.FileSystem, str]:
    try:
        return pafs.FileSystem.from_uri(uri)
    except ValueError as e:  # ArrowInvalid: no filesystem for the scheme
        raise OSError(f"no filesystem for {uri!r}: {e}") from e


def _resolve(path: str) -> tuple[pafs.FileSystem, str]:
    m = _SCHEME.match(path)
    if m is None:
        return _LOCAL, path
    scheme = m.group(1).lower()
    if scheme == "file":
        rest = path[m.end():]
        if rest.startswith("//"):  # drop the (empty or host) authority
            rest = rest[rest.find("/", 2):] if "/" in rest[2:] else "/"
        return _LOCAL, rest
    fs_path = _FS_PATH.get(scheme)
    if fs_path is None:
        return _from_uri(path)
    u = urlsplit(path)
    root = f"{scheme}://{u.netloc}" + (f"?{u.query}" if u.query else "")
    fs = _FS.get(root)
    if fs is None:  # threads racing here all keep the first one stored
        fs = _FS.setdefault(root, _from_uri(root)[0])
    return fs, fs_path(u.netloc, unquote(u.path))


def _type(fs: pafs.FileSystem, p: str) -> pafs.FileType:
    return fs.get_file_info(p).type


def exists(path: str) -> bool:
    return _type(*_resolve(path)) != _MISSING


def isdir(path: str) -> bool:
    return _type(*_resolve(path)) == pafs.FileType.Directory


def listdir(path: str) -> list[str]:
    """Names of the entries directly under directory `path`."""
    fs, p = _resolve(path)
    return [i.base_name for i in fs.get_file_info(pafs.FileSelector(p))]


def parquet_rows(path: str) -> int:
    """Sum of the footer row counts of the visible `*.parquet` files
    directly under directory `path` (readers skip `.` and `_` files):
    no Spark job, no data page read."""
    fs, p = _resolve(path)
    return sum(
        pq.read_metadata(i.path, filesystem=fs).num_rows
        for i in fs.get_file_info(pafs.FileSelector(p))
        if i.is_file and i.base_name.endswith(".parquet")
        and i.base_name[0] not in "._"
    )


def read_parquet(path: str, columns: list[str]):
    """The parquet file or directory `path` as one pyarrow Table."""
    fs, p = _resolve(path)
    return pq.read_table(p, columns=columns, filesystem=fs)


def read_bytes(path: str) -> bytes:
    """The bytes of the file `path` as stored: no codec is guessed from
    its name (pyarrow would inflate a `.zst` or `.gz` file)."""
    fs, p = _resolve(path)
    with fs.open_input_stream(p, compression=None) as f:
        return f.read()


def write_bytes(path: str, data) -> None:
    """Write `data` as the file `path`, byte for byte (no codec guessed
    from its name); its directory must exist."""
    fs, p = _resolve(path)
    with fs.open_output_stream(p, compression=None) as f:
        f.write(data)


def _delete(fs: pafs.FileSystem, p: str) -> None:
    t = _type(fs, p)
    if t == pafs.FileType.Directory:
        fs.delete_dir(p)
    elif t != _MISSING:
        fs.delete_file(p)


def delete(path: str) -> None:
    """Delete the file or directory tree `path`; a missing one is fine."""
    _delete(*_resolve(path))


def makedirs(path: str) -> None:
    fs, p = _resolve(path)
    fs.create_dir(p, recursive=True)


def _move(fs: pafs.FileSystem, src: str, dst: str) -> None:
    fs.move(src, dst)


def replace_dir(stage: str, final: str) -> None:
    """Replace directory `final` by the complete `stage`: delete
    `final`, then move `stage` in (see the module docstring)."""
    fs, s = _resolve(stage)
    f = _resolve(final)[1]
    _delete(fs, f)
    _move(fs, s, f)


def recover_dir(stage: str, final: str) -> None:
    """Finish a `replace_dir` a crash interrupted: a stage holding
    `_SUCCESS` replaces `final`; one without it is deleted."""
    fs, s = _resolve(stage)
    if _type(fs, s) == _MISSING:
        return
    if _type(fs, posixpath.join(s, SUCCESS)) == _MISSING:
        _delete(fs, s)
    else:
        replace_dir(stage, final)
