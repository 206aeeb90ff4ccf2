from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from esvc_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("esvc-spark-tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


# The path forms every stateful path must accept. The `file:` URIs are
# strings Spark accepts for the same directory; the last one holds a
# space and a non-ASCII character, which a URI parser rejects.
PATH_FORMS = ["plain", "file-uri", "file-uri-space-nonascii"]


def path_in_form(base, form: str) -> str:
    """A directory under `base` (a pathlib.Path) named in `form`."""
    if form == "plain":
        return str(base)
    if form == "file-uri":
        return "file://" + str(base)
    return "file://" + str(base / "x y ü")


@pytest.fixture
def clean_cwd(tmp_path, monkeypatch):
    """An empty working directory for the test. A path string taken as
    a relative local path (a `file:` URI handed to `os`) would leave a
    `file:` directory in it."""
    cwd = tmp_path / "cwd"
    cwd.mkdir()
    monkeypatch.chdir(cwd)
    return cwd
