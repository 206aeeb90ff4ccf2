"""Persisted IVF index (operators/ann_store.py): build-once/serve-many
must (a) reproduce the rebuild-every-run contract query bit-for-bit,
(b) prune the probed cells at the SCAN (PartitionFilters, not a
post-scan Filter), and (c) serve from a fresh load with no rebuild."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from esvc_spark.operators.ann_store import IVFIndexStore
from esvc_spark.queries.embeddings import (
    _IVF_NPROBE,
    _IVF_TOPK,
    _N_QUERIES,
    q_emb_ivf_knn,
)

from .conftest import PATH_FORMS, path_in_form


@pytest.fixture(scope="module")
def store(spark, sf_dir, tmp_path_factory):
    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("emb"))
    )
    path = str(tmp_path_factory.mktemp("ivf_index"))
    return IVFIndexStore.build(spark, emb, path, k=8)


def _rows(df):
    return sorted(
        (r["query_id"], r["neighbor_id"], r["cos_sim"], r["rank"])
        for r in df.collect()
    )


def test_search_matches_contract_query(spark, sf_dir, store):
    queries = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .filter(F.col("vec_id") < _N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").cast("array<double>").alias("emb"),
        )
    )
    got = _rows(store.search(queries, nprobe=_IVF_NPROBE, topk=_IVF_TOPK))
    want = _rows(q_emb_ivf_knn(spark, sf_dir))
    assert got == want


def test_probe_is_partition_pruned(store):
    import re

    pruned = store.cells().filter(F.col("cell").isin([0, 3]))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    # the filter LIST must be non-empty — 'PartitionFilters: []' prints
    # in every FileSourceScan, so a bare substring check is vacuous
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m is not None and "cell" in m.group(1), plan


def test_fresh_load_serves_without_rebuild(spark, sf_dir, store):
    reloaded = IVFIndexStore.load(spark, store.path)
    assert reloaded.k == 8
    queries = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .filter(F.col("vec_id") < 5)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").cast("array<double>").alias("emb"),
        )
    )
    a = _rows(store.search(queries, nprobe=2, topk=3))
    b = _rows(reloaded.search(queries, nprobe=2, topk=3))
    assert a == b and len(a) > 0


def test_build_k_reflects_persisted_centroids(spark, tmp_path):
    """A sub-k corpus persists fewer centroids than requested; the
    build-time handle must report the PERSISTED count (= what load()
    sees), not the requested k."""
    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(5)], "vec_id long, emb array<double>"
    )
    st = IVFIndexStore.build(spark, emb, str(tmp_path / "idx"), k=8)
    assert st.k == 5
    assert IVFIndexStore.load(spark, st.path).k == 5


def test_build_with_explicit_centroids(spark, tmp_path):
    """An explicit (cent_id, cemb) codebook overrides the lowest-ids
    pin — the sparse/offset-id and trained-centroid path."""
    emb = spark.createDataFrame(
        [(100 + i, [float(i % 2), float(1 - i % 2)]) for i in range(6)],
        "vec_id long, emb array<double>",
    )
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "cent_id long, cemb array<double>"
    )
    st = IVFIndexStore.build(
        spark, emb, str(tmp_path / "idx2"), centroids=cents
    )
    assert st.k == 2
    got = {
        (r["vec_id"], r["cell"]) for r in st.cells().select("vec_id", "cell").collect()
    }
    # even i -> vector [0,1] -> centroid 1; odd i -> [1,0] -> centroid 0
    assert got == {(100 + i, 1 - i % 2) for i in range(6)}


def test_add_equals_build_on_union(spark, sf_dir, tmp_path):
    """Incremental maintenance: build on the first half then add() the
    second half — cells and search results must equal the all-at-once
    build."""
    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("emb"))
    )
    mid = 25
    inc = IVFIndexStore.build(
        spark, emb.filter(F.col("vec_id") < mid), str(tmp_path / "inc"), k=8
    ).add(emb.filter(F.col("vec_id") >= mid))
    full = IVFIndexStore.build(spark, emb, str(tmp_path / "full"), k=8)

    def cells_of(st):
        return sorted(
            (r["vec_id"], r["cell"])
            for r in st.cells().select("vec_id", "cell").collect()
        )

    assert cells_of(inc) == cells_of(full)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "emb"
    )
    assert _rows(inc.search(queries)) == _rows(full.search(queries))


def test_stream_maintained_index_is_idempotent_and_complete(
    spark, sf_dir, tmp_path
):
    """Maintain the index FROM a stream (foreachBatch add): build on the
    first half, stream the WHOLE table (an at-least-once source —
    already-indexed ids must anti-join away), then redeliver everything
    under a fresh checkpoint. Both passes must leave the index equal to
    the all-at-once build."""
    from esvc_spark.streaming.pipelines import index_embeddings_stream

    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("emb"))
    )
    st = IVFIndexStore.build(
        spark, emb.filter(F.col("vec_id") < 25), str(tmp_path / "sidx"), k=8
    )
    schema = spark.read.parquet(f"{sf_dir}/embeddings.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .parquet(f"{sf_dir}/embeddings.parque*")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("emb"))
    )
    full = IVFIndexStore.build(spark, emb, str(tmp_path / "fidx"), k=8)

    def cells_of(s):
        return sorted(
            (r["vec_id"], r["cell"])
            for r in s.cells().select("vec_id", "cell").collect()
        )

    for attempt in ("first", "redelivery"):
        index_embeddings_stream(
            stream, st, str(tmp_path / f"ckpt_{attempt}")
        )
        assert cells_of(st) == cells_of(full), attempt


def test_build_refuses_empty_codebook(spark, tmp_path):
    """Advice-fix regression: an empty corpus with no explicit
    centroids (and an explicitly empty centroids= frame) must FAIL the
    build — a zero-row codebook silently drops every later add() and
    returns empty from every search, with no error signal."""
    empty = spark.createDataFrame([], "vec_id long, emb array<double>")
    with pytest.raises(ValueError, match="empty codebook"):
        IVFIndexStore.build(spark, empty, str(tmp_path / "dead1"), k=8)
    no_cents = spark.createDataFrame([], "cent_id long, cemb array<double>")
    with pytest.raises(ValueError, match="centroids= frame is empty"):
        IVFIndexStore.build(
            spark, empty, str(tmp_path / "dead2"), centroids=no_cents
        )


def test_add_idempotent_dedups_within_batch(spark, tmp_path):
    """Advice-fix regression: add(idempotent=True) must hold its
    at-least-once contract for a batch that contains the SAME vec_id
    twice — the on-disk anti-join alone cannot see intra-batch dups."""
    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(4)], "vec_id long, emb array<double>"
    )
    st = IVFIndexStore.build(spark, emb, str(tmp_path / "dupidx"), k=2)
    batch = spark.createDataFrame(
        [(9, [1.0, 2.0]), (9, [1.0, 2.0]), (10, [2.0, 1.0])],
        "vec_id long, emb array<double>",
    )
    st.add(batch, idempotent=True)
    ids = [r["vec_id"] for r in st.cells().select("vec_id").collect()]
    assert sorted(ids) == [0, 1, 2, 3, 9, 10]  # 9 written exactly once


def test_cells_schema_identical_empty_and_nonempty(spark, tmp_path):
    """Advice-fix regression: cells() must return the SAME schema from
    the partition-discovery read (which infers the cell directory
    column as int) as from the pinned empty-index schema (bigint)."""
    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(3)], "vec_id long, emb array<double>"
    )
    st = IVFIndexStore.build(spark, emb, str(tmp_path / "schidx"), k=2)
    got = {f.name: f.dataType.simpleString() for f in st.cells().schema.fields}
    want = {
        f.name: f.dataType.simpleString()
        for f in spark.createDataFrame([], st._CELLS_SCHEMA).schema.fields
    }
    assert got == want
    # and the normalized column still partition-prunes at the scan —
    # assert a NON-EMPTY filter list ('PartitionFilters: []' prints in
    # every FileSourceScan, so the bare substring check is vacuous) and
    # back it with the file-level evidence
    import re

    plan = (
        st.cells()
        .filter(F.col("cell").isin([0]))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m is not None and "cell" in m.group(1), plan
    n_opened = (
        st.cells()
        .filter(F.col("cell").isin([0]))
        .select(F.input_file_name())
        .distinct()
        .count()
    )
    n_all = st.cells().select(F.input_file_name()).distinct().count()
    assert n_opened < n_all


def test_zero_row_index_is_total(spark, tmp_path):
    """Review-fix regression: a build whose corpus is empty writes a
    cells/ directory with no parquet files (only _SUCCESS) — the store
    must stay total (empty cells(), empty search, no
    UNABLE_TO_INFER_SCHEMA crash) and become servable after add()."""
    empty = spark.createDataFrame([], "vec_id long, emb array<double>")
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "cent_id long, cemb array<double>"
    )
    st = IVFIndexStore.build(spark, empty, str(tmp_path / "zidx"), centroids=cents)
    assert st.cells().count() == 0
    queries = spark.createDataFrame(
        [(9, [1.0, 0.0])], "query_id long, emb array<double>"
    )
    assert st.search(queries).count() == 0
    st.add(
        spark.createDataFrame(
            [(7, [1.0, 0.1])], "vec_id long, emb array<double>"
        ),
        idempotent=True,  # exercises the pruned existence probe on empty
    )
    got = st.search(queries).collect()
    assert [(r["query_id"], r["neighbor_id"]) for r in got] == [(9, 7)]


def test_duplicate_vec_ids_preserved_deterministically(spark, tmp_path):
    """Review-fix pin (round 9): duplicate vec_ids are a caller
    contract violation, but their behavior must be DETERMINISTIC and
    consistent between build and incremental add — every copy lands in
    the id's single best cell (the pre-r9 window instead dedup'd to an
    arbitrary copy when duplicates carried different vectors)."""
    base = [(i, [float(i), 1.0]) for i in range(4)]
    dup = [(2, [0.9, 1.1]), (2, [0.9, 1.1])]  # id 2 appears 3x total
    full = IVFIndexStore.build(
        spark,
        spark.createDataFrame(base + dup, "vec_id long, emb array<double>"),
        str(tmp_path / "dupfull"),
        k=2,
    )
    inc = IVFIndexStore.build(
        spark,
        spark.createDataFrame(base, "vec_id long, emb array<double>"),
        str(tmp_path / "dupinc"),
        k=2,
    ).add(spark.createDataFrame(dup, "vec_id long, emb array<double>"))

    def rows(st):
        return sorted(
            (r["vec_id"], r["cell"], tuple(r["emb"]))
            for r in st.cells().collect()
        )

    assert rows(full) == rows(inc)
    assert sum(1 for v, _, _ in rows(full) if v == 2) == 3
    # all copies of id 2 share one (deterministic) cell
    assert len({c for v, c, _ in rows(full) if v == 2}) == 1


def test_split_cell_rewrites_only_that_partition(spark, tmp_path):
    """split_cell must (a) preserve every vector, (b) move only the
    split cell's rows (other partitions' FILES byte-untouched — the
    dynamic-partition-overwrite locality claim), (c) reassign each
    split-cell vector to its nearest sub-centroid, and (d) leave a
    servable store with an updated codebook."""
    import glob
    import os

    emb = spark.createDataFrame(
        [(i, [float(i % 7), float(i % 3) + 0.5]) for i in range(40)],
        "vec_id long, emb array<double>",
    )
    st = IVFIndexStore.build(spark, emb, str(tmp_path / "sidx"), k=4)
    before = sorted(
        (r["vec_id"], tuple(r["emb"])) for r in st.cells().collect()
    )
    sizes = {
        r["cell"]: r["n"]
        for r in st.cells().groupBy("cell").agg(F.count("*").alias("n")).collect()
    }
    target = max(sizes, key=lambda c: sizes[c])
    other_files = {
        f: os.path.getmtime(f)
        for f in glob.glob(str(tmp_path / "sidx" / "cells" / "*" / "*.parquet"))
        if f"cell={target}" not in f
    }
    k_before = st.k
    st.split_cell(int(target))
    assert st.k == k_before + 1
    # (a) integrity
    after = sorted(
        (r["vec_id"], tuple(r["emb"])) for r in st.cells().collect()
    )
    assert after == before
    # (b) locality: untouched partitions keep their exact files
    for f, mtime in other_files.items():
        assert os.path.exists(f) and os.path.getmtime(f) == mtime, f
    # (c) each split-row sits in its nearest sub-centroid's cell
    cents = {
        r["cent_id"]: r["cemb"] for r in st.centroids().collect()
    }
    new_id = max(cents)
    import math

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return 0.0 if na * nb == 0 else d / (na * nb)

    for r in st.cells().filter(F.col("cell").isin([int(target), int(new_id)])).collect():
        sims = {c: cos(r["emb"], cents[c]) for c in (target, new_id)}
        best = max(sorted(sims), key=lambda c: (sims[c], -c))
        assert r["cell"] == best, (r["vec_id"], sims, r["cell"])
    # (d) still serves: probe the split cells, get non-empty exact top-k
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "emb"
    )
    got = st.search(queries, nprobe=2, topk=3)
    assert got.count() > 0
    # reload from disk sees the updated codebook
    assert IVFIndexStore.load(spark, st.path).k == k_before + 1


def test_split_cell_refuses_singleton(spark, tmp_path):
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "vec_id long, emb array<double>"
    )
    st = IVFIndexStore.build(spark, emb, str(tmp_path / "tiny"), k=2)
    with pytest.raises(ValueError, match="nothing to split"):
        st.split_cell(0)


def test_split_cell_duplicate_heavy_cell_gets_diverse_seeds(spark, tmp_path):
    """Review-fix regression (round 9, reproduced recall bug): a hot
    cell dominated by copies of ONE vector must split on genuinely
    diverse seeds — the old lowest-ids rule picked two identical seeds,
    leaving a dead twin centroid that ate a probe slot and dropped
    previously-returned neighbors."""
    # cell 0 attracts 19 copies of [1,0] plus one [0.9, 0.1]-ish
    # stray; cell 1 holds [0,1]
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
        + [(i, [1.0, 0.0]) for i in range(2, 20)]
        + [(20, [0.9, 0.1])],
        "vec_id long, emb array<double>",
    )
    st = IVFIndexStore.build(spark, emb, str(tmp_path / "hot"), k=2)
    st.split_cell(0)
    sizes = {
        r["cell"]: r["n"]
        for r in st.cells().groupBy("cell").agg(F.count("*").alias("n")).collect()
    }
    # every centroid owns rows — no dead twin
    assert all(n > 0 for n in sizes.values()), sizes
    assert len(sizes) == 3
    # the stray split away from the duplicate mass
    new_id = max(sizes)
    stray_cell = [
        r["cell"] for r in st.cells().filter(F.col("vec_id") == 20).collect()
    ][0]
    assert stray_cell == new_id
    # recall is preserved: vec 1 ([0,1]) is still reachable for an
    # off-axis query at nprobe=2
    q = spark.createDataFrame(
        [(99, [0.6, 0.8])], "query_id long, emb array<double>"
    )
    hits = {r["neighbor_id"] for r in st.search(q, nprobe=2, topk=3).collect()}
    assert 1 in hits


def test_split_cell_all_parallel_cell_raises(spark, tmp_path):
    """A cell of pairwise-parallel vectors cannot be balanced by any
    codebook: split must refuse (the old rule silently added a dead
    centroid per call, unbounded)."""
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
        + [(i, [2.0, 0.0]) for i in range(2, 8)],  # parallel to vec 0
        "vec_id long, emb array<double>",
    )
    st = IVFIndexStore.build(spark, emb, str(tmp_path / "par"), k=2)
    with pytest.raises(ValueError, match="parallel to the chosen seeds"):
        st.split_cell(0)
    assert st.k == 2  # nothing written


def test_split_cell_n_sub_guard(spark, tmp_path):
    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(6)], "vec_id long, emb array<double>"
    )
    st = IVFIndexStore.build(spark, emb, str(tmp_path / "g"), k=2)
    with pytest.raises(ValueError, match="n_sub must be >= 2"):
        st.split_cell(0, n_sub=1)


def test_split_transparency_probe_map_multi_split_n_sub3(spark, tmp_path):
    """The codebook-versioning contract generalized past the contract
    query's single 2-way split: TWO successive splits (one 3-way), a
    reader holding the ORIGINAL codebook + the composed probe map sees
    search results IDENTICAL to pre-split — for every nprobe up to
    all-cells, so the equivalence is not an artifact of one probe set."""
    emb = spark.createDataFrame(
        [(i, [float((i * 7) % 13), float((i * 3) % 11) + 0.25, float(i % 5)])
         for i in range(60)],
        "vec_id long, emb array<double>",
    )
    st = IVFIndexStore.build(spark, emb, str(tmp_path / "midx"), k=4)
    old_cents = st.centroids().localCheckpoint()
    k0 = st.k
    queries = emb.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("query_id"), "emb"
    )
    pre = {
        nprobe: _rows(st.search(queries, nprobe=nprobe, topk=3))
        for nprobe in (1, 2, k0)
    }
    sizes = {
        r["cell"]: r["n"]
        for r in st.cells().groupBy("cell").agg(F.count("*").alias("n")).collect()
    }
    ranked = sorted(sizes, key=lambda c: (-sizes[c], c))
    hot1, hot2 = int(ranked[0]), int(ranked[1])
    st.split_cell(hot1, n_sub=3)  # sub-cells: hot1, k0, k0+1
    st.split_cell(hot2, n_sub=2)  # sub-cells: hot2, k0+2
    assert st.k == k0 + 3
    probe_map = {hot1: (hot1, k0, k0 + 1), hot2: (hot2, k0 + 2)}
    for nprobe, want in pre.items():
        got = _rows(
            st.search(
                queries,
                nprobe=nprobe,
                topk=3,
                centroids_df=old_cents,
                probe_map=probe_map,
            )
        )
        assert got == want, f"nprobe={nprobe}"
    # sanity: a fresh reader on the NEW codebook still serves
    assert st.search(queries, nprobe=2, topk=3).count() > 0


def test_compact_cells_defragments_preserving_content_and_siblings(
    spark, tmp_path
):
    """compact_cells must (a) reduce fragmented cells to max_files,
    (b) preserve every row verbatim (search bit-identical), (c) leave
    non-targeted cells' FILES byte-untouched, and (d) never leave
    tmp/old directories inside cells/ where partition discovery would
    parse them as values."""
    import glob
    import os

    emb = spark.createDataFrame(
        [(i, [float(i % 9), float(i % 4) + 0.5]) for i in range(30)],
        "vec_id long, emb array<double>",
    )
    st = IVFIndexStore.build(spark, emb, str(tmp_path / "cidx"), k=3)
    # fragment via incremental adds (the stream-maintenance shape)
    for lo in range(30, 60, 6):
        batch = spark.createDataFrame(
            [(i, [float(i % 9), float(i % 4) + 0.5]) for i in range(lo, lo + 6)],
            "vec_id long, emb array<double>",
        )
        st.add(batch)
    sizes = {
        r["cell"]: r["n"]
        for r in st.cells().groupBy("cell").agg(F.count("*").alias("n")).collect()
    }
    frag = {
        int(e.split("=")[1]): len(
            glob.glob(str(tmp_path / "cidx" / "cells" / e / "*.parquet"))
        )
        for e in os.listdir(tmp_path / "cidx" / "cells")
        if e.startswith("cell=")
    }
    target = max(frag, key=lambda c: frag[c])
    assert frag[target] > 1, frag  # the adds must actually fragment
    before_rows = sorted(
        (r["vec_id"], tuple(r["emb"]), r["cell"]) for r in st.cells().collect()
    )
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "emb"
    )
    pre = _rows(st.search(queries, nprobe=2, topk=3))
    sibling_files = {
        f: os.path.getmtime(f)
        for f in glob.glob(str(tmp_path / "cidx" / "cells" / "*" / "*.parquet"))
        if f"cell={target}" not in f
    }
    report = st.compact_cells(cells=[target])
    assert report[target][0] == frag[target] and report[target][1] == 1
    # (b) verbatim contents and identical search
    after_rows = sorted(
        (r["vec_id"], tuple(r["emb"]), r["cell"]) for r in st.cells().collect()
    )
    assert after_rows == before_rows
    assert _rows(st.search(queries, nprobe=2, topk=3)) == pre
    # (c) untouched siblings keep their exact files
    for f, mtime in sibling_files.items():
        assert os.path.exists(f) and os.path.getmtime(f) == mtime, f
    # (d) no tmp/old residue anywhere under the store (os.walk, not
    # glob: the swap dirs are dot-prefixed, which glob skips — and the
    # pytest tmp dir embeds this test's NAME, so a substring check on
    # the full path matches everything)
    residue = [
        os.path.join(dp, d)
        for dp, dirs, _ in os.walk(tmp_path / "cidx")
        for d in dirs
        if d.startswith("._compact_")
    ]
    assert residue == []
    # default mode compacts every remaining fragmented cell
    report2 = st.compact_cells()
    assert target not in report2  # already at 1 file
    frag_after = {
        e: len(glob.glob(str(tmp_path / "cidx" / "cells" / e / "*.parquet")))
        for e in os.listdir(tmp_path / "cidx" / "cells")
        if e.startswith("cell=")
    }
    assert all(n == 1 for n in frag_after.values()), frag_after
    assert sorted(
        (r["vec_id"], tuple(r["emb"]), r["cell"]) for r in st.cells().collect()
    ) == before_rows


def test_compact_cells_recovers_crash_residue(spark, tmp_path):
    """A compaction cut between its delete and its move leaves the cell
    dir ABSENT beside its complete, marked stage — the next
    compact_cells must roll it forward before any new work, or searches
    silently omit an inverted list; an unmarked stage (a write cut
    short) must be deleted, never swapped in."""
    import os
    import shutil

    emb = spark.createDataFrame(
        [(i, [float(i % 9), float(i % 4) + 0.5]) for i in range(30)],
        "vec_id long, emb array<double>",
    )
    st = IVFIndexStore.build(spark, emb, str(tmp_path / "ridx"), k=3)
    before = sorted(
        (r["vec_id"], tuple(r["emb"]), r["cell"]) for r in st.cells().collect()
    )
    store_root = tmp_path / "ridx"
    cells_root = store_root / "cells"
    victims = sorted(
        int(e.split("=")[1])
        for e in os.listdir(cells_root)
        if e.startswith("cell=")
    )[:2]
    # (a) cut after the delete on victim 0: its cell dir is gone, its
    # complete stage (marked with _SUCCESS) sits beside cells/
    v0 = victims[0]
    stage0 = store_root / f"cell={v0}_stage"
    shutil.copytree(cells_root / f"cell={v0}", stage0)
    (stage0 / "_SUCCESS").write_bytes(b"")
    shutil.rmtree(cells_root / f"cell={v0}")
    # (b) cut during the stage write on victim 1: its cell dir is
    # intact, beside an unmarked stage holding a partial file
    v1 = victims[1]
    stage1 = store_root / f"cell={v1}_stage"
    os.makedirs(stage1)
    (stage1 / "junk.parquet").write_bytes(b"x")

    st.compact_cells()  # recovery runs first, then normal compaction
    after = sorted(
        (r["vec_id"], tuple(r["emb"]), r["cell"]) for r in st.cells().collect()
    )
    assert after == before  # victim 0's rows are back; nothing lost
    residue = [e for e in os.listdir(store_root) if e.endswith("_stage")]
    assert residue == []
    # and the recovered store still compacts/serves normally
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "emb"
    )
    assert st.search(q, nprobe=2, topk=3).count() > 0


def _fragmented_store(spark, path):
    """A k=3 store whose three cells each hold more than one file."""
    def rows(lo, hi):
        return spark.createDataFrame(
            [(i, [float(i % 9), float(i % 4) + 0.5]) for i in range(lo, hi)],
            "vec_id long, emb array<double>",
        )

    st = IVFIndexStore.build(spark, rows(0, 30), path, k=3)
    for lo in range(30, 60, 6):
        st.add(rows(lo, lo + 6))
    return st


def _cell_files(root, cell):
    """{parquet file name: bytes} of cells/cell=<cell> under `root`."""
    import os

    d = root / f"cell={cell}"
    return {
        f: (d / f).read_bytes() for f in os.listdir(d) if f.endswith(".parquet")
    }


def _cell_rows(st):
    return sorted(
        (r["vec_id"], tuple(r["emb"]), r["cell"]) for r in st.cells().collect()
    )


def test_compact_cells_partial_failure_keeps_report(
    spark, tmp_path, monkeypatch
):
    """One cell's swap fails among three fragmented cells: the other two
    still end compacted and appear in the error's report, and the failed
    cell's files stay byte-untouched."""
    from esvc_spark.core import storage
    from esvc_spark.operators.ann_store import CompactCellsError

    st = _fragmented_store(spark, str(tmp_path / "pidx"))
    root = tmp_path / "pidx" / "cells"

    def files(cell):
        return _cell_files(root, cell)

    frag = {c: len(files(c)) for c in range(3)}
    assert all(n > 1 for n in frag.values()), frag
    victim = 1
    before = files(victim)
    real_replace = storage.replace_dir

    def failing_replace(stage, final):
        # fails before the swap's first filesystem step
        if final.endswith(f"cell={victim}"):
            raise OSError(f"injected failure swapping {stage}")
        return real_replace(stage, final)

    monkeypatch.setattr(storage, "replace_dir", failing_replace)
    with pytest.raises(CompactCellsError) as exc:
        st.compact_cells()
    monkeypatch.setattr(storage, "replace_dir", real_replace)
    err = exc.value
    assert set(err.failed) == {victim}
    assert err.report == {c: (frag[c], 1) for c in (0, 2)}
    assert all(len(files(c)) == 1 for c in (0, 2))
    assert files(victim) == before


def test_compact_cells_failure_after_delete_rolls_forward(
    spark, tmp_path, monkeypatch
):
    """One cell's swap fails after its delete, at the move: its cell dir
    is absent, and the next compact_cells rolls its stage forward — one
    file, every row unchanged."""
    from esvc_spark.core import storage
    from esvc_spark.operators.ann_store import CompactCellsError

    st = _fragmented_store(spark, str(tmp_path / "fidx"))
    root = tmp_path / "fidx" / "cells"
    frag = {c: len(_cell_files(root, c)) for c in range(3)}
    assert all(n > 1 for n in frag.values()), frag
    before = _cell_rows(st)
    victim = 1
    real_move = storage._move

    def failing_move(fs, src, dst):
        if dst.endswith(f"cell={victim}"):
            raise OSError(f"injected failure moving {src}")
        return real_move(fs, src, dst)

    monkeypatch.setattr(storage, "_move", failing_move)
    with pytest.raises(CompactCellsError) as exc:
        st.compact_cells()
    monkeypatch.setattr(storage, "_move", real_move)
    err = exc.value
    assert set(err.failed) == {victim}
    assert err.report == {c: (frag[c], 1) for c in (0, 2)}
    assert not (root / f"cell={victim}").exists()

    assert st.compact_cells() == {}  # nothing left fragmented
    assert len(_cell_files(root, victim)) == 1
    assert _cell_rows(st) == before


def test_add_after_interrupted_compact_keeps_every_vector(
    spark, tmp_path, monkeypatch
):
    """A compaction killed at the victim's move leaves the victim's cell
    dir absent beside its marked stage. An add() of vectors that land in
    that cell, then the next compact_cells, must keep every vec_id
    exactly once: add() recovers first, so its append goes into the
    rolled-forward cell instead of being replaced by the stage (or the
    stage being thrown away for it)."""
    from esvc_spark.core import storage

    st = _fragmented_store(spark, str(tmp_path / "aidx"))
    root = tmp_path / "aidx" / "cells"
    victim = 1
    embs = [
        list(r["emb"])
        for r in st.cells().filter(F.col("cell") == victim).limit(3).collect()
    ]
    ids = sorted(r["vec_id"] for r in st.cells().collect())
    real_move = storage._move

    def killing_move(fs, src, dst):
        if dst.endswith(f"cell={victim}"):
            raise _Kill(f"kill before moving {src}")
        return real_move(fs, src, dst)

    monkeypatch.setattr(storage, "_move", killing_move)
    with pytest.raises(_Kill):
        st.compact_cells()
    monkeypatch.setattr(storage, "_move", real_move)
    assert not (root / f"cell={victim}").exists()

    # equal embeddings assign to the same cell: the victim
    new = [(1000 + j, e) for j, e in enumerate(embs)]
    st.add(spark.createDataFrame(new, "vec_id long, emb array<double>"))
    st.compact_cells()
    cells = {int(r["vec_id"]): int(r["cell"]) for r in st.cells().collect()}
    assert {cells[i] for i, _ in new} == {victim}
    got = sorted(r["vec_id"] for r in st.cells().collect())
    assert got == sorted(ids + [i for i, _ in new])


def _inventory(st):
    return sorted(
        (r["vec_id"], tuple(r["emb"])) for r in st.cells().collect()
    )


def test_merge_cells_folds_cold_pair_preserving_corpus(spark, tmp_path):
    """merge_cells must (a) preserve every vector, (b) land the union in
    the surviving (lower-id) cell, (c) leave other partitions' files
    byte-untouched, (d) shrink the codebook by one with the
    row-count-weighted mean centroid, and (e) keep exhaustive-probe
    search identical (layout-independent proof that no row was lost,
    duplicated, or rescored)."""
    import glob
    import math
    import os

    emb = spark.createDataFrame(
        [(i, [float(i % 9), float(i % 4) + 0.5]) for i in range(40)],
        "vec_id long, emb array<double>",
    )
    st = IVFIndexStore.build(spark, emb, str(tmp_path / "merg"), k=4)
    k0 = st.k
    before = _inventory(st)
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "emb"
    )
    pre = _rows(st.search(queries, nprobe=k0, topk=3))  # exhaustive probe
    sizes = {
        r["cell"]: r["n"]
        for r in st.cells().groupBy("cell").agg(F.count("*").alias("n")).collect()
    }
    cold = sorted(sizes, key=lambda c: (sizes[c], c))[:2]
    a, b = int(min(cold)), int(max(cold))
    old_cents = {
        int(r["cent_id"]): list(r["cemb"]) for r in st.centroids().collect()
    }
    na, nb = sizes[a], sizes[b]
    siblings = {
        f: os.path.getmtime(f)
        for f in glob.glob(str(tmp_path / "merg" / "cells" / "*" / "*.parquet"))
        if f"cell={a}" not in f and f"cell={b}" not in f
    }
    st.merge_cells(a, b)
    assert st.k == k0 - 1
    assert _inventory(st) == before  # (a) nothing lost or duplicated
    got_cells = {
        int(r["cell"]) for r in st.cells().select("cell").distinct().collect()
    }
    assert b not in got_cells and a in got_cells  # (b)
    for f, mtime in siblings.items():  # (c)
        assert os.path.exists(f) and os.path.getmtime(f) == mtime, f
    cents = {
        int(r["cent_id"]): (list(r["cemb"]), float(r["cnrm"]))
        for r in st.centroids().collect()
    }
    assert b not in cents and len(cents) == k0 - 1
    want = [
        (na * x + nb * y) / float(na + nb)
        for x, y in zip(old_cents[a], old_cents[b])
    ]
    assert cents[a][0] == want  # (d) exact weighted mean
    assert math.isclose(
        cents[a][1], math.sqrt(sum(x * x for x in want)), rel_tol=1e-12
    )
    # (e) exhaustive probing sees the identical corpus and scores
    post = _rows(st.search(queries, nprobe=st.k, topk=3))
    assert post == pre
    # reload sees the new codebook
    assert IVFIndexStore.load(spark, st.path).k == k0 - 1


def test_merge_cells_heals_orphan_cells_first(spark, tmp_path):
    """Crash residue: a cell directory absent from the codebook (the
    merge step-1 crash state) must be folded into current centroids —
    anti-joined against already-landed vec_ids — before new maintenance
    work, and the orphan directory removed."""
    import os
    import shutil

    emb = spark.createDataFrame(
        [(i, [float(i % 9), float(i % 4) + 0.5]) for i in range(40)],
        "vec_id long, emb array<double>",
    )
    st = IVFIndexStore.build(spark, emb, str(tmp_path / "orph"), k=4)
    before = _inventory(st)
    # simulate: drop one centroid from the codebook, leaving its rows
    # on disk as an orphan cell
    cents = st.centroids().collect()
    victim = max(int(r["cent_id"]) for r in cents)
    kept = [
        (int(r["cent_id"]), list(r["cemb"]), float(r["cnrm"]))
        for r in cents
        if int(r["cent_id"]) != victim
    ]
    tmp = str(tmp_path / "orph" / "centroids._test_tmp")
    spark.createDataFrame(
        kept, "cent_id bigint, cemb array<double>, cnrm double"
    ).write.mode("overwrite").parquet(tmp)
    final = str(tmp_path / "orph" / "centroids")
    shutil.rmtree(final)
    os.rename(tmp, final)
    st.k = len(kept)

    healed = st._recover_orphan_cells()
    assert healed == [victim]
    assert sorted(r[0] for r in _inventory(st)) == sorted(
        r[0] for r in before
    )  # every vec_id exactly once — no loss, no dup
    assert not os.path.exists(final.replace("centroids", f"cells/cell={victim}"))
    # healed rows sit in their nearest CURRENT centroid
    got = {
        int(r["cell"]) for r in st.cells().select("cell").distinct().collect()
    }
    assert victim not in got


def test_merge_cells_argument_guards(spark, tmp_path):
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "vec_id long, emb array<double>"
    )
    st = IVFIndexStore.build(spark, emb, str(tmp_path / "g"), k=2)
    with pytest.raises(ValueError, match="a == b"):
        st.merge_cells(0, 0)
    with pytest.raises(ValueError, match="not in codebook"):
        st.merge_cells(0, 99)

def test_orphan_heal_skips_ids_duplicated_in_any_cell(spark, tmp_path):
    """Review r10 (medium): the merge step-2 crash leaves the orphan
    cell's rows ALREADY duplicated in the SURVIVOR partition, whose id
    need not be any orphan row's nearest current centroid. The heal's
    existence probe must cover ALL indexed vec_ids — filtering it to
    the reassignment's target cells re-appends the duplicates into a
    third cell."""
    import os

    # geometry: orphan rows [0.55, 0.9] originally belonged to the
    # dropped centroid [0.707, 0.707]; their nearest REMAINING centroid
    # is c2=[0,1] — NOT the survivor cell 0 that holds their duplicates
    rows = (
        [(i, [1.0, 0.05 * i]) for i in range(5)]           # cell 0
        + [(10 + i, [0.55, 0.9 + 0.01 * i]) for i in range(3)]  # cell 1
        + [(20 + i, [0.02 * i, 1.0]) for i in range(4)]    # cell 2
    )
    emb = spark.createDataFrame(rows, "vec_id long, emb array<double>")
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.707, 0.707]), (2, [0.0, 1.0])],
        "cent_id long, cemb array<double>",
    )
    st = IVFIndexStore.build(spark, emb, str(tmp_path / "s2"), centroids=cents)
    assigned = {
        int(r["vec_id"]): int(r["cell"]) for r in st.cells().collect()
    }
    assert {assigned[10 + i] for i in range(3)} == {1}

    # seed the step-2 crash state: codebook without cell 1, cell 1's
    # rows duplicated into survivor partition 0, orphan dir still there
    import shutil

    kept = [
        (int(r["cent_id"]), list(r["cemb"]), float(r["cnrm"]))
        for r in st.centroids().collect()
        if int(r["cent_id"]) != 1
    ]
    final = str(tmp_path / "s2" / "centroids")
    tmpdir = final + "._test_tmp"
    spark.createDataFrame(
        kept, "cent_id bigint, cemb array<double>, cnrm double"
    ).write.mode("overwrite").parquet(tmpdir)
    shutil.rmtree(final)
    os.rename(tmpdir, final)
    st.k = 2
    dup = (
        st.cells()
        .filter(F.col("cell") == 1)
        .select("vec_id", "emb", "nrm")
        .withColumn("cell", F.lit(0).cast("bigint"))
        .localCheckpoint()
    )
    dup.write.mode("append").partitionBy("cell").parquet(
        str(tmp_path / "s2" / "cells")
    )

    healed = st._recover_orphan_cells()
    assert healed == [1]
    # every vec_id exactly once — the buggy hit-cell probe would have
    # appended ids 10-12 into cell 2 a second time
    ids = sorted(r["vec_id"] for r in st.cells().collect())
    assert ids == sorted(r[0] for r in rows)
    assert not os.path.isdir(str(tmp_path / "s2" / "cells" / "cell=1"))


def test_codebook_swap_crash_recovery(spark, tmp_path):
    """A codebook swap cut after its delete leaves centroids/ ABSENT
    beside its complete, marked stage — load() must roll it forward; a
    stale unmarked stage (a write cut short) must not stop the next
    maintenance swap."""
    import os
    import shutil

    emb = spark.createDataFrame(
        [(i, [float(i % 5) + 0.1, float(i % 3) + 0.4]) for i in range(24)],
        "vec_id long, emb array<double>",
    )
    st = IVFIndexStore.build(spark, emb, str(tmp_path / "swap"), k=4)
    k0 = st.k
    inv = _inventory(st)
    final = str(tmp_path / "swap" / "centroids")
    stage = final + "_stage"

    # cut after the delete: centroids/ gone, the complete stage (Spark's
    # committer marked it with _SUCCESS) left beside it
    shutil.copytree(final, stage)
    assert os.path.exists(os.path.join(stage, "_SUCCESS"))
    shutil.rmtree(final)
    re = IVFIndexStore.load(spark, str(tmp_path / "swap"))
    assert re.k == k0 and _inventory(re) == inv
    assert os.path.isdir(final)
    assert not os.path.exists(stage)

    # cut during the stage write: an unmarked stage holding a partial
    # file must be cleared at entry, not swapped in
    os.makedirs(stage)
    with open(os.path.join(stage, "junk.parquet"), "wb") as f:
        f.write(b"x")
    sizes = {
        int(r["cell"]): int(r["n"])
        for r in re.cells().groupBy("cell").agg(F.count("*").alias("n")).collect()
    }
    cold = sorted(sizes, key=lambda c: (sizes[c], c))[:2]
    re.merge_cells(int(min(cold)), int(max(cold)))
    assert re.k == k0 - 1
    assert _inventory(re) == inv
    residue = [e for e in os.listdir(tmp_path / "swap") if e.endswith("_stage")]
    assert residue == []


def _cut_delete(monkeypatch, keep_parquet: bool):
    """Make the next storage.delete die partway through a directory:
    it removes the directory's first parquet file (keep_parquet) or all
    of them, leaves the rest, and raises _Kill."""
    import os

    from esvc_spark.core import storage

    def cut(path):
        names = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
        for f in names[:1] if keep_parquet else names:
            os.remove(os.path.join(path, f))
        raise _Kill(f"kill partway through deleting {path}")

    monkeypatch.setattr(storage, "delete", cut)


def _half_dropped_merge(spark, tmp_path, monkeypatch, keep_parquet: bool):
    """Merge the two coldest cells of a fragmented store, killed partway
    through step 3's delete of cell=b. Returns (store, every vec_id, b)."""
    import os

    st = _fragmented_store(spark, str(tmp_path / "half"))
    ids = sorted(r["vec_id"] for r in st.cells().collect())
    sizes = {
        int(r["cell"]): int(r["n"])
        for r in st.cells().groupBy("cell").agg(F.count("*").alias("n")).collect()
    }
    a, b = sorted(sorted(sizes, key=lambda c: (sizes[c], c))[:2])
    bdir = tmp_path / "half" / "cells" / f"cell={b}"
    n_files = len(_cell_files(bdir.parent, b))
    assert n_files > 1
    _cut_delete(monkeypatch, keep_parquet)
    with pytest.raises(_Kill):
        st.merge_cells(a, b)
    monkeypatch.undo()
    # b is out of the codebook and its rows are duplicated in a
    assert b not in {int(r["cent_id"]) for r in st.centroids().collect()}
    in_a = {
        r["vec_id"] for r in st.cells().filter(F.col("cell") == a).collect()
    }
    assert len(in_a) == sizes[a] + sizes[b]
    left = len(_cell_files(bdir.parent, b))
    assert left == (n_files - 1 if keep_parquet else 0) and os.path.isdir(bdir)
    return st, ids, b


def test_merge_survives_stale_drop_dir_residue(spark, tmp_path, monkeypatch):
    """A merge killed partway through deleting cell=b leaves a subset of
    b's files: b is absent from the codebook and its rows are already in
    a. The next merge_cells heals it first and leaves every vec_id
    exactly once."""
    st, ids, b = _half_dropped_merge(spark, tmp_path, monkeypatch, True)
    c, d = sorted(int(r["cent_id"]) for r in st.centroids().collect())[:2]
    st.merge_cells(c, d)
    assert sorted(r["vec_id"] for r in st.cells().collect()) == ids
    assert not (tmp_path / "half" / "cells" / f"cell={b}").exists()


def test_orphan_heal_deletes_drop_dir_left_without_parquet(
    spark, tmp_path, monkeypatch
):
    """A delete killed after the last parquet file of cell=b leaves a
    directory Spark cannot read (no file to infer a schema from); the
    heal deletes it instead of failing every later merge, split and
    drop."""
    st, ids, b = _half_dropped_merge(spark, tmp_path, monkeypatch, False)
    re = IVFIndexStore.load(spark, st.path)
    assert re._recover_orphan_cells() == [b]
    assert sorted(r["vec_id"] for r in re.cells().collect()) == ids
    assert not (tmp_path / "half" / "cells" / f"cell={b}").exists()


class _Kill(BaseException):
    """Injected crash — BaseException so no except-Exception cleanup
    inside the op can swallow it."""


# kills fired by test_maintenance_kill_point_interleaving's schedule when
# it injected them through os.rename, before the store's swaps went
# through core.storage
_RENAME_ERA_KILLS = 3


def test_maintenance_kill_point_interleaving(spark, tmp_path):
    """VERDICT r10 #5: randomized kill points over an interleaved
    add/split/merge/compact schedule, each kill at the N-th call to
    storage._move or storage._delete (the filesystem steps of every
    swap and drop). After every kill the store must heal (load +
    _recover_orphan_cells + compact_cells) to an inventory with every
    indexed vector exactly once, and at the end its exhaustive-probe
    search must be IDENTICAL to a fresh build over the same corpus —
    the search-identical reload invariant the individual crash tests
    can't cover across op interactions."""
    import itertools
    import math
    import random

    from esvc_spark.core import storage

    rng = random.Random(411)
    # distinct-angle unit-ish vectors: no parallel pair, so split_cell's
    # diverse-seed guard never trips
    def vec(i):
        th = 0.05 + 0.028 * i
        return [math.cos(th), math.sin(th)]

    next_id = 40
    corpus = [(i, vec(i)) for i in range(next_id)]
    emb = spark.createDataFrame(corpus, "vec_id long, emb array<double>")
    path = str(tmp_path / "kp")
    st = IVFIndexStore.build(spark, emb, path, k=4)

    real_move, real_delete = storage._move, storage._delete
    kills = []

    def run_with_kill(op, kill_at):
        """Run op() with the kill_at-th storage._move/_delete call
        raising (0 = no kill). Returns True if the op completed."""
        if kill_at == 0:
            op()
            return True
        calls = itertools.count(1)  # next() is atomic across threads

        def killing(real):
            def step(*args):
                n = next(calls)
                if n == kill_at:
                    raise _Kill(f"kill at storage step #{n}: {args[1:]}")
                return real(*args)

            return step

        storage._move, storage._delete = killing(real_move), killing(real_delete)
        try:
            op()
            return True
        except _Kill:
            kills.append((op_name, kill_at))
            return False
        finally:
            storage._move, storage._delete = real_move, real_delete

    def heal():
        s = IVFIndexStore.load(spark, path)
        s._recover_orphan_cells()
        s.compact_cells()
        return s

    for step in range(8):
        op_name = rng.choice(["add", "split", "merge", "compact"])
        kill_at = rng.choice([0, 1, 2, 3])
        sizes = {
            int(r["cell"]): int(r["n"])
            for r in st.cells()
            .groupBy("cell")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        if op_name == "add":
            batch = [(next_id + j, vec(next_id + j)) for j in range(4)]
            bdf = spark.createDataFrame(batch, "vec_id long, emb array<double>")
            st.add(bdf)  # append commit is Spark's protocol; no kill
            corpus += batch
            next_id += 4
        elif op_name == "split":
            hot = max(sizes, key=lambda c: (sizes[c], -c))
            if sizes[hot] < 2:
                continue
            run_with_kill(lambda: st.split_cell(hot), kill_at)
        elif op_name == "merge":
            if len(sizes) < 3:
                continue
            cold = sorted(sizes, key=lambda c: (sizes[c], c))[:2]
            run_with_kill(
                lambda: st.merge_cells(int(min(cold)), int(max(cold))),
                kill_at,
            )
        else:
            run_with_kill(lambda: st.compact_cells(), kill_at)
        st = heal()
        ids = sorted(r["vec_id"] for r in st.cells().collect())
        assert ids == sorted(c[0] for c in corpus), f"step {step} ({op_name})"
    print(f"kill-point schedule: {len(kills)} kills fired (op, N): {kills}")
    assert len(kills) >= _RENAME_ERA_KILLS

    # end-state search identity vs a fresh build over the same corpus
    full = spark.createDataFrame(corpus, "vec_id long, emb array<double>")
    ref = IVFIndexStore.build(spark, full, str(tmp_path / "kpref"), k=st.k)
    q = full.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "emb"
    )
    got = _rows(st.search(q, nprobe=st.k, topk=3))
    want = _rows(ref.search(q, nprobe=ref.k, topk=3))
    assert got == want and len(got) == 15

# ---------------------------------------------------------------- IVF-PQ

def _pq_emb(spark, n=60, dim=16):
    import math

    return spark.createDataFrame(
        [
            (
                i,
                [
                    math.cos(0.03 * i + 0.2 * d) + 0.1 * d
                    for d in range(dim)
                ],
            )
            for i in range(n)
        ],
        "vec_id long, emb array<double>",
    )


def test_pq_store_codes_and_search(spark, tmp_path):
    """A PQ-enabled store persists a codes column (one code per
    subspace, drawn from the book) + the pq/ codebook; search_pq
    returns the search() schema with EXACT cos_sim (the re-rank decodes
    full vectors), and with a rerank pool covering every candidate it
    must equal the exact search bit-for-bit."""
    emb = _pq_emb(spark)
    st = IVFIndexStore.build(
        spark, emb, str(tmp_path / "pq"), k=4, pq_codes=8, pq_m=4
    )
    cells = st.cells()
    assert "codes" in cells.columns
    lens = {r["n"] for r in cells.select(F.size("codes").alias("n")).collect()}
    assert lens == {4}
    codes = {
        c for r in cells.select("codes").collect() for c in r["codes"]
    }
    book_codes = {
        int(r["code"]) for r in st.pq_book().select("code").collect()
    }
    assert codes <= book_codes and len(book_codes) == 8
    q = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "emb"
    )
    # huge rerank pool => candidate selection can't drop a true top-k;
    # row COUNT follows the probed cells' population (a probed pair can
    # hold < topk non-self vectors — then BOTH arms return fewer rows)
    got = _rows(st.search_pq(q, nprobe=2, topk=3, rerank=100))
    want = _rows(st.search(q, nprobe=2, topk=3))
    assert got == want and len(got) > 0
    # a plain store refuses the ADC path with an actionable error
    plain = IVFIndexStore.build(spark, emb, str(tmp_path / "plain"), k=4)
    with pytest.raises(ValueError, match="no PQ codebook"):
        plain.search_pq(q)


def test_build_rejects_pq_book_that_does_not_cover_the_embedding(
    spark, tmp_path
):
    """An explicit pq_book whose m x subdim differs from the embedding
    dim (or whose m differs from pq_m) must fail the build: encoding
    against it gives NULL distances with no error."""
    emb = _pq_emb(spark, dim=16)

    def book(m, subdim):
        return spark.createDataFrame(
            [(j, c, [0.1 * (c + 1)] * subdim)
             for j in range(m) for c in range(2)],
            "sub int, code int, cpart array<double>",
        )

    with pytest.raises(ValueError, match="embeddings have 16 dims"):
        IVFIndexStore.build(spark, emb, str(tmp_path / "short"), k=4,
                            pq_book=book(4, 3), pq_m=4)
    with pytest.raises(ValueError, match="pq_m=8"):
        IVFIndexStore.build(spark, emb, str(tmp_path / "m"), k=4,
                            pq_book=book(4, 4), pq_m=8)
    st = IVFIndexStore.build(spark, emb, str(tmp_path / "ok"), k=4,
                             pq_book=book(4, 4), pq_m=4)
    assert st.pq_book() is not None


def test_pq_add_equals_build_on_union(spark, tmp_path):
    """Incremental add() must encode the batch against the PERSISTED pq
    book: cells incl. the codes column equal the all-at-once build."""
    emb = _pq_emb(spark)
    lo, hi = emb.filter(F.col("vec_id") < 30), emb.filter(F.col("vec_id") >= 30)
    inc = IVFIndexStore.build(
        spark, lo, str(tmp_path / "inc"), k=4, pq_codes=8, pq_m=4
    ).add(hi)
    allat = IVFIndexStore.build(
        spark, emb, str(tmp_path / "all"), k=4, pq_codes=8, pq_m=4
    )

    def inv(st):
        return sorted(
            (r["vec_id"], tuple(r["emb"]), tuple(r["codes"]), r["cell"])
            for r in st.cells().collect()
        )

    assert inv(inc) == inv(allat)


def test_pq_maintenance_preserves_codes(spark, tmp_path):
    """split/merge/compact rewrite cell partitions — the PQ codes must
    ride along verbatim (a dropped or nulled codes column would make
    the ADC scan silently skip those rows)."""
    emb = _pq_emb(spark)
    st = IVFIndexStore.build(
        spark, emb, str(tmp_path / "mnt"), k=4, pq_codes=8, pq_m=4
    )
    before = sorted(
        (r["vec_id"], tuple(r["emb"]), tuple(r["codes"]))
        for r in st.cells().collect()
    )
    sizes = {
        int(r["cell"]): int(r["n"])
        for r in st.cells().groupBy("cell").agg(F.count("*").alias("n")).collect()
    }
    hot = max(sizes, key=lambda c: (sizes[c], -c))
    st.split_cell(hot)
    cold = sorted(sizes := {
        int(r["cell"]): int(r["n"])
        for r in st.cells().groupBy("cell").agg(F.count("*").alias("n")).collect()
    }, key=lambda c: (sizes[c], c))[:2]
    st.merge_cells(int(min(cold)), int(max(cold)))
    st.compact_cells()
    after = sorted(
        (r["vec_id"], tuple(r["emb"]), tuple(r["codes"]))
        for r in st.cells().collect()
    )
    assert after == before
    # and the ADC path still serves from the maintained store
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "emb"
    )
    assert st.search_pq(q, nprobe=st.k, topk=3, rerank=100).count() == 9


def test_train_pq_book_deterministic_and_improves(spark, tmp_path):
    """train_pq_book must be (1) bit-deterministic across input
    partitionings (order-pinned folds — the determinism-probe bar
    applied to the operator layer), (2) a true Lloyd descent: the
    trained book's total quantization error over the corpus never
    exceeds the untrained seed book's, and (3) accepted verbatim by
    build(pq_book=...), where a full-pool search_pq still equals the
    exact search."""
    from esvc_spark.operators.ann_store import train_pq_book

    emb = _pq_emb(spark, n=80)

    def book_rows(book):
        return sorted(
            (int(r["sub"]), int(r["code"]), tuple(r["cpart"]))
            for r in book.collect()
        )

    b1 = book_rows(train_pq_book(emb.repartition(2), n_codes=8, m=4, rounds=2))
    b2 = book_rows(train_pq_book(emb.repartition(7), n_codes=8, m=4, rounds=2))
    assert b1 == b2
    assert len(b1) == 4 * 8  # m x n_codes, no dead codes

    def sq_err(st):
        # decode each row's codes against its store's book and sum the
        # squared L2 to the normalized subvectors (ADC's own metric)
        from esvc_spark.operators.ann_store import (
            _pq_parts_of,
            _sqdist,
            _unit,
        )
        from esvc_spark.functions.vectors import norm

        e = emb.withColumn("nrm", norm(F.col("emb")))
        parts = _pq_parts_of(
            e.select("vec_id", _unit(F.col("emb"), F.col("nrm")).alias("_u")),
            F.col("_u"),
            4,
            4,
            ["vec_id"],
        )
        codes = st.cells().select(
            "vec_id", F.posexplode("codes").alias("sub", "code")
        )
        return (
            parts.join(codes, ["vec_id", "sub"])
            .join(st.pq_book(), ["sub", "code"])
            .select(_sqdist(F.col("part"), F.col("cpart")).alias("e"))
            .agg(F.sum("e"))
            .first()[0]
        )

    trained = IVFIndexStore.build(
        spark,
        emb,
        str(tmp_path / "trained"),
        k=4,
        pq_book=train_pq_book(emb, n_codes=8, m=4, rounds=2),
        pq_m=4,
    )
    seed = IVFIndexStore.build(
        spark, emb, str(tmp_path / "seed"), k=4, pq_codes=8, pq_m=4
    )
    assert sq_err(trained) <= sq_err(seed)
    q = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "emb"
    )
    got = _rows(trained.search_pq(q, nprobe=2, topk=3, rerank=100))
    want = _rows(trained.search(q, nprobe=2, topk=3))
    assert got == want and len(got) > 0


def test_train_pq_book_sample_mod_is_deterministic_slice(spark):
    """sample_mod trains on the hash-selected slice: bit-deterministic
    across partitionings, full m x n_codes shape, and identical to
    training on the pre-filtered corpus (pure function of the slice)."""
    from esvc_spark.operators.ann_store import train_pq_book

    emb = _pq_emb(spark, n=80)

    def rows(book):
        return sorted(
            (int(r["sub"]), int(r["code"]), tuple(r["cpart"]))
            for r in book.collect()
        )

    b1 = rows(train_pq_book(emb, n_codes=4, m=4, rounds=1, sample_mod=2))
    b2 = rows(
        train_pq_book(
            emb.repartition(5), n_codes=4, m=4, rounds=1, sample_mod=2
        )
    )
    assert b1 == b2 and len(b1) == 4 * 4
    pre = emb.filter(F.xxhash64(F.col("vec_id")) % 2 == 0)
    b3 = rows(train_pq_book(pre, n_codes=4, m=4, rounds=1))
    assert b1 == b3


@pytest.mark.parametrize("form", PATH_FORMS)
def test_maintenance_plan_and_apply(spark, tmp_path, clean_cwd, form):
    """maintenance_plan emits the integer-exact triad decision
    (split hot / merge-or-drop cold / compact fragmented) and
    apply_plan executes it: dead pairs route to drop_empty_cells
    (merge_cells refuses empty-empty), the store reloads with the
    smaller codebook, and every vector stays served — whether the store
    is named by a plain path or a `file:` URI."""
    from esvc_spark.operators.ann_store import IVFIndexStore

    path = path_in_form(tmp_path / "plan", form)

    emb = _pq_emb(spark, n=60)
    # codebook: 4 real centroids + two DEAD slots — 2x-scaled copies of
    # emb0/emb1 tie with the originals under cosine (power-of-two
    # scaling is IEEE-exact) and lose the (csim DESC, cell ASC)
    # tie-break, so cells 4/5 are empty by construction
    cents = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("cent_id"), F.col("emb").alias("cemb")
    ).unionByName(
        emb.filter(F.col("vec_id") < 2).select(
            (F.col("vec_id") + 4).alias("cent_id"),
            F.transform("emb", lambda x: x * F.lit(2.0)).alias("cemb"),
        )
    )
    st = IVFIndexStore.build(spark, emb, path, k=4, centroids=cents)
    counts = {int(r["cent_id"]): 0
              for r in st.centroids().select("cent_id").collect()}
    for r in st.cells().groupBy("cell").count().collect():
        counts[int(r["cell"])] = int(r["count"])
    assert counts[4] == 0 and counts[5] == 0  # the dead slots
    total, k = sum(counts.values()), len(counts)

    plan = st.maintenance_plan(hot_num=5, hot_den=4, cold_div=4)
    # independent mini-oracle of the rules
    want_hot = sorted((c for c, n in counts.items() if n * k * 4 > 5 * total),
                      key=lambda c: (-counts[c], c))
    assert [p[1] for p in plan if p[0] == "split"] == want_hot
    merges = [p for p in plan if p[0] == "merge"]
    assert (("merge", 4, 5, 0) in merges)  # the dead pair, metric 0
    assert not [p for p in plan if p[0] == "compact"]  # fresh build: 1 file/cell

    # fragment a cell via add(), plan must flag it for compact
    extra = _pq_emb(spark, n=70).filter(F.col("vec_id") >= 60)
    st.add(extra)
    plan2 = st.maintenance_plan(hot_num=5, hot_den=4, cold_div=4)
    assert [p for p in plan2 if p[0] == "compact"]

    before = sorted(
        (r["vec_id"], tuple(r["emb"])) for r in st.cells().collect()
    )
    n_drop_pairs = sum(1 for p in plan2 if p[0] == "merge" and p[3] == 0)
    n_real_merges = sum(1 for p in plan2 if p[0] == "merge" and p[3] > 0)
    n_splits = sum(1 for p in plan2 if p[0] == "split")
    st.apply_plan(plan2)
    # the store reloads consistently: dead pairs dropped (-2 each),
    # real merges fold one id away each, splits add one centroid each
    # (NOTE: split reuses freed ids, so identity assertions on 4/5
    # would be wrong — count instead)
    re = IVFIndexStore.load(spark, path)
    ids = {int(r["cent_id"]) for r in re.centroids().select("cent_id").collect()}
    assert (
        re.k
        == len(ids)
        == 6 - 2 * n_drop_pairs - n_real_merges + n_splits
    )
    # at most the odd unpaired cold cell may still be empty
    lived = {
        int(r["cell"])
        for r in re.cells().select("cell").distinct().collect()
    }
    assert lived <= ids and len(ids - lived) <= 1
    after = sorted(
        (r["vec_id"], tuple(r["emb"])) for r in re.cells().collect()
    )
    assert after == before  # no vector lost or duplicated by the moves
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "emb"
    )
    assert re.search(q, nprobe=re.k, topk=3).count() == 9
    assert not (clean_cwd / "file:").exists()


def test_drop_empty_cells_guards(spark, tmp_path):
    from esvc_spark.operators.ann_store import IVFIndexStore

    emb = _pq_emb(spark, n=40)
    st = IVFIndexStore.build(spark, emb, str(tmp_path / "g"), k=4)
    with pytest.raises(ValueError, match="have rows"):
        st.drop_empty_cells([int(
            st.cells().select("cell").first()["cell"])])
    with pytest.raises(ValueError, match="not in codebook"):
        st.drop_empty_cells([999])
    with pytest.raises(ValueError, match="every cell"):
        st.drop_empty_cells(
            [int(r["cent_id"]) for r in st.centroids().collect()])


def test_probe_collect_guard_fallback_is_identical(spark, sf_dir, store):
    """VERDICT r11 #6: the driver-side probe collect is bounded by
    spark.esvc.ann.probeCollectRows; above the bound search/search_pq
    take the distributed (checkpoint + distinct-cells) path. Results
    must be identical on both paths, at and just below the boundary."""
    queries = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .filter(F.col("vec_id") < _N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").cast("array<double>").alias("emb"),
        )
    )
    want = _rows(store.search(queries, nprobe=_IVF_NPROBE, topk=_IVF_TOPK))
    n_probe_rows = _N_QUERIES * _IVF_NPROBE
    key = "spark.esvc.ann.probeCollectRows"
    try:
        # boundary: bound == |probe rows| keeps the driver path
        spark.conf.set(key, str(n_probe_rows))
        at_bound = _rows(
            store.search(queries, nprobe=_IVF_NPROBE, topk=_IVF_TOPK)
        )
        # below it: the fallback path must produce the same rows
        spark.conf.set(key, str(n_probe_rows - 1))
        fallback = _rows(
            store.search(queries, nprobe=_IVF_NPROBE, topk=_IVF_TOPK)
        )
    finally:
        spark.conf.unset(key)
    assert at_bound == want
    assert fallback == want


def test_probe_collect_guard_fallback_probe_map(spark, sf_dir, tmp_path):
    """The probe_map expansion (split-versioning seam) must behave
    identically on the driver path and the distributed fallback."""
    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("emb"))
    )
    st = IVFIndexStore.build(spark, emb, str(tmp_path / "pmguard"), k=8)
    counts = st.cells().groupBy("cell").count().collect()
    hot = max(
        ((int(r["cell"]), int(r["count"])) for r in counts),
        key=lambda t: (t[1], -t[0]),
    )[0]
    old_cents = st.centroids().localCheckpoint()
    new_id = st.k  # ids are 0..k-1 here (lowest-id codebook)
    q = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "emb"
    )
    st.split_cell(hot, n_sub=2)
    kwargs = dict(
        nprobe=_IVF_NPROBE,
        topk=_IVF_TOPK,
        centroids_df=old_cents,
        probe_map={hot: (hot, new_id)},
    )
    want = _rows(st.search(q, **kwargs))
    key = "spark.esvc.ann.probeCollectRows"
    try:
        spark.conf.set(key, "1")  # force the distributed fallback
        got = _rows(st.search(q, **kwargs))
    finally:
        spark.conf.unset(key)
    assert got == want
