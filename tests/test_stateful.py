"""applyInPandasWithState operators: state survives micro-batch
boundaries (forced via maxFilesPerTrigger=1) and final values equal the
batch equivalents."""

from __future__ import annotations

import os
import shutil
import uuid

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from esvc_spark.catalog import table as T
from esvc_spark.streaming import read_events_stream
from esvc_spark.streaming.stateful import (
    running_user_totals,
    streaming_head_tracker,
)

from .conftest import path_in_form

SF_DIR = "/root/testdata/sf0.001"
EVENTS = os.path.join(SF_DIR, "events.parquet")

# Recovery tests run under BOTH state-store providers (VERDICT r6 #6):
# the default HDFS-backed store and RocksDB — the provider a 100 TB
# stream actually runs (state no longer bounded by executor heap). The
# provider is recorded in the checkpoint, so each parametrized case
# uses its own checkpointLocation.
_PROVIDERS = {
    "hdfs": (
        "org.apache.spark.sql.execution.streaming.state."
        "HDFSBackedStateStoreProvider"
    ),
    "rocksdb": (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    ),
}
_PROVIDER_CONF = "spark.sql.streaming.stateStore.providerClass"


@pytest.fixture(params=sorted(_PROVIDERS))
def state_provider(request, spark):
    cls = _PROVIDERS[request.param]
    try:
        spark._jvm.java.lang.Class.forName(cls)
    except Exception:
        pytest.skip(f"state store provider class not on classpath: {cls}")
    old = spark.conf.get(_PROVIDER_CONF, None)
    spark.conf.set(_PROVIDER_CONF, cls)
    yield request.param
    if old is None:
        spark.conf.unset(_PROVIDER_CONF)
    else:
        spark.conf.set(_PROVIDER_CONF, old)


@pytest.fixture(scope="module")
def two_batch_dir(tmp_path_factory):
    """Split the events file in two so the stream runs 2 micro-batches."""
    d = str(tmp_path_factory.mktemp("two_batches"))
    t = pq.read_table(EVENTS)
    half = t.num_rows // 2
    pq.write_table(t.slice(0, half), os.path.join(d, "a.parquet"))
    pq.write_table(t.slice(half), os.path.join(d, "b.parquet"))
    return d


def _run_update(df, name):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return df.sparkSession.table(name)


def test_running_totals_match_batch(spark, two_batch_dir):
    stream = read_events_stream(spark, two_batch_dir, max_files_per_trigger=1)
    name = f"run_{uuid.uuid4().hex}"
    out = _run_update(running_user_totals(stream), name).toPandas()
    # update mode emits one row per user per touching micro-batch: the
    # LAST row per user is the lifetime total
    final = out.sort_values("n_events").groupby("user_id").last()

    batch = (
        T(spark, SF_DIR, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("sum_value"),
            F.max("ts").alias("last_ts"),
        )
        .toPandas()
        .set_index("user_id")
    )
    assert len(final) == len(batch)
    for uid, row in batch.iterrows():
        got = final.loc[uid]
        assert got["n_events"] == row["n_events"]
        assert got["value_cents"] == int(row["sum_value"] * 100)
        assert got["last_ts"] == row["last_ts"]
    # state crossed batches: some user must appear twice (two emissions)
    assert (out.groupby("user_id").size() > 1).any()


def test_head_tracker_maintains_antichain(spark, tmp_path):
    import json

    rows = [
        ("g", "e1", 1, "[]"),
        ("g", "e2", 2, json.dumps(["e1"])),  # supersedes e1
        ("g", "e3", 3, "[]"),  # parallel branch head
        ("h", "f1", 1, "[]"),  # separate graph key
    ]
    src = str(tmp_path / "src")
    os.makedirs(src)
    pdf = __import__("pandas").DataFrame(
        rows, columns=["graph_key", "event_id", "ts", "deps_json"]
    )
    pdf.to_parquet(os.path.join(src, "a.parquet"))

    stream = (
        spark.readStream.schema(
            "graph_key STRING, event_id STRING, ts BIGINT, deps_json STRING"
        )
        .parquet(src)
    )
    name = f"heads_{uuid.uuid4().hex}"
    out = _run_update(streaming_head_tracker(stream), name)
    got = {r["graph_key"]: (sorted(r["heads"]), r["n_events"]) for r in out.collect()}
    assert got["g"] == (["e2", "e3"], 3)  # e1 folded away, e2/e3 parallel
    assert got["h"] == (["f1"], 1)


def test_head_tracker_out_of_order_delivery(spark, tmp_path):
    """The fold is order-independent: a dep delivered AFTER the event
    naming it (ts inversion, split across micro-batches) must still end
    up superseded — the pending-supersession state, not arrival luck,
    decides head membership."""
    import json

    import pandas as pd

    # e2 (deps e1) and e4 (deps e3) arrive in batch 1; their deps e1/e3
    # arrive in batch 2. Diamond fan-in: e5 also names e1 (already
    # superseded by then). Correct final antichain: {e2, e4, e5}.
    batch1 = [
        ("g", "e2", 10, json.dumps(["e1"])),
        ("g", "e4", 11, json.dumps(["e3"])),
    ]
    batch2 = [
        ("g", "e1", 20, "[]"),
        ("g", "e3", 21, "[]"),
        ("g", "e5", 22, json.dumps(["e1"])),
    ]
    src = str(tmp_path / "src")
    os.makedirs(src)
    cols = ["graph_key", "event_id", "ts", "deps_json"]
    pd.DataFrame(batch1, columns=cols).to_parquet(os.path.join(src, "a.parquet"))
    pd.DataFrame(batch2, columns=cols).to_parquet(os.path.join(src, "b.parquet"))

    stream = (
        spark.readStream.schema(
            "graph_key STRING, event_id STRING, ts BIGINT, deps_json STRING"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    name = f"heads_{uuid.uuid4().hex}"
    out = _run_update(streaming_head_tracker(stream), name).toPandas()
    final = out.sort_values("n_events").groupby("graph_key").last()
    assert sorted(final.loc["g", "heads"]) == ["e2", "e4", "e5"]
    assert final.loc["g", "n_events"] == 5


def test_running_totals_recover_from_checkpoint(spark, tmp_path, state_provider):
    """State survives a full query STOP + RESTART from the same
    checkpoint: a second query started on the same checkpointLocation
    resumes the per-user lifetime counters (emitting batch-2 users with
    their FULL-history totals) instead of restarting from zero — the
    state-store recovery every production stream relies on."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    ckpt = str(tmp_path / "ckpt")
    t = pq.read_table(EVENTS)
    half = t.num_rows // 2
    pq.write_table(t.slice(0, half), os.path.join(src, "a.parquet"))

    def run_phase(outdir):
        # memory sink is not checkpoint-recoverable; foreachBatch is —
        # each phase appends its emissions to its own directory
        q = (
            running_user_totals(read_events_stream(spark, src))
            .writeStream.foreachBatch(
                lambda df, _id: df.write.mode("append").parquet(outdir)
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(outdir).toPandas()

    run_phase(str(tmp_path / "out1"))
    # phase 2: new file arrives, NEW query object, SAME checkpoint
    pq.write_table(t.slice(half), os.path.join(src, "b.parquet"))
    out2 = run_phase(str(tmp_path / "out2"))
    assert len(out2) > 0  # phase 2 processed only the new file

    batch = (
        T(spark, SF_DIR, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value") * 100)).cast("long").alias("cents"),
        )
        .toPandas()
        .set_index("user_id")
    )
    final = out2.sort_values("n_events").groupby("user_id").last()
    for uid, row in final.iterrows():
        # lifetime totals, not batch-2-only totals -> state was recovered
        assert row["n_events"] == batch.loc[uid, "n_events"], uid
        assert row["value_cents"] == batch.loc[uid, "cents"], uid


def test_head_tracker_recover_from_checkpoint(spark, tmp_path, state_provider):
    """The esvc head-set state survives a query restart: after recovery
    the tracker sees the full event count and the post-restart event
    supersedes a head it only knows from the checkpointed state."""
    import json

    import pandas as pd

    cols = ["graph_key", "event_id", "ts", "deps_json"]
    src = str(tmp_path / "src")
    os.makedirs(src)
    ckpt = str(tmp_path / "ckpt")
    pd.DataFrame(
        [("g", "e1", 1, "[]"), ("g", "e2", 2, json.dumps(["e1"]))], columns=cols
    ).to_parquet(os.path.join(src, "a.parquet"))

    def run_phase(outdir):
        stream = (
            spark.readStream.schema(
                "graph_key STRING, event_id STRING, ts BIGINT, deps_json STRING"
            ).parquet(src)
        )
        q = (
            streaming_head_tracker(stream)
            .writeStream.foreachBatch(
                lambda df, _id: df.write.mode("append").parquet(outdir)
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(outdir).toPandas()

    out1 = run_phase(str(tmp_path / "out1"))
    assert sorted(out1.iloc[-1]["heads"]) == ["e2"]
    # restart: e3 supersedes e2 — a head the new query only knows from
    # the recovered state; n_events proves the counter resumed too
    pd.DataFrame(
        [("g", "e3", 3, json.dumps(["e2"]))], columns=cols
    ).to_parquet(os.path.join(src, "b.parquet"))
    out2 = run_phase(str(tmp_path / "out2"))
    assert len(out2) == 1
    assert sorted(out2.iloc[0]["heads"]) == ["e3"]
    assert out2.iloc[0]["n_events"] == 3


# the `file:` URI forms run under one state-store provider
@pytest.mark.parametrize(
    "state_provider, form",
    [
        ("hdfs", "plain"),
        ("rocksdb", "plain"),
        ("hdfs", "file-uri"),
        ("hdfs", "file-uri-space-nonascii"),
    ],
    ids=["hdfs", "rocksdb", "hdfs-file-uri", "hdfs-file-uri-space-nonascii"],
    indirect=["state_provider"],
)
def test_event_log_pipeline_recover_from_checkpoint(
    spark, tmp_path, clean_cwd, state_provider, form
):
    """The streamed event-log loop (pipelines.event_log_stream_pipeline:
    content-addressed MERGE append + per-batch append_head/compaction)
    survives a full query STOP + RESTART from the same checkpoint under
    both state-store providers: phase 2 processes ONLY the new file
    (checkpoint offsets recovered, no duplicate appends), and the final
    log + minimized head set equal the closed form over all events. The
    work and checkpoint dirs may be named by `file:` URIs: the driver's
    probes and heads swap then act on the directories Spark writes."""
    from esvc_spark.streaming.pipelines import (
        _superseded,
        event_log_stream_pipeline,
    )

    src = str(tmp_path / "src")
    os.makedirs(src)
    ckpt = path_in_form(tmp_path / "ckpt", form)
    work = path_in_form(tmp_path / "work", form)
    t = pq.read_table(EVENTS)
    half = t.num_rows // 2
    pq.write_table(t.slice(0, half), os.path.join(src, "a.parquet"))

    old = spark.conf.get("spark.sql.shuffle.partitions", None)
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        event_log_stream_pipeline(
            read_events_stream(spark, src), work_dir=work,
            checkpoint_dir=ckpt,
        )
        n1 = spark.read.parquet(os.path.join(work, "events_log")).count()
        # phase 2: new file, NEW query, SAME checkpoint — resumes offsets
        pq.write_table(t.slice(half), os.path.join(src, "b.parquet"))
        event_log_stream_pipeline(
            read_events_stream(spark, src), work_dir=work,
            checkpoint_dir=ckpt,
        )
        log = spark.read.parquet(os.path.join(work, "events_log"))
        src_ids = {r["src_id"] for r in log.select("src_id").collect()}
        want_ids = {
            r["event_id"]
            for r in T(spark, SF_DIR, "events").select("event_id").collect()
        }
        # no duplicates (content-address idempotence held across the
        # restart) and nothing lost
        assert log.count() == len(src_ids) == len(want_ids)
        assert src_ids == want_ids
        assert log.count() > n1  # phase 2 really appended the new file

        heads = _superseded(
            spark.read.parquet(os.path.join(work, "heads")), log
        )
        got_heads = {r["head_src"] for r in heads.collect()}
        want_heads = {
            i for i in want_ids
            if (i + 16) not in want_ids or ((i + 16) // 16) % 3 == 0
        }
        assert got_heads == want_heads
        # every table sits where Spark's Hadoop Path puts the string
        local = work.removeprefix("file://")
        for d in ("events_log", "heads"):
            assert os.path.isdir(os.path.join(local, d))
        assert not os.path.exists(os.path.join(local, "heads_stage"))
        assert not (clean_cwd / "file:").exists()
    finally:
        if old is None:
            spark.conf.unset("spark.sql.shuffle.partitions")
        else:
            spark.conf.set("spark.sql.shuffle.partitions", old)


def _write_slices(src, t, bounds, first=0):
    """Write row slices of `t` as parquet files under `src`, one per
    (lo, hi) bound, with increasing mtimes: the file source takes files
    oldest first, so with maxFilesPerTrigger=1 each file is one batch,
    in order."""
    os.makedirs(src, exist_ok=True)
    for i, (lo, hi) in enumerate(bounds, start=first):
        path = os.path.join(src, f"part-{i:03d}.parquet")
        pq.write_table(t.slice(lo, hi - lo), path)
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))


def _dep_src(i):
    """q_stream_heads' dependency rule: the 16-chain predecessor, except
    every third generation starts a fresh chain."""
    return i - 16 if i >= 16 and (i // 16) % 3 != 0 else None


def test_event_log_heads_swap_survives_crash(spark, tmp_path, monkeypatch):
    """A crash between deleting heads/ and moving heads_stage/ into
    place (injected: storage's move step raises once, on the second
    batch's swap) leaves the batch uncommitted. Restarted from the same
    checkpoint, the pipeline rolls the complete stage forward before
    replaying the batch, so no earlier head is lost: the folded heads
    equal the closed form."""
    from pyspark.errors import StreamingQueryException

    from esvc_spark.core import storage
    from esvc_spark.streaming.pipelines import (
        _superseded,
        event_log_stream_pipeline,
    )

    src, ckpt, work = (str(tmp_path / d) for d in ("src", "ckpt", "work"))
    t = pq.read_table(EVENTS)
    half = t.num_rows // 2
    _write_slices(src, t, [(0, half), (half, t.num_rows)])

    real_move = storage._move
    swaps = []

    def crash_on_second_swap(fs, src_path, dst_path):
        if src_path.endswith("heads_stage"):
            swaps.append(src_path)
            if len(swaps) == 2:
                raise OSError("injected crash before the heads stage move")
        real_move(fs, src_path, dst_path)

    def run():
        event_log_stream_pipeline(
            read_events_stream(spark, src, max_files_per_trigger=1),
            work_dir=work, checkpoint_dir=ckpt,
        )

    monkeypatch.setattr(storage, "_move", crash_on_second_swap)
    with pytest.raises(StreamingQueryException):
        run()
    # the crash window: the old head set is gone, the new one is staged
    assert not os.path.exists(os.path.join(work, "heads"))
    run()
    monkeypatch.undo()

    log = spark.read.parquet(os.path.join(work, "events_log"))
    want_ids = set(t.column("event_id").to_pylist())
    assert log.count() == len(want_ids)
    heads = _superseded(spark.read.parquet(os.path.join(work, "heads")), log)
    got_heads = {r["head_src"] for r in heads.collect()}
    want_heads = {
        i for i in want_ids
        if (i + 16) not in want_ids or ((i + 16) // 16) % 3 == 0
    }
    assert got_heads == want_heads


_OVERLAPPING_BATCHES = [(0, 300), (200, 500), (500, 800), (700, 1000)]


@pytest.fixture(scope="module")
def heads_after_every_swap(spark, tmp_path_factory):
    """One run of the event-log pipeline over 4 batches of the sorted
    events (batch 1 overlaps batch 0 by 100 ids, batch 3 overlaps batch
    2), restarted from its checkpoint before the last batch. Returns
    each batch's ids and the `heads/` snapshot taken after every heads
    swap."""
    from esvc_spark.core import storage
    from esvc_spark.streaming.pipelines import event_log_stream_pipeline

    tmp = tmp_path_factory.mktemp("heads_swaps")
    src, ckpt, work = (str(tmp / d) for d in ("src", "ckpt", "work"))
    t = pq.read_table(EVENTS).sort_by("event_id")
    ids = t.column("event_id").to_pylist()

    real_move = storage._move
    got = []

    def snapshot_after_swap(fs, src_path, dst_path):
        real_move(fs, src_path, dst_path)
        if src_path.endswith("heads_stage"):
            got.append(set(pq.read_table(dst_path).column("head_src").to_pylist()))

    def run():
        event_log_stream_pipeline(
            read_events_stream(spark, src, max_files_per_trigger=1),
            work_dir=work, checkpoint_dir=ckpt,
        )

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(storage, "_move", snapshot_after_swap)
        _write_slices(src, t, _OVERLAPPING_BATCHES[:3])
        run()
        _write_slices(src, t, _OVERLAPPING_BATCHES[3:], first=3)
        run()
    return [set(ids[lo:hi]) for lo, hi in _OVERLAPPING_BATCHES], got


@pytest.mark.parametrize(
    "threshold, branches",
    [
        # below the batch size: the bounds alone said compact
        (50, {"bound-compact"}),
        # between max(n_old, n_new) and n_old + n_new: an exact count
        # decided, both ways (batch 1 overlaps batch 0 by 100 ids)
        (550, {"count-keep", "count-compact"}),
        # above n_old + n_new: the bounds alone said keep
        (10_000, {"bound-keep"}),
    ],
)
def test_event_log_compaction_decision_matches_union_rule(
    heads_after_every_swap, threshold, branches
):
    """The union rule now minimizes every batch: after every heads
    swap, `heads/` is the minimal head set of the log so far (the ids
    seen so far minus every id a logged event names as its dependency).
    Each case replays the former `head_threshold` decision on the same
    run, covering every way it was reached: where it compacted, the
    heads are the ones it produced; where it kept the union, they are
    strictly fewer."""
    batches, got = heads_after_every_swap
    assert len(got) == len(batches)

    seen, former, log = set(), set(), set()
    for i, batch in enumerate(batches):
        log |= batch
        minimal = log - {_dep_src(j) for j in log}
        assert got[i] == minimal, f"batch {i}: {len(got[i])} heads, want {len(minimal)}"

        n_old, n_new = len(former), len(batch)
        former |= batch
        compact = len(former) > threshold
        if max(n_old, n_new) > threshold or n_old + n_new <= threshold:
            seen.add("bound-compact" if compact else "bound-keep")
        else:
            seen.add("count-compact" if compact else "count-keep")
        if compact:
            former -= {_dep_src(j) for j in log}
            assert got[i] == former
        else:
            assert got[i] < former
    assert branches <= seen
