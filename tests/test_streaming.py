"""Structured-Streaming pipelines: stream results must equal their batch
twins (same data, availableNow to completion), and the event-log ingest
must be idempotent under micro-batch replay."""

from __future__ import annotations

import contextlib
import os
import re
import shutil
import uuid

import pytest
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from esvc_spark.catalog import table as T
from esvc_spark.streaming import (
    dedup_stream,
    ingest_into_event_log,
    read_events_stream,
    run_to_memory,
    sessionize_stream,
    tumbling_stream,
)

SF_DIR = "/root/testdata/sf0.001"
EVENTS = os.path.join(SF_DIR, "events.parquet")


def _canon(pdf):
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    return pdf.sort_values(list(pdf.columns), ignore_index=True)


@pytest.fixture(scope="module")
def events_dir(tmp_path_factory):
    # The file stream source requires a directory; stage the single-file
    # parquet into one.
    d = tmp_path_factory.mktemp("events_src")
    shutil.copy(EVENTS, os.path.join(str(d), "part-000.parquet"))
    return str(d)


@pytest.fixture()
def events_stream(spark, events_dir):
    return read_events_stream(spark, events_dir)


def test_tumbling_stream_matches_batch(spark, events_stream):
    got = _canon(
        run_to_memory(
            tumbling_stream(events_stream), f"tumb_{uuid.uuid4().hex}", "complete"
        )
        .drop("approx_users")
        .toPandas()
    )
    batch = (
        T(spark, SF_DIR, "events")
        .groupBy(F.window("ts", "1 hour").start.alias("window_start"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
    )
    assert got.equals(_canon(batch.toPandas()))


def test_sessionize_stream_matches_batch(spark, events_stream):
    got = _canon(
        run_to_memory(
            sessionize_stream(events_stream), f"sess_{uuid.uuid4().hex}", "complete"
        ).toPandas()
    )
    batch = (
        T(spark, SF_DIR, "events")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
            F.max("ts").alias("last_ts"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            "last_ts",
            "n_events",
            "sum_value",
        )
    )
    assert got.equals(_canon(batch.toPandas()))


def test_dedup_stream_counts(spark, events_stream):
    got = run_to_memory(
        dedup_stream(events_stream), f"dedup_{uuid.uuid4().hex}", "append"
    )
    batch_distinct = (
        T(spark, SF_DIR, "events")
        .dropDuplicates(["user_id", "event_type", "value"])
        .count()
    )
    assert got.count() == batch_distinct


def test_watermark_append_semantics(spark, tmp_path):
    """Append-mode tumbling agg with a 2h watermark across two
    micro-batches pins the *guaranteed* semantics: a window whose end the
    watermark has passed emits exactly once with the pre-watermark
    events, and still-open windows emit nothing. (Dropping data later
    than the horizon is permitted but not guaranteed — Spark only bounds
    how long data is accepted, so the late 09:15 row's fate is not
    asserted.)"""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    def ns(h, m=0):
        return int(
            dt.datetime(2024, 1, 1, h, m, tzinfo=dt.timezone.utc).timestamp() * 1e9
        )

    def write(path, rows):
        t = pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.int64()),
                "user_id": pa.array([1] * len(rows), pa.int64()),
                "event_type": pa.array(["click"] * len(rows)),
                "value": pa.array([1.0] * len(rows)),
                "props": pa.array([None] * len(rows), pa.string()),
            }
        )
        pq.write_table(t, path)

    src = tmp_path / "late_src"
    src.mkdir()
    # batch 1: two events in the 10:00 window + one at 14:00 that pushes
    # the watermark to 12:00
    write(str(src / "a.parquet"), [(1, ns(10, 0)), (2, ns(10, 30)), (3, ns(14, 0))])
    # batch 2 (written later; file source orders by mod time): a late
    # 09:15 event (window end 10:00 < watermark) and a 14:30 event
    import time

    time.sleep(1.1)
    write(str(src / "b.parquet"), [(4, ns(9, 15)), (5, ns(14, 30))])

    stream = read_events_stream(spark, str(src), max_files_per_trigger=1)
    name = f"late_{uuid.uuid4().hex}"
    got = run_to_memory(tumbling_stream(stream), name, "append").toPandas()

    starts = {t.hour: n for t, n in zip(got["window_start"], got["n_events"])}
    assert starts[10] == 2  # closed window: exactly the on-time events
    assert (got["window_start"].dt.hour == 10).sum() == 1  # emitted once
    assert 14 not in starts  # open window must not emit in append mode


def test_ingest_idempotent_under_replay(spark, tmp_path):
    log_dir = str(tmp_path / "log")
    src_dir = str(tmp_path / "src")
    os.makedirs(src_dir)
    shutil.copy(EVENTS, os.path.join(src_dir, "part-000.parquet"))

    n_src = spark.read.parquet(EVENTS).dropDuplicates(["event_id"]).count()

    ingest_into_event_log(
        read_events_stream(spark, src_dir), log_dir, str(tmp_path / "ckpt1")
    )
    target = os.path.join(log_dir, "events_stream")
    assert spark.read.parquet(target).count() == n_src

    # replay: fresh checkpoint reprocesses the same file — idempotent append
    ingest_into_event_log(
        read_events_stream(spark, src_dir), log_dir, str(tmp_path / "ckpt2")
    )
    assert spark.read.parquet(target).count() == n_src

    # new data still lands (single file — the file source doesn't recurse)
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = pq.read_table(EVENTS)
    t = t.set_column(
        t.schema.get_field_index("event_id"),
        "event_id",
        pc.add(t.column("event_id"), 10_000_000),
    )
    pq.write_table(t, os.path.join(src_dir, "part-001.parquet"))
    ingest_into_event_log(
        read_events_stream(spark, src_dir), log_dir, str(tmp_path / "ckpt3")
    )
    assert spark.read.parquet(target).count() == 2 * n_src


def test_stream_fed_event_log_replays(spark, tmp_path):
    """The north-star loop end-to-end: an esvc graph's events are written
    as parquet, ingested through the streaming event-log sink (idempotent
    foreachBatch), the graph is rebuilt from the ingested log, and replay
    of the rebuilt graph reproduces the original dataset state
    (fingerprint equality — the same equality dependency inference uses)."""
    import json as _json

    from esvc_spark.core import Event, Graph, IncludeSpec, WorkCache
    from esvc_spark.core.spark_engine import SparkReplaceEngine
    from esvc_spark.core.store import EVENTS_SCHEMA, events_dataframe

    eng = SparkReplaceEngine(spark)
    g = Graph()
    w = WorkCache(eng, eng.from_texts(["one two three", "three four"]))
    heads: set[bytes] = set()
    for s, r in [("one", "1"), ("three", "3"), ("3 four", "34")]:
        h = w.shelve_event(g, set(heads), Event(cmd=0, arg={"search": s, "replacement": r}))
        if h is not None:
            heads.add(h)
    want, _ = w.run_foreach_recursively(
        g, {h: IncludeSpec.INCLUDE_ALL for h in heads}
    )

    # events -> parquet source -> streaming ingest into the log
    src = str(tmp_path / "src")
    events_dataframe(spark, g).repartition(1).write.parquet(src)
    log_dir = str(tmp_path / "log")
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(src)
    ingest_into_event_log(stream, log_dir, str(tmp_path / "ckpt"))

    # rebuild the graph from the ingested log and replay
    g2 = Graph()
    for r in spark.read.parquet(os.path.join(log_dir, "events_stream")).collect():
        g2.events[bytes(r["event_id"])] = Event(
            cmd=r["cmd"],
            arg=_json.loads(r["arg"]),
            deps={bytes(k): v for k, v in (r["deps"] or {}).items()},
        )
    assert set(g2.events) == set(g.events)
    w2 = WorkCache(eng, eng.from_texts(["one two three", "three four"]))
    got, _ = w2.run_foreach_recursively(
        g2, {h: IncludeSpec.INCLUDE_ALL for h in heads}
    )
    assert got == want  # fingerprint equality over the whole dataset


# ---------------------------------------------------------- job budgets
class _RunIds(StreamingQueryListener):
    """Records the runId of every streaming query started while
    registered; a query's Spark jobs carry its runId as their job group."""

    def __init__(self):
        self.run_ids: list[str] = []

    def onQueryStarted(self, event):
        self.run_ids.append(str(event.runId))

    def onQueryProgress(self, event):
        pass

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


@contextlib.contextmanager
def _query_runs(spark):
    listener = _RunIds()
    spark.streams.addListener(listener)
    try:
        yield listener.run_ids
    finally:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        spark.streams.removeListener(listener)


def _jobs_per_batch(spark, run_id: str) -> dict[int, int]:
    """Spark jobs of one streaming run, per micro-batch. The run's jobs
    are its job group; each job's description names its batch."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    per: dict[int, int] = {}
    for jid in sc.statusTracker().getJobIdsForGroup(run_id):
        desc = store.job(jid).description()
        batch = int(re.search(r"batch = (\d+)", desc.get()).group(1))
        per[batch] = per.get(batch, 0) + 1
    return per


@contextlib.contextmanager
def _driver_log(spark):
    """Capture the driver's log4j output (every logger that reaches the
    root) into a list of lines, available once the block exits."""
    jvm = spark._jvm
    log4j = jvm.org.apache.logging.log4j
    ctx = log4j.LogManager.getContext(False)
    root = ctx.getConfiguration().getRootLogger()
    writer = jvm.java.io.StringWriter()
    layout = log4j.core.layout.PatternLayout.newBuilder().withPattern(
        "%p %c{1}: %m%n"
    ).build()
    name = f"capture-{uuid.uuid4().hex}"
    appender = log4j.core.appender.WriterAppender.createAppender(
        layout, None, writer, name, False, True
    )
    appender.start()
    root.addAppender(appender, None, None)
    ctx.updateLoggers()
    lines: list[str] = []
    try:
        yield lines
    finally:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        root.removeAppender(name)
        ctx.updateLoggers()
        appender.stop()
        lines += writer.toString().splitlines()


def test_event_log_batch_job_budget(spark, tmp_path):
    """A steady-state micro-batch of event_log_stream_pipeline issues
    only the jobs that do work: the hashed anti-join append (3) and the
    minimized heads-stage write (3). No job infers a schema the pipeline
    wrote itself, and none counts the head set. The first batch of a
    query restarted on the same work dir and checkpoint costs no more
    than a steady one: a batch carries no state from earlier batches.
    Reading a table that does not exist yet never fails an analysis,
    so the listener bus logs no error."""
    import pyarrow.parquet as pq

    from esvc_spark.streaming.pipelines import event_log_stream_pipeline

    src = str(tmp_path / "src")
    os.makedirs(src)
    t = pq.read_table(EVENTS)
    quarter = t.num_rows // 4

    def write_part(i):
        path = os.path.join(src, f"part-{i:03d}.parquet")
        pq.write_table(t.slice(i * quarter, quarter), path)
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))

    def run():
        with _query_runs(spark) as runs:
            event_log_stream_pipeline(
                read_events_stream(spark, src, max_files_per_trigger=1),
                str(tmp_path / "work"), str(tmp_path / "ckpt"),
            )
        return _jobs_per_batch(spark, runs[-1])

    for i in range(3):
        write_part(i)
    with _driver_log(spark) as log:
        jobs = run()
        write_part(3)
        restarted = run()
    assert sorted(jobs) == [0, 1, 2]
    assert max(jobs[1], jobs[2]) <= 6, jobs
    assert sorted(restarted) == [3]
    assert restarted[3] <= 6, restarted
    assert not [
        line for line in log
        if line.startswith("ERROR") and "ExecutionListenerBus" in line
    ]


def test_ingest_replay_infers_no_schema(spark, tmp_path):
    """Once the event-log target exists, a batch of ingest_into_event_log
    costs exactly one job more than the first batch did: the scan of the
    existing log for the anti-join. No job infers the target's schema."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    shutil.copy(EVENTS, os.path.join(src, "part-000.parquet"))
    log_dir = str(tmp_path / "log")

    jobs = []
    for attempt in ("first", "replay"):
        with _query_runs(spark) as runs:
            ingest_into_event_log(
                read_events_stream(spark, src), log_dir,
                str(tmp_path / f"ckpt_{attempt}"),
            )
        jobs.append(_jobs_per_batch(spark, runs[-1]))
    first, replay = jobs
    assert replay[0] == first[0] + 1, jobs
