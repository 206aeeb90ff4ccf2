"""Structured-Streaming pipelines over the `events` stream (SURVEY.md §7
phase 3; the "event log as a Structured-Streaming-fed table" design the
reference's append-only graph maps onto — crates/esvc-core/src/graph.rs:23-29
becomes a streaming sink here).

The transformations are the streaming twins of esvc_spark.queries.events:
identical window/session semantics, expressed incrementally with
watermarks so late data is bounded and state is evictable. Differences
forced by the streaming model:

  * distinct counts use approx_count_distinct (exact distinct is
    unbounded-state in a stream);
  * dedup uses dropDuplicates within the watermark horizon.

At 100 TB/day these run partition-parallel off a file/Kafka source; state
store size is bounded by (watermark horizon x key cardinality), and
`ingest_into_event_log` keeps the event-log append idempotent so replayed
micro-batches (at-least-once sources) cannot duplicate events.
"""

from __future__ import annotations

import posixpath

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..core import storage

# The on-file physical timestamp type has varied across driver testdata
# generations (TIMESTAMP(NANOS) vs TIMESTAMP(MICROS) NTZ), so reads pin
# the footer schema and normalize ts via catalog.normalize_event_ts.


def read_events_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream over a directory (or glob) of events parquet.
    Schema must be pinned for streaming reads (taken from the batch
    footer); maxFilesPerTrigger bounds micro-batch size for backpressure."""
    from ..catalog import normalize_event_ts, set_events_read_confs

    set_events_read_confs(spark)
    schema = spark.read.parquet(path).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.parquet(path)
    return normalize_event_ts(df)


def tumbling_stream(stream: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """1-hour tumbling windows per event type (streaming twin of
    q_ev_tumbling_hourly; exact-decimal sum, approx distinct users)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
            F.approx_count_distinct("user_id").alias("approx_users"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
            "approx_users",
        )
    )


def sessionize_stream(stream: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """30-minute-gap session windows per user (streaming twin of
    q_ev_sessionize). State per open session, evicted past the watermark."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", "30 minutes"), F.col("user_id"))
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


def dedup_stream(stream: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Drop duplicate events by (user_id, event_type, value) arriving
    within the watermark horizon of each other — the streaming twin of
    q_ev_dedup_content's grouping (late/duplicate handling per
    TESTDATA.md).

    Uses dropDuplicatesWithinWatermark (Spark 3.5+): state for a key is
    evicted once the watermark passes the first-seen event time, so state
    is bounded by (horizon x key cardinality). A plain dropDuplicates on a
    key subset that excludes the event-time column would never evict —
    whole-stream dedup with unbounded state."""
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["user_id", "event_type", "value"]
    )


def run_to_memory(
    df: DataFrame, name: str, output_mode: str = "append"
) -> DataFrame:
    """Drive a streaming DataFrame to completion with availableNow into an
    in-memory table; returns the result as a batch DataFrame. Test/debug
    harness — real deployments use parquet/Kafka sinks with checkpoints."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return df.sparkSession.table(name)


def _drain(stream: DataFrame, fn, checkpoint_dir: str) -> None:
    """Run `fn(batch, batch_id)` on every micro-batch `stream` has
    available now, checkpointed at `checkpoint_dir`."""
    stream.writeStream.foreachBatch(fn).option(
        "checkpointLocation", checkpoint_dir
    ).trigger(availableNow=True).start().awaitTermination()


def append_new_events(out: DataFrame, target: str) -> None:
    """The one idempotent event-log append (Graph.ensure_event's
    get-or-insert, crates/esvc-core/src/graph.rs:132-155): rows of `out`
    whose event_id the parquet table at `target` already holds are
    dropped by a left-anti join, the rest are appended. `out` must be
    distinct on event_id. The table was written from frames of `out`'s
    schema, so it is read with that schema instead of inferring one (an
    inference is a Spark job). The anti-join's scan pins its file list
    when the read resolves, so appending into the same directory is
    self-consistent."""
    spark = out.sparkSession
    if storage.exists(target):
        existing = spark.read.schema(out.schema).parquet(target)
        out = out.join(existing.select("event_id"), "event_id", "left_anti")
    out.write.mode("append").option("compression", "zstd").parquet(target)


def ingest_into_event_log(
    stream: DataFrame, log_dir: str, checkpoint_dir: str
) -> None:
    """foreachBatch sink appending stream rows into an append-only event
    table, idempotently (replayed micro-batches can't duplicate rows) —
    the streaming realization of Graph.ensure_event's get-or-insert
    (crates/esvc-core/src/graph.rs:132-155): content identity wins, not
    arrival count. Rows keep the events schema, and event_id is the
    content address.
    """

    target = posixpath.join(log_dir, "events_stream")

    def _append(batch: DataFrame, batch_id: int) -> None:
        append_new_events(batch.dropDuplicates(["event_id"]), target)

    _drain(stream, _append, checkpoint_dir)


# ------------------------------------------------ streamed event-log loop
# The full REPL loop (ref crates/exvc/src/main.rs:217-250: shelve →
# append_head → compact when >100 heads; here every batch compacts)
# driven from a STREAM instead of stdin. Each source event becomes one
# graph event: cmd 0, a canonical JSON arg, and a dependency on its
# 16-chain predecessor except every third generation (the
# q_stream_heads dependency rule — so the final head set has a
# closed-form oracle).
#
# Scale decisions, stated:
#   * event_id is the real blake2b-512 content address
#     (core.hashing.calculate_hash over core.graph.Event.encode), but a
#     dependency is ADDRESSED by the digest of its source identity, not
#     by the dependency's own recursive event hash: recursive chain
#     hashes need the entire prefix to be materialized in causal order —
#     O(chain depth) work per late/out-of-order event, which a stream
#     cannot afford (the REPL can: stdin is causal). Documented
#     divergence, same family as SURVEY §2's versioned-encoding note.
#   * The append is MERGE-shaped and idempotent: dropDuplicates within
#     the batch + left-anti join against the log on the content address
#     (append_new_events, ensure_event's get-or-insert, ref
#     graph.rs:132-155) — replayed micro-batches cannot duplicate events
#     (proven by running the whole pipeline twice in q_stream_event_log).
#   * append_head/compaction per batch: the head set gets every id the
#     batch carries and is then minimized against the log (an event is
#     superseded once its chain successor EXISTS in the log —
#     presence-tested, exactly the pending-supersession rule
#     streaming_head_tracker uses, so sparse ids and out-of-order
#     arrival are handled).
#   * The head set is minimized every batch, at the cost of one
#     anti-join against the log's dep_src.
#   * Every table the batch reads was written by this pipeline, so it
#     is read with a pinned schema: no schema-inference job.
#   * The heads table is replaced by a roll-forward swap, not an atomic
#     one (core.storage.replace_dir / recover_dir, so it holds on any
#     filesystem the path names, object stores included): the new head
#     set is written to `heads_stage/`, then `heads/` is deleted and the
#     stage moved into place. A crash between those steps leaves the
#     batch uncommitted, so Spark replays it, and the next batch first
#     finishes the swap: a stage holding _SUCCESS (Spark's committer
#     writes it when the write job commits) is the newest complete head
#     set; a stage without it is deleted. Existence probes go through
#     the same module, so a `file:` URI names one directory for Spark
#     and for the driver. A production deployment writes the heads
#     through a transactional table format instead.
#   * Reader contract: `heads/` is one table, minimal against the log
#     after every completed batch, but a crash between the log append
#     and the heads swap leaves it non-minimal until the batch replays,
#     so every reader folds it through `_superseded` against the log.


def _graph_event_rows(batch: DataFrame) -> DataFrame:
    """Raw events micro-batch → graph-event rows with the real content
    address. Hashing runs in an Arrow-batched mapInPandas (blake2b is
    Python-side; whole-batch, never per-row UDF)."""

    rows = batch.select(
        F.col("event_id").cast("bigint").alias("src_id"),
        (F.col("event_id") % 16).cast("bigint").alias("graph_key"),
        F.when(
            (F.col("event_id") >= 16)
            & (F.expr("(event_id div 16) % 3") != 0),
            F.col("event_id") - 16,
        ).alias("dep_src"),
        F.col("event_type"),
    ).dropDuplicates(["src_id"])

    out_schema = (
        "event_id BINARY, cmd INT, arg STRING, "
        "deps MAP<BINARY, BOOLEAN>, src_id BIGINT, graph_key BIGINT, "
        "dep_src BIGINT"
    )

    def add_hash(batches):
        import json as _json

        import pandas as pd

        from ..core.graph import Event
        from ..core.hashing import calculate_hash

        for pdf in batches:
            out = {k: [] for k in (
                "event_id", "cmd", "arg", "deps", "src_id", "graph_key",
                "dep_src",
            )}
            for src, gk, dep, et in zip(
                pdf["src_id"], pdf["graph_key"], pdf["dep_src"],
                pdf["event_type"],
            ):
                arg = {
                    "src": int(src),
                    "et": None if et is None or pd.isna(et) else str(et),
                }
                deps = (
                    {}
                    if pd.isna(dep)
                    else {calculate_hash(b"esvc-spark:addr:v1\x00%d" % int(dep)): True}
                )
                ev = Event(cmd=0, arg=arg, deps=deps)
                out["event_id"].append(calculate_hash(ev.encode()))
                out["cmd"].append(0)
                out["arg"].append(_json.dumps(arg, sort_keys=True))
                out["deps"].append(deps)
                out["src_id"].append(int(src))
                out["graph_key"].append(int(gk))
                out["dep_src"].append(None if pd.isna(dep) else int(dep))
            yield pd.DataFrame(out)

    return rows.mapInPandas(add_hash, out_schema)


def _superseded(heads: DataFrame, log: DataFrame) -> DataFrame:
    """Head-set minimization (fold_state role): drop every head whose
    chain successor exists in the log and names it as a dependency —
    presence-tested, order-independent."""
    succ = log.filter(F.col("dep_src").isNotNull()).select(
        F.col("dep_src").alias("head_src")
    )
    return heads.join(succ, "head_src", "left_anti")


def event_log_stream_pipeline(
    stream: DataFrame,
    work_dir: str,
    checkpoint_dir: str,
) -> None:
    """Drive the events stream through the full event-log loop:
    content-addressed idempotent append into `work_dir`/events_log +
    per-batch append_head and compaction into `work_dir`/heads. Each
    micro-batch is a function of its rows and the disk alone."""
    log_dir = posixpath.join(work_dir, "events_log")
    heads_dir = posixpath.join(work_dir, "heads")
    stage = heads_dir + "_stage"

    def _batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        storage.recover_dir(stage, heads_dir)

        # ev is evaluated once, by the append: the head update below
        # reads `batch` and the on-disk log, never ev.
        ev = _graph_event_rows(batch)
        append_new_events(ev, log_dir)

        # append_head ≙ main.rs:217-231: every id the BATCH carries joins
        # the head set — from the batch's deduped rows, NOT the
        # anti-joined ev: a batch redelivered after the log append landed
        # but before the heads write committed arrives with an empty
        # anti-join, and its head ids would be lost forever (minimizing
        # can only REMOVE heads). Re-adding an already-superseded id is
        # harmless — supersession is monotone, so the minimize below
        # drops it again.
        heads = batch.select(
            F.col("event_id").cast("bigint").alias("head_src")
        )
        if storage.exists(heads_dir):
            heads = spark.read.schema("head_src BIGINT").parquet(
                heads_dir
            ).union(heads)

        # compact_heads ≙ main.rs:232-249, every batch
        heads = _superseded(
            heads.distinct(), spark.read.schema(ev.schema).parquet(log_dir)
        )
        heads.write.mode("overwrite").parquet(stage)
        storage.replace_dir(stage, heads_dir)

    _drain(stream, _batch, checkpoint_dir)


def index_embeddings_stream(
    stream: DataFrame,
    store,
    checkpoint_dir: str,
) -> None:
    """foreachBatch maintenance of a persisted IVF index
    (operators/ann_store.py) from an embeddings STREAM — the production
    shape where vectors arrive continuously and the index must serve
    while it grows. Each micro-batch is assigned against the persisted
    codebook and appended into its cell partitions, idempotently: a
    redelivered batch's vec_ids are anti-joined away against the cells
    already on disk (the ingest_into_event_log convention — content
    identity wins, not arrival count). Assignment is per-vector, so the
    streamed index equals the all-at-once build
    (tests/test_ann_store.py::test_stream_maintained_index...).

    `stream` must carry (vec_id, emb: array<double>). The existence
    probe inside add(idempotent=True) partition-prunes to the batch's
    own target cells — per-batch cost scales with the batch, not the
    index.
    """

    def _append(batch: DataFrame, batch_id: int) -> None:
        store.add(batch.dropDuplicates(["vec_id"]), idempotent=True)

    _drain(stream, _append, checkpoint_dir)
