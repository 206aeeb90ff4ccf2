"""The benchmark workloads.

Each workload is a closed loop with one client. `build()` makes the
inputs from the seed (repeated to time set-up), `warmup()` runs one
untimed pass, `round()` is one timed unit of work and returns its op
latencies, and `check()` compares outputs with a reference outside the
timed region.

An "op" is what a user waits for most often: a commit (edit_session), a
micro-batch (stream_ingest) or a query (query_mix). A round is one whole
editing session (commits, merges and checkouts), stream drain or query
mix.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
import sys
import statistics
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class Round:
    op_ms: list[float] = field(default_factory=list)  # the workload's main op
    wall_s: float = 0.0
    cpu_s: float = 0.0  # process-tree CPU seconds (see tree_cpu_s)
    items: int = 0  # what ops_per_s counts: ops, or events for the stream
    attempted: int = 0
    failed: int = 0


@dataclass
class Sizes:
    sf: str
    branches: int = 2
    stream_files: int = 4
    lines: int = 1000  # leading lines of the word corpus the editor loads


# Sized so that every run ends in well under a minute on a 4-CPU host,
# where one Spark job costs 0.1-0.3 s and a merge of two branches ~40 jobs.
FULL = Sizes(sf="sf0.01")
SMOKE = Sizes(sf="sf0.001", branches=1, stream_files=2, lines=500)


def _md5_lines(lines) -> str:
    h = hashlib.md5()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def _report(what: str, problems) -> int:
    """Print a failed check to stderr; returns 1 if it failed."""
    if problems:
        print(f"# CHECK FAILED {what}: {problems}", file=sys.stderr, flush=True)
    return int(bool(problems))


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and all its descendants
    (the Spark JVM and its Python workers), reaped children included.
    Unlike wall time it does not grow while the hypervisor of a shared
    host runs other guests on this machine's CPUs (steal time)."""
    cpu, kids = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while listing
        fields = stat[stat.rindex(")") + 2:].split()
        pid = int(name)
        cpu[pid] = sum(int(x) for x in fields[11:15])  # u/s time, own + reaped
        kids.setdefault(int(fields[1]), []).append(pid)
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += cpu.get(pid, 0)
        todo += kids.get(pid, [])
    return total / _TICK


def _timed(fn, *args):
    t = time.perf_counter()
    out = fn(*args)
    return out, (time.perf_counter() - t) * 1e3


class Workload:
    name = ""

    def __init__(self, spark, data_dir, work_dir, seed, tracer, sizes: Sizes):
        self.spark = spark
        self.sf_dir = os.path.join(data_dir, sizes.sf)
        self.work = work_dir
        self.seed = seed
        self.tracer = tracer
        self.sizes = sizes
        self.rounds = 0
        os.makedirs(work_dir, exist_ok=True)

    def round_dir(self, tag: str) -> str:
        d = os.path.join(self.work, f"{tag}{self.rounds}")
        shutil.rmtree(d, ignore_errors=True)
        return d

    def engine_class(self):
        from esvc_spark.core.spark_engine import SparkExEngine

        if self.tracer.enabled:
            from tracing import traced_engine_class

            return traced_engine_class(SparkExEngine, self.tracer)
        return SparkExEngine

    def word_lines(self) -> list[str]:
        from esvc_spark.queries.esvc import _word_lines

        rows = (_word_lines(self.spark, self.sf_dir)
                .filter(F.col("line_no") < self.sizes.lines)
                .orderBy("line_no").collect())
        return [r["text"] for r in rows]

    def layer_metrics(self) -> dict[str, float]:
        return {}

    def build(self) -> None: ...

    def warmup(self) -> tuple[int, int]:
        """One untimed round; returns its (attempted, failed)."""
        r = self.round()
        a, f = self.after_round()
        return r.attempted + a, r.failed + f

    def round(self) -> Round: ...

    def after_round(self) -> tuple[int, int]:
        """Untimed: (attempted, failed) checks of the round just run, and
        release of what it left persisted."""
        return 0, 0

    def check(self) -> tuple[int, int]:
        """Untimed: (attempted, failed) reference checks after the last
        round."""
        return 0, 0



# ------------------------------------------------------------ edit_session
class EditSession(Workload):
    """Repl.submit on a dependent main line, then k commuting branches
    forked from the main head, saved and merged back with merge_from,
    then checkouts of the session's historical head-sets through the
    same SnapshotStore memo (budget 8, so older states spill and
    reload)."""

    name = "edit_session"

    def build(self) -> None:
        from esvc_spark.core.exparse import make_command

        self.lines = self.word_lines()
        rng = random.Random(self.seed)
        # lower-case words that occur on their own lines; no edit can
        # create or remove them, so no edit becomes a no-op
        vocab = sorted({w for w in self.lines if w.isalpha() and w.islower()})
        a, b, *others = rng.sample(vocab, 2 + self.sizes.branches)
        # the main line: the append renumbers lines, the substitute
        # rewrites the text the append introduced, so it depends on it
        main = [
            make_command({"type": "rgx", "pattern": f"^{a}$"},
                         "append", [f"after-{b}"]),
            make_command({"type": "rgx", "pattern": f"^after-{b}$"},
                         "substitute", ["after", "AFTER"]),
        ]
        # branches: substitutes on words no other edit touches
        branches = [
            make_command({"type": "rngf", "start": 0}, "substitute",
                         [f"^{w}$", w.upper()])
            for w in others
        ]
        self.script = (main, branches)
        self.want = None
        self.fingerprints: dict[frozenset, tuple] = {}

    def warmup(self) -> tuple[int, int]:
        # a one-commit, one-branch session warms every code path at a
        # fraction of a full round's cost
        main, branches = self.script
        r = self.round(main[:1], branches[:1])
        a, f = self.after_round()
        self.want = None
        return r.attempted + a, r.failed + f

    def _fork(self, repl):
        from esvc_spark.cli import Repl
        from esvc_spark.core.graph import Graph

        br = Repl.__new__(Repl)
        br.path, br.engine, br.wc = None, repl.engine, repl.wc
        br.graph = Graph()
        br.graph.events = dict(repl.graph.events)
        br.graph.nstates = {k: set(v) for k, v in repl.graph.nstates.items()}
        self._trace_repl(br)
        return br

    def _trace_repl(self, repl) -> None:
        t = self.tracer
        t.wrap_methods(repl, "cli", ["submit", "merge_from"])
        t.wrap_methods(repl.graph, "graph", ["calculate_dependencies", "fold_state"])

    def round(self, main=None, branches=None) -> Round:
        from esvc_spark.cli import Repl
        from esvc_spark.core import store
        from tracing import CountingMemo

        main = self.script[0] if main is None else main
        branches = self.script[1] if branches is None else branches
        self.ran = main + branches
        d = self.round_dir("edit")
        t = self.tracer
        repl = Repl(tuple(self.lines), engine=self.engine_class()(self.spark),
                    spill_dir=os.path.join(d, "spill"))
        if t.enabled:
            repl.wc.sts = CountingMemo(repl.wc.sts, t)
            t.wrap_methods(repl.wc, "workcache",
                           ["shelve_event", "try_merge", "materialize"])
        self._trace_repl(repl)
        undo = t.patch_module(store, "store", ["load_graph", "import_merge"])
        r = Round()
        c0, t0 = tree_cpu_s(), time.perf_counter()
        try:
            for cmd in main:
                t.op_id += 1
                evid, ms = _timed(repl.submit, cmd)
                r.op_ms.append(ms)
                r.failed += evid is None
            history, paths = [frozenset(repl.heads)], []
            for i, cmd in enumerate(branches):
                br = self._fork(repl)
                t.op_id += 1
                evid, ms = _timed(br.submit, cmd)
                r.op_ms.append(ms)
                r.failed += evid is None
                history.append(frozenset(br.heads))
                paths.append(os.path.join(d, f"branch{i}"))
                t.span("store.save_graph", store.save_graph,
                       self.spark, br.graph, paths[-1])
            for p in paths:
                t.op_id += 1
                repl.merge_from(p, self.spark)
            # the read path: each checkout must reproduce the fingerprint
            # first seen for its head-set
            for hs in history:
                t.op_id += 1
                dat = repl.wc.materialize(repl.graph, set(hs))
                first = self.fingerprints.setdefault(hs, dat.fingerprint)
                r.failed += first != dat.fingerprint
        finally:
            t.unpatch(undo)
        r.wall_s = time.perf_counter() - t0
        r.cpu_s = tree_cpu_s() - c0
        r.attempted = r.items = len(r.op_ms) + len(paths) + len(history)
        t.count("store.spills", repl.wc.sts.spills)
        t.count("store.loads", repl.wc.sts.loads)
        self.last = repl
        self.rounds += 1
        return r

    def expected_md5(self) -> str:
        from esvc_spark.core.engines import ExEngine

        eng, dat = ExEngine(), tuple(self.lines)
        for cmd in self.ran:
            dat = eng.run_event_bare(0, cmd, dat)
        return _md5_lines(dat)

    def after_round(self) -> tuple[int, int]:
        # shelve -> minimize -> replay must equal the sequential fold
        if self.want is None:
            self.want = self.expected_md5()
        got = _md5_lines(self.last.materialize())
        self.last.wc.prune()
        return 1, _report("final state vs ExEngine fold",
                          [] if got == self.want else [f"{got} != {self.want}"])


# ----------------------------------------------------------- stream_ingest
class StreamIngest(Workload):
    """event_log_stream_pipeline draining a seeded split of the events
    table, one file per micro-batch, into a fresh work dir."""

    name = "stream_ingest"

    def build(self) -> None:
        import numpy as np
        import pyarrow.parquet as pq

        src = pq.read_table(os.path.join(self.sf_dir, "events.parquet"))
        self.n_events = src.num_rows
        ids = src.column("event_id").to_numpy().astype(np.uint64)
        mix = (ids * np.uint64(0x9E3779B97F4A7C15)
               + np.uint64(self.seed * 0x632BE5AB + 1)) >> np.uint64(33)
        part = (mix % np.uint64(self.sizes.stream_files)).astype(np.int64)
        self.in_dir = os.path.join(self.work, "stream_in")
        shutil.rmtree(self.in_dir, ignore_errors=True)
        os.makedirs(self.in_dir)
        self.warm_dir = os.path.join(self.work, "stream_warm")
        shutil.rmtree(self.warm_dir, ignore_errors=True)
        os.makedirs(self.warm_dir)
        for i in range(self.sizes.stream_files):
            part_i = src.filter(part == i)
            pq.write_table(part_i, os.path.join(self.in_dir, f"part-{i:03d}.parquet"))
            if i == 0:
                pq.write_table(part_i, os.path.join(self.warm_dir, f"part-{i:03d}.parquet"))
        self.warm_events = int((part == 0).sum())
        if not hasattr(self, "listener"):
            self.listener = _ProgressListener()
            self.spark.streams.addListener(self.listener)
        self.outputs: list[str] = []
        self.stream_jobs: list[int] = []

    def warmup(self) -> tuple[int, int]:
        # a one-file drain warms the whole path
        r = self.round(self.warm_dir, 1)
        work = self.outputs.pop()
        log = self.spark.read.parquet(os.path.join(work, "events_log"))
        n, distinct = log.agg(F.count(F.lit(1)), F.countDistinct("event_id")).first()
        bad = [] if n == distinct == r.items else [
            f"log {n} ids {distinct} input {r.items}"]
        return r.attempted, _report("warm-up event log", bad)

    def round(self, in_dir=None, files=None) -> Round:
        from esvc_spark.streaming.pipelines import (
            event_log_stream_pipeline,
            read_events_stream,
        )

        in_dir = in_dir or self.in_dir
        files = files or self.sizes.stream_files
        events = self.n_events if in_dir == self.in_dir else self.warm_events
        d = self.round_dir("stream")
        stream = read_events_stream(self.spark, in_dir, max_files_per_trigger=1)
        self.listener.progress.clear()
        self.tracer.op_id += 1
        c0 = tree_cpu_s()
        _, wall_ms = _timed(
            self.tracer.span, "streaming.event_log_stream_pipeline",
            event_log_stream_pipeline, stream,
            os.path.join(d, "work"), os.path.join(d, "ckpt"))
        batches = self.listener.wait_for(files)
        if self.tracer.enabled:
            self.tracer.drain_listener_bus()
            st = self.spark.sparkContext.statusTracker()
            self.stream_jobs += st.getJobIdsForGroup(batches[-1]["runId"])
        r = Round(wall_s=wall_ms / 1e3, cpu_s=tree_cpu_s() - c0, items=events)
        r.op_ms = [p["triggerExecution"] for p in batches]
        r.attempted = 1
        self.outputs.append(os.path.join(d, "work"))
        self.batches = batches
        self.rounds += 1
        return r

    def check(self) -> tuple[int, int]:
        # the log holds unique event ids and matches the closed-form
        # DuckDB oracle of q_stream_event_log
        from esvc_spark.queries.events_temporal import _STREAM_EVENT_LOG_SQL
        from tests.oracle_utils import compare, run_oracle

        want = run_oracle(_STREAM_EVENT_LOG_SQL, self.sf_dir)
        failed = 0
        for work in self.outputs:
            log = self.spark.read.parquet(os.path.join(work, "events_log"))
            n, distinct = log.agg(F.count(F.lit(1)),
                                  F.countDistinct("event_id")).first()
            bad = [] if n == distinct == self.n_events else [
                f"log {n} ids {distinct} events {self.n_events}"]
            bad += compare(_event_log_summary(self.spark, work), want)
            failed += _report(f"event log {work}", bad)
        return len(self.outputs), failed

    def layer_metrics(self) -> dict[str, float]:
        def p50(key):
            return statistics.median(b[key] for b in self.batches)

        from tracing import dir_bytes

        log_bytes = dir_bytes(os.path.join(self.outputs[-1], "events_log"))
        return {
            "streaming.batches": len(self.batches),
            "streaming.input_rows": sum(b["numInputRows"] for b in self.batches),
            "streaming.addBatch.ms_p50": p50("addBatch"),
            "streaming.triggerExecution.ms_p50": p50("triggerExecution"),
            "streaming.walCommit.ms_p50": p50("walCommit"),
            "streaming.log_bytes_per_event": log_bytes / self.n_events,
        }


def _event_log_summary(spark, work):
    """q_stream_event_log's result shape over one pipeline work dir."""
    from esvc_spark.streaming.pipelines import _superseded

    log = spark.read.parquet(os.path.join(work, "events_log"))
    heads = _superseded(spark.read.parquet(os.path.join(work, "heads")), log)
    per_log = log.groupBy("graph_key").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.bit_xor("src_id").alias("src_xor"),
        F.count("dep_src").alias("n_dep_edges"),
    )
    per_heads = heads.withColumn("graph_key", F.col("head_src") % 16).groupBy(
        "graph_key").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_heads"),
        F.bit_xor("head_src").alias("head_xor"),
        F.max("head_src").alias("head_max"),
    )
    return per_log.join(per_heads, "graph_key")


class _ProgressListener(StreamingQueryListener):
    """Collects each micro-batch's durations from the progress events.
    Spark's numInputRows counts every scan of the batch, and the
    pipeline reads each batch twice, so event counts come from the input
    files instead."""

    def __init__(self):
        self.progress: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        if p.numInputRows:
            d = dict(p.durationMs)
            d["numInputRows"] = p.numInputRows
            d["runId"] = str(p.runId)
            self.progress.append(d)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def wait_for(self, n: int, timeout_s: float = 30.0) -> list[dict]:
        end = time.monotonic() + timeout_s
        while len(self.progress) < n and time.monotonic() < end:
            time.sleep(0.01)
        return list(self.progress)


# --------------------------------------------------------------- query_mix
# one query per heavy registry family (relational aggregate, relational
# join, events, documents, embeddings); more would not fit the run budget
MIX = (
    "q01_pricing_summary q09_product_profit q_ev_sessionize q_doc_bm25 "
    "q_emb_ivf_knn"
).split()


class QueryMix(Workload):
    """Registry queries in a seeded order, each timed to .count(), with
    the between-query hygiene the repo's own harnesses use."""

    name = "query_mix"

    def build(self) -> None:
        from esvc_spark.queries import all_oracles, all_queries

        q, o = all_queries(), all_oracles()
        self.queries = {n: q[n] for n in MIX}
        self.oracles = {n: o[n] for n in MIX}
        self.order = list(MIX)
        random.Random(self.seed).shuffle(self.order)

    def warmup(self) -> tuple[int, int]:
        # the first pass is also the oracle check: every query's result
        # must match its DuckDB oracle; the timed passes then only count
        from esvc_spark.queries._util import release_between_queries
        from tests.oracle_utils import compare, run_oracle

        self.rows, self.bad = {}, 0
        for n in self.order:
            df = self.queries[n](self.spark, self.sf_dir)
            want = run_oracle(self.oracles[n], self.sf_dir)
            self.bad += _report(n, compare(df, want, exact=False))
            self.rows[n] = len(want)
            release_between_queries(self.spark)
        return len(self.order), self.bad

    def round(self) -> Round:
        from esvc_spark.queries._util import release_between_queries

        r = Round()
        for n in self.order:
            self.tracer.op_id += 1
            c0 = tree_cpu_s()
            got, ms = _timed(
                self.tracer.span, f"queries.{n}",
                lambda: self.queries[n](self.spark, self.sf_dir).count())
            r.cpu_s += tree_cpu_s() - c0
            r.op_ms.append(ms)
            r.failed += got != self.rows[n]
            release_between_queries(self.spark)
        r.wall_s = sum(r.op_ms) / 1e3
        r.attempted = r.items = len(r.op_ms)
        self.rounds += 1
        return r

WORKLOADS = {w.name: w for w in (EditSession, StreamIngest, QueryMix)}
