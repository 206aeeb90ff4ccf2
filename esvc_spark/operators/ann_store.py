"""Persisted IVF ANN index: the index IS a parquet layout.

The query-family IVF (queries/embeddings.py q_emb_ivf_knn) rebuilds its
inverted lists every run — right for an oracle-checked contract query,
wrong for the production shape, where an index over 100 TB of vectors
is built ONCE and served many times. This operator persists the index
the Spark-idiomatic way:

- ``cells/`` — every vector with its assigned cell, written
  ``partitionBy("cell")``: the inverted lists are parquet PARTITIONS,
  so a query probing ``nprobe`` of ``k`` cells scans only those
  directories. Partition pruning does the inverted-list lookup at the
  FILE level — no shuffle, no index service, and the pruned fraction
  (k - nprobe)/k of the corpus is never opened.
- ``centroids/`` — the k-row codebook; always broadcast at query time.

Query cost: |batch| x k centroid scores (broadcast), a driver-side
collect of the <= |batch| x nprobe DISTINCT probed cells (bounded by
the query batch, never by the corpus), one partition-pruned scan, and
a two-phase per-query top-k (operators/topk.py) — no stage anywhere is
corpus-proportional-per-task.

Measured receipts (scripts/ab_ann_store.py, min-of-N in one process,
both arms on this search() via the cells_df seam; flat twin shuffled by
vec_id AND sorted within partitions by an unrelated hash — r10 finding:
repartition alone leaves same-cell RUNS from map-block fetch order, and
parquet's page-level column index then hands the "flat" arm most of the
skipping, UNDERSTATING the pruning win — the r9 receipt's 1.7-3.7x scan
ratio was measured against that accidentally-clustered twin):
- toy (sf0.1, 2000 rows, k=8): the pruned probe opens 2 of 8 cell
  files (PartitionFilters live in the plan); wall-clock parity —
  listing k directories costs about what the skipped bytes save.
- scale (--scale: 16M vectors x 64 dims, 2.3 GB parquet, k=64, one
  file per inverted list, 5 queries, real nprobe=2 probe set = 10 of
  64 cells, honest twin): candidate SCAN 2-4x faster; COLD-CACHE
  end-to-end search (os.sync + page caches dropped before every timed
  round — the honest 100 TB regime, where the corpus can never be
  RAM-resident and disk bytes are the per-search cost) 2.7x at
  nprobe=2 (per-round ratios 4.9/3.6/2.5/2.7, min-vs-min 2.69x) and
  1.7x at nprobe=8 (probing 31/64 cells, consistent with the ~2x byte
  ratio). WARM-cache end-to-end stays
  noise-bound parity at 1M/4M/16M rows and 64/512 dims alike — a
  RAM-resident 2-4 GB corpus decodes across 32 cores in well under the
  ~3 s serial job floor of one search, so warm parity is an artifact
  of the receipt corpus fitting in a 128 GB page cache, not a property
  of the layout (--fat mode documents the same: widening emb scales
  both arms' cosine equally, and an unread payload column is free
  under column pruning in both layouts).
  Receipt-scale caveats handled: a one-file 36 MB cell sits under the
  128 MB split size, so the receipt session lowers
  spark.sql.files.maxPartitionBytes to restore the at-scale task
  fan-out (real cells are thousands of splits).

"Training" defaults to the pinned-centroid convention of the query
family: the k LOWEST vec_ids (a total, corpus-agnostic rule). On an
id-dense table (the testdata convention, ids 0..N-1) that coincides
with q_emb_ivf_knn's ``vec_id < k`` pin, and the store reproduces the
contract query bit-for-bit (tests/test_ann_store.py); on a sparse or
offset id space the two rules differ — pass ``centroids=`` (any k-row
(cent_id, cemb) frame, e.g. trained k-means centers) to pin the
codebook explicitly.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..core import storage
from ..functions.vectors import cosine_prenorm, norm
from .topk import topk_per_group


class CompactCellsError(RuntimeError):
    """IVFIndexStore.compact_cells failed on some cells. ``report`` is the
    {cell: (files_before, files_after)} of the cells that were swapped in
    anyway; ``failed`` maps each failed cell to its exception."""

    def __init__(self, report: dict, failed: dict):
        super().__init__(
            "compact_cells failed on "
            + ", ".join(f"cell {c}: {e!r}" for c, e in sorted(failed.items()))
        )
        self.report = report
        self.failed = failed


def _assign_cells(e: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest-centroid assignment (cosine, ties to the lower cent_id):
    e = (vec_id, emb, nrm), cents = (cent_id, cemb, cnrm).

    The k-way score expansion stays NARROW: csim is computed map-side
    against the broadcast codebook and only (vec_id, csim, cell) rows
    flow into the winner aggregation — carrying emb through the
    expansion would shuffle k copies of every vector (measured: GC
    death at 1M x 64-dim x k=64 under a default heap; narrow rows are
    ~24 bytes each and partial aggregation collapses them map-side).
    The winner is min(struct(-csim, cell)) — exactly the (csim DESC,
    cell ASC) row_number()=1 rule, since double negation is
    order-exact — and emb rejoins by vec_id afterwards.

    Duplicate vec_ids (a caller contract violation — see add()) are
    PRESERVED verbatim: every copy lands in the id's single best cell.
    This is deterministic and keeps add-then-build == build-on-union
    even for bad input (the pre-r9 window dedup'd to an arbitrary copy
    when duplicate ids carried different vectors); dedup belongs
    upstream or to add(idempotent=True).

    Extra columns on ``e`` beyond (vec_id, emb, nrm) — e.g. the PQ
    ``codes`` column — ride along untouched: only the narrow
    (vec_id, csim, cell) rows enter the winner aggregation, and the
    full row rejoins by vec_id afterwards."""
    scored = e.select("vec_id", "emb", "nrm").join(F.broadcast(cents)).select(
        "vec_id",
        F.col("cent_id").alias("cell"),
        cosine_prenorm(
            F.col("emb"), F.col("cemb"), F.col("nrm"), F.col("cnrm")
        ).alias("csim"),
    )
    best = (
        scored.groupBy("vec_id")
        .agg(
            F.min(
                F.struct(
                    (-F.col("csim")).alias("_neg"), F.col("cell").alias("cell")
                )
            ).alias("_b")
        )
        .select("vec_id", F.col("_b.cell").alias("cell"))
    )
    carry = [c for c in e.columns if c != "vec_id"]
    return e.join(best, "vec_id").select("vec_id", *carry, "cell")


def _sqdist(a, b):
    """Sequential-fold squared L2 (index order => deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _unit(emb, nrm):
    """Elementwise emb/nrm with the zero-norm convention: a zero vector
    (nrm = 0 iff every component is 0) normalizes to itself, never to
    NaN/ANSI-divide-error."""
    return F.transform(
        emb, lambda x: F.when(nrm == F.lit(0.0), x).otherwise(x / nrm)
    )


def _pq_parts_of(df, emb_col, m, subdim, id_cols):
    """Explode ``emb_col`` into its m subvector slices:
    (*id_cols, sub, part)."""
    subs = F.array(
        *[
            F.struct(
                F.lit(j).alias("sub"),
                F.slice(emb_col, j * subdim + 1, subdim).alias("part"),
            )
            for j in range(m)
        ]
    )
    return df.select(*id_cols, F.explode(subs).alias("s")).select(
        *id_cols, "s.sub", "s.part"
    )


def _pq_encode(
    e: DataFrame,
    book: DataFrame,
    m: int,
    subdim: int,
    stats: tuple[int, bool] | None = None,
) -> DataFrame:
    """Append the PQ ``codes`` column to e = (vec_id, emb, nrm, ...):
    codes[sub] = the book entry minimizing squared L2 to the vector's
    NORMALIZED subvector (ties to the lower code — min(struct) is the
    (sqe ASC, code ASC) argmin). Normalized because the store's exact
    metric is cosine: on unit vectors L2² = 2 - 2·cos, so ADC ordering
    approximates cosine ordering; raw-magnitude L2 would not.

    DENSE books (every (sub, 0..n_codes-1) entry present — both
    built-in shapes) encode in ONE narrow map stage: the whole book is
    folded to a single broadcast nested array ball[sub][code] = cpart
    (m·n_codes·subdim doubles — a few hundred KB) and each row computes
    all m argmins inline — no explode, no shuffle, no groupBy. The
    earlier shape (explode to N×m parts → broadcast-join every code →
    per-(vec_id, sub) argmin aggregate → re-gather) pushed
    N·m·n_codes rows through two hash aggregates; at the 1M × 512-dim
    receipt that is 4 BILLION intermediate rows for the same 33 GFLOP
    of subvector distances. The argmin fold keeps the first strict
    minimum, which is exactly min(struct(sqe, code)) — lowest code on
    ties — so results are bit-identical to the join path, which
    remains as the fallback for sparse explicit pq_books.

    ``stats`` = (n_codes, dense) when the caller already knows the book
    shape (IVFIndexStore memoizes it — round 12); None runs the one
    bounded stats aggregate here."""
    if stats is None:
        row = book.agg(
            F.max("code").alias("mx"), F.count(F.lit(1)).alias("n")
        ).first()
        n_codes = int(row["mx"]) + 1
        dense = int(row["n"]) == m * n_codes
    else:
        n_codes, dense = stats
    if dense:
        nested = (
            book.groupBy("sub")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("code", "cpart"))),
                    lambda s: s["cpart"],
                ).alias("carr")
            )
            .groupBy()
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("sub", "carr"))),
                    lambda s: s["carr"],
                ).alias("_ball")
            )
        )

        def _argmin(j):
            # fold ONCE over the n_codes distances for subvector j with
            # a positional (sqe, code, i) accumulator — referencing a
            # distances array from inside a separate index fold would
            # re-embed (and risk re-evaluating) the whole distance
            # computation at every step
            darr = F.transform(
                F.element_at(F.col("_ball"), j + 1),
                lambda cp: _sqdist(
                    F.slice(F.col("_u"), j * F.lit(subdim) + 1, subdim), cp
                ),
            )
            return F.aggregate(
                darr,
                F.struct(
                    F.lit(float("inf")).alias("sqe"),
                    F.lit(-1).alias("code"),
                    F.lit(0).alias("i"),
                ),
                lambda acc, x: F.struct(
                    F.when(x < acc["sqe"], x).otherwise(acc["sqe"]).alias(
                        "sqe"
                    ),
                    F.when(x < acc["sqe"], acc["i"])
                    .otherwise(acc["code"])
                    .alias("code"),
                    (acc["i"] + 1).alias("i"),
                ),
                lambda acc: acc["code"],
            )

        cols = e.columns
        return (
            e.crossJoin(F.broadcast(nested))
            .withColumn("_u", _unit(F.col("emb"), F.col("nrm")))
            .select(
                *cols,
                F.transform(
                    F.sequence(F.lit(0), F.lit(m - 1)), _argmin
                ).alias("codes"),
            )
        )
    parts = _pq_parts_of(
        e.select("vec_id", _unit(F.col("emb"), F.col("nrm")).alias("_u")),
        F.col("_u"),
        m,
        subdim,
        ["vec_id"],
    )
    best = (
        parts.join(F.broadcast(book), "sub")
        .select(
            "vec_id",
            "sub",
            "code",
            _sqdist(F.col("part"), F.col("cpart")).alias("sqe"),
        )
        .groupBy("vec_id", "sub")
        .agg(F.min(F.struct("sqe", "code")).alias("_b"))
        .select("vec_id", "sub", F.col("_b.code").alias("code"))
    )
    codes = best.groupBy("vec_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("sub", "code"))),
            lambda s: s["code"],
        ).alias("codes")
    )
    return e.join(codes, "vec_id")


def _ofold_sum(order_col: str, val_col: str):
    """Order-pinned sequential double sum (collect→sort→fold): shuffle-
    order invariant, so trained codebooks are bit-deterministic across
    partitionings. Inline twin of queries/_util.ofold_sum (operators
    must not import the query layer)."""
    return F.aggregate(
        F.transform(
            F.array_sort(F.collect_list(F.struct(order_col, val_col))),
            lambda s: s[val_col],
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def train_pq_book(
    emb: DataFrame,
    n_codes: int = 256,
    m: int = 8,
    rounds: int = 2,
    sample_mod: int | None = None,
) -> DataFrame:
    """Deterministic per-subspace Lloyd training for the PQ codebook
    (the q_emb_kmeans convention lifted to subspaces): init = the
    NORMALIZED subvectors of the n_codes lowest vec_ids, then `rounds`
    assign/update iterations — assignment is the (sqdist ASC, code ASC)
    argmin against the broadcast book, the update is the order-pinned
    elementwise mean of each code's members (bit-deterministic across
    partitionings), and a code that loses all members keeps its old
    cpart rather than dying. Returns (sub, code, cpart) for
    IVFIndexStore.build(pq_book=...).

    An untrained pinned book is the right convention for oracle-gated
    contract queries (closed-form in SQL), but it leaves recall on the
    table — scripts/ab_ann_store.py --pq measures both books at receipt
    scale (the sf0.01 smoke: 0.835 → 0.915 recall@10 with 64 codes);
    training is the production default. Cost: rounds × (one
    broadcast-join argmin over N×m narrow rows + one bounded groupBy)
    — offline, build-time only.

    ``sample_mod=D`` trains on the deterministic 1/D corpus slice
    ``xxhash64(vec_id) % D == 0`` — the 100 TB shape: the codebook is a
    statistic of the distribution, not of every row, PQ practice trains
    on a bounded sample, and a full-corpus Lloyd pass costs N×m×n_codes
    subvector distances per round (see the --pq receipt's sampled vs
    full train timings). The seed stays the n_codes lowest vec_ids OF
    THE SAMPLE, so the trained book is a pure function of (emb,
    params) — still bit-deterministic across partitionings. None =
    train on every row (the contract-query convention at test scale)."""
    if sample_mod is not None and sample_mod > 1:
        emb = emb.filter(F.xxhash64(F.col("vec_id")) % sample_mod == 0)
    e = emb.select("vec_id", "emb").withColumn("nrm", norm(F.col("emb")))
    dim = len(e.select("emb").limit(1).collect()[0]["emb"])
    if dim % m != 0:
        raise ValueError(f"train_pq_book: dim {dim} not divisible by m {m}")
    subdim = dim // m
    parts = _pq_parts_of(
        e.select("vec_id", _unit(F.col("emb"), F.col("nrm")).alias("_u")),
        F.col("_u"),
        m,
        subdim,
        ["vec_id"],
    ).localCheckpoint()
    book = (
        _pq_parts_of(
            e.orderBy("vec_id")
            .limit(n_codes)
            .select("vec_id", _unit(F.col("emb"), F.col("nrm")).alias("_u")),
            F.col("_u"),
            m,
            subdim,
            ["vec_id"],
        )
        .join(
            # dense re-code 0..n-1 (vec_ids may be sparse): rank of the
            # seed id within the bounded n_codes seed set
            _seed_codes(emb, n_codes),
            "vec_id",
        )
        .select("sub", "code", F.col("part").alias("cpart"))
        .localCheckpoint()
    )
    for _ in range(rounds):
        assigned = (
            parts.join(F.broadcast(book), "sub")
            .select(
                "vec_id",
                "sub",
                "code",
                _sqdist(F.col("part"), F.col("cpart")).alias("sqe"),
            )
            .groupBy("vec_id", "sub")
            .agg(F.min(F.struct("sqe", "code")).alias("_b"))
            .select("vec_id", "sub", F.col("_b.code").alias("code"))
        )
        members = assigned.join(parts, ["vec_id", "sub"]).select(
            "vec_id", "sub", "code", F.posexplode("part").alias("pos", "val")
        )
        means = (
            members.groupBy("sub", "code", "pos")
            .agg(
                (_ofold_sum("vec_id", "val") / F.count(F.lit(1))).alias("cval")
            )
            .groupBy("sub", "code")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "cval"))),
                    lambda s: s["cval"],
                ).alias("new_cpart")
            )
        )
        book = (
            book.join(means, ["sub", "code"], "left")
            .select(
                "sub",
                "code",
                F.coalesce("new_cpart", "cpart").alias("cpart"),
            )
            # truncate lineage per round (the cc.py rule) — and each
            # round's argmin/update consumes the book twice
            .localCheckpoint()
        )
    return book


def _seed_codes(emb: DataFrame, n_codes: int) -> DataFrame:
    """(vec_id, code): dense 0..n-1 codes for the n_codes lowest
    vec_ids — a bounded orderBy-limit, ranked driver-side (≤ n_codes
    rows), never a corpus window."""
    spark = emb.sparkSession
    ids = sorted(
        r["vec_id"]
        for r in emb.select("vec_id").orderBy("vec_id").limit(n_codes).collect()
    )
    return F.broadcast(
        spark.createDataFrame(
            # single slice: the broadcast build of a 32-slice tiny RDD
            # is a 32-task job (round 12)
            spark.sparkContext.parallelize(
                [(int(v), i) for i, v in enumerate(ids)], 1
            ),
            "vec_id bigint, code int",
        )
    )


# search()/search_pq() collect the ranked probe table to the driver —
# bounded by |batch| x nprobe rows. Above this row bound the collect
# falls back to the distributed path (localCheckpoint + distinct-cells
# collect, the pre-r11 shape) instead of risking driver memory: at 512
# dims a probe row is ~4 KB framed, so the default bound (~131k rows)
# caps the collect at roughly 0.5 GB. Override per session with
# spark.esvc.ann.probeCollectRows (round 12, VERDICT r11 #6 — the
# comment-only ceiling promoted to an enforced invariant).
_PROBE_COLLECT_ROWS = 1 << 17

# suffix of a staged directory the store swaps in (IVFIndexStore._recover)
_STAGE = "_stage"


class IVFIndexStore:
    """A built (or loaded) IVF index rooted at ``path``.

    Driver-side memos (round 12 — guide §1.2: the sf-scale cost of every
    store op is JOB COUNT, not bytes): the k-row codebook rows
    (``_cents_rows``) and the immutable PQ book frame + its shape
    (``_pq_book_df`` / ``_pq_meta``). Both are derived caches of on-disk
    state under the store's single-writer contract (the same contract
    ``self.k`` has always relied on): every codebook writer
    updates/clears ``_cents_rows``, and pq/ is immutable after build so
    its memos never invalidate. cells() is not memoized: every call
    reads cells/ afresh, so cells/ writers have nothing to invalidate."""

    def __init__(self, spark: SparkSession, path: str, k: int):
        self.spark = spark
        self.path = path
        self.k = k
        # memoized derived state (single-writer contract; see class doc)
        self._cents_rows: list[tuple[int, list[float], float]] | None = None
        self._pq_book_df: DataFrame | None = None
        self._pq_meta: tuple[int, int, int, bool] | None = None
        self._pq_ball_rows: list[list[list[float]]] | None = None

    # ------------------------------------------------- driver-side memos
    def _local_df(self, data: list, schema: str) -> DataFrame:
        """Single-partition driver-rows frame. createDataFrame's default
        parallelizes over defaultParallelism slices, so every broadcast
        of a tiny probe/codebook frame ran a 32-task job (and every
        k-row codebook write fanned into up-to-32 files); one slice
        makes those 1-task jobs (round 12)."""
        return self.spark.createDataFrame(
            self.spark.sparkContext.parallelize(data, 1), schema
        )

    def _cents_collect(self) -> list[tuple[int, list[float], float]]:
        """The codebook as driver rows, collected once per handle (k rows
        — broadcast-sized by definition). Maintenance ops REPLACE the
        memo with the rows they just wrote; _recover clears it when it
        finishes a codebook swap."""
        if self._cents_rows is None:
            self._cents_rows = [
                (int(r["cent_id"]), [float(x) for x in r["cemb"]], float(r["cnrm"]))
                for r in self.centroids().collect()
            ]
        return self._cents_rows

    def _cents_local(self) -> DataFrame:
        """The codebook as a LocalRelation (no parquet scan, no job on
        reuse) — values bit-identical to the parquet read the memo was
        collected from (doubles round-trip exactly through the driver)."""
        return self._local_df(
            self._cents_collect(),
            "cent_id bigint, cemb array<double>, cnrm double",
        )

    def _pq_meta_get(self, book: DataFrame) -> tuple[int, int, int, bool]:
        """(m, subdim, n_codes, dense) of the persisted PQ book — ONE
        bounded aggregate job, memoized for the handle's lifetime (pq/
        is immutable after build). Replaces the separate _pq_shape
        collect + dense-stats agg that search_pq/add paid per call."""
        if self._pq_meta is None:
            row = book.agg(
                F.max("sub").alias("ms"),
                F.min(F.size("cpart")).alias("sd"),
                F.max("code").alias("mx"),
                F.count(F.lit(1)).alias("n"),
            ).collect()[0]
            if int(row["n"]) == 0:
                raise ValueError(
                    "IVFIndexStore: empty PQ codebook on disk — the store "
                    "is corrupt (build refuses to persist one)"
                )
            m = int(row["ms"]) + 1
            subdim = int(row["sd"])
            n_codes = int(row["mx"]) + 1
            dense = int(row["n"]) == m * n_codes
            self._pq_meta = (m, subdim, n_codes, dense)
        return self._pq_meta

    def _pq_ball_nested(
        self, book: DataFrame, m: int, subdim: int, n_codes: int
    ) -> DataFrame:
        """The dense PQ book as a single nested broadcast row
        ball[sub][code] = cpart (the _pq_encode shape), built from
        driver rows collected ONCE per handle — m·n_codes·subdim
        doubles, a few hundred KB at production sizes; pq/ is immutable
        after build so the memo never invalidates (round 12)."""
        if self._pq_ball_rows is None:
            by = {
                (int(r["sub"]), int(r["code"])): [
                    float(x) for x in r["cpart"]
                ]
                for r in book.select("sub", "code", "cpart").collect()
            }
            self._pq_ball_rows = [
                [by[(j, c)] for c in range(n_codes)] for j in range(m)
            ]
        return self._local_df(
            [(self._pq_ball_rows,)], "_ball array<array<array<double>>>"
        )

    # ------------------------------------------------------------ build
    @staticmethod
    def build(
        spark: SparkSession,
        emb: DataFrame,
        path: str,
        k: int = 8,
        centroids: DataFrame | None = None,
        pq_codes: int = 0,
        pq_m: int = 8,
        pq_book: DataFrame | None = None,
    ) -> "IVFIndexStore":
        """Assign every row of ``emb`` (vec_id, emb: array<double>) to
        its nearest of k pinned centroids (cosine, ties to the lower
        cent_id) and persist centroids + cell-partitioned vectors.
        ``centroids`` (cent_id, cemb) overrides the default lowest-k-ids
        codebook; the handle's k is the PERSISTED centroid count, which
        can be below the requested k on a sub-k corpus.

        ``pq_codes`` > 0 (or an explicit ``pq_book``) additionally
        persists a product-quantization codebook (``pq/``: sub, code,
        cpart over NORMALIZED subvectors — see _pq_encode) and a
        ``codes`` column on every cell row: at 100 TB the inverted
        lists themselves are the storage/scan problem, and the ADC path
        (search_pq) reads pq_m small ints per vector instead of the
        full embedding — the emb column is only decoded for the top
        k×rerank re-rank candidates. Default book: the normalized
        subvectors of the ``pq_codes`` lowest vec_ids (code = that
        vec_id — the same corpus-agnostic pinned convention as the
        centroid codebook; pass ``pq_book`` (sub, code, cpart) for
        trained codebooks)."""
        e = emb.select("vec_id", "emb").withColumn("nrm", norm(F.col("emb")))
        explicit_book = pq_book is not None
        if explicit_book or pq_codes > 0:
            if pq_book is None:
                # the dim probe (one bounded collect) is only needed when
                # WE must derive the default book's slices; an explicit
                # pq_book defines subdim itself via its cpart width — the
                # stats aggregate below reads it with no extra job
                # (round 12)
                dim = len(
                    e.select("emb").limit(1).collect()[0]["emb"]
                )
                if dim % pq_m != 0:
                    raise ValueError(
                        f"IVFIndexStore.build: dim {dim} not divisible by "
                        f"pq_m {pq_m}"
                    )
                subdim = dim // pq_m
            if pq_book is None:
                base = e.orderBy("vec_id").limit(pq_codes)
                pq_book = _pq_parts_of(
                    base.select(
                        "vec_id",
                        _unit(F.col("emb"), F.col("nrm")).alias("_u"),
                    ),
                    F.col("_u"),
                    pq_m,
                    subdim,
                    ["vec_id"],
                ).select(
                    F.col("vec_id").cast("int").alias("code"),
                    "sub",
                    F.col("part").alias("cpart"),
                )
            pq_book.select("sub", "code", "cpart").write.mode(
                "overwrite"
            ).parquet(os.path.join(path, "pq"))
            book = spark.read.parquet(os.path.join(path, "pq"))
            # ONE bounded stats aggregate serves the emptiness check AND
            # the encode's dense/n_codes decision (round 12 — was a
            # limit-count job plus a second stats agg inside _pq_encode)
            srow = book.agg(
                F.max("sub").alias("ms"),
                F.min(F.size("cpart")).alias("sd"),
                F.max("code").alias("mx"),
                F.count(F.lit(1)).alias("n"),
            ).collect()[0]
            if int(srow["n"]) == 0:
                raise ValueError(
                    "IVFIndexStore.build: empty PQ codebook — the corpus "
                    "is smaller than pq_codes or the explicit pq_book is "
                    "empty"
                )
            pq_meta = (
                int(srow["ms"]) + 1,
                int(srow["sd"]),
                int(srow["mx"]) + 1,
                int(srow["n"]) == (int(srow["ms"]) + 1) * (int(srow["mx"]) + 1),
            )
            # subdim from the persisted book's own cpart width (equals
            # dim // pq_m on the default-book path by construction)
            e = _pq_encode(
                e, book, pq_m, pq_meta[1], stats=(pq_meta[2], pq_meta[3])
            )
        else:
            pq_meta = None
        if centroids is None:
            # pinned codebook: the k lowest vec_ids (bounded orderBy-limit)
            cents = (
                e.orderBy("vec_id")
                .limit(k)
                .select(
                    F.col("vec_id").alias("cent_id"),
                    F.col("emb").alias("cemb"),
                    F.col("nrm").alias("cnrm"),
                )
            )
        else:
            cents = centroids.select(
                "cent_id", "cemb", norm(F.col("cemb")).alias("cnrm")
            )
        cents.write.mode("overwrite").parquet(os.path.join(path, "centroids"))
        cdf = spark.read.parquet(os.path.join(path, "centroids"))
        # the persisted truth — limit(k) may return fewer; read from the
        # parquet footers driver-side (zero jobs — round 12)
        k = storage.parquet_rows(os.path.join(path, "centroids"))
        if k == 0:
            # a zero-row codebook is a permanently dead index: every
            # later add() cross-joins against nothing and silently drops
            # its batch, and search() silently returns empty — fail the
            # build instead of persisting the trap
            raise ValueError(
                "IVFIndexStore.build: empty codebook (k=0) — the corpus "
                "is empty and no explicit centroids= were provided"
                if centroids is None
                else "IVFIndexStore.build: explicit centroids= frame is "
                "empty — a zero-row codebook can never index anything"
            )
        if explicit_book:
            # the explicit book's m×subdim must cover the embedding: a
            # wrong book otherwise encodes silently into NULL distances.
            # The written centroids carry the embedding dim — read it
            # from the parquet driver-side, no Spark job
            cemb = storage.read_parquet(os.path.join(path, "centroids"), ["cemb"])
            dim = len(cemb.column(0)[0].as_py() or ())
            m, subdim = pq_meta[0], pq_meta[1]
            if m != pq_m or m * subdim != dim:
                raise ValueError(
                    f"IVFIndexStore.build: pq_book has {m} subspaces of "
                    f"{subdim} dims ({m * subdim} in all); pq_m={pq_m} "
                    f"and the embeddings have {dim} dims"
                )
        # Cluster by cell before the partitioned write: without it every
        # scan task writes a sliver into every cell directory (tasks x k
        # files), and the probe's file-open overhead eats the pruning win
        # (measured at 1M x 64 cells: 2048 slivers made the pruned probe
        # 0.75x the flat scan; one file per inverted list flipped it).
        # Hash-on-cell bounds write parallelism by k — acceptable for a
        # build-once index; a skewed (untrained) codebook shows up here
        # as one fat task, which is the signal to retrain, not a failure.
        # sortWithinPartitions(vec_id): cluster each inverted list's
        # file by id so point-lookups (search_pq's bounded re-rank, the
        # add()/heal anti-joins) push an In filter that parquet's page
        # column index can actually skip on — unsorted pages have
        # full-range min/max and skip nothing
        _assign_cells(e, cdf).repartition(F.col("cell")).sortWithinPartitions(
            "cell", "vec_id"
        ).write.mode(
            "overwrite"
        ).partitionBy("cell").parquet(os.path.join(path, "cells"))
        store = IVFIndexStore(spark, path, k)
        store._pq_meta = pq_meta  # pq/ is immutable after build
        return store

    # -------------------------------------------------------------- add
    def add(self, emb: DataFrame, idempotent: bool = False) -> "IVFIndexStore":
        """Incrementally index a new batch (vec_id, emb) against the
        PERSISTED codebook — the maintenance path of a production index
        (append, don't rebuild): assignment is the same broadcast
        centroid join as build, and append mode only ADDS files inside
        the target cell partitions, never rewriting existing data.
        Assignment is per-vector, so add(b) after build(a) equals
        build(a ∪ b) (tests/test_ann_store.py).

        By default vec_ids must be NEW — the store is append-only and
        does not dedup; route updates through an upsert pass upstream
        (q_doc_upsert shape). ``idempotent=True`` (the at-least-once
        stream-delivery mode) anti-joins already-indexed ids away first,
        scanning ONLY the batch's target cell partitions: assignment is
        deterministic, so a redelivered vec_id always lands in the same
        cell, and the existence probe partition-prunes to the <= |batch|
        cells the batch touches — never an O(index) rescan per batch.

        Runs _recover first: rows appended into a cell whose compaction
        a crash interrupted would be lost when that stage rolls
        forward."""
        self._recover()
        e = emb.select("vec_id", "emb").withColumn("nrm", norm(F.col("emb")))
        if idempotent:
            # the at-least-once contract must hold WITHIN a batch too: a
            # redelivered id arriving twice in one batch would pass the
            # on-disk anti-join below and be written twice
            e = e.dropDuplicates(["vec_id"])
        book = self.pq_book()
        if book is not None:
            # a PQ store's append must carry codes or the cells schema
            # forks mid-table (Spark would widen with NULL codes and the
            # ADC scan would silently skip the new rows)
            m, subdim, n_codes, dense = self._pq_meta_get(book)
            e = _pq_encode(e, book, m, subdim, stats=(n_codes, dense))
        # memoized codebook (LocalRelation): the per-batch centroid
        # parquet read + its schema/discovery job was pure job-floor on
        # the streaming add path (round 12)
        assigned = _assign_cells(e, self._cents_local())
        if idempotent:
            # consumed twice (cell collect + write): checkpoint so the
            # batch plan runs once and both consumers see the same rows
            assigned = assigned.localCheckpoint()
            hit = [
                r["cell"]
                for r in assigned.select("cell").distinct().collect()
            ]
            existing = (
                self.cells()
                .filter(F.col("cell").isin(hit))
                .select("vec_id")
            )
            assigned = assigned.join(existing, "vec_id", "left_anti")
        assigned.repartition(F.col("cell")).sortWithinPartitions(
            "cell", "vec_id"
        ).write.mode("append").partitionBy("cell").parquet(
            os.path.join(self.path, "cells")
        )
        return self

    # ------------------------------------------------------- split_cell
    def split_cell(self, cell: int, n_sub: int = 2) -> "IVFIndexStore":
        """Split one oversized inverted list in place — the maintenance
        move for a hot/skewed cell (the q_emb_ivf_balance audit names
        the candidates), rewriting ONLY that cell's partition while the
        rest of a 100 TB index is untouched.

        Sub-centroids are chosen FARTHEST-FIRST (k-center seeding): the
        cell's first row in (vec_id, xxhash64(emb)) order, then
        repeatedly the row least similar to every chosen seed — a
        duplicate-heavy hot cell (the common skew) gets genuinely
        diverse seeds, never two copies of one vector (two identical
        seeds would leave a dead twin centroid that eats a probe slot
        and silently degrades recall), and the xxhash tie-break keeps
        the choice deterministic even among duplicate vec_ids carrying
        different embeddings. A cell whose vectors are ALL pairwise
        parallel cannot be balanced by any codebook and raises instead
        of writing a dead centroid.

        Write order is crash-safe for a live index: the codebook swaps
        FIRST (_swap_codebook: a staged write, then storage.replace_dir;
        _recover rolls a marked stage forward, so a crash at any step
        leaves the old codebook or the new one — the new one with a new
        centroid probing a still-complete old cell, which is benign),
        then the cell rows move under
        dynamic partition overwrite, which replaces exactly the
        partitions present in the written frame — sibling partitions'
        files stay byte-untouched (mtime-asserted in
        tests/test_ann_store.py). The reverse order would strand
        vectors in a cell id absent from the codebook: silently
        unsearchable.

        Honest scope: the split is LOCAL, the standard IVF trade — other
        cells' vectors are NOT reconsidered against the enlarged
        codebook, so the result is not byte-equal to a full rebuild
        with the new codebook; queries whose probes ranked the old
        centroid now rank the sub-centroids instead."""
        if n_sub < 2:
            raise ValueError(f"split_cell: n_sub must be >= 2, got {n_sub}")
        # finish an interrupted swap and heal orphan cells before
        # reading; one memoized centroid collect serves the heal AND the
        # codebook rewrite
        self._recover()
        old_cents = self._cents_collect()  # k rows, memoized driver copy
        self._recover_orphan_cells()
        rows = (
            self.cells()
            .filter(F.col("cell") == cell)
            .drop("cell")  # keep every payload column (PQ codes ride along)
            # seed selection, reassignment, and the overwrite all consume
            # this; pinning it also decouples every later job from the
            # cells/ files about to be rewritten
            .localCheckpoint()
        )
        n_cell = rows.count()
        if n_cell < 2:
            raise ValueError(
                f"split_cell({cell}): cell has {n_cell} rows — nothing to split"
            )
        tie = F.xxhash64(F.col("emb"))
        seeds = [rows.orderBy("vec_id", tie).limit(1).collect()[0]]
        for _ in range(n_sub - 1):
            # farthest-first: the row with the LOWEST max-similarity to
            # any chosen seed; total order on ties keeps it deterministic
            sims = [
                cosine_prenorm(
                    F.col("emb"),
                    F.array(*[F.lit(float(x)) for x in s["emb"]]),
                    F.col("nrm"),
                    F.lit(float(s["nrm"])),
                )
                for s in seeds
            ]
            worst = F.greatest(*sims) if len(sims) > 1 else sims[0]
            nxt = (
                rows.withColumn("_maxsim", worst)
                .orderBy("_maxsim", "vec_id", tie)
                .limit(1)
                .collect()[0]
            )
            # epsilon, not exact 1.0: seed self-similarity recomputes as
            # dot(v,v)/(nrm*nrm) with nrm from a sqrt, so it can round a
            # ulp below 1.0 while a near-parallel non-duplicate rounds at
            # it — an exact compare would admit a seed pair the
            # reassignment then collapses into one sub-cell
            if nxt["_maxsim"] >= 1.0 - 1e-12:
                raise ValueError(
                    f"split_cell({cell}): every vector in the cell is "
                    f"parallel to the chosen seeds — a codebook split "
                    f"cannot balance it (found only {len(seeds)} "
                    f"distinct directions)"
                )
            seeds.append(nxt)
        max_id = max(c for c, _, _ in old_cents)
        new_ids = [cell] + [max_id + 1 + i for i in range(len(seeds) - 1)]
        sub_rows = [
            (int(new_ids[i]), list(s["emb"]), float(s["nrm"]))
            for i, s in enumerate(seeds)
        ]
        sub_cents = self._local_df(
            sub_rows, "cent_id bigint, cemb array<double>, cnrm double"
        )
        # each seed should assign to itself (its similarity to every
        # OTHER seed is < 1-1e-12 by the guard above), but that is a
        # float argument, not a proof — verify every sub-cell is
        # non-empty BEFORE any on-disk write, because a dead centroid
        # eats a probe slot and silently degrades recall forever
        reassigned = _assign_cells(rows, sub_cents).localCheckpoint()
        got_cells = {
            r["cell"]
            for r in reassigned.select("cell").distinct().collect()
        }
        empty = sorted(set(int(i) for i in new_ids) - got_cells)
        if empty:
            raise ValueError(
                f"split_cell({cell}): reassignment left empty sub-cell(s) "
                f"{empty} — seeds too close under float rounding; "
                f"index untouched"
            )

        # codebook first (one write job on a k-row table)
        cents_rows = [
            (c, list(v), n) for c, v, n in old_cents if c != cell
        ] + sub_rows
        self._swap_codebook(cents_rows)

        from .cc import _scoped_conf

        with _scoped_conf(
            self.spark, "spark.sql.sources.partitionOverwriteMode", "dynamic"
        ):
            reassigned.repartition(F.col("cell")).sortWithinPartitions(
                "cell", "vec_id"
            ).write.mode(
                "overwrite"
            ).partitionBy("cell").parquet(os.path.join(self.path, "cells"))
        self.k = len(cents_rows)
        return self

    # ------------------------------------------------------- merge_cells
    def merge_cells(self, a: int, b: int) -> "IVFIndexStore":
        """Merge two cold inverted lists — the third maintenance move
        next to split_cell (hot skew) and compact_cells (fragmentation):
        as a 100 TB corpus drifts, some cells decay to slivers that
        waste probe slots, directory listings, and file handles on
        every search; merging folds them into one list. The surviving
        cell keeps the LOWER id; its centroid becomes the row-count-
        weighted mean of the two old centroids (deterministic, and the
        natural estimate of the union's direction).

        Honest read-semantics note: a merge is NOT transparent to a
        stale reader the way a split is. The sub-cells of a split
        partition the old cell exactly, so probe-map expansion
        preserves the candidate multiset; a merged cell is the UNION
        of two old cells, so a stale reader expanding {a: (m,),
        b: (m,)} scans a SUPERSET of its old candidates — results can
        only gain candidates, but they are not bit-identical. Readers
        should refresh their codebook after a merge.

        Write order mirrors split_cell's crash reasoning, inverted for
        the union direction: (1) codebook first (drop b, re-point a's
        centroid) — a crash after leaves b's rows on disk but
        unreachable (no probe ranks b), a TEMPORARY recall loss, never
        wrong results; (2) rows move into partition a under dynamic
        partition overwrite; (3) cell=b's directory is deleted. A crash
        between (2) and (3), or partway through (3), leaves b's rows (or
        a subset of them) duplicated on disk but still invisible (b is
        not in the codebook). Step (0) heals exactly these states: any
        on-disk
        cell absent from the codebook is folded into its nearest
        CURRENT centroid with an anti-join against already-indexed
        vec_ids — so rerunning merge_cells (or calling it for a new
        pair) completes an interrupted merge instead of compounding
        it."""
        if a == b:
            raise ValueError(f"merge_cells: a == b == {a}")
        a, b = (int(min(a, b)), int(max(a, b)))
        # swap recovery runs FIRST so the collect never reads a codebook
        # a crash left mid-swap; orphan healing moves rows only, never
        # centroids, so the memoized rows stay current
        self._recover()
        cents = {
            c: (v, n) for c, v, n in self._cents_collect()  # memoized k rows
        }
        self._recover_orphan_cells()
        for c in (a, b):
            if c not in cents:
                raise ValueError(f"merge_cells: cell {c} not in codebook")
        counts = {
            int(r["cell"]): int(r["n"])
            for r in self.cells()
            .filter(F.col("cell").isin([a, b]))
            .groupBy("cell")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        na, nb = counts.get(a, 0), counts.get(b, 0)
        if na + nb == 0:
            raise ValueError(
                f"merge_cells({a}, {b}): both cells are empty — drop "
                f"the centroids instead of merging nothing"
            )
        ca, cb = cents[a][0], cents[b][0]
        merged = [
            (na * x + nb * y) / float(na + nb) for x, y in zip(ca, cb)
        ]
        from ..functions.vectors import py_norm

        cents_rows = [
            (cid, list(v), float(n))
            for cid, (v, n) in sorted(cents.items())
            if cid not in (a, b)
        ] + [(a, merged, py_norm(merged))]

        # (1) codebook first (split_cell pattern)
        self._swap_codebook(cents_rows)

        # (2) move b's rows into partition a (a's rows rewrite in place
        # with their cell id unchanged; dynamic overwrite touches ONLY
        # partition a)
        rows = (
            self.cells()
            .filter(F.col("cell").isin([a, b]))
            .drop("cell")  # keep every payload column (PQ codes ride along)
            .localCheckpoint()  # pin before the partition rewrite
        )
        from .cc import _scoped_conf

        with _scoped_conf(
            self.spark, "spark.sql.sources.partitionOverwriteMode", "dynamic"
        ):
            rows.withColumn("cell", F.lit(a).cast("bigint")).repartition(
                F.col("cell")
            ).sortWithinPartitions("cell", "vec_id").write.mode(
                "overwrite"
            ).partitionBy("cell").parquet(
                os.path.join(self.path, "cells")
            )
        # (3) drop b's now-redundant directory: every row in it is now
        # in a, and b is in no codebook, so no search probes it
        storage.delete(os.path.join(self.path, "cells", f"cell={b}"))
        self.k = len(cents_rows)
        return self

    def _swap_codebook(self, cents_rows: list) -> None:
        """Replace the codebook with ``cents_rows``: one k-row write job
        into ``centroids_stage`` (Spark's committer marks it complete
        with _SUCCESS), then storage.replace_dir. The next _recover
        finishes a swap a crash interrupted."""
        final = os.path.join(self.path, "centroids")
        stage = final + _STAGE
        self._local_df(
            cents_rows, "cent_id bigint, cemb array<double>, cnrm double"
        ).write.mode("overwrite").parquet(stage)
        storage.replace_dir(stage, final)
        # the rows just written ARE the new codebook (memo stays hot)
        self._cents_rows = [
            (int(c), [float(x) for x in v], float(n)) for c, v, n in cents_rows
        ]

    def _recover(self) -> None:
        """Finish the swap a crash interrupted, before anything reads
        the codebook or writes the store: storage.recover_dir rolls a
        marked stage forward and deletes an unmarked one. One listing of
        the store root finds every stage — ``centroids_stage`` for the
        codebook, ``cell=X_stage`` for a compaction of ``cells/cell=X``
        (outside cells/, where partition discovery would parse it as a
        value). Rolling forward is safe for both: a codebook stage gives
        the just-after-the-swap state split, merge and drop accept, and
        a compaction stage holds exactly its cell's rows, because every
        writer runs this first."""
        for name in storage.listdir(self.path):
            if not name.endswith(_STAGE):
                continue
            stage = os.path.join(self.path, name)
            final = name[: -len(_STAGE)]
            if final == "centroids":
                storage.recover_dir(stage, os.path.join(self.path, final))
                self._cents_rows = None  # the codebook may have changed
                self.k = storage.parquet_rows(os.path.join(self.path, final))
            elif final.startswith("cell="):
                storage.recover_dir(
                    stage, os.path.join(self.path, "cells", final)
                )

    def _recover_orphan_cells(self) -> list[int]:
        """Heal cells present on disk but absent from the codebook (the
        crash residue class of merge_cells steps 1-3): fold each orphan
        cell's rows into their nearest CURRENT centroid, anti-joining
        away vec_ids that are already indexed ANYWHERE (a merge step-2
        crash leaves the orphan's rows duplicated in the SURVIVOR
        partition, whose id need not be any orphan row's nearest current
        centroid — r10 review: filtering the probe to the reassignment's
        target cells missed exactly that state and re-appended
        duplicates), then delete the orphan directory. A delete cut
        short leaves a subset of rows that are all indexed elsewhere,
        which the next heal's anti-join removes; one that left no
        parquet file is just deleted. The existence probe is a
        column-pruned vec_id-only scan of the index — acceptable
        because this is the rare crash-recovery path, never per-search
        or per-add. Callers run _recover first. Returns the healed cell
        ids."""
        root = os.path.join(self.path, "cells")
        if not storage.isdir(root):
            return []
        on_disk = {
            int(e.split("=", 1)[1])
            for e in storage.listdir(root)
            if e.startswith("cell=")
        }
        orphans = sorted(on_disk - {c for c, _, _ in self._cents_collect()})
        if not orphans:
            return []
        cdf = self._cents_local()
        for orph in orphans:
            odir = os.path.join(root, f"cell={orph}")
            if storage.parquet_rows(odir):
                # leaf-dir read: no `cell` partition column; every stored
                # payload column (incl. PQ codes) is preserved verbatim
                rows = self.spark.read.parquet(odir).localCheckpoint()
                assigned = _assign_cells(rows, cdf).localCheckpoint()
                # all NON-orphan cells: the orphan partitions themselves
                # sit under cells/, and a bare all-ids probe would see
                # the orphan's own rows and anti-join the whole heal away
                # (rows silently lost once the dir drops); other orphans'
                # rows are excluded too — each gets its own heal
                # iteration
                existing = (
                    self.cells()
                    .filter(~F.col("cell").isin([int(o) for o in orphans]))
                    .select("vec_id")
                )
                assigned.join(existing, "vec_id", "left_anti").repartition(
                    F.col("cell")
                ).sortWithinPartitions("cell", "vec_id").write.mode(
                    "append"
                ).partitionBy("cell").parquet(root)
            storage.delete(odir)
        return orphans

    # -------------------------------------------------- maintenance_plan
    def maintenance_plan(
        self,
        hot_num: int = 2,
        hot_den: int = 1,
        cold_div: int = 4,
        max_files: int = 1,
    ) -> list[tuple[str, int, int | None, int]]:
        """The deterministic policy that unifies the maintenance triad:
        inspect per-cell load + fragmentation and emit the
        (action, cell_a, cell_b, metric) list an operator would run on
        an aging index — split the hot cells, merge the cold pairs,
        compact the fragmented lists. Driver-side decision over k-row
        stats (one column-pruned count-per-cell job + a k-directory
        file listing) — never corpus-proportional.

        Rules are INTEGER-EXACT (cross-multiplied against the mean) so
        the q_emb_ivf_plan oracle reproduces them with no float
        thresholds:
        - hot   (split):  n · k · hot_den > hot_num · total
          (n > (hot_num/hot_den) × mean)
        - cold  (merge):  n · k · cold_div < total   (n < mean / cold_div),
          empty cells included (a centroid with no partition is the
          coldest possible cell); cold cells sort by (n ASC, cell ASC)
          and pair consecutively — 1st with 2nd, 3rd with 4th … an odd
          leftover waits for the next round. A merge pair reports
          (min_id, max_id, n_a + n_b); a metric-0 pair means BOTH cells
          are dead — apply_plan routes those to drop_empty_cells
          (merge_cells intentionally refuses an empty-empty merge).
        - fragmented (compact): > max_files parquet files in the cell
          directory (filesystem truth, so this arm is unit-tested
          rather than oracle-gated).
        Splits order by (n DESC, cell ASC). hot_num/hot_den ≥ 1 and
        cold_div ≥ 2 keep the two sets provably disjoint."""
        counts = {
            int(r["cent_id"]): 0
            for r in self.centroids().select("cent_id").collect()
        }
        for r in (
            self.cells()
            .groupBy("cell")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        ):
            counts[int(r["cell"])] = int(r["n"])
        total, k = sum(counts.values()), len(counts)
        plan: list[tuple[str, int, int | None, int]] = []
        hot = sorted(
            (
                c
                for c, n in counts.items()
                if n * k * hot_den > hot_num * total
            ),
            key=lambda c: (-counts[c], c),
        )
        plan.extend(("split", c, None, counts[c]) for c in hot)
        cold = sorted(
            (c for c, n in counts.items() if n * k * cold_div < total),
            key=lambda c: (counts[c], c),
        )
        for x, y in zip(cold[0::2], cold[1::2]):
            a, b = (x, y) if x < y else (y, x)
            plan.append(("merge", a, b, counts[x] + counts[y]))
        root = os.path.join(self.path, "cells")
        for c in sorted(counts):
            d = os.path.join(root, f"cell={c}")
            if storage.isdir(d):
                nf = sum(
                    1 for f in storage.listdir(d) if f.endswith(".parquet")
                )
                if nf > max_files:
                    plan.append(("compact", c, None, nf))
        return plan

    def apply_plan(
        self, plan: list[tuple[str, int, int | None, int]]
    ) -> "IVFIndexStore":
        """Execute a maintenance_plan: merges first (their pair ids
        were chosen against the current codebook; a metric-0 pair —
        both cells dead — goes to drop_empty_cells instead, since
        merging two empty lists is a codebook-only operation
        merge_cells refuses), then splits (hot ids are disjoint from
        cold ids by construction), then ONE compact pass targeting
        whatever is fragmented AFTER the moves (the plan's compact arm
        described the pre-move state; the rewrites above change it)."""
        dead: list[int] = []
        for action, a, b, metric in plan:
            if action == "merge":
                if metric == 0:
                    dead.extend([a, b])
                else:
                    self.merge_cells(a, b)
        if dead:
            self.drop_empty_cells(dead)
        for action, a, _, _ in plan:
            if action == "split":
                self.split_cell(a)
        if any(p[0] == "compact" for p in plan):
            self.compact_cells()
        return self

    # ---------------------------------------------------- drop_empty_cells
    def drop_empty_cells(self, cells: list[int]) -> "IVFIndexStore":
        """Remove VERIFIED-EMPTY cells from the codebook — the action
        for dead probe slots (a centroid whose list decayed to nothing
        still costs a probe rank and a directory stat on every search).
        Refuses a cell that has rows (that is merge_cells' job) or one
        absent from the codebook; refuses to drop every cell. A codebook
        swap only (no row data exists to move), through the same
        _swap_codebook as split/merge, so the next _recover finishes a
        swap a crash interrupted."""
        self._recover()
        self._recover_orphan_cells()
        cents = {
            c: (v, n) for c, v, n in self._cents_collect()  # memoized
        }
        targets = sorted({int(c) for c in cells})
        for c in targets:
            if c not in cents:
                raise ValueError(f"drop_empty_cells: cell {c} not in codebook")
        if len(targets) >= len(cents):
            raise ValueError("drop_empty_cells: refusing to drop every cell")
        nonempty = {
            int(r["cell"])
            for r in self.cells()
            .filter(F.col("cell").isin(targets))
            .select("cell")
            .distinct()
            .collect()
        }
        if nonempty:
            raise ValueError(
                f"drop_empty_cells: cells {sorted(nonempty)} have rows — "
                f"merge_cells them instead"
            )
        cents_rows = [
            (cid, v, n)
            for cid, (v, n) in sorted(cents.items())
            if cid not in targets
        ]
        self._swap_codebook(cents_rows)
        self.k = len(cents_rows)
        return self

    # ----------------------------------------------------- compact_cells
    def compact_cells(
        self, cells: list[int] | None = None, max_files: int = 1
    ) -> dict[int, tuple[int, int]]:
        """Rewrite fragmented inverted lists back to ``max_files``
        file(s) per cell — the other half of index maintenance next to
        split_cell: every incremental ``add()`` batch APPENDS files into
        the cell partitions it touches, so a stream-maintained index
        accumulates per-cell slivers, and the probe's file-open overhead
        is exactly what cost the pruned scan its win pre-r9 (one file
        per inverted list was the fix; add() erodes it back).

        Per-cell swap semantics: each targeted cell directory is fully
        rewritten to a stage OUTSIDE cells/ and swapped in by
        storage.replace_dir, so a reader never sees a half-compacted MIX
        of old and new files; the honest residual is the instant between
        the delete and the move, where the cell directory is briefly
        absent. A crash there leaves the complete, marked stage, which
        the next _recover (the first step of every mutating call and of
        load) rolls forward — never silent data loss. Every NON-targeted
        cell's files stay byte-untouched (mtime-asserted in tests).
        Contents are preserved verbatim (the rows only change file
        grouping); search results are therefore bit-identical, no probe
        map needed. Default: every cell above ``max_files`` fragments;
        pass ``cells`` to target known-hot lists (e.g. the ones
        q_stream_emb_index's pipeline appends to).

        Returns {cell: (files_before, files_after)} for the rewritten
        cells. When some cells fail, every other cell still finishes and
        CompactCellsError carries both the report of the cells that were
        swapped in and the failed cells, whose directories keep their
        old files (or, after a failure between the delete and the move,
        get the compacted ones from the next call's _recover). The
        driver loop is bounded by k (the codebook size), never by corpus
        rows — same budget class as search's probe collect. Cell
        rewrites run CONCURRENTLY from a small driver thread pool (guide
        §2.6 — the per-cell jobs are independent: disjoint directories,
        disjoint stages, and Spark's scheduler happily overlaps them, so
        wall time is the slowest cell, not the sum of k scheduling
        floors; measured 16 serial jobs ≈ 4.6 s → overlapped for the
        8-cell stream query). Each thread performs its own write → swap
        sequence on paths no other thread touches."""
        from concurrent.futures import ThreadPoolExecutor

        self._recover()
        root = os.path.join(self.path, "cells")
        if not storage.isdir(root):
            return {}

        def _files(d: str) -> list[str]:
            return [f for f in storage.listdir(d) if f.endswith(".parquet")]

        todo: list[tuple[int, str, int]] = []
        for entry in sorted(storage.listdir(root)):
            if not entry.startswith("cell="):
                continue
            cell = int(entry.split("=", 1)[1])
            if cells is not None and cell not in cells:
                continue
            cdir = os.path.join(root, entry)
            n_before = len(_files(cdir))
            if n_before <= max_files:
                continue
            todo.append((cell, entry, n_before))
        if not todo:
            return {}

        def _rewrite(job: tuple[int, str, int]) -> tuple[int, int, int]:
            cell, entry, n_before = job
            cdir = os.path.join(root, entry)
            stage = os.path.join(self.path, entry + _STAGE)
            # a per-cell read has no `cell` column (it IS the directory);
            # coalesce not repartition: no shuffle, just fewer writers;
            # the per-partition sort restores vec_id clustering that
            # interleaved add() batches eroded
            self.spark.read.parquet(cdir).coalesce(
                max_files
            ).sortWithinPartitions("vec_id").write.mode(
                "overwrite"
            ).parquet(stage)
            storage.replace_dir(stage, cdir)
            return cell, n_before, len(_files(cdir))

        with ThreadPoolExecutor(max_workers=min(8, len(todo))) as pool:
            futures = [pool.submit(_rewrite, job) for job in todo]
        # read every outcome before raising, so one failed cell does not
        # lose the report of the cells already swapped in
        report, failed = {}, {}
        for (cell, _, _), fut in zip(todo, futures):
            err = fut.exception()
            if err is None:
                _, nb, na = fut.result()
                report[cell] = (nb, na)
            elif isinstance(err, Exception):
                failed[cell] = err
            else:
                raise err  # an interrupt or exit, not a cell failure
        if failed:
            raise CompactCellsError(report, failed) from next(
                iter(failed.values())
            )
        return report

    # ------------------------------------------------------------- load
    @staticmethod
    def load(spark: SparkSession, path: str) -> "IVFIndexStore":
        """The store at ``path``, after _recover finishes any swap a
        crash interrupted (a codebook swap cut after its delete leaves
        centroids/ absent until then)."""
        store = IVFIndexStore(spark, path, 0)
        store._recover()
        # footer-metadata count (zero jobs — round 12)
        store.k = storage.parquet_rows(os.path.join(path, "centroids"))
        return store

    def centroids(self) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.path, "centroids"))

    def pq_book(self) -> DataFrame | None:
        """The persisted PQ codebook (sub, code, cpart), or None for a
        plain exact store. The frame handle is memoized — pq/ is
        immutable after build, and a fresh read per call paid a
        schema-discovery job each time (round 12)."""
        if self._pq_book_df is not None:
            return self._pq_book_df
        p = os.path.join(self.path, "pq")
        if not storage.isdir(p):
            return None
        self._pq_book_df = self.spark.read.parquet(p)
        return self._pq_book_df

    def _pq_shape(self, book: DataFrame) -> tuple[int, int]:
        """(m, subdim) from the persisted book (memoized stats agg)."""
        m, subdim, _, _ = self._pq_meta_get(book)
        return m, subdim

    # the canonical cells schema — pinned so a zero-row index (e.g. an
    # empty or fully-out-of-codebook build: only _SUCCESS on disk, which
    # Spark cannot infer a schema from) reads as an empty frame instead
    # of raising, keeping the store total on degenerate corpora
    _CELLS_SCHEMA = "vec_id bigint, emb array<double>, nrm double, cell bigint"

    def cells(self) -> DataFrame:
        from pyspark.errors import AnalysisException

        try:
            df = self.spark.read.parquet(os.path.join(self.path, "cells"))
        except AnalysisException:
            schema = self._CELLS_SCHEMA
            if storage.isdir(os.path.join(self.path, "pq")):
                # a PQ store's empty frame carries the codes column too,
                # so both branches return one schema
                schema = schema.replace(
                    ", cell bigint", ", codes array<int>, cell bigint"
                )
            return self.spark.createDataFrame([], schema)
        # partition discovery infers the cell directory column as INT;
        # the pinned empty-index schema says BIGINT — normalize so both
        # branches return an identical schema (cast is a no-op upcast on
        # the data, and the partition filter still prunes: pruning keys
        # off the discovered partition values, not the projected dtype)
        return df.withColumn("cell", F.col("cell").cast("bigint"))

    # ------------------------------------------------------------ search
    def _probe_frame(
        self,
        q: DataFrame,
        nprobe: int,
        centroids_df: DataFrame | None = None,
        carry: tuple[str, ...] = ("qemb", "qnrm"),
    ) -> DataFrame:
        """(query_id, *carry, cell): each query's ``nprobe`` nearest
        cells by (csim DESC, cell ASC). Computed MAP-SIDE: the k-row
        codebook folds to a single broadcast nested row (the _pq_encode
        ball pattern) and each query row ranks all k cells inside an
        array expression — no k-way join expansion, no per-query window,
        no shuffle (round 12; the window formulation cost an exchange +
        two AQE stage jobs per search call, pure job floor at serving
        time). Ordering is exactly the window's (csim DESC, cell ASC):
        array_sort on struct((-csim), cell) — csim is never -0.0 (the
        dot fold starts at +0.0 and the zero-denominator branch yields
        +0.0), so negation is order-exact, and embeddings are finite by
        ingest contract (no NaN ordering divergence). q must carry
        (query_id, qemb, qnrm)."""
        if centroids_df is None:
            # memoized codebook → the nested row is built DRIVER-SIDE:
            # zero jobs (the agg formulation shuffled k rows through a
            # 32-partition partial aggregate per search call). Sorted by
            # cent_id — exactly array_sort's order on the unique-id
            # structs below.
            nested = self._local_df(
                [(sorted(self._cents_collect()),)],
                "_cb array<struct<cent_id:bigint,cemb:array<double>,"
                "cnrm:double>>",
            )
        else:
            nested = centroids_df.select("cent_id", "cemb", "cnrm").groupBy().agg(
                F.array_sort(
                    F.collect_list(F.struct("cent_id", "cemb", "cnrm"))
                ).alias("_cb")
            )
        ranked = F.slice(
            F.array_sort(
                F.transform(
                    F.col("_cb"),
                    lambda c: F.struct(
                        (
                            -cosine_prenorm(
                                F.col("qemb"),
                                c["cemb"],
                                F.col("qnrm"),
                                c["cnrm"],
                            )
                        ).alias("_n"),
                        c["cent_id"].alias("cell"),
                    ),
                )
            ),
            1,
            nprobe,
        )
        return (
            q.crossJoin(F.broadcast(nested))
            .select("query_id", *carry, F.explode(ranked).alias("_p"))
            .select("query_id", *carry, F.col("_p.cell").alias("cell"))
        )

    def _collect_probes(
        self,
        probes: DataFrame,
        probe_map: dict[int, tuple[int, ...]] | None = None,
        carry_idx: int = 3,
    ) -> tuple[DataFrame, list[int]]:
        """(probes frame, sorted probed cell ids) with the driver-side
        bounded-collect fast path and the distributed fallback (VERDICT
        r11 #6: the ~|batch|x nprobe driver collect gets an ENFORCED row
        bound instead of a comment). Under the bound (default
        _PROBE_COLLECT_ROWS; conf spark.esvc.ann.probeCollectRows) the
        one limit-collect job yields the complete probe table and it
        re-ships as a local relation; above it, the pre-r11 shape
        (localCheckpoint + distinct-cells collect) keeps driver memory
        flat. ``probe_map`` expansion works on both paths (driver rows
        vs a tiny broadcast mapping join — identical row multiset)."""
        bound = int(
            self.spark.conf.get(
                "spark.esvc.ann.probeCollectRows", str(_PROBE_COLLECT_ROWS)
            )
        )
        probe_schema = probes.schema
        rows = probes.limit(bound + 1).collect()
        if len(rows) <= bound:
            if probe_map:
                # expand ranked cells through the split map: a tiny
                # driver literal (one entry per split since the reader's
                # codebook version), never corpus-proportional
                pm = {
                    int(c): tuple(int(s) for s in subs)
                    for c, subs in probe_map.items()
                }
                rows = [
                    tuple(r[: carry_idx]) + (c2,)
                    for r in rows
                    for c2 in pm.get(int(r["cell"]), (int(r["cell"]),))
                ]
            probe_cells = sorted(
                {
                    int(r[carry_idx] if isinstance(r, tuple) else r["cell"])
                    for r in rows
                }
            )
            return self._local_df(rows, probe_schema), probe_cells
        # large batch: distributed path — pin the ranked probes once,
        # expand through a broadcast mapping join, collect only the
        # distinct cell ids (bounded by k x map fanout)
        probes = probes.localCheckpoint()
        if probe_map:
            pm_rows = [
                (int(c), int(s))
                for c, subs in probe_map.items()
                for s in subs
            ]
            pm_df = self._local_df(pm_rows, "cell bigint, _sub bigint")
            cols = [c for c in probes.columns if c != "cell"]
            probes = (
                probes.join(F.broadcast(pm_df), "cell", "left")
                .select(
                    *cols,
                    F.coalesce(F.col("_sub"), F.col("cell")).alias("cell"),
                )
            )
        probe_cells = sorted(
            int(r["cell"])
            for r in probes.select("cell").distinct().collect()
        )
        return probes, probe_cells

    def search(
        self,
        queries: DataFrame,
        nprobe: int = 2,
        topk: int = 3,
        exclude_self: bool = True,
        cells_df: DataFrame | None = None,
        centroids_df: DataFrame | None = None,
        probe_map: dict[int, tuple[int, ...]] | None = None,
    ) -> DataFrame:
        """Top-``topk`` cosine neighbors per query (query_id, emb),
        probing each query's ``nprobe`` nearest cells. Returns
        (query_id, neighbor_id, cos_sim, rank). ``cells_df`` overrides
        the candidate source (same schema as cells()) — the seam
        scripts/ab_ann_store.py uses to time the identical query over a
        flat, unpartitioned layout.

        ``centroids_df`` + ``probe_map`` are the CODEBOOK-VERSIONING
        seam for split_cell maintenance: a long-lived reader holds a
        broadcast copy of the codebook it started with; when maintenance
        splits a hot cell it publishes {old_cell: (sub_cells...)} —
        the reader ranks probes against its cached codebook version
        (centroids_df) and expands each ranked cell through the map, so
        its candidate multiset — and therefore its top-k — is IDENTICAL
        to the pre-split search until it refreshes (sub-cells partition
        the old cell exactly; q_emb_ivf_split proves this under the
        oracle gate). Cells absent from the map probe as themselves."""
        q = (
            queries.select(
                F.col("query_id"),
                F.col("emb").alias("qemb"),
            )
            .withColumn("qnrm", norm(F.col("qemb")))
        )
        # map-side probe ranking (no window shuffle — _probe_frame), then
        # the bounded driver collect with distributed fallback
        # (_collect_probes; VERDICT r11 #6). Bounded driver-side step:
        # the ranked probe table is at most |batch| x nprobe rows — the
        # SAME row bound the probed-cell collect always relied on, and
        # frozen driver rows pin replay-unstable inputs (sample/limit
        # upstream) even harder than a checkpoint.
        probes, probe_cells = self._collect_probes(
            self._probe_frame(q, nprobe, centroids_df),
            probe_map=probe_map,
            carry_idx=3,
        )
        cand = (cells_df if cells_df is not None else self.cells()).filter(
            F.col("cell").isin(probe_cells)
        )
        scored = cand.join(F.broadcast(probes), "cell").select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine_prenorm(
                F.col("qemb"), F.col("emb"), F.col("qnrm"), F.col("nrm")
            ).alias("cos_sim"),
        )
        if exclude_self:
            scored = scored.filter(F.col("neighbor_id") != F.col("query_id"))
        return (
            topk_per_group(
                scored,
                ["query_id"],
                [F.col("cos_sim").desc(), F.col("neighbor_id")],
                topk,
            )
            .withColumn("rank", F.col("rank").cast("bigint"))
            .select("query_id", "neighbor_id", "cos_sim", "rank")
        )

    # -------------------------------------------------------- search_pq
    def search_pq(
        self,
        queries: DataFrame,
        nprobe: int = 2,
        topk: int = 3,
        rerank: int = 4,
        exclude_self: bool = True,
        cells_df: DataFrame | None = None,
    ) -> DataFrame:
        """IVFADC search (Jégou et al. 2011, the FAISS billion-scale
        shape) over the persisted PQ codes: probe nprobe cells exactly
        like search(), score every candidate by ASYMMETRIC distance —
        the sum over subspaces of a broadcast (query, sub, code) →
        distance table, reading ONLY the codes column (pq_m small ints
        per vector; the emb column is never decoded in this stage,
        which at 100 TB is the difference between scanning m bytes and
        dim×8 bytes per candidate) — then exactly re-rank the top
        topk×rerank by full-precision cosine, decoding emb for just
        those ≤ |Q|×topk×rerank rows. Returns the search() schema
        (query_id, neighbor_id, cos_sim, rank): cos_sim is EXACT (from
        the re-rank); only candidate SELECTION is approximate.

        Deterministic end-to-end: the ADC fold is pinned in sub order,
        ties break on vec_id, and the re-rank reuses search()'s
        (cos_sim DESC, neighbor_id) rule. ``cells_df`` is the same
        receipt seam as search()."""
        book = self.pq_book()
        if book is None:
            raise ValueError(
                "search_pq: this store has no PQ codebook — build with "
                "pq_codes/pq_book, or use search()"
            )
        # ONE memoized stats aggregate serves shape AND density (round
        # 12 — was a _pq_shape collect plus a separate dense-stats agg
        # per call on the immutable book)
        m, subdim, n_codes, dense = self._pq_meta_get(book)
        q = queries.select(
            F.col("query_id"), F.col("emb").alias("qemb")
        ).withColumn("qnrm", norm(F.col("qemb")))
        # map-side probe ranking + bounded collect with distributed
        # fallback — same shape as search() (round 12; VERDICT r11 #6)
        probes, probe_cells = self._collect_probes(
            self._probe_frame(q, nprobe, carry=()), carry_idx=1
        )
        src = cells_df if cells_df is not None else self.cells()
        cand = src.filter(F.col("cell").isin(probe_cells)).select(
            "vec_id", "codes", "cell"
        )
        if exclude_self:
            joined = cand.join(F.broadcast(probes), "cell").filter(
                F.col("vec_id") != F.col("query_id")
            )
        else:
            joined = cand.join(F.broadcast(probes), "cell")
        # ADC: fold the candidate's codes against a broadcast NESTED
        # distance table — per query an array (sub order) of code→qd
        # maps, |Q|×m×n_codes entries total — as a narrow per-row
        # expression. No explode, no shuffle: the earlier shape
        # (posexplode → join → groupBy re-fold) pushed candidates×m
        # rows through a hash aggregate, which at receipt scale (640k
        # candidates × 8 subs) cost more than the decode it saved. The
        # fold runs in PINNED sub order (sequence 0..m-1), the same
        # IEEE order as the oracle's sub-ordered sum.
        # DENSE books (every (sub, 0..n_codes-1) entry present — both
        # built-in book shapes) index an ARRAY: position sub·n_codes +
        # code, O(1) per lookup. A MAP here is a trap: Spark's
        # element_at on MapData is a LINEAR key scan, and m lookups ×
        # m·n_codes entries per candidate row measured 68 s for one
        # receipt search at m=64 (0.06× vs exact!) — the array form is
        # the same fold at O(1). Sparse explicit pq_books keep the map
        # path (correct, slower; bounded by their own size).
        if dense:
            # Round 12: for dense books the per-query distance table is
            # computed MAP-SIDE against the broadcast codebook ball
            # (memoized driver rows — the same nested shape _pq_encode
            # folds): dt[sub·n_codes + code] = ||u_sub − cpart||², the
            # identical _sqdist fold over the identical slices, laid out
            # sub-major exactly as the dense lookup below indexes it.
            # The former shape exploded queries to |Q|·m subvector rows,
            # broadcast-joined the book, and re-folded |Q|·m·n_codes
            # rows through a groupBy — a shuffle that at 1e5 queries ×
            # 256 codes moves 2e8 rows for values a per-row expression
            # produces in place.
            ball = self._pq_ball_nested(book, m, subdim, n_codes)
            dt = (
                q.crossJoin(F.broadcast(ball))
                .withColumn("_u", _unit(F.col("qemb"), F.col("qnrm")))
                .select(
                    "query_id",
                    F.flatten(
                        F.transform(
                            F.sequence(F.lit(0), F.lit(m - 1)),
                            lambda j: F.transform(
                                F.element_at(F.col("_ball"), j + 1),
                                lambda cp: _sqdist(
                                    F.slice(
                                        F.col("_u"),
                                        j * F.lit(subdim) + 1,
                                        subdim,
                                    ),
                                    cp,
                                ),
                            ),
                        )
                    ).alias("dt"),
                )
            )
        else:
            # sparse explicit books keep the join + re-fold path (bounded
            # by their own size; the map lookup below matches)
            qparts = _pq_parts_of(
                q.select(
                    "query_id",
                    _unit(F.col("qemb"), F.col("qnrm")).alias("_u"),
                ),
                F.col("_u"),
                m,
                subdim,
                ["query_id"],
            )
            dtab = qparts.join(F.broadcast(book), "sub").select(
                "query_id",
                "sub",
                "code",
                _sqdist(F.col("part"), F.col("cpart")).alias("qd"),
            )
            key = F.col("sub") * F.lit(65536) + F.col("code")
            entries = F.array_sort(
                F.collect_list(F.struct(key.alias("k"), F.col("qd")))
            )
            dt = dtab.groupBy("query_id").agg(
                F.map_from_entries(entries).alias("dt")
            )

        def _lookup(j):
            if dense:
                return F.element_at(
                    F.col("dt"),
                    j * F.lit(n_codes)
                    + F.element_at(F.col("codes"), j + 1)
                    + F.lit(1),
                )
            return F.element_at(
                F.col("dt"),
                j * F.lit(65536) + F.element_at(F.col("codes"), j + 1),
            )

        approx = joined.join(F.broadcast(dt), "query_id").select(
            "query_id",
            "vec_id",
            F.aggregate(
                F.transform(F.sequence(F.lit(0), F.lit(m - 1)), _lookup),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("adist"),
        )
        # dropDuplicates: a vec_id present in TWO probed cells (the
        # duplicate-id ingest case) now scores once per copy — keep one
        # pool row so the re-rank join can't cartesian it; the pool is
        # bounded (≤ |Q|×topk×rerank rows), so this is a tiny shuffle
        pool = (
            topk_per_group(
                approx,
                ["query_id"],
                [F.asc("adist"), F.asc("vec_id")],
                topk * rerank,
            )
            .select("query_id", "vec_id")
            .dropDuplicates(["query_id", "vec_id"])
        )
        # exact re-rank: decode emb for ONLY the pooled candidates.
        # The pool is driver-bounded (≤ |Q|·topk·rerank ids), so it is
        # pushed into the scan as a literal In filter on vec_id — the
        # cells are vec_id-CLUSTERED within each file (every write path
        # sortWithinPartitions), so parquet's page column index skips
        # the pages holding none of the pooled ids instead of decoding
        # the probed cells' full emb column a second time (that second
        # full-column scan measurably negated the ADC byte win
        # end-to-end at the 1M × 512-dim receipt). Exact-In pushdown
        # beyond ~10 values needs spark.sql.parquet.pushdown.
        # inFilterThreshold raised; with the default the filter still
        # evaluates post-scan, which is only the old cost, never wrong.
        # one bounded limit-collect pins the pool AND yields the re-rank
        # id list (round 12 — was a localCheckpoint job plus a distinct
        # collect job); above the probe-collect bound fall back to the
        # checkpoint without the In pushdown (correct, the pre-r9 scan
        # cost, never wrong)
        _bound = int(
            self.spark.conf.get(
                "spark.esvc.ann.probeCollectRows", str(_PROBE_COLLECT_ROWS)
            )
        )
        _pool_schema = pool.schema
        _pool_rows = pool.limit(_bound + 1).collect()
        if len(_pool_rows) <= _bound:
            pool_ids: list[int] | None = sorted(
                {int(r["vec_id"]) for r in _pool_rows}
            )
            pool = self._local_df(_pool_rows, _pool_schema)
        else:
            pool = pool.localCheckpoint()
            pool_ids = None  # too big for a literal In filter
        full = (
            src.filter(F.col("cell").isin(probe_cells))
            .filter(
                F.lit(True)
                if pool_ids is None
                else (
                    F.col("vec_id").isin(pool_ids)
                    if pool_ids
                    else F.lit(False)
                )
            )
            .select("vec_id", "emb", "nrm")
            .join(F.broadcast(pool), "vec_id")
            .join(F.broadcast(q), "query_id")
            .select(
                "query_id",
                F.col("vec_id").alias("neighbor_id"),
                cosine_prenorm(
                    F.col("qemb"), F.col("emb"), F.col("qnrm"), F.col("nrm")
                ).alias("cos_sim"),
            )
        )
        return (
            topk_per_group(
                full,
                ["query_id"],
                [F.col("cos_sim").desc(), F.col("neighbor_id")],
                topk,
            )
            .withColumn("rank", F.col("rank").cast("bigint"))
            .select("query_id", "neighbor_id", "cos_sim", "rank")
        )
