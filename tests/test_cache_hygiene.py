"""Session hygiene contracts.

1. Queries that persist() intermediates must register them so
   esvc_spark.release_cached() leaves NO net CacheManager entries after the
   result is materialized — a long-lived host session must not accumulate
   cached plans from the query library (VERDICT r3 #5).
2. The one intentional O(N²) exact baseline must fail fast above its
   corpus-size gate instead of launching an N² nested-loop join
   (VERDICT r3 #4).
3. The session keeps more generated classes compiled than Spark's
   default codegen cache (100), so a workload cycling through a larger
   set of plans compiles each class once, not once per cycle.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import esvc_spark
from esvc_spark.queries import all_queries


def _cache_empty(spark) -> bool:
    return bool(
        spark._jsparkSession.sharedState().cacheManager().isEmpty()
    )


# Representative persisting queries, one per family: hashed event sets
# (events), LSH signatures/bands (embeddings), shingle/minhash tables
# (documents). The full surface is covered by the same tracked_persist
# mechanism, so one witness per family pins the contract.
_PERSISTING = [
    "q_ev_hll_union",
    "q_emb_ann_lsh",
    "q_doc_minhash_lsh",
]


@pytest.mark.parametrize("name", _PERSISTING)
def test_release_cached_leaves_no_entries(spark, sf_dir, name):
    spark.catalog.clearCache()
    esvc_spark.release_cached()  # drop residue from earlier tests
    assert _cache_empty(spark)
    q = all_queries()[name]
    q(spark, sf_dir).count()
    released = esvc_spark.release_cached()
    assert released > 0, f"{name} should register its persisted intermediates"
    assert _cache_empty(spark), (
        f"{name} left CacheManager entries after release_cached()"
    )


def test_neardup_cosine_gate_fails_fast(spark, sf_dir, monkeypatch):
    from esvc_spark.queries import embeddings as emb

    monkeypatch.setattr(emb, "_NEARDUP_MAX_VECS", 10)
    with pytest.raises(ValueError, match="O\\(N²\\) baseline gated"):
        emb.q_emb_neardup_cosine(spark, sf_dir)
    # and under the gate it still builds the plan
    monkeypatch.setattr(emb, "_NEARDUP_MAX_VECS", 100_000)
    assert emb.q_emb_neardup_cosine(spark, sf_dir).columns == [
        "vec_a",
        "vec_b",
        "cos_sim",
    ]


def test_codegen_cache_holds_more_than_default(spark):
    """150 distinct generated classes, cycled twice: the second pass
    finds every class in the codegen cache and compiles none."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = metrics.METRIC_COMPILATION_TIME()

    def cycle():
        for i in range(150):
            spark.range(1).select(F.col("id") * F.lit(i)).collect()

    cycle()
    before = compiles.getCount()
    cycle()
    assert compiles.getCount() - before == 0
