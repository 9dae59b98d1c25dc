"""Cache hygiene for the dedup family (round-4 verdict item 4): every
dedup operator follows the two-discipline lifecycle of
operators/staging.py — RETURNED/long-lived relations are parquet-staged,
TRANSIENT ones are scope-persisted around an eager materialization — so
running any dedup operator, including collecting its result, must leave
NO persisted RDDs behind.  A long-lived production driver invokes these
operators repeatedly; cached relations that are never unpersisted
accumulate until memory pressure.

`connected_components` follows the same staging discipline: its
iterative min-label loop stages each round to parquet (it used
``localCheckpoint`` before round 5; checkpoint blocks live outside the
CacheManager and were measured to never be released) — the second test
below pins both that rationale and the result.
"""

from __future__ import annotations

import gc

from pyspark.sql import functions as F  # noqa: F401


def _persistent_rdd_count(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_dedup_operators_leave_no_persisted_rdds(spark):
    from mysql_cdc_redis_spark.operators import dedup as dd

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta iota"),
            (2, "alpha beta gamma delta epsilon zeta eta theta kappa"),
            (3, "alpha beta gamma delta epsilon zeta eta theta iota"),
            (4, "one two three four five six seven eight nine ten"),
            (5, "one two three four five six seven eight nine eleven"),
            (6, "totally different words with no overlap whatsoever here now"),
        ],
        "doc_id long, text string",
    )
    new_docs = docs.filter(F.col("doc_id") % 2 == 0)

    before = _persistent_rdd_count(spark)

    # run every pair-producing operator through a real action
    dd.ngram_jaccard_pairs(docs, n=3, threshold=0.3).collect()
    dd.ngram_jaccard_pairs(docs, n=3, threshold=0.3, max_join_rows=10).collect()
    dd.ngram_jaccard_pairs_naive(docs, n=3, threshold=0.3).collect()
    dd.ngram_jaccard_pairs_prefix(docs, n=3, threshold=0.3).collect()
    dd.ngram_jaccard_pairs_prefix(docs, n=3, threshold=0.3, n_slices=2).collect()
    dd.ngram_jaccard_new_vs_corpus(docs, new_docs, n=3, threshold=0.3).collect()
    dd.minhash_lsh_pairs(docs, n=3, threshold=0.2).collect()
    dd.minhash_lsh_dedup_edges(docs, n=3, threshold=0.2).collect()
    dd.minhash_lsh_new_vs_corpus(docs, new_docs, n=3, threshold=0.2).collect()
    dd.containment_pairs(docs, n=3, threshold=0.5).collect()
    dd.exact_dedup_groups(docs).collect()
    dd.simhash16(docs).collect()

    after = _persistent_rdd_count(spark)
    assert after == before, (
        f"dedup operators leaked persisted RDDs: {before} -> {after} "
        "(every intermediate must be parquet-staged, not persisted)"
    )


def test_connected_components_leaves_no_persisted_rdds(spark):
    """The iterative min-label loop stages each round to parquet instead
    of localCheckpoint: checkpoint blocks live outside the CacheManager
    and are NEVER released when the caller drops the result (measured —
    the ContextCleaner doesn't collect them even after explicit GC on
    both sides), so a long-lived driver would pin one snapshot per call.
    Staging must leave the persisted-RDD set untouched, and the result
    must still be correct."""
    from mysql_cdc_redis_spark.operators import dedup as dd

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(8)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (4, 5)], "a long, b long"
    )
    before = _persistent_rdd_count(spark)
    comp = {
        (r["doc_id"], r["component"])
        for r in dd.connected_components(docs, pairs).collect()
    }
    assert comp == {
        (0, 0), (1, 0), (2, 0), (3, 3), (4, 4), (5, 4), (6, 6), (7, 7)
    }
    assert _persistent_rdd_count(spark) == before, (
        "connected_components must not grow the persisted-RDD set"
    )


def test_certified_pairs_fan_out_reads_shuffle_width_defensively(spark):
    """The naive route's fan-out compares the session's shuffle width
    with 4× the core count.  A non-integer width (``auto`` on some
    platforms) must skip the fan-out, not fail the dedup query; an
    integer width below the fan keeps it, one above skips it."""
    from types import SimpleNamespace

    from mysql_cdc_redis_spark.operators import dedup as dd

    class Rel:
        """Stands in for the shingle relation; records repartitions."""

        def __init__(self, width):
            self.sparkSession = SimpleNamespace(
                conf=SimpleNamespace(get=lambda key, default=None: width),
                sparkContext=SimpleNamespace(defaultParallelism=4),
            )
            self.fans = []

        def repartition(self, n):
            self.fans.append(n)
            return self

        def _chain(self, *args, **kwargs):
            return self

        groupBy = agg = select = where = _chain

    for width, fans in (("auto", []), ("8", [16]), ("64", [])):
        rel = Rel(width)
        dd._certified_pairs_by_h(rel)
        assert rel.fans == fans, width
