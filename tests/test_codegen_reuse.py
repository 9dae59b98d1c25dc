"""Codegen reuse: the plans the engine repeats compile once per session.

Spark keeps generated classes in an LRU cache of
``spark.sql.codegen.cache.maxEntries`` entries.  At Spark's default of
100, one pass of the six LLM queries (~155 classes) evicts what its own
repeat needs, and every repeat recompiles every class.  A per-batch
literal in a stream plan (``F.lit(batch_id)``) gives every micro-batch
a new class no cache size can hold.  Both are pinned here through
Spark's ``CodegenMetrics`` compile count (``session.codegen_compiles``).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from mysql_cdc_redis_spark.operators.compaction import compact
from mysql_cdc_redis_spark.plans import all_queries
from mysql_cdc_redis_spark.session import codegen_compiles
from mysql_cdc_redis_spark.streaming import drop_state_jvm, run_compaction_stream_jvm

from .test_streaming_parity_jvm import _append_chunk, _rows, _tmp

# the LLM operators a dedup pass runs, as in the benchmark's llm_dedup
_LLM_PASS = (
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_paragraph_segments",
    "sim_cosine_topk_bruteforce",
    "text_quality_profile",
    "text_gopher_filters",
)


def test_repeated_llm_pass_compiles_nothing(spark, sf_dir):
    """The whole six-query pass is a working set above Spark's default
    cache size; its repeat must run entirely on cached classes."""
    catalog = all_queries()

    def one_pass():
        for name in _LLM_PASS:
            catalog[name].fn(spark, sf_dir).toArrow()

    one_pass()
    before = codegen_compiles(spark)
    one_pass()
    assert codegen_compiles(spark) - before == 0


_SCHEMA = "tbl string, pk string, seq long, cdc_action string, val string"
_PK, _PAYLOAD = ("pk",), ("pk", "val")


def _increment(spark, n: int):
    """Increment file ``n``: 120 events over 40 keys, seqs after every
    earlier file's — the same shape and size for every ``n``."""
    return spark.range(120).select(
        F.lit("t").alias("tbl"),
        (F.col("id") % 40).cast("string").alias("pk"),
        (F.col("id") + n * 1000).alias("seq"),
        F.element_at(
            F.array(*map(F.lit, ("insert", "update", "delete"))),
            (F.col("id") % 3 + 1).cast("int"),
        ).alias("cdc_action"),
        F.concat(F.lit("v"), (F.col("id") + n * 1000).cast("string")).alias("val"),
    )


def test_resumed_stream_compiles_nothing(spark):
    """A stream resumed over more increments of the same shape runs
    every micro-batch, and its final fold, on the classes the first run
    compiled: no batch id reaches a generated class."""
    src, ckpt, state_dir = _tmp("cg_src"), _tmp("cg_ckpt"), _tmp("cg_state")
    schema = spark.createDataFrame([], _SCHEMA).schema

    def run():
        out = run_compaction_stream_jvm(
            spark, src, schema, _PK, _PAYLOAD, ckpt, state_dir,
            max_files_per_trigger=1, max_runs=10,
        )
        return _rows(out, ["tbl", "rid", "cdc_action", *_PAYLOAD])

    try:
        for n in range(3):
            _append_chunk(_increment(spark, n), src, f"inc-{n:04d}")
        run()
        for n in range(3, 6):
            _append_chunk(_increment(spark, n), src, f"inc-{n:04d}")
        before = codegen_compiles(spark)
        got = run()
        assert codegen_compiles(spark) - before == 0
        everything = _increment(spark, 0)
        for n in range(1, 6):
            everything = everything.unionByName(_increment(spark, n))
        assert got == _rows(
            compact(everything, _PK, _PAYLOAD),
            ["tbl", "rid", "cdc_action", *_PAYLOAD],
        )
    finally:
        drop_state_jvm(spark, state_dir)
