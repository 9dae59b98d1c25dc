"""Capture ``.explain('formatted')`` plans of optimization targets.

    python tools/capture_plans.py TAG [query ...]

Writes ``<out>/<query>_<TAG>.txt`` for each target, where ``<out>`` is
``$SPARK_GRAFT_PLANS_OUT`` (default plans/; the per-round layout is
``SPARK_GRAFT_PLANS_OUT=plans/r11``) and the fixture dir is
``$SPARK_GRAFT_SF_DIR`` (required).  TAG names the capture, e.g.
``before`` and ``after``; run the tool from each checkout to compare.

* cdc_incremental_merge_4x — the fn materializes eagerly; captures the
  lazy merge-cascade core (transition-tuple staging + merge_state_delta).
* dedup_ngram_jaccard — the router executes eagerly and returns a scan
  of its staged pairs, so the interesting plan is the certified
  candidate+aggregate; captured as dedup_ngram_jaccard_candidates.
* jvm_stream_compaction (pseudo-target) — the JVM streaming
  compactor's periodic compaction fold (bucketed base ∘ composed runs).
* anything else — the catalog fn's own plan.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "")
OUT = os.environ.get("SPARK_GRAFT_PLANS_OUT", os.path.join(REPO, "plans"))

DEFAULT = [
    "cdc_incremental_merge_4x",
    "dedup_ngram_jaccard",
    "cdc_state_diff_feed_sharded",
    "jvm_stream_compaction",
]


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _merge4x_core(spark, staged_dir: str):
    from pyspark.sql import functions as F

    from mysql_cdc_redis_spark.operators.compaction import (
        batch_transitions,
        delta_to_state,
        merge_state_delta,
    )
    from mysql_cdc_redis_spark.plans.cdc import _merge4x_cuts
    from mysql_cdc_redis_spark.sources.changelog import (
        LINEITEM_PAYLOAD,
        LINEITEM_PK,
        lineitem_changelog,
    )

    n_batches = 4
    ch = lineitem_changelog(spark, SF_DIR)
    fracs = F.array(*[F.lit(i / n_batches) for i in range(1, n_batches)])
    cuts = _merge4x_cuts(spark, SF_DIR, fracs)
    ch2 = ch.crossJoin(cuts).withColumn(
        "_b",
        F.aggregate(
            F.transform(F.col("_cuts"), lambda c: (F.col("seq") > c).cast("int")),
            F.lit(0),
            lambda acc, x: acc + x,
        ),
    )
    batch_transitions(
        ch2.drop("_cuts"), LINEITEM_PK, LINEITEM_PAYLOAD, extra_group_cols=("_b",),
    ).write.mode("overwrite").partitionBy("_b").parquet(staged_dir)
    staged = spark.read.parquet(staged_dir)
    state = delta_to_state(
        staged.filter(F.col("_b") == 0).drop("_b"), LINEITEM_PAYLOAD
    )
    for i in range(1, n_batches):
        state = merge_state_delta(
            state, staged.filter(F.col("_b") == i).drop("_b"), LINEITEM_PAYLOAD
        )
    return state, "# pre-folded transition-tuple staging + merge_state_delta cascade\n"


def _ngram_candidates(spark):
    from mysql_cdc_redis_spark.operators.dedup import (
        _certified_pairs_by_h,
        shingle_hashes,
    )
    from mysql_cdc_redis_spark.sources import load_table

    sh = shingle_hashes(load_table(spark, SF_DIR, "documents"), 3)
    return _certified_pairs_by_h(sh), (
        "# the routed naive join's candidate+aggregate core (the fn "
        "executes eagerly\n# and returns a scan of its staged pairs; "
        "this is the compute that costs)\n"
    )


def _jvm_compaction(spark, slots):
    from pyspark.sql import functions as F

    from mysql_cdc_redis_spark.sources.changelog import (
        ORDERS_PAYLOAD,
        ORDERS_PK,
        orders_changelog,
    )
    from mysql_cdc_redis_spark.streaming.compact_jvm import (
        _delta_to_state,
        fold_transition_state,
        keyed_transitions,
    )

    delta = keyed_transitions(orders_changelog(spark, SF_DIR), ORDERS_PK, ORDERS_PAYLOAD)
    slots.write_base(_delta_to_state(delta, ORDERS_PAYLOAD), 0, 16)
    df = fold_transition_state(
        slots.read_base(0), delta.withColumn("_run", F.lit(1)),
        ORDERS_PAYLOAD, base_buckets=16,
    )
    return df, (
        "# the LSM's PERIODIC COMPACTION fold (bucketed base JOIN composed\n"
        "# transition runs) — the only per-|state| work; a plain batch\n"
        "# commit is just the delta fold + one run write.\n"
    )


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("tag", help="capture name, e.g. before / after")
    ap.add_argument("queries", nargs="*", help=f"targets (default: {DEFAULT})")
    args = ap.parse_args()
    if not SF_DIR:
        ap.error("set SPARK_GRAFT_SF_DIR to the fixture dir")
    os.makedirs(OUT, exist_ok=True)

    from mysql_cdc_redis_spark.plans import all_queries
    from mysql_cdc_redis_spark.session import get_spark
    from mysql_cdc_redis_spark.streaming.compact_jvm import _StateRuns

    spark = get_spark(app_name="capture_plans")
    catalog = all_queries()
    work = tempfile.mkdtemp(prefix="capture_plans_")
    slots = _StateRuns(spark, os.path.join(work, "jvm_state"))
    try:
        for name in args.queries or DEFAULT:
            out_name = name
            if name == "cdc_incremental_merge_4x":
                df, note = _merge4x_core(spark, os.path.join(work, "merge4x"))
            elif name == "dedup_ngram_jaccard":
                df, note = _ngram_candidates(spark)
                out_name = "dedup_ngram_jaccard_candidates"
            elif name == "jvm_stream_compaction":
                df, note = _jvm_compaction(spark, slots)
            elif name in catalog:
                df, note = catalog[name].fn(spark, SF_DIR), ""
            else:
                ap.error(f"{name}: not a catalog query or pseudo-target")
            path = os.path.join(OUT, f"{out_name}_{args.tag}.txt")
            with open(path, "w") as f:
                f.write(note + _formatted(df))
            print(f"wrote {path}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
