"""Capture .explain('formatted') for the round-10 optimization targets.

    python tools/capture_plans_r10.py before|after [query ...]

Writes plans/r10/<query>_<tag>.txt.  Feature-detects the repo version
so the SAME tool runs in a worktree of the round-start commit for the
``before`` dumps:

* cdc_incremental_merge_4x — fn materializes eagerly; captures the
  lazy merge-cascade core (r9 form: raw-event staging + merge_state;
  r10 form: transition-tuple staging + merge_state_delta).
* dedup_ngram_jaccard — the router executes eagerly and returns a scan
  of its staged pairs, so the interesting plan is the certified
  candidate+aggregate; captured as dedup_ngram_jaccard_candidates.
* jvm_stream_compaction (pseudo-target) — the JVM streaming
  compactor's state-maintenance plan: r9 form = per-batch full-state
  merge into a slot; r10 form = the periodic compaction fold
  (bucketed base ∘ composed runs).
* anything else — the catalog fn's own plan.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT = os.environ.get(
    "SPARK_GRAFT_PLANS_OUT", os.path.join(REPO, "plans", "r10")
)

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


def _merge4x_core(spark):
    from pyspark.sql import functions as F

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
    staged_dir = tempfile.mkdtemp(prefix="plan_capture_stage_")
    try:
        # r10 form: transition-tuple staging + delta cascade
        from mysql_cdc_redis_spark.operators.compaction import (
            batch_transitions,
            delta_to_state,
            merge_state_delta,
        )

        batch_transitions(
            ch2.drop("_cuts"), LINEITEM_PK, LINEITEM_PAYLOAD,
            extra_group_cols=("_b",),
        ).write.mode("overwrite").partitionBy("_b").parquet(staged_dir)
        staged = spark.read.parquet(staged_dir)
        state = delta_to_state(
            staged.filter(F.col("_b") == 0).drop("_b"), LINEITEM_PAYLOAD
        )
        for i in range(1, n_batches):
            state = merge_state_delta(
                state, staged.filter(F.col("_b") == i).drop("_b"), LINEITEM_PAYLOAD
            )
        note = "# r10 form: pre-folded transition-tuple staging + merge_state_delta cascade\n"
    except ImportError:
        from mysql_cdc_redis_spark.operators.compaction import compact, merge_state

        ch2.drop("_cuts").write.mode("overwrite").partitionBy("_b").parquet(staged_dir)
        staged = spark.read.parquet(staged_dir)
        state = compact(
            staged.filter(F.col("_b") == 0).drop("_b"), LINEITEM_PK, LINEITEM_PAYLOAD
        )
        for i in range(1, n_batches):
            state = merge_state(
                state, staged.filter(F.col("_b") == i).drop("_b"),
                LINEITEM_PK, LINEITEM_PAYLOAD,
            )
        note = "# r9 form: raw-event staging + merge_state cascade\n"
    return state, staged_dir, note


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


def _jvm_compaction(spark):
    from mysql_cdc_redis_spark.sources.changelog import (
        ORDERS_PAYLOAD,
        ORDERS_PK,
        orders_changelog,
    )

    ch = orders_changelog(spark, SF_DIR)
    state_dir = tempfile.mkdtemp(prefix="plan_capture_jvm_")
    try:
        # r10 form: LSM periodic compaction (bucketed base ∘ composed runs)
        from pyspark.sql import functions as F

        from mysql_cdc_redis_spark.streaming.compact_jvm import (
            _delta_to_state,
            _StateRuns,
            fold_transition_state,
            keyed_transitions,
        )

        slots = _StateRuns(spark, state_dir)
        delta = keyed_transitions(ch, ORDERS_PK, ORDERS_PAYLOAD)
        slots.write_base(_delta_to_state(delta, ORDERS_PAYLOAD), 0, 16)
        df = fold_transition_state(
            slots.read_base(0), delta.withColumn("_run", F.lit(1)),
            ORDERS_PAYLOAD, base_buckets=16,
        )
        note = (
            "# r10 form: the LSM's PERIODIC COMPACTION fold (bucketed base\n"
            "# JOIN composed transition runs) — the only per-|state| work;\n"
            "# a plain batch commit is just the delta fold + one run write.\n"
        )
        return df, state_dir, note, slots
    except ImportError:
        from mysql_cdc_redis_spark.streaming.compact_jvm import (
            _delta_to_state,
            _StateSlots,
            compact_batch_transitions,
            merge_state_jvm,
        )

        slots = _StateSlots(spark, state_dir)
        delta = compact_batch_transitions(ch, ORDERS_PK, ORDERS_PAYLOAD)
        slots.write(_delta_to_state(delta, ORDERS_PAYLOAD), 0, 16)
        df = merge_state_jvm(slots.read(0), delta, ORDERS_PAYLOAD)
        note = (
            "# r9 form: EVERY micro-batch ran this full-state merge and\n"
            "# rewrote the whole state table into the other slot.\n"
        )
        return df, state_dir, note, slots


def main() -> None:
    tag = sys.argv[1]
    names = sys.argv[2:] or DEFAULT
    os.makedirs(OUT, exist_ok=True)

    from mysql_cdc_redis_spark.plans import all_queries
    from mysql_cdc_redis_spark.session import get_spark

    spark = get_spark(app_name="capture_plans_r10")
    catalog = all_queries()
    cleanup = []
    for name in names:
        out_name = name
        if name == "cdc_incremental_merge_4x":
            df, staged, note = _merge4x_core(spark)
            cleanup.append(staged)
        elif name == "dedup_ngram_jaccard":
            df, note = _ngram_candidates(spark)
            out_name = "dedup_ngram_jaccard_candidates"
        elif name == "jvm_stream_compaction":
            df, staged, note, slots = _jvm_compaction(spark)
            cleanup.append(staged)
        elif name not in catalog:
            print(f"skip {name}: not in this tree's catalog")
            continue
        else:
            df = catalog[name].fn(spark, SF_DIR)
            note = ""
        path = os.path.join(OUT, f"{out_name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(note + _formatted(df))
        print(f"wrote {path}")
        if name == "jvm_stream_compaction":
            slots.drop_all()
    for d in cleanup:
        shutil.rmtree(d, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
