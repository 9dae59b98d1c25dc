"""Per-batch cost replay of the LSM stream state store (the JVM store
``_StateRuns``, streaming/compact_jvm.py, on the run store's batch
steps, streaming/runstore.py): how much of each
micro-batch is its O(|batch|) run commit and how much the periodic
O(|state|) compaction — the delta/snapshot split of Structured
Streaming's state store.

Input is perfbench's seeded CDC generator at the cdc_pipeline
workload's shape: the snapshot changelog of a ``CDC_KEYS``-row lineitem
base table is batch 0, then each of ``--increments`` increments of
``CDC_EVENTS_PER_INCREMENT`` events is one batch.  Every batch goes
through the stream driver's own per-batch steps — ``keyed_transitions``
and ``batch_runs``, ``state_before`` the ``head``, ``write_batch``,
``commit_batch`` — with no streaming query around it, so the walls are
the state store's alone.

    python tools/replay_stream_cost.py [--increments 40] [--max-runs 8] [--seed 7]

Prints one JSON line per batch — ``append_s`` (run write plus any
compaction), ``write_run_s`` (the run store's ``write_run``),
``compacted`` and ``run_bytes`` — then a summary line, which includes
``state_bytes`` (base slots plus live runs on disk, through the state FS
handle), ``base_buckets`` (the final base's bucket count) and
``run_buckets`` (the largest bucket modulus among the live runs).
Exits with an error unless the final state's value checksum
(benchutil.checksum_row) equals compact()'s over the same events.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _stage(spark, work: str, n_inc: int, seed: int) -> list[str]:
    """Snapshot file, then one file per increment, in batch order."""
    from pyspark.sql import functions as F

    from mysql_cdc_redis_spark.sources.changelog import lineitem_changelog
    from perfbench import gen
    from perfbench.workloads import CDC_EVENTS_PER_INCREMENT, CDC_KEYS

    gen.base_table(spark, CDC_KEYS, seed).write.parquet(f"{work}/sf/lineitem.parquet")
    lineitem_changelog(spark, f"{work}/sf").coalesce(1).write.parquet(f"{work}/snap")
    snap = spark.read.parquet(f"{work}/snap")
    first_seq = snap.agg(F.max("seq")).first()[0] + 1
    gen.increments(
        spark, snap.schema, CDC_KEYS, first_seq, n_inc, CDC_EVENTS_PER_INCREMENT, seed
    ).write.parquet(f"{work}/inc")
    files = gen.part_files(f"{work}/snap") + gen.part_files(f"{work}/inc")
    if len(files) != 1 + n_inc:
        raise RuntimeError(f"expected {n_inc} increment files, got {len(files) - 1}")
    return files


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--increments", type=int, default=40)
    ap.add_argument(
        "--max-runs", type=int, default=8,
        help="run count that triggers a periodic compaction (default: the stream's 8)",
    )
    ap.add_argument("--seed", type=int, default=7)
    args = ap.parse_args()

    from mysql_cdc_redis_spark.benchutil import checksum_row
    from mysql_cdc_redis_spark.operators.compaction import compact
    from mysql_cdc_redis_spark.session import get_spark
    from mysql_cdc_redis_spark.sources.changelog import LINEITEM_PAYLOAD, LINEITEM_PK
    from mysql_cdc_redis_spark.streaming import runstore
    from mysql_cdc_redis_spark.streaming.compact_jvm import (
        _StateRuns,
        _transition_fold,
        keyed_transitions,
    )
    from mysql_cdc_redis_spark.streaming.runstore import (
        commit_batch,
        run_dir,
        state_before,
        write_batch,
    )

    work = tempfile.mkdtemp(prefix="replay_stream_cost_")
    spark = get_spark(
        app_name="replay-stream-cost",
        extra_conf={"spark.sql.warehouse.dir": os.path.join(work, "warehouse")},
    )
    slots = _StateRuns(
        spark, os.path.join(work, "state"), _transition_fold(LINEITEM_PAYLOAD),
        max_runs=args.max_runs,
    )
    try:
        files = _stage(spark, work, args.increments, args.seed)
        write_run, write_s = runstore.write_run, []

        def timed_write_run(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return write_run(*args, **kwargs)
            finally:
                write_s.append(time.perf_counter() - t0)

        runstore.write_run = timed_write_run
        batches = []
        for b, path in enumerate(files):
            spark.sparkContext.setJobDescription(f"replay batch {b}")
            batch = spark.read.parquet(path)
            runs = slots.batch_runs(
                batch, keyed_transitions(batch, LINEITEM_PK, LINEITEM_PAYLOAD)
            )
            prev = state_before(slots.head(), b)
            t0 = time.perf_counter()
            view = write_batch(slots, runs, b, prev)
            rec = {
                "batch": b,
                "append_s": round(time.perf_counter() - t0, 3),
                "write_run_s": round(write_s[-1], 3),
                "compacted": view["base"] != prev["base"],
                # before the commit: its GC drops runs a compaction folded in
                "run_bytes": slots.fs.du(run_dir(slots.runs_root, {"gen": 0, "rid": b})),
            }
            commit_batch(slots, view, b)
            batches.append(rec)
            print(json.dumps(rec), flush=True)

        final = slots.head()
        state_bytes = slots.fs.du(slots.runs_root) + sum(
            slots.table_bytes(slot) for slot in (0, 1)
        )
        spark.sparkContext.setJobDescription("replay final fold")
        cols = ["tbl", "rid", "cdc_action", *LINEITEM_PAYLOAD]
        t0 = time.perf_counter()
        got = checksum_row(slots.state_at(final).select(*cols))
        final_fold_s = round(time.perf_counter() - t0, 3)
        want = checksum_row(
            compact(spark.read.parquet(*files), LINEITEM_PK, LINEITEM_PAYLOAD).select(*cols)
        )
        compacted = [r for r in batches if r["compacted"]]
        plain = [r["append_s"] for r in batches[1:] if not r["compacted"]]
        print(json.dumps({
            "metric": "replay_stream_cost",
            "increments": args.increments,
            "max_runs": slots.max_runs,
            "seed": args.seed,
            "compactions": len(compacted),
            "append_s_sum": round(sum(r["append_s"] for r in batches), 3),
            "write_run_s_sum": round(sum(r["write_run_s"] for r in batches), 3),
            "compaction_s_sum": round(
                sum(r["append_s"] - r["write_run_s"] for r in compacted), 3
            ),
            "plain_append_p50_s": round(statistics.median(plain), 3) if plain else None,
            "final_fold_s": final_fold_s,
            "state_bytes": state_bytes,
            "base_buckets": final["buckets"],
            "run_buckets": max((r["n_buckets"] for r in final["runs"]), default=None),
            "state_rows": int(got["n"]),
            "state_chk": str(got["chk"]),
            "state_equals_compact": got == want,
        }), flush=True)
        if got != want:
            sys.exit(f"stream state {tuple(got)} != compact() {tuple(want)}")
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
