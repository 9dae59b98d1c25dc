"""Instrumented replay of the JVM streaming compactor's per-batch
commit cost (round-9 verdict item 1 "done" evidence).

Replays the bench's exact staged-changelog lifecycle (10 seq-range
files, 2 files per micro-batch = 5 batches; more via --batches) through
the LSM state store batch-at-a-time, timing each batch's commit and
recording the bytes it wrote:

* r1-r9 ping-pong: every batch re-wrote the FULL state table —
  measured 1.1-2.5 s (75-85%) of each ~2.1 s batch wall at sf0.1,
  O(batches × |state|) I/O over a stream's life.
* r10 LSM: a batch commits one immutable run of its OWN keys —
  O(|batch|) — plus a manifest PUT; the O(|state|) fold runs only
  every max_runs batches (periodic compaction) and at finalize.

Usage:
    python tools/replay_jvm_commit_cost_r10.py [--sf-dir DIR]
        [--batches N] [--max-runs K]

Prints one JSON line: per-batch wall + run bytes + run rows, state
rows at the end (must equal the batch compactor's), and which batches
compacted.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def dir_bytes(p: str) -> int:
    if not os.path.isdir(p):
        return 0
    return sum(
        os.path.getsize(os.path.join(r, f))
        for r, _, fs in os.walk(p)
        for f in fs
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--batches", type=int, default=5)
    ap.add_argument("--max-runs", type=int, default=None,
                    help="compaction threshold (default: env/8)")
    args = ap.parse_args()

    from mysql_cdc_redis_spark.operators.compaction import compact
    from mysql_cdc_redis_spark.session import get_spark
    from mysql_cdc_redis_spark.sources.changelog import (
        LINEITEM_PAYLOAD,
        LINEITEM_PK,
        lineitem_changelog,
    )
    from mysql_cdc_redis_spark.streaming.compact_jvm import (
        _StateRuns,
        fold_transition_state,
        keyed_transitions,
    )

    spark = get_spark(app_name="replay_jvm_commit_cost")
    base = tempfile.mkdtemp(prefix="replay_jvm_")
    staged_dir = os.path.join(base, "staged")
    state_dir = os.path.join(base, "state")

    # stage exactly like bench.py: seq-range files so file order == seq
    # order; n_files = 2 * batches (2 files per micro-batch)
    ch = lineitem_changelog(spark, args.sf_dir)
    n_files = 2 * args.batches
    ch.repartitionByRange(n_files, "seq").write.mode("overwrite").parquet(staged_dir)
    parts = sorted(f for f in os.listdir(staged_dir) if f.endswith(".parquet"))

    slots = _StateRuns(spark, state_dir, max_runs=args.max_runs)

    def fold(b, r, k=None):
        return fold_transition_state(b, r, LINEITEM_PAYLOAD, k)

    per_batch = []
    for bidx in range(args.batches):
        files = parts[2 * bidx: 2 * bidx + 2]
        batch_df = spark.read.parquet(
            *[os.path.join(staged_dir, f) for f in files]
        )
        spark.sparkContext.setJobDescription(f"replay batch {bidx}")
        t0 = time.perf_counter()
        delta = keyed_transitions(batch_df, LINEITEM_PK, LINEITEM_PAYLOAD)
        prev = slots.view_before(bidx)
        view = slots.append(delta, bidx, prev, fold)
        slots.commit(bidx, view)
        wall = time.perf_counter() - t0
        run_dir = slots.run_path(bidx)
        per_batch.append({
            "batch": bidx,
            "wall_s": round(wall, 3),
            "run_bytes": dir_bytes(run_dir),
            "run_rows": spark.read.parquet(run_dir).count()
            if os.path.isdir(run_dir) else None,
            "compacted": view["runs"] == [],
        })
    spark.sparkContext.setJobDescription("replay finalize")
    t0 = time.perf_counter()
    views = slots.load_views()
    final = slots.state_at(views[max(views)], fold)
    n_state = final.count()
    finalize_wall = round(time.perf_counter() - t0, 3)

    n_batch = compact(
        spark.read.parquet(staged_dir), LINEITEM_PK, LINEITEM_PAYLOAD
    ).count()
    print(json.dumps({
        "metric": "jvm_stream_commit_cost_replay",
        "sf_dir": args.sf_dir,
        "batches": args.batches,
        "max_runs": slots.max_runs,
        "per_batch": per_batch,
        "finalize_wall_s": finalize_wall,
        "state_rows": n_state,
        "batch_compact_rows": n_batch,
        "state_parity": n_state == n_batch,
    }))
    slots.drop_all()
    shutil.rmtree(base, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
