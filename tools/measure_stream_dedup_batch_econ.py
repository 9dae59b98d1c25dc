"""Round-8 experiment: large-ingest-batch ECONOMICS of the streaming
dedup (round-7 verdict item #3) plus the per-trigger FLOOR re-measure
(item #6), against ONE fixed state.

The round-7 docstring claim — "a million-doc batch touches every bucket
and amortizes one bounded state read" — was asserted, not measured.
This sweeps ingest batch size (1, 10³, 10⁴, 10⁵ docs) against the SAME
accumulated state and reports per-doc cost; the curve must FALL as the
batch grows (fixed per-trigger machinery amortizes over more docs),
which the tool ASSERTS as a regression gate (strict monotone
non-increase of per-doc cost with batch size).

Fixed-state protocol: the state/checkpoint/pairs tree is built once
(40k sf10 docs, two micro-batches — the round-7 build), then
SNAPSHOTTED; every probe arm runs against a fresh COPY of the snapshot,
so arms never see each other's ingests (this removes the 1-doc-drift
caveat the round-7 point-probe tool documented: there, probes mutated
the shared state; here the copy makes every arm's state byte-identical).
The SOURCE directory is shared at one fixed absolute path — Spark's
file-stream checkpoint records seen files by absolute path, so the
copied checkpoint only recognizes its build files if they still live
where it saw them; each arm stages its probe chunk into that shared
dir and removes it afterward, so the next arm's (fresh) checkpoint
never sees it.
Per-batch walls come from the checkpoint's own offsets/commits mtimes —
zero instrumentation in measured code.  Probe docs come from slices
never ingested into state, so every arm exercises the real
cross-corpus candidate + verify path.

    SPARK_DRIVER_MEMORY=64g python tools/measure_stream_dedup_batch_econ.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
import uuid

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    from pyspark.sql import functions as F

    from mysql_cdc_redis_spark.session import get_spark
    from mysql_cdc_redis_spark.sources import load_table
    from mysql_cdc_redis_spark.streaming.changelog_files import (
        stage_changelog_files,
    )
    from mysql_cdc_redis_spark.streaming.dedup_stream import (
        run_dedup_stream_minhash,
    )

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        REPO, ".localdata", "sf10"
    )
    spark = get_spark(app_name="dstream-batch-econ")
    docs = load_table(spark, sf_dir, "documents")
    sliced = docs.withColumn("_sl", F.pmod(F.xxhash64("doc_id"), F.lit(250)))

    base = os.path.join(tempfile.gettempdir(), f"dbe8_{uuid.uuid4().hex[:8]}")
    build = os.path.join(base, "build")
    src = os.path.join(base, "src")  # SHARED: one absolute path, all arms
    os.makedirs(src)
    os.makedirs(build)
    t_mt = time.time()

    def stage_into(wdf, n_files: int, seq0: int) -> tuple[int, list[str]]:
        stage = os.path.join(base, "_stage")
        stage_changelog_files(wdf.drop("_sl"), stage, n_chunks=n_files,
                              key_col="doc_id")
        seq, staged = seq0, []
        for f in sorted(os.listdir(stage)):
            dst = os.path.join(src, f"w{seq:04d}-{f}")
            shutil.move(os.path.join(stage, f), dst)
            os.utime(dst, (t_mt + seq, t_mt + seq))
            staged.append(dst)
            seq += 1
        shutil.rmtree(stage)
        return seq, staged

    def run(tree: str) -> int:
        out = run_dedup_stream_minhash(
            spark, src, docs.schema,
            checkpoint_dir=os.path.join(tree, "ckpt"),
            state_dir=os.path.join(tree, "state"),
            pairs_dir=os.path.join(tree, "pairs"),
            n=3, k=16, bands=4, threshold=0.2,
            # above the tree's batch count: no compaction moves the state
            max_files_per_trigger=1, max_runs=64,
        )
        return out.count()

    def last_batch_wall(tree: str) -> float:
        ck = os.path.join(tree, "ckpt")
        b = max(int(x) for x in os.listdir(f"{ck}/commits") if x.isdigit())
        return round(
            os.path.getmtime(f"{ck}/commits/{b}")
            - os.path.getmtime(f"{ck}/offsets/{b}"), 2)

    try:
        # ---- fixed state: 40k docs over two micro-batches, snapshotted
        seq, _ = stage_into(sliced.filter("_sl >= 20 AND _sl < 40"), 2, 0)
        n_pairs_base = run(build)
        print(f"# state built: 40k docs, pairs={n_pairs_base}", flush=True)

        # ---- sweep: each arm = ONE micro-batch of `size` docs against a
        # fresh copy of the snapshot (never-ingested slices).  The probe
        # chunk is staged into the SHARED src and removed after the arm,
        # so every arm's checkpoint sees exactly build-files + its own.
        arm_slices = {1: "_sl = 0", 1_000: "_sl IN (1,2)",
                      10_000: "_sl >= 100 AND _sl < 107",
                      100_000: "_sl >= 107 AND _sl < 170"}
        per_doc: dict[int, float] = {}
        walls: dict[int, float] = {}
        actual: dict[int, int] = {}
        for size, cond in sorted(arm_slices.items()):
            arm = os.path.join(base, f"arm_{size}")
            shutil.copytree(build, arm)
            batch = sliced.filter(cond).limit(size)
            n_docs = batch.count()
            seq, staged = stage_into(batch, 1, seq)
            run(arm)
            walls[size] = last_batch_wall(arm)
            actual[size] = n_docs
            per_doc[size] = round(walls[size] / max(n_docs, 1), 5)
            print(f"# batch={size} (actual {n_docs} docs): wall={walls[size]}s "
                  f"per_doc={per_doc[size] * 1000:.2f}ms", flush=True)
            for f in staged:
                os.remove(f)
            shutil.rmtree(arm, ignore_errors=True)

        sizes = sorted(per_doc)
        # the regression gate: per-doc cost must fall (non-increase, 10%
        # slack for wall noise) as batch size grows — the amortization
        # claim, now asserted instead of asserted-in-prose
        for a, b in zip(sizes, sizes[1:]):
            assert per_doc[b] <= per_doc[a] * 1.10, (
                f"per-doc cost rose {a}->{b}: {per_doc[a]} -> {per_doc[b]}")

        print(json.dumps({
            "metric": "stream_dedup_batch_economics_sf10",
            "state_docs": 40_000,
            "batch_walls_sec": walls,
            "batch_docs": actual,
            "per_doc_sec": per_doc,
            "point_probe_floor_sec": walls.get(1),
        }))
    finally:
        # ALWAYS reclaim the multi-GB state trees, success or crash
        # (round-7 advice #4)
        shutil.rmtree(base, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
