"""Round-7 probe-latency-vs-state-size experiment at sf10: the regime
where the bucket/IN prune actually binds.

A LARGE ingest batch touches every state bucket (10k band keys hash
into all of them) and genuinely needs rows from each — no layout can
skip a bucket containing a matching key; its economics are
amortization (one bounded state read per million-doc batch).  The
prune's win regime is the SMALL probe: trickle ingests and point
lookups against big accumulated state, where the touched-bucket set is
a fraction of the dirs and the ≤1024-key IN push skips row groups
inside them.  This experiment measures exactly that, on ONE shared
state build (the ingest cost dominates; the arms differ only at probe
time):

  ingest 40k sf10 docs → point-probe PRUNED (default gate) and
  CONTROL (`prune_min_state_ratio=inf`: reads every run whole, the
  round-6 shape) → ingest 120k more → re-probe both arms.

Expected: pruned probe wall flat as state quadruples; control probe
wall grows with accumulated sig+sh volume (sh alone is ~16M shingle
rows at 160k docs).  Walls come from the checkpoint's own
offsets/commits mtimes — zero instrumentation in measured code.
Probe docs are drawn from slices never ingested into state, so each
probe exercises the real cross-corpus candidate+verify path against
its near-dup copies in state.

Known protocol caveat (round-7 advice #4): each probe doc is ITSELF
ingested into the shared state, so later probes measure against a
state larger by one doc per preceding probe — negligible against 40k+
docs, but the arms are not byte-identical.  The round-8 batch-economics
tool (measure_stream_dedup_batch_econ.py) removes this by running every
arm against a fresh copy of a snapshotted state.

    python tools/measure_stream_dedup_probe_sf10.py [sf_dir]
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
    spark = get_spark(app_name="dstream-probe-sf10")
    docs = load_table(spark, sf_dir, "documents")
    sliced = docs.withColumn("_sl", F.pmod(F.xxhash64("doc_id"), F.lit(250)))

    base = os.path.join(tempfile.gettempdir(), f"dsp10_{uuid.uuid4().hex[:8]}")
    src, ckpt = f"{base}/src", f"{base}/ckpt"
    state, pairs = f"{base}/state", f"{base}/pairs"
    os.makedirs(src)
    try:
        _experiment(spark, docs, sliced, base, src, ckpt, state, pairs)
    finally:
        # ALWAYS reclaim the multi-GB state tree (round-7 advice #4)
        shutil.rmtree(base, ignore_errors=True)
        spark.stop()


def _experiment(spark, docs, sliced, base, src, ckpt, state, pairs) -> None:
    from pyspark.sql import functions as F

    from mysql_cdc_redis_spark.streaming.changelog_files import (
        stage_changelog_files,
    )
    from mysql_cdc_redis_spark.streaming.dedup_stream import (
        run_dedup_stream_minhash,
    )

    seq = 0
    t_mt = time.time()
    batch_walls: dict[int, float] = {}

    def ingest(wdf, n_files: int, ratio: float | None, tag: str) -> None:
        nonlocal seq
        stage = f"{base}/_stage"
        stage_changelog_files(wdf.drop("_sl"), stage, n_chunks=n_files,
                              key_col="doc_id")
        for f in sorted(os.listdir(stage)):
            dst = os.path.join(src, f"w{seq:04d}-{f}")
            shutil.move(os.path.join(stage, f), dst)
            os.utime(dst, (t_mt + seq, t_mt + seq))
            seq += 1
        shutil.rmtree(stage)
        kw = {} if ratio is None else {"prune_min_state_ratio": ratio}
        out = run_dedup_stream_minhash(
            spark, src, docs.schema, checkpoint_dir=ckpt, state_dir=state,
            pairs_dir=pairs, n=3, k=16, bands=4, threshold=0.2,
            # above the tool's batch count: no compaction moves the state
            max_files_per_trigger=1, max_runs=64, **kw,
        )
        n_pairs = out.count()
        for b in sorted((x for x in os.listdir(f"{ckpt}/commits")
                         if x.isdigit()), key=int):
            if int(b) not in batch_walls:
                batch_walls[int(b)] = round(
                    os.path.getmtime(f"{ckpt}/commits/{b}")
                    - os.path.getmtime(f"{ckpt}/offsets/{b}"), 2)
        print(f"# {tag}: batches={max(batch_walls)} "
              f"wall={batch_walls[max(batch_walls)]} pairs={n_pairs}",
              flush=True)

    def probe_doc(sl: int):
        return sliced.filter(F.col("_sl") == sl).limit(1)

    # state 40k (2 batches), then 4 probes, then +120k (3 batches), 4 more
    ingest(sliced.filter("_sl >= 20 AND _sl < 40"), 2, None, "state_40k")
    probes: dict[str, float] = {}
    for i, (tag, ratio) in enumerate(
        [("pruned_a", None), ("control_a", float("inf")),
         ("pruned_b", None), ("control_b", float("inf"))]
    ):
        ingest(probe_doc(i), 1, ratio, f"probe40k_{tag}")
        probes[f"at40k_{tag}"] = batch_walls[max(batch_walls)]
    ingest(sliced.filter("_sl >= 40 AND _sl < 100"), 3, None, "state_160k")
    for i, (tag, ratio) in enumerate(
        [("pruned_a", None), ("control_a", float("inf")),
         ("pruned_b", None), ("control_b", float("inf"))]
    ):
        ingest(probe_doc(4 + i), 1, ratio, f"probe160k_{tag}")
        probes[f"at160k_{tag}"] = batch_walls[max(batch_walls)]

    print(json.dumps({
        "metric": "stream_dedup_point_probe_vs_state_sf10",
        "probes": probes,
        "all_batch_walls": batch_walls,
    }))


if __name__ == "__main__":
    main()
