"""Parity + durability for the streaming MinHash-LSH corpus dedup
(streaming/dedup_stream.py): the accumulated emissions must equal the
one-shot batch ``minhash_lsh_pairs`` under any micro-batch slicing,
survive a checkpoint restart, replay exactly-once, keep the cache clean,
and stay correct across an LSM state compaction.  The durability tests
run against BOTH the POSIX backend and the hostile object-store double
(tests/fs_double.py — no rename, torn writes, half-dead deletes): the
commit protocol must need nothing the weaker substrate can't give."""

from __future__ import annotations

import os
import shutil
import time

import pytest
from pyspark.sql import functions as F

from mysql_cdc_redis_spark.operators.dedup import minhash_lsh_pairs
from mysql_cdc_redis_spark.plans.streaming_queries import _tmp  # removed at exit
from mysql_cdc_redis_spark.sources import load_table
from mysql_cdc_redis_spark.streaming import run_dedup_stream_minhash
from mysql_cdc_redis_spark.streaming import dedup_stream as ds
from mysql_cdc_redis_spark.streaming.changelog_files import stage_changelog_files
from mysql_cdc_redis_spark.streaming.commitlog import LocalFS, ManifestLog
from mysql_cdc_redis_spark.streaming.runstore import run_dir

from .fs_double import HostileFS

FS_BACKENDS = [LocalFS, HostileFS]


def _pairs(df):
    return sorted(
        (r["a"], r["b"], round(r["jaccard"], 6)) for r in df.collect()
    )


def _dirs(tag: str = "dstream") -> dict:
    return {
        "checkpoint_dir": _tmp(f"{tag}_ckpt"),
        "state_dir": _tmp(f"{tag}_state"),
        "pairs_dir": _tmp(f"{tag}_pairs"),
    }


def _run(spark, source_dir, schema, dirs=None, **kw):
    dirs = dirs or _dirs()
    out = run_dedup_stream_minhash(
        spark, source_dir, schema, max_files_per_trigger=1, **dirs, **kw
    )
    return out, dirs


def _head(dirs) -> dict:
    """The state's newest committed manifest payload."""
    return ManifestLog(LocalFS(), dirs["state_dir"]).head()[1]


def _add_chunks(df, src: str, n_chunks: int = 1) -> None:
    """Stage ``df`` as ``n_chunks`` more (newest) files of ``src``."""
    stage = f"{src}_more"
    stage_changelog_files(df, stage, n_chunks=n_chunks, key_col="doc_id")
    now = time.time()
    for i, f in enumerate(sorted(os.listdir(stage))):
        dst = os.path.join(src, f"more-{now:.0f}-{f}")
        shutil.move(os.path.join(stage, f), dst)
        os.utime(dst, (now + i, now + i))
    shutil.rmtree(stage)


def _on_disk(dirs, rel: str) -> set[tuple[int, int]]:
    """The ``(gen, rid)`` of every run dir of relation ``rel``."""
    root = os.path.join(dirs["state_dir"], rel)
    return {
        (int(g.split("=", 1)[1]), int(r.split("=", 1)[1]))
        for g in os.listdir(root)
        if g.startswith("gen=")
        for r in os.listdir(os.path.join(root, g))
        if r.startswith("ingest_id=")
    }


def _cleanup(*paths):
    for p in paths:
        shutil.rmtree(p, ignore_errors=True)


@pytest.mark.parametrize("fs_cls", FS_BACKENDS)
def test_stream_dedup_equals_batch_any_slicing(spark, sf_dir, fs_cls):
    """Telescoping parity: 1-chunk (single batch, within-pairs only) and
    4-chunk (cross-batch probes dominate) slicings both reproduce the
    one-shot batch pair set exactly — on POSIX and on the rename-free
    object-store double alike."""
    docs = load_table(spark, sf_dir, "documents")
    expected = _pairs(minhash_lsh_pairs(docs, n=3, k=16, bands=4, threshold=0.2))
    assert expected  # fixture plants near-dup groups; empty would be vacuous
    for n_chunks in (1, 4):
        src = _tmp("dstream_src")
        stage_changelog_files(docs, src, n_chunks=n_chunks, key_col="doc_id")
        out, dirs = _run(spark, src, docs.schema, fs=fs_cls())
        assert _pairs(out) == expected, f"n_chunks={n_chunks}"
        _cleanup(src, *dirs.values())


def test_stream_dedup_pair_ranges_merge_and_stay_bounded():
    """The manifest tracks committed pairs partitions as merged RANGES:
    contiguous foreachBatch ids collapse to one [lo, hi] (a 10^6-batch
    stream's manifest stays O(1)), replayed ids are idempotent, and a
    hypothetical gap stays represented exactly."""
    from mysql_cdc_redis_spark.streaming.dedup_stream import _add_to_ranges

    r = []
    for b in range(100):
        r = _add_to_ranges(r, b)
    assert r == [[0, 99]]
    assert _add_to_ranges(r, 50) == [[0, 99]]  # replay: no change
    assert _add_to_ranges(r, 101) == [[0, 99], [101, 101]]  # gap kept
    assert _add_to_ranges([[0, 99], [101, 101]], 100) == [[0, 101]]  # heals


def test_stream_dedup_probe_footprint_overflow_falls_back_to_buckets(spark):
    """Above _KEY_PUSH_CAP the footprint must drop the key list (a
    many-thousand-literal IN costs ~2ms of driver time PER LITERAL per
    batch — measured, SCALING.md round 7) and return only the touched
    bucket ids; below it, both.  The bucket set must come from the same
    bucket_of expression the writes use."""
    from pyspark.sql import functions as F  # noqa: F811

    from mysql_cdc_redis_spark.streaming.runstore import bucket_of

    big = spark.range(ds._KEY_PUSH_CAP + 200).select(
        F.concat(F.lit("k"), F.col("id")).alias("bkey")
    )
    keys, buckets = ds._probe_footprint(big, "bkey", 16)
    assert keys is None, "overflow must not ship the key list"
    assert buckets == list(range(16)), buckets  # that many keys hit all 16

    small = spark.range(5).select(F.concat(F.lit("k"), F.col("id")).alias("bkey"))
    keys, buckets = ds._probe_footprint(small, "bkey", 16)
    assert keys is not None and len(keys) == 5
    expected = sorted(
        r[0]
        for r in small.select(bucket_of(F.col("bkey"), 16)).distinct().collect()
    )
    assert buckets == expected


def test_stream_dedup_prune_gate_branches_agree(spark, sf_dir):
    """The adaptive prune gate is a pure I/O strategy choice: forcing
    the pruned probe on every batch (ratio=0) and disabling it on every
    batch (ratio=inf) must both reproduce the one-shot batch pair set.
    The default gate picks between these two proven-identical branches
    per batch, so no state/batch size ratio can change results."""
    docs = load_table(spark, sf_dir, "documents").limit(600)
    expected = _pairs(minhash_lsh_pairs(docs, n=3, k=16, bands=4, threshold=0.2))
    assert expected
    for ratio in (0.0, float("inf")):
        src = _tmp("dstream_gate_src")
        stage_changelog_files(docs, src, n_chunks=3, key_col="doc_id")
        out, dirs = _run(
            spark, src, docs.schema, prune_min_state_ratio=ratio
        )
        assert _pairs(out) == expected, f"ratio={ratio}"
        _cleanup(src, *dirs.values())


@pytest.mark.parametrize("fs_cls", FS_BACKENDS)
def test_stream_dedup_checkpoint_resume_midway(spark, sf_dir, fs_cls):
    """K5: ingest half the corpus, run to completion; add the rest as
    new files and re-run on the same checkpoint + state — cross pairs
    between the halves must appear, and the final set must equal the
    batch run over the full corpus."""
    docs = load_table(spark, sf_dir, "documents")
    first = docs.filter(F.col("doc_id") % 2 == 0)
    second = docs.filter(F.col("doc_id") % 2 == 1)
    src = _tmp("dstream_resume_src")
    stage_changelog_files(first, src, n_chunks=2, key_col="doc_id")
    out1, dirs = _run(spark, src, docs.schema, fs=fs_cls())
    assert _pairs(out1) == _pairs(
        minhash_lsh_pairs(first, n=3, k=16, bands=4, threshold=0.2)
    )

    # append the second half as later-mtime files, same checkpoint
    _add_chunks(second, src)
    out2, _ = _run(spark, src, docs.schema, dirs=dirs, fs=fs_cls())
    assert _pairs(out2) == _pairs(
        minhash_lsh_pairs(docs, n=3, k=16, bands=4, threshold=0.2)
    )
    _cleanup(src, *dirs.values())


def test_stream_dedup_rerun_is_idempotent(spark, sf_dir):
    """Exactly-once: re-running availableNow on a drained source (same
    checkpoint/state/pairs dirs) fires no batches and returns the
    identical accumulated pair set."""
    docs = load_table(spark, sf_dir, "documents")
    src = _tmp("dstream_idem_src")
    stage_changelog_files(docs, src, n_chunks=3, key_col="doc_id")
    out1, dirs = _run(spark, src, docs.schema)
    p1 = _pairs(out1)
    out2, _ = _run(spark, src, docs.schema, dirs=dirs)
    assert _pairs(out2) == p1
    _cleanup(src, *dirs.values())


def test_stream_dedup_crashed_partial_run_is_replaced(spark, sf_dir):
    """A crashed attempt leaves partial ingest_id partitions but no meta
    commit; the retry (same batch over the same dirs) must overwrite
    them, not double-count.  Simulated by pre-planting garbage rows in
    the partition dirs the first real batch will claim."""
    docs = load_table(spark, sf_dir, "documents")
    src = _tmp("dstream_crash_src")
    stage_changelog_files(docs, src, n_chunks=1, key_col="doc_id")
    dirs = _dirs("dstream_crash")
    # partial state/pairs from a "crashed attempt" of batch 0 — at the
    # locations the CURRENT writer claims (gen=0/ingest_id=0 runs and a
    # batch_id=0 pairs partition; the root-level ingest_id= run location
    # and ingest_id= pairs partitions are retired layouts, which the
    # store rejects loudly — tested separately)
    junk_sig = spark.createDataFrame(
        [(999_999_999, 0, "deadbeef")], "doc_id long, band int, bkey string"
    )
    junk_sig.write.parquet(
        os.path.join(dirs["state_dir"], "sig", "gen=0", "ingest_id=0")
    )
    spark.createDataFrame(
        [(999_999_999, 1_234_567_890_123)], "doc_id long, h long"
    ).write.parquet(os.path.join(dirs["state_dir"], "sh", "gen=0", "ingest_id=0"))
    spark.createDataFrame(
        [(1, 2, 0.999999)], "a long, b long, jaccard double"
    ).write.parquet(os.path.join(dirs["pairs_dir"], "batch_id=0"))

    out, _ = _run(spark, src, docs.schema, dirs=dirs)
    got = _pairs(out)
    assert got == _pairs(minhash_lsh_pairs(docs, n=3, k=16, bands=4, threshold=0.2))
    assert (999_999_999, 999_999_999, 1.0) not in got
    assert (1, 2, 0.999999) not in got
    _cleanup(src, *dirs.values())


def test_stream_dedup_lsm_compaction_preserves_results(spark, sf_dir):
    """The mid-stream compaction merges the runs without changing what
    later batches see: ingest half in three batches at max_runs=2 (batch
    2 folds runs 0-1 before its commit), then the rest — final pairs
    still equal the full-corpus batch run, and each state relation is
    down to the merged run plus the newest before the second ingest."""
    docs = load_table(spark, sf_dir, "documents")
    first = docs.filter(F.col("doc_id") % 2 == 0)
    second = docs.filter(F.col("doc_id") % 2 == 1)
    src = _tmp("dstream_lsm_src")
    stage_changelog_files(first, src, n_chunks=3, key_col="doc_id")
    out1, dirs = _run(spark, src, docs.schema, max_runs=2)
    out1.count()  # drain

    # merged run at the second-highest id + the preserved newest run
    # (the possibly-replayable one is never a compaction target).  GC
    # is retention-lagged (round-8 verdict #4): the LIVE set is the two
    # manifest runs, which must both be on disk; superseded runs may
    # linger until they age out of the retention window — that is the
    # reader-snapshot contract, tested separately below.
    state = _head(dirs)
    assert [(r["gen"], r["rid"]) for r in state["runs"]] == [(1, 1), (0, 2)]
    for rel in ("sig", "sh"):
        live = {(int(r["gen"]), int(r["rid"])) for r in state["runs"]}
        assert live <= _on_disk(dirs, rel), (rel, live, _on_disk(dirs, rel))

    _add_chunks(second, src)
    out2, _ = _run(spark, src, docs.schema, dirs=dirs, max_runs=2)
    assert _pairs(out2) == _pairs(
        minhash_lsh_pairs(docs, n=3, k=16, bands=4, threshold=0.2)
    )
    _cleanup(src, *dirs.values())


def test_stream_dedup_probe_reads_only_touched_buckets(spark, sf_dir):
    """The round-7 scale property, proven BEHAVIORALLY: after ingesting
    the corpus, every state bucket the next (tiny) batch does NOT touch
    is overwritten with garbage bytes — if the probe listed or opened
    any untouched bucket's files, the batch would abort on a corrupt
    footer.  It must instead complete and produce exactly the batch's
    pairs: per-batch read I/O scales with the batch's key footprint,
    never the corpus."""
    from pyspark.sql import functions as F  # noqa: F811

    from mysql_cdc_redis_spark.operators.dedup import (
        _banded,
        minhash_signatures,
        shingle_hashes,
    )
    from mysql_cdc_redis_spark.streaming.dedup_stream import _cross_candidates
    from mysql_cdc_redis_spark.streaming.runstore import bucket_of

    docs = load_table(spark, sf_dir, "documents")
    expected = _pairs(minhash_lsh_pairs(docs, n=3, k=16, bands=4, threshold=0.2))
    # the probe batch: one member of a known near-dup pair, so the
    # cross-corpus verify path genuinely runs
    probe_id = expected[0][1]
    first = docs.filter(F.col("doc_id") != probe_id)
    second = docs.filter(F.col("doc_id") == probe_id)
    n_buckets = 64  # small batch << buckets, so untouched buckets exist

    src = _tmp("dstream_bkt_src")
    stage_changelog_files(first, src, n_chunks=1, key_col="doc_id")
    out1, dirs = _run(spark, src, docs.schema, n_buckets=n_buckets)
    out1.count()

    # compute the probe batch's footprint exactly as the stream will
    banded = _banded(
        minhash_signatures(shingle_hashes(second, 3), 16, with_sizes=True).select(
            "doc_id", *[f"mh{i}" for i in range(16)]
        ),
        16,
        4,
    )
    sig_touched = {
        r[0] for r in banded.select(bucket_of(F.col("bkey"), n_buckets)).distinct().collect()
    }
    state_sig = spark.read.option(
        "basePath", os.path.join(dirs["state_dir"], "sig")
    ).parquet(os.path.join(dirs["state_dir"], "sig"))
    cand = _cross_candidates(state_sig, banded)
    sh_touched = {
        r[0] for r in cand.select(bucket_of(F.col("a"), n_buckets)).distinct().collect()
    }
    assert sh_touched, "probe doc must have corpus candidates (fixture pairs)"

    # corrupt every untouched bucket in both relations
    n_corrupted = 0
    for rel, touched in (("sig", sig_touched), ("sh", sh_touched)):
        root = os.path.join(dirs["state_dir"], rel)
        for gdir in os.listdir(root):
            if not gdir.startswith("gen="):
                continue
            for run in os.listdir(os.path.join(root, gdir)):
                if not run.startswith("ingest_id="):
                    continue
                rdir = os.path.join(root, gdir, run)
                for bdir in os.listdir(rdir):
                    if not bdir.startswith("bucket="):
                        continue
                    if int(bdir.split("=", 1)[1]) in touched:
                        continue
                    for f in os.listdir(os.path.join(rdir, bdir)):
                        if f.endswith(".parquet"):
                            with open(os.path.join(rdir, bdir, f), "wb") as fh:
                                fh.write(b"\x00garbage, not parquet\x00")
                            n_corrupted += 1
    assert n_corrupted > 0, "vacuous: the batch touched every bucket"

    # ingest the probe doc: must succeed despite the corruption...
    _add_chunks(second, src)
    out2, _ = _run(spark, src, docs.schema, dirs=dirs, n_buckets=n_buckets)
    got = _pairs(out2)
    # ...and emit every expected pair involving the probe doc
    want_probe = [p for p in expected if probe_id in (p[0], p[1])]
    assert [p for p in got if probe_id in (p[0], p[1])] == want_probe
    # sanity: the corruption would have aborted an unpruned read
    import pytest

    with pytest.raises(Exception):
        spark.read.parquet(os.path.join(dirs["state_dir"], "sig")).count()
    _cleanup(src, *dirs.values())


def test_stream_dedup_auto_compaction_bounds_runs(spark, sf_dir):
    """A long-lived ingest loop must not grow the LSM forever — and
    compaction must fire MID-STREAM (round-8 verdict #5: a 24/7
    blocking=True trickle stream never drains, so a drain-only trigger
    would grow its run count without bound).  With max_runs=2 and 5
    one-file batches, batches 2-4 each fold every run but their own
    before their one commit: 5 batches commit 5 manifests, no manifest
    ever lists more than max_runs runs, the merged run's generation
    counts multiple compactions, and parity holds."""
    docs = load_table(spark, sf_dir, "documents")
    src = _tmp("dstream_auto_src")
    stage_changelog_files(docs, src, n_chunks=5, key_col="doc_id")
    out, dirs = _run(spark, src, docs.schema, max_runs=2)
    assert _pairs(out) == _pairs(
        minhash_lsh_pairs(docs, n=3, k=16, bands=4, threshold=0.2)
    )
    state = _head(dirs)
    assert len(state["runs"]) == 2
    # the run count was bounded THROUGHOUT the stream, not just at the
    # end, and each batch committed exactly one manifest
    history = ManifestLog(LocalFS(), dirs["state_dir"]).recent(1_000)
    assert len(history) == 5
    assert max(len(p["runs"]) for _v, p in history) <= 2
    # >=2 generations of merged runs = compaction fired mid-stream
    # (a single drain-time pass could only ever reach gen 1)
    assert max(int(r["gen"]) for r in state["runs"]) >= 2, state["runs"]
    _cleanup(src, *dirs.values())


def test_stream_dedup_compaction_safe_under_checkpoint_replay(spark, sf_dir):
    """The round-6 advice scenario: the stream's LAST batch compacted and
    committed its state manifest but crashed BEFORE the checkpoint
    commit (simulated by deleting the checkpoint's newest commit file).
    The restarted stream replays it from the runs before it — the merged
    run, never its own — and the final pair set must still telescope to
    the batch oracle with no state loss."""
    docs = load_table(spark, sf_dir, "documents")
    src = _tmp("dstream_replay_src")
    stage_changelog_files(docs, src, n_chunks=3, key_col="doc_id")
    out1, dirs = _run(spark, src, docs.schema, max_runs=2)
    out1.count()
    compacted = _head(dirs)
    assert [(r["gen"], r["rid"]) for r in compacted["runs"]] == [(1, 1), (0, 2)]

    commits = os.path.join(dirs["checkpoint_dir"], "commits")
    newest = max((f for f in os.listdir(commits) if f.isdigit()), key=int)
    assert newest == "2"
    os.remove(os.path.join(commits, newest))  # batch 2 will replay
    crc = os.path.join(commits, f".{newest}.crc")  # hadoop checksum sidecar
    if os.path.exists(crc):
        os.remove(crc)

    out2, _ = _run(spark, src, docs.schema, dirs=dirs, max_runs=2)
    assert _pairs(out2) == _pairs(
        minhash_lsh_pairs(docs, n=3, k=16, bands=4, threshold=0.2)
    )
    assert _head(dirs)["runs"] == compacted["runs"]
    _cleanup(src, *dirs.values())


def test_stream_dedup_compaction_torn_manifest_commit_recovers(spark, sf_dir):
    """The commit-layer crash window: the compacting batch wrote its
    merged run but DIED mid-manifest-PUT (torn object).  The torn
    manifest self-invalidates, so the state reads as pre-batch (old runs
    intact, merged dir = invisible garbage); the restart replays the
    batch and proceeds to the full correct result."""
    docs = load_table(spark, sf_dir, "documents")
    src = _tmp("dstream_torn_src")
    stage_changelog_files(docs, src, n_chunks=3, key_col="doc_id")
    dirs = _dirs("dstream_torn")
    fs = HostileFS()
    fs.tear_write_at = 3  # batches 0-1 commit; batch 2 compacts, then its commit tears
    with pytest.raises(Exception):  # surfaces as a StreamingQueryException
        _run(spark, src, docs.schema, dirs=dirs, max_runs=2, fs=fs)
    # the transition never happened: runs 0-1 are live, the merged run
    # is on disk but unlisted
    assert [(r["gen"], r["rid"]) for r in _head(dirs)["runs"]] == [(0, 0), (0, 1)]
    assert (1, 1) in _on_disk(dirs, "sig")

    fs.disarm()
    out2, _ = _run(spark, src, docs.schema, dirs=dirs, max_runs=2, fs=fs)
    assert [(r["gen"], r["rid"]) for r in _head(dirs)["runs"]] == [(1, 1), (0, 2)]
    assert _pairs(out2) == _pairs(
        minhash_lsh_pairs(docs, n=3, k=16, bands=4, threshold=0.2)
    )
    _cleanup(src, *dirs.values())


def test_stream_dedup_compaction_crash_mid_gc_recovers(spark, sf_dir, monkeypatch):
    """GC is off the correctness path: a compacting batch that committed
    its manifest but died HALFWAY through deleting superseded run dirs
    must leave a fully consistent state — garbage is invisible to
    readers and cleared by the replay's GC."""
    # a one-manifest window, so the compacting batch's GC has something
    # to delete in this short lifecycle (the retention contract itself
    # is tested separately)
    monkeypatch.setattr(ds, "_GC_RETAIN_MANIFESTS", 1)
    docs = load_table(spark, sf_dir, "documents")
    src = _tmp("dstream_gc_src")
    stage_changelog_files(docs, src, n_chunks=3, key_col="doc_id")
    dirs = _dirs("dstream_gc")
    fs = HostileFS()
    fs.arm_crash_delete()  # batch 2's first GC delete (run 0) dies halfway
    with pytest.raises(Exception):
        _run(spark, src, docs.schema, dirs=dirs, max_runs=2, fs=fs)
    # the commit preceded GC: the compacted state is already live
    assert [(r["gen"], r["rid"]) for r in _head(dirs)["runs"]] == [(1, 1), (0, 2)]
    assert (0, 0) in _on_disk(dirs, "sig"), "crash must leave run 0 half-deleted"

    fs.disarm()
    out2, _ = _run(spark, src, docs.schema, dirs=dirs, max_runs=2, fs=fs)
    assert _pairs(out2) == _pairs(
        minhash_lsh_pairs(docs, n=3, k=16, bands=4, threshold=0.2)
    )
    for rel in ("sig", "sh"):
        assert _on_disk(dirs, rel) == {(1, 1), (0, 2)}, rel
    _cleanup(src, *dirs.values())


def test_stream_dedup_reader_snapshot_survives_compaction(spark, sf_dir):
    """Round-8 verdict #4: a reader that planned its scan from the
    pre-compaction manifest must COMPLETE that scan after a later batch
    compacts, commits and garbage-collects — retention-lagged GC keeps
    every directory any of the newest _GC_RETAIN_MANIFESTS manifests
    references.  (Immediate GC failed exactly this: the planned file
    list pointed at deleted runs.)"""
    docs = load_table(spark, sf_dir, "documents")
    first = docs.filter(F.col("doc_id") % 3 != 0)
    second = docs.filter(F.col("doc_id") % 3 == 0)
    src = _tmp("dstream_snap_src")
    stage_changelog_files(first, src, n_chunks=2, key_col="doc_id")
    out1, dirs = _run(spark, src, docs.schema, max_runs=2)
    out1.count()

    # the reader: plan (lazily) a full scan of the sig relation from
    # the CURRENT manifest's explicit run list — the engine's own read
    # idiom — and record what it should see
    state_v_n = _head(dirs)
    sig_root = os.path.join(dirs["state_dir"], "sig")
    planned = spark.read.option("basePath", sig_root).parquet(
        *[run_dir(sig_root, r) for r in state_v_n["runs"]]
    )
    expected_rows = sum(4 * r["n_docs"] for r in state_v_n["runs"])  # 4 bands/doc

    # batch 2 compacts runs 0-1, commits and GCs — with retention lag
    _add_chunks(second, src)
    out2, _ = _run(spark, src, docs.schema, dirs=dirs, max_runs=2)
    out2.count()
    assert _head(dirs)["runs"][0]["gen"] == 1

    # the vN reader still completes (files intact on disk)
    assert planned.count() == expected_rows
    _cleanup(src, *dirs.values())


def test_stream_dedup_gc_eventually_reclaims_aged_out_runs(spark, sf_dir):
    """The flip side of the reader-snapshot grace: once a superseded
    run falls out of the newest _GC_RETAIN_MANIFESTS manifests, a later
    batch's GC reclaims its directory — retention is a LAG, not a leak."""
    docs = load_table(spark, sf_dir, "documents")
    first = docs.filter(F.col("doc_id") % 2 == 0)
    second = docs.filter(F.col("doc_id") % 2 == 1)
    src = _tmp("dstream_reclaim_src")
    stage_changelog_files(first, src, n_chunks=3, key_col="doc_id")
    out1, dirs = _run(spark, src, docs.schema, max_runs=2)
    out1.count()
    # batch 2 folded runs 0-1; within the retention window they stay
    gen0_runs = {(0, 0), (0, 1)}
    assert _head(dirs)["runs"][0]["gen"] == 1
    assert gen0_runs <= _on_disk(dirs, "sig")

    # age the superseded runs out of the window: three more batches,
    # each compacting, push >= _GC_RETAIN_MANIFESTS commits past them
    _add_chunks(second, src, n_chunks=3)
    out2, _ = _run(spark, src, docs.schema, dirs=dirs, max_runs=2)
    out2.count()

    # exactly the runs outside the CURRENT retention window must be
    # gone; anything a retained manifest still references must remain
    log = ManifestLog(LocalFS(), dirs["state_dir"])
    recent_live = {
        (int(r["gen"]), int(r["rid"]))
        for _v, p in log.recent(ds._GC_RETAIN_MANIFESTS)
        for r in p["runs"]
    }
    reclaimable = gen0_runs - recent_live
    assert reclaimable, "vacuous: no gen-0 run aged out of the window"
    for rel in ("sig", "sh"):
        assert not (_on_disk(dirs, rel) & reclaimable), (rel, reclaimable)
        assert recent_live <= _on_disk(dirs, rel), rel
    # and parity survived the whole lifecycle
    assert _pairs(out2) == _pairs(
        minhash_lsh_pairs(docs, n=3, k=16, bands=4, threshold=0.2)
    )
    _cleanup(src, *dirs.values())


def test_stream_dedup_legacy_pre_manifest_state_rejected_loudly(spark, sf_dir):
    """Round-8 ADVICE #1: a state_dir written by the retired
    _meta.json/rename-based format has data but no manifest — reading
    it as EMPTY state would silently drop the accumulated corpus
    (probes against nothing, final read returns no pairs).  It must
    raise with a migration hint instead, for both legacy markers.  A
    pairs_dir holding an earlier version's ``ingest_id=`` pair
    partitions is rejected by name too."""

    def head(state_dir, pairs_dir=None):
        pairs_dir = pairs_dir or _tmp("dstream_legacy_pairs")
        return ds._LshState(spark, state_dir, pairs_dir, LocalFS(), 8).head()

    # marker 1: root-level _meta.json
    d1 = _tmp("dstream_legacy1")
    os.makedirs(d1)
    with open(os.path.join(d1, "_meta.json"), "w") as f:
        f.write('{"runs": [0, 1]}')
    with pytest.raises(ValueError, match="pre-manifest"):
        head(d1)

    # marker 2: sig/ingest_id=N runs without the gen= level
    d2 = _tmp("dstream_legacy2")
    os.makedirs(os.path.join(d2, "sig", "ingest_id=0"))
    with pytest.raises(ValueError, match="pre-manifest"):
        head(d2)

    # a genuinely fresh dir still reads as empty state
    d3 = _tmp("dstream_legacy3")
    os.makedirs(d3)
    assert head(d3) == {"runs": [], "pair_ranges": []}
    # ...and the stream itself surfaces the legacy error, not empty output
    docs = load_table(spark, sf_dir, "documents")
    src = _tmp("dstream_legacy_src")
    stage_changelog_files(docs.limit(20), src, n_chunks=1, key_col="doc_id")
    with pytest.raises(Exception, match="pre-manifest"):
        run_dedup_stream_minhash(
            spark, src, docs.schema,
            checkpoint_dir=_tmp("dstream_legacy_ckpt"),
            state_dir=d1, pairs_dir=_tmp("dstream_legacy_pairs"),
        )

    # pairs partitions in the earlier ingest_id= layout
    p_old = _tmp("dstream_legacy_pairs_old")
    os.makedirs(os.path.join(p_old, "ingest_id=0"))
    with pytest.raises(ValueError, match="ingest_id= pair partitions"):
        run_dedup_stream_minhash(
            spark, src, docs.schema,
            checkpoint_dir=_tmp("dstream_legacy_ckpt2"), state_dir=d3, pairs_dir=p_old,
        )
    _cleanup(d1, d2, d3, src, p_old)


def test_stream_dedup_batch_torn_manifest_commit_replays(spark, sf_dir):
    """A micro-batch that wrote its pairs and runs but DIED mid-
    manifest-PUT never checkpoint-committed either: the restart must
    replay it, overwrite its partial artifacts, and converge to the
    batch oracle — the exactly-once story with zero renames anywhere."""
    docs = load_table(spark, sf_dir, "documents")
    src = _tmp("dstream_bt_src")
    stage_changelog_files(docs, src, n_chunks=3, key_col="doc_id")
    fs2 = HostileFS()
    dirs = _dirs("dstream_bt")
    fs2.tear_write_at = 2  # batch 0 commits (write 1); batch 1 tears
    with pytest.raises(Exception):  # surfaces as a StreamingQueryException
        run_dedup_stream_minhash(
            spark, src, docs.schema, max_files_per_trigger=1, **dirs, fs=fs2
        )
    assert [r["rid"] for r in _head(dirs)["runs"]] == [0]  # batch 1 never committed

    fs2.disarm()
    out = run_dedup_stream_minhash(
        spark, src, docs.schema, max_files_per_trigger=1, **dirs, fs=fs2
    )
    assert _pairs(out) == _pairs(
        minhash_lsh_pairs(docs, n=3, k=16, bands=4, threshold=0.2)
    )
    _cleanup(src, *dirs.values())


def test_stream_dedup_large_batch_writes_proportionally_more_buckets(
    spark, sf_dir, monkeypatch
):
    """Per-batch run sizing: a batch bigger than _DOCS_PER_BUCKET ×
    floor must write its run at a larger power-of-two modulus (recorded
    in the manifest), and the next batch's probe — computed at the new
    larger modulus, projected onto every run — must still telescope to
    the batch oracle."""
    monkeypatch.setattr(ds, "_DOCS_PER_BUCKET", 100)
    docs = load_table(spark, sf_dir, "documents")
    first = docs.filter(F.col("doc_id") % 2 == 0)
    second = docs.filter(F.col("doc_id") % 2 == 1)
    n_first = first.count()
    assert n_first > 200  # enough to outgrow the floor at 100 docs/bucket
    src = _tmp("dstream_big_src")
    stage_changelog_files(first, src, n_chunks=1, key_col="doc_id")
    out1, dirs = _run(spark, src, docs.schema, n_buckets=2)
    out1.count()
    state = _head(dirs)
    m = state["runs"][0]["n_buckets"]
    want = 1 << ((-(-n_first // 100)) - 1).bit_length()
    assert m == max(2, want) and m > 2, state["runs"]

    _add_chunks(second, src)
    out2, _ = _run(
        spark, src, docs.schema, dirs=dirs, n_buckets=2, prune_min_state_ratio=0.0,
    )
    assert _pairs(out2) == _pairs(
        minhash_lsh_pairs(docs, n=3, k=16, bands=4, threshold=0.2)
    )
    _cleanup(src, *dirs.values())


def test_stream_dedup_compaction_rebuckets_when_state_outgrows_layout(
    spark, sf_dir, monkeypatch
):
    """Round-7 advice #4: compaction re-sizes the merged run's bucket
    modulus from its actual bytes.  With a tiny _TARGET_BUCKET_BYTES the
    merged run must come out with MORE (power-of-two) buckets than the
    ingest runs' 16, new ingest runs keep their own modulus, and the
    mixed-moduli probe still telescopes to the batch oracle."""
    monkeypatch.setattr(ds, "_TARGET_BUCKET_BYTES", 4096)
    docs = load_table(spark, sf_dir, "documents")
    first = docs.filter(F.col("doc_id") % 2 == 0)
    second = docs.filter(F.col("doc_id") % 2 == 1)
    src = _tmp("dstream_rb_src")
    stage_changelog_files(first, src, n_chunks=3, key_col="doc_id")
    out1, dirs = _run(spark, src, docs.schema, max_runs=2)  # batch 2 compacts
    out1.count()

    state = _head(dirs)
    merged = min(state["runs"], key=lambda r: r["rid"])
    m = merged["n_buckets"]
    assert merged["gen"] == 1 and m > 16 and (m & (m - 1)) == 0, state["runs"]

    # force the PRUNED probe across the re-bucketed state: the footprint
    # at the (larger) merged modulus must project exactly onto both
    # (the default max_runs keeps the new run beside the merged one)
    _add_chunks(second, src)
    out2, _ = _run(spark, src, docs.schema, dirs=dirs, prune_min_state_ratio=0.0)
    assert {r["n_buckets"] for r in _head(dirs)["runs"]} == {m, 16}
    assert _pairs(out2) == _pairs(
        minhash_lsh_pairs(docs, n=3, k=16, bands=4, threshold=0.2)
    )
    _cleanup(src, *dirs.values())


def test_stream_dedup_mega_batch_path_drops_broadcast_and_agrees(
    spark, sf_dir, monkeypatch
):
    """Beyond _BROADCAST_DOC_CAP the probe must not force-broadcast a
    batch that wouldn't fit an executor — AQE plans the join instead.
    Monkeypatching the cap to 1 forces every batch onto the mega-batch
    plan; the pair set must still telescope to the batch oracle (the
    broadcast is a strategy hint, never semantics)."""
    monkeypatch.setattr(ds, "_BROADCAST_DOC_CAP", 1)
    docs = load_table(spark, sf_dir, "documents")
    expected = _pairs(minhash_lsh_pairs(docs, n=3, k=16, bands=4, threshold=0.2))
    src = _tmp("dstream_mega_src")
    stage_changelog_files(docs, src, n_chunks=3, key_col="doc_id")
    out, dirs = _run(spark, src, docs.schema)
    assert _pairs(out) == expected
    _cleanup(src, *dirs.values())


def test_stream_dedup_grand_composition(spark, sf_dir, monkeypatch):
    """Everything at once — the round-8 feature set composed: hostile
    object-store FS (no rename), per-batch run sizing producing MIXED
    bucket moduli, auto-compaction folding runs mid-lifecycle (with its
    size-based re-bucket), forced pruned probes across the mixed
    layout, and a checkpoint resume — the final pair set must still
    telescope to the one-shot batch oracle."""
    monkeypatch.setattr(ds, "_DOCS_PER_BUCKET", 64)
    docs = load_table(spark, sf_dir, "documents")
    first = docs.filter(F.col("doc_id") % 3 != 0)
    second = docs.filter(F.col("doc_id") % 3 == 0)
    src = _tmp("dstream_grand_src")
    stage_changelog_files(first, src, n_chunks=3, key_col="doc_id")
    fs = HostileFS()
    dirs = _dirs("dstream_grand")
    out1 = run_dedup_stream_minhash(
        spark, src, docs.schema, max_files_per_trigger=1, **dirs,
        n_buckets=2, max_runs=2, prune_min_state_ratio=0.0, fs=fs,
    )
    out1.count()
    state = _head(dirs)
    assert len(state["runs"]) == 2  # auto-compacted
    moduli = {r["n_buckets"] for r in state["runs"]}
    assert all(m & (m - 1) == 0 for m in moduli)

    _add_chunks(second, src)
    out2 = run_dedup_stream_minhash(
        spark, src, docs.schema, max_files_per_trigger=1, **dirs,
        n_buckets=2, max_runs=2, prune_min_state_ratio=0.0, fs=fs,
    )
    assert _pairs(out2) == _pairs(
        minhash_lsh_pairs(docs, n=3, k=16, bands=4, threshold=0.2)
    )
    _cleanup(src, *dirs.values())


def test_stream_dedup_uncommitted_pairs_partition_is_invisible(spark, sf_dir):
    """The pairs read is manifest-gated: a partition left by a crashed
    (never-committed) batch — here GARBAGE bytes at an id beyond the
    committed ranges — must be partition-pruned at the scan, not read
    (reading it would abort on the corrupt footer)."""
    docs = load_table(spark, sf_dir, "documents")
    src = _tmp("dstream_upp_src")
    stage_changelog_files(docs, src, n_chunks=2, key_col="doc_id")
    out1, dirs = _run(spark, src, docs.schema)
    expected = _pairs(out1)

    junk = os.path.join(dirs["pairs_dir"], "batch_id=9999")
    os.makedirs(junk)
    with open(os.path.join(junk, "part-00000.parquet"), "wb") as f:
        f.write(b"\x00not parquet at all\x00")

    out2, _ = _run(spark, src, docs.schema, dirs=dirs)  # drained re-run
    assert _pairs(out2) == expected
    _cleanup(src, *dirs.values())


def test_stream_dedup_leaves_no_persisted_rdds(spark, sf_dir):
    """The per-batch persists (shingles + signatures) are scope-released
    inside foreachBatch — the two-discipline staging lifecycle."""
    docs = load_table(spark, sf_dir, "documents")
    src = _tmp("dstream_hyg_src")
    stage_changelog_files(docs, src, n_chunks=2, key_col="doc_id")
    out, dirs = _run(spark, src, docs.schema)
    out.count()
    assert not spark.sparkContext._jsc.getPersistentRDDs().size()
    _cleanup(src, *dirs.values())
