"""Parity + durability for the pure-JVM foreachBatch streaming compactor
(streaming/compact_jvm.py; round-5 verdict item 1): it must equal the
batch compactor under ANY micro-batch slicing, resume from its
checkpoint + state commit log, recompute retried batches
deterministically, and keep the merge join Exchange-free above the
bucketed state scan."""

from __future__ import annotations

import glob
import os
import shutil
import subprocess
import sys
import time
from contextlib import contextmanager
from itertools import product

import pytest
from pyspark.sql import functions as F

from mysql_cdc_redis_spark.operators.compaction import (
    ACTION_FOLD_SENTINEL,
    compact,
    merge_state_delta,
    with_rid,
)
from mysql_cdc_redis_spark.plans.streaming_queries import _tmp  # removed at exit
from mysql_cdc_redis_spark.sources.changelog import (
    ORDERS_PAYLOAD,
    ORDERS_PK,
    orders_changelog,
)
from mysql_cdc_redis_spark.streaming import (
    drop_state_jvm,
    run_compaction_stream_jvm,
)
from mysql_cdc_redis_spark.streaming.changelog_files import stage_changelog_files
from mysql_cdc_redis_spark.streaming.runstore import (
    BatchRuns,
    commit_batch,
    run_dir,
    write_batch,
)


def _rows(df, cols):
    return sorted(tuple(str(r[c]) for c in cols) for r in df.collect())


def _run(rid: int) -> dict:
    """The manifest entry of a one-bucket JVM stream run."""
    return {"rid": rid, "gen": 0, "n_buckets": 1}


def _run_path(slots, rid: int) -> str:
    return run_dir(slots.runs_root, _run(rid))


def _append(slots, delta, batch_id: int, prev: dict) -> dict:
    """The shared ``write_batch`` step for a one-bucket JVM run."""
    return write_batch(slots, BatchRuns({"runs": delta}, {"n_buckets": 1}), batch_id, prev)


def _append_chunk(df, src_dir: str, name: str) -> None:
    """Stage ``df`` as one more (newest) file of a stream source dir."""
    tmp = f"{src_dir}/_stage_{name}"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
    dst = f"{src_dir}/{name}.parquet"
    shutil.move(f"{tmp}/{part}", dst)
    shutil.rmtree(tmp)
    os.utime(dst, (time.time(), time.time()))


def test_jvm_stream_equals_batch(spark, sf_dir):
    ch = orders_changelog(spark, sf_dir)
    source_dir = _tmp("jvm_chglog")
    stage_changelog_files(ch, source_dir, n_chunks=4)
    state_dir = _tmp("jvm_state")
    batch = compact(ch, ORDERS_PK, ORDERS_PAYLOAD)
    try:
        streamed = run_compaction_stream_jvm(
            spark,
            source_dir,
            ch.schema,
            ORDERS_PK,
            ORDERS_PAYLOAD,
            checkpoint_dir=_tmp("jvm_ckpt"),
            state_dir=state_dir,
            max_files_per_trigger=1,  # one micro-batch per chunk
        )
        cols = ["tbl", "rid", "cdc_action", *ORDERS_PAYLOAD]
        assert _rows(streamed, cols) == _rows(batch, cols)
    finally:
        drop_state_jvm(spark, state_dir)


def test_jvm_stream_torn_meta_commit_replays_to_batch_parity(spark, sf_dir):
    """End-to-end object-store-safety of the JVM compactor: the batch
    whose slot-map commit TEARS mid-PUT never checkpoint-committed
    either, so the restart replays it deterministically from the prior
    slot and the final state still equals the batch compactor."""
    import pytest

    from .fs_double import HostileFS, InjectedCrash

    ch = orders_changelog(spark, sf_dir)
    source_dir = _tmp("jvm_torn_chglog")
    stage_changelog_files(ch, source_dir, n_chunks=3)
    state_dir = _tmp("jvm_torn_state")
    ckpt = _tmp("jvm_torn_ckpt")
    fs = HostileFS()
    fs.tear_write_at = 2  # batch 0 commits; batch 1's commit tears
    try:
        with pytest.raises(Exception) as ei:
            run_compaction_stream_jvm(
                spark, source_dir, ch.schema, ORDERS_PK, ORDERS_PAYLOAD,
                checkpoint_dir=ckpt, state_dir=state_dir,
                max_files_per_trigger=1, fs=fs,
            )
        assert "InjectedCrash" in str(ei.value) or isinstance(
            ei.value, InjectedCrash
        )
        fs.disarm()
        streamed = run_compaction_stream_jvm(
            spark, source_dir, ch.schema, ORDERS_PK, ORDERS_PAYLOAD,
            checkpoint_dir=ckpt, state_dir=state_dir,
            max_files_per_trigger=1, fs=fs,
        )
        cols = ["tbl", "rid", "cdc_action", *ORDERS_PAYLOAD]
        assert _rows(streamed, cols) == _rows(
            compact(ch, ORDERS_PK, ORDERS_PAYLOAD), cols
        )
    finally:
        drop_state_jvm(spark, state_dir)


def test_jvm_checkpoint_resume_midway(spark, sf_dir):
    """K5/T1: half the changelog, run; append the rest, run again on the
    same checkpoint + state dir — per-key state must span the restart
    (insert then update folds to insert)."""
    ch = orders_changelog(spark, sf_dir).filter(F.col("o_orderkey") % 10 == 3)
    first = ch.filter(F.col("seq") % 4 == 0)   # the inserts
    second = ch.filter(F.col("seq") % 4 == 1)  # the updates
    d = _tmp("jvm_resume_src")
    ckpt = _tmp("jvm_resume_ckpt")
    state_dir = _tmp("jvm_resume_state")
    stage_changelog_files(first, d, n_chunks=1)

    try:
        out1 = run_compaction_stream_jvm(
            spark, d, ch.schema, ORDERS_PK, ORDERS_PAYLOAD, ckpt, state_dir
        )
        r1 = {r["rid"]: r["cdc_action"] for r in out1.collect()}
        assert r1 and set(r1.values()) == {"insert"}

        # append the update events as a new file, same checkpoint
        _append_chunk(second, d, "chunk-9999")

        out2 = run_compaction_stream_jvm(
            spark, d, ch.schema, ORDERS_PK, ORDERS_PAYLOAD, ckpt, state_dir
        )
        r2 = {r["rid"]: r["cdc_action"] for r in out2.collect()}
        # state carried over: insert+update folds to insert (M2), and
        # the payload advanced to the update's values
        assert set(r2.values()) == {"insert"}
        assert set(r2) == set(r1)
        full = compact(
            first.unionByName(second), ORDERS_PK, ORDERS_PAYLOAD
        )
        cols = ["tbl", "rid", "cdc_action", *ORDERS_PAYLOAD]
        assert _rows(out2, cols) == _rows(full, cols)
    finally:
        drop_state_jvm(spark, state_dir)


def test_transition_tuple_composes_exhaustively(spark):
    """The heart of the JVM merge: for EVERY action sequence up to
    length 4 and EVERY split point, merging the two halves through the
    transition tuples must equal the one-shot batch fold.  All
    (sequence, split) scenarios ride in ONE DataFrame pair — key id
    encodes the scenario — so the whole space is three Spark jobs."""
    from mysql_cdc_redis_spark.streaming.compact_jvm import (
        _delta_to_state,
        keyed_transitions,
    )

    actions = ("insert", "update", "delete")
    scenarios = []  # (key, events, split)
    k = 0
    for length in range(1, 5):
        for seq in product(actions, repeat=length):
            for split in range(0, length + 1):
                scenarios.append((f"k{k}", list(seq), split))
                k += 1

    rows_all, rows_b1, rows_b2 = [], [], []
    for key, evs, split in scenarios:
        for i, a in enumerate(evs):
            row = ("t", key, i, a, f"v{i}")
            rows_all.append(row)
            (rows_b1 if i < split else rows_b2).append(row)
    schema = "tbl string, pk string, seq long, cdc_action string, val string"
    all_df = spark.createDataFrame(rows_all, schema)
    b1 = spark.createDataFrame(rows_b1, schema) if rows_b1 else all_df.limit(0)
    b2 = spark.createDataFrame(rows_b2, schema) if rows_b2 else all_df.limit(0)

    pk, payload = ("pk",), ("pk", "val")
    expected = compact(all_df, pk, payload)

    d1 = keyed_transitions(b1, pk, payload)
    state1 = _delta_to_state(d1, payload)
    d2 = keyed_transitions(b2, pk, payload)
    merged = merge_state_delta(
        state1, d2, payload, key=("bkey",), carry_cols=("last_seq", "tbl", "rid")
    )

    cols = ["tbl", "rid", "cdc_action", "pk", "val"]
    assert _rows(merged.select(*cols), cols) == _rows(
        expected.select(*cols), cols
    ), "two-batch transition merge diverged from the one-shot fold"
    # sanity: annihilation epochs really drop keys in both forms
    assert (
        merged.filter(F.col("cdc_action") == ACTION_FOLD_SENTINEL).count() == 0
    )


def test_compose_transition_runs_exhaustively(spark):
    """The heart of the LSM read path: for EVERY action sequence up to
    length 4 and EVERY ordered 3-way split, composing the three
    per-batch transition runs (`compose_transition_runs`) must equal
    the one-shot batch fold — both from empty (runs only) and applied
    on top of a base state built from the first run
    (`fold_transition_state`).  All scenarios ride in ONE DataFrame
    set — key id encodes the scenario — so the space is a few Spark
    jobs."""
    from mysql_cdc_redis_spark.streaming.compact_jvm import (
        _delta_to_state,
        fold_transition_state,
        keyed_transitions,
    )

    actions = ("insert", "update", "delete")
    scenarios = []  # (key, events, i, j): runs = [0:i), [i:j), [j:len)
    k = 0
    for length in range(1, 5):
        for seq in product(actions, repeat=length):
            for i in range(0, length + 1):
                for j in range(i, length + 1):
                    scenarios.append((f"k{k}", list(seq), i, j))
                    k += 1

    rows_all, parts = [], ([], [], [])
    for key, evs, i, j in scenarios:
        for n, a in enumerate(evs):
            row = ("t", key, n, a, f"v{n}")
            rows_all.append(row)
            parts[0 if n < i else (1 if n < j else 2)].append(row)
    schema = "tbl string, pk string, seq long, cdc_action string, val string"
    all_df = spark.createDataFrame(rows_all, schema)
    pk, payload = ("pk",), ("pk", "val")
    expected = compact(all_df, pk, payload)

    deltas = [
        keyed_transitions(
            spark.createDataFrame(rows, schema) if rows else all_df.limit(0),
            pk,
            payload,
        ).withColumn("_run", F.lit(b))
        for b, rows in enumerate(parts)
    ]
    runs = deltas[0].unionByName(deltas[1]).unionByName(deltas[2])

    cols = ["tbl", "rid", "cdc_action", "pk", "val"]
    # (a) fold from empty: compose all three runs
    from_empty = fold_transition_state(None, runs, payload)
    assert _rows(from_empty.select(*cols), cols) == _rows(
        expected.select(*cols), cols
    ), "3-run compose from empty diverged from the one-shot fold"
    # (b) fold onto a base: run 0 materialized as state, runs 1-2 composed
    base = _delta_to_state(deltas[0].drop("_run"), payload)
    on_base = fold_transition_state(
        base, deltas[1].unionByName(deltas[2]), payload
    )
    assert _rows(on_base.select(*cols), cols) == _rows(
        expected.select(*cols), cols
    ), "base ∘ composed-runs diverged from the one-shot fold"
    assert (
        from_empty.filter(F.col("cdc_action") == ACTION_FOLD_SENTINEL).count() == 0
    )


def test_jvm_retry_is_deterministic(spark, sf_dir):
    """Exactly-once: re-running an already-committed batch id (the
    foreachBatch retry case) must reproduce the identical state — the
    replay reads the head's base plus its runs before the batch
    (immutable runs + the base slot it does not overwrite), including
    when the first attempt compacted."""
    from mysql_cdc_redis_spark.streaming.compact_jvm import (
        _StateRuns,
        _transition_fold,
        keyed_transitions,
    )
    from mysql_cdc_redis_spark.streaming.runstore import state_before

    ch = orders_changelog(spark, sf_dir).filter(F.col("o_orderkey") % 20 == 7)
    b1 = ch.filter(F.col("seq") % 2 == 0)
    b2 = ch.filter(F.col("seq") % 2 == 1)
    state_dir = _tmp("jvm_retry_state")
    pk, payload = ORDERS_PK, ORDERS_PAYLOAD
    # max_runs=1 → batch 1 triggers a compaction, the risky replay path
    slots = _StateRuns(spark, state_dir, _transition_fold(payload), max_runs=1)

    cols = ["tbl", "rid", "cdc_action", *payload]
    try:
        prev0 = state_before(slots.head(), 0)
        assert prev0 == {"base": None, "buckets": None, "runs": []}
        commit_batch(slots, _append(slots, keyed_transitions(b1, pk, payload), 0, prev0), 0)

        def apply_batch_1():
            prev = state_before(slots.head(), 1)
            # run 0 alone, or (on the retry) the base that folded it
            assert prev["base"] is not None or prev["runs"] == [_run(0)]
            view = _append(slots, keyed_transitions(b2, pk, payload), 1, prev)
            commit_batch(slots, view, 1)
            return view

        v1 = apply_batch_1()
        assert v1["base"] is not None and v1["runs"] == [_run(1)]  # compacted
        first = _rows(slots.state_at(v1).select(*cols), cols)
        v1b = apply_batch_1()  # the retry: same batch id, meta has it
        second = _rows(slots.state_at(v1b).select(*cols), cols)
        assert first == second
        assert first == _rows(
            compact(b1.unionByName(b2), pk, payload).select(*cols), cols
        )
    finally:
        drop_state_jvm(spark, state_dir)


def test_jvm_view_meta_torn_commit_reads_as_prior_state(spark):
    """The view commit log rides the PUT-only manifest protocol
    (round-7 advice #1): a commit torn mid-write must read back as the
    PRIOR view (the transition never happened), and the retry must land
    under a fresh version — no rename, no atomic-replace assumption
    anywhere."""
    import pytest

    from mysql_cdc_redis_spark.streaming.compact_jvm import _StateRuns
    from mysql_cdc_redis_spark.streaming.runstore import state_before

    from .fs_double import HostileFS, InjectedCrash

    state_dir = _tmp("jvm_torn_meta")
    fs = HostileFS()
    slots = _StateRuns(spark, state_dir, fs=fs)
    v0 = {"base": None, "buckets": None, "runs": [_run(0)]}
    v1 = {"base": None, "buckets": None, "runs": [_run(0), _run(1)]}
    try:
        commit_batch(slots, v0, 0)
        assert state_before(slots.head(), 1) == v0
        fs.arm_tear_write()
        with pytest.raises(InjectedCrash):
            commit_batch(slots, v1, 1)
        # the torn commit is invisible: batch 1 still folds from view 0
        assert slots.head() == v0
        assert state_before(slots.head(), 2) == v0
        fs.disarm()
        commit_batch(slots, v1, 1)  # the replay's commit
        assert state_before(slots.head(), 2) == v1
    finally:
        shutil.rmtree(state_dir, ignore_errors=True)


def test_jvm_view_map_stays_o1_over_many_batches(spark):
    """Round-8 verdict #2 standard, carried to the LSM: the manifest
    must NOT grow O(batches) — a year-long stream commits 10^5-10^6
    batches and the manifest must stay O(1).  After 100 commits the
    HEAD manifest is one view, the only one a replay reads, and a
    replayed newest batch re-commits without growing it."""
    import json

    from mysql_cdc_redis_spark.streaming.commitlog import LocalFS
    from mysql_cdc_redis_spark.streaming.compact_jvm import _StateRuns
    from mysql_cdc_redis_spark.streaming.runstore import state_before

    state_dir = _tmp("jvm_o1_meta")
    slots = _StateRuns(spark, state_dir, fs=LocalFS(), max_runs=4)
    log_dir = os.path.join(state_dir, "_log")

    def head_payload() -> dict:
        newest = sorted(os.listdir(log_dir))[-1]
        with open(os.path.join(log_dir, newest)) as f:
            return json.load(f)["payload"]

    try:
        for b in range(100):
            commit_batch(slots, {"base": None, "buckets": None, "runs": [_run(b)]}, b)
        v99 = {"base": None, "buckets": None, "runs": [_run(99)]}
        assert slots.head() == v99
        # the lookups the protocol can still issue: a replay of batch 99
        # and the next batch
        assert state_before(slots.head(), 99) == {**v99, "runs": []}
        assert state_before(slots.head(), 100) == v99
        # the on-disk head payload itself is bounded, not just the view
        assert head_payload() == v99
        # a replayed newest batch re-commits without growing the view
        commit_batch(slots, v99, 99)
        assert head_payload() == v99
    finally:
        shutil.rmtree(state_dir, ignore_errors=True)


@pytest.mark.parametrize(
    "payload",
    [
        {"views": {"0": {"base": None, "buckets": None, "runs": [0]}}},
        {"views": {"0": {"base": None, "buckets": None, "runs": [_run(0)]}}},
        {"slots": {"0": 0}},
        {"base": 0, "buckets": 1, "runs": []},
    ],
    ids=["bare_ids", "view_map", "slots", "base_outside_state_dir"],
)
def test_jvm_bare_run_ids_rejected(spark, sf_dir, payload):
    """State in a retired layout — views that list bare int run ids (the
    ``runs/b=<id>`` layout), a batch→view map of run entries, a pre-LSM
    ping-pong ``slots`` manifest, or a view whose base slot has no
    ``state_dir/base/<slot>`` dir (its base was a warehouse table) —
    makes the stream raise the named error instead of resuming it as
    empty state or failing on a missing path, and nothing is committed
    over it."""
    from mysql_cdc_redis_spark.streaming.commitlog import LocalFS, ManifestLog

    ch = orders_changelog(spark, sf_dir).filter(F.col("o_orderkey") % 20 == 7)
    src = _tmp("jvm_bare_ids_src")
    stage_changelog_files(ch, src, n_chunks=1)
    state_dir = _tmp("jvm_bare_ids_state")
    log = ManifestLog(LocalFS(), state_dir)
    try:
        log.commit(payload)
        head = log.head()
        with pytest.raises(Exception, match=r"legacy ping-pong[\s\S]*runs/b=<id>"):
            run_compaction_stream_jvm(
                spark, src, ch.schema, ORDERS_PK, ORDERS_PAYLOAD,
                _tmp("jvm_bare_ids_ckpt"), state_dir,
            )
        assert log.head() == head
    finally:
        drop_state_jvm(spark, state_dir)


def test_jvm_resume_over_four_tuple_runs(spark, sf_dir):
    """A committed run whose files carry columns composition never
    reads — the older four-entry tuple's extra ``f_delete`` column
    (always equal to ``f_update``) and a stored ``_run`` — resumes under
    the three-entry tuple.  The old and new runs read back through one
    parquet scan, compose at read time, and fold through a periodic
    compaction; the final state equals compact() over all files."""
    from mysql_cdc_redis_spark.streaming.compact_jvm import _StateRuns

    # seq = orderkey*4 + e: every scenario of a third of the keys, cut
    # into three seq-ordered per-key slices (e=3 rows carry a NULL key)
    ch = orders_changelog(spark, sf_dir).filter(F.col("seq") % 120 < 40)
    parts = [ch.filter(F.col("seq") % 4 == e) for e in (0, 1)]
    parts.append(ch.filter(F.col("seq") % 4 >= 2))
    src = _tmp("jvm_upgrade_src")
    ckpt = _tmp("jvm_upgrade_ckpt")
    state_dir = _tmp("jvm_upgrade_state")
    cols = ["tbl", "rid", "cdc_action", *ORDERS_PAYLOAD]
    stage_changelog_files(parts[0], src, n_chunks=1)

    def resume():
        return run_compaction_stream_jvm(
            spark, src, ch.schema, ORDERS_PK, ORDERS_PAYLOAD, ckpt, state_dir,
            max_files_per_trigger=1, max_runs=2,
        )

    try:
        resume()
        slots = _StateRuns(spark, state_dir)
        assert slots.head() == {"base": None, "buckets": None, "runs": [_run(0)]}
        # rewrite run 0 exactly as the four-entry layout stored it,
        # with the stored _run column that layout also carried
        run0 = os.path.join(_run_path(slots, 0), "bucket=0")
        old = _tmp("jvm_upgrade_old_run")
        spark.read.parquet(run0).select(
            "bkey", "tbl", "rid", "f_absent", "f_insert", "f_update",
            F.col("f_update").alias("f_delete"), "last_seq", "_last",
            F.lit(0).alias("_run"),
        ).write.parquet(old)
        shutil.rmtree(run0)
        shutil.move(old, run0)
        assert "f_delete" in spark.read.parquet(run0).columns

        # batch 1: old run 0 + new run 1 compose at read time
        _append_chunk(parts[1], src, "chunk-0001")
        assert _rows(resume(), cols) == _rows(
            compact(parts[0].unionByName(parts[1]), ORDERS_PK, ORDERS_PAYLOAD), cols
        )
        # batch 2 exceeds max_runs: runs 0-1 compact into a base
        _append_chunk(parts[2], src, "chunk-0002")
        out = resume()
        assert slots.head()["base"] is not None
        assert _rows(out, cols) == _rows(compact(ch, ORDERS_PK, ORDERS_PAYLOAD), cols)
        # one manifest per batch, the compacting batch included
        assert [v for v, _ in slots.log.recent(100)] == [3, 2, 1]
    finally:
        drop_state_jvm(spark, state_dir)


def test_jvm_empty_micro_batch_keeps_state_and_resume(spark, sf_dir):
    """A zero-row (schema-bearing) increment is a valid micro-batch: the
    stream over data, empty, data equals compact() over everything, and
    a resume over one more file still reads every run back.  A run dir
    holding no data file is never recorded in a view."""
    from mysql_cdc_redis_spark.streaming.compact_jvm import _StateRuns

    ch = orders_changelog(spark, sf_dir).filter(F.col("seq") % 120 < 40)
    parts = [ch.filter(F.col("seq") % 4 == e) for e in (0, 1)]
    parts.append(ch.filter(F.col("seq") % 4 >= 2))
    src = _tmp("jvm_empty_src")
    ckpt = _tmp("jvm_empty_ckpt")
    state_dir = _tmp("jvm_empty_state")
    cols = ["tbl", "rid", "cdc_action", *ORDERS_PAYLOAD]
    _append_chunk(parts[0], src, "chunk-0000")
    _append_chunk(ch.limit(0), src, "chunk-0001")  # the empty increment
    _append_chunk(parts[1], src, "chunk-0002")

    def run():
        return run_compaction_stream_jvm(
            spark, src, ch.schema, ORDERS_PK, ORDERS_PAYLOAD, ckpt, state_dir,
            max_files_per_trigger=1,
        )

    slots = _StateRuns(spark, state_dir)
    try:
        assert _rows(run(), cols) == _rows(
            compact(parts[0].unionByName(parts[1]), ORDERS_PK, ORDERS_PAYLOAD), cols
        )
        for r in slots.head()["runs"]:
            assert glob.glob(os.path.join(run_dir(slots.runs_root, r), "*", "*.parquet"))
        _append_chunk(parts[2], src, "chunk-0003")
        assert _rows(run(), cols) == _rows(compact(ch, ORDERS_PK, ORDERS_PAYLOAD), cols)
    finally:
        drop_state_jvm(spark, state_dir)


def test_jvm_run_without_data_file_is_not_recorded(spark, sf_dir):
    """A run dir that holds no data file, only the ``_SUCCESS`` marker,
    has no schema to read back: the view skips it, and a view that so
    far holds nothing reads as no state instead of failing."""
    from mysql_cdc_redis_spark.streaming.commitlog import LocalFS
    from mysql_cdc_redis_spark.streaming.compact_jvm import (
        _StateRuns,
        _transition_fold,
        keyed_transitions,
    )

    class NoDataFS(LocalFS):
        def list(self, path):
            return [n for n in super().list(path) if n.startswith(("_", "."))]

    state_dir = _tmp("jvm_nodata_state")
    slots = _StateRuns(spark, state_dir, _transition_fold(ORDERS_PAYLOAD), NoDataFS())
    ch = orders_changelog(spark, sf_dir)
    try:
        view = _append(
            slots, keyed_transitions(ch.limit(0), ORDERS_PK, ORDERS_PAYLOAD), 0,
            slots.head(),
        )
        assert view == {"base": None, "buckets": None, "runs": []}
        commit_batch(slots, view, 0)
        assert slots.state_at(slots.head()) is None
    finally:
        drop_state_jvm(spark, state_dir)


def test_jvm_gc_crash_mid_delete_recovers_and_reclaims(spark, sf_dir):
    """Run GC goes through the injected FS handle, so HostileFS can kill
    it: a recursive delete that dies halfway (after the batch's view
    commit) fails the batch; the rerun replays it to batch parity, and
    the half-deleted orphan run is reclaimed by a later commit."""
    import pytest

    from mysql_cdc_redis_spark.streaming.compact_jvm import _StateRuns

    from .fs_double import HostileFS, InjectedCrash

    ch = orders_changelog(spark, sf_dir).filter(F.col("seq") % 120 < 40)
    src = _tmp("jvm_gc_src")
    stage_changelog_files(ch, src, n_chunks=4)
    ckpt = _tmp("jvm_gc_ckpt")
    state_dir = _tmp("jvm_gc_state")
    fs = HostileFS()
    # max_runs=2: batch 2 compacts runs 0-1, and its commit GCs run 0
    # (delete #1), then run 1 (delete #2) — crash in the middle of it
    fs.arm_crash_delete(2)

    def run():
        return run_compaction_stream_jvm(
            spark, src, ch.schema, ORDERS_PK, ORDERS_PAYLOAD, ckpt, state_dir,
            max_files_per_trigger=1, fs=fs, max_runs=2,
        )

    slots = _StateRuns(spark, state_dir, fs=fs)
    try:
        with pytest.raises(Exception) as ei:
            run()
        assert "InjectedCrash" in str(ei.value) or isinstance(
            ei.value, InjectedCrash
        )
        assert fs.deletes == 2
        assert os.path.isdir(_run_path(slots, 1)), "crash must leave run 1 half-deleted"
        fs.disarm()
        out = run()
        cols = ["tbl", "rid", "cdc_action", *ORDERS_PAYLOAD]
        assert _rows(out, cols) == _rows(compact(ch, ORDERS_PK, ORDERS_PAYLOAD), cols)
        # only runs the head references are left on disk
        kept = {r["rid"] for r in slots.head()["runs"]}
        on_disk = fs.list(os.path.join(state_dir, "runs", "gen=0"))
        assert on_disk == sorted(f"ingest_id={r}" for r in kept), (on_disk, kept)
        assert not os.path.isdir(_run_path(slots, 1))
    finally:
        drop_state_jvm(spark, state_dir)


def _slots_holding_data(slots) -> list[int]:
    return [slot for slot in (0, 1) if slots.table_bytes(slot)]


def test_jvm_long_stream_keeps_one_base_slot(spark, sf_dir):
    """Once the head no longer references the superseded base slot, its
    data is dropped: after three compactions (batches 2, 4, 6 at
    max_runs=2), one slot holds data."""
    from mysql_cdc_redis_spark.streaming.compact_jvm import _StateRuns

    ch = orders_changelog(spark, sf_dir).filter(F.col("seq") % 120 < 40)
    src = _tmp("jvm_slot_src")
    stage_changelog_files(ch, src, n_chunks=7)
    state_dir = _tmp("jvm_slot_state")
    slots = _StateRuns(spark, state_dir)
    try:
        out = run_compaction_stream_jvm(
            spark, src, ch.schema, ORDERS_PK, ORDERS_PAYLOAD, _tmp("jvm_slot_ckpt"),
            state_dir, max_files_per_trigger=1, max_runs=2,
        )
        cols = ["tbl", "rid", "cdc_action", *ORDERS_PAYLOAD]
        assert _rows(out, cols) == _rows(compact(ch, ORDERS_PK, ORDERS_PAYLOAD), cols)
        head = slots.head()
        assert head["runs"] == [_run(6)]
        assert _slots_holding_data(slots) == [head["base"]]
    finally:
        drop_state_jvm(spark, state_dir)


def test_jvm_base_drop_crash_mid_delete_reruns_to_compact(spark, sf_dir):
    """The superseded slot's drop goes through the injected FS handle:
    a HostileFS delete that dies halfway through it (after batch 4's
    view commit) fails the batch; the rerun replays it, the next
    compaction overwrites the half-dropped slot, and the final state
    equals ``compact()`` with one slot holding data."""
    from mysql_cdc_redis_spark.streaming.compact_jvm import _StateRuns

    from .fs_double import HostileFS, InjectedCrash

    ch = orders_changelog(spark, sf_dir).filter(F.col("seq") % 120 < 40)
    src = _tmp("jvm_drop_src")
    stage_changelog_files(ch, src, n_chunks=7)
    ckpt = _tmp("jvm_drop_ckpt")
    state_dir = _tmp("jvm_drop_state")
    fs = HostileFS()
    # max_runs=2: deletes #1-#4 are run GC (batch 2's commit drops runs
    # 0-1, batch 4's runs 2-3); batch 4's commit then drops slot 0,
    # superseded by its own compaction
    fs.arm_crash_delete(5)

    def run():
        return run_compaction_stream_jvm(
            spark, src, ch.schema, ORDERS_PK, ORDERS_PAYLOAD, ckpt, state_dir,
            max_files_per_trigger=1, fs=fs, max_runs=2,
        )

    slots = _StateRuns(spark, state_dir, fs=fs)
    try:
        with pytest.raises(Exception) as ei:
            run()
        assert "InjectedCrash" in str(ei.value) or isinstance(ei.value, InjectedCrash)
        assert fs.deletes == 5
        assert _slots_holding_data(slots) == [0, 1], "crash must leave slot 0 half-dropped"
        assert slots.head()["base"] == 1
        fs.disarm()
        out = run()
        cols = ["tbl", "rid", "cdc_action", *ORDERS_PAYLOAD]
        assert _rows(out, cols) == _rows(compact(ch, ORDERS_PK, ORDERS_PAYLOAD), cols)
        assert _slots_holding_data(slots) == [slots.head()["base"]]
    finally:
        drop_state_jvm(spark, state_dir)


TS_COLS = ("cdc_ts", "o_orderdate")


def _ltz(df):
    """``df`` with its TIMESTAMP_NTZ columns cast to TIMESTAMP.  The sf
    fixtures store naive timestamps, which Spark writes as INT64 micros
    whatever the session's ``outputTimestampType``; a TIMESTAMP column,
    as Debezium sources and perfbench's generator produce, follows it."""
    return df.select(
        *[
            F.col(f.name).cast("timestamp") if f.dataType.typeName() == "timestamp_ntz"
            else F.col(f.name)
            for f in df.schema.fields
        ]
    )


def _parquet_columns(d):
    """``(file, row-group column chunk, schema column)`` of every parquet
    column chunk under ``d``."""
    import pyarrow.parquet as pq

    files = glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True)
    assert files, d
    for f in files:
        md = pq.ParquetFile(f).metadata
        for g in range(md.num_row_groups):
            for c in range(md.num_columns):
                yield f, md.row_group(g).column(c), md.schema.column(c)


def _ts_physical_types(d) -> set[str]:
    """Physical parquet types of the ``TS_COLS`` columns under ``d``."""
    return {
        col.physical_type
        for _, chunk, col in _parquet_columns(d)
        if chunk.path_in_schema.split(".")[-1] in TS_COLS
    }


@contextmanager
def _persisted_state(spark, sf_dir):
    """One file group of each persisted-state writer, by name: a stream
    run, a base slot, a ``write_bucketed`` table and a dedup-stream run."""
    from mysql_cdc_redis_spark.operators.scale import write_bucketed
    from mysql_cdc_redis_spark.streaming.compact_jvm import (
        _StateRuns,
        _transition_fold,
        keyed_transitions,
    )
    from mysql_cdc_redis_spark.streaming.runstore import write_run

    ch = _ltz(orders_changelog(spark, sf_dir).filter(F.col("o_orderkey") % 20 == 7))
    state_dir = _tmp("jvm_zstd_state")
    # max_runs=1: the second batch compacts the first's run into a base
    slots = _StateRuns(spark, state_dir, _transition_fold(ORDERS_PAYLOAD), max_runs=1)
    dedup_root = _tmp("dedup_zstd_runs")
    try:
        delta = keyed_transitions(ch, ORDERS_PK, ORDERS_PAYLOAD)
        view = _append(slots, delta, 0, slots.head())
        view = _append(slots, delta, 1, view)
        assert view["base"] == 0
        write_bucketed(ch, "zstd_bucketed", "o_orderkey")
        write_run(ch.select(F.col("o_orderkey").alias("k")), dedup_root, 0, "k", 4)
        wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        yield {
            "stream run": _run_path(slots, 0),
            "base slot": slots.table_dir(0),
            "write_bucketed": os.path.join(wh, "zstd_bucketed"),
            "dedup run": dedup_root,
        }
    finally:
        spark.sql("DROP TABLE IF EXISTS zstd_bucketed")
        shutil.rmtree(dedup_root, ignore_errors=True)
        drop_state_jvm(spark, state_dir)


def test_persisted_state_is_zstd(spark, sf_dir):
    """Every persisted-state writer writes zstd pages: a stream run, a
    base slot, a ``write_bucketed`` table and a dedup-stream run."""
    with _persisted_state(spark, sf_dir) as dirs:
        for what, d in dirs.items():
            for f, chunk, _ in _parquet_columns(d):
                assert chunk.compression == "ZSTD", (what, f, chunk.path_in_schema)


def test_persisted_timestamps_are_int64_micros_with_statistics(spark, sf_dir):
    """Every persisted timestamp is INT64 ``TIMESTAMP(MICROS)``, adjusted
    to UTC, with min/max statistics: in a stream run (inside ``_last``),
    a base slot and a ``write_bucketed`` table.  The dedup run holds no
    timestamp."""
    import json

    with _persisted_state(spark, sf_dir) as dirs:
        for what, d in dirs.items():
            seen = set()
            for f, chunk, col in _parquet_columns(d):
                name = chunk.path_in_schema.split(".")[-1]
                assert col.physical_type != "INT96", (what, f, name)
                if name not in TS_COLS:
                    continue
                seen.add(name)
                logical = json.loads(col.logical_type.to_json())
                assert col.physical_type == "INT64", (what, f, name)
                assert logical["Type"] == "Timestamp", (what, f, logical)
                assert logical["timeUnit"] == "microseconds", (what, f, logical)
                assert logical["isAdjustedToUTC"], (what, f, logical)
                assert chunk.statistics is not None and chunk.statistics.has_min_max
            assert seen == (set() if what == "dedup run" else set(TS_COLS)), what


def test_jvm_stream_resumes_over_int96_state(spark, sf_dir):
    """State written while timestamps were INT96 (Spark's default) —
    runs and a compacted base slot — resumes under INT64 micros: the
    batch after the restart reads the INT96 base beside its INT64 run,
    the next compaction folds both into an INT64 base, and the state
    equals compact() at both points."""
    from mysql_cdc_redis_spark.streaming.compact_jvm import _StateRuns

    ch = _ltz(orders_changelog(spark, sf_dir).filter(F.col("seq") % 120 < 40))
    # seq = orderkey*4 + e: seq-ordered per-key slices e=0 (cut in two by
    # orderkey parity), e=1, then e>=2 cut in two by orderkey (only even
    # orderkeys have an e=2 row; e=3 rows carry a NULL key)
    first = ch.filter(F.col("seq") % 4 == 0)
    parts = [first.filter(F.col("seq") % 8 < 4), first.filter(F.col("seq") % 8 >= 4)]
    parts.append(ch.filter(F.col("seq") % 4 == 1))
    late = ch.filter(F.col("seq") % 4 >= 2)
    parts += [late.filter(F.col("seq") % 16 < 8), late.filter(F.col("seq") % 16 >= 8)]
    src = _tmp("jvm_int96_src")
    ckpt = _tmp("jvm_int96_ckpt")
    state_dir = _tmp("jvm_int96_state")
    cols = ["tbl", "rid", "cdc_action", *ORDERS_PAYLOAD]
    conf = "spark.sql.parquet.outputTimestampType"
    for i in range(3):
        _append_chunk(parts[i], src, f"chunk-000{i}")

    def resume():
        return run_compaction_stream_jvm(
            spark, src, ch.schema, ORDERS_PK, ORDERS_PAYLOAD, ckpt, state_dir,
            max_files_per_trigger=1, max_runs=2,
        )

    slots = _StateRuns(spark, state_dir)
    prior = spark.conf.get(conf)
    try:
        # batches 0-2 under INT96; batch 2 compacts runs 0-1 into a base
        spark.conf.set(conf, "INT96")
        try:
            resume()
        finally:
            spark.conf.set(conf, prior)
        old_base = slots.head()["base"]
        assert old_base is not None
        assert _ts_physical_types(slots.table_dir(old_base)) == {"INT96"}

        # batch 3: a plain INT64 run over the INT96 base and run 2
        _append_chunk(parts[3], src, "chunk-0003")
        out = resume()
        view = slots.head()
        assert view["base"] == old_base and view["runs"] == [_run(2), _run(3)]
        assert _ts_physical_types(_run_path(slots, 3)) == {"INT64"}
        assert _rows(out, cols) == _rows(
            compact(parts[0].unionByName(parts[1]).unionByName(parts[2])
                    .unionByName(parts[3]), ORDERS_PK, ORDERS_PAYLOAD),
            cols,
        )

        # batch 4 compacts the INT96 base and runs into an INT64 base
        _append_chunk(parts[4], src, "chunk-0004")
        out = resume()
        new_base = slots.head()["base"]
        assert new_base != old_base
        assert _ts_physical_types(slots.table_dir(new_base)) == {"INT64"}
        assert _rows(out, cols) == _rows(compact(ch, ORDERS_PK, ORDERS_PAYLOAD), cols)
    finally:
        drop_state_jvm(spark, state_dir)


def _scan_output_rows(df) -> int:
    """Collect ``df``; return the rows its file scans handed upward (the
    scans' ``numOutputRows``, counted after row-group skipping)."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    leaves = plan.collectLeaves()
    scans = [leaves.apply(i) for i in range(leaves.size())]
    assert scans and all("Scan parquet" in s.nodeName() for s in scans), plan.toString()
    return sum(int(s.metrics().apply("numOutputRows").value()) for s in scans)


def test_timestamp_range_filter_skips_the_other_state_file(spark, sf_dir):
    """The min/max statistics of INT64 timestamps let a ``cdc_ts`` range
    filter skip state: over a two-file state written by ``state_writer``,
    split at the midpoint of ``cdc_ts``, a filter that matches only the
    later file reads only that file's rows.  (An INT96 column has no
    statistics and no pushed filter: the scan read both files.)"""
    from mysql_cdc_redis_spark.operators.scale import state_writer

    ch = _ltz(orders_changelog(spark, sf_dir)).filter(F.col("cdc_ts").isNotNull())
    mid_us = ch.select(
        ((F.unix_micros(F.min("cdc_ts")) + F.unix_micros(F.max("cdc_ts"))) / 2).cast("long")
    ).first()[0]
    late_cond = F.col("cdc_ts") >= F.timestamp_micros(F.lit(mid_us))
    d = _tmp("ts_range_state")
    try:
        state_writer(ch.filter(~late_cond).coalesce(1)).parquet(d)
        state_writer(ch.filter(late_cond).coalesce(1)).mode("append").parquet(d)
        assert len(glob.glob(os.path.join(d, "*.parquet"))) == 2
        n_late, n_all = ch.filter(late_cond).count(), ch.count()
        assert 0 < n_late < n_all
        q = spark.read.parquet(d).filter(late_cond)
        assert _scan_output_rows(q) == n_late
        assert q.count() == n_late
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_jvm_commit_cost_scales_with_batch_not_state(spark, sf_dir):
    """Round-9 verdict item 1 (the named scale-killer): the per-batch
    commit must write O(|batch|) bytes, not O(|state|).  Feed the same
    keys' events as one big first batch then a tiny second batch: the
    tiny batch's run bytes must be a small fraction of the state's, no
    base compaction may fire until the run count exceeds max_runs, and
    runs the head no longer lists must be GC'd after a compaction."""
    from mysql_cdc_redis_spark.streaming.compact_jvm import (
        _StateRuns,
        _transition_fold,
        keyed_transitions,
    )
    from mysql_cdc_redis_spark.streaming.runstore import state_before

    ch = orders_changelog(spark, sf_dir)
    # key-disjoint slices (a key's events never span batches, so batch
    # order is immaterial and seqs never collide across batches)
    big = ch.filter(F.col("o_orderkey") % 16 > 1)     # ~88% of keys
    tiny = ch.filter(F.col("o_orderkey") % 16 == 0)   # ~6%
    tiny2 = ch.filter(F.col("o_orderkey") % 16 == 1)  # ~6%
    state_dir = _tmp("jvm_cost_state")
    pk, payload = ORDERS_PK, ORDERS_PAYLOAD
    slots = _StateRuns(spark, state_dir, _transition_fold(payload), max_runs=2)

    def dir_bytes(p):
        return sum(
            os.path.getsize(os.path.join(r, f))
            for r, _, fs in os.walk(p)
            for f in fs
        ) if os.path.isdir(p) else 0

    try:
        commit_batch(
            slots, _append(slots, keyed_transitions(big, pk, payload), 0, slots.head()), 0
        )
        big_run_bytes = dir_bytes(_run_path(slots, 0))
        state_rows = spark.read.parquet(_run_path(slots, 0)).count()
        prev = state_before(slots.head(), 1)
        v1 = _append(slots, keyed_transitions(tiny, pk, payload), 1, prev)
        commit_batch(slots, v1, 1)
        tiny_run_bytes = dir_bytes(_run_path(slots, 1))
        tiny_run_rows = spark.read.parquet(_run_path(slots, 1)).count()
        # commit cost followed the batch, not the accumulated state:
        # the tiny batch's run holds its own keys only (rows are the
        # honest O(|batch|) metric — bytes carry fixed parquet footer
        # overhead), and nothing else was rewritten
        assert v1["base"] is None and v1["runs"] == [_run(0), _run(1)]  # no compaction yet
        assert tiny_run_rows < state_rows / 3, (tiny_run_rows, state_rows)
        assert tiny_run_bytes < big_run_bytes / 2, (tiny_run_bytes, big_run_bytes)
        # third batch exceeds max_runs: compaction folds runs 0-1 into a
        # base and keeps run 2...
        prev = state_before(slots.head(), 2)
        v2 = _append(slots, keyed_transitions(tiny2, pk, payload), 2, prev)
        commit_batch(slots, v2, 2)
        assert v2["base"] is not None and v2["runs"] == [_run(2)]
        # ...and the state equals the batch compactor over everything
        cols = ["tbl", "rid", "cdc_action", *payload]
        assert _rows(slots.state_at(v2).select(*cols), cols) == _rows(
            compact(big.unionByName(tiny).unionByName(tiny2), pk, payload), cols
        )
        # GC: the head lists neither run 0 nor run 1
        assert not os.path.isdir(_run_path(slots, 0))
    finally:
        drop_state_jvm(spark, state_dir)


def test_jvm_retraction_emissions_equal_per_chunk_batch_diff(spark, sf_dir):
    """The JVM retraction stream must emit the EXACT multiset of delta
    rows its batch form gives under the same micro-batch slicing — not
    just the same telescoped aggregate: for chunk i, −1 × the live rows
    of compact(chunks < i) and +1 × the live rows of compact(chunks ≤ i),
    both restricted to the keys chunk i touches."""
    from mysql_cdc_redis_spark.streaming import run_retraction_stream_jvm

    ch = orders_changelog(spark, sf_dir).filter(F.col("o_orderkey") % 5 == 2)
    payload = ("o_orderstatus", "o_totalprice")
    src = _tmp("jvm_retract_src")
    stage_changelog_files(ch, src, n_chunks=3)
    state_dir = _tmp("jvm_retract_state")
    cols = ["tbl", "rid", "sign", *payload]
    try:
        jvm = run_retraction_stream_jvm(
            spark, src, ch.schema, ORDERS_PK, payload,
            checkpoint_dir=_tmp("jvm_retract_ckpt"),
            state_dir=state_dir,
            deltas_dir=_tmp("jvm_retract_out"),
            max_files_per_trigger=1,
        )
        # the batch form, chunk by chunk in delivery order
        chunks = sorted(f for f in os.listdir(src) if f.endswith(".parquet"))
        assert len(chunks) == 3

        def live(df, sign):
            return df.filter(F.col("cdc_action") != "delete").select(
                "tbl", "rid", F.lit(sign).cast("long").alias("sign"), *payload
            )

        want = []
        for i in range(len(chunks)):
            chunk = spark.read.parquet(os.path.join(src, chunks[i]))
            # every key with an event, annihilated ones included
            touched = with_rid(chunk, ORDERS_PK).select("tbl", "rid").distinct()
            prefix = spark.read.parquet(*[os.path.join(src, c) for c in chunks[: i + 1]])
            plus = live(compact(prefix, ORDERS_PK, payload), 1)
            want += _rows(plus.join(touched, ["tbl", "rid"], "left_semi"), cols)
            if i:
                before = spark.read.parquet(*[os.path.join(src, c) for c in chunks[:i]])
                minus = live(compact(before, ORDERS_PK, payload), -1)
                want += _rows(minus.join(touched, ["tbl", "rid"], "left_semi"), cols)
        assert _rows(jvm, cols) == sorted(want)
        # and the telescoped sum equals the batch live state
        live_state = compact(ch, ORDERS_PK, ORDERS_PAYLOAD).filter(
            F.col("cdc_action") != "delete"
        )
        net = jvm.groupBy("rid").agg(F.sum("sign").alias("n"))
        assert net.filter(F.col("n") == 1).count() == live_state.count()
        assert net.filter(~F.col("n").isin(0, 1)).count() == 0
    finally:
        drop_state_jvm(spark, state_dir)


def test_jvm_retraction_stream_slicing_invariant(spark, sf_dir):
    """The summed retraction deltas must equal the batch aggregate of the
    live compacted state under ANY micro-batch slicing — 1 chunk
    (single batch) and 4 chunks (per-key state spanning batches) give
    identical results."""
    from mysql_cdc_redis_spark.streaming import run_retraction_stream_jvm

    ch = orders_changelog(spark, sf_dir)
    payload = ("o_orderstatus", "o_totalprice")

    def agg_of(deltas):
        rows = (
            deltas.groupBy("o_orderstatus")
            .agg(
                F.sum("sign").alias("n"),
                F.sum(
                    F.col("sign") * F.col("o_totalprice").cast("decimal(18,2)")
                ).alias("v"),
            )
            .filter(F.col("n") > 0)
            .collect()
        )
        return {r["o_orderstatus"]: (r["n"], str(r["v"])) for r in rows}

    results = []
    for chunks in (1, 4):
        src = _tmp(f"retract_par_src_{chunks}")
        stage_changelog_files(ch, src, n_chunks=chunks)
        state_dir = _tmp(f"retract_par_state_{chunks}")
        try:
            deltas = run_retraction_stream_jvm(
                spark, src, ch.schema, ORDERS_PK, payload,
                checkpoint_dir=_tmp(f"retract_par_ckpt_{chunks}"),
                state_dir=state_dir,
                deltas_dir=_tmp(f"retract_par_out_{chunks}"),
                max_files_per_trigger=1,
            )
            results.append(agg_of(deltas))
        finally:
            drop_state_jvm(spark, state_dir)

    live = compact(ch, ORDERS_PK, ORDERS_PAYLOAD).filter(
        F.col("cdc_action") != "delete"
    )
    batch = {
        r["o_orderstatus"]: (r["n"], str(r["v"]))
        for r in live.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .alias("v"),
        )
        .collect()
    }
    assert results[0] == results[1] == batch


def test_jvm_retraction_resume_midway(spark, sf_dir):
    """Emissions accumulate exactly-once across a checkpoint restart:
    the second run retracts payloads the FIRST run added (state spans
    the restart), and the accumulated deltas telescope to the full
    batch aggregate."""
    from mysql_cdc_redis_spark.streaming import run_retraction_stream_jvm

    ch = orders_changelog(spark, sf_dir).filter(F.col("o_orderkey") % 10 == 3)
    first = ch.filter(F.col("seq") % 4 == 0)   # the inserts
    second = ch.filter(F.col("seq") % 4 == 1)  # the updates
    payload = ("o_orderstatus", "o_totalprice")
    d = _tmp("jvm_retract_resume_src")
    ckpt = _tmp("jvm_retract_resume_ckpt")
    state_dir = _tmp("jvm_retract_resume_state")
    deltas_dir = _tmp("jvm_retract_resume_out")
    stage_changelog_files(first, d, n_chunks=1)
    try:
        out1 = run_retraction_stream_jvm(
            spark, d, ch.schema, ORDERS_PK, payload, ckpt, state_dir, deltas_dir
        )
        n1 = out1.count()
        assert n1 > 0 and out1.filter(F.col("sign") == -1).count() == 0

        _append_chunk(second, d, "chunk-9999")

        out2 = run_retraction_stream_jvm(
            spark, d, ch.schema, ORDERS_PK, payload, ckpt, state_dir, deltas_dir
        )
        # run 2 retracted every key the updates touched (they were all
        # live after run 1) and re-added the updated payload
        n_upd = second.select("o_orderkey").distinct().count()
        assert out2.filter(F.col("sign") == -1).count() == n_upd
        assert out2.count() == n1 + 2 * n_upd
        # telescoped aggregate == one-shot batch over both halves
        live = compact(
            first.unionByName(second), ORDERS_PK, ORDERS_PAYLOAD
        ).filter(F.col("cdc_action") != "delete")
        got = (
            out2.groupBy("o_orderstatus")
            .agg(
                F.sum("sign").alias("n"),
                F.sum(
                    F.col("sign") * F.col("o_totalprice").cast("decimal(18,2)")
                ).alias("v"),
            )
            .filter(F.col("n") > 0)
        )
        want = live.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("v"),
        )
        key = ["o_orderstatus", "n", "v"]
        assert _rows(got, key) == _rows(want, key)
    finally:
        drop_state_jvm(spark, state_dir)


def test_jvm_scd2_equals_batch_window(spark, sf_dir):
    """The JVM SCD2 stream's finalized history must equal the
    one-window batch SCD2 under multi-batch slicing (every event is a
    version; valid_to = next event's ts; open versions are current)."""
    from mysql_cdc_redis_spark.streaming import run_scd2_stream_jvm

    ch = orders_changelog(spark, sf_dir).filter(F.col("o_orderkey") % 5 == 1)
    src = _tmp("jvm_scd2_src")
    stage_changelog_files(ch, src, n_chunks=3)
    state_dir = _tmp("jvm_scd2_state")
    cols = [
        "tbl", "rid", "cdc_action", "valid_from", "valid_to",
        "is_current", "version", *ORDERS_PAYLOAD,
    ]
    try:
        jvm = run_scd2_stream_jvm(
            spark, src, ch.schema, ORDERS_PK, ORDERS_PAYLOAD,
            checkpoint_dir=_tmp("jvm_scd2_ckpt"),
            state_dir=state_dir,
            emissions_dir=_tmp("jvm_scd2_emit"),
            max_files_per_trigger=1,
        )
        # one-window batch oracle form
        from pyspark.sql.window import Window

        w = Window.partitionBy("tbl", "rid").orderBy("seq")
        batch = (
            ch.withColumn("rid", F.col("o_orderkey").cast("string"))
            .filter(F.col("rid").isNotNull())
            .select(
                "tbl", "rid", "cdc_action",
                F.col("cdc_ts").cast("string").alias("valid_from"),
                F.lead(F.col("cdc_ts").cast("string")).over(w).alias("valid_to"),
                F.lead("seq").over(w).isNull().alias("is_current"),
                F.row_number().over(w).cast("int").alias("version"),
                *ORDERS_PAYLOAD,
            )
        )
        assert _rows(jvm, cols) == _rows(batch, cols)
    finally:
        drop_state_jvm(spark, state_dir)


def test_jvm_scd2_resume_midway(spark, sf_dir):
    """History spans a checkpoint restart: versions opened by run 1 are
    closed by run 2's events, version numbers continue, and the
    accumulated history equals the one-shot batch window."""
    from mysql_cdc_redis_spark.streaming import run_scd2_stream_jvm

    ch = orders_changelog(spark, sf_dir).filter(F.col("o_orderkey") % 10 == 6)
    first = ch.filter(F.col("seq") % 4 == 0)
    second = ch.filter(F.col("seq") % 4 == 1)
    d = _tmp("jvm_scd2_resume_src")
    ckpt = _tmp("jvm_scd2_resume_ckpt")
    state_dir = _tmp("jvm_scd2_resume_state")
    emit = _tmp("jvm_scd2_resume_emit")
    stage_changelog_files(first, d, n_chunks=1)
    cols = [
        "tbl", "rid", "cdc_action", "valid_from", "valid_to",
        "is_current", "version", *ORDERS_PAYLOAD,
    ]
    try:
        out1 = run_scd2_stream_jvm(
            spark, d, ch.schema, ORDERS_PK, ORDERS_PAYLOAD,
            ckpt, state_dir, emit,
        )
        assert out1.filter(~F.col("is_current")).count() == 0  # all open

        _append_chunk(second, d, "chunk-9999")

        out2 = run_scd2_stream_jvm(
            spark, d, ch.schema, ORDERS_PK, ORDERS_PAYLOAD,
            ckpt, state_dir, emit,
        )
        from pyspark.sql.window import Window

        w = Window.partitionBy("tbl", "rid").orderBy("seq")
        batch = (
            first.unionByName(second)
            .withColumn("rid", F.col("o_orderkey").cast("string"))
            .select(
                "tbl", "rid", "cdc_action",
                F.col("cdc_ts").cast("string").alias("valid_from"),
                F.lead(F.col("cdc_ts").cast("string")).over(w).alias("valid_to"),
                F.lead("seq").over(w).isNull().alias("is_current"),
                F.row_number().over(w).cast("int").alias("version"),
                *ORDERS_PAYLOAD,
            )
        )
        assert _rows(out2, cols) == _rows(batch, cols)
    finally:
        drop_state_jvm(spark, state_dir)


def test_jvm_compaction_join_is_exchange_free_on_base_side(spark, sf_dir):
    """Plan guardrail: the PERIODIC COMPACTION's merge join (bucketed
    base ∘ composed runs) must not re-shuffle the base side — at 100×
    the base is the big side and its re-shuffle would be the whole
    compaction cost.  The composed-runs side (bounded by max_runs
    batches) may shuffle."""
    from mysql_cdc_redis_spark.streaming.compact_jvm import (
        _delta_to_state,
        _StateRuns,
        fold_transition_state,
        keyed_transitions,
    )

    ch = orders_changelog(spark, sf_dir).filter(F.col("o_orderkey") % 20 == 7)
    state_dir = _tmp("jvm_plan_state")
    slots = _StateRuns(spark, state_dir)
    pk, payload = ORDERS_PK, ORDERS_PAYLOAD
    try:
        delta = keyed_transitions(ch, pk, payload)
        slots.write_base(_delta_to_state(delta, payload), 0, 8)
        # base_buckets=8 pre-partitions the runs side into the base's
        # bucket count — without it the planner disables the bucketed
        # scan and re-shuffles the (big) base to the runs' partition
        # count instead (observed: "Bucketed: false (disabled by query
        # planner)" + Exchange over the base)
        merged = fold_transition_state(
            slots.read_base(0),
            delta.withColumn("_run", F.lit(1)),
            payload,
            base_buckets=8,
        )
        plan = merged._jdf.queryExecution().executedPlan().toString()
        # walk the plan: no Exchange may sit between the join and the
        # base table's FileScan (the runs branch legitimately has one)
        join_at = plan.find("SortMergeJoin")
        assert join_at >= 0, plan
        state_scan_at = plan.find(slots.tables[0])
        assert state_scan_at > join_at, plan
        exchanges_before_state = plan.count("Exchange", join_at, state_scan_at)
        # exactly ONE exchange (the runs' hash repartition) may appear
        # between the join and the base scan in the printed tree,
        # because the runs branch prints first; the base branch itself
        # must be exchange-free — verify via bucketed-scan marker
        assert "SelectedBucketsCount" in plan, plan
        assert exchanges_before_state <= 1, plan
    finally:
        drop_state_jvm(spark, state_dir)


def test_jvm_sized_base_keeps_compaction_join_exchange_free(spark, sf_dir):
    """A base written by the compaction at its byte-sized bucket count
    (one bucket for this sub-MB state) still folds with the next runs
    through a merge join whose base side has no Exchange."""
    from mysql_cdc_redis_spark.streaming.compact_jvm import (
        _StateRuns,
        _transition_fold,
        fold_transition_state,
        keyed_transitions,
    )

    ch = orders_changelog(spark, sf_dir).filter(F.col("o_orderkey") % 20 == 7)
    state_dir = _tmp("jvm_sized_plan_state")
    pk, payload = ORDERS_PK, ORDERS_PAYLOAD
    slots = _StateRuns(spark, state_dir, _transition_fold(payload), max_runs=1)
    try:
        delta = keyed_transitions(ch, pk, payload)
        view = _append(slots, delta, 0, slots.head())
        view = _append(slots, delta, 1, view)
        assert view["buckets"] == 1, view
        merged = fold_transition_state(
            slots.read_base(view["base"]),
            delta.withColumn("_run", F.lit(1)),
            payload,
            base_buckets=view["buckets"],
        )
        plan = merged._jdf.queryExecution().executedPlan().toString()
        join_at = plan.find("SortMergeJoin")
        state_scan_at = plan.find(slots.tables[view["base"]])
        assert 0 <= join_at < state_scan_at, plan
        assert "SelectedBucketsCount: 1 out of 1" in plan, plan
        # the runs branch prints first and holds the one Exchange
        assert plan.count("Exchange", join_at, state_scan_at) <= 1, plan
    finally:
        drop_state_jvm(spark, state_dir)


# streams the staged source through the JVM compactor in its own
# process: argv = src, ckpt, state_dir, the changelog schema as JSON
_CHILD_STREAM = """
import json, sys
from pyspark.sql.types import StructType
from mysql_cdc_redis_spark.session import get_spark
from mysql_cdc_redis_spark.sources.changelog import ORDERS_PAYLOAD, ORDERS_PK
from mysql_cdc_redis_spark.streaming import run_compaction_stream_jvm

src, ckpt, state_dir, schema = sys.argv[1:]
spark = get_spark(app_name="jvm-stream-child")
run_compaction_stream_jvm(
    spark, src, StructType.fromJson(json.loads(schema)), ORDERS_PK, ORDERS_PAYLOAD,
    ckpt, state_dir, max_files_per_trigger=1, max_runs=1,
)
spark.stop()
"""


def test_jvm_state_dir_resumes_in_a_fresh_session(spark, sf_dir, tmp_path):
    """The state dir alone is the state.  A child process streams three
    files through two compactions (max_runs=1); this session, whose
    catalog never saw the state's base slots, then folds the child's
    base with a compaction join whose base side is Exchange-free, and
    resumes with a fourth file to compact() over all four."""
    from mysql_cdc_redis_spark.streaming.compact_jvm import _StateRuns, _transition_fold

    ch = orders_changelog(spark, sf_dir).filter(F.col("o_orderkey") % 10 == 3)
    # seq = orderkey*4 + e: four seq-ordered per-key slices
    parts = [ch.filter(F.col("seq") % 4 == e) for e in range(4)]
    src, ckpt, state_dir = (str(tmp_path / d) for d in ("src", "ckpt", "state"))
    cols = ["tbl", "rid", "cdc_action", *ORDERS_PAYLOAD]
    for i in range(3):
        _append_chunk(parts[i], src, f"chunk-000{i}")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    child = subprocess.run(
        [sys.executable, "-c", _CHILD_STREAM, src, ckpt, state_dir, ch.schema.json()],
        cwd=tmp_path, env={**os.environ, "PYTHONPATH": repo},
        capture_output=True, text=True, timeout=600,
    )
    assert child.returncode == 0, child.stderr[-4000:]

    slots = _StateRuns(spark, state_dir, _transition_fold(ORDERS_PAYLOAD))
    try:
        view = slots.head()
        assert view["base"] is not None and view["buckets"] == 1, view
        assert not spark.catalog.tableExists(slots.tables[view["base"]])
        folded = slots.state_at(view)
        plan = folded._jdf.queryExecution().executedPlan().toString()
        join_at = plan.find("SortMergeJoin")
        state_scan_at = plan.find(slots.tables[view["base"]])
        assert 0 <= join_at < state_scan_at, plan
        assert "SelectedBucketsCount: 1 out of 1" in plan, plan
        # the runs branch prints first and holds the one Exchange
        assert plan.count("Exchange", join_at, state_scan_at) <= 1, plan

        _append_chunk(parts[3], src, "chunk-0003")
        out = run_compaction_stream_jvm(
            spark, src, ch.schema, ORDERS_PK, ORDERS_PAYLOAD, ckpt, state_dir,
            max_files_per_trigger=1, max_runs=1,
        )
        assert _rows(out, cols) == _rows(compact(ch, ORDERS_PK, ORDERS_PAYLOAD), cols)
    finally:
        drop_state_jvm(spark, state_dir)


def test_dual_sink_pipeline_jvm_equals_batch_with_midway_resume(spark, sf_dir):
    """The composed reference loop (tail → keyed merge → CSV dump) in its
    pure-JVM form, with the checkpoint resume happening MIDWAY: half the
    changelog, run; append the rest, run again on the same checkpoint +
    state slots.  All three sinks must then agree with the one-shot
    batch compaction: the K4 snapshot directly, the K5 emission log and
    the K1 CSV dump via the per-key max_by(last_seq) finalize (total
    because annihilation tombstones carry the killing seq)."""
    from pyspark.sql.types import StructType

    from mysql_cdc_redis_spark.operators.dump import read_dump
    from mysql_cdc_redis_spark.streaming import (
        run_compaction_pipeline_dual_sink_jvm,
    )

    ch = orders_changelog(spark, sf_dir)
    first = ch.filter(F.col("seq") % 4 <= 1)
    second = ch.filter(F.col("seq") % 4 >= 2)
    src = _tmp("jdual_src")
    dirs = dict(
        checkpoint_dir=_tmp("jdual_ckpt"),
        emissions_dir=_tmp("jdual_emit"),
        csv_dir=_tmp("jdual_csv"),
        state_dir=_tmp("jdual_state"),
        snapshot_dir=_tmp("jdual_snap"),
    )
    stage_changelog_files(first, src, n_chunks=2)
    args = (spark, src, ch.schema, ORDERS_PK, ORDERS_PAYLOAD)
    kw = dict(date_col="cdc_ts", fmt="yyyyMM", max_files_per_trigger=1, **dirs)

    try:
        run_compaction_pipeline_dual_sink_jvm(*args, **kw)
        n_csv_mid = sum(
            len([f for f in files if f.endswith(".csv")])
            for _, _, files in os.walk(dirs["csv_dir"])
        )
        assert n_csv_mid > 0, "first run must have dumped CSV"

        _append_chunk(second, src, "chunk-9999")

        state = run_compaction_pipeline_dual_sink_jvm(*args, **kw)

        batch = compact(ch, ORDERS_PK, ORDERS_PAYLOAD)
        cols = ["tbl", "rid", "cdc_action", *ORDERS_PAYLOAD]
        # K4 snapshot == batch compaction (state spanned the restart)
        assert _rows(state.select(*cols), cols) == _rows(batch.select(*cols), cols)

        # K5 emission log: exactly-once per-batch partitions; finalize =
        # last emission per key by last_seq, tombstones dropped
        emitted = spark.read.parquet(dirs["emissions_dir"])
        fin_emit = (
            emitted.groupBy("tbl", "rid")
            .agg(
                F.max_by(
                    F.struct("cdc_action", *ORDERS_PAYLOAD), F.col("last_seq")
                ).alias("s")
            )
            .select("tbl", "rid", "s.*")
            .filter(F.col("cdc_action") != ACTION_FOLD_SENTINEL)
        )
        assert _rows(fin_emit.select(*cols), cols) == _rows(batch.select(*cols), cols)

        # K1 CSV dump: same finalize over the read-back
        csv_schema = (
            StructType()
            .add("tbl", "string")
            .add("rid", "string")
            .add("cdc_action", "string")
            .add("last_seq", "long")
        )
        for c in ORDERS_PAYLOAD:
            csv_schema = csv_schema.add(ch.schema[c])
        back = read_dump(spark, dirs["csv_dir"], schema=csv_schema)
        fin_csv = (
            back.groupBy("tbl", "rid")
            .agg(
                F.max_by(
                    F.struct("cdc_action", *ORDERS_PAYLOAD), F.col("last_seq")
                ).alias("s")
            )
            .select("tbl", "rid", "s.*")
            .filter(F.col("cdc_action") != ACTION_FOLD_SENTINEL)
        )
        assert _rows(fin_csv.select(*cols), cols) == _rows(batch.select(*cols), cols)
    finally:
        drop_state_jvm(spark, dirs["state_dir"])


def test_jvm_retraction_torn_commit_emits_exactly_once(spark, sf_dir):
    """A crash between a batch's emission and its manifest commit: batch
    1's delta partition lands, then its commit TEARS.  The restart
    replays batch 1 from the prior view over its own partition, so the
    emission multiset equals a clean run's — no duplicated rows."""
    from mysql_cdc_redis_spark.streaming import run_retraction_stream_jvm

    from .fs_double import HostileFS, InjectedCrash

    ch = orders_changelog(spark, sf_dir).filter(F.col("o_orderkey") % 5 == 2)
    payload = ("o_orderstatus", "o_totalprice")
    src = _tmp("jvm_retract_torn_src")
    stage_changelog_files(ch, src, n_chunks=3)
    cols = ["tbl", "rid", "sign", *payload]
    torn = [_tmp(f"jvm_retract_torn_{d}") for d in ("ckpt", "state", "out")]
    clean = [_tmp(f"jvm_retract_clean_{d}") for d in ("ckpt", "state", "out")]

    def run(ckpt, state_dir, deltas_dir, fs=None):
        return run_retraction_stream_jvm(
            spark, src, ch.schema, ORDERS_PK, payload, ckpt, state_dir,
            deltas_dir, max_files_per_trigger=1, fs=fs,
        )

    fs = HostileFS()
    fs.tear_write_at = 2  # batch 0 commits; batch 1 emits, then its commit tears
    try:
        with pytest.raises(Exception) as ei:
            run(*torn, fs=fs)
        assert "InjectedCrash" in str(ei.value) or isinstance(
            ei.value, InjectedCrash
        )
        emitted = os.listdir(torn[2])
        assert "batch_id=1" in emitted and "batch_id=2" not in emitted
        fs.disarm()
        resumed = run(*torn, fs=fs)
        assert _rows(resumed, cols) == _rows(run(*clean), cols)
    finally:
        drop_state_jvm(spark, torn[1])
        drop_state_jvm(spark, clean[1])


def test_dual_sink_torn_commit_dumps_each_row_once(spark, sf_dir):
    """A crash between a dual-sink batch's CSV write and its manifest
    commit: batch 1 dumps its CSV rows, then its commit TEARS.  The
    restart replays batch 1 over its own ``batch_id=1`` CSV dir, so the
    dump holds each emitted ``(tbl, rid, last_seq)`` row exactly once."""
    from pyspark.sql.types import StructType

    from mysql_cdc_redis_spark.operators.dump import read_dump
    from mysql_cdc_redis_spark.streaming import run_compaction_pipeline_dual_sink_jvm

    from .fs_double import HostileFS

    ch = orders_changelog(spark, sf_dir).filter(F.col("o_orderkey") % 5 == 2)
    src = _tmp("jdual_torn_src")
    stage_changelog_files(ch, src, n_chunks=3)
    dirs = dict(
        checkpoint_dir=_tmp("jdual_torn_ckpt"),
        emissions_dir=_tmp("jdual_torn_emit"),
        csv_dir=_tmp("jdual_torn_csv"),
        state_dir=_tmp("jdual_torn_state"),
        snapshot_dir=_tmp("jdual_torn_snap"),
    )
    csv_schema = StructType().add("tbl", "string").add("rid", "string")
    csv_schema = csv_schema.add("cdc_action", "string").add("last_seq", "long")
    for c in ORDERS_PAYLOAD:
        csv_schema = csv_schema.add(ch.schema[c])
    key = ["tbl", "rid", "last_seq"]

    def run(fs):
        run_compaction_pipeline_dual_sink_jvm(
            spark, src, ch.schema, ORDERS_PK, ORDERS_PAYLOAD,
            max_files_per_trigger=1, fs=fs, **dirs,
        )

    fs = HostileFS()
    fs.tear_write_at = 2  # batch 0 commits; batch 1 dumps, then its commit tears
    try:
        with pytest.raises(Exception):
            run(fs)
        assert read_dump(spark, dirs["csv_dir"], csv_schema).count() > 0
        fs.disarm()
        run(fs)
        dumped = _rows(read_dump(spark, dirs["csv_dir"], csv_schema), key)
        assert len(dumped) == len(set(dumped)), "a replayed batch dumped its rows twice"
        assert dumped == _rows(spark.read.parquet(dirs["emissions_dir"]), key)
    finally:
        drop_state_jvm(spark, dirs["state_dir"])


@pytest.mark.parametrize("variant", ["retraction", "scd2"])
def test_jvm_emitting_stream_over_empty_source(spark, sf_dir, variant):
    """A source holding only a zero-row, schema-bearing file: the
    emitting streams return zero rows with their documented columns and
    types, read from an emission dir no batch wrote data into."""
    from mysql_cdc_redis_spark.streaming import (
        run_retraction_stream_jvm,
        run_scd2_stream_jvm,
    )

    if variant == "retraction":
        run = run_retraction_stream_jvm
        head = {"tbl": "string", "rid": "string", "sign": "bigint"}
    else:
        run = run_scd2_stream_jvm
        head = {
            "tbl": "string", "rid": "string", "cdc_action": "string",
            "valid_from": "string", "valid_to": "string",
            "is_current": "boolean", "version": "int",
        }
    ch = orders_changelog(spark, sf_dir)
    src = _tmp(f"jvm_empty_{variant}_src")
    _append_chunk(ch.limit(0), src, "chunk-0000")
    state_dir = _tmp(f"jvm_empty_{variant}_state")
    try:
        out = run(
            spark, src, ch.schema, ORDERS_PK, ORDERS_PAYLOAD,
            _tmp(f"jvm_empty_{variant}_ckpt"), state_dir,
            _tmp(f"jvm_empty_{variant}_out"),
        )
        payload = {c: ch.schema[c].dataType.simpleString() for c in ORDERS_PAYLOAD}
        assert out.dtypes == list({**head, **payload}.items())
        assert out.count() == 0
    finally:
        drop_state_jvm(spark, state_dir)
