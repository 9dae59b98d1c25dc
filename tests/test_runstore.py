"""The LSM run store both streams share (streaming/runstore.py): a run
written at any power-of-two modulus reads back whole from its manifest
entry, GC deletes exactly the run dirs outside the live set, and the
run log's four rules hold over plain dict manifests."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from mysql_cdc_redis_spark.streaming.commitlog import ManifestLog
from mysql_cdc_redis_spark.streaming.runstore import (
    bucket_of,
    gc_live,
    gc_runs,
    read_runs,
    run_dir,
    runs_to_fold,
    state_before,
    with_run,
    write_run,
)

from .fs_double import HostileFS, InjectedCrash


@pytest.mark.parametrize("n_buckets", [1, 4])
def test_run_round_trip_and_gc(spark, tmp_path, n_buckets):
    root = str(tmp_path / "runs")
    df = spark.range(64).select(
        F.concat(F.lit("k"), F.col("id").cast("string")).alias("key"),
        (F.col("id") * 7).alias("v"),
    )
    runs = [
        {"rid": rid, "gen": gen, "n_buckets": n_buckets}
        for gen, rid in ((0, 0), (0, 1), (1, 1))
    ]
    for r in runs:
        write_run(df, root, r["rid"], "key", n_buckets, gen=r["gen"],
                  single_task=n_buckets == 1)
        d = run_dir(root, r)
        buckets = sorted(b for b in os.listdir(d) if b.startswith("bucket="))
        assert buckets == [f"bucket={b}" for b in range(n_buckets)], buckets
        for b in buckets:
            files = [f for f in os.listdir(os.path.join(d, b)) if f.endswith(".parquet")]
            assert len(files) == 1, (b, files)

    # round trip: each row comes back once per run, stamped with the
    # run's ingest_id and the bucket its key hashes to
    back = read_runs(spark, root, runs[:2])
    want = sorted((rid, k, v) for rid in (0, 1) for k, v in df.collect())
    assert sorted(
        (r["ingest_id"], r["key"], r["v"]) for r in back.collect()
    ) == want
    assert back.filter(F.col("bucket") != bucket_of(F.col("key"), n_buckets)).count() == 0

    # GC through a hostile FS: only the dirs outside the live set go
    fs = HostileFS()
    gc_runs(fs, [root], {(0, 1)})
    assert fs.deletes == 2
    assert os.listdir(os.path.join(root, "gen=0")) == ["ingest_id=1"]
    assert os.listdir(os.path.join(root, "gen=1")) == []


def _entry(rid: int, gen: int = 0) -> dict:
    return {"rid": rid, "gen": gen, "n_buckets": 1}


def test_run_log_rules(tmp_path):
    """Replay, commit, compaction selection and the GC-live set, with no
    Spark: dict manifests over a ManifestLog on the hostile FS."""
    manifest = {"base": 1, "buckets": 4, "runs": [_entry(r) for r in (3, 4, 5)]}

    # replay rule: the batch's own entry (and anything newer) is ignored
    assert state_before(manifest, 5) == {**manifest, "runs": [_entry(3), _entry(4)]}
    assert state_before(manifest, 6) == manifest
    assert state_before(manifest, 3)["runs"] == []

    # commit rule: a replayed commit replaces its entry, never appends
    retried = {**_entry(5), "n_buckets": 2}
    runs = with_run(manifest["runs"], retried)
    assert runs == [_entry(3), _entry(4), retried]
    assert with_run(runs, retried) == runs
    assert with_run([_entry(4)], _entry(3)) == [_entry(3), _entry(4)]

    # compaction selection: never the newest run, nothing at <= N runs
    assert runs_to_fold(runs, 3) == []
    assert runs_to_fold(runs, 2) == [_entry(3), _entry(4)]
    assert runs_to_fold(list(reversed(runs)), 1) == [_entry(3), _entry(4)]
    assert runs_to_fold([_entry(7)], 0) == []

    # GC-live set: a torn newest commit frees nothing its valid
    # predecessor lists
    fs = HostileFS()
    root = str(tmp_path / "state")
    log = ManifestLog(fs, root)
    older = {"base": 0, "buckets": 1, "runs": [_entry(1), _entry(2)]}
    prior = {"base": 1, "buckets": 1, "runs": [_entry(2, gen=1), _entry(3)]}
    log.commit(older)
    log.commit(prior)
    fs.arm_tear_write()
    with pytest.raises(InjectedCrash):
        log.commit({"base": 0, "buckets": 1, "runs": [_entry(4)]})
    assert gc_live(log, 1) == ({(1, 2), (0, 3)}, {1})
    assert gc_live(log, 2) == ({(0, 1), (0, 2), (1, 2), (0, 3)}, {0, 1})

    runs_root = os.path.join(root, "runs")
    for gen, rid in ((0, 1), (0, 2), (1, 2), (0, 3), (0, 4)):
        os.makedirs(run_dir(runs_root, _entry(rid, gen)))
    gc_runs(fs, [runs_root], gc_live(log, 1)[0])
    assert os.listdir(os.path.join(runs_root, "gen=0")) == ["ingest_id=3"]
    assert os.listdir(os.path.join(runs_root, "gen=1")) == ["ingest_id=2"]
