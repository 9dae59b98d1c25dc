"""The LSM run store both streams share (streaming/runstore.py): a run
written at any power-of-two modulus reads back whole from its manifest
entry, and GC deletes exactly the run dirs outside the live set."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from mysql_cdc_redis_spark.streaming.runstore import (
    bucket_of,
    gc_runs,
    read_runs,
    run_dir,
    write_run,
)

from .fs_double import HostileFS


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
