"""Unit tests for the sink family (K1/K4/K6, W3 chunking) and the
operational policies (T3 flush, A5/P5 observe metrics)."""

from __future__ import annotations

import glob
import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from mysql_cdc_redis_spark.operators.compaction import compact
from mysql_cdc_redis_spark.operators.dump import (
    dump_state_parquet,
    dump_to_csv,
    read_dump,
)
from mysql_cdc_redis_spark.plans.streaming_queries import _tmp  # removed at exit
from mysql_cdc_redis_spark.sources.changelog import (
    ORDERS_PAYLOAD,
    ORDERS_PK,
    orders_changelog,
)
from mysql_cdc_redis_spark.streaming.policies import FlushPolicy, with_progress_metrics


def test_csv_dump_chunking_and_layout(spark, sf_dir):
    """K1+W3: date partitions on disk, header per file, ≤ max_rows rows
    per file (the reference's 1e6 default scaled down to force splits)."""
    compacted = compact(orders_changelog(spark, sf_dir), ORDERS_PK, ORDERS_PAYLOAD).select(
        "tbl", "rid", "cdc_action", "cdc_ts", "o_totalprice"
    )
    out = _tmp("dump_csv")
    dump_to_csv(compacted, out, date_col="cdc_ts", fmt="yyyy", max_rows_per_file=500)
    # partition dirs dt=<yyyy>
    parts = sorted(os.path.basename(p) for p in glob.glob(f"{out}/dt=*"))
    assert parts and all(p.startswith("dt=") for p in parts)
    # chunk limit respected
    for f in glob.glob(f"{out}/dt=*/*.csv"):
        with open(f) as fh:
            n = sum(1 for _ in fh) - 1  # minus header
        assert n <= 500
    # header + roundtrip row count
    back = read_dump(spark, out, schema=compacted.schema)
    assert back.count() == compacted.count()


def test_state_sink_partition_overwrite(spark, sf_dir):
    """K4+K6: table-partitioned parquet state; a per-table clear is a
    partition overwrite that leaves other tables untouched."""
    compacted = compact(orders_changelog(spark, sf_dir), ORDERS_PK, ORDERS_PAYLOAD).select(
        "tbl", "rid", "cdc_action"
    )
    path = _tmp("state")
    dump_state_parquet(compacted, path)
    n0 = spark.read.parquet(path).count()
    assert n0 == compacted.count()
    assert os.path.isdir(f"{path}/tbl=orders")
    # K6 destructive clear of one table = dynamic partition overwrite
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        empty = compacted.limit(1).withColumn("cdc_action", F.lit("delete"))
        empty.write.mode("overwrite").partitionBy("tbl").parquet(path)
        after = spark.read.parquet(path)
        assert after.count() == 1  # orders partition replaced wholesale
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")


def test_observe_metrics_batch(spark, sf_dir):
    """A5+P5: observe() counts events and late events without touching
    the data path; on a batch DF the metrics arrive via collect."""
    from pyspark.sql import Observation

    ch = orders_changelog(spark, sf_dir)
    obs = Observation("cdc_ingest")
    lag = F.unix_timestamp(F.current_timestamp()) - F.unix_timestamp(F.col("cdc_ts"))
    observed = ch.observe(
        obs,
        F.count(F.lit(1)).alias("n_events"),
        F.sum((lag > 60_000).cast("long")).alias("n_late"),
    )
    total = observed.count()
    assert obs.get["n_events"] == total
    # fixture timestamps are 1995-2001 — everything is "late" vs now
    assert obs.get["n_late"] == total


def test_with_progress_metrics_runs_on_stream(spark, sf_dir):
    """The observe() wrapper must attach cleanly to a streaming changelog
    and surface metrics in StreamingQueryProgress."""
    from mysql_cdc_redis_spark.streaming.changelog_files import stage_changelog_files

    ch = orders_changelog(spark, sf_dir)
    src = _tmp("obs_src")
    stage_changelog_files(ch.limit(1000), src, n_chunks=1)
    stream = spark.readStream.schema(ch.schema).parquet(src)
    metered = with_progress_metrics(stream, name="ingest_metrics")
    q = (
        metered.writeStream.format("noop")
        .option("checkpointLocation", _tmp("obs_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    progress = [p for p in q.recentProgress if p.observedMetrics.get("ingest_metrics")]
    assert progress, "observed metrics missing from StreamingQueryProgress"
    m = progress[-1].observedMetrics["ingest_metrics"]
    assert m["n_events"] > 0 and m["n_late"] == m["n_events"]


def test_flush_policy_triggers_on_threshold(spark, sf_dir):
    """T3: the dump-when-big policy fires once the tracked key count
    crosses cache_max_rows, then resets (cdc.py:130-133 semantics)."""
    flushes = []
    policy = FlushPolicy(max_rows=100, flush=lambda: flushes.append(1))
    batch = (
        orders_changelog(spark, sf_dir)
        .select(F.col("o_orderkey").cast("string").alias("rid"))
        .distinct()
        .limit(70)
    )
    policy.observe(batch)  # 70 keys — below threshold
    assert not flushes
    policy.observe(batch)  # 140 ≥ 100 — flush + reset
    assert len(flushes) == 1 and policy.seen_keys == 0
    policy.observe(batch)
    policy.observe(batch)
    assert len(flushes) == 2


def test_flush_policy_disabled_at_zero(spark, sf_dir):
    """cache_max_rows=0 disables the proactive dump (cdc_config.py:42)."""
    flushes = []
    policy = FlushPolicy(max_rows=0, flush=lambda: flushes.append(1))
    batch = orders_changelog(spark, sf_dir).select(
        F.col("o_orderkey").cast("string").alias("rid")
    )
    policy.observe(batch)
    assert not flushes


def test_drift_quarantine_split_layout(spark, sf_dir):
    """K1 drift routing (dump2csv.py:77-81): a table with >1 fingerprint is
    quarantined WHOLESALE under `<out>/.drifted/` (the reference flips the
    suffix for every group of an altered table, not just the minority
    groups); clean tables land under `<out>/`.  The dot-prefixed dir is
    invisible to a normal Spark scan of the dump root — the analog of
    loadcsv.py only globbing `*.csv` and skipping `.tmp`."""
    from mysql_cdc_redis_spark.operators.dump import (
        QUARANTINE_SUBDIR,
        dump_to_csv_with_quarantine,
    )

    clean = spark.range(10).select(
        F.lit("t_clean").alias("tbl"),
        F.col("id").cast("string").alias("rid"),
        F.lit("a,b").alias("fingerprint"),
        F.lit("2024-03-01 00:00:00").cast("timestamp").alias("evt_ts"),
    )
    drifted = spark.range(10).select(
        F.lit("t_drift").alias("tbl"),
        F.col("id").cast("string").alias("rid"),
        F.when(F.col("id") % 2 == 0, F.lit("a,b,c")).otherwise(F.lit("a,b")).alias(
            "fingerprint"
        ),
        F.lit("2024-03-01 00:00:00").cast("timestamp").alias("evt_ts"),
    )
    out = _tmp("drift_quarantine")
    dump_to_csv_with_quarantine(
        clean.unionByName(drifted), out, date_col="evt_ts"
    )
    # clean path: only the clean table, date-partitioned
    main_files = glob.glob(f"{out}/dt=20240301/*.csv")
    assert main_files, "clean table must land in the main dump path"
    main_rows = [
        line for p in main_files for line in open(p).read().splitlines()[1:]
    ]
    assert len(main_rows) == 10
    assert all("t_clean" in r for r in main_rows)
    # quarantine path: ALL rows of the drifted table (both fingerprints)
    q_files = glob.glob(f"{out}/{QUARANTINE_SUBDIR}/dt=20240301/*.csv")
    assert q_files, "drifted table must land under the quarantine path"
    q_rows = [line for p in q_files for line in open(p).read().splitlines()[1:]]
    assert len(q_rows) == 10
    assert all("t_drift" in r for r in q_rows)
    assert sum("a,b,c" in r for r in q_rows) == 5  # majority group too
    # a normal scan of the dump root must NOT see the quarantined rows
    seen = spark.read.option("header", True).csv(out)
    assert seen.filter(F.col("tbl") == "t_drift").count() == 0


def test_latency_alert_feed_streaming_side_output(spark, sf_dir):
    """P5/T2 end to end on a STREAM: latency_alert_feed runs inside
    foreachBatch as a side output next to the main sink — the Spark
    spelling of cdc.py:101-103 (warn per late event) delivered through
    the throttled alert channel (mwlogger.py:176-218).  Alert volume is
    bounded by (tables × day buckets) regardless of event volume."""
    from mysql_cdc_redis_spark.streaming.changelog_files import stage_changelog_files
    from mysql_cdc_redis_spark.streaming.policies import latency_alert_feed

    ch = orders_changelog(spark, sf_dir).limit(2000)
    src = _tmp("alert_src")
    stage_changelog_files(ch, src, n_chunks=2)
    alerts_dir = _tmp("alert_out")
    now = F.lit("1998-08-02 00:00:00").cast("timestamp")

    def _sink(batch_df, batch_id):
        # main sink would write batch_df here; the alert feed is the
        # side output on the same micro-batch
        latency_alert_feed(batch_df, now, max_latency_s=63_072_000).write.mode(
            "append"
        ).parquet(alerts_dir)

    stream = spark.readStream.schema(ch.schema).option("maxFilesPerTrigger", 1).parquet(src)
    q = (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", _tmp("alert_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    alerts = spark.read.parquet(alerts_dir)
    assert alerts.count() > 0
    row = alerts.first()
    assert row["alert"] == "binlog_max_latency" and row["severity"] == "warn"
    # throttle bound: per batch, at most one alert row per (tbl, day)
    assert (
        alerts.groupBy("tbl", "bucket").count().agg(F.max("count")).first()[0] <= 2
    )  # 2 batches
    # batch twin produces the same buckets when run over the whole feed
    # (read the STAGED files back — re-evaluating ch.limit() could pick
    # different rows than what was staged)
    staged = spark.read.schema(ch.schema).parquet(src)
    batch_alerts = latency_alert_feed(staged, now, max_latency_s=63_072_000)
    assert (
        alerts.select("tbl", "bucket").distinct().count()
        == batch_alerts.select("tbl", "bucket").distinct().count()
    )


def test_available_now_replays_a_failed_batch_exactly_once(spark, sf_dir, tmp_path):
    """A batch that fails after its emission write is replayed under the
    same batch_id on restart; ``write_emission`` overwrites its partition,
    so every source row is emitted exactly once across the two runs."""
    from mysql_cdc_redis_spark.streaming.changelog_files import (
        file_stream,
        run_available_now,
        stage_changelog_files,
        write_emission,
    )

    ch = orders_changelog(spark, sf_dir).limit(400)
    src, ckpt, emit_dir = (str(tmp_path / d) for d in ("src", "ckpt", "emit"))
    stage_changelog_files(ch, src, n_chunks=2)
    failed = []

    def _fail_batch_1_once(batch_df, batch_id):
        write_emission(batch_df, emit_dir, batch_id)
        if batch_id == 1 and not failed:
            failed.append(batch_id)
            raise RuntimeError("injected failure after the emission write")

    def _run():
        stream = file_stream(spark, src, ch.schema, max_files_per_trigger=1)
        run_available_now(stream, ckpt, _fail_batch_1_once)

    with pytest.raises(Exception, match="injected failure"):
        _run()
    _run()  # same checkpoint: batch 1 is replayed

    assert failed == [1]
    emitted = spark.read.parquet(emit_dir)
    batch_ids = {r["batch_id"] for r in emitted.select("batch_id").distinct().collect()}
    assert batch_ids == {0, 1}
    staged = spark.read.schema(ch.schema).parquet(src)
    rows = emitted.drop("batch_id")
    assert rows.count() == staged.count()
    assert rows.exceptAll(staged).count() == 0 and staged.exceptAll(rows).count() == 0


def test_streaming_tmp_dirs_are_removed_at_exit(tmp_path):
    """The streaming catalog's per-call dirs do not outlive the process
    that made them."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "import os\n"
        "from mysql_cdc_redis_spark.plans.streaming_queries import _tmp\n"
        "d = _tmp('exit_probe')\n"
        "os.makedirs(os.path.join(d, 'batch_id=0'))\n"
        "print(d)\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=repo,
        env={**os.environ, "TMPDIR": str(tmp_path)},
        capture_output=True,
        text=True,
        check=True,
    )
    d = out.stdout.strip().splitlines()[-1]
    assert d.startswith(str(tmp_path))
    assert not os.path.exists(d)
