"""End-to-end pipeline integration (SURVEY.md §3): ingest → dump →
replay over the synthetic binlog, with incremental second ingest."""

from __future__ import annotations

import os
import re
import subprocess
import sys
import tempfile
import uuid

import pytest
from pyspark.sql import functions as F

from mysql_cdc_redis_spark.operators.compaction import compact
from mysql_cdc_redis_spark.operators.dump import read_dump
from mysql_cdc_redis_spark.pipeline import CdcPipeline
from mysql_cdc_redis_spark.sources.changelog import (
    ORDERS_PAYLOAD,
    ORDERS_PK,
    orders_changelog,
)
from mysql_cdc_redis_spark.streaming.changelog_files import stage_changelog_files


def _rows(df, cols):
    return sorted(tuple(str(r[c]) for c in cols) for r in df.collect())


def test_full_pipeline_ingest_dump_replay(spark, sf_dir):
    work = os.path.join(tempfile.gettempdir(), f"pipe_{uuid.uuid4().hex[:8]}")
    ch = orders_changelog(spark, sf_dir)
    src = os.path.join(work, "binlog")
    stage_changelog_files(ch, src, n_chunks=3)

    p = CdcPipeline(spark, work, ORDERS_PK, ORDERS_PAYLOAD, ch.schema)
    state = p.ingest(src)
    expected = compact(ch, ORDERS_PK, ORDERS_PAYLOAD)
    cols = ["tbl", "rid", "cdc_action", *ORDERS_PAYLOAD]
    assert _rows(state, cols) == _rows(expected, cols)

    # dump → replay is a fixpoint (M4/M5)
    csv_dir = os.path.join(work, "dump")
    p.dump(csv_dir, max_rows_per_file=500)
    post = p.replay(csv_dir)
    assert _rows(post, cols) == _rows(state, cols)


def test_pipeline_incremental_second_ingest(spark, sf_dir):
    """New binlog files after the first ingest: checkpoint resumes, the
    stored state folds forward (the reference's continuous loop)."""
    work = os.path.join(tempfile.gettempdir(), f"pipe2_{uuid.uuid4().hex[:8]}")
    ch = orders_changelog(spark, sf_dir)
    first = ch.filter(F.col("seq") % 4 == 0)
    second = ch.filter(F.col("seq") % 4 != 0)
    src = os.path.join(work, "binlog")
    stage_changelog_files(first, src, n_chunks=1)

    p = CdcPipeline(spark, work, ORDERS_PK, ORDERS_PAYLOAD, ch.schema)
    p.ingest(src)

    # append the rest of the binlog and re-run the (restarted) stream
    import shutil, time

    tmp = f"{src}/_stage_x"
    second.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
    dst = f"{src}/chunk-9999.parquet"
    shutil.move(f"{tmp}/{part}", dst)
    shutil.rmtree(tmp)
    os.utime(dst, (time.time(), time.time()))

    state = p.ingest(src)
    expected = compact(ch, ORDERS_PK, ORDERS_PAYLOAD)
    cols = ["tbl", "rid", "cdc_action", *ORDERS_PAYLOAD]
    assert _rows(state, cols) == _rows(expected, cols)


def test_cli_ingest_dump_replay(spark, sf_dir, tmp_path):
    """The CLI's three commands, each in its own process: the state
    lives only in the stream's dirs, the dump equals compact(), and the
    replay reports a fixpoint."""
    ch = orders_changelog(spark, sf_dir).filter(F.col("o_orderkey") % 10 == 3)
    src, work, csv_dir = (str(tmp_path / d) for d in ("binlog", "work", "dump"))
    stage_changelog_files(ch, src, n_chunks=3)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    keys = ["--pk", ",".join(ORDERS_PK), "--payload", ",".join(ORDERS_PAYLOAD)]
    for cmd in (["ingest", src], ["dump", csv_dir], ["replay", csv_dir]):
        p = subprocess.run(
            [sys.executable, "-m", "mysql_cdc_redis_spark", "--work-dir", work,
             *keys, *cmd],
            cwd=tmp_path, env={**os.environ, "PYTHONPATH": repo},
            capture_output=True, text=True, timeout=600,
        )
        assert p.returncode == 0, f"{cmd[0]}:\n{p.stdout}\n{p.stderr[-4000:]}"
    assert "fixpoint: True" in p.stdout, p.stdout
    assert sorted(os.listdir(work)) == ["checkpoint", "stream_state"]

    cols = ["tbl", "rid", "cdc_action", *ORDERS_PAYLOAD]
    expected = compact(ch, ORDERS_PK, ORDERS_PAYLOAD).select(*cols)
    dumped = read_dump(spark, csv_dir, expected.schema).drop("dt")
    assert _rows(dumped, cols) == _rows(expected, cols)


def test_pipeline_without_committed_state_raises(spark, tmp_path):
    """``dump`` and ``replay`` over a work dir with nothing committed
    raise a ValueError naming it, and write nothing there."""
    work = str(tmp_path / "work")
    p = CdcPipeline(spark, work, ORDERS_PK, ORDERS_PAYLOAD, None)
    with pytest.raises(ValueError, match=re.escape(work)):
        p.dump(str(tmp_path / "dump"))
    with pytest.raises(ValueError, match=re.escape(work)):
        p.replay(str(tmp_path / "dump"))
    assert os.listdir(tmp_path) == []
