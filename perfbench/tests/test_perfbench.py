"""Self-tests of the benchmark: the percentile rule, the event-log
parser on a small recorded log, span self times, and seed determinism
of the generators.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``."""

from __future__ import annotations

import os

import pytest

from perfbench import eventlog, gen
from perfbench.measure import (
    alive, box_share, descendants, median, percentile, tail_permille, tree_cpu_s,
)
from perfbench.spans import Tracer

DATA = os.path.join(os.path.dirname(__file__), "data")


# ---- percentile rule ----------------------------------------------------

@pytest.mark.parametrize("n, want", [
    (0, None), (99, None), (100, 900), (999, 900), (1000, 990),
    (9999, 990), (10000, 999),
])
def test_tail_is_highest_percentile_with_ten_samples_beyond(n, want):
    assert tail_permille(n) == want


def test_percentile_interpolates_and_median_matches():
    xs = [float(x) for x in range(1, 101)]  # 1..100
    assert percentile(xs, 500) == pytest.approx(50.5)
    assert percentile(xs, 900) == pytest.approx(90.1)
    assert percentile([3.0], 999) == 3.0
    assert median([4.0, 1.0, 3.0]) == 3.0


def test_box_share_from_proc_stat_deltas():
    # (idle incl. iowait, steal, total) jiffies
    share = box_share((100, 10, 1000), (150, 30, 1200))
    assert share == pytest.approx({"idle_frac": 0.25, "steal_frac": 0.1})


def test_process_tree_probes_see_a_child_until_it_ends():
    import subprocess
    import sys

    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(30)"])
    try:
        assert child.pid in descendants(os.getpid())
        assert alive(child.pid)
        assert tree_cpu_s(os.getpid()) > 0
    finally:
        child.kill()
        child.wait(timeout=10)
    assert not alive(child.pid)


# ---- event-log parser ---------------------------------------------------

# micro-batch windows of the recorded stream, [start, end] in epoch ms, as
# its progress records gave them (trigger timestamp + triggerExecution)
BATCH_6 = (1792190934758, 1792190934758 + 1504)
BATCH_7 = (1792190936264, 1792190936264 + 4189)


def test_parser_reads_recorded_log():
    log = eventlog.parse(eventlog.log_files(DATA))
    assert len(log.stages) == 9
    assert log.table_writes_ms == [1792190938175]


def test_progress_window_is_trigger_time_plus_trigger_execution():
    p = {"timestamp": "2026-10-16T22:48:54.758Z", "durationMs": {"triggerExecution": 1504}}
    assert eventlog.progress_window_ms(p) == BATCH_6


def test_stages_are_attributed_by_batch_time_window():
    log = eventlog.parse(eventlog.log_files(DATA))
    t6 = eventlog.totals(eventlog.in_window(log.stages, *BATCH_6))
    t7 = eventlog.totals(eventlog.in_window(log.stages, *BATCH_7))
    assert (t6["stages"], t6["tasks"], t6["run_ms"], t6["input_bytes"]) == (2, 2, 213, 2691)
    assert (t7["stages"], t7["tasks"], t7["run_ms"]) == (6, 24, 4184)
    # the one stage outside both windows is generation work, not the stream
    assert t6["stages"] + t7["stages"] == len(log.stages) - 1
    # the base-table write marks batch 7 as the compaction batch
    assert [b for b in (BATCH_6, BATCH_7)
            if any(b[0] <= t <= b[1] for t in log.table_writes_ms)] == [BATCH_7]


# ---- spans --------------------------------------------------------------

def test_self_time_subtracts_children_once():
    tr = Tracer(lambda: 0.0)
    parent = tr.add("outer", 0.0, 10.0, None)
    tr.add("inner", 1.0, 4.0, parent["id"])
    tr.add("inner", 3.0, 6.0, parent["id"])  # overlaps the first child
    tr.add("inner", 9.0, 12.0, parent["id"])  # runs past the parent
    self_s = tr.self_times()
    assert self_s["outer"] == pytest.approx(10.0 - 5.0 - 1.0)
    assert self_s["inner"] == pytest.approx(9.0)


def test_span_nesting_sets_parent():
    tr = Tracer(lambda: 0.0)
    with tr.span("a") as a:
        with tr.span("b") as b:
            pass
    assert b["parent"] == a["id"] and a["parent"] is None
    assert a["end"] >= b["end"] >= b["start"] >= a["start"]


# ---- seed determinism ---------------------------------------------------

def test_documents_depend_on_seed_only():
    a, b, c = gen.documents(200, 0.3, 7), gen.documents(200, 0.3, 7), gen.documents(200, 0.3, 8)
    assert a.equals(b)
    assert not a.equals(c)
    assert gen.embeddings(50, 8, 7).equals(gen.embeddings(50, 8, 7))


def test_corpus_matches_the_recorded_fixture_shape():
    """The sf0.1 documents fixture measured 27,213 distinct word 3-grams,
    max df 25 and Σ df² = 2,791,946 over 5,000 documents (see gen.VOCAB)."""
    docs = gen.documents(5_000, 0.051, 11).column("text").to_pylist()
    words = [t.split() for t in docs]
    assert {w for ws in words for w in ws} == set(gen.VOCAB) | {gen.DUP_WORD}
    assert 10 <= min(map(len, words)) and max(map(len, words)) <= 101
    df: dict[tuple, int] = {}
    for ws in words:
        for sh in {tuple(ws[i:i + 3]) for i in range(len(ws) - 2)}:
            df[sh] = df.get(sh, 0) + 1
    assert len(df) == pytest.approx(27_213, rel=0.05)
    assert max(df.values()) <= 40
    assert sum(d * d for d in df.values()) == pytest.approx(2_791_946, rel=0.1)


@pytest.fixture(scope="module")
def spark():
    from mysql_cdc_redis_spark.session import get_spark

    s = get_spark("perfbench-selftest", master="local[2]", shuffle_partitions=2,
                  extra_conf={"spark.driver.memory": "1g", "spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()


def _input_checksum(spark, seed: int) -> tuple:
    from mysql_cdc_redis_spark.benchutil import checksum_row

    base = gen.base_table(spark, 500, seed)
    schema = base.selectExpr(
        "0L AS seq", "'tpch' AS db", "'lineitem' AS tbl", "'update' AS cdc_action",
        "l_shipdate AS cdc_ts", "*",
    ).schema
    incs = gen.increments(spark, schema, 500, 10_000, 3, 40, seed)
    assert incs.rdd.getNumPartitions() == 3
    return tuple(checksum_row(df) for df in (base, incs))


def test_generated_inputs_depend_on_seed_only(spark):
    assert _input_checksum(spark, 1) == _input_checksum(spark, 1)
    assert _input_checksum(spark, 1) != _input_checksum(spark, 2)


def test_each_increment_partition_is_one_contiguous_seq_range(spark):
    from pyspark.sql import functions as F

    base = gen.base_table(spark, 100, 3)
    schema = base.selectExpr(
        "0L AS seq", "'tpch' AS db", "'lineitem' AS tbl", "'update' AS cdc_action",
        "l_shipdate AS cdc_ts", "*",
    ).schema
    incs = gen.increments(spark, schema, 100, 1_000, 4, 25, 3)
    ranges = (
        incs.groupBy(F.spark_partition_id().alias("p"))
        .agg(F.min("seq").alias("lo"), F.max("seq").alias("hi"), F.count("*").alias("n"))
        .orderBy("p").collect()
    )
    assert [(r.lo, r.hi, r.n) for r in ranges] == [
        (1_000 + 25 * j, 1_000 + 25 * j + 24, 25) for j in range(4)
    ]
