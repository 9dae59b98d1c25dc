"""Exhaustive semantics check: EVERY action sequence up to length 5
(3+9+27+81+243 = 363 keys, one DataFrame, one Spark job) compacted and
compared against an independent pure-Python fold of the reference's
_merge_row state machine (rcache.py:196-222).  Stronger than sampled
property testing — the full behavior space at this depth is covered."""

from __future__ import annotations

import itertools

from mysql_cdc_redis_spark.operators.compaction import compact

ACTIONS = ("insert", "update", "delete")


def _python_fold(seq_actions):
    """Independent reimplementation of the reference state machine:
    state ∈ {absent, insert, update, delete}."""
    state = None  # absent
    for a in seq_actions:
        if state is None:
            state = a
        elif state == "insert":
            state = None if a == "delete" else "insert"
        else:  # update / delete
            state = "update" if a == "insert" else a
    return state


def test_all_sequences_up_to_len5(spark):
    rows = []
    expected = {}
    key = 0
    for length in range(1, 6):
        for combo in itertools.product(ACTIONS, repeat=length):
            key += 1
            for i, a in enumerate(combo):
                rows.append((i + 1, key, a, f"v{i}", "t"))
            final = _python_fold(combo)
            if final is not None:
                expected[str(key)] = (final, f"v{len(combo) - 1}")
    df = spark.createDataFrame(
        rows, "seq long, id int, cdc_action string, v string, tbl string"
    )
    out = compact(df, ("id",), ("id", "v"))
    got = {r["rid"]: (r["cdc_action"], r["v"]) for r in out.collect()}
    assert got == expected
    # sanity on the space itself: some sequences must vanish
    n_total = sum(3**n for n in range(1, 6))
    assert len(expected) < n_total


def test_random_long_sequences_seeded(spark):
    """Randomized complement to the exhaustive test: 300 keys with
    action sequences up to length 12 (seed 42), one Spark job, compared
    against the independent Python fold."""
    import random

    rng = random.Random(42)
    rows, expected = [], {}
    for key in range(1, 301):
        length = rng.randint(1, 12)
        combo = [rng.choice(ACTIONS) for _ in range(length)]
        # scatter seqs (non-contiguous, shuffled insert order)
        seqs = sorted(rng.sample(range(1, 10_000), length))
        order = list(range(length))
        rng.shuffle(order)
        for i in order:
            rows.append((seqs[i], key, combo[i], f"v{i}", "t"))
        final = _python_fold(combo)
        if final is not None:
            expected[str(key)] = (final, f"v{length - 1}")
    df = spark.createDataFrame(
        rows, "seq long, id int, cdc_action string, v string, tbl string"
    )
    out = compact(df, ("id",), ("id", "v"))
    got = {r["rid"]: (r["cdc_action"], r["v"]) for r in out.collect()}
    assert got == expected


def test_merge_state_all_sequences_all_split_points(spark):
    """r9: merge_state's transition-compose form (per-key batch fold
    tuple + co-partitioned join, operators/compaction.py) proven
    composition-exact at the BATCH operator level: every action
    sequence up to length 4 × EVERY split point s (state = compact of
    events[:s], batch = events[s:]) must reproduce the independent
    Python fold of the whole sequence.  s=0 exercises the empty-state
    edge; s=len exercises the empty-batch edge."""
    from pyspark.sql import functions as F

    from mysql_cdc_redis_spark.operators.compaction import merge_state

    state_rows, batch_rows = [], []
    expected = {}
    key = 0
    for length in range(1, 5):
        for combo in itertools.product(ACTIONS, repeat=length):
            for s in range(0, length + 1):
                key += 1
                for i, a in enumerate(combo[:s]):
                    state_rows.append((i + 1, key, a, f"v{i}", "t"))
                for i, a in enumerate(combo[s:], start=s):
                    batch_rows.append((i + 1, key, a, f"v{i}", "t"))
                final = _python_fold(combo)
                if final is not None:
                    expected[str(key)] = (final, f"v{length - 1}")
    schema = "seq long, id int, cdc_action string, v string, tbl string"
    state = compact(spark.createDataFrame(state_rows, schema), ("id",), ("id", "v"))
    batch = spark.createDataFrame(batch_rows, schema)
    merged = merge_state(state, batch, ("id",), ("id", "v"))
    got = {r["rid"]: (r["cdc_action"], r["v"]) for r in merged.collect()}
    assert got == expected
    # output schema contract unchanged: tbl, rid, cdc_action, payload
    assert merged.columns == ["tbl", "rid", "cdc_action", "id", "v"]


def test_delta_to_state_equals_compact_all_sequences(spark):
    """r10: ``delta_to_state(batch_transitions(b)) ≡ compact(b)`` for
    every action sequence up to length 4 — the from-empty leg of the
    staged-delta incremental merge (plans/cdc.py merge_4x stages
    pre-folded transition tuples; level 0 materializes the first
    batch's tuples as the initial state through this helper)."""
    from mysql_cdc_redis_spark.operators.compaction import (
        batch_transitions,
        delta_to_state,
    )

    rows = []
    key = 0
    for length in range(1, 5):
        for combo in itertools.product(ACTIONS, repeat=length):
            key += 1
            for i, a in enumerate(combo):
                rows.append((i + 1, key, a, f"v{i}", "t"))
    schema = "seq long, id int, cdc_action string, v string, tbl string"
    df = spark.createDataFrame(rows, schema)
    via_delta = delta_to_state(
        batch_transitions(df, ("id",), ("id", "v")), ("id", "v")
    )
    direct = compact(df, ("id",), ("id", "v"))
    k = lambda r: (r["tbl"], r["rid"])  # noqa: E731
    got = {k(r): (r["cdc_action"], r["v"]) for r in via_delta.collect()}
    want = {k(r): (r["cdc_action"], r["v"]) for r in direct.collect()}
    assert got == want
    assert via_delta.columns == direct.columns
