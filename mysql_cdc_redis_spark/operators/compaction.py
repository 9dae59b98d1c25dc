"""Changelog compaction — the reference's core operator family (SURVEY.md
§2.3, M1-M5): an incremental keyed upsert that folds a stream of
insert/update/delete row events down to at most one row per primary key.

Reference semantics being reproduced:

* ``_gen_rid`` (rcache.py:186-193): composite keys serialize by joining
  stringified values with ``"&"``; missing/derivable-to-null keys raise
  ``SaveIgnore`` (rcache.py:242-245) and the event is dropped (M3).
* ``_merge_row`` (rcache.py:196-222): a left-fold over per-key events of
  the action algebra

      empty  + x       -> x
      insert + delete  -> empty            (annihilation: row vanishes,
                                            rcache.py:214-215)
      insert + x       -> insert           (x in {insert, update})
      update + insert  -> update           ("maybe truncate table
                                            happened", rcache.py:218-221)
      delete + insert  -> update           (rcache.py:216-217)
      state  + x       -> x                (all other pairs keep new)

  with *values always taken wholesale from the newest event*
  (rcache.py:222 — no per-column merge).
* ``save`` (rcache.py:224-259): HGETALL -> merge -> HMSET/DEL per key;
  idempotent on replay (M5).

Spark realization — one shuffle, all JVM built-ins, no Python UDFs:

  groupBy(tbl, rid).agg(
      max_by(struct(payload), seq)          # last values win wholesale
      array_sort(collect_list(struct(seq, action)))   # per-key event log
  )
  + F.aggregate(...) fold of the action algebra over the sorted actions
  + filter(state != SENTINEL)               # annihilated keys vanish

Per-key event counts are bounded by the changelog between compactions
(the reference flushes at cache_max_rows=2e6, cdc_config.py:42), so the
collect_list stays small; the aggregate itself is a standard partial/
final hash aggregate that scales linearly with executors.

This module is the ONE home of that algebra.  A batch folds to its
TRANSITION TUPLE (``batch_transitions``); ``compact`` is the from-empty
leg of it, ``merge_state``/``merge_state_delta`` compose a tuple onto a
compacted state, and the streaming twin (streaming/compact_jvm.py)
commits the same tuples per micro-batch and composes them with the
same ``_next_action`` indexing rule — so it must produce identical
output (tested in tests/test_streaming_parity_jvm.py).
"""

from __future__ import annotations

from functools import reduce
from operator import or_

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Fold state meaning "row absent" — both the initial state (empty cache)
# and the post-annihilation state are the same absent state.  Plain ASCII
# (never a valid action) so the DuckDB oracle can spell it identically.
ACTION_FOLD_SENTINEL = "#absent#"


def rid_expr(pk_cols: list[str] | tuple[str, ...]) -> Column:
    """P3: composite row-id — ``"&".join(str(v) for v in pk)`` per
    rcache.py:186-193.  NULL in any key component nullifies the rid
    (concat_ws would silently skip nulls, which would alias distinct
    keys — explicitly propagate NULL instead) so M3 can reject it."""
    any_null = reduce(or_, [F.col(c).isNull() for c in pk_cols])
    return F.when(any_null, F.lit(None)).otherwise(
        F.concat_ws("&", *[F.col(c).cast("string") for c in pk_cols])
    )


def with_rid(df: DataFrame, pk_cols: list[str] | tuple[str, ...]) -> DataFrame:
    return df.withColumn("rid", rid_expr(pk_cols))


def reject_null_keys(df: DataFrame, pk_cols: list[str] | tuple[str, ...]) -> DataFrame:
    """M3: the SaveIgnore reject stream (rcache.py:242-245) — events whose
    key cannot be derived.  The caller logs/sinks these; compaction drops
    them."""
    return with_rid(df, pk_cols).filter(F.col("rid").isNull())


def _fold_actions_from(sorted_actions: Column, init: str) -> Column:
    """Left-fold the reference's `_merge_row` algebra (rcache.py:196-222)
    over a seq-sorted array of action strings, starting from an
    arbitrary state ``init`` — the generalization that lets a batch be
    summarized as a TRANSITION TUPLE (one fold per possible incoming
    state, ``TRANSITION_FOLDS``).  The only Python spelling of the
    merge table (the DuckDB oracles spell it as plans/cdc.py
    ``_FOLD_LAMBDA``).  Runs JVM-side via F.aggregate, but interpreted:
    ``ArrayAggregate`` is a ``CodegenFallback`` expression in Spark 4.1,
    so whole-stage codegen calls it through ``eval``."""
    sentinel = F.lit(ACTION_FOLD_SENTINEL)

    def merge(state: Column, x: Column) -> Column:
        return (
            F.when(state == sentinel, x)  # empty + x -> x
            .when(
                state == "insert",
                F.when(x == "delete", sentinel).otherwise(F.lit("insert")),
            )
            # state in {update, delete}: insert revives to update
            # (rcache.py:216-221); update/delete keep the new action.
            .otherwise(F.when(x == "insert", F.lit("update")).otherwise(x))
        )

    return F.aggregate(sorted_actions, F.lit(init), merge)


def _fold_actions(sorted_actions: Column) -> Column:
    """The from-empty fold (initial state = absent cache row)."""
    return _fold_actions_from(sorted_actions, ACTION_FOLD_SENTINEL)


# The transition tuple: column -> the incoming state its fold starts
# from.  ``update`` and ``delete`` transition identically under the
# merge table (both take its last branch: insert -> update, anything
# else kept), so one fold covers both and the tuple has three entries.
TRANSITION_FOLDS = {
    "f_absent": ACTION_FOLD_SENTINEL,
    "f_insert": "insert",
    "f_update": "update",
}


def _next_action(state: Column, tup) -> Column:
    """Index a transition tuple by the key's incoming state: absent
    (NULL — no state row — or the annihilation sentinel) → ``f_absent``,
    insert → ``f_insert``, update/delete → ``f_update``.  ``tup`` is
    anything indexable by the tuple's column names: a struct Column
    (one element of a run composition) or ``F.struct`` of a joined
    delta's columns.  The one tuple-indexing rule every composition
    uses — the batch merge join, the stream's bkey join and the
    composition of stream runs."""
    return (
        F.when(state.isNull() | (state == ACTION_FOLD_SENTINEL), tup["f_absent"])
        .when(state == "insert", tup["f_insert"])
        .otherwise(tup["f_update"])
    )


def compact(
    changelog: DataFrame,
    pk_cols: list[str] | tuple[str, ...],
    payload_cols: list[str] | tuple[str, ...],
    table_col: str = "tbl",
    seq_col: str = "seq",
    action_col: str = "cdc_action",
) -> DataFrame:
    """M1+M2: fold a changelog to ≤1 row per (table, rid).

    Returns columns: ``tbl, rid, cdc_action`` + payload (last event's
    values, wholesale).  Annihilated keys (insert...delete epochs) are
    absent; tombstones (first action delete/update then delete) survive
    with cdc_action='delete' — exactly rcache.py:214 firing only on
    old=insert.  The from-empty leg of the transition tuple: the
    optimizer prunes the unused folds and ``last_seq``, leaving one
    aggregate and one fold.
    """
    return delta_to_state(
        batch_transitions(
            changelog, pk_cols, payload_cols, table_col, seq_col, action_col
        ),
        payload_cols,
    )


# ---------------------------------------------------------------------------
# Stream-shaping filters (S2/S3) and the latency monitor (P5)
# ---------------------------------------------------------------------------


def merge_state(
    state: DataFrame,
    new_changelog: DataFrame,
    pk_cols: list[str] | tuple[str, ...],
    payload_cols: list[str] | tuple[str, ...],
    table_col: str = "tbl",
    seq_col: str = "seq",
) -> DataFrame:
    """Incremental compaction — the reference's continuous-ingest shape
    (SURVEY.md §4 'incremental computation': only changed rows flow;
    state holds ≤1 row per key).

    Algebra: the new batch is folded per key into a TRANSITION TUPLE
    ``(f_absent, f_insert, f_update)`` — the fold outcome had the key's
    state been absent / insert / update-or-delete when the batch
    arrived (``update`` and ``delete`` transition identically under
    rcache's merge table, so one fold covers both) — then full-outer
    joined with the state on (tbl, rid) and composed: exactly
    event-at-a-time ingestion,
    state action ∘ new events ≡ fold(state_events ++ new_events)
    (pinned over every action sequence × split point in
    tests/test_compaction_exhaustive.py).  This is the same
    composition-exact transition form the streaming JVM twin commits
    per micro-batch (streaming/compact_jvm.py), brought to the batch
    operator.

    Contract: ``table_col`` must be NON-NULL (every changelog source
    here emits a literal or schema-derived table name; a CDC event
    without a table is not addressable).  The equi-join below treats a
    NULL tbl as matching nothing, so a hypothetical NULL-tbl key
    present on both sides would emit two rows where the union+groupBy
    form emitted one — coalesce tbl to a sentinel before merging if an
    upstream ever produces NULL table names (r9 ADVICE #3).

    Why a join and not the r1-r8 union-and-recompact (guide §2.3/2.4 —
    shuffle fewer bytes, remove shuffles outright): both join sides
    arrive hash-partitioned by (tbl, rid) from their own groupBy, so
    the merge plans WITHOUT re-exchanging the accumulated state — per
    increment the only Exchange moves the new batch's events, cost
    ∝ |new events|, while the union form re-exchanged
    |state| + |new events| on every merge.  On a merge CASCADE the
    per-batch folds are independent subtrees that execute concurrently
    instead of strictly one-after-another."""
    delta = batch_transitions(new_changelog, pk_cols, payload_cols, table_col, seq_col)
    return merge_state_delta(state, delta, payload_cols, table_col)


def merge_state_delta(
    state: DataFrame,
    delta: DataFrame,
    payload_cols: list[str] | tuple[str, ...],
    table_col: str = "tbl",
    key: tuple[str, ...] = ("tbl", "rid"),
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Compose a PRE-FOLDED transition delta (``batch_transitions``
    output — one row per key: f_absent/f_insert/f_update + _last payload)
    into a compacted state: the join half of ``merge_state``, split out
    so a pipeline that stages its per-batch deltas merges them WITHOUT
    re-folding the raw events per level (the incremental-merge bench
    path folds all batches in ONE shared groupBy at staging time,
    guide §2.3 "aggregate before you shuffle") — and so the state side
    can come from a PERSISTED bucketed table
    (operators/scale.py::write_bucketed): a state scan bucketed on the
    join ``key`` satisfies the merge join's distribution, so a merge
    against persisted state plans with ZERO state-side exchanges — only
    the delta shuffles (guide §2.4; plan-pinned in
    tests/test_plan_quality.py and, for the stream's base,
    tests/test_streaming_parity_jvm.py).  Same non-null ``table_col``
    contract as ``merge_state``.

    ``key`` is the full-outer join key and ``carry_cols`` the non-key
    columns kept from whichever side holds the newer row (the delta
    when the key saw events).  The batch state joins on (tbl, rid) and
    carries nothing; the stream's LSM base (streaming/compact_jvm.py)
    joins on its single-column ``bkey`` and carries ``last_seq, tbl,
    rid``.  Output: ``key, carry_cols, cdc_action, payload``."""
    if table_col != "tbl":
        state = state.withColumnRenamed(table_col, "tbl")
    s = state.select(
        *key,
        *[F.col(c).alias(f"_s_{c}") for c in carry_cols],
        F.col("cdc_action").alias("_s_act"),
        *payload_cols,
    )
    j = s.join(delta, list(key), "full_outer")
    d_present = F.col("f_absent").isNotNull()
    new_action = F.when(~d_present, F.col("_s_act")).otherwise(
        _next_action(F.col("_s_act"), F.struct(*TRANSITION_FOLDS))
    )
    merged = j.select(
        *key,
        *[
            F.when(d_present, F.col(c)).otherwise(F.col(f"_s_{c}")).alias(c)
            for c in carry_cols
        ],
        new_action.alias("cdc_action"),
        *[
            F.when(d_present, F.col(f"_last.{c}")).otherwise(F.col(c)).alias(c)
            for c in payload_cols
        ],
    )
    return merged.filter(F.col("cdc_action") != ACTION_FOLD_SENTINEL)


def batch_transitions(
    changelog: DataFrame,
    pk_cols: list[str] | tuple[str, ...],
    payload_cols: list[str] | tuple[str, ...],
    table_col: str = "tbl",
    seq_col: str = "seq",
    action_col: str = "cdc_action",
    extra_group_cols: list[str] | tuple[str, ...] = (),
) -> DataFrame:
    """One row per (tbl, rid) summarizing a changelog batch as its fold
    transition tuple: columns ``tbl, rid, f_absent, f_insert, f_update,
    last_seq, _last``.  ``f_s`` = the fold outcome had the key's state
    been ``s`` when the batch arrived (``f_update`` also serves an
    incoming delete, ``TRANSITION_FOLDS``), ``last_seq`` = the newest
    event's seq, ``_last`` = the newest event's payload struct (values
    win wholesale, rcache.py:222).  Composing batches through these
    tuples is exactly event-at-a-time ingestion (pinned over every
    action sequence × split point in tests/test_compaction_exhaustive.py
    and tests/test_streaming_parity_jvm.py).  One single-shuffle
    groupBy.  ``collect_list`` plans it as an ObjectHashAggregate, which
    falls back to sort-based aggregation past 128 keys per task
    (``spark.sql.objectHashAggregate.sortBased.fallbackThreshold``), and
    the folds are interpreted (``_fold_actions_from``)."""
    keyed = with_rid(changelog, pk_cols).filter(F.col("rid").isNotNull())
    grouped = keyed.groupBy(
        *extra_group_cols, F.col(table_col).alias("tbl"), "rid"
    ).agg(
        # seq is unique per key, so max_by is deterministic
        F.max_by(
            F.struct(*[F.col(c) for c in payload_cols]), F.col(seq_col)
        ).alias("_last"),
        F.max(F.col(seq_col)).alias("last_seq"),
        # per-key ordered action log; struct sort order is field order,
        # so this sorts by seq
        F.array_sort(
            F.collect_list(
                F.struct(F.col(seq_col).alias("s"), F.col(action_col).alias("a"))
            )
        ).alias("_evs"),
    )
    acts = F.transform(F.col("_evs"), lambda ev: ev["a"])
    return grouped.select(
        *extra_group_cols,
        "tbl",
        "rid",
        *[
            _fold_actions_from(acts, init).alias(c)
            for c, init in TRANSITION_FOLDS.items()
        ],
        "last_seq",
        "_last",
    )


def delta_to_state(
    delta: DataFrame,
    payload_cols: list[str] | tuple[str, ...],
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """First batch (no prior state): the from-empty fold IS the state —
    ``delta_to_state(batch_transitions(b)) ≡ compact(b)`` by
    construction (pinned in tests/test_compaction_exhaustive.py);
    annihilated keys vanish.  ``carry_cols`` are delta columns kept in
    front of the state's (the stream keeps its ``bkey`` and
    ``last_seq``)."""
    return delta.filter(F.col("f_absent") != ACTION_FOLD_SENTINEL).select(
        *carry_cols,
        "tbl",
        "rid",
        F.col("f_absent").alias("cdc_action"),
        *[F.col(f"_last.{c}").alias(c) for c in payload_cols],
    )


def merge_into(
    target: DataFrame,
    source: DataFrame,
    key_cols: list[str] | tuple[str, ...],
    payload_cols: list[str] | tuple[str, ...],
    action_col: str = "cdc_action",
    delete_action: str = "delete",
) -> DataFrame:
    """SQL MERGE semantics — the durable-warehouse form of the K4 state
    sink (SURVEY.md §1.1: "durable form: Delta-style upsert or
    foreachBatch MERGE").  Applies a compacted changelog state to a
    target snapshot:

      WHEN MATCHED AND s.action = 'delete'  THEN DELETE
      WHEN MATCHED                          THEN UPDATE SET * = s.*
      WHEN NOT MATCHED AND s.action <> 'delete' THEN INSERT *

    (an unmatched delete is a no-op, exactly like rcache.py:252-254
    DEL-ing a key that was never cached).

    One full-outer sort-merge join on the key — at 100 TB bucket both
    sides by the key (operators/scale.py::write_bucketed) so the merge
    runs Exchange-free; with Delta/Iceberg this whole function becomes
    the engine's native MERGE INTO command."""
    from operator import and_

    t = target.select(*payload_cols).withColumn("_t", F.lit(True)).alias("t")
    s = source.select(*payload_cols, action_col).withColumn("_s", F.lit(True)).alias("s")
    on = reduce(and_, [F.col(f"t.{k}").eqNullSafe(F.col(f"s.{k}")) for k in key_cols])
    joined = t.join(s, on, "full_outer")
    source_live = F.col("s._s").isNotNull() & (F.col(f"s.{action_col}") != delete_action)
    target_kept = F.col("s._s").isNull() & F.col("t._t").isNotNull()
    return joined.filter(source_live | target_kept).select(
        *[
            F.when(source_live, F.col(f"s.{c}")).otherwise(F.col(f"t.{c}")).alias(c)
            for c in payload_cols
        ]
    )


def filter_events(df: DataFrame, events: list[str] | None, action_col: str = "cdc_action") -> DataFrame:
    """S2: restrict to configured event classes (`_trans_events`,
    cdc.py:43-49).  None ≡ all events (cdc_config.py:39 default)."""
    if not events:
        return df
    return df.filter(F.col(action_col).isin(*events))


def filter_tables(
    df: DataFrame,
    schemas: list[str] | None = None,
    tables: list[str] | None = None,
    db_col: str = "db",
    table_col: str = "tbl",
) -> DataFrame:
    """S3: only_schemas / only_tables pushdown (cdc.py:92-93); None ≡ all.
    On a parquet/Delta-backed changelog these predicates push into the
    scan (partition pruning when the changelog is partitioned by table)."""
    if schemas:
        df = df.filter(F.col(db_col).isin(*schemas))
    if tables:
        df = df.filter(F.col(table_col).isin(*tables))
    return df


def latency_flag(
    df: DataFrame,
    now: Column,
    max_latency_s: int = 60_000,
    ts_col: str = "cdc_ts",
) -> DataFrame:
    """P5: flag events older than binlog_max_latency (warn-only in the
    reference, cdc.py:101-103; default 60,000 s, cdc_config.py:48).
    Streaming form: an observe() metric; batch form: a boolean column."""
    return df.withColumn(
        "late",
        (F.unix_timestamp(now) - F.unix_timestamp(F.col(ts_col))) > max_latency_s,
    )


def scd2_history(
    changelog: DataFrame,
    pk_cols: list[str] | tuple[str, ...],
    payload_cols: list[str] | tuple[str, ...],
    table_col: str = "tbl",
    seq_col: str = "seq",
    ts_col: str = "cdc_ts",
) -> DataFrame:
    """Slowly-changing-dimension (type 2) view of the changelog: instead
    of compacting to the latest row (M1), keep EVERY version with its
    validity interval — valid_from = its event time, valid_to = the next
    event's time (null = still current), is_current flag.

    The reference only materializes latest-state (Redis overwrite,
    rcache.py:246-251); this is the standard warehouse-side history the
    same changelog supports for free once it's in Spark.  One window over
    (tbl, rid) ordered by seq — same single shuffle as compact()."""
    from pyspark.sql.window import Window

    keyed = with_rid(changelog, pk_cols).filter(F.col("rid").isNotNull())
    w = Window.partitionBy(table_col, "rid").orderBy(seq_col)
    return keyed.select(
        F.col(table_col).alias("tbl"),
        "rid",
        F.col("cdc_action"),
        F.col(ts_col).alias("valid_from"),
        F.lead(ts_col).over(w).alias("valid_to"),
        (F.lead(seq_col).over(w).isNull()).alias("is_current"),
        F.row_number().over(w).alias("version"),
        *[F.col(c) for c in payload_cols if c not in (ts_col,)],
    )


def state_diff(
    old_state: DataFrame,
    new_state: DataFrame,
    payload_cols: list[str] | tuple[str, ...],
    rid_col: str = "rid",
    action_col: str = "cdc_action",
    co_group_cols: list[str] | tuple[str, ...] = (),
) -> DataFrame:
    """Change-data-feed synthesis: diff two compacted states into the
    minimal changelog that transforms one into the other — the INVERSE
    of ``compact`` (the reference can only replay recorded events
    forward; snapshot-diff recovers a change feed even where the binlog
    was lost or never captured, e.g. bootstrapping CDC from two
    warehouse snapshots).

    Live rows (non-tombstones) of each side full-outer-join on rid:
    present only in new → insert; only in old → delete; both but any
    payload column differs (null-safe) → update.  One shuffle on rid —
    at 100 TB both states are already rid-keyed parquet, so with
    bucketed layouts even that exchange disappears.

    ``co_group_cols``: extra join columns (dropped from the output)
    whose ONLY job is letting the join reuse the inputs' existing
    partitioning (guide §2.4 — two operations keyed the same way share
    one exchange): states that come straight out of ``compact`` are
    hash-partitioned by (tbl, rid), so diffing them with
    ``co_group_cols=("tbl",)`` plans the full-outer join with ZERO new
    Exchanges, where a bare rid join re-shuffled both sides.  Only pass
    columns that are functionally determined by rid on both sides (a
    single-table state trivially satisfies this); otherwise the join
    key (cols, rid) would split rows a bare rid join would match.

    Returns (rid, change_type, before_<c>/after_<c> per payload col).
    """
    def live(df: DataFrame, side: str) -> DataFrame:
        return df.filter(F.col(action_col) != "delete").select(
            *co_group_cols,
            F.col(rid_col).alias("rid"),
            F.lit(True).alias(f"_{side}"),
            *[F.col(c).alias(f"{side}_{c}") for c in payload_cols],
        )

    o, n = live(old_state, "before"), live(new_state, "after")
    j = o.join(n, [*co_group_cols, "rid"], "full_outer")
    differs = reduce(
        or_,
        [
            ~F.col(f"before_{c}").eqNullSafe(F.col(f"after_{c}"))
            for c in payload_cols
        ],
    )
    change = (
        F.when(F.col("_before").isNull(), "insert")
        .when(F.col("_after").isNull(), "delete")
        .otherwise("update")
    )
    return (
        j.withColumn("change_type", change)
        .where((F.col("change_type") != "update") | differs)
        .select(
            "rid",
            "change_type",
            *[f"before_{c}" for c in payload_cols],
            *[f"after_{c}" for c in payload_cols],
        )
    )
