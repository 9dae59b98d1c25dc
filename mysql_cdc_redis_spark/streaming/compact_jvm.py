"""Pure-JVM streaming compactor — the engine's one streaming
implementation of the CDC merge semantics: foreachBatch micro-batches
over the algebra of operators/compaction.py (SURVEY.md §2.8 T1/T4/K5;
reference rcache.py:224-259 periodic merge, cdc.py:119-134 at-least-
once replay safety).  The stream stays JVM-side end to end: no per-key
Python crossing, no protobuf-backed state store.

Design — foreachBatch micro-batches, each JVM-compacted into an
IMMUTABLE per-batch delta run; the state is the LSM of those runs:

* Each micro-batch is first collapsed per key to its fold TRANSITION
  TUPLE, not just its fold-from-empty outcome
  (operators/compaction.py::batch_transitions — three ``F.aggregate``
  folds over the seq-sorted action array, one per start state absent /
  insert / update-or-delete).  The action algebra (rcache.py:196-222)
  is a deterministic finite transducer, so the tuple composes exactly:
  for ANY prior state s, fold(s, batch_events) = tuple[s]
  (``_next_action``).  The stream only adds the single-column join /
  bucket key ``bkey``.  One shuffle of the (small) batch; the folds
  are interpreted (``ArrayAggregate`` is a ``CodegenFallback``), and
  the ``collect_list`` groupBy is an ObjectHashAggregate that falls
  back to sort past 128 keys per task.
* The batch's transition tuples are committed as an immutable RUN
  (generation 0, run id = batch_id, under ``state_dir/runs``) —
  per-batch commit cost ∝ |batch|, NOT ∝ |state|.  Because transition
  tuples compose associatively (`compose_transition_runs` — pinned over
  every action sequence × every split point), the state at any moment
  is the fold of base ∘ runs, recovered at read time.
* RUN LAYOUT: runs live in the run store both streams share
  (streaming/runstore.py: layout, write, read, GC), bucketed by
  ``bkey`` into ``bucket=B`` dirs at a modulus sized from the
  micro-batch's input bytes.  Below ``openCostInBytes`` that is one
  bucket, written by the tasks that fold the batch: no exchange, so a
  large batch keeps its fold parallel and a small one is one file.  A
  view lists each run as the run store's manifest entry ``{rid, gen,
  n_buckets}``.  Readers take each row's ``_run`` (the batch id
  composition orders by) from the run's ``ingest_id`` partition dir
  through partition discovery, so no per-batch literal enters any
  generated class and every micro-batch after the first runs on cached
  code.  A batch whose run dir holds no data file is not recorded in
  the view: it changed nothing, and it has no schema to read.
* PERIODIC COMPACTION bounds read amplification (the run log's
  compaction selection, streaming/runstore.py): once the run count
  exceeds ``max_runs`` (default 8), base ∘ every run but the batch's
  own folds into a new BASE — a bucketed-by-bkey ``write_bucketed``
  table ping-ponged between two slots under ``state_dir/base``, so the
  state dir alone is the state, and the fold's full-outer merge
  join plans Exchange-free above the base scan (only the composed runs
  shuffle).  Its bucket count follows the bytes the fold reads
  (``state_bucket_count``), and the commit that stops listing the
  superseded slot drops its data, so one base is live on disk.  Runs
  and bases are written in zstd pages (``scale.py::state_writer``).
  Amortized compaction cost per batch ≈ |state| / max_runs; with
  Delta/Iceberg the fold becomes MERGE INTO.
* Exactly-once: Spark's checkpoint replays an uncommitted batch with
  the SAME batch_id; the replay recomputes DETERMINISTICALLY by the
  run log's replay rule, from the head's base plus its runs with
  ``rid < batch_id`` (runs are immutable; a retried batch overwrites
  only ITS own run dir / base slot), and the new view ``{base,
  buckets, runs}`` commits as the LAST step, one PUT through the
  PUT-only manifest log (streaming/commitlog.py: checksummed versioned
  objects, no rename, correct on S3/GCS and POSIX alike).  A crash
  anywhere before the meta commit leaves the prior view intact; the
  retry overwrites the partial run/base.  Runs and the base slot the
  head no longer lists are GC'd at commit through the same FS handle.
  This is the idempotent-replay contract the reference relies on (M5),
  upgraded to exactly-once.

All four public streams run on the run store's one LSM batch driver
(streaming/runstore.py: ``run_lsm_stream``, shared with the dedup
stream), over the package's one file source.  ``_StateRuns`` is the
JVM store: one ``runs`` relation keyed on ``bkey``, compaction into the
other base slot, GC over the head alone plus the superseded slot's
drop, and the legacy-layout check.  Each variant's hook yields the
batch's run (``batch_runs``) and its emission, if any; variants differ
only in that hook, their fold (transition tuples or last-writer-wins)
and finalize.  Parity with the batch compactor under any micro-batch
slicing is pinned by tests/test_streaming_parity_jvm.py.
"""

from __future__ import annotations

import os
import shutil
import uuid
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..operators.compaction import (
    ACTION_FOLD_SENTINEL,
    TRANSITION_FOLDS,
    _next_action,
    batch_transitions,
    delta_to_state,
    merge_state_delta,
    with_rid,
)
from ..operators.scale import (
    open_cost_bytes,
    plan_input_bytes,
    state_bucket_count,
    write_bucketed,
)
from .changelog_files import file_stream
from .runstore import BatchRuns, LsmStore, read_runs, run_dir, run_lsm_stream

# what a stream state row carries besides tbl, rid, cdc_action, payload
_STATE_CARRY = ("bkey", "last_seq")


def _bkey(tbl: Column, rid: Column) -> Column:
    # single-column join/bucket key; \x01 cannot appear in a table name,
    # so distinct (tbl, rid) pairs stay distinct
    return F.concat_ws("\x01", tbl, rid)


def keyed_transitions(
    batch: DataFrame,
    pk_cols: tuple[str, ...],
    payload_cols: tuple[str, ...],
) -> DataFrame:
    """A micro-batch's transition tuples (``batch_transitions``) plus
    the stream's ``bkey``."""
    return batch_transitions(batch, pk_cols, payload_cols).withColumn(
        "bkey", _bkey(F.col("tbl"), F.col("rid"))
    )


def _delta_to_state(delta: DataFrame, payload_cols: tuple[str, ...]) -> DataFrame:
    """The from-empty state of a keyed delta, keeping bkey/last_seq."""
    return delta_to_state(delta, payload_cols, carry_cols=_STATE_CARRY)


def compose_transition_runs(runs: DataFrame) -> DataFrame:
    """Compose per-batch transition-tuple runs — each ≤1 row per key,
    stamped with its ``_run`` = batch_id — into the single transition
    tuple of the CONCATENATED batches, in batch order.

    Because the action algebra is a finite transducer, composition is
    tuple indexing: (t2 ∘ t1)[s] = t2[t1[s]] (``_next_action``; a
    mid-composition sentinel means "annihilated → absent", so the next
    tuple indexes at f_absent); payload/last_seq come wholesale from
    the NEWEST run that saw the key (rcache.py:222 last-event-wins,
    exactly what the pairwise ``merge_state_delta`` does per level).  One
    groupBy of the (small) runs; like ``batch_transitions`` it is an
    ObjectHashAggregate (sort fallback past 128 keys per task) with
    interpreted folds.
    Pinned exhaustively: every action sequence ≤4 × every split point
    composed through N runs equals the one-shot batch fold
    (tests/test_streaming_parity_jvm.py)."""
    tup = F.struct(F.col("_run").alias("b"), *TRANSITION_FOLDS)
    g = runs.groupBy("bkey").agg(
        F.max_by(
            F.struct("tbl", "rid", "last_seq", "_last"), F.col("_run")
        ).alias("_top"),
        F.array_sort(F.collect_list(tup)).alias("_tups"),
    )
    return g.select(
        "bkey",
        F.col("_top.tbl").alias("tbl"),
        F.col("_top.rid").alias("rid"),
        *[
            F.aggregate(F.col("_tups"), F.lit(init), _next_action).alias(c)
            for c, init in TRANSITION_FOLDS.items()
        ],
        F.col("_top.last_seq").alias("last_seq"),
        F.col("_top._last").alias("_last"),
    )


def fold_transition_state(
    base: DataFrame | None,
    runs: DataFrame | None,
    payload_cols: tuple[str, ...],
    base_buckets: int | None = None,
) -> DataFrame | None:
    """The LSM read: state = base ∘ (composed runs).  ``base`` is a
    compacted state (≤1 row per key, sentinel-free); ``runs`` is the
    union of per-batch transition runs with their ``_run`` stamps.

    ``base_buckets`` (the base table's bucket count) pre-partitions the
    runs by bkey into exactly that count so the compose groupBy AND the
    merge join both reuse one exchange that matches the bucketed base —
    without it the compose lands at ``spark.sql.shuffle.partitions``
    and the partition-count mismatch could make the planner re-shuffle
    the (big) base side instead of the (small) runs side."""
    if runs is None:
        return base
    if base is not None and base_buckets:
        runs = runs.repartition(base_buckets, "bkey")
    composed = compose_transition_runs(runs)
    if base is None:
        return _delta_to_state(composed, payload_cols)
    return merge_state_delta(
        base, composed, payload_cols,
        key=("bkey",), carry_cols=("last_seq", "tbl", "rid"),
    )


def fold_lww_state(base: DataFrame | None, runs: DataFrame | None) -> DataFrame | None:
    """Last-writer-wins LSM read for streams whose per-batch run holds
    COMPLETE replacement rows per touched key (the SCD2 twin: a batch's
    open-version rows supersede the key's prior state wholesale, keys
    are never deleted): newest run wins per key, base is oldest."""
    if runs is None:
        return base
    src = runs if base is None else base.withColumn("_run", F.lit(-1)).unionByName(runs)
    data_cols = [c for c in src.columns if c not in ("bkey", "_run")]
    return (
        src.groupBy("bkey")
        .agg(F.max_by(F.struct(*data_cols), F.col("_run")).alias("_s"))
        .select("bkey", *[F.col(f"_s.{c}").alias(c) for c in data_cols])
    )


# ---------------------------------------------------------------------------
# Durable LSM state: immutable per-batch delta runs + bucketed base slots
# + a manifest log of views
# ---------------------------------------------------------------------------


_VIEW_KEYS = {"base", "buckets", "runs"}


class _StateRuns(LsmStore):
    """Immutable per-batch delta runs + two bucketed base slots (one
    holding data) + a manifest log of views ``{base, buckets, runs}``,
    kept by the run store's rules (runstore.py), all under
    ``state_dir`` (``runs/``, ``base/<slot>``, ``_log/``): the dir alone
    is the state, so a fresh process resumes from it.  Slot table names
    derive from state_dir, so state dirs never collide in the catalog.
    ``fold`` is the stream's LSM read (``fold(base, runs, buckets)``).

    Per-batch commit cost is ∝ |batch| (one run write + one O(1)
    manifest PUT); the O(|state|) fold is paid only when the run count
    exceeds ``max_runs`` (periodic compaction into the other base slot)
    and at finalize."""

    relations = {"runs": "bkey"}

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        fold=None,
        fs=None,
        max_runs: int = 8,
    ):
        super().__init__(state_dir, fs, max_runs)
        self.spark = spark
        self.fold = fold
        self.runs_root = self.root("runs")
        tag = uuid.uuid5(uuid.NAMESPACE_URL, os.path.abspath(state_dir)).hex[:16]
        self.tables = [f"cdc_jvm_state_{tag}_{i}" for i in (0, 1)]

    # ---- manifest ---------------------------------------------------

    def head(self) -> dict:
        """The newest committed view; one holding no state before any
        batch committed."""
        head = self.log.head()
        if head is None:
            return {"base": None, "buckets": None, "runs": []}
        view = head[1]
        if set(view) != _VIEW_KEYS or (
            view["base"] is not None and not self.fs.list(self.table_dir(view["base"]))
        ):
            # a ``slots`` or ``views`` manifest (the latter may list bare
            # run ids), or a view whose base slot lives outside state_dir:
            # resuming any of them as empty state would lose it — reject
            # loudly (the dedup stream's legacy-state standard)
            raise ValueError(
                f"{self.state_dir}: state in a legacy ping-pong manifest "
                "(pre-LSM), in the runs/b=<id> run layout, in a batch→view "
                "map manifest or with its base outside state_dir/base (a "
                "warehouse-table base) is not resumable by this version; "
                "finalize it with the version that wrote it or start a "
                "fresh state_dir"
            )
        return view

    def gc(self) -> set:
        """k = 1: a replay reads only the head, whose base covers every
        ``rid < b``.  Then drop the base slot the head does not list, so
        one base is live on disk and disk stays O(|state| + max_runs ·
        |batch|): same best-effort FS-handle path as run GC; the slot's
        catalog entry stays, and the next compaction into it overwrites
        the table whole."""
        live_bases = super().gc()
        for slot in (0, 1):
            if slot not in live_bases and self.table_bytes(slot):
                self.fs.delete(self.table_dir(slot))
        return live_bases

    # ---- physical layout --------------------------------------------

    def batch_runs(self, batch: DataFrame, delta: DataFrame) -> BatchRuns:
        """A micro-batch's run ``delta``, at a bucket modulus sized from
        the batch's input bytes: the run's own plan may also read the
        state (the SCD2 hook joins it), and would size as the state."""
        n = state_bucket_count(plan_input_bytes(batch), open_cost_bytes(self.spark))
        return BatchRuns({"runs": delta}, {"n_buckets": n})

    def read_base(self, slot: int | None, n_buckets=None) -> DataFrame | None:
        """A base slot as its bucketed table, registered over
        ``table_dir(slot)`` at the view's ``n_buckets`` when the session's
        catalog lacks it (a fresh process resuming the state dir); Spark
        takes bucketing only with a column list, read from the files."""
        if slot is None:
            return None
        name, d = self.tables[slot], self.table_dir(slot)
        if not self.spark.catalog.tableExists(name):
            cols = self.spark.read.parquet(d)._jdf.schema().toDDL()
            self.spark.sql(
                f"CREATE TABLE `{name}` ({cols}) USING parquet CLUSTERED BY (bkey) "
                f"SORTED BY (bkey) INTO {n_buckets} BUCKETS LOCATION '{d}'"
            )
        return self.spark.table(name)

    def write_base(self, df: DataFrame, slot: int, n_buckets: int) -> None:
        write_bucketed(
            df, self.tables[slot], "bkey", n_buckets, path=self.table_dir(slot)
        )

    def table_dir(self, slot: int) -> str:
        """A base slot's data dir, ``<state_dir>/base/<slot>``."""
        return os.path.join(os.path.abspath(self.state_dir), "base", str(slot))

    def table_bytes(self, slot: int) -> int:
        """On-disk bytes of a base slot (0 when absent), sized through
        the FS handle like every other state access."""
        return self.fs.du(self.table_dir(slot))

    # ---- protocol ----------------------------------------------------

    def compact(self, view: dict, folded: list[dict]) -> dict:
        """Fold base ∘ the ``folded`` runs into the OTHER base slot
        (deterministic on replay: it reads only the view's immutable
        inputs, never the slot it overwrites)."""
        src = view["base"]
        dst = 0 if src is None else 1 - src
        # the compaction join's parallelism IS the bucket count, so it
        # follows the bytes the fold reads: one file for a sub-MB state,
        # 16 from 64 MB, the byte-sized count beyond ~4 GB
        state_bytes = (0 if src is None else self.table_bytes(src)) + sum(
            self.fs.du(run_dir(self.runs_root, r)) for r in folded
        )
        n_buckets = state_bucket_count(state_bytes, open_cost_bytes(self.spark))
        self.write_base(self.state_at({**view, "runs": folded}), dst, n_buckets)
        return {"base": dst, "buckets": n_buckets, "runs": view["runs"][len(folded):]}

    def state_at(self, view: dict, keys: DataFrame | None = None):
        """The folded state as of ``view``; with ``keys`` (a DataFrame
        carrying bkey), restricted to those keys via broadcast
        semi-joins BEFORE the fold — the per-batch point-read path of
        the emission variants (the fold is per-key, so folding a key
        subset equals subsetting the fold)."""
        base = self.read_base(view.get("base"), view.get("buckets"))
        runs = read_runs(self.spark, self.runs_root, view.get("runs", []))
        if runs is not None:
            # cast: a session with partition type inference off reads
            # ingest_id as a string, which would order run 10 before 9
            runs = runs.withColumn("_run", F.col("ingest_id").cast("long")).drop(
                "gen", "ingest_id", "bucket"
            )
        if keys is not None:
            kb = F.broadcast(keys.select("bkey").distinct())
            base = base.join(kb, "bkey", "left_semi") if base is not None else None
            runs = runs.join(kb, "bkey", "left_semi") if runs is not None else None
        return self.fold(base, runs, view.get("buckets"))


def _ddl(head: str, schema: StructType, payload_cols: tuple[str, ...]) -> str:
    """A DDL schema string: the ``head`` columns, then ``payload_cols``
    typed as in ``schema``."""
    return head + "".join(
        f", {c} {schema[c].dataType.simpleString()}" for c in payload_cols
    )


_STATE_DDL = "tbl string, rid string, cdc_action string"


def _transition_fold(payload_cols: tuple[str, ...]):
    def fold(base, runs, buckets=None):
        return fold_transition_state(base, runs, payload_cols, buckets)

    return fold


def run_compaction_stream_jvm(
    spark: SparkSession,
    source_dir: str,
    source_schema: StructType,
    pk_cols: tuple[str, ...],
    payload_cols: tuple[str, ...],
    checkpoint_dir: str,
    state_dir: str,
    max_files_per_trigger: int | None = None,
    fs=None,
    max_runs: int = 8,
) -> DataFrame:
    """End-to-end availableNow run of the JVM streaming compactor
    (blocking=False mode, cdc_config.py:36): tail the file changelog,
    commit each micro-batch as an immutable transition run (cost
    ∝ |batch|), return the final compacted state — the LSM fold of
    base ∘ runs — with the batch compactor's exact columns
    (tbl, rid, cdc_action, payload...).

    Durability/restart: offsets live in ``checkpoint_dir`` (K5), state
    in ``state_dir`` (runs, base slots, ``_log``); a resumed run
    continues from the committed view (tested: resume-midway parity
    and crash-retry determinism).  State survives across runs of the
    same state_dir — call ``drop_state_jvm`` to dispose of it when the
    pipeline is decommissioned."""
    slots = _StateRuns(spark, state_dir, _transition_fold(payload_cols), fs, max_runs)

    @contextmanager
    def batch(batch_df: DataFrame, batch_id: int, prev: dict):
        yield slots.batch_runs(
            batch_df, keyed_transitions(batch_df, pk_cols, payload_cols)
        ), None

    run_lsm_stream(
        slots, file_stream(spark, source_dir, source_schema, max_files_per_trigger),
        checkpoint_dir, batch,
    )
    state = read_state_jvm(spark, state_dir, payload_cols, fs=fs)
    if state is None:  # empty source: no state stored
        return spark.createDataFrame([], _ddl(_STATE_DDL, source_schema, payload_cols))
    return state


def run_retraction_stream_jvm(
    spark: SparkSession,
    source_dir: str,
    source_schema: StructType,
    pk_cols: tuple[str, ...],
    payload_cols: tuple[str, ...],
    checkpoint_dir: str,
    state_dir: str,
    deltas_dir: str,
    max_files_per_trigger: int | None = None,
    fs=None,
    max_runs: int = 8,
) -> DataFrame:
    """Pure-JVM retraction stream — the Flink-style
    changelog-of-the-aggregate (the streaming form of
    cdc_ivm_agg_maintenance) with zero per-key Python crossings.

    Per micro-batch, the emitted delta rows are two point-reads of the
    LSM state restricted to the batch's touched keys (broadcast
    semi-joins against base + runs, folded per key):

    * ``sign=-1`` × the PRIOR view's LIVE payload for every key the
      batch touched (the retraction),
    * ``sign=+1`` × the new view's LIVE payload for the same keys (the
      addition) — where LIVE means present and not folded to 'delete'.

    Telescoping makes Σ sign·f(payload) equal f over the final live
    state under ANY micro-batch slicing (pinned by
    tests/test_streaming_parity_jvm.py: the exact emission multiset vs
    per-chunk batch compactions, and the 1- vs 4-chunk aggregate vs the
    batch aggregate).

    Exactly-once emissions: each batch overwrites its own
    ``deltas_dir/batch_id=N`` partition BEFORE the meta commit, so a
    retried batch replaces — never duplicates — its delta rows.
    Reference anchor: this is the streaming form of the reference's
    aggregate-maintenance pattern (rcache.py:224-259 merge keeps Redis
    aggregates current per poll loop)."""
    slots = _StateRuns(spark, state_dir, _transition_fold(payload_cols), fs, max_runs)

    def _live_rows(state: DataFrame, sign: int) -> DataFrame:
        return (
            state.filter(F.col("cdc_action") != "delete")
            .select("tbl", "rid", F.lit(sign).cast("long").alias("sign"),
                    *payload_cols)
        )

    @contextmanager
    def batch(batch_df: DataFrame, batch_id: int, prev: dict):
        delta = keyed_transitions(batch_df, pk_cols, payload_cols)
        touched = delta.select("bkey")

        def emit(view: dict) -> DataFrame:
            plus = _live_rows(slots.state_at(view, keys=touched), 1)
            old = slots.state_at(prev, keys=touched)
            return plus if old is None else _live_rows(old, -1).unionByName(plus)

        yield slots.batch_runs(batch_df, delta), emit

    run_lsm_stream(
        slots, file_stream(spark, source_dir, source_schema, max_files_per_trigger),
        checkpoint_dir, batch, emit_dir=deltas_dir,
    )
    ddl = _ddl("tbl string, rid string, sign long", source_schema, payload_cols)
    out = spark.read.schema(ddl).parquet(deltas_dir)
    return out.select("tbl", "rid", "sign", *payload_cols)


def run_scd2_stream_jvm(
    spark: SparkSession,
    source_dir: str,
    source_schema: StructType,
    pk_cols: tuple[str, ...],
    payload_cols: tuple[str, ...],
    checkpoint_dir: str,
    state_dir: str,
    emissions_dir: str,
    max_files_per_trigger: int | None = None,
    fs=None,
    max_runs: int = 8,
) -> DataFrame:
    """Pure-JVM incremental SCD2 (the streaming form of batch
    ``scd2_history``), zero per-key Python crossings.

    Per micro-batch, version assignment is a window over the (small)
    batch joined LEFT against the LSM state restricted to the batch's
    keys (replay guard: ``seq > stored last_seq`` skips events the state
    already holds): ``version = stored_version + row_number()``,
    intra-batch closures via ``lead(ts)``, plus one correction row
    closing the state's open version at the batch's first event.  The
    batch's OPEN versions are its immutable run — last-writer-wins per
    key (``fold_lww_state``), because a batch's open rows supersede the
    key's prior state wholesale and keys are never deleted.  Only
    CLOSED versions are ever emitted — the open versions ARE the state
    rows, so finalize is a plain union with no per-(key, version)
    supersede pass.  Emissions are exactly-once (per-batch partition
    overwrite before the meta commit), state durability/restart
    semantics identical to ``run_compaction_stream_jvm``."""
    from pyspark.sql.window import Window

    slots = _StateRuns(
        spark, state_dir, lambda base, runs, buckets: fold_lww_state(base, runs),
        fs, max_runs,
    )
    state_ddl = _ddl(
        "bkey string, tbl string, rid string, version long, last_seq long, "
        "valid_from string, cdc_action string",
        source_schema, payload_cols,
    )

    @contextmanager
    def batch(batch_df: DataFrame, batch_id: int, prev: dict):
        keyed = (
            with_rid(batch_df, pk_cols)
            .filter(F.col("rid").isNotNull())
            .withColumn("bkey", _bkey(F.col("tbl"), F.col("rid")))
            .select(
                "bkey", "tbl", "rid", "seq", "cdc_action",
                F.col("cdc_ts").cast("string").alias("_ts"),
                *[F.col(c).alias(f"_p_{c}") for c in payload_cols],
            )
            .dropDuplicates(["bkey", "seq"])
        )
        state_prev = slots.state_at(prev, keys=keyed)
        if state_prev is None:
            state_prev = spark.createDataFrame([], state_ddl)
        s = state_prev.select(
            "bkey",
            F.col("version").alias("_sv"),
            F.col("last_seq").alias("_sls"),
            F.col("valid_from").alias("_svf"),
            F.col("cdc_action").alias("_sac"),
            *[F.col(c).alias(f"_sp_{c}") for c in payload_cols],
        )
        w = Window.partitionBy("bkey").orderBy("seq")
        evs = (
            keyed.join(s, "bkey", "left")
            .filter(F.col("seq") > F.coalesce(F.col("_sls"), F.lit(-1)))
            .withColumn("_rn", F.row_number().over(w))
            .withColumn("_next_ts", F.lead("_ts").over(w))
            .withColumn("_v", F.coalesce(F.col("_sv"), F.lit(0)) + F.col("_rn"))
        )

        def payload_as(prefix: str) -> list[Column]:
            return [F.col(f"{prefix}{c}").alias(c) for c in payload_cols]

        closed_batch = evs.filter(F.col("_next_ts").isNotNull()).select(
            "tbl", "rid", F.col("_v").alias("version"), "cdc_action",
            F.col("_ts").alias("valid_from"),
            F.col("_next_ts").alias("valid_to"),
            *payload_as("_p_"),
        )
        closed_prior = evs.filter(
            (F.col("_rn") == 1) & F.col("_sv").isNotNull()
        ).select(
            "tbl", "rid", F.col("_sv").alias("version"),
            F.col("_sac").alias("cdc_action"),
            F.col("_svf").alias("valid_from"),
            F.col("_ts").alias("valid_to"),
            *payload_as("_sp_"),
        )
        opens = evs.filter(F.col("_next_ts").isNull()).select(
            "bkey", "tbl", "rid", F.col("_v").cast("long").alias("version"),
            F.col("seq").cast("long").alias("last_seq"),
            F.col("_ts").alias("valid_from"), "cdc_action",
            *payload_as("_p_"),
        )
        closed = closed_batch.unionByName(closed_prior)
        yield slots.batch_runs(batch_df, opens), lambda view: closed

    run_lsm_stream(
        slots, file_stream(spark, source_dir, source_schema, max_files_per_trigger),
        checkpoint_dir, batch, emit_dir=emissions_dir,
    )
    # the stored version is a long (stored_version + row_number())
    emitted_ddl = _ddl(
        "tbl string, rid string, version long, cdc_action string, "
        "valid_from string, valid_to string",
        source_schema, payload_cols,
    )
    closed = spark.read.schema(emitted_ddl).parquet(emissions_dir).select(
        "tbl", "rid", "cdc_action", "valid_from", "valid_to",
        F.lit(False).alias("is_current"),
        F.col("version").cast("int").alias("version"),
        *payload_cols,
    )
    state = slots.state_at(slots.head())
    if state is None:  # empty source: no state stored
        return closed
    open_rows = state.select(
        "tbl", "rid", "cdc_action", "valid_from",
        F.lit(None).cast("string").alias("valid_to"),
        F.lit(True).alias("is_current"),
        F.col("version").cast("int").alias("version"),
        *payload_cols,
    )
    return closed.unionByName(open_rows)


def run_compaction_pipeline_dual_sink_jvm(
    spark: SparkSession,
    source_dir: str,
    source_schema: StructType,
    pk_cols: tuple[str, ...],
    payload_cols: tuple[str, ...],
    checkpoint_dir: str,
    emissions_dir: str,
    csv_dir: str,
    state_dir: str,
    snapshot_dir: str,
    date_col: str = "cdc_ts",
    fmt: str = "yyyyMM",
    max_files_per_trigger: int | None = None,
    fs=None,
    max_runs: int = 8,
) -> DataFrame:
    """The reference's COMPOSED loop — cdc.py (binlog tail) → rcache.py
    (keyed cache merge) → dump2csv.py (date-partitioned CSV dump) — as
    ONE streaming query, pure-JVM end to end (zero Python row
    crossings):

    * the micro-batch folds to transition tuples and commits as an
      immutable LSM run exactly like ``run_compaction_stream_jvm``;
    * sink 1 (K5): the batch's emission rows — one row per TOUCHED key
      carrying its post-merge (cdc_action, last_seq, payload) read from
      the LSM restricted to the touched keys, with annihilated keys
      emitted as explicit ``ACTION_FOLD_SENTINEL`` tombstones —
      overwrite ``emissions_dir/batch_id=N``: an exactly-once commit
      log;
    * sink 2 (K1): the same batch's rows go to the date-partitioned
      CSV dump under its own ``csv_dir/batch_id=N/dt=…`` dir,
      overwritten like sink 1, so a retried batch replaces its rows;
      ``read_dump`` reads the whole dump as one table (the reference's
      periodic dumps accrete by poll the same way);
    * sink 3 (K4): after the availableNow run terminates, the finalized
      compacted state is dumped table-partitioned to ``snapshot_dir``
      (the durable Redis-state analog) and returned.

    Finalize-from-emissions (last emission per key by batch_id, drop
    tombstones) equals the final LSM fold AND the batch compactor —
    pinned by tests/test_streaming_parity_jvm.py."""
    if date_col not in payload_cols:
        raise ValueError(f"date_col {date_col!r} must be in payload_cols")
    from ..operators.dump import dump_state_parquet, dump_to_csv

    slots = _StateRuns(spark, state_dir, _transition_fold(payload_cols), fs, max_runs)

    @contextmanager
    def batch(batch_df: DataFrame, batch_id: int, prev: dict):
        delta = keyed_transitions(batch_df, pk_cols, payload_cols)

        def emit(view: dict) -> DataFrame:
            # emissions read the LSM at the new view restricted to the
            # touched keys (one point-read, not a second merge);
            # annihilated keys become explicit tombstones carrying the
            # seq that killed them, so a per-key max_by(last_seq)
            # finalize over the emission/CSV logs is total (a tombstone
            # supersedes the key's earlier live rows; a re-insert
            # supersedes the tombstone)
            touched = delta.select("bkey", "tbl", "rid", "last_seq")
            live = slots.state_at(view, keys=touched)
            gone = (
                touched.join(live.select("bkey"), "bkey", "left_anti")
                .select(
                    "bkey", "tbl", "rid",
                    F.lit(ACTION_FOLD_SENTINEL).alias("cdc_action"),
                    "last_seq",
                    *[
                        F.lit(None).cast(source_schema[c].dataType).alias(c)
                        for c in payload_cols
                    ],
                )
            )
            out = live.unionByName(gone).select(
                "tbl", "rid", "cdc_action", "last_seq", *payload_cols
            )
            # tombstones ride into the CSV dump too: without them the
            # dump's finalize could resurrect a key annihilated in a
            # later poll.  Their date partition falls back to the dump's
            # null-date bucket.  The batch's own dir is overwritten, so
            # a replayed batch replaces its rows.
            dump_to_csv(
                out, os.path.join(csv_dir, f"batch_id={batch_id}"),
                date_col=date_col, fmt=fmt,
            )
            return out

        yield slots.batch_runs(batch_df, delta), emit

    run_lsm_stream(
        slots, file_stream(spark, source_dir, source_schema, max_files_per_trigger),
        checkpoint_dir, batch, emit_dir=emissions_dir,
    )
    state = read_state_jvm(spark, state_dir, payload_cols, fs=fs)
    if state is None:  # empty source: no state stored
        return spark.createDataFrame([], _ddl(_STATE_DDL, source_schema, payload_cols))
    dump_state_parquet(state, snapshot_dir)
    return spark.read.parquet(snapshot_dir).select(
        "tbl", "rid", "cdc_action", *payload_cols
    )


def read_state_jvm(
    spark: SparkSession, state_dir: str, payload_cols: tuple[str, ...], fs=None
) -> DataFrame | None:
    """The committed state of ``state_dir`` (the head view's base ∘
    runs) in the batch compactor's columns (tbl, rid, cdc_action,
    payload...); None when nothing is stored."""
    slots = _StateRuns(spark, state_dir, _transition_fold(payload_cols), fs)
    state = slots.state_at(slots.head())
    if state is None:
        return None
    return state.select("tbl", "rid", "cdc_action", *payload_cols)


def drop_state_jvm(spark: SparkSession, state_dir: str) -> None:
    """Dispose of a pipeline's state (the slots' catalog entries, then
    all of ``state_dir`` — the K6-style destructive clear for this twin)."""
    for t in _StateRuns(spark, state_dir).tables:
        spark.sql(f"DROP TABLE IF EXISTS `{t}`")
    shutil.rmtree(state_dir, ignore_errors=True)
