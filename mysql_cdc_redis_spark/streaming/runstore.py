"""The LSM run store under both streams (compact_jvm.py, dedup_stream.py):
the one module that names, writes, reads and deletes a run directory,
and the one batch driver both streams run on.

A run is written once, never rewritten, at
``<root>/gen=G/ingest_id=N/bucket=B``: ``ingest_id`` is the batch id
that wrote it; ``gen`` is 0 for a batch's run and fresh for a
compaction's merged run, so a merge never overwrites a listed dir;
``bucket`` is ``pmod(xxhash64(key), n_buckets)`` of the sort key, with
key-sorted files.  Moduli are powers of two, so a
footprint computed at the largest live modulus M projects exactly onto
an older run's m via ``b mod m`` (m | M).

A run is invisible until a manifest (commitlog.py) lists its entry
``{rid, gen, n_buckets, ...}``: readers never list, so a crashed
attempt's partial run cannot be read.  GC deletes every run dir outside
the live ``(gen, rid)`` set through the state FS handle.

Both streams keep their run log by the four rules below (replay,
commit, compaction selection, GC-live) and drive each micro-batch
through ``run_lsm_stream`` in one order, the versioned state-store
protocol of *Structured Streaming* (SIGMOD 2018): read the state before
the batch, write the batch's runs, compact, emit, then commit ONE
manifest per batch id and GC.  A store (``LsmStore``) carries only what
differs between the streams: its relations, its compaction, its
manifest payload, its GC window and its legacy-layout check.
"""

from __future__ import annotations

import functools
import os
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.scale import state_writer
from .changelog_files import run_available_now, write_emission
from .commitlog import LocalFS, ManifestLog

# Touched-bucket partition filters are literal isin lists, and each
# literal costs ~2 ms of driver planning (the dedup probe's
# _KEY_PUSH_CAP measurement).  Past this many projected bucket ids for
# a run the bucket filter is dropped for it — a filter passing >4k
# buckets prunes little — and only its ingest_id predicate remains.
_BUCKET_PUSH_CAP = 4_096


def bucket_of(col: Column, n_buckets: int) -> Column:
    """Stable bucket id for a run key: pmod (never abs%, see
    operators/scale.py:salt_from_hash) of the 64-bit hash.  The SAME
    expression assigns buckets at write time and derives the touched
    set at probe time — determinism across JVMs is what makes the
    partition filter sound."""
    return F.pmod(F.xxhash64(col), F.lit(n_buckets)).cast("int")


def run_dir(root: str, run: dict) -> str:
    return os.path.join(root, f"gen={run['gen']}", f"ingest_id={run['rid']}")


def write_run(
    df: DataFrame,
    root: str,
    rid: int,
    sort_col: str,
    n_buckets: int,
    gen: int = 0,
    single_task: bool = False,
) -> None:
    """One immutable sorted bucketed run.  Static overwrite replaces the
    WHOLE ``gen=G/ingest_id=N`` tree, so a replay is idempotent and no
    stale bucket dir of a crashed attempt survives a retry with fewer
    buckets.  Rows are key-sorted within each file (partitionBy splits
    a task's output by value), so row-group min/max stats stay tight for
    a pushed IN predicate; ``single_task`` or a modulus above 1 also
    makes it one file per bucket dir."""
    bucketed = df.withColumn("bucket", bucket_of(F.col(sort_col), n_buckets))
    if single_task:
        # tiny run: n_buckets tasks of a handful of rows each are pure
        # scheduler overhead (round-7 advice #6)
        bucketed = bucketed.coalesce(1)
    elif n_buckets > 1:
        # hash, not range, partitioning: range runs a sampling job per
        # write, and buckets are sized so one task per bucket is right
        # (a murmur3 collision only co-locates whole buckets).  One
        # bucket keeps the input's partitioning: an exchange into one
        # partition would only serialize the write.
        bucketed = bucketed.repartition(n_buckets, "bucket")
    (
        state_writer(bucketed.sortWithinPartitions("bucket", sort_col))
        .mode("overwrite")
        .option("partitionOverwriteMode", "static")
        .partitionBy("bucket")
        .parquet(run_dir(root, {"gen": gen, "rid": rid}))
    )


def read_runs(
    spark: SparkSession,
    root: str,
    runs: list[dict],
    schema: str | None = None,
    key_col: str | None = None,
    keys: list | None = None,
    touched: list[int] | None = None,
    probe_modulus: int | None = None,
) -> DataFrame | None:
    """Union of the given manifest runs, each row carrying its run's
    ``gen``, ``ingest_id`` and ``bucket`` through partition discovery.
    The paths come from the manifest entries, never from a listing, so
    uncommitted and superseded dirs are unreadable by construction.

    ``touched`` (bucket ids at ``probe_modulus``) prunes at listing
    time: each run's modulus m gets the exact projection {b mod m}, and
    untouched ``bucket=B`` dirs are never opened.  ``keys`` is pushed as
    a literal IN on ``key_col``, skipping row groups inside touched
    buckets.  Both are semantic no-ops under the callers' joins.
    ``schema`` (DDL, with the partition columns) skips inference, which
    would open one arbitrary footer, possibly of an untouched bucket."""
    if not runs:
        return None
    reader = spark.read.option("basePath", root)
    if schema is not None:
        reader = reader.schema(schema)
    df = reader.parquet(*[run_dir(root, r) for r in runs])
    if touched is not None and probe_modulus is not None:
        preds = []
        for r in runs:
            m = int(r["n_buckets"])
            tb = sorted({int(b) % m for b in touched})
            rp = F.col("ingest_id") == int(r["rid"])
            # a set covering the whole modulus prunes nothing
            if 0 < len(tb) < m and len(tb) <= _BUCKET_PUSH_CAP:
                rp = rp & F.col("bucket").isin(tb)
            preds.append(rp)
        df = df.filter(functools.reduce(lambda a, b: a | b, preds))
    if keys is not None and key_col is not None:
        df = df.filter(F.col(key_col).isin(keys))
    return df


def gc_runs(fs, roots: list[str], live: set[tuple[int, int]]) -> None:
    """Best-effort removal, through the state FS handle, of every run
    dir under ``roots`` whose ``(gen, rid)`` is not ``live``: superseded
    runs and crashed attempts no manifest listed.  Off the correctness
    path — a crash mid-delete leaves garbage the next pass reclaims."""
    for root in roots:
        for gdir in fs.list(root):
            if not gdir.startswith("gen="):
                continue
            gen = int(gdir.split("=", 1)[1])
            gpath = os.path.join(root, gdir)
            for rdir in fs.list(gpath):
                if not rdir.startswith("ingest_id="):
                    continue
                if (gen, int(rdir.split("=", 1)[1])) not in live:
                    fs.delete(os.path.join(gpath, rdir))


def state_before(manifest: dict, batch_id: int) -> dict:
    """The REPLAY RULE: ``manifest`` with only its runs of ``rid <
    batch_id``.  foreachBatch replays only the newest batch, so its
    replay recomputes from exactly what its first attempt read."""
    return {
        **manifest,
        "runs": [r for r in manifest.get("runs", []) if int(r["rid"]) < batch_id],
    }


def with_run(runs: list[dict], run: dict) -> list[dict]:
    """The COMMIT RULE: ``runs`` plus ``run``, whose entry replaces any
    entry with its own rid, in rid order."""
    return sorted(
        [r for r in runs if int(r["rid"]) != int(run["rid"])] + [run],
        key=lambda r: int(r["rid"]),
    )


def runs_to_fold(runs: list[dict], max_runs: int) -> list[dict]:
    """The COMPACTION SELECTION: every run but the newest once more
    than ``max_runs`` are live, else none.  The newest may be the batch
    a restart replays; never folding it keeps its replay's rows."""
    if len(runs) <= max_runs:
        return []
    return sorted(runs, key=lambda r: int(r["rid"]))[:-1]


def gc_live(log: ManifestLog, k: int) -> tuple[set[tuple[int, int]], set]:
    """The GC-LIVE SET: the ``(gen, rid)`` of every run, and every base
    slot, listed by the newest ``k`` valid manifests.  A torn newest
    commit is not valid, so nothing its predecessor lists is freed."""
    recent = [payload for _v, payload in log.recent(k)]
    runs = {(int(r["gen"]), int(r["rid"])) for p in recent for r in p.get("runs", [])}
    return runs, {p.get("base") for p in recent}


# ---------------------------------------------------------------------------
# The one LSM batch driver
# ---------------------------------------------------------------------------


class BatchRuns(NamedTuple):
    """A batch hook's runs: one DataFrame per relation (``{relation:
    df}``), the fields its manifest entry adds to ``{rid, gen}``
    (``n_buckets`` at least), and whether each run is one task's write."""

    frames: dict
    entry: dict
    single_task: bool = False


class LsmStore:
    """One stream's LSM state under ``state_dir``: a run root per
    relation (``relations`` maps its dir name to its sort key) and a
    manifest log.  Subclasses supply what differs between the streams:
    ``head`` (the empty view, and the legacy-layout check), ``compact``,
    ``payload`` and ``gc``; ``retain`` is the GC-live window k."""

    relations: dict[str, str] = {}

    def __init__(self, state_dir: str, fs, max_runs: int, retain: int = 1):
        if max_runs < 1:
            raise ValueError("max_runs must be >= 1")
        self.state_dir = state_dir
        self.fs = fs or LocalFS()
        self.log = ManifestLog(self.fs, state_dir)
        self.max_runs = max_runs
        self.retain = retain

    def root(self, relation: str) -> str:
        return os.path.join(self.state_dir, relation)

    def head(self) -> dict:
        """The newest committed manifest payload."""
        raise NotImplementedError

    def compact(self, view: dict, folded: list[dict]) -> dict:
        """``view`` with the ``folded`` runs merged, written but not
        committed; it reads only immutable listed inputs, so a replay
        recomputes it."""
        raise NotImplementedError

    def payload(self, view: dict, batch_id: int) -> dict:
        """What batch ``batch_id``'s manifest records for ``view``."""
        return view

    def gc(self) -> set:
        """Delete every run dir the newest ``retain`` valid manifests do
        not list; returns the bases they list."""
        live_runs, live_bases = gc_live(self.log, self.retain)
        gc_runs(self.fs, [self.root(r) for r in self.relations], live_runs)
        return live_bases


def write_batch(store: LsmStore, runs: BatchRuns, batch_id: int, prev: dict) -> dict:
    """Write batch ``batch_id``'s run of every relation onto ``prev``
    (``state_before`` the head) and record its entry by the commit rule,
    then compact once the selection picks runs.  A run whose dirs hold
    no data file changed nothing and has no schema to read back, so it
    is not recorded.  Returns the view, NOT yet committed."""
    entry = {"rid": int(batch_id), "gen": 0, **runs.entry}
    has_data = False
    for rel, df in runs.frames.items():
        root = store.root(rel)
        write_run(
            df, root, batch_id, store.relations[rel], int(entry["n_buckets"]),
            single_task=runs.single_task,
        )
        has_data = has_data or any(
            not n.startswith(("_", ".")) for n in store.fs.list(run_dir(root, entry))
        )
    view = {**prev, "runs": with_run(prev["runs"], entry) if has_data else prev["runs"]}
    folded = runs_to_fold(view["runs"], store.max_runs)
    return store.compact(view, folded) if folded else view


def commit_batch(store: LsmStore, view: dict, batch_id: int) -> None:
    """Publish ``view`` as batch ``batch_id``'s one manifest, then GC."""
    store.log.commit(store.payload(view, batch_id))
    store.gc()


def run_lsm_stream(
    store: LsmStore,
    stream: DataFrame,
    checkpoint_dir: str,
    hook,
    emit_dir: str | None = None,
) -> None:
    """Drain ``stream`` through the shared availableNow loop, one batch
    at a time in one order: ``prev = state_before(head, b)``; ``with
    hook(batch_df, b, prev) as (runs, emit)``; ``write_batch`` (runs,
    then any compaction); ``write_emission(emit(view))`` over
    ``emit_dir/batch_id=<b>`` while the view holds state (``emit`` is
    None when the stream emits nothing); and ``commit_batch`` LAST.  A
    crash anywhere before the commit leaves the prior manifest intact,
    and the replay overwrites every dir the attempt wrote.  The hook is
    a context manager so it can hold per-batch caches until the
    driver's writes are done.  ``emit_dir`` is created up front, so a
    finalize reads it with a known schema even when nothing was
    emitted."""
    if emit_dir is not None:
        os.makedirs(emit_dir, exist_ok=True)

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        prev = state_before(store.head(), batch_id)
        with hook(batch_df, batch_id, prev) as (runs, emit):
            view = write_batch(store, runs, batch_id, prev)
            if emit is not None and (view.get("base") is not None or view["runs"]):
                write_emission(emit(view), emit_dir, batch_id)
            commit_batch(store, view, batch_id)

    run_available_now(stream, checkpoint_dir, _apply, output_mode="update")
