"""The LSM run store under both streams (compact_jvm.py, dedup_stream.py):
the one module that names, writes, reads and deletes a run directory.

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
commit, compaction selection, GC-live); a manifest lists the live runs,
and the JVM stream's base slot, beside its stream's own payload.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.scale import state_writer
from .commitlog import ManifestLog

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
