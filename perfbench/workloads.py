"""The benchmark's workloads.

Each workload takes a started ``Run`` and the run length, generates its
seeded inputs, warms up, runs a fixed amount of timed work through the
package's public entry points, checks every output (untimed, fatal on
mismatch) and returns a ``Result``. The amount of timed work is derived
from ``--seconds`` alone, never from the clock, so two commits measured
with the same settings always do identical work.

Per-layer metrics that need the Spark event log are filled in by
``Result.post`` once the session has stopped and the log is complete."""

from __future__ import annotations

import hashlib
import logging
import math
import os
import re
import shutil
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

from . import eventlog, gen
from .measure import dir_mb, median, percentile, tail_permille

SYSTEM_COLS = ("seq", "db", "tbl", "cdc_action", "cdc_ts")


class GateMismatch(Exception):
    """A correctness gate failed: the program's output is wrong."""


@dataclass
class Result:
    e2e: dict[str, float]
    layer: dict[str, float]
    attempted: int  # timed operations: micro-batches and calls into a layer
    post: Callable[[eventlog.Log], dict[str, float]]  # per-layer metrics from the event log
    notes: dict[str, object] = field(default_factory=dict)


def _gate(ok: bool, what: str) -> None:
    if not ok:
        raise GateMismatch(what)


def _chk(df: DataFrame) -> tuple[int, str]:
    from mysql_cdc_redis_spark.benchutil import checksum_row

    r = checksum_row(df)
    return int(r["n"]), str(r["chk"])


SETUP_SPANS = ("session.start", "sources.generate", "session.warmup")


def _run_metrics(
    run, passes: list[dict], state_mb: float
) -> tuple[dict[str, float], dict[str, float]]:
    """End-to-end metrics, and the wall-clock figures beside them, from
    the set-up spans and the timed pass spans (medians over passes).

    The timings among the end-to-end metrics are CPU seconds of the whole
    process tree (Python driver, JVM, Python workers): on a shared virtual
    machine wall time tracks how much CPU other guests steal, while CPU
    time mostly does not. ``state_mb`` is what the workload keeps on disk."""
    tr = run.tracer
    wall = median([p["end"] - p["start"] for p in passes])
    e2e = {
        "setup_s": sum(tr.cpu_total(n) for n in SETUP_SPANS),
        "cpu_s": median([p["cpu_s"] for p in passes]),
        "state_mb": state_mb,
    }
    layer = {
        "session.setup_wall_s": sum(tr.total(n) for n in SETUP_SPANS),
        "session.peak_rss_mb": run.peak_rss_mb(),
        "pass.wall_s": wall,
    }
    return e2e, layer


def _windows_ms(spans: list[dict], names: tuple[str, ...]) -> list[tuple[float, float]]:
    return [(s["start"] * 1000, s["end"] * 1000) for s in spans if s["name"] in names]


def _span_total(spans: list[dict], name: str) -> float:
    return sum(s["end"] - s["start"] for s in spans if s["name"] == name)


def _stage_totals(log: eventlog.Log, windows) -> dict[str, int]:
    stages = [s for w in windows for s in eventlog.in_window(log.stages, *w)]
    return eventlog.totals(stages)


# ---------------------------------------------------------------------------
# cdc_pipeline: a lineitem snapshot and small increments through the JVM
# stream, then the reference's batch path over the same events
# ---------------------------------------------------------------------------

CDC_KEYS = 20_000  # base lineitem rows; the snapshot holds ~1.9 events per key
CDC_EVENTS_PER_INCREMENT = 1_000
CDC_INCREMENTS_PER_SECOND = 0.5
WARMUP_INCREMENTS = 1
# the timed calls after the stream's micro-batches
CDC_CALLS = (
    "stream.final_fold", "sources.parse", "compaction.compact", "compaction.merge",
    "compaction.diff", "dump.write", "dump.replay",
)


@dataclass
class CdcInput:
    files: list[str]  # staged changelog files, oldest mtime first: snapshot, increments
    envelopes: str  # the increments as Debezium JSON lines
    schema: StructType


def _copy(files: list[str], dest: str) -> list[str]:
    os.makedirs(dest)
    out = [os.path.join(dest, f"part-{j:05d}.parquet") for j in range(len(files))]
    for src, dst in zip(files, out):
        shutil.copyfile(src, dst)
    return out


def _stage_cdc_input(run, n_inc: int) -> tuple[CdcInput, list[str]]:
    """Base table → snapshot changelog (sources layer) as ONE file, then
    ``n_inc`` increment files and their Debezium envelopes from one job
    each, staged oldest-first. The warm-up stream reads copies of the
    first increments, so it costs no generation job of its own."""
    from mysql_cdc_redis_spark.sources.changelog import lineitem_changelog

    spark = run.spark
    sf = run.path("sf")
    gen.base_table(spark, CDC_KEYS, run.seed).write.parquet(f"{sf}/lineitem.parquet")
    lineitem_changelog(spark, sf).coalesce(1).write.parquet(run.path("snap"))
    schema = spark.read.parquet(run.path("snap")).schema
    row_cols = [f.name for f in schema.fields if f.name not in SYSTEM_COLS]
    first_seq = (CDC_KEYS // 4 + 2) * 40  # above every snapshot seq
    incs = gen.increments(
        spark, schema, CDC_KEYS, first_seq, n_inc, CDC_EVENTS_PER_INCREMENT, run.seed
    )
    incs.write.parquet(run.path("inc"))
    gen.debezium_json(incs, row_cols).write.text(run.path("envelopes"))
    files = gen.part_files(run.path("snap")) + gen.part_files(run.path("inc"))
    if len(files) != 1 + n_inc:
        raise RuntimeError(f"expected {n_inc} increment files, got {len(files) - 1}")
    main = gen.stage_in_order(files, run.path("main", "src"))
    warm = gen.stage_in_order(
        _copy(main[1:2 + WARMUP_INCREMENTS], run.path("warm", "copies")),
        run.path("warm", "src"),
    )
    return CdcInput(main, run.path("envelopes"), schema), warm


def _compact_files(spark, files: list[str]) -> DataFrame:
    from mysql_cdc_redis_spark.operators.compaction import compact
    from mysql_cdc_redis_spark.sources.changelog import LINEITEM_PAYLOAD, LINEITEM_PK

    return compact(spark.read.parquet(*files), LINEITEM_PK, LINEITEM_PAYLOAD)


def _live(df: DataFrame) -> int:
    return df.filter(df["cdc_action"] != "delete").count()


def _stream(run, name: str, files: list[str], schema: StructType) -> dict:
    """Stream the staged files (one per micro-batch) to a compacted state
    and fold it."""
    from mysql_cdc_redis_spark.sources.changelog import LINEITEM_PAYLOAD, LINEITEM_PK
    from mysql_cdc_redis_spark.streaming import run_compaction_stream_jvm

    tr = run.tracer
    state_dir = run.path(name, "state")
    run.stream_state_dirs.append(state_dir)
    warehouse_mb = dir_mb(run.path("warehouse"))  # the stream's base tables land here
    with tr.span("stream.run") as stream_span:
        state = run_compaction_stream_jvm(
            run.spark, os.path.dirname(files[0]), schema, LINEITEM_PK, LINEITEM_PAYLOAD,
            checkpoint_dir=run.path(name, "ckpt"), state_dir=state_dir,
            max_files_per_trigger=1,
        )
    with tr.span("stream.final_fold"):
        stream_chk = _chk(state)
    state_mb = dir_mb(state_dir, run.path("warehouse")) - warehouse_mb
    return {"stream_span": stream_span, "stream_chk": stream_chk, "state_mb": state_mb}


def _batch_path(run, name: str, inp: CdcInput) -> dict:
    """The reference's batch path over the same events: parse the
    increments' envelopes, compact the snapshot, merge the parsed
    increments into it, diff the two states, dump the merged state to
    dated CSV and replay the dump. Returns what the gates compare."""
    from mysql_cdc_redis_spark.operators.compaction import compact, merge_state, state_diff
    from mysql_cdc_redis_spark.operators.dump import dump_to_csv, read_dump
    from mysql_cdc_redis_spark.operators.scale import write_bucketed
    from mysql_cdc_redis_spark.sources.changelog import LINEITEM_PAYLOAD, LINEITEM_PK
    from mysql_cdc_redis_spark.sources.debezium import parse_debezium

    spark, tr = run.spark, run.tracer
    pk, payload = LINEITEM_PK, LINEITEM_PAYLOAD
    parsed = run.path(name, "parsed")
    row_schema = StructType([f for f in inp.schema.fields if f.name not in SYSTEM_COLS])
    with tr.span("sources.parse"):
        parse_debezium(spark.read.text(inp.envelopes), row_schema).write.parquet(parsed)
    snap_table, merged_table = f"{name}_snapshot_state", f"{name}_merged_state"
    with tr.span("compaction.compact"):
        write_bucketed(compact(spark.read.parquet(inp.files[0]), pk, payload), snap_table, "rid")
    with tr.span("compaction.merge"):
        merged = merge_state(spark.table(snap_table), spark.read.parquet(parsed), pk, payload)
        write_bucketed(merged, merged_table, "rid")
    with tr.span("compaction.diff"):
        diff = state_diff(
            spark.table(snap_table), spark.table(merged_table), payload, co_group_cols=("tbl",)
        )
        changes = {r["change_type"]: r["count"] for r in diff.groupBy("change_type").count().collect()}
    dump_dir = run.path(name, "dump")
    with tr.span("dump.write"):
        dump_to_csv(spark.table(merged_table), dump_dir, "l_shipdate")
    with tr.span("dump.replay"):
        schema = StructType(spark.table(merged_table).schema.fields)
        replay_chk = _chk(read_dump(spark, dump_dir, schema).drop("dt"))
    return {
        "snap_table": snap_table, "merged_table": merged_table, "changes": changes,
        "replay_chk": replay_chk, "dump_dir": dump_dir,
    }


def _cdc_gates(run, inp: CdcInput, out: dict) -> None:
    spark = run.spark
    want = _chk(_compact_files(spark, inp.files))
    got = out["stream_chk"]
    _gate(got == want, f"stream state {got} != compact() over the same files {want}")
    merged = _chk(spark.table(out["merged_table"]))
    _gate(merged == want, f"compact + merge of the parsed increments {merged} != compact() {want}")
    _gate(out["replay_chk"] == merged, f"dump replay {out['replay_chk']} != dumped state {merged}")
    ch = out["changes"]
    net = ch.get("insert", 0) - ch.get("delete", 0)
    live = _live(spark.table(out["merged_table"])) - _live(spark.table(out["snap_table"]))
    _gate(net == live, f"state diff nets {net} live rows, the states differ by {live}")


def cdc_pipeline(run, seconds: int) -> Result:
    run.start_session()
    tr = run.tracer
    # at least one periodic compaction (every 8th batch by default)
    n_inc = max(8, round(seconds * CDC_INCREMENTS_PER_SECOND))
    with tr.span("sources.generate"):
        main, warm = _stage_cdc_input(run, n_inc)
    # the warm-up runs every timed code path once: a short stream, and the
    # batch path with the first increment standing in for the snapshot
    with tr.span("session.warmup"):
        _stream(run, "warm", warm, main.schema)
        run.listener.take(len(warm))
        _batch_path(run, "warm", CdcInput(warm, main.envelopes, main.schema))
    first_timed = len(tr.spans)

    with tr.span("cdc.pass") as timed_span:
        out = {**_stream(run, "main", main.files, main.schema), **_batch_path(run, "main", main)}
    merged_mb = dir_mb(os.path.join(run.path("warehouse"), out["merged_table"]))
    e2e, run_layer = _run_metrics(run, [timed_span], out["state_mb"] + merged_mb)
    progress = sorted(run.listener.take(len(main.files)), key=lambda p: p["batchId"])
    with tr.span("gate.cdc"):
        _cdc_gates(run, main, out)

    batches = []
    for p in progress:
        start_ms, end_ms = eventlog.progress_window_ms(p)
        tr.add("stream.batch", start_ms / 1000, end_ms / 1000, out["stream_span"]["id"],
               batch_id=p["batchId"], rows=p["numInputRows"])
        batches.append({
            "id": p["batchId"], "rows": p["numInputRows"], "window": (start_ms, end_ms),
            "trigger_s": p["durationMs"].get("triggerExecution", 0) / 1000,
            "add_s": p["durationMs"].get("addBatch", 0) / 1000,
        })
    snap, incs = batches[0], batches[1:]
    inc_s = [b["trigger_s"] for b in incs]
    timed = tr.spans[first_timed:]
    dump_files = [
        os.path.join(r, f) for r, _, fs in os.walk(out["dump_dir"]) for f in fs
        if f.endswith(".csv")
    ]
    tail = tail_permille(len(inc_s))

    def post(log: eventlog.Log) -> dict[str, float]:
        compaction = [b for b in incs if any(
            b["window"][0] <= t <= b["window"][1] for t in log.table_writes_ms)]
        appends = [b for b in incs if b not in compaction]
        per = {b["id"]: eventlog.totals(eventlog.in_window(log.stages, *b["window"]))
               for b in incs}
        comp = _stage_totals(log, _windows_ms(
            timed, ("compaction.compact", "compaction.merge", "compaction.diff")))
        parse = _stage_totals(log, _windows_ms(timed, ("sources.parse",)))
        return {
            "sources.rows": parse["input_records"],
            "sources.input_bytes": parse["input_bytes"],
            "compaction.tasks": comp["tasks"],
            "compaction.run_ms": comp["run_ms"],
            "compaction.shuffle_bytes": comp["shuffle_bytes"],
            "compaction.spill_bytes": comp["spill_bytes"],
            "stream.append_batch_s": median([b["trigger_s"] for b in appends]),
            "stream.compaction_batch_s": median([b["trigger_s"] for b in compaction])
            if compaction else 0.0,
            "stream.compactions": len(compaction),
            "stream.bytes_rewritten": sum(per[b["id"]]["output_bytes"] for b in compaction),
            "stream.tasks_per_batch": median([per[b["id"]]["tasks"] for b in incs]),
            "stream.run_bytes": median([per[b["id"]]["output_bytes"] for b in appends]),
            "stream.batch_input_bytes": median([per[b["id"]]["input_bytes"] for b in incs]),
            "stream.read_amp": sum(per[b["id"]]["input_records"] for b in incs)
            / max(1, sum(b["rows"] for b in incs)),
        }

    return Result(
        e2e=e2e,
        layer={
            **run_layer,
            "stream.events_per_s": sum(b["rows"] for b in incs) / sum(inc_s),
            "sources.parse_s": _span_total(timed, "sources.parse"),
            "compaction.compact_s": _span_total(timed, "compaction.compact"),
            "compaction.merge_s": _span_total(timed, "compaction.merge"),
            "compaction.diff_s": _span_total(timed, "compaction.diff"),
            "compaction.state_mb": merged_mb,
            "dump.write_s": _span_total(timed, "dump.write"),
            "dump.replay_s": _span_total(timed, "dump.replay"),
            "dump.bytes": sum(os.path.getsize(f) for f in dump_files),
            "dump.files": len(dump_files),
            "stream.snapshot_s": snap["trigger_s"],
            "stream.commit_p50_s": median(inc_s),
            "stream.trigger_overhead_s": median([b["trigger_s"] - b["add_s"] for b in incs]),
            "stream.final_fold_s": _span_total(timed, "stream.final_fold"),
            "stream.state_mb": out["state_mb"],
        },
        attempted=len(batches) + sum(s["name"] in CDC_CALLS for s in timed),
        notes={
            "increments": len(incs),
            "state_rows": out["stream_chk"][0],
            "commit_tail": "not reported: fewer than 100 increments"
            if tail is None else f"p{tail / 10:g} = {percentile(inc_s, tail):.4g} s",
        },
        post=post,
    )


# ---------------------------------------------------------------------------
# llm_dedup: the catalog's LLM operators over a seeded near-duplicate corpus
# ---------------------------------------------------------------------------

# the sizes and near-copy share of the sf0.1 fixture (see gen.VOCAB)
LLM_DOCS = 5_000
LLM_DUP_SHARE = 0.051
LLM_VECS = 2_000
LLM_PASSES_PER_SECOND = 1 / 15
# catalog query → span name (layer.operation)
LLM_QUERIES = {
    "dedup_ngram_jaccard": "dedup.ngram",
    "dedup_minhash_lsh": "dedup.minhash",
    "dedup_paragraph_segments": "dedup.segments",
    "sim_cosine_topk_bruteforce": "similarity.topk",
    "text_quality_profile": "textstats.profile",
    "text_gopher_filters": "textstats.gopher",
}


def _rows_digest(tbl) -> str:
    """Order-insensitive digest of an Arrow result, floats rounded to 9 dp."""
    cols = sorted(tbl.column_names, key=str.lower)
    rows = sorted(
        repr(tuple(_norm(r[c]) for c in cols)) for r in tbl.to_pylist()
    )
    return hashlib.sha256("\n".join([repr(cols), *rows]).encode()).hexdigest()


def _norm(v):
    """The six queries return flat rows; floats differ in the last ulps
    between engines and reduction orders."""
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 9) + 0.0
    return v


class _RouteLog(logging.Handler):
    """Keeps the n-gram dedup's routing decisions, which the package logs
    as ``<op>: route=<naive|prefix> sigma_df2=<n> budget=<n>``."""

    LOGGER = "mysql_cdc_redis_spark.operators.dedup"

    def __init__(self) -> None:
        super().__init__(logging.INFO)
        self.routes: list[tuple[str, int]] = []

    def emit(self, record: logging.LogRecord) -> None:
        m = re.search(r"route=(\w+) sigma_df2=(\d+)", record.getMessage())
        if m:
            self.routes.append((m[1], int(m[2])))

    def __enter__(self):
        log = logging.getLogger(self.LOGGER)
        self._level = log.level
        log.setLevel(logging.INFO)
        log.addHandler(self)
        return self

    def __exit__(self, *exc) -> None:
        log = logging.getLogger(self.LOGGER)
        log.removeHandler(self)
        log.setLevel(self._level)


def _llm_pass(run, sf: str, catalog) -> dict[str, str]:
    digests = {}
    for query, span in LLM_QUERIES.items():
        with run.tracer.span(span):
            digests[query] = _rows_digest(catalog[query].fn(run.spark, sf).toArrow())
    return digests


def _oracle_digests(sf: str, catalog) -> dict[str, str]:
    import duckdb

    con = duckdb.connect()
    try:
        for t in ("documents", "embeddings"):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
        return {
            q: _rows_digest(con.sql(catalog[q].oracle).arrow())
            for q in LLM_QUERIES if catalog[q].oracle is not None
        }
    finally:
        con.close()


def llm_dedup(run, seconds: int) -> Result:
    run.start_session()
    from mysql_cdc_redis_spark.plans import all_queries

    catalog = all_queries()
    tr = run.tracer
    passes = max(1, round(seconds * LLM_PASSES_PER_SECOND))
    sf = run.path("sf")
    with tr.span("sources.generate"):
        gen.write_llm_tables(sf, LLM_DOCS, LLM_DUP_SHARE, LLM_VECS, run.seed)
    # the warm-up is one untimed pass over the same corpus, whose outputs
    # the timed passes must reproduce
    with tr.span("session.warmup"):
        digests = [_llm_pass(run, sf, catalog)]
    first_timed = len(tr.spans)

    timed_passes = []
    with _RouteLog() as routes:
        for _ in range(passes):
            with tr.span("llm.pass") as p:
                digests.append(_llm_pass(run, sf, catalog))
            timed_passes.append(p)
    # the corpus is all this workload keeps on disk
    e2e, run_layer = _run_metrics(run, timed_passes, dir_mb(sf))

    with tr.span("gate.llm"):
        for d in digests[1:]:
            changed = [q for q in LLM_QUERIES if d[q] != digests[0][q]]
            _gate(not changed, f"outputs differ across passes: {changed}")
        oracle = _oracle_digests(sf, catalog)
        wrong = [q for q, want in oracle.items() if digests[0][q] != want]
        _gate(not wrong, f"outputs differ from the DuckDB oracle: {wrong}")

    timed = tr.spans[first_timed:]

    def post(log: eventlog.Log) -> dict[str, float]:
        t = _stage_totals(log, _windows_ms(timed, ("dedup.ngram", "dedup.minhash", "dedup.segments")))
        return {
            "dedup.tasks": t["tasks"] / passes,
            "dedup.run_ms": t["run_ms"] / passes,
            "dedup.shuffle_bytes": t["shuffle_bytes"] / passes,
            "dedup.spill_bytes": t["spill_bytes"] / passes,
        }

    return Result(
        e2e=e2e,
        layer={
            **run_layer,
            **{f"{span}_s": _span_total(timed, span) / passes for span in LLM_QUERIES.values()},
            "dedup.sigma_df2": median([n for _, n in routes.routes]) if routes.routes else 0.0,
        },
        attempted=passes * len(LLM_QUERIES),
        notes={
            "timed_passes": passes,
            "oracle_checked": sorted(oracle),
            "ngram_route": sorted(set(routes.routes)) or "not logged",
        },
        post=post,
    )


WORKLOADS = {"cdc_pipeline": cdc_pipeline, "llm_dedup": llm_dedup}
