"""Benchmark runner — the driver's per-round feedback loop.

Runs the headline queries (catalog entries registered with bench=True)
at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each timed query executes to completion through ONE count+checksum
action (benchutil.checksum_row): every output column is materialized
(a bare count would let Catalyst prune computed columns — the round-7
blind spot), and passes are value-comparable via the recorded checksum.

Round-8 measurement discipline (shared with tools/bench_sf10.py,
round-7 verdict item 2 — the driver's r7 capture was noise-dominated):
* ``spark.local.dir`` pinned via SPARK_LOCAL_DIRS so passes never
  migrate between devices mid-series (SPARK_GRAFT_SHUFFLE_DIR).
* Page-cache flush ATTEMPTED before every pass; the per-pass outcome
  is recorded either way so the reader knows the cache state.
* Per-query value checksums persisted (round-7 advice #3) and compared
  across passes — recorded, not asserted, because double-typed
  aggregates may legitimately differ in the last ulps across
  partitionings (round-7 advice #1; benchutil normalizes before
  hashing to make that rare).
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import time


def _pin_shuffle_dir() -> str:
    """Pin the shuffle/staging device; call BEFORE the JVM comes up.
    An explicit SPARK_LOCAL_DIRS wins.  Returns the dir Spark uses."""
    shuffle_dir = os.environ.get(
        "SPARK_GRAFT_SHUFFLE_DIR", "/tmp/spark_graft_shuffle"
    )
    os.makedirs(shuffle_dir, exist_ok=True)
    return os.environ.setdefault("SPARK_LOCAL_DIRS", shuffle_dir)


def _flush_page_cache() -> bool:
    """Best-effort drop of the OS page cache between passes; the
    outcome is recorded in the artifact either way."""
    try:
        subprocess.run(["sync"], check=True, timeout=120)
        with open("/proc/sys/vm/drop_caches", "w") as f:
            f.write("3\n")
        return True
    except Exception:
        return False


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else -1.0
    _pin_shuffle_dir()

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from mysql_cdc_redis_spark.benchutil import checksum_row
    from mysql_cdc_redis_spark.plans import all_queries
    from mysql_cdc_redis_spark.session import codegen_compiles, get_spark

    spark = get_spark(app_name="bench")
    catalog = all_queries()
    headline = {n: q for n, q in sorted(catalog.items()) if q.bench}

    # warmup: spin executors + JIT through a representative plan shape
    # (parquet scan -> shuffle agg), so the first timed query isn't
    # paying classloading/codegen costs
    from mysql_cdc_redis_spark.sources import load_table

    spark.range(1_000_000).selectExpr("sum(id)").collect()
    (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .count()
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    # compile the higher-order-function shingle plan on a 50-doc sample —
    # expression codegen for that shape costs ~3s once per JVM
    from mysql_cdc_redis_spark.operators.dedup import shingle_hashes

    shingle_hashes(load_table(spark, sf_dir, "documents").limit(50)).count()
    # likewise the compaction fold shape (collect_list + aggregate + max_by)
    from mysql_cdc_redis_spark.operators.compaction import compact
    from mysql_cdc_redis_spark.sources.changelog import (
        ORDERS_PAYLOAD as _OP,
        ORDERS_PK as _OK,
        orders_changelog as _oc,
    )

    compact(_oc(spark, sf_dir).limit(1000), _OK, _OP).write.format("noop").mode(
        "overwrite"
    ).save()
    # r9: complete the warmup — one untimed execution of EVERY headline
    # query against the tiny sf0.001 fixture (when present next to
    # sf_dir).  Whole-stage codegen compiles per generated-source hash,
    # and the source depends only on the plan shape/schemas (identical
    # across scale factors), so this populates the codegen + classloader
    # caches for exactly the plans the timed passes run — the r9 spread
    # audit measured first-execution compilation spikes of 2-5x (worst
    # observed 36 s on a 2.5 s query) landing entirely in pass 1 and
    # carrying the worst per-query spread.  No result or data reuse is
    # possible across directories: the timed passes run on sf_dir with
    # the page cache flushed and spark.catalog cleared per pass, same
    # as r8.  SPARK_GRAFT_WARM_DIR overrides; empty disables.
    warm_dir = os.environ.get(
        "SPARK_GRAFT_WARM_DIR",
        os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001"),
    )
    if warm_dir and os.path.isdir(warm_dir) and os.path.abspath(
        warm_dir
    ) != os.path.abspath(sf_dir):
        for name, q in headline.items():
            try:
                checksum_row(q.fn(spark, warm_dir))
            except Exception as e:  # warmup must never fail the bench —
                # but a silently-disabled warmup would let pass-1 JIT
                # spikes return unnoticed (r9 ADVICE #4): make it loud.
                print(
                    f"WARNING: bench warmup failed for {name}: "
                    f"{type(e).__name__}: {e}",
                    file=sys.stderr,
                )

    # >=5 full passes (round-2 verdict: n=2 deltas were indistinguishable
    # from noise).  clearCache() between passes keeps every pass cold —
    # builders that .cache() would otherwise make later passes measure a
    # different (warm) plan.  Reported per-query time is the MEDIAN
    # across passes; min is carried alongside for floor analysis.
    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5"))
    samples: dict[str, list[float]] = {name: [] for name in headline}
    chks: dict[str, list] = {name: [] for name in headline}
    # classes Janino compiled per query per pass: nonzero after pass 1
    # means the codegen cache is thrashing (session.py)
    compiles: dict[str, list[int]] = {name: [] for name in headline}
    flushed: list[bool] = []
    for _ in range(n_runs):
        flushed.append(_flush_page_cache())
        spark.catalog.clearCache()
        for name, q in headline.items():
            c0 = codegen_compiles(spark)
            t0 = time.perf_counter()
            row = checksum_row(q.fn(spark, sf_dir))
            samples[name].append(time.perf_counter() - t0)
            compiles[name].append(codegen_compiles(spark) - c0)
            chks[name].append((row["n"], str(row["chk"])))

    import statistics

    timings = {n: round(statistics.median(v), 3) for n, v in samples.items()}
    timings_min = {n: round(min(v), 3) for n, v in samples.items()}
    # per-pass samples persisted whole (round-8 verdict #6): spread
    # attribution needs the raw walls, not just median/min
    query_samples = {n: [round(x, 3) for x in v] for n, v in samples.items()}
    spreads = [max(v) - min(v) for v in samples.values()]
    worst_q = max(samples, key=lambda n: max(samples[n]) - min(samples[n]))
    chk_record = {
        n: {"rows": v[0][0], "chk": v[0][1], "stable_across_passes": len(set(v)) == 1}
        for n, v in chks.items()
    }
    unstable = sorted(n for n, r in chk_record.items() if not r["stable_across_passes"])
    variance_note = (
        f"n={n_runs} cold passes per query (clearCache between passes); "
        f"action=count+normalized-xxhash64 checksum (all output columns "
        f"materialized — r8 change from noop-write, see SCALING.md); "
        f"SPARK_LOCAL_DIRS={os.environ.get('SPARK_LOCAL_DIRS')}; "
        f"page_cache_flushed per pass={flushed}; "
        f"queries=median, queries_min=min; per-query spread max-min: "
        f"median {round(statistics.median(spreads), 3)}s, "
        f"worst {round(max(spreads), 3)}s "
        f"(carrier: {worst_q}, per-pass walls {query_samples[worst_q]}); "
        + (
            f"value-checksum UNSTABLE across passes for {unstable}"
            if unstable
            else "value checksums stable across all passes"
        )
    )

    total = round(sum(timings.values()), 3)

    # throughput context: compaction events/sec (the reference's ingest
    # loop is bounded by ~4 Redis RTTs per row, i.e. O(10^3-10^4) rows/s
    # single-node; BASELINE.md publishes no numbers, so we record ours)
    from mysql_cdc_redis_spark.sources.changelog import (
        lineitem_changelog,
        orders_changelog,
    )

    n_events = orders_changelog(spark, sf_dir).count() + lineitem_changelog(
        spark, sf_dir
    ).count()
    compact_wall = timings.get("cdc_compact_orders", 0) + timings.get(
        "cdc_compact_lineitem", 0
    )
    events_per_sec = round(n_events / compact_wall) if compact_wall else None

    # pure operator throughput: compaction over a pre-staged changelog
    # (isolates the operator from fixture synthesis).  Staging goes to a
    # per-invocation mkdtemp dir (no fixed-path overwrite race, removed
    # before exit — same hygiene contract as cdc_incremental_merge_4x).
    import shutil
    import tempfile

    from mysql_cdc_redis_spark.operators.compaction import compact
    from mysql_cdc_redis_spark.sources.changelog import (
        LINEITEM_PAYLOAD,
        LINEITEM_PK,
    )

    staged_base = tempfile.mkdtemp(prefix="bench_staged_")
    staged_dir = os.path.join(staged_base, "changelog")
    # The staged layout is part of the MEASUREMENT HARNESS, not the
    # workload: maxFilesPerTrigger=2 below turns the file count into the
    # micro-batch count, so the count must not drift with the synthesis
    # plan's internal parallelism (the r9 single-split rescue moved the
    # changelog's natural output 10 -> 16 files, which silently changed
    # the streaming measurement from 5 to 8 micro-batches).  Pin the
    # r1-r8 layout explicitly: 10 files, ~87k events each.
    #
    # The pin MUST preserve binlog order across files: a CDC stream's
    # contract is in-order delivery, and FileStreamSource feeds files to
    # micro-batches oldest-mtime-first.  A round-robin repartition()
    # scatters seq ranges across files, so later batches carry earlier
    # seqs and the streamed state diverges from the batch compactor
    # (observed: 383626 vs 365563 state rows).  Range-partition by seq
    # (file N = seq-range N) and stamp strictly increasing mtimes in
    # part-name order so the source's mtime ordering IS seq order —
    # parallel part-file writes otherwise finish with arbitrary mtimes.
    n_staged_target = int(os.environ.get("SPARK_GRAFT_STAGED_FILES", "10"))
    lineitem_changelog(spark, sf_dir).repartitionByRange(
        n_staged_target, "seq"
    ).write.mode("overwrite").parquet(staged_dir)
    _staged_parts = sorted(
        f for f in os.listdir(staged_dir) if f.endswith(".parquet")
    )
    _mtime_base = int(time.time()) - 2 * len(_staged_parts)
    for _i, _fname in enumerate(_staged_parts):
        _p = os.path.join(staged_dir, _fname)
        os.utime(_p, (_mtime_base + 2 * _i, _mtime_base + 2 * _i))
    staged = spark.read.parquet(staged_dir)
    n_staged = staged.count()
    t0 = time.perf_counter()
    compact(staged, LINEITEM_PK, LINEITEM_PAYLOAD).write.format("noop").mode(
        "overwrite"
    ).save()
    pure_rate = round(n_staged / (time.perf_counter() - t0))
    # untimed oracle for the streaming section below: the stream must
    # finalize to the batch compactor's state (the ordering bug above
    # shipped silently once; this makes it loud in the artifact).
    # Parity is judged on a full VALUE checksum of the sorted state
    # rows, not just the row count (r9 ADVICE #2: equal cardinality
    # with a wrong action/payload must not read as parity).
    _parity_cols = ["tbl", "rid", "cdc_action", *LINEITEM_PAYLOAD]

    def _state_sig(df):
        r = checksum_row(df.select(*_parity_cols))
        return int(r["n"]), str(r["chk"])

    n_batch_state, batch_state_chk = _state_sig(
        compact(staged, LINEITEM_PK, LINEITEM_PAYLOAD)
    )

    # STREAMING ingest throughput (round-3 verdict #6): the reference's
    # identity is the streaming loop (cdc.py tail -> per-row merge ->
    # save), so the headline carries the streaming compactor too — the
    # pure-JVM foreachBatch + transition-merge stream over the same
    # staged changelog, with a real checkpoint (exactly-once K5/T1) and
    # zero per-key Python crossings, finalized to the compacted state.
    # Wall includes checkpoint and state commits — the honest ingest
    # number.  maxFilesPerTrigger=2 forces REAL micro-batching (5
    # batches over the 10 staged files) — the honest per-batch-overhead-
    # included number; the single-batch form converges to the batch
    # compactor's rate.
    from mysql_cdc_redis_spark.streaming import (
        drop_state_jvm,
        run_compaction_stream_jvm,
    )

    jvm_state_dir = os.path.join(staged_base, "jvm_state")
    n_staged_files = len(
        [f for f in os.listdir(staged_dir) if f.endswith(".parquet")]
    )
    t0 = time.perf_counter()
    jvm_state = run_compaction_stream_jvm(
        spark,
        staged_dir,
        staged.schema,
        LINEITEM_PK,
        LINEITEM_PAYLOAD,
        checkpoint_dir=os.path.join(staged_base, "jvm_ckpt"),
        state_dir=jvm_state_dir,
        max_files_per_trigger=2,
    )
    n_jvm_state = jvm_state.count()
    jvm_stream_wall = round(time.perf_counter() - t0, 3)
    jvm_stream_rate = round(n_staged / jvm_stream_wall)
    _, jvm_state_chk = _state_sig(jvm_state)  # untimed, see above
    drop_state_jvm(spark, jvm_state_dir)
    shutil.rmtree(staged_base, ignore_errors=True)

    # sf1 sweep (round-2 verdict #3): when a local sf1 fixture set exists
    # (tools/gen_sf1.py writes .localdata/sf1), run ONE pass of the
    # headliners there so the recorded bench carries decade-up evidence.
    sf1_dir = os.environ.get(
        "SPARK_GRAFT_SF1_DIR",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), ".localdata", "sf1"),
    )
    sf1_section = None
    if os.path.isdir(sf1_dir) and not os.environ.get("SPARK_GRAFT_SKIP_SF1"):
        # TWO passes with min+spread (round-5 verdict item 3): the sf10
        # probes proved single-pass numbers on this box swing tens of
        # seconds on page-cache state alone; min-of-2 separates noise
        # from regression the same way tools/bench_sf10.py does.
        sf1_runs = int(os.environ.get("SPARK_GRAFT_SF1_RUNS", "2"))
        sf1_samples: dict[str, list[float]] = {n: [] for n in headline}
        sf1_flushed: list[bool] = []
        for _ in range(sf1_runs):
            sf1_flushed.append(_flush_page_cache())
            spark.catalog.clearCache()
            for name, q in headline.items():
                t0 = time.perf_counter()
                checksum_row(q.fn(spark, sf1_dir))
                sf1_samples[name].append(round(time.perf_counter() - t0, 3))
        sf1_timings = {n: min(v) for n, v in sf1_samples.items()}
        sf1_spread = {n: round(max(v) - min(v), 3) for n, v in sf1_samples.items()}
        m1 = re.search(r"sf([0-9.]+)", sf1_dir)
        # same throughput convention as the sf0.1 headline: changelog
        # events compacted per second of compact_orders+compact_lineitem
        # wall — the number that scales against the reference's serial
        # ~4-RTTs-per-row ingest loop
        sf1_events = orders_changelog(spark, sf1_dir).count() + lineitem_changelog(
            spark, sf1_dir
        ).count()
        sf1_compact_wall = sf1_timings.get("cdc_compact_orders", 0) + sf1_timings.get(
            "cdc_compact_lineitem", 0
        )
        sf1_section = {
            "sf": float(m1.group(1).rstrip(".")) if m1 else -1.0,
            "n_runs": sf1_runs,
            "page_cache_flushed": sf1_flushed,
            "total_wall": round(sum(sf1_timings.values()), 3),
            "queries": sf1_timings,
            "spread": sf1_spread,
            "samples": sf1_samples,
            "compaction_events": sf1_events,
            "compaction_events_per_sec": (
                round(sf1_events / sf1_compact_wall) if sf1_compact_wall else None
            ),
        }

    # value parity (r9 ADVICE #2): equal row counts with a diverged
    # action/payload must not read as parity — compare full checksums
    state_parity = bool(jvm_state_chk == batch_state_chk)

    # ---- artifact split (r9 verdict item 2b / #5) -------------------
    # The driver's capture of this stdout line has truncated before
    # (BENCH_r08.json parsed: null), so the PRINTED line carries only
    # the contract fields + the env-contract evidence and is kept well
    # under 2000 bytes; the bulky arrays (per-pass samples, checksums,
    # sf1 spreads) live in the checked-in side artifact, which is the
    # durable record (round-6 verdict item 3).
    sc = spark.sparkContext
    round_no = os.environ.get("SPARK_GRAFT_ROUND", "")
    name = (
        f"BENCH_local_r{int(round_no):02d}.json"
        if round_no.isdigit()
        else "BENCH_local.json"
    )
    slim = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "n_runs": n_runs,
        # env-contract evidence (r9 PERF set suspect_cpus_ignored with
        # no way to check): the resolved master and the parallelism the
        # JVM actually runs with, alongside the env that requested them
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "cpus_env": os.environ.get("SPARK_GRAFT_CPUS"),
        "sf_dir": sf_dir,
        "checksums_stable": not unstable,
        "compaction_events_per_sec": events_per_sec,
        "compaction_pure_events_per_sec": pure_rate,
        "stream_compact_jvm_wall": jvm_stream_wall,
        "stream_compact_jvm_batches": -(-n_staged_files // 2),
        "stream_compact_jvm_state_rows": n_jvm_state,
        "stream_compact_batch_state_rows": n_batch_state,
        "stream_compact_state_parity": state_parity,
        "detail_artifact": name,
        **(
            {
                "sf1": {
                    "sf": sf1_section["sf"],
                    "n_runs": sf1_section["n_runs"],
                    "total_wall": sf1_section["total_wall"],
                    "queries": sf1_section["queries"],
                }
            }
            if sf1_section
            else {}
        ),
    }
    full = {
        **slim,
        "queries_min": timings_min,
        "query_samples": query_samples,
        "query_checksums": chk_record,
        "codegen_compiles": compiles,
        "variance_note": variance_note,
        "compaction_events": n_events,
        "stream_compact_events": n_staged,
        "stream_compact_pandas": "retired",
        "stream_compact_jvm_events_per_sec": jvm_stream_rate,
        "stream_compact_jvm_state_chk": jvm_state_chk,
        "stream_compact_batch_state_chk": batch_state_chk,
        **({"sf1": sf1_section} if sf1_section else {}),
    }
    line = json.dumps(slim, separators=(",", ":"))
    if len(line) >= 1990:  # belt-and-braces: never ship a truncatable line
        slim.pop("sf1", None)
        line = json.dumps(slim, separators=(",", ":"))
        print("WARNING: bench line over budget; sf1 moved to side artifact",
              file=sys.stderr)
    print(line)
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), name), "w") as f:
        f.write(json.dumps(full) + "\n")
    spark.stop()


if __name__ == "__main__":
    main()
