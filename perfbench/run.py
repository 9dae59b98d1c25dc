"""Seeded end-to-end and per-layer benchmark of ``mysql_cdc_redis_spark``.

Run from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see ``BENCHMARK.json`` for why each was chosen):

* ``cdc_pipeline`` — a lineitem changelog snapshot, then small increments
  (hot-key skew, ~10% deletes, some new keys), one file per micro-batch
  through ``run_compaction_stream_jvm``; then the batch path over the same
  events: the increments as Debezium JSON → ``parse_debezium``, the
  snapshot → ``compact`` → bucketed state, ``merge_state`` of the parsed
  increments, ``state_diff``, ``dump_to_csv`` and ``read_dump`` replay.
  The stream is a closed loop: it only offers ``trigger(availableNow)``,
  so every increment is staged before timing and each micro-batch starts
  when the previous one commits.
* ``llm_dedup`` — the catalog's dedup, similarity and text-statistics
  queries over a seeded corpus with the sizes, word statistics and
  near-copy share measured on the sf0.1 documents and embeddings (see
  ``gen.VOCAB``).

Each run starts its own Spark session on ``local[nproc]`` in a fresh
temporary directory under ``.perfbench_tmp/`` and removes it at exit.
Inputs come from ``--seed``; ``--seconds`` fixes how much timed work a
run does. Every output is checked against an independent computation;
a mismatch exits 1. The last line of stdout is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.

The end-to-end metrics: ``setup_s`` and ``cpu_s`` are CPU seconds of
the benchmark's process tree (Python driver, Spark JVM, Python workers),
``setup_s`` for session start, input generation and warm-up, ``cpu_s``
for the timed work. On a shared virtual machine wall time follows the
CPU that other guests steal; CPU time follows it much less.
``state_mb`` is what the workload keeps on disk: on ``cdc_pipeline``
the stream's state (runs, base tables, manifest) plus the persisted
merged state, on ``llm_dedup`` the corpus tables. Wall times, the
stream's commit latencies, peak RSS and the n-gram dedup's Σ df² are
printed beside them and are reported as per-layer metrics; the box's
idle and steal shares over the run are printed and kept in the run's
record under ``.perfbench_out/``. Metric names and units come from
``BENCHMARK.json``.

With ``--trace 1`` the run also enables the Spark event log and writes
its spans, self times and per-layer metrics to
``.perfbench_out/trace-<workload>-<seed>.json``; if an untraced run of
the same workload, seed and ``--seconds`` over the same sources left its
record there, the tracing overhead is printed as a share of ``wall_s``.

Self-tests: ``python3 -m pytest perfbench/tests -q``."""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[0] = ROOT  # import perfbench and the package from the checkout


def _metric_units() -> tuple[dict[str, str], dict[str, str]]:
    """Name → unit of the end-to-end and of the per-layer metrics, as
    ``BENCHMARK.json`` declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def _source_digest() -> str:
    """sha256 over the package's and the benchmark's Python sources, so a
    record says which code produced it."""
    h = hashlib.sha256()
    for pkg in ("mysql_cdc_redis_spark", "perfbench"):
        for root, dirs, files in os.walk(os.path.join(ROOT, pkg)):
            dirs.sort()
            for name in sorted(files):
                if name.endswith(".py"):
                    path = os.path.join(root, name)
                    h.update(os.path.relpath(path, ROOT).encode())
                    with open(path, "rb") as f:
                        h.update(f.read())
    return h.hexdigest()


# wall-clock and size figures printed beside the end-to-end metrics
SUMMARY = (
    "session.setup_wall_s", "pass.wall_s", "stream.events_per_s", "stream.snapshot_s",
    "stream.commit_p50_s", "stream.state_mb", "compaction.state_mb", "session.peak_rss_mb",
    "dedup.sigma_df2",
)


def _args(argv):
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _emit(correct: bool, attempted: int, failed: int, metrics: dict, units: dict) -> None:
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units
                    if k in metrics},
    }))


def _print_overhead(w: str, untraced: str, made_by: dict, wall_s: float, cpu_s: float) -> None:
    """Tracing overhead against the untraced record of the same workload
    and seed, if that record was made by the same code and --seconds."""
    base = None
    if os.path.isfile(untraced):
        with open(untraced) as f:
            base = json.load(f)
    if base is None or base.get("made_by") != made_by:
        print(f"{w}  tracing overhead: no untraced run of this seed, code and --seconds")
        return
    for k, ours, theirs in (("pass.wall_s", wall_s, base["layer"]["pass.wall_s"]),
                            ("cpu_s", cpu_s, base["e2e"]["cpu_s"])):
        print(f"{w}  tracing overhead = {(ours - theirs) / theirs:+.1%} of {k}")


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, "mysql_cdc_redis_spark", "__init__.py")):
        print(f"perfbench: no mysql_cdc_redis_spark package under {ROOT}", file=sys.stderr)
        return 2
    from perfbench.harness import Run
    from perfbench.workloads import WORKLOADS, GateMismatch

    e2e_units, layer_units = _metric_units()
    run = Run(ROOT, args.workload, args.seed, bool(args.trace))
    try:
        result = WORKLOADS[args.workload](run, args.seconds)
        run.mark_box()
    except GateMismatch as e:
        print(f"perfbench: correctness gate failed: {e}", file=sys.stderr)
        _emit(False, 1, 0, {}, {})
        return 1
    finally:
        run.close()

    tr = run.tracer
    layer = {
        "session.start_s": tr.total("session.start"),
        "session.warmup_s": tr.total("session.warmup"),
        "sources.generate_s": tr.total("sources.generate"),
        **result.layer,
    }
    if args.trace:
        layer.update(result.post(run.log))
    # a layer the workload does not call reads 0
    layer = {k: layer.get(k, 0.0) for k in layer_units}

    w = args.workload
    for k, unit in e2e_units.items():
        print(f"{w}  {k} = {result.e2e[k]:.6g} {unit}")
    for k in SUMMARY:
        if layer[k]:
            print(f"{w}  {k} = {layer[k]:.6g} {layer_units[k]}")
    print(f"{w}  failed_frac = 0 (0 of {result.attempted} operations failed)")
    print(f"{w}  box idle = {run.box['idle_frac']:.3f}, steal = {run.box['steal_frac']:.3f}")
    for k, v in result.notes.items():
        print(f"{w}  {k}: {v}")

    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    record = os.path.join(out_dir, f"{w}-{args.seed}-trace{args.trace}.json")
    made_by = {"seconds": args.seconds, "source_sha256": _source_digest()}
    with open(record, "w") as f:
        json.dump({"e2e": result.e2e, "layer": layer, "box": run.box, "notes": result.notes,
                   "made_by": made_by}, f, indent=1)
    if args.trace:
        tr.write(os.path.join(out_dir, f"trace-{w}-{args.seed}.json"))
        _print_overhead(w, os.path.join(out_dir, f"{w}-{args.seed}-trace0.json"), made_by,
                        layer["pass.wall_s"], result.e2e["cpu_s"])
        for k, unit in layer_units.items():
            print(f"{w}  {k} = {layer[k]:.6g} {unit}")
        _emit(True, result.attempted, 0, layer, layer_units)
    else:
        _emit(True, result.attempted, 0, result.e2e, e2e_units)
    return 0


if __name__ == "__main__":
    sys.exit(main())
