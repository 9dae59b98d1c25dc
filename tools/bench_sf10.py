"""Multi-pass bench probe over a large fixture — sf10, 100x the driver's
correctness-gate scale, is the default — with bench.py's measurement
discipline:

* the shuffle/staging dir is pinned (``SPARK_GRAFT_SHUFFLE_DIR``, or an
  explicit ``SPARK_LOCAL_DIRS``) so passes never migrate between
  devices mid-series;
* a page-cache flush is attempted before every pass, and its outcome
  is recorded either way;
* ``--passes`` N per query, reporting min and spread (never a mean:
  the wall distribution is long-tailed right);
* every timed query is ONE count+checksum action
  (benchutil.checksum_row), so all output columns materialize, and the
  passes must agree on each query's checksum or the run fails.

It runs the bench headline set (catalog entries with ``bench=True``) or
the named queries.  The two near-dup pair entries run last: the
factor-100 fixture puts every document in a 100-copy near-duplicate
group, so their output grows ~C(100,2) per group — worth measuring, but
after the linear numbers have landed.

    python tools/gen_sf1.py <sf0.1 dir> .localdata/sf10 100
    SPARK_DRIVER_MEMORY=64g python tools/bench_sf10.py
    SPARK_DRIVER_MEMORY=64g python tools/bench_sf10.py .localdata/sf10 \\
        dedup_ngram_jaccard --passes 3

Progress goes to stderr; stdout gets ONE JSON line.  Record the numbers
in SCALING.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import _flush_page_cache, _pin_shuffle_dir  # noqa: E402

# quadratic-output entries on the replicated fixture: run last
_TAIL = ("dedup_minhash_lsh", "dedup_ngram_jaccard")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument(
        "sf_dir", nargs="?", default=os.path.join(REPO, ".localdata", "sf10")
    )
    ap.add_argument(
        "queries", nargs="*", help="catalog names (default: the headline set)"
    )
    ap.add_argument("--passes", type=int, default=3)
    args = ap.parse_args()
    shuffle_dir = _pin_shuffle_dir()

    from mysql_cdc_redis_spark.benchutil import checksum_row
    from mysql_cdc_redis_spark.plans import all_queries
    from mysql_cdc_redis_spark.session import get_spark

    catalog = all_queries()
    unknown = sorted(set(args.queries) - set(catalog))
    if unknown:
        ap.error(f"not in the catalog: {unknown}")
    order = args.queries or sorted(
        (n for n, q in catalog.items() if q.bench), key=lambda n: (n in _TAIL, n)
    )

    spark = get_spark(app_name="bench-sf10")
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # JIT warm
    walls: dict[str, list[float]] = {n: [] for n in order}
    sums: dict[str, list[tuple[int, str]]] = {n: [] for n in order}
    flushed: list[bool] = []
    for i in range(args.passes):
        flushed.append(_flush_page_cache())
        spark.catalog.clearCache()
        for name in order:
            t0 = time.perf_counter()
            row = checksum_row(catalog[name].fn(spark, args.sf_dir))
            walls[name].append(round(time.perf_counter() - t0, 3))
            sums[name].append((int(row["n"]), str(row["chk"])))
            print(
                f"# pass {i + 1} {name}: {walls[name][-1]}s rows={row['n']}",
                file=sys.stderr, flush=True,
            )
    spark.stop()

    disagree = sorted(n for n, v in sums.items() if len(set(v)) > 1)
    mins = {n: min(v) for n, v in walls.items()}
    print(json.dumps({
        "metric": "min_total_wall",
        "value": round(sum(mins.values()), 3),
        "unit": "sec",
        "queries": mins,
        "spread": {n: round(max(v) - min(v), 3) for n, v in walls.items()},
        "walls": walls,
        "rows": {n: v[0][0] for n, v in sums.items()},
        "checksums": {n: v[0][1] for n, v in sums.items()},
        "passes_agree": not disagree,
        "n_passes": args.passes,
        "sf_dir": args.sf_dir,
        "shuffle_dir": shuffle_dir,
        "page_cache_flushed": flushed,
    }))
    if disagree:
        sys.exit(f"passes disagree on the checksum of {disagree}")


if __name__ == "__main__":
    main()
