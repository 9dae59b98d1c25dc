"""Interleaved same-box A/B of catalog queries between two revisions.

    python tools/ab_commits.py A B QUERY [QUERY ...] [--passes 3] [--sf-dir DIR]

``A`` and ``B`` are git revisions; ``.`` is the working tree as it
stands, uncommitted changes included.  Each revision is exported with
``git archive`` into a temp dir.  Passes then alternate A, B, A, B, ...
each in a FRESH python process, so no JVM warmth carries over between
arms and slow drift in box state (page cache, thermals, neighbours)
hits both arms alike.  A pass runs bench.py's warm-up shape and times
every query as ONE count+checksum action (benchutil.checksum_row).

Per query and arm it reports min and spread (max - min) over the
passes, and a verdict for B against A: ``noise`` when the mins differ by
no more than the larger within-arm spread, else ``regression`` or
``improvement``.  ``checksums_identical`` says whether every pass of
both arms produced the same value checksum per query — a speed
comparison between arms that compute different values is void.
``--sf-dir`` defaults to ``$SPARK_GRAFT_SF_DIR``, else .localdata/sf1.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = r"""
import json, os, sys, time
sys.path.insert(0, os.getcwd())
from mysql_cdc_redis_spark.benchutil import checksum_row
from mysql_cdc_redis_spark.plans import all_queries
from mysql_cdc_redis_spark.session import get_spark
from mysql_cdc_redis_spark.sources import load_table

sf_dir, names = sys.argv[1], sys.argv[2:]
spark = get_spark(app_name="ab-commits")
catalog = all_queries()
# same warmup shape as bench.py: executor spin-up + codegen
spark.range(1_000_000).selectExpr("sum(id)").collect()
load_table(spark, sf_dir, "lineitem").groupBy("l_returnflag").count().write.format(
    "noop"
).mode("overwrite").save()
out = {}
for n in names:
    t0 = time.perf_counter()
    chk = str(checksum_row(catalog[n].fn(spark, sf_dir))["chk"])
    out[n] = [round(time.perf_counter() - t0, 3), chk]
print("ABRESULT " + json.dumps(out))
spark.stop()
"""


def _export(rev: str, dest: str) -> str:
    """A checkout of ``rev`` at ``dest`` (the repo itself for ``.``)."""
    if rev == ".":
        return REPO
    os.makedirs(dest)
    tar = subprocess.run(
        ["git", "archive", rev], cwd=REPO, check=True, capture_output=True
    ).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=tar, check=True)
    return dest


def run_pass(cwd: str, sf_dir: str, queries: list[str]) -> dict[str, list]:
    p = subprocess.run(
        [sys.executable, "-c", CHILD, sf_dir, *queries], cwd=cwd,
        capture_output=True, text=True, timeout=3600,
    )
    for line in p.stdout.splitlines():
        if line.startswith("ABRESULT "):
            return json.loads(line[len("ABRESULT "):])
    raise RuntimeError(
        f"pass in {cwd} produced no result:\n{p.stdout[-2000:]}\n{p.stderr[-2000:]}"
    )


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("a", help="baseline revision")
    ap.add_argument("b", help="candidate revision ('.' = working tree)")
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--passes", type=int, default=3)
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", os.path.join(REPO, ".localdata", "sf1")))
    args = ap.parse_args()

    tmp = tempfile.mkdtemp(prefix="ab_commits_")
    try:
        arms = {"a": _export(args.a, os.path.join(tmp, "a")),
                "b": _export(args.b, os.path.join(tmp, "b"))}
        walls = {arm: {n: [] for n in args.queries} for arm in arms}
        chks: dict[str, set[str]] = {n: set() for n in args.queries}
        for i in range(args.passes):
            for arm, cwd in arms.items():
                res = run_pass(cwd, args.sf_dir, args.queries)
                for n, (wall, chk) in res.items():
                    walls[arm][n].append(wall)
                    chks[n].add(chk)
                total = round(sum(w for w, _ in res.values()), 2)
                print(f"# pass {i + 1} {arm}: total {total}s", file=sys.stderr, flush=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    table = {}
    for n in args.queries:
        a, b = walls["a"][n], walls["b"][n]
        sp_a, sp_b = round(max(a) - min(a), 3), round(max(b) - min(b), 3)
        delta = round(min(b) - min(a), 3)
        table[n] = {
            "a_min": min(a), "a_spread": sp_a, "b_min": min(b), "b_spread": sp_b,
            "delta": delta,
            "verdict": "noise" if abs(delta) <= max(sp_a, sp_b) else (
                "regression" if delta > 0 else "improvement"
            ),
        }
    print(json.dumps({
        "metric": "ab_commits", "a": args.a, "b": args.b, "sf_dir": args.sf_dir,
        "n_passes": args.passes, "queries": table,
        "checksums_identical": all(len(c) == 1 for c in chks.values()),
    }))


if __name__ == "__main__":
    main()
