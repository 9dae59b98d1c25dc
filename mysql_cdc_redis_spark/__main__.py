"""CLI entry points — the Spark replacements for the reference's three
commands (README.md:31-33 of the reference):

    python cdc.py           →  python -m mysql_cdc_redis_spark ingest ...
    python dump2csv.py ...  →  python -m mysql_cdc_redis_spark dump ...
    python loadcsv.py ...   →  python -m mysql_cdc_redis_spark replay ...

The changelog schema is inferred from the source parquet; pk/payload
columns come from flags (the cdc_config.py analog).
"""

from __future__ import annotations

import argparse


def main() -> None:
    ap = argparse.ArgumentParser(prog="mysql_cdc_redis_spark")
    ap.add_argument("--work-dir", required=True, help="checkpoint/state root")
    ap.add_argument("--pk", required=True, help="comma-separated primary key columns")
    ap.add_argument(
        "--payload",
        required=True,
        help="comma-separated payload (after-image) columns, including cdc_ts",
    )
    sub = ap.add_subparsers(dest="cmd", required=True)

    p_ingest = sub.add_parser("ingest", help="consume available changelog files (cdc.py)")
    p_ingest.add_argument("changelog_dir")

    p_dump = sub.add_parser("dump", help="dated chunked CSV dump of state (dump2csv.py)")
    p_dump.add_argument("csv_dir")
    p_dump.add_argument("--max-rows", type=int, default=1_000_000)

    p_replay = sub.add_parser(
        "replay", help="re-merge a CSV dump; exit 1 if not a fixpoint (loadcsv.py)"
    )
    p_replay.add_argument("csv_dir")

    args = ap.parse_args()

    from .pipeline import CdcPipeline
    from .session import get_spark

    spark = get_spark(app_name=f"cdc-{args.cmd}")
    ingest = args.cmd == "ingest"
    schema = spark.read.parquet(args.changelog_dir).schema if ingest else None
    pk, payload = tuple(args.pk.split(",")), tuple(args.payload.split(","))
    p = CdcPipeline(spark, args.work_dir, pk, payload, schema)
    fixpoint = True
    if ingest:
        print(f"ingested; live state rows: {p.ingest(args.changelog_dir).count()}")
    elif args.cmd == "dump":
        p.dump(args.csv_dir, max_rows_per_file=args.max_rows)
        print(f"dumped state to {args.csv_dir}")
    elif args.cmd == "replay":
        from .benchutil import checksum_row

        state = p.state()
        after = checksum_row(p.replay(args.csv_dir).select(*state.columns))
        fixpoint = checksum_row(state) == after
        print(f"replayed {args.csv_dir}; state rows: {after.n}; fixpoint: {fixpoint}")
    spark.stop()
    if not fixpoint:
        raise SystemExit(1)


if __name__ == "__main__":
    main()
