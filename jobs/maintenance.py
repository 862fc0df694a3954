"""Table maintenance job — the lakehouse housekeeping a long-lived
extraction table needs (Iceberg's rewrite_data_files / expire_snapshots /
remove_orphan_files, on icelite):

    spark-submit --py-files dist/ocr_spark.zip jobs/maintenance.py \
        --table <icelite root> [--compact] [--expire-keep 3] \
        [--gc-orphans] [--older-than 259200]

Each action is independent and idempotent; the job prints ONE JSON line
summarizing what was done so an orchestrator can log/alert on it.  Order
matters and is fixed: compact (new snapshot) -> expire (drop superseded
files) -> orphan GC (reap never-committed leftovers) — GC last so it sees
the post-expiry live set.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> dict:
    p = argparse.ArgumentParser()
    p.add_argument("--table", required=True, help="icelite table root")
    p.add_argument("--compact", action="store_true", help="rewrite multi-file buckets")
    p.add_argument(
        "--max-files-per-bucket", type=int, default=1, help="compaction threshold"
    )
    p.add_argument(
        "--expire-keep", type=int, default=None, help="keep only the last N snapshots"
    )
    p.add_argument("--gc-orphans", action="store_true", help="delete never-committed files")
    p.add_argument(
        "--older-than",
        type=float,
        default=259200.0,
        help="orphan age guard in seconds (default 3 days, Iceberg's default)",
    )
    p.add_argument("--cores", type=int, default=None, help="local mode only")
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    from ocr_spark.session import build_session
    from ocr_spark.sources.icelite import IceliteTable, exit_on_table_error

    with exit_on_table_error():
        # the table's own recorded layout: maintenance works on any table
        # (doc_id-keyed signature tables, 32-bucket outputs) without the
        # operator re-supplying it
        table = IceliteTable.open(args.table)
        if not table.exists():
            print(f"error: no icelite table at {args.table!r}", file=sys.stderr)
            raise SystemExit(2)

        stats: dict = {"job": "maintenance", "table": args.table}
        if args.compact:
            spark = SparkSession.getActiveSession() or build_session(
                "maintenance", cores=args.cores
            )
            sid = table.compact(spark, max_files_per_bucket=args.max_files_per_bucket)
            stats["compacted_snapshot"] = sid  # None -> nothing to do
        if args.expire_keep is not None:
            stats["expired_files"] = len(
                table.expire_snapshots(keep_last=args.expire_keep)
            )
        if args.gc_orphans:
            stats["orphans_removed"] = len(
                table.remove_orphan_files(older_than_s=args.older_than)
            )
        stats["snapshots"] = len(table.snapshots())
        stats["rows"] = table.row_count()
    print(json.dumps(stats))
    return stats


if __name__ == "__main__":
    main(sys.argv[1:])
