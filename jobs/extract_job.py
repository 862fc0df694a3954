"""The production extraction job — the artifact `spark-submit --py-files`
launches on a cluster (BASELINE.json north_rule).

    spark-submit --py-files dist/ocr_spark.zip jobs/extract_job.py \
        --input <pages parquet/Iceberg path> --output <icelite table root> \
        --buckets 16 --group-size 4

Resumable: rerunning after a crash skips committed bucket groups (the
icelite manifest chain is the checkpoint).  In local testing the session is
created by the script; under spark-submit the existing session is reused.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser()
    p.add_argument(
        "--input", required=True, help="pages parquet path, WARC dir, or icelite root"
    )
    p.add_argument(
        "--format",
        choices=["parquet", "warc", "icelite", "pdf"],
        default="parquet",
        help="'pdf' reads a (doc_id, pdf) parquet and runs the PDF front "
        "door (parse -> XY-cut -> assembled doc text), resumable on "
        "doc_id-hash bucket groups",
    )
    p.add_argument("--output", required=True, help="icelite table root")
    p.add_argument("--buckets", type=int, default=16)
    p.add_argument("--group-size", type=int, default=4)
    p.add_argument("--salt", type=int, default=0)
    p.add_argument(
        "--max-concurrent",
        type=int,
        default=1,
        help="bucket-group jobs to run in parallel (disjoint buckets)",
    )
    p.add_argument("--cores", type=int, default=None, help="local mode only")
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    from ocr_spark.plans.pipeline import ExtractionPipeline
    from ocr_spark.session import build_session
    from ocr_spark.sources.icelite import IceliteError, IceliteTable, exit_on_table_error

    spark = SparkSession.getActiveSession() or build_session(
        "extract-job", cores=args.cores
    )
    with exit_on_table_error():
        try:
            if args.format == "warc":
                from ocr_spark.sources.warc import read_warc

                pages = read_warc(spark, args.input).drop("warc_file")
            elif args.format == "icelite":
                # bucket-laid-out input: each group reads ONLY its buckets'
                # files (manifest pruning) — the resume path scans nothing of
                # the committed groups
                pages = IceliteTable(args.input, key_col="url", n_buckets=args.buckets)
                if not pages.exists():
                    raise FileNotFoundError(args.input)
            else:
                pages = spark.read.parquet(args.input)
        except IceliteError:
            raise  # a table laid out for other buckets: exit 4, not 2
        except Exception as e:  # noqa: BLE001 — operator-friendly CLI error
            print(f"error: cannot read --input {args.input!r}: {type(e).__name__}", file=sys.stderr)
            raise SystemExit(2) from None
        if args.format == "pdf":
            from ocr_spark.operators.pdf_ops import pdf_doc_records

            key_col, transform = "doc_id", pdf_doc_records
        else:
            key_col, transform = "url", None  # default html extraction
        table = IceliteTable(args.output, key_col=key_col, n_buckets=args.buckets)
        pipe = ExtractionPipeline(
            table, n_buckets=args.buckets, group_size=args.group_size,
            salt=args.salt, key_col=key_col, transform=transform,
        )
        stats = pipe.run(pages, max_concurrent=args.max_concurrent, spark=spark)
    print(json.dumps({"job": "extract", "output": args.output, **stats}))
    return stats


if __name__ == "__main__":
    main(sys.argv[1:])
