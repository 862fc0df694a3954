"""The corpus-cleaning job — the dedup/quality counterpart of
jobs/extract_job.py, production-shaped for a cluster launch:

    spark-submit --py-files dist/ocr_spark.zip jobs/dedup_job.py \
        --input <documents parquet> --output <icelite root for kept docs> \
        [--audit <icelite root for the per-doc audit>] \
        [--signatures <icelite root for reusable minhash signatures>] \
        [--near-dedup] [--near-threshold 0.8] [--langs en,fr] \
        [--min-chars 50] [--min-gopher-stopwords 0] \
        [--strip-boilerplate 5] [--dedup-doc-lines] [--redact-pii]

Runs ``corpus_filter`` (rule battery -> optional language filter ->
benchmark decontamination -> exact dedup -> optional MinHash-LSH
near-dedup) and commits BOTH the kept corpus and the full audit (one row
per input doc with its fate — a pipeline that silently drops data is
undebuggable at 10^12 rows).  The kept/audit tables are REPLACED each run
(they are a pure function of input + config; a merge-upsert would let rows
kept by a prior, looser config survive a stricter rerun).  With --audit,
the filter pipeline executes exactly once: kept docs and the reason
histogram both derive from the committed audit table.  ``--signatures``
materializes the survivor signature relation to a table so a rerun/restart
re-hashes nothing (memory-bounded at 100 TB; see
materialize_minhash_signatures).  Exit codes mirror extract_job: 2 bad
input, 3 retryable commit conflict, 4 schema/layout rejection.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> dict:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True, help="documents parquet path")
    p.add_argument("--output", required=True, help="icelite root for kept docs")
    p.add_argument("--audit", default=None, help="icelite root for the audit table")
    p.add_argument("--signatures", default=None, help="icelite root for minhash signatures")
    p.add_argument("--near-dedup", action="store_true")
    p.add_argument("--near-threshold", type=float, default=0.8)
    p.add_argument(
        "--max-bucket", type=int, default=1024,
        help="LSH viral-bucket bound (representative capping; buckets <= "
        "cap keep exact all-pairs recall, oversized template clusters "
        "degrade to connectivity-preserving rep x member edges); 0 = "
        "unbounded exact candidate generation",
    )
    p.add_argument("--langs", default=None, help="comma-separated language allowlist")
    p.add_argument(
        "--benchmark", default=None,
        help="eval-set parquet: docs sharing a 13-gram with it are dropped "
        "('contaminated' in the audit)",
    )
    p.add_argument("--min-chars", type=int, default=None)
    p.add_argument("--min-gopher-stopwords", type=int, default=None)
    p.add_argument(
        "--redact-pii", action="store_true",
        help="rewrite text with emails/IPs/phones replaced by typed tokens "
        "(scan-stage regexp; runs before the filter battery)",
    )
    p.add_argument(
        "--dedup-doc-lines", action="store_true",
        help="drop repeated lines within each doc, keeping first occurrence "
        "(scan-stage projection)",
    )
    p.add_argument(
        "--strip-boilerplate", type=int, default=None, metavar="MIN_DF",
        help="remove lines appearing in >= MIN_DF distinct docs (cross-doc "
        "line frequency + broadcast anti-join + one doc_id-keyed rejoin)",
    )
    p.add_argument("--buckets", type=int, default=16)
    p.add_argument("--cores", type=int, default=None, help="local mode only")
    args = p.parse_args(argv)
    if args.signatures and not args.near_dedup:
        p.error("--signatures only applies with --near-dedup")

    from pyspark.sql import SparkSession

    from ocr_spark.operators.corpus_filter import corpus_filter
    from ocr_spark.session import build_session
    from ocr_spark.sources.icelite import IceliteTable, exit_on_table_error

    spark = SparkSession.getActiveSession() or build_session(
        "dedup-job", cores=args.cores
    )
    try:
        docs = spark.read.parquet(args.input)
        bench_df = spark.read.parquet(args.benchmark) if args.benchmark else None
    except Exception:  # noqa: BLE001 — operator-friendly CLI error
        print(
            f"error: cannot read --input {args.input!r}"
            + (f" / --benchmark {args.benchmark!r}" if args.benchmark else ""),
            file=sys.stderr,
        )
        raise SystemExit(2) from None

    rules = {}
    if args.min_chars is not None:
        rules["min_chars"] = args.min_chars
    if args.min_gopher_stopwords is not None:
        rules["min_gopher_stopwords"] = args.min_gopher_stopwords

    # line-level pre-stages rewrite `text` BEFORE the filter battery, in
    # the order a production pipeline wants them: cross-doc boilerplate
    # strip (template chrome would otherwise skew quality rules and hash
    # dedup), then intra-doc line dedup, then PII redaction (tokens must
    # not be re-split by later line ops).  The kept table carries the
    # CLEANED text — dedup keys and audit reasons refer to it.
    pre_stages = []
    if args.strip_boilerplate is not None:
        from pyspark.sql import functions as _F

        from ocr_spark.operators.corpus_ops import remove_boilerplate_lines

        # metadata columns ride the op's exploded relation (carry_cols)
        # and come back out of its reassembly groupBy — NOT a second
        # corpus-scale join back onto the input, which is exactly the
        # broadcast-tempting pattern the op's own docstring warns against
        carry = tuple(c for c in docs.columns if c not in ("doc_id", "text"))
        docs = remove_boilerplate_lines(
            docs, min_doc_freq=args.strip_boilerplate, carry_cols=carry
        ).select("doc_id", *carry, _F.col("text_clean").alias("text"))
        pre_stages.append(f"strip_boilerplate>={args.strip_boilerplate}")
    if args.dedup_doc_lines:
        from ocr_spark.operators.corpus_ops import dedup_lines_expr

        docs = docs.withColumn("text", dedup_lines_expr(docs["text"]))
        pre_stages.append("dedup_doc_lines")
    if args.redact_pii:
        from ocr_spark.operators.pii import redact_expr

        docs = docs.withColumn("text", redact_expr(docs["text"]))
        pre_stages.append("redact_pii")

    with exit_on_table_error():
        sig_tbl = (
            IceliteTable(args.signatures, key_col="doc_id", n_buckets=args.buckets)
            if args.signatures and args.near_dedup
            else None
        )
        kept, audit = corpus_filter(
            docs,
            langs=args.langs.split(",") if args.langs else None,
            rules=rules or None,
            near_dedup=args.near_dedup,
            near_threshold=args.near_threshold,
            signatures_table=sig_tbl,
            benchmark=bench_df,
            # pre-stages rewrite the text the signatures hash — a rerun
            # with different flags must refuse the stale signature table
            input_token=",".join(pre_stages) if pre_stages else None,
            max_bucket=args.max_bucket if args.max_bucket > 0 else None,
        )
        from pyspark.sql import functions as F

        # the output tables are a pure function of (input, filter config):
        # each run REPLACES them — a merge-upsert would let rows kept by a
        # PRIOR config survive a stricter rerun (stale keys, wrong corpus)
        meta = {"op": "corpus_filter", "near_dedup": args.near_dedup}
        out = IceliteTable(args.output, key_col="doc_id", n_buckets=args.buckets)
        out.drop()
        stats = {"job": "dedup", "output": args.output}
        if pre_stages:
            stats["pre_stages"] = pre_stages
        if args.audit:
            # commit the audit first, then DERIVE everything else from the
            # committed table: the heavy filter pipeline executes exactly
            # once — kept is a semi-join of the raw input against the
            # committed keep flags, and the reason histogram is a cheap
            # re-read, not a recomputation
            audit_tbl = IceliteTable(args.audit, key_col="doc_id", n_buckets=args.buckets)
            audit_tbl.drop()
            audit_tbl.append(audit, metadata={"op": "corpus_filter_audit"})
            committed = audit_tbl.read(spark)
            hist = {
                r["reason"]: r["n"]
                for r in committed.groupBy("reason")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
            kept_ids = committed.filter(F.col("keep")).select("doc_id")
            out.append(docs.join(kept_ids, "doc_id", "left_semi"), metadata=meta)
            stats.update(
                docs_in=sum(hist.values()),
                docs_kept=hist.get("kept", 0),
                audit=args.audit,
                reasons=hist,
            )
        else:
            out.append(kept, metadata=meta)
            stats.update(docs_in=docs.count(), docs_kept=out.row_count())
    print(json.dumps(stats))
    return stats


if __name__ == "__main__":
    main(sys.argv[1:])
