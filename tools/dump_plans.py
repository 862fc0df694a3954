"""Capture physical plans of the key operators into docs/PLANS.md —
the evidence that filters push down, joins broadcast, and the extraction
stage is shuffle-free.  Rerun after any operator change."""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

import __spark_entry__ as E
from ocr_spark.fixtures.generator import ensure_fixtures
from ocr_spark.operators.extract import extract_pages
from ocr_spark.session import build_session

SF = "/root/testdata/sf0.01"

CASES = [
    ("extract_pages (flagship)", None),  # special-cased below
    ("extract_layout (engine A)", "extract_layout"),
    ("pdf_layout (engine A byte layer)", "pdf_layout"),
    ("dedup_exact", "dedup_exact"),
    ("broadcast_join_agg", "broadcast_join_agg"),
    ("topk_cosine", "topk_cosine"),
    ("join_topk_per_group", "join_topk_per_group"),
    ("minhash_pairs", "minhash_pairs"),
    ("simhash_pairs", "simhash_pairs"),
    ("ngram_jaccard", "ngram_jaccard"),
    ("embedding_dups", "embedding_dups"),
    ("audio_meta", "audio_meta"),
    ("decontaminate", "decontaminate"),
    ("pack_sequences", "pack_sequences"),
    ("attendance_explode", "attendance_explode"),
    ("pii_redact", "pii_redact"),
    ("boilerplate_lines", "boilerplate_lines"),
    ("dedup_lines", "dedup_lines"),
    ("mixture_sample", "mixture_sample"),
]


def plan_of(df) -> str:
    s = df._jdf.queryExecution().executedPlan().toString()
    s = re.sub(r"#\d+", "#N", s)  # strip expr ids for stable diffs
    s = re.sub(r"plan_id=\d+", "plan_id=N", s)  # and Exchange ids
    return s.strip()


def main() -> None:
    spark = build_session("plan-dump", cores=4)
    fix = ensure_fixtures("tiny")
    qs = E.queries()
    out = [
        "# Physical plans (evidence artifact)",
        "",
        "Generated by `python tools/dump_plans.py` on sf0.01 / tiny fixtures.",
        "Expression ids normalized to `#N`, Exchange ids to `plan_id=N`.  What to look for:",
        "",
        "- **extract_pages**: one scan, a single `MapInArrow` (the dom/wet",
        "  dispatch is per row inside the batch step, so no `Union`), and",
        "  NO `Exchange` — the 100 TB stage is embarrassingly parallel.  A",
        "  pipeline group runs the same step inside the icelite writer's",
        "  `MapInArrow` (scan -> `__bucket` projection -> ONE `MapInArrow`",
        "  that extracts and writes the bucket files), so each task crosses",
        "  the JVM->Python boundary once.",
        "- **pdf_layout**: scan -> ONE MapInArrow -> filter, NO Exchange —",
        "  the fused PDF-bytes front door has the same shape as extraction.",
        "- **dedup_exact**: one hash-partitioned `Exchange` on the md5, with",
        "  partial_min/count map-side (partial aggregation before shuffle).",
        "- **broadcast_join_agg**: `BroadcastHashJoin` on both dims — no",
        "  shuffle of the orders fact table for the join itself.",
        "- **topk_cosine**: `TakeOrderedAndProject` — per-partition top-k +",
        "  merge, not a global sort.",
        "- **decontaminate**: only Broadcast joins — the corpus side (the",
        "  100 TB side) never shuffles for either the gram match or the",
        "  per-doc flag join.",
        "- **pack_sequences**: exactly one SinglePartition exchange, and it",
        "  carries the CHUNK TOTALS (n/4096 rows) — the per-doc window is",
        "  hash-partitioned on _chunk (parallel).",
        "- **simhash_pairs**: the d-choose-k banded index — ONE exploded",
        "  (key, doc_id, simhash) relation self-joined on the tagged key;",
        "  candidate volume per table is sum over buckets of C(bucket,2),",
        "  bounded by the corpus-size-derived key width (simhash_index_plan:",
        "  mean bucket <= 64 docs => expected pairs/table <= 32n; tables:",
        "  B=4:4, B=5:10, B=6:20, B=7:35).",
        "- **pii_redact / dedup_lines / mixture_sample**: pure scan-stage",
        "  projections/predicates — NO Exchange, no Python evaluator.",
        "- **boilerplate_lines**: hot-line set broadcast into a",
        "  BroadcastHashJoin LeftAnti (corpus lines never shuffle for the",
        "  filter); the only corpus-side Exchange is the per-doc reassembly",
        "  groupBy.",
        "",
    ]
    for title, qname in CASES:
        if qname is None:
            df = extract_pages(spark.read.parquet(f"{fix}/pages.parquet"))
        else:
            df = qs[qname](spark, SF)
        out.append(f"## {title}\n\n```\n{plan_of(df)}\n```\n")
    os.makedirs("docs", exist_ok=True)
    with open("docs/PLANS.md", "w") as f:
        f.write("\n".join(out))
    print("wrote docs/PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
