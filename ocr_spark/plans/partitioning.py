"""Partitioning & skew policy (SURVEY.md §4.2, BASELINE.json:6,14).

Common-Crawl-style data is host-skewed (the fixture generator draws hosts
Zipf(s=1.2)).  Extraction itself is embarrassingly parallel — the skew that
matters is *compute* skew (a few huge documents / hot hosts land in one
task), which AQE cannot see because there is no shuffle.  The policy:

- **url-hash buckets** are the unit of layout, pruning, commit, and resume
  (``bucket(N, url)``) — pure hash, so host hotness spreads uniformly.
- **salted repartition** before the extraction UDF: partition on
  ``(bucket, salt)`` where salt = hash(url) % S, giving S× more, smaller
  tasks per bucket so one giant document cannot straggle a whole bucket;
  speculative execution (spark.speculation) covers the residue.
- per-document byte cap inside the kernel (DOC_TOO_LARGE error channel)
  bounds worst-case task time deterministically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ocr_spark.sources.icelite import bucket_expr


def with_bucket(df: DataFrame, key_col: str = "url", n_buckets: int = 16) -> DataFrame:
    return df.withColumn("bucket", bucket_expr(key_col, n_buckets))


def salted_repartition(
    df: DataFrame,
    key_col: str = "url",
    n_buckets: int = 16,
    salt: int = 4,
    target_partitions: int | None = None,
) -> DataFrame:
    """Repartition on (bucket, salt) so hot buckets split into ``salt``
    sub-tasks.  ``salt`` keys derive from a *different* hash seed than the
    bucket (xxhash64 with seed column trick) so they do not alias.

    The default partition count is 4x the tuple count: hashing exactly
    n_buckets*salt distinct (bucket, salt) tuples into that many
    partitions leaves ~1/e of them empty and co-locates several tuples —
    a hot bucket's salt shards frequently re-coalesced into ONE task,
    partially defeating the split.  With 4x head-room singleton placement
    is the overwhelmingly likely outcome; empty partitions cost a no-op
    task each."""
    n = target_partitions or (n_buckets * salt * 4)
    return df.repartition(
        n,
        bucket_expr(key_col, n_buckets),
        F.pmod(F.xxhash64(F.col(key_col), F.lit(1)), F.lit(salt)),
    )


def guarded_broadcast(rel: DataFrame, max_rows: int | None) -> DataFrame:
    """``rel`` as a join side: broadcast when it holds at most ``max_rows``
    rows, else unchanged (a shuffle join).  ``max_rows=None`` broadcasts
    unconditionally, for callers that know ``rel`` is bounded.

    The probe COLLECTS up to ``max_rows``+1 rows, as one Arrow table: a
    ``limit().count()`` cannot short-circuit below a blocking aggregate,
    counting then joining would run the aggregate twice, and a persisted
    relation would leak a cache the caller never owns.  Below the cap the
    collected table BECOMES the broadcast side, so the aggregate runs
    exactly once; above it the shuffle join recomputes it once
    (pathological path only).  Driver footprint: the Arrow table, about
    the relation's own bytes — not one Python ``Row`` per row."""
    if max_rows is None:
        return F.broadcast(rel)
    probe = rel.limit(max_rows + 1).toArrow()
    if probe.num_rows > max_rows:
        return rel
    return F.broadcast(rel.sparkSession.createDataFrame(probe, schema=rel.schema))
