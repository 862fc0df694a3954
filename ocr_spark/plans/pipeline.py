"""The resumable extraction pipeline (SURVEY.md §7 M4).

Processing unit = a **bucket group**: a contiguous slice of url-hash
buckets.  Per group: filter pages to the group's buckets -> extraction UDF
-> MERGE into the output table with the group id recorded in the commit
metadata.  A rerun asks the table which groups are committed and skips them
— so a killed run resumes from the last committed snapshot and the final
table is identical to an uninterrupted run (exactly-once visible rows per
url; the per-group MERGE makes replays of a half-processed group
idempotent, reference K3 semantics).

A group is split into a plan half (``_plan_group``: the input slice, the
transform and the output table's write plan, no Spark job) and a run half
(``_run_group``: the merge's one job, the commit, the counters).  With
``max_concurrent=1`` one group job runs at a time, in group order, and a
planner thread builds the next group's plan while the current group's job
runs, so the driver does not plan in the gap between jobs.

Lineage counters — docs, docs errored, text chars per commit — come from
the rows the group's incoming write returns, one per file (rows, errors
and text characters, counted by the write tasks that also run the
extraction step; see ``IceliteTable._write_data``) — the same rows the
commit lists in the manifest — never from the anti-join survivors, and
land in the snapshot metadata alongside per-file row counts.  Only the
attempts whose rows the driver collected count, so a retried or
speculative task never counts twice.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame

from ocr_spark.operators.extract import extract_pages
from ocr_spark.operators.payloads import batch_step
from ocr_spark.plans.partitioning import salted_repartition
from ocr_spark.sources.icelite import IceliteTable


class ExtractionPipeline:
    def __init__(
        self,
        out_table: IceliteTable,
        n_buckets: int = 16,
        group_size: int = 4,
        salt: int = 0,
        key_col: str = "url",
        transform=None,
    ):
        """``salt=0`` (default) keeps the extraction stage shuffle-free:
        parquet/Iceberg scans already split files by
        ``spark.sql.files.maxPartitionBytes``, so task sizes are balanced by
        *bytes*, and spark.speculation covers stragglers.  Set ``salt>0``
        only for pathological host skew — it buys smaller tasks at the cost
        of shuffling the raw html (the one thing a 100 TB run must avoid).

        ``key_col``/``transform`` generalize the pipeline beyond the html
        branch: ``transform`` maps a group's input slice to the rows merged
        into the output (default :func:`extract_pages`) and must emit the
        key column plus ``text``/``error`` for the lineage counters, which
        the write tasks count — e.g. ``pdf_ops.pdf_doc_records`` with
        ``key_col='doc_id'`` runs the PDF front door resumable
        (jobs/extract_job.py --format pdf)."""
        self.out = out_table
        self.n_buckets = n_buckets
        self.group_size = group_size
        self.salt = salt
        self.key_col = key_col
        self.transform = transform if transform is not None else extract_pages
        self._check_layout(out_table, "output")

    def _check_layout(self, table: IceliteTable, role: str) -> None:
        """An input or output table must be laid out on the pipeline's key
        and bucket count.  Otherwise a group's buckets name other rows: an
        output merge would scatter rows into buckets its touched_buckets
        anti-join never covers (duplicate keys on resume instead of
        exactly-once), and an input read would feed the group rows its
        resume record does not cover."""
        if (table.key_col, table.n_buckets) != (self.key_col, self.n_buckets):
            raise ValueError(
                f"{role} table is keyed ({table.key_col!r}, {table.n_buckets} "
                f"buckets), pipeline expects ({self.key_col!r}, {self.n_buckets}) "
                "— bucket ids would not align with the pipeline's bucket groups"
            )

    def bucket_groups(self) -> list[list[int]]:
        return [
            list(range(i, min(i + self.group_size, self.n_buckets)))
            for i in range(0, self.n_buckets, self.group_size)
        ]

    def remaining_groups(self) -> list[list[int]]:
        done = {tuple(g) for g in self.out.committed_groups()} if self.out.exists() else set()
        return [g for g in self.bucket_groups() if tuple(g) not in done]

    def _group_input(self, pages, spark, group: list[int]) -> DataFrame:
        """The group's slice of the input.

        - ``IceliteTable`` input: the group's buckets are read by MANIFEST
          file pruning — the file list shrinks before Spark lists anything,
          so a resume scans only the remaining groups' files (physical
          partition pruning; the unit of layout == the unit of resume).
        - plain ``DataFrame`` input (flat parquet, WARC): fall back to a
          computed bucket predicate — correct, but every group re-scans the
          full input and filters rows (VERDICT r2 "What's missing" #3); lay
          the input out as an icelite table to get pruning.
        """
        if isinstance(pages, IceliteTable):
            self._check_layout(pages, "input")
            return pages.read(spark, buckets=group)
        return pages.filter(self.out.bucket_id.isin(group))

    def _plan_group(self, pages, spark, group: list[int]) -> DataFrame:
        """The plan half of a group: its input slice, the transform, and
        the output table's write plan for it, built ahead and kept on the
        transform's batch step (``IceliteTable.plan_write``).  Runs no
        Spark job and writes no file."""
        part = self._group_input(pages, spark, group)
        if self.salt:
            part = salted_repartition(part, self.key_col, self.n_buckets, self.salt)
        extracted = self.transform(part)
        self.out.plan_write(extracted)
        return extracted

    def _run_group(self, extracted: DataFrame, group: list[int]) -> dict:
        """The run half of a group: the merge (its one job, then the
        commit) and the lineage counters its write counted."""
        sid = self.out.merge(
            extracted,
            metadata={"bucket_group": group, "counters": {}},
            touched_buckets=group,
        )
        written = batch_step(extracted).written
        got = {
            "docs": sum(f.rows for f in written),
            "errors": sum(f.errors for f in written),
            "text_chars": sum(f.text_chars for f in written),
        }
        # the counters only exist once the write ran; amend the manifest
        # (metadata-only — HEAD untouched, safe under concurrency)
        self.out.patch_metadata(sid, {"counters": got})
        return got

    def run(
        self,
        pages,
        force: bool = False,
        max_concurrent: int = 1,
        spark=None,
    ) -> dict:
        """Process all remaining bucket groups; returns lineage summary.

        ``pages`` is a DataFrame OR an ``IceliteTable`` (pass ``spark`` with
        a table) — table input gets manifest-level file pruning per group
        (see ``_group_input``).
        ``force=True`` reprocesses every group (the reference's re-process
        path, C3: the MERGE overwrites prior rows per key, page.tsx:183-187).
        ``max_concurrent=1`` runs one group job at a time, in group order,
        with every merge, commit and counter update on the calling thread;
        one planner thread builds the next group's plan (``_plan_group``)
        while the current group's job runs, so the driver's planning is
        off the path between jobs.  ``max_concurrent>1`` drives several
        bucket-group jobs at once, each thread planning and then running
        its group — groups touch disjoint buckets, so their merges commit
        concurrently (icelite validates disjointness); keeps a wide cluster
        busy through each group's commit tail.  Either way the other
        threads run under the caller's Spark local properties (job group,
        scheduler pool, job description).
        """
        if isinstance(pages, IceliteTable) and spark is None:
            raise ValueError("pass spark= when pages is an IceliteTable")
        # (html byte counters intentionally absent: bench.py measures MB/sec
        # explicitly instead)
        stats = {"groups": 0, "docs": 0, "errors": 0, "text_chars": 0}

        def tally(got: dict) -> None:
            stats["groups"] += 1
            stats["docs"] += got["docs"]
            stats["errors"] += got["errors"]
            stats["text_chars"] += got["text_chars"]

        session = spark if spark is not None else pages.sparkSession

        def submit(pool, fn, *args):
            # wrapped per call: each call gets its own copy of the caller's
            # local properties, as calls sharing one copy would overwrite
            # each other's SQL execution id in it
            return pool.submit(inheritable_thread_target(session)(fn), *args)

        groups = self.bucket_groups() if force else self.remaining_groups()
        if max_concurrent > 1:

            def plan_and_run(group):
                return self._run_group(self._plan_group(pages, spark, group), group)

            with ThreadPoolExecutor(max_concurrent) as pool:
                for running in [submit(pool, plan_and_run, g) for g in groups]:
                    tally(running.result())
            return stats

        with ThreadPoolExecutor(1) as planner:
            ahead = submit(planner, self._plan_group, pages, spark, groups[0]) if groups else None
            for i, group in enumerate(groups):
                extracted = ahead.result()
                if i + 1 < len(groups):
                    ahead = submit(planner, self._plan_group, pages, spark, groups[i + 1])
                tally(self._run_group(extracted, group))
        return stats
