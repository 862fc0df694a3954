"""Resumability property (SURVEY.md §5.2, BASELINE.md): kill after k
bucket-group commits, rerun -> byte-identical result to an uninterrupted
run, exactly-once visible rows per url."""

from __future__ import annotations

import json
import os
import threading

import pytest
from pyspark.sql import functions as F

from ocr_spark.operators.extract import extract_pages
from ocr_spark.operators.pdf_ops import pdf_doc_records
from ocr_spark.plans.pipeline import ExtractionPipeline
from ocr_spark.sources.icelite import IceliteTable, bucket_expr


@pytest.fixture(scope="module")
def pages(spark, tiny_dir):
    return spark.read.parquet(f"{tiny_dir}/pages.parquet")


def _table_content(spark, table):
    return sorted(
        (r["url"], r["text"], r["error"], r["engine"])
        for r in table.read(spark).collect()
    )


def test_uninterrupted_run(spark, pages, tmp_path):
    out = IceliteTable(str(tmp_path / "out"), key_col="url", n_buckets=8)
    pipe = ExtractionPipeline(out, n_buckets=8, group_size=2)
    stats = pipe.run(pages)
    assert stats["groups"] == 4
    assert stats["docs"] == pages.count()
    assert out.row_count() == pages.count()


def test_kill_and_resume_identical(spark, pages, tmp_path, crash_after_groups):
    # ground truth: uninterrupted
    ref = IceliteTable(str(tmp_path / "ref"), key_col="url", n_buckets=8)
    ExtractionPipeline(ref, n_buckets=8, group_size=2).run(pages)
    want = _table_content(spark, ref)

    # crash after 2 of 4 group commits
    out = IceliteTable(str(tmp_path / "out"), key_col="url", n_buckets=8)
    pipe = ExtractionPipeline(out, n_buckets=8, group_size=2)
    with crash_after_groups(out, 2), pytest.raises(RuntimeError, match="simulated crash"):
        pipe.run(pages)
    assert len(pipe.remaining_groups()) == 2
    partial = out.row_count()
    assert 0 < partial < pages.count()

    # resume: only remaining groups run; final content identical
    stats = ExtractionPipeline(out, n_buckets=8, group_size=2).run(pages)
    assert stats["groups"] == 2
    assert _table_content(spark, out) == want


def test_rerun_after_completion_is_noop(spark, pages, tmp_path):
    out = IceliteTable(str(tmp_path / "out"), key_col="url", n_buckets=8)
    ExtractionPipeline(out, n_buckets=8, group_size=2).run(pages)
    head = out.head_id()
    stats = ExtractionPipeline(out, n_buckets=8, group_size=2).run(pages)
    assert stats["groups"] == 0
    assert out.head_id() == head


def test_group_is_one_job_without_exchange(spark, pages, tmp_path, monkeypatch):
    """A bucket group into a fresh table is ONE Spark job whose executed plan
    has no Exchange and ONE Python node: each task runs the extraction step
    and writes its own bucket files in the same MapInArrow, and the driver
    commits only the file metadata they return (no observed metrics)."""
    plans = []
    df_type = type(pages)
    collect = df_type.collect

    def recording_collect(self):
        rows = collect(self)
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return rows

    monkeypatch.setattr(df_type, "collect", recording_collect)
    out = IceliteTable(str(tmp_path / "out"), key_col="url", n_buckets=8)
    pipe = ExtractionPipeline(out, n_buckets=8, group_size=2)
    sc = spark.sparkContext
    job_group = "pipeline-groups-one-job-each"
    sc.setJobGroup(job_group, "pipeline groups into a fresh table")
    try:
        stats = pipe.run(pages)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert stats["groups"] == 4
    # the first group appends, the other three merge into empty buckets
    assert len(sc.statusTracker().getJobIdsForGroup(job_group)) == 4
    assert len(plans) == 4
    assert not [p for p in plans if "Exchange" in p]
    for plan in plans:
        assert plan.count("MapInArrow") == 1, plan
        assert "ArrowEvalPython" not in plan and "CollectMetrics" not in plan, plan
    assert out.row_count() == pages.count()


def _group_counters(table) -> dict:
    return {
        tuple(s.metadata["bucket_group"]): s.metadata["counters"]
        for s in table.snapshots()
        if "bucket_group" in s.metadata
    }


def _aggregate(rel, key_col: str, n_buckets: int, group_size: int) -> dict:
    """The lineage counters as a DataFrame aggregate, per bucket group."""
    g = (bucket_expr(key_col, n_buckets) / group_size).cast("int")
    rows = rel.groupBy(g.alias("g")).agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum(F.col("error").isNotNull().cast("long")).alias("errors"),
        F.sum(F.length("text")).alias("text_chars"),
    )
    return {
        tuple(range(r["g"] * group_size, (r["g"] + 1) * group_size)): {
            "docs": r["docs"], "errors": r["errors"], "text_chars": r["text_chars"],
        }
        for r in rows.collect()
    }


def test_counters_match_committed_rows(spark, pages, tiny_dir, tmp_path):
    """Each group's docs/errors/text_chars, counted by the write tasks,
    equal a DataFrame aggregate over the rows the group committed — over
    mixed dom/wet/error html and over pdf."""
    mixed = pages.withColumn(
        "html", F.when(F.col("url").endswith("0"), None).otherwise(F.col("html"))
    )
    html = IceliteTable(str(tmp_path / "html"), key_col="url", n_buckets=8)
    stats = ExtractionPipeline(html, n_buckets=8, group_size=2).run(mixed)
    got = _group_counters(html)
    assert got == _aggregate(html.read(spark), "url", 8, 2)
    engines = {r["engine"] for r in html.read(spark).select("engine").distinct().collect()}
    assert engines == {"dom", "wet"} and stats["errors"] > 0

    docs = spark.read.parquet(f"{tiny_dir}/pdf_docs.parquet")
    pdf = IceliteTable(str(tmp_path / "pdf"), key_col="doc_id", n_buckets=8)
    stats = ExtractionPipeline(
        pdf, n_buckets=8, group_size=2, key_col="doc_id", transform=pdf_doc_records
    ).run(docs)
    assert _group_counters(pdf) == _aggregate(pdf.read(spark), "doc_id", 8, 2)
    assert stats["docs"] == docs.count() and stats["errors"] > 0


def test_rerun_counters_count_incoming_rows_only(spark, pages, tmp_path):
    """A merge into populated buckets (the re-process path) counts the rows
    it extracted, not the old rows the anti-join carried over."""
    out = IceliteTable(str(tmp_path / "out"), key_col="url", n_buckets=8)
    ExtractionPipeline(out, n_buckets=8, group_size=2).run(pages)
    head = out.head_id()
    subset = pages.filter(F.col("url").substr(-1, 1).isin("1", "3", "5", "7"))
    ExtractionPipeline(out, n_buckets=8, group_size=2).run(subset, force=True)
    rerun = {
        tuple(s.metadata["bucket_group"]): s.metadata["counters"]
        for s in out.snapshots()
        if "bucket_group" in s.metadata and s.snapshot_id > head
    }
    assert rerun == _aggregate(extract_pages(subset), "url", 8, 2)
    assert sum(c["docs"] for c in rerun.values()) < out.row_count() == pages.count()


def test_lineage_counters_recorded(spark, pages, tmp_path):
    out = IceliteTable(str(tmp_path / "out"), key_col="url", n_buckets=8)
    ExtractionPipeline(out, n_buckets=8, group_size=4).run(pages)
    counters = [
        s.metadata.get("counters", {})
        for s in out.snapshots()
        if "bucket_group" in s.metadata
    ]
    assert sum(c.get("docs", 0) for c in counters) == pages.count()
    assert all("errors" in c and "text_chars" in c for c in counters)


def test_parallel_groups_match_serial(spark, pages, tmp_path):
    """Concurrent bucket-group jobs (disjoint buckets) produce the same
    table as serial execution; commits interleave safely."""
    serial = IceliteTable(str(tmp_path / "s"), key_col="url", n_buckets=8)
    ExtractionPipeline(serial, n_buckets=8, group_size=2).run(pages)
    par = IceliteTable(str(tmp_path / "p"), key_col="url", n_buckets=8)
    stats = ExtractionPipeline(par, n_buckets=8, group_size=2).run(
        pages, max_concurrent=4
    )
    assert stats["groups"] == 4
    assert _table_content(spark, par) == _table_content(spark, serial)
    # every group's counters landed despite interleaved commits
    counters = [
        s.metadata["counters"]
        for s in par.snapshots()
        if "bucket_group" in s.metadata
    ]
    assert sum(c["docs"] for c in counters) == pages.count()


def test_concurrent_groups_run_in_callers_job_group(spark, pages, tmp_path):
    """Groups driven on pool threads (``max_concurrent>1``) run their jobs
    under the caller's local properties: every group job lands in the
    caller's job group, so cancelling it, scheduler pools and job
    descriptions reach them."""
    out = IceliteTable(str(tmp_path / "out"), key_col="url", n_buckets=8)
    sc = spark.sparkContext
    job_group = "pipeline-concurrent-groups"
    sc.setJobGroup(job_group, "concurrent pipeline groups")
    try:
        stats = ExtractionPipeline(out, n_buckets=8, group_size=2).run(
            pages, max_concurrent=2
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert stats["groups"] == 4
    assert len(sc.statusTracker().getJobIdsForGroup(job_group)) == 4


class _LoggedTable(IceliteTable):
    """An output table that logs each commit and can hold a merge open
    (``after_merge``) until the test lets it return."""

    def __init__(self, root: str, log: list, after_merge=None):
        super().__init__(root, key_col="url", n_buckets=8)
        self.log = log
        self.after_merge = after_merge

    def merge(self, df, metadata=None, touched_buckets=None):
        sid = super().merge(df, metadata, touched_buckets)
        if self.after_merge is not None:
            self.after_merge(metadata["bucket_group"])
        return sid

    def _commit(self, *args, **kwargs):
        sid = super()._commit(*args, **kwargs)
        self.log.append("commit")
        return sid


def test_next_group_planned_while_group_runs(spark, pages, tmp_path):
    """Group N+1's transform is called before group N's merge returns:
    each merge waits for the next group's transform call, which a loop
    that plans a group only after the previous one committed never makes."""
    pipe = ExtractionPipeline(_LoggedTable(str(tmp_path / "out"), []), n_buckets=8, group_size=2)
    groups = pipe.bucket_groups()
    planned = [threading.Event() for _ in groups]
    calls, waited = [], []

    def transform(part):
        calls.append(part)
        planned[len(calls) - 1].set()
        return extract_pages(part)

    def after_merge(group):
        i = groups.index(group)
        if i + 1 < len(groups):
            waited.append(planned[i + 1].wait(timeout=60))

    pipe.transform = transform
    pipe.out.after_merge = after_merge
    stats = pipe.run(pages)
    assert stats["groups"] == len(groups) and waited == [True] * (len(groups) - 1)


def test_group_jobs_never_overlap(spark, pages, tmp_path, monkeypatch):
    """Planning ahead runs no job: the group writes' collects never nest,
    and each starts after the previous group's commit."""
    log: list = []
    df_type = type(pages)
    collect = df_type.collect

    def logged_collect(self):
        log.append("job")
        try:
            return collect(self)
        finally:
            log.append("end")

    monkeypatch.setattr(df_type, "collect", logged_collect)
    pipe = ExtractionPipeline(_LoggedTable(str(tmp_path / "out"), log), n_buckets=8, group_size=2)
    assert pipe.run(pages)["groups"] == 4
    assert log == ["job", "end", "commit"] * 4


def test_transform_failure_keeps_earlier_groups(spark, pages, tmp_path):
    """A transform that raises on group k (while group k-1 runs) leaves
    exactly the groups before k committed; the error propagates, and no
    data file is orphaned, because planning writes none."""
    out = IceliteTable(str(tmp_path / "out"), key_col="url", n_buckets=8)
    pipe = ExtractionPipeline(out, n_buckets=8, group_size=2)
    calls = []

    def transform(part):
        calls.append(part)
        if len(calls) == 3:
            raise ValueError("transform failed on group 2")
        return extract_pages(part)

    pipe.transform = transform
    with pytest.raises(ValueError, match="group 2"):
        pipe.run(pages)
    assert out.committed_groups() == pipe.bucket_groups()[:2]
    assert out.remove_orphan_files() == []


def test_simulated_crash_leaves_no_orphans(spark, pages, tmp_path, crash_after_groups):
    """A crash in the third group's merge still leaves 2 committed groups,
    and the group planned ahead of the crash wrote no file."""
    out = IceliteTable(str(tmp_path / "out"), key_col="url", n_buckets=8)
    pipe = ExtractionPipeline(out, n_buckets=8, group_size=2)
    with crash_after_groups(out, 2), pytest.raises(RuntimeError, match="simulated crash"):
        pipe.run(pages)
    assert out.committed_groups() == pipe.bucket_groups()[:2]
    assert out.remove_orphan_files() == []


def _manifest_fields_by_name(d: dict) -> str:
    """A manifest as ``Snapshot.to_json`` wrote it with each field named
    by hand."""
    return json.dumps(
        {
            "snapshot_id": d["snapshot_id"],
            "parent_id": d["parent_id"],
            "operation": d["operation"],
            "files": d["files"],
            "file_rows": d["file_rows"],
            "metadata": d["metadata"],
        },
        indent=1,
    )


def test_manifests_keep_their_bytes_and_resume(spark, pages, tmp_path, crash_after_groups):
    """A crashed run's manifests are byte-identical to the same snapshots
    written with each field named by hand; a table holding manifests
    written that way opens, reads and resumes to the uninterrupted run's
    content."""
    ref = IceliteTable(str(tmp_path / "ref"), key_col="url", n_buckets=8)
    ExtractionPipeline(ref, n_buckets=8, group_size=2).run(pages)
    root = str(tmp_path / "out")
    out = IceliteTable(root, key_col="url", n_buckets=8)
    with crash_after_groups(out, 2), pytest.raises(RuntimeError, match="simulated crash"):
        ExtractionPipeline(out, n_buckets=8, group_size=2).run(pages)
    partial = out.row_count()

    snapshots = os.path.join(root, "_snapshots")
    for name in os.listdir(snapshots):
        with open(os.path.join(snapshots, name)) as f:
            text = f.read()
        old = _manifest_fields_by_name(json.loads(text))
        assert text == old
        with open(os.path.join(snapshots, name), "w") as f:
            f.write(old)

    reopened = IceliteTable.open(root)
    assert reopened.read(spark).count() == partial
    stats = ExtractionPipeline(reopened, n_buckets=8, group_size=2).run(pages)
    assert stats["groups"] == 2
    assert _table_content(spark, reopened) == _table_content(spark, ref)


def test_table_input_prunes_files_physically(spark, pages, tmp_path):
    """icelite (bucket-laid-out) input: each group's read touches ONLY that
    group's bucket files — manifest pruning, no scan-then-filter (VERDICT r2
    'What's missing' #3).  The group slice carries no bucket predicate at
    all (structural pruning), and its file set is a strict subset of the
    table's files, all under the group's bucket= dirs."""
    src = IceliteTable(str(tmp_path / "src"), key_col="url", n_buckets=8)
    src.append(pages)
    pipe = ExtractionPipeline(
        IceliteTable(str(tmp_path / "out"), key_col="url", n_buckets=8),
        n_buckets=8,
        group_size=2,
    )
    group = [0, 1]
    part = pipe._group_input(src, spark, group)
    files = part.inputFiles()
    all_files = src.read(spark).inputFiles()
    assert files and len(files) < len(all_files)
    assert all(
        any(f"__bucket={b}/" in f for b in group) for f in files
    ), files
    # no computed bucket predicate in the plan — pruning is structural
    assert "xxhash64" not in part._jdf.queryExecution().optimizedPlan().toString()
    # rows are exactly the group's buckets
    from ocr_spark.sources.icelite import bucket_expr

    want = pages.filter(bucket_expr("url", 8).isin(group)).count()
    assert part.count() == want


def test_table_input_run_matches_dataframe_run(spark, pages, tmp_path, crash_after_groups):
    """Full pipeline over icelite input == over the flat DataFrame input,
    including crash-resume (the resume scans only remaining groups)."""
    ref = IceliteTable(str(tmp_path / "ref"), key_col="url", n_buckets=8)
    ExtractionPipeline(ref, n_buckets=8, group_size=2).run(pages)
    want = _table_content(spark, ref)

    src = IceliteTable(str(tmp_path / "src"), key_col="url", n_buckets=8)
    src.append(pages)
    out = IceliteTable(str(tmp_path / "out"), key_col="url", n_buckets=8)
    with crash_after_groups(out, 2), pytest.raises(RuntimeError, match="simulated crash"):
        ExtractionPipeline(out, n_buckets=8, group_size=2).run(src, spark=spark)
    stats = ExtractionPipeline(out, n_buckets=8, group_size=2).run(src, spark=spark)
    assert stats["groups"] == 2
    assert _table_content(spark, out) == want


def test_same_bucket_conflict_detected(spark, tmp_path):
    """A racing merge on the SAME bucket raises instead of losing data.

    The race is staged by hooking the slow phase (_write_data): while the
    victim merge is writing, a concurrent merge rewrites the same buckets
    and commits first; the victim must then fail its commit validation.
    """
    t = IceliteTable(str(tmp_path / "c"), key_col="url", n_buckets=2)
    t.append(spark.createDataFrame([("u1", 1), ("u2", 2)], "url string, v int"))
    victim = spark.createDataFrame([("u1", 99)], "url string, v int")

    fired = {"done": False}
    orig_write = t._write_data

    def write_with_interleaved_commit(dfx):
        res = orig_write(dfx)
        if not fired["done"]:
            fired["done"] = True
            t.merge(
                spark.createDataFrame([("u1", 50), ("u2", 51)], "url string, v int")
            )
        return res

    t._write_data = write_with_interleaved_commit
    try:
        with pytest.raises(RuntimeError, match="commit conflict"):
            t.merge(victim)
    finally:
        t._write_data = orig_write
