"""The extraction job CLI: exit codes per failure class and the PDF
front door through the resumable job; the wide-row upsert flow."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ocr_spark.operators.attendance import attendance_records
from ocr_spark.operators.unnest import explode_presences
from ocr_spark.sources.icelite import IceliteTable


def test_upsert_wide_rows_idempotent(spark, tiny_dir, tmp_path):
    """The reference's save-to-sheet flow: explode each record into one wide
    row per student (empty list -> one empty-student row) and merge by key;
    re-saving the same keys replaces their rows, never duplicates them."""
    docs = spark.read.parquet(f"{tiny_dir}/attendance_docs.parquet")
    recs = attendance_records(docs).cache()
    t = IceliteTable(str(tmp_path / "sheet"), key_col="url", n_buckets=4)
    t.merge(explode_presences(recs))
    n1 = t.row_count()
    t.merge(explode_presences(recs))  # re-save same keys: replaced, not duplicated
    assert t.row_count() == n1
    # wide-row law: one row per student, or one empty row
    want = recs.select(
        F.sum(F.greatest(F.size("fields.présences"), F.lit(1))).alias("n")
    ).first()["n"]
    assert n1 == want


def test_extract_job_exit_codes(spark, tiny_dir, tmp_path, monkeypatch, capsys):
    """The job CLI maps the sink error taxonomy to distinct exit codes:
    2 = unreadable input, 3 = retryable commit conflict, 4 = schema or
    layout drift (an icelite input laid out for other buckets than
    ``--buckets`` included)."""
    from jobs.extract_job import main
    from ocr_spark.plans import pipeline as P
    from ocr_spark.sources.icelite import CommitConflictError, SchemaMismatchError

    inp = f"{tiny_dir}/pages.parquet"

    with pytest.raises(SystemExit) as e:
        main(["--input", "/nonexistent/nope.parquet", "--output", "/tmp/never"])
    assert e.value.code == 2

    laid8 = str(tmp_path / "in8")
    IceliteTable(laid8, key_col="url", n_buckets=8).append(spark.read.parquet(inp).limit(5))
    as16 = ["--format", "icelite", "--output", str(tmp_path / "out"), "--buckets", "16"]
    with pytest.raises(SystemExit) as e:
        main(["--input", laid8, *as16])
    assert e.value.code == 4
    assert "laid out with" in capsys.readouterr().err
    with pytest.raises(SystemExit) as e:
        main(["--input", str(tmp_path / "missing"), *as16])
    assert e.value.code == 2

    def boom_conflict(self, pages, max_concurrent=1, spark=None):
        raise CommitConflictError("bucket 3 changed under a concurrent merge")

    monkeypatch.setattr(P.ExtractionPipeline, "run", boom_conflict)
    with pytest.raises(SystemExit) as e:
        main(["--input", inp, "--output", "/tmp/never"])
    assert e.value.code == 3

    def boom_schema(self, pages, max_concurrent=1, spark=None):
        raise SchemaMismatchError("missing columns ['text']")

    monkeypatch.setattr(P.ExtractionPipeline, "run", boom_schema)
    with pytest.raises(SystemExit) as e:
        main(["--input", inp, "--output", "/tmp/never"])
    assert e.value.code == 4


def test_extract_job_pdf_format(spark, tiny_dir, tmp_path, capsys):
    """extract_job --format pdf: the PDF front door through the resumable
    CLI lands one doc-text row per input document, rerun is a no-op."""
    from jobs.extract_job import main

    out = str(tmp_path / "pdf_out")
    stats = main(
        ["--input", f"{tiny_dir}/pdf_docs.parquet", "--format", "pdf",
         "--output", out, "--buckets", "8", "--group-size", "4"]
    )
    n_docs = spark.read.parquet(f"{tiny_dir}/pdf_docs.parquet").count()
    assert stats["docs"] == n_docs and stats["groups"] == 2
    again = main(
        ["--input", f"{tiny_dir}/pdf_docs.parquet", "--format", "pdf",
         "--output", out, "--buckets", "8", "--group-size", "4"]
    )
    assert again["groups"] == 0  # resume no-op
    tbl = IceliteTable(out, key_col="doc_id", n_buckets=8)
    assert tbl.read(spark).count() == n_docs
