"""SQL registration + WARC-ingest job mode + parser fuzz."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from ocr_spark.sources.warc import parse_warc_bytes
from ocr_spark.sql import register


def test_sql_extract(spark, tiny_dir):
    """``ocr_extract(html, text)`` is the same UDF ``extract_pages`` runs:
    html rows match the DOM golden, html-less rows fall back to the crawl
    text and match the generator's independent ``wet_text`` golden."""
    register(spark)
    pages = spark.read.parquet(f"{tiny_dir}/pages.parquet")
    pages.withColumn(
        "html", F.when(F.col("url").endswith("0"), None).otherwise(F.col("html"))
    ).createOrReplaceTempView("pages_v")
    got = spark.sql(
        "SELECT url, html IS NULL AS wet, r.text AS text, r.error AS err "
        "FROM (SELECT url, html, ocr_extract(html, text) AS r FROM pages_v)"
    )
    golden = spark.read.parquet(f"{tiny_dir}/golden_pages.parquet").select(
        "url",
        F.col("text").alias("gtext"),
        F.coalesce("wet_text", F.lit("")).alias("gwet"),
    )
    j = got.join(golden, "url")
    assert j.count() == 100
    n_wet = j.filter("wet").count()
    assert 0 < n_wet < 100
    want = F.when(F.col("wet"), F.col("gwet")).otherwise(F.col("gtext"))
    assert j.filter(F.col("text") != want).count() == 0
    # an html-less row with no crawl text is the E6 empty error, not a crash
    assert j.filter(F.col("wet") & (F.col("gwet") == "") & F.col("err").isNull()).count() == 0


def test_sql_structure_and_lang(spark, tiny_dir):
    register(spark)
    spark.read.parquet(f"{tiny_dir}/attendance_docs.parquet").createOrReplaceTempView("att_v")
    r = spark.sql(
        "SELECT url, ocr_structure(doc_text).fields.classe AS classe FROM att_v"
    ).first()
    assert r["classe"] is not None
    lang = spark.sql("SELECT ocr_lang('the cat is on the mat and it is warm') AS l").first()["l"]
    assert lang == "en"


def test_warc_job_mode(spark, tiny_dir, tmp_path):
    from jobs.extract_job import main as job_main

    out = str(tmp_path / "warc_out")
    stats = job_main(
        ["--input", f"{tiny_dir}/warc", "--format", "warc", "--output", out, "--buckets", "4", "--group-size", "4"]
    )
    assert stats["docs"] == 100
    from ocr_spark.sources.icelite import IceliteTable

    t = IceliteTable(out, key_col="url", n_buckets=4)
    assert t.row_count() == 100


@settings(max_examples=100, deadline=None)
@given(st.binary(max_size=4000))
def test_warc_parser_total(payload):
    """Property: the WARC record splitter never raises on arbitrary bytes."""
    rows, bad = parse_warc_bytes(payload, "fuzz")
    assert isinstance(rows, list) and bad >= 0


def test_warc_corrupt_gzip_not_fatal():
    rows, bad = parse_warc_bytes(b"\x1f\x8b" + b"\x99" * 50, "f")
    assert rows == [] and bad == 1
