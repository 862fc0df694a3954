"""Record update/coercion (P2-P4), QA report (A1-A2), streaming window agg."""

from __future__ import annotations

from pyspark.sql import functions as F

from ocr_spark.operators.attendance import attendance_records
from ocr_spark.operators.extract import extract_pages
from ocr_spark.operators.record_ops import coerce_like, display_value, update_field
from ocr_spark.operators.report import attendance_qa, extraction_report


def test_update_field_unicode_name(spark, tiny_dir):
    docs = spark.read.parquet(f"{tiny_dir}/attendance_docs.parquet")
    recs = attendance_records(docs)
    upd = update_field(recs, "nombre_des_présents", F.lit(7).cast("bigint"))
    vals = upd.select(F.col("fields.nombre_des_présents").alias("v")).distinct().collect()
    assert [r["v"] for r in vals] == [7]
    # other fields untouched
    same = upd.select(F.col("fields.classe").alias("c")).exceptAll(
        recs.select(F.col("fields.classe").alias("c"))
    )
    assert same.count() == 0


def test_coerce_like(spark):
    df = spark.range(1).select(
        coerce_like(F.lit("42.7"), "double").alias("d"),
        coerce_like(F.lit("42.7"), "bigint").alias("i"),
        coerce_like(F.lit("true"), "boolean").alias("bt"),
        coerce_like(F.lit("nope"), "boolean").alias("bf"),
        coerce_like(F.lit("x"), "double").alias("bad"),
    )
    r = df.first()
    assert r["d"] == 42.7 and r["i"] == 42 and r["bt"] is True and r["bf"] is False
    assert r["bad"] is None  # parseFloat("x") -> NaN analogue


def test_display_value_pretty_json(spark, tiny_dir):
    docs = spark.read.parquet(f"{tiny_dir}/attendance_docs.parquet")
    recs = attendance_records(docs).limit(1)
    s = recs.select(display_value(F.col("fields")).alias("d")).first()["d"]
    assert s.startswith("{\n")  # pretty-printed (data-editor.tsx:44-51)


def test_extraction_report(spark, tiny_dir):
    pages = spark.read.parquet(f"{tiny_dir}/pages.parquet")
    rep = extraction_report(extract_pages(pages))
    rows = {r["lang"]: r for r in rep.collect()}
    assert sum(r["n_docs"] for r in rows.values()) == 100
    for r in rows.values():
        assert 0.0 <= r["error_rate"] <= 1.0
        assert r["total_chars"] >= r["max_chars"]


def test_extraction_summary_deterministic_string(spark):
    """A1 free text: the sentence is a total function of integer metrics —
    exact string, floor percent math, zero-padded basis points."""
    from ocr_spark.operators.report import extraction_summary

    rows = [
        ("u1", "en", None, 40, "abcdefghij"),   # clean, 10 chars
        ("u2", "en", "BOOM", 0, ""),            # error
        ("u3", "en", None, 2, "abc"),           # clean, 3 chars
    ]
    df = spark.createDataFrame(
        rows, "url string, lang string, error string, n_blocks int, text string"
    )
    got = extraction_summary(df).collect()
    assert len(got) == 1 and got[0]["n_docs"] == 3
    # 1 error / 3 docs = 3333 bp -> "33.33%"; mean = 13 // 2 = 6
    assert got[0]["summary"] == (
        "lang=en: extracted 3 docs (1 errors, 33.33%), 42 text blocks, "
        "mean 6 chars per clean doc, max 10"
    )


def test_summarize_per_record(spark, tiny_dir):
    """A1 per record (the reference's summarizePdfData): one metric string
    per record from its fields; a null field reads "?" instead of nulling
    the whole summary."""
    from ocr_spark.operators.report import summarize

    docs = spark.read.parquet(f"{tiny_dir}/attendance_docs.parquet")
    recs = attendance_records(docs).cache()
    got = {r["url"]: r["summary"] for r in summarize(recs).collect()}
    want = {
        r["url"]: (
            f"classe={r['fields']['classe']} cours={r['fields']['cours']} "
            f"présents={r['fields']['nombre_des_présents']} "
            f"étudiants={len(r['fields']['présences'])}"
        )
        for r in recs.collect()
    }
    assert len(got) == 50 and got == want
    nulled = recs.limit(1).withColumn(
        "fields", F.lit(None).cast(recs.schema["fields"].dataType)
    )
    assert summarize(nulled).first()["summary"] == (
        "classe=? cours=? présents=? étudiants=?"
    )
    recs.unpersist()


def test_attendance_qa_never_recomputes(spark, tiny_dir):
    """A2: declared count is kept verbatim even when it disagrees."""
    docs = spark.read.parquet(f"{tiny_dir}/attendance_docs.parquet")
    qa = attendance_qa(attendance_records(docs))
    golden = spark.read.parquet(f"{tiny_dir}/golden_attendance.parquet").select(
        "url", F.col("nombre_des_présents").alias("gdecl")
    )
    j = qa.join(golden, "url")
    assert j.filter(F.col("declared") != F.col("gdecl")).count() == 0
    # the generator plants disagreements -> some mismatches must surface
    assert qa.filter("count_mismatch").count() > 0


def test_streaming_windowed_agg(spark):
    """Watermark + windowed aggregation over the events stream (the
    standard late-data pattern, exercised with availableNow + memory sink)."""
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    events = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet("/root/testdata/sf0.001")
    )
    agg = (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("v"))
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("ev_window")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("SELECT count(*) AS c FROM ev_window").first()["c"]
    assert got > 0

def test_stateful_host_stats_stream(spark, tiny_dir, tmp_path):
    """applyInPandasWithState: per-host running totals accumulate across
    micro-batches and survive within the checkpointed query."""
    import shutil

    from ocr_spark.operators.extract import extract_pages
    from ocr_spark.schemas import PAGES_SCHEMA
    from ocr_spark.streaming.host_stats import host_stats_stream

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    shutil.copy(f"{tiny_dir}/pages.parquet", in_dir / "p.parquet")
    stream = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir))
    )
    stats = host_stats_stream(extract_pages(stream))
    q = (
        stats.writeStream.outputMode("update")
        .format("memory")
        .queryName("host_stats")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql(
        "SELECT sum(n_docs) AS d, sum(n_errors) AS e FROM host_stats"
    ).first()
    assert got["d"] == 100  # every doc counted exactly once across hosts
    # batch ground truth
    pages = spark.read.parquet(f"{tiny_dir}/pages.parquet")
    want_err = extract_pages(pages).filter(F.col("error").isNotNull()).count()
    assert got["e"] == want_err


def test_host_stats_update_log_fixpoint(spark, tiny_dir, tmp_path):
    """run_host_stats_once drains in SEVERAL micro-batch epochs (the
    incremental path: at least one host's totals grow across epochs) and
    final_host_stats folds the update log to the batch-groupBy fixpoint."""
    from ocr_spark.operators.extract import extract_pages
    from ocr_spark.streaming.host_stats import (
        HOST_RE,
        final_host_stats,
        run_host_stats_once,
    )

    inp, upd, ckpt = (str(tmp_path / d) for d in ("in", "updates", "ckpt"))
    pages = spark.read.parquet(f"{tiny_dir}/pages.parquet")
    pages.repartition(12).write.parquet(inp)
    run_host_stats_once(spark, inp, upd, ckpt)
    # a SECOND run against the same append-mode log with a fresh checkpoint
    # (epochs restart at 0): final_host_stats must fold only the latest
    # run's rows, not tie-break across runs nondeterministically
    run_host_stats_once(spark, inp, upd, str(tmp_path / "ckpt2"))

    log = spark.read.parquet(upd)
    assert log.select("_epoch").distinct().count() > 1  # genuinely incremental
    grew = (
        log.groupBy("host")
        .agg(F.count(F.lit(1)).alias("n_updates"))
        .filter(F.col("n_updates") > 1)
        .count()
    )
    assert grew > 0  # running totals accumulated across epochs

    got = {
        r["host"]: (r["n_docs"], r["n_errors"], r["total_chars"])
        for r in final_host_stats(spark, upd).collect()
    }
    want = {
        r["host"]: (r["n_docs"], r["n_errors"], r["total_chars"])
        for r in extract_pages(pages)
        .withColumn("host", F.regexp_extract("url", HOST_RE, 1))
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias(
                "n_errors"
            ),
            F.coalesce(F.sum(F.length("text")), F.lit(0)).alias("total_chars"),
        )
        .collect()
    }
    assert got == want


def test_host_re_handles_pathless_urls(spark):
    """Real crawl URLs often carry no path: the host parse must not
    require a trailing slash (the old ^https?://([^/]+)/ collapsed every
    pathless host to '') and must split the port like host_report does."""
    from ocr_spark.streaming.host_stats import HOST_RE

    df = spark.createDataFrame(
        [
            ("http://example.com",),
            ("https://example.com?q=1",),
            ("https://h.io:8080/path",),
            ("http://x.org/",),
        ],
        "url string",
    )
    got = [r[0] for r in df.select(F.regexp_extract("url", HOST_RE, 1)).collect()]
    assert got == ["example.com", "example.com", "h.io", "x.org"]


def test_streaming_dedup_first_arrival_wins(spark, tmp_path):
    """dropDuplicatesWithinWatermark-backed streaming exact dedup: a
    re-crawl of already-seen text inside the horizon is dropped EVEN
    ACROSS RESTARTS (state lives in the checkpoint); fresh text passes.
    The batch key (md5) matches exact_dedup's, so stream + batch agree on
    identity."""
    import datetime as dt

    from ocr_spark.streaming.dedup_stream import dedup_stream

    t0 = dt.datetime(2025, 1, 1, 12, 0, 0)
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    schema = "url string, warc_ts timestamp, text string"

    def write_batch(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(in_dir / name))

    def drain():
        got = []
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(in_dir / "*"))
        )
        q = (
            dedup_stream(stream, ts_col="warc_ts", text_col="text", horizon="1 hour")
            .writeStream.foreachBatch(
                lambda df, _e: got.extend(
                    (r["url"], r["text"]) for r in df.collect()
                )
            )
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return got

    write_batch("b1", [("u1", t0, "alpha text"), ("u2", t0, "beta text")])
    first = drain()
    assert sorted(first) == [("u1", "alpha text"), ("u2", "beta text")]

    # restart with new files: a re-crawl of alpha (same text, new url,
    # +5 min) must be dropped by checkpointed state; gamma passes
    write_batch(
        "b2",
        [
            ("u3", t0 + dt.timedelta(minutes=5), "alpha text"),
            ("u4", t0 + dt.timedelta(minutes=5), "gamma text"),
        ],
    )
    second = drain()
    assert sorted(second) == [("u4", "gamma text")]


def test_streaming_watermark_drops_late_events(spark, tmp_path):
    """Watermark semantics end-to-end: an event older than
    (max event time - delay) arriving in a LATER micro-batch is dropped
    from its (already watermarked-past) window; on-time events count."""
    import pandas as pd

    in_dir = tmp_path / "wm_in"
    in_dir.mkdir()
    schema = "ts timestamp, k string, v long"
    # four single-file micro-batches: on-time events, then two batches that
    # push the watermark past the first window's end, then a very late
    # straggler.  (The late-row filter applies the watermark with one batch
    # of lag relative to eviction — hence TWO advancing batches before the
    # straggler; verified empirically on Spark 4.1.)
    batches = [
        pd.DataFrame(
            {
                "ts": pd.to_datetime(["2025-01-01 10:10:00", "2025-01-01 10:40:00"]),
                "k": ["a", "a"],
                "v": [1, 1],
            }
        ),
        pd.DataFrame(
            {"ts": pd.to_datetime(["2025-01-01 12:00:00"]), "k": ["a"], "v": [1]}
        ),
        pd.DataFrame(
            {"ts": pd.to_datetime(["2025-01-01 13:00:00"]), "k": ["a"], "v": [1]}
        ),
        # 2.5 h late, watermark now 12:50 >> window end 11:00 -> dropped
        pd.DataFrame(
            {"ts": pd.to_datetime(["2025-01-01 10:20:00"]), "k": ["a"], "v": [100]}
        ),
    ]
    import pyarrow as pa
    import pyarrow.parquet as pq

    arrow_schema = pa.schema(
        [("ts", pa.timestamp("us")), ("k", pa.string()), ("v", pa.int64())]
    )
    import os as _os
    import time as _time

    base = _time.time()
    for i, b in enumerate(batches):
        path = in_dir / f"b{i}.parquet"
        pq.write_table(
            pa.Table.from_pandas(b, schema=arrow_schema, preserve_index=False), path
        )
        # FileStreamSource orders files by modification time: make the
        # arrival order unambiguous
        _os.utime(path, (base + 10 * i, base + 10 * i))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir))
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "k")
        .agg(F.sum("v").alias("total"))
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("wm_drop")
        .option("checkpointLocation", str(tmp_path / "wm_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = {
        (r["window"]["start"].hour, r["k"]): r["total"]
        for r in spark.sql("SELECT * FROM wm_drop").collect()
    }
    # the 10:00 window closed with ONLY the on-time events (2+1=... b1 has
    # 10:10, 10:40 in [10:00,11:00) and 11:00 in [11:00,12:00)); the late
    # v=100 event never appears
    assert rows.get((10, "a")) == 2, rows
    assert all(v < 100 for v in rows.values()), rows
