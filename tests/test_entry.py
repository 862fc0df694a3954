"""Driver-contract smoke: entry() + queries()/oracle_sql() shape.

The full Spark-vs-DuckDB comparison lives in tools/check_oracles.py (run at
sf0.01, mirrors the driver); here we pin the contract shape and a cheap
subset end-to-end at sf0.001.
"""

from __future__ import annotations

import duckdb
import pytest

import __spark_entry__ as E

SF = "/root/testdata/sf0.001"


def test_entry_runs(spark):
    df = E.entry(spark)
    rows = df.count()
    assert rows > 0
    assert [f.name for f in df.schema.fields] == [
        "url", "warc_ts", "lang", "text", "spans", "n_blocks", "error", "engine",
    ]


def test_every_query_has_an_oracle_and_there_are_64():
    """A rewrite of the query or oracle tables must not silently drop a
    query or its oracle."""
    q = E.queries()
    o = E.oracle_sql()
    assert set(o) == set(q)
    assert len(q) == 64


@pytest.mark.parametrize(
    "name, module, drain",
    [
        ("stream_extract_state", "ocr_spark.streaming.extract_stream", "run_stream_once"),
        ("host_stats_state", "ocr_spark.streaming.host_stats", "run_host_stats_once"),
    ],
    ids=["stream_extract_state", "host_stats_state"],
)
def test_streaming_query_removes_work_dir_when_drain_raises(
    spark, tmp_path, monkeypatch, name, module, drain
):
    """The streaming queries shard the pages fixture into a temp work dir;
    a drain that raises must not leave that copy (plus sink and checkpoint)
    behind."""
    import importlib
    import tempfile

    def boom(*_a, **_k):
        raise RuntimeError("drain failed")

    monkeypatch.setattr(importlib.import_module(module), drain, boom)
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    with pytest.raises(RuntimeError, match="drain failed"):
        E.queries()[name](spark, SF)
    assert list(tmp_path.iterdir()) == []


def test_oracles_are_valid_duckdb_sql():
    con = duckdb.connect()
    for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    for name, sql in E.oracle_sql().items():
        con.execute(sql).fetchmany(1)  # parses + executes


@pytest.mark.parametrize("name", ["dedup_exact", "token_stats", "sessionize", "embedding_dups"])
def test_query_subset_nonempty(spark, name):
    df = E.queries()[name](spark, SF)
    assert df.count() > 0
