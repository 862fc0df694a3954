"""WARC source: container parsing, skip semantics, end-to-end byte-identity."""

from __future__ import annotations

import hashlib
import os
import time

from pyspark.sql import functions as F

from ocr_spark.fixtures import generator as gen
from ocr_spark.operators.extract import extract_pages
from ocr_spark.sources.warc import parse_warc_bytes, read_warc, warc_lineage


def _record(wtype: bytes, uri: bytes, body: bytes) -> bytes:
    head = (
        b"WARC/1.0\r\nWARC-Type: " + wtype + b"\r\nWARC-Target-URI: " + uri
        + b"\r\nWARC-Date: 2025-01-01T00:00:00Z\r\nContent-Length: "
        + str(len(body)).encode() + b"\r\n\r\n"
    )
    return head + body + b"\r\n\r\n"


def _http(html: bytes, ctype: bytes = b"text/html") -> bytes:
    return b"HTTP/1.1 200 OK\r\nContent-Type: " + ctype + b"\r\n\r\n" + html


def test_parse_warc_basic():
    payload = (
        _record(b"response", b"http://a/1", _http(b"<p>hello</p>"))
        + _record(b"request", b"http://a/1", b"GET / HTTP/1.1\r\n\r\n")
        + _record(b"response", b"http://a/2", _http(b"data", b"image/png"))
        + _record(b"response", b"http://a/3", _http(b"<p>world</p>"))
    )
    rows, bad = parse_warc_bytes(payload, "f")
    assert [(r["url"], r["html"]) for r in rows] == [
        ("http://a/1", b"<p>hello</p>"),
        ("http://a/3", b"<p>world</p>"),
    ]
    assert bad == 0
    assert rows[0]["warc_ts"].year == 2025
    # HTTP header VALUES are case-insensitive: real servers emit Text/HTML
    mixed = _record(
        b"response", b"http://a/4", _http(b"<p>up</p>", b"Text/HTML; charset=utf-8")
    )
    rows, bad = parse_warc_bytes(mixed, "f")
    assert [(r["url"], r["html"]) for r in rows] == [("http://a/4", b"<p>up</p>")]


def test_parse_warc_malformed_counted_not_fatal(deadline):
    good = _record(b"response", b"http://a/1", _http(b"<p>x</p>"))
    garbage = b"NOT A RECORD AT ALL\r\n\r\nmore junk\r\n\r\n"
    missing_len = b"WARC/1.0\r\nWARC-Type: response\r\n\r\nbody\r\n\r\n"
    # a Content-Length of minus its own header's length points the cursor
    # back at the same record: one bad record, not an endless loop
    neg = b"WARC/1.0\r\nWARC-Type: response\r\nContent-Length: -%d\r\n\r\n"
    n = 1
    while len(neg % n) != n:
        n = len(neg % n)
    with deadline(0.5):
        rows, bad = parse_warc_bytes(garbage + good + missing_len + neg % n, "f")
    assert [r["url"] for r in rows] == ["http://a/1"]
    assert bad >= 3


def test_parse_warc_truncated_tail():
    good = _record(b"response", b"http://a/1", _http(b"<p>x</p>"))
    rows, bad = parse_warc_bytes(good + b"\r\nWARC/1.0\r\nWARC-Ty", "f")
    assert len(rows) == 1  # truncated trailing record dropped, no raise


def test_warc_to_extraction_byte_identical(spark, tiny_dir):
    """Full path: WARC container -> pages -> extraction == goldens."""
    pages = read_warc(spark, f"{tiny_dir}/warc")
    assert pages.count() == 100  # every generated doc round-trips
    ext = extract_pages(pages.drop("warc_file"))
    golden = spark.read.parquet(f"{tiny_dir}/golden_pages.parquet").select(
        "url", F.col("text").alias("gtext")
    )
    j = ext.join(golden, "url")
    assert j.count() == 100
    assert j.filter(F.col("text") != F.col("gtext")).count() == 0


def test_warc_lineage(spark, tiny_dir):
    lin = warc_lineage(spark, f"{tiny_dir}/warc").collect()
    assert len(lin) == 4  # one row per container file
    assert sum(r["n_pages"] for r in lin) == 100


def test_wet_lineage(spark, tiny_dir, tmp_path):
    """mode='wet' gives the conversion sidecars the same bad-record
    channel: a corrupt .wet.gz shows n_bad_records > 0 instead of being
    indistinguishable from an empty file."""
    import os
    import shutil

    lin = warc_lineage(spark, f"{tiny_dir}/wet", mode="wet").collect()
    assert len(lin) > 0 and sum(r["n_pages"] for r in lin) > 0
    assert all(r["n_bad_records"] == 0 for r in lin)
    wdir = tmp_path / "wet"
    wdir.mkdir()
    src = sorted(f"{tiny_dir}/wet/{f}" for f in os.listdir(f"{tiny_dir}/wet"))[0]
    shutil.copy(src, wdir / "ok.wet.gz")
    (wdir / "corrupt.wet.gz").write_bytes(b"\x1f\x8b\x08" + b"\x00" * 20)
    lin2 = {r["warc_file"].rsplit("/", 1)[-1]: r for r in warc_lineage(spark, str(wdir), mode="wet").collect()}
    assert lin2["ok.wet.gz"]["n_bad_records"] == 0 and lin2["ok.wet.gz"]["n_pages"] > 0
    assert lin2["corrupt.wet.gz"]["n_pages"] == 0
    assert lin2["corrupt.wet.gz"]["n_bad_records"] == 1

def test_wet_roundtrip_byte_identical(spark, tiny_dir):
    """The WET sidecar (conversion records) reads back to exactly the
    pages' pre-extracted text; metadata records are skipped; unextractable
    (NULL-text) pages have no record."""
    from pyspark.sql import functions as F

    from ocr_spark.sources.warc import read_wet

    wet = read_wet(spark, f"{tiny_dir}/wet")
    pages = spark.read.parquet(f"{tiny_dir}/pages.parquet")
    want = pages.filter(F.col("text").isNotNull()).select(
        "url", F.col("text").alias("ptext")
    )
    j = wet.join(want, "url", "full")
    assert j.filter(F.col("text").isNull() | F.col("ptext").isNull()).count() == 0
    assert j.filter(F.col("text") != F.col("ptext")).count() == 0
    # html stays null on the WET branch (it feeds wet_normalize directly)
    assert wet.filter(F.col("html").isNotNull()).count() == 0


def test_parse_wet_mode_unit():
    """Pure-python WET parse: conversion kept, response/metadata skipped."""
    from ocr_spark.fixtures.generator import _warc_record
    from ocr_spark.sources.warc import parse_warc_bytes

    buf = (
        _warc_record(b"warcinfo", None, None, b"software: t\r\n")
        + _warc_record(b"metadata", b"http://a/", b"2025-01-01T00:00:00Z", b"x")
        + _warc_record(b"conversion", b"http://a/", b"2025-01-01T00:00:00Z", "héllo\nwörld".encode())
        + _warc_record(b"response", b"http://b/", b"2025-01-01T00:00:00Z", b"HTTP/1.1 200 OK\r\n\r\n<p>h</p>")
    )
    rows, bad = parse_warc_bytes(bytes(buf), "f.wet", mode="wet")
    assert bad == 0
    assert [(r["url"], r["text"]) for r in rows] == [("http://a/", "héllo\nwörld")]
    assert rows[0]["html"] is None


def test_gzip_bomb_is_one_bad_container():
    """A gzip bomb must cost one bad-container count, never unbounded
    memory (bounded inflation; param'd down for the test)."""
    import gzip as _gzip

    from ocr_spark.sources.warc import parse_warc_bytes

    bomb = _gzip.compress(b"\0" * (1 << 20))
    rows, bad = parse_warc_bytes(bomb, "bomb.warc.gz", max_inflate=1 << 16)
    assert (rows, bad) == ([], 1)
    # under the bound the same payload just parses (and finds no records)
    rows2, bad2 = parse_warc_bytes(bomb, "bomb.warc.gz", max_inflate=1 << 21)
    assert rows2 == []


def test_warc_byte_flip_fuzz_within_deadline(tiny_dir, deadline):
    """Seeded byte flips over the fixture WARC and WET files — both the
    gzip containers and their inflated record streams — always return
    (rows, n_bad) within a deadline: never raise, never hang."""
    import gzip
    import os
    import random

    rng = random.Random("warc-fuzz")
    for mode in ("warc", "wet"):
        d = f"{tiny_dir}/{mode}"
        for name in sorted(os.listdir(d)):
            with open(f"{d}/{name}", "rb") as f:
                raw = f.read()
            for payload in (raw, gzip.decompress(raw)):
                for _ in range(25):
                    b = bytearray(payload)
                    for _ in range(rng.randint(1, 8)):
                        b[rng.randrange(len(b))] = rng.randrange(256)
                    with deadline(0.5):
                        rows, bad = parse_warc_bytes(bytes(b), name, mode)
                    assert bad >= 0 and all(r["warc_file"] == name for r in rows)



def test_warc_and_wet_fixtures_do_not_depend_on_the_clock(tmp_path, monkeypatch):
    """Regenerating a tier at another wall-clock time writes the same
    ``.warc.gz`` and ``.wet.gz`` bytes: the gzip header's mtime is pinned."""
    digests = []
    for i, now in enumerate((1_000_000_000.0, 1_700_000_000.0)):
        monkeypatch.setattr(time, "time", lambda now=now: now)
        out = tmp_path / f"run{i}"
        gen.generate_tier("tiny", str(out))
        digests.append({
            f"{sub}/{name}": hashlib.sha256((out / sub / name).read_bytes()).hexdigest()
            for sub in ("warc", "wet")
            for name in sorted(os.listdir(out / sub))
        })
    assert digests[0] and digests[0] == digests[1]
