"""WARC source: Common-Crawl container files -> the pages schema.

The canonical input for web-scale extraction is WARC (ISO 28500): records
concatenated in (optionally gzip-member-per-record) files.  This reader is
Spark-first:

- file discovery and byte loading via the built-in ``binaryFile`` source
  (one row per WARC file — WARC files are the natural work unit since
  records inside one file are not individually seekable without an index);
- record splitting + header parsing in the shared byte kernel loop
  (``operators.payloads.map_payloads``: one ``mapInArrow`` over
  ``(path, content)``, one file's records exploded per input row);
- at 100 TB the parallelism unit is the file (Common Crawl ships ~1 GB
  WARCs, ~60k files per crawl) — far more files than executors, so
  file-granular tasks balance well; `spark.sql.files.maxPartitionBytes`
  does not split binaryFile rows, and does not need to.

Only ``response`` records with an http Content-Type of text/html are
emitted; the http header block is stripped; WARC-Target-URI and WARC-Date
map to (url, warc_ts).  Malformed records are skipped, counted into an
``n_bad_records`` column on a per-file lineage row (never an exception —
reference E6 semantics).
"""

from __future__ import annotations

import gzip
import io
from datetime import datetime, timezone
from operator import itemgetter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ocr_spark.operators.payloads import map_payloads
from ocr_spark.schemas import PAGES_SCHEMA

# the pages schema plus the WARC file each page came from
WARC_PAGES_SCHEMA = T.StructType(
    PAGES_SCHEMA.fields + [T.StructField("warc_file", T.StringType(), False)]
)

WARC_LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("warc_file", T.StringType(), False),
        T.StructField("n_pages", T.LongType(), False),
        T.StructField("n_bad_records", T.LongType(), False),
    ]
)

_GLOBS = {"warc": "*.warc*", "wet": "*.wet*"}
_page_row = itemgetter(*WARC_PAGES_SCHEMA.fieldNames())
_CRLF2 = b"\r\n\r\n"


def _parse_headers(block: bytes) -> dict[bytes, bytes]:
    out: dict[bytes, bytes] = {}
    for line in block.split(b"\r\n"):
        if b":" in line:
            k, v = line.split(b":", 1)
            out[k.strip().lower()] = v.strip()
    return out


def parse_warc_bytes(
    payload: bytes, path: str, mode: str = "warc", max_inflate: int = 4 << 30
) -> tuple[list[dict], int]:
    """One WARC file's bytes -> (page rows, n_bad_records).  Pure python —
    unit-testable without Spark; run per file by ``map_payloads`` below.

    ``mode="warc"``: keep ``response`` records with a text/html payload —
    the html lands in the ``html`` column (raw-bytes branch).
    ``mode="wet"``: keep ``conversion`` records (Common Crawl's WET
    sidecar: pre-extracted plain text, no HTTP envelope) — the utf-8 text
    lands in the ``text`` column (the wet-normalize branch's input)."""
    if payload[:2] == b"\x1f\x8b":  # gzip (possibly multi-member)
        import zlib

        try:
            # BOUNDED inflation: Common Crawl WARCs are ~1 GB compressed /
            # ~5 GB raw, so 4 GiB per file covers the legitimate shape
            # while a gzip bomb (KBs inflating without bound) costs one
            # bad-container count instead of executor memory
            payload = gzip.GzipFile(fileobj=io.BytesIO(payload)).read(
                max_inflate + 1
            )
            if len(payload) > max_inflate:
                return [], 1
        except (OSError, EOFError, zlib.error):
            # corrupt container counts as one bad record — zlib.error is
            # NOT an OSError: a valid magic with a corrupt deflate stream
            # raised straight through the old clause
            return [], 1
    rows: list[dict] = []
    bad = 0
    pos = 0
    n = len(payload)
    while pos < n:
        if payload[pos : pos + 10].rstrip() == b"" and pos + 10 >= n:
            break
        head_end = payload.find(_CRLF2, pos)
        if head_end < 0:
            break
        header = _parse_headers(payload[pos:head_end])
        if not payload[pos : pos + 5] == b"WARC/":
            bad += 1
            nxt = payload.find(b"WARC/", head_end)
            if nxt < 0:
                break
            pos = nxt
            continue
        try:
            length = int(header[b"content-length"])
        except (KeyError, ValueError):
            length = -1
        if length < 0:
            # missing, unparseable or negative (a negative length could
            # point the cursor back at this very record: an endless loop)
            bad += 1
            nxt = payload.find(b"WARC/", head_end + 4)
            if nxt < 0:
                break
            pos = nxt
            continue
        body = payload[head_end + 4 : head_end + 4 + length]
        pos = head_end + 4 + length
        while payload[pos : pos + 2] == b"\r\n":
            pos += 2
        wanted_type = b"response" if mode == "warc" else b"conversion"
        if header.get(b"warc-type") != wanted_type:
            continue
        uri = header.get(b"warc-target-uri")
        if not uri:
            bad += 1
            continue
        ts = None
        if b"warc-date" in header:
            try:
                ts = datetime.strptime(
                    header[b"warc-date"].decode("ascii"), "%Y-%m-%dT%H:%M:%SZ"
                ).replace(tzinfo=timezone.utc)
            except ValueError:
                ts = None
        if mode == "wet":
            rows.append(
                {
                    "url": uri.decode("utf-8", errors="replace"),
                    "warc_ts": ts,
                    "html": None,
                    "text": body.decode("utf-8", errors="replace"),
                    "lang": None,
                    "warc_file": path,
                }
            )
            continue
        # body = http headers + CRLF CRLF + html
        http_end = body.find(_CRLF2)
        if http_end < 0:
            bad += 1
            continue
        http_headers = _parse_headers(body[:http_end])
        # header VALUES are case-insensitive too (names are lowercased in
        # _parse_headers): real servers emit 'Text/HTML; charset=...'
        ctype = http_headers.get(b"content-type", b"").lower()
        if b"text/html" not in ctype:
            continue
        rows.append(
            {
                "url": uri.decode("utf-8", errors="replace"),
                "warc_ts": ts,
                "html": body[http_end + 4 :],
                "text": None,
                "lang": None,
                "warc_file": path,
            }
        )
    return rows, bad


def _map_files(spark: SparkSession, path: str, mode: str, emit, schema) -> DataFrame:
    """``emit(out, path, content)`` over each ``mode`` container file."""
    reader = spark.read.format("binaryFile").option("pathGlobFilter", _GLOBS[mode])
    return map_payloads(reader.load(path), "path", "content", emit, schema)


def _read_container(spark: SparkSession, path: str, mode: str) -> DataFrame:
    def emit(out, p, content):
        out.extend(map(_page_row, parse_warc_bytes(content, p, mode)[0]))

    return _map_files(spark, path, mode, emit, WARC_PAGES_SCHEMA)


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """WARC files under ``path`` -> pages DataFrame (WARC_PAGES_SCHEMA)."""
    return _read_container(spark, path, "warc")


def read_wet(spark: SparkSession, path: str) -> DataFrame:
    """WET files under ``path`` -> pages DataFrame with the pre-extracted
    plain text in ``text`` (html is null) — Common Crawl's conversion
    sidecar, the input of the wet-normalize branch."""
    return _read_container(spark, path, "wet")


def warc_lineage(spark: SparkSession, path: str, mode: str = "warc") -> DataFrame:
    """Per-file record counts + bad-record counter (lineage side-channel).
    ``mode='wet'`` covers the conversion sidecars too — without it a
    corrupt .wet.gz is indistinguishable from an empty one (read_wet
    yields zero rows either way; this channel is where the difference
    shows)."""
    if mode not in _GLOBS:
        raise ValueError(f"mode must be 'warc' or 'wet', got {mode!r}")

    def emit(out, p, content):
        ok, bad = parse_warc_bytes(content, p, mode)
        out.append((p, len(ok), bad))

    return _map_files(spark, path, mode, emit, WARC_LINEAGE_SCHEMA)
