"""Training-data pipeline operators: dedup, similarity, textstats,
multimodal plumbing, streaming ingest."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from ocr_spark.operators.dedup import (
    embedding_dup_pairs,
    exact_dedup,
    exact_dedup_keep,
    minhash_dup_pairs,
    ngram_jaccard_pairs,
    simhash_dup_pairs,
)
from ocr_spark.operators.multimodal import decode_images, frame_sample_plan
from ocr_spark.operators.similarity import cosine_topk, ivf_topk
from ocr_spark.operators.textstats_ops import (
    with_lang_id,
    with_quality,
    with_simhash,
    with_token_stats,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def documents(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------
def test_exact_dedup(spark, documents):
    survivors = exact_dedup(documents)
    n_texts = documents.select("text").distinct().count()
    assert survivors.count() == n_texts
    kept = exact_dedup_keep(documents)
    assert kept.count() == n_texts
    assert kept.select("text").distinct().count() == n_texts


def test_exact_dedup_survivor_is_min_id(spark):
    df = spark.createDataFrame(
        [(5, "same"), (2, "same"), (9, "other")], "doc_id long, text string"
    )
    got = {r["text_md5"]: r["doc_id"] for r in exact_dedup(df).collect()}
    assert sorted(got.values()) == [2, 9]


def test_minhash_finds_near_dups(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away into the woods tonight"
    near = base.replace("tonight", "today")
    other = "completely different content about spark execution plans and shuffle partitioning strategy"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, other)], "doc_id long, text string"
    )
    pairs = {(r["id_a"], r["id_b"]) for r in minhash_dup_pairs(df, threshold=0.5).collect()}
    assert (1, 2) in pairs
    assert all(3 not in p for p in pairs)


def test_simhash_pairs(spark):
    base = " ".join(f"word{i}" for i in range(60))
    near = base.replace("word59", "word99")
    other = " ".join(f"zz{i}" for i in range(60))
    df = spark.createDataFrame([(1, base), (2, near), (3, other)], "doc_id long, text string")
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in simhash_dup_pairs(df).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] <= 3
    assert (1, 3) not in pairs


def test_simhash_rejects_layout_wider_than_tag_envelope(spark):
    """Explicit wide layouts whose key bits reach the bit-56 table tag
    would silently alias keys across tables — must raise, not degrade."""
    import pytest

    df = spark.createDataFrame([(1, "a"), (2, "b")], "doc_id long, text string")
    with pytest.raises(ValueError, match="table-tag envelope"):
        simhash_dup_pairs(df, n_blocks=8, max_hamming=1).collect()


def test_simhash_plan_verifies_before_dedup(spark):
    """The Hamming verify (cheap JVM bit_count) must sit BELOW the
    dropDuplicates exchange so only true-positive pairs shuffle — a pair
    colliding in many tables would otherwise shuffle once per collision."""
    df = spark.createDataFrame(
        [(i, f"text {i}") for i in range(10)], "doc_id long, text string"
    )
    plan = (
        simhash_dup_pairs(df, n_blocks=4)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    # optimized plan reads top-down: the Aggregate (dedup) must appear
    # ABOVE the hamming Filter, i.e. the filter string occurs after it
    agg_pos = plan.find("Aggregate")
    ham_pos = plan.find("bit_count")
    assert agg_pos != -1 and ham_pos != -1
    assert agg_pos < ham_pos, "hamming filter must be below the dedup aggregate"


def test_simhash_udf_evaluated_once_per_join_side(spark):
    """The hamming filter lets Catalyst infer isnotnull(simhash); for a
    nullable UDF column that constraint is pushed below the Generate as a
    SECOND ArrowEvalPython per join side (measured 1.5x whole-query).  The
    coalesce(udf, 0) in simhash_dup_pairs constant-folds it away — exactly
    one Arrow evaluation per self-join side, ever."""
    df = spark.createDataFrame(
        [(i, f"text {i}") for i in range(10)], "doc_id long, text string"
    )
    plan = (
        simhash_dup_pairs(df, n_blocks=4)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("ArrowEvalPython") == 2, plan


def test_ngram_jaccard(spark):
    a = "one two three four five six"
    b = "one two three four five seven"
    c = "totally unrelated words here now yes"
    df = spark.createDataFrame([(1, a), (2, b), (3, c)], "doc_id long, text string")
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in ngram_jaccard_pairs(df, threshold=0.1).collect()}
    # 3-grams: a has 4, b has 4, intersection 3 -> jaccard 3/5
    assert got[(1, 2)] == 0.6
    assert all(3 not in k for k in got)


def test_ngram_grams_table_path_and_reuse(spark, tmp_path, monkeypatch):
    """grams_table= persists the exploded gram relation to icelite; the
    table path yields identical pairs, a rerun reuses the committed table
    WITHOUT recomputing grams, and a drifted doc set / parameter mismatch
    raises instead of silently mis-scoring."""
    import ocr_spark.operators.corpus_ops as CO
    from ocr_spark.operators.dedup import materialize_ngram_grams
    from ocr_spark.sources.icelite import IceliteTable

    a = "one two three four five six"
    b = "one two three four five seven"
    c = "totally unrelated words here now yes"
    df = spark.createDataFrame([(1, a), (2, b), (3, c)], "doc_id long, text string")
    tbl = IceliteTable(str(tmp_path / "grams"), key_col="doc_id", n_buckets=4)
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(df, threshold=0.1, grams_table=tbl).collect()
    }
    assert got[(1, 2)] == 0.6 and all(3 not in k for k in got)

    # reuse: grams must come from the table, never recomputed
    def boom(*args, **kwargs):
        raise AssertionError("gram relation recomputed on the reuse path")

    monkeypatch.setattr(CO, "exploded_word_ngrams", boom)
    reused = materialize_ngram_grams(df, tbl, n=3)
    assert reused.count() == tbl.row_count()
    got2 = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(df, threshold=0.1, grams_table=tbl).collect()
    }
    assert got2 == got
    monkeypatch.undo()

    with pytest.raises(ValueError, match="built with"):
        materialize_ngram_grams(df, tbl, n=5)
    drifted = df.union(
        spark.createDataFrame([(4, "brand new document text here")], "doc_id long, text string")
    )
    with pytest.raises(ValueError, match="drifted"):
        materialize_ngram_grams(drifted, tbl, n=3)


def test_embedding_dup_pairs(spark):
    v = [1.0, 0.0, 0.5, 0.2]
    near = [1.0, 0.001, 0.5, 0.2]
    far = [-1.0, 0.5, -0.5, 0.8]
    df = spark.createDataFrame(
        [(1, v), (2, near), (3, far)], "vec_id long, embedding array<float>"
    )
    pairs = {(r["id_a"], r["id_b"]) for r in embedding_dup_pairs(df, threshold=0.99).collect()}
    assert (1, 2) in pairs and all(3 not in p for p in pairs)


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------
def test_cosine_topk_self_first(spark, embeddings):
    q = [float(x) for x in embeddings.filter(F.col("vec_id") == 0).first()["embedding"]]
    top = cosine_topk(embeddings, q, k=5).collect()
    assert top[0]["vec_id"] == 0 and top[0]["cosine"] == 1.0
    assert len(top) == 5
    assert all(top[i]["cosine"] >= top[i + 1]["cosine"] for i in range(4))


def test_ivf_topk_close_to_exact(spark, embeddings):
    q = [float(x) for x in embeddings.filter(F.col("vec_id") == 7).first()["embedding"]]
    exact = [r["vec_id"] for r in cosine_topk(embeddings, q, k=10).collect()]
    approx = [r["vec_id"] for r in ivf_topk(embeddings, q, k=10, n_lists=4, n_probe=3).collect()]
    # ANN recall: the query vector itself must be found; a majority of the
    # exact top-10 too (synthetic embeddings are unclustered, so IVF recall
    # is proportional to the probed fraction)
    assert 7 in approx
    assert len(set(exact) & set(approx)) >= 5


def test_ivf_materialized_index_probe_prunes_files(spark, embeddings, tmp_path):
    """materialize_ivf_index: build once into an icelite table keyed on
    the posting list; probing reads only the probed lists' bucket files
    (manifest pruning), matches the in-memory probe, a second materialize
    call reuses the committed table, and a table built another way (other
    n_lists, a drifted corpus, not an IVF build) is refused as stale."""
    from ocr_spark.operators.similarity import (
        build_ivf_index,
        ivf_topk_indexed,
        ivf_topk_table,
        materialize_ivf_index,
    )
    from ocr_spark.sources.icelite import IceliteTable, StaleTableError

    tbl = IceliteTable(str(tmp_path / "ivf"), key_col="_list", n_buckets=8)
    indexed, cents = materialize_ivf_index(embeddings, tbl, n_lists=8)
    assert tbl.row_count() == embeddings.count()
    head = tbl.head_id()
    # reuse: no new snapshot, same centroids
    _again, cents2 = materialize_ivf_index(embeddings, tbl, n_lists=8)
    assert tbl.head_id() == head and cents2 == cents

    q = [float(x) for x in embeddings.filter(F.col("vec_id") == 3).first()["embedding"]]
    got = [
        r["vec_id"]
        for r in ivf_topk_table(tbl, cents, q, k=5, n_probe=2, spark=spark).collect()
    ]
    # equals the in-memory probe over an identically-built index
    mem_indexed, _ = build_ivf_index(embeddings, n_lists=8)
    want = [
        r["vec_id"] for r in ivf_topk_indexed(mem_indexed, cents, q, k=5, n_probe=2).collect()
    ]
    assert got == want
    # file-level pruning: the probed read touches a strict subset of files
    probed_files = ivf_topk_table(tbl, cents, q, k=5, n_probe=2, spark=spark).inputFiles()
    all_files = tbl.read(spark).inputFiles()
    assert probed_files and len(set(probed_files)) < len(set(all_files))

    with pytest.raises(StaleTableError, match="built with"):
        materialize_ivf_index(embeddings, tbl, n_lists=4)
    with pytest.raises(StaleTableError, match="drifted"):
        materialize_ivf_index(embeddings.filter(F.col("vec_id") != 3), tbl, n_lists=8)
    other = IceliteTable(str(tmp_path / "other"), key_col="_list", n_buckets=8)
    other.append(mem_indexed, metadata={"op": "not_ivf"})
    with pytest.raises(StaleTableError, match="built with"):
        materialize_ivf_index(embeddings, other, n_lists=8)
    assert tbl.head_id() == head and other.head_id() == 0


@pytest.mark.parametrize("which", ["minhash", "ngram", "ivf"])
def test_materializers_return_empty_relation_on_empty_input(spark, embeddings, tmp_path, which):
    """A 0-row input lands no rows: each materializer commits its build
    snapshot and returns the empty built relation (IVF with no centroids)
    instead of reading back an empty table."""
    from ocr_spark.operators.dedup import (
        materialize_minhash_signatures,
        materialize_ngram_grams,
    )
    from ocr_spark.operators.similarity import materialize_ivf_index
    from ocr_spark.sources.icelite import IceliteTable

    docs = spark.createDataFrame([], "doc_id long, text string")
    if which == "ivf":
        tbl = IceliteTable(str(tmp_path / "t"), key_col="_list", n_buckets=8)
        rel, cents = materialize_ivf_index(embeddings.limit(0), tbl, n_lists=8)
        assert cents == []
    else:
        tbl = IceliteTable(str(tmp_path / "t"), key_col="doc_id", n_buckets=4)
        materialize = {
            "minhash": materialize_minhash_signatures,
            "ngram": materialize_ngram_grams,
        }[which]
        rel = materialize(docs, tbl)
    assert rel.count() == 0 and tbl.row_count() == 0 and tbl.head_id() == 0


# ---------------------------------------------------------------------------
# textstats
# ---------------------------------------------------------------------------
def test_token_stats(spark):
    df = spark.createDataFrame([(1, "a b  c"), (2, ""), (3, "x,y")], "doc_id long, text string")
    got = {r["doc_id"]: (r["n_tokens"], r["n_subwords"]) for r in with_token_stats(df).collect()}
    assert got[1] == (3, 3)
    assert got[2] == (0, 0)
    assert got[3] == (1, 3)  # "x" "," "y"


def test_quality(spark):
    df = spark.createDataFrame([(1, "The cat, the hat.")], "doc_id long, text string")
    r = with_quality(df).first()
    assert r["n_words_q"] == 4
    assert r["punct_ratio"] > 0 and r["stopword_ratio"] == 0.5


def test_lang_id(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat is on the mat and it is warm"),
            (2, "le chat est sur le tapis et il est dans la maison"),
            (3, "der hund ist im garten und die katze ist auf dem dach"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["lang_pred"] for r in with_lang_id(df).collect()}
    assert got == {1: "en", 2: "fr", 3: "de"}


def test_simhash_column_deterministic(spark):
    df = spark.createDataFrame([(1, "hello world")], "doc_id long, text string")
    a = with_simhash(df).first()["simhash"]
    b = with_simhash(df).first()["simhash"]
    assert a == b and isinstance(a, int)


# ---------------------------------------------------------------------------
# multimodal plumbing
# ---------------------------------------------------------------------------
def test_multimodal_fake_decode(spark):
    """decode_images over arbitrary (non-PNG) bytes: the real decoder
    returns an error row for any payload — kind filter, EMPTY_INPUT,
    NOT_PNG and a deterministic payload digest."""
    import hashlib

    rows = [
        Row(media_id=1, kind="image", payload=b"imagebytes1", content_type="image/png"),
        Row(media_id=2, kind="image", payload=b"", content_type="image/png"),
        Row(media_id=3, kind="audio", payload=b"au", content_type="audio/wav"),
    ]
    media = spark.createDataFrame(rows)
    out = {r["media_id"]: r["meta"] for r in decode_images(media).collect()}
    assert set(out) == {1, 2}  # audio filtered out
    assert out[1]["error"] == "NOT_PNG"
    assert out[1]["sha256"] == hashlib.sha256(b"imagebytes1").hexdigest()
    assert out[2]["error"] == "EMPTY_INPUT"
    # determinism
    again = decode_images(media).filter(F.col("media_id") == 1).first()
    assert again["meta"]["sha256"] == out[1]["sha256"]


def test_png_decode_kernel_taxonomy():
    """Pure-kernel PNG decode: a hand-built file (signature + IHDR + IDAT
    with known filters) round-trips geometry AND raw-pixel sha256; every
    malformed shape lands in the error channel with the right code; the
    kernel NEVER raises (E6)."""
    import hashlib
    import struct
    import zlib

    from ocr_spark.operators.multimodal import _png_decode

    def chunk(t, b):
        return struct.pack(">I", len(b)) + t + b + struct.pack(">I", zlib.crc32(t + b))

    sig = b"\x89PNG\r\n\x1a\n"
    # 3x2 RGB, row filters Sub then Up, pixels 0..17
    pixels = bytes(range(18))
    row0, row1 = pixels[:9], pixels[9:]
    f0 = bytes([1]) + row0[:3] + bytes((row0[i] - row0[i - 3]) & 0xFF for i in range(3, 9))
    f1 = bytes([2]) + bytes((row1[i] - row0[i]) & 0xFF for i in range(9))
    ihdr = chunk(b"IHDR", struct.pack(">IIBBBBB", 3, 2, 8, 2, 0, 0, 0))
    png = sig + ihdr + chunk(b"IDAT", zlib.compress(f0 + f1)) + chunk(b"IEND", b"")

    ok = _png_decode(png)
    assert ok["error"] is None
    assert (ok["width"], ok["height"], ok["n_channels"]) == (3, 2, 3)
    assert ok["pixel_sha256"] == hashlib.sha256(pixels).hexdigest()

    assert _png_decode(None)["error"] == "EMPTY_INPUT"
    assert _png_decode(b"")["error"] == "EMPTY_INPUT"
    assert _png_decode(b"GIF89a notapng")["error"] == "NOT_PNG"
    assert _png_decode(png[:20])["error"] == "BAD_IHDR"

    interlaced = chunk(b"IHDR", struct.pack(">IIBBBBB", 3, 2, 8, 2, 0, 0, 1))
    un = _png_decode(sig + interlaced + chunk(b"IDAT", zlib.compress(f0 + f1)))
    assert un["error"] == "UNSUPPORTED" and (un["width"], un["height"]) == (3, 2)

    assert _png_decode(sig + ihdr + chunk(b"IEND", b""))["error"] == "NO_IDAT"
    assert _png_decode(sig + ihdr + chunk(b"IDAT", b"\x01corrupt"))["error"] == "DECODE_ERROR"

    badf = bytes([7]) + row0 + f1
    assert _png_decode(sig + ihdr + chunk(b"IDAT", zlib.compress(badf)))["error"] == "DECODE_ERROR"

    trunc = _png_decode(sig + ihdr + chunk(b"IDAT", zlib.compress(f0)))
    assert trunc["error"] == "TRUNCATED"
    assert trunc["pixel_sha256"] == hashlib.sha256(row0).hexdigest()

    # never raises on arbitrary prefixes of a valid file
    for cut in range(0, len(png), 3):
        _png_decode(png[:cut])


def test_sample_frames_real_table(spark):
    """sample_frames walks a hand-built MP4's stts/stsc/stsz/stco for real:
    true pts from the duration runs, byte ranges from the chunk layout,
    sha256 of the frame bytes sliced out of mdat; unparseable videos yield
    one sentinel row and are excluded from the plan projection."""
    import hashlib
    import struct

    from ocr_spark.operators.multimodal import sample_frames

    def box(t, body):
        return struct.pack(">I", 8 + len(body)) + t + body

    f0, f1, f2 = b"abc", b"defgh", b"zz"
    ftyp = box(b"ftyp", b"isom\0\0\0\1mp42")
    mdat = box(b"mdat", f0 + f1 + f2)
    base = len(ftyp) + 8  # mdat body offset; chunk 1 = frames 0-1, chunk 2 = frame 2
    mdhd = box(b"mdhd", struct.pack(">BxxxIIIIHH", 0, 0, 0, 1000, 250, 0, 0))
    hdlr = box(b"hdlr", b"\0" * 8 + b"vide" + b"\0" * 13)
    stsd = box(b"stsd", struct.pack(">BxxxI", 0, 0))
    stts = box(b"stts", struct.pack(">BxxxIIIII", 0, 2, 1, 100, 2, 75))
    stsc = box(b"stsc", struct.pack(">BxxxIIIIIII", 0, 2, 1, 2, 1, 2, 1, 1))
    stsz = box(b"stsz", struct.pack(">BxxxIIIII", 0, 0, 3, 3, 5, 2))
    stco = box(b"stco", struct.pack(">BxxxIII", 0, 2, base, base + 8))
    stbl = box(b"stbl", stsd + stts + stsc + stsz + stco)
    moov = box(b"moov", box(b"trak", box(b"mdia", mdhd + hdlr + box(b"minf", stbl))))
    payload = ftyp + mdat + moov

    media = spark.createDataFrame(
        [
            Row(media_id=9, kind="video", payload=payload, content_type="video/mp4"),
            Row(media_id=10, kind="video", payload=b"v" * 2048, content_type="video/mp4"),
        ]
    )
    rows = {
        (r["media_id"], r["frame_idx"]): r
        for r in sample_frames(media, every_n=2).collect()
    }
    assert set(rows) == {(9, 0), (9, 2), (10, -1)}
    r0 = rows[(9, 0)]
    assert (r0["pts_units"], r0["pts_s"], r0["byte_offset"], r0["n_bytes"]) == (0, 0.0, base, 3)
    assert r0["frame_sha256"] == hashlib.sha256(f0).hexdigest()
    r2 = rows[(9, 2)]  # pts(2) = 100 + 75 across the two stts runs
    assert (r2["pts_units"], r2["pts_s"], r2["byte_offset"], r2["n_bytes"]) == (
        175, 0.175, base + 8, 2,
    )
    assert r2["frame_sha256"] == hashlib.sha256(f2).hexdigest()
    assert rows[(10, -1)]["error"] == "NOT_MP4"
    frames = sorted(
        (r["media_id"], r["frame_idx"])
        for r in frame_sample_plan(media, every_n=1).collect()
    )
    assert frames == [(9, 0), (9, 1), (9, 2)]


def test_sample_frames_matches_parameter_golden(spark, tiny_dir):
    """sample_frames over the fixture == the generator's layout-arithmetic
    golden on every field (pts, byte ranges, frame shas, error taxonomy)."""
    from ocr_spark.fixtures.generator import FRAME_SAMPLE_EVERY_N
    from ocr_spark.operators.multimodal import sample_frames

    media = spark.read.parquet(f"{tiny_dir}/video.parquet")
    key = lambda r: (r["media_id"], r["frame_idx"])  # noqa: E731
    val = lambda r: (  # noqa: E731
        r["pts_units"], r["pts_s"], r["byte_offset"], r["n_bytes"],
        r["frame_sha256"], r["error"],
    )
    got = {
        key(r): val(r)
        for r in sample_frames(media, every_n=FRAME_SAMPLE_EVERY_N).collect()
    }
    want = {
        key(r): val(r)
        for r in spark.read.parquet(f"{tiny_dir}/golden_frames.parquet").collect()
    }
    assert got == want
    # sample-table taxonomy coverage on the bigger tier
    import pyarrow.parquet as _pq

    from ocr_spark.fixtures.generator import ensure_fixtures as _ef

    errs = set(
        _pq.read_table(f"{_ef('small')}/golden_frames.parquet")
        .column("error")
        .to_pylist()
    )
    assert {
        None, "EMPTY_INPUT", "NOT_MP4", "NO_MOOV", "NO_TRAK",
        "NO_SAMPLE_TABLE", "BAD_SAMPLE_TABLE",
    } <= errs


# ---------------------------------------------------------------------------
# streaming ingest
# ---------------------------------------------------------------------------
def test_streaming_extract(spark, tiny_dir, tmp_path):
    from ocr_spark.sources.icelite import IceliteTable
    from ocr_spark.streaming import run_stream_once

    import shutil

    in_dir = tmp_path / "incoming"
    in_dir.mkdir()
    shutil.copy(f"{tiny_dir}/pages.parquet", in_dir / "pages.parquet")
    out = IceliteTable(str(tmp_path / "stream_out"), key_col="url", n_buckets=4)
    n = run_stream_once(spark, str(in_dir), out, str(tmp_path / "ckpt"))
    assert n == 100
    assert out.row_count() == 100
    # second drain with same checkpoint: no new files -> no reprocessing
    n2 = run_stream_once(spark, str(in_dir), out, str(tmp_path / "ckpt"))
    assert n2 == 0 and out.row_count() == 100


def test_stream_micro_batch_is_one_job(spark, tiny_dir, tmp_path, monkeypatch):
    """A non-empty micro-batch runs one DataFrame action, its merge's
    write: no count beside it, and no cache to share the extraction
    between two actions."""
    import shutil

    from ocr_spark.sources.icelite import IceliteTable
    from ocr_spark.streaming import run_stream_once

    log: list = []
    df_type = type(spark.range(1))
    for action in ("collect", "count", "persist"):

        def logged(self, *args, _action=action, _run=getattr(df_type, action)):
            log.append(_action)
            return _run(self, *args)

        monkeypatch.setattr(df_type, action, logged)
    in_dir = tmp_path / "incoming"
    in_dir.mkdir()
    shutil.copy(f"{tiny_dir}/pages.parquet", in_dir / "pages.parquet")
    out = IceliteTable(str(tmp_path / "stream_out"), key_col="url", n_buckets=4)
    assert run_stream_once(spark, str(in_dir), out, str(tmp_path / "ckpt")) == 100
    assert log == ["collect"]


def test_near_dup_clusters(spark):
    from ocr_spark.operators.dedup import near_dup_clusters

    ids = spark.createDataFrame([(i,) for i in range(8)], "doc_id long")
    # components: {0,1,2,3} (chain), {5,6}, singletons 4 and 7
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (5, 6)], "id_a long, id_b long"
    )
    got = {r["doc_id"]: r["cluster_id"] for r in near_dup_clusters(ids, pairs).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 4, 5: 5, 6: 5, 7: 7}


def test_near_dup_clusters_adversarial_diameter(spark):
    """A 50-node chain (diameter 49) converges WITHIN the default
    max_iters=20 — pointer doubling makes rounds O(log diameter); plain
    one-hop propagation would need 49 rounds and previously exited the loop
    silently un-converged (VERDICT r2 #7)."""
    from ocr_spark.operators.dedup import near_dup_clusters

    n = 50
    ids = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    got = {r["doc_id"]: r["cluster_id"] for r in near_dup_clusters(ids, pairs).collect()}
    assert got == {i: 0 for i in range(n)}


def test_near_dup_clusters_nonconvergence_raises(spark):
    """If the round budget genuinely can't cover the diameter, the operator
    must raise — silent partial clustering splits dup groups undetectably."""
    import pytest as _pytest

    from ocr_spark.operators.dedup import near_dup_clusters

    n = 12  # diameter 11 > 2^1: one round cannot finish a chain this long
    ids = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        near_dup_clusters(ids, pairs, max_iters=1)


def test_dedup_pipeline_end_to_end(spark):
    from ocr_spark.operators.dedup import dedup_pipeline

    base = "the quick brown fox jumps over the lazy dog and keeps running far away into the night woods"
    rows = [
        (1, base),
        (2, base),                                  # exact dup of 1
        (3, base.replace("night", "daylight")),     # near dup of 1
        (4, "completely different text about query planners and adaptive execution in spark engines"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["cluster_size"] for r in dedup_pipeline(df, threshold=0.5).collect()}
    # canonical docs: 1 (cluster {1,3} after exact-dedup removed 2) and 4
    assert got == {1: 2, 4: 1}


def test_dedup_pipeline_materialized_signatures(spark, tmp_path):
    """signatures_table: the 100 TB shape — survivor signatures live in an
    icelite table instead of an executor cache.  Same result as the cached
    path; a second (restarted) run REUSES the committed table (no new
    snapshot, no re-hash)."""
    from ocr_spark.operators.dedup import dedup_pipeline
    from ocr_spark.sources.icelite import IceliteTable

    base = "the quick brown fox jumps over the lazy dog and keeps running far away into the night woods"
    rows = [
        (1, base),
        (2, base),
        (3, base.replace("night", "daylight")),
        (4, "completely different text about query planners and adaptive execution in spark engines"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    tbl = IceliteTable(str(tmp_path / "sigs"), key_col="doc_id", n_buckets=4)
    got = {
        r["doc_id"]: r["cluster_size"]
        for r in dedup_pipeline(df, threshold=0.5, signatures_table=tbl).collect()
    }
    assert got == {1: 2, 4: 1}
    head_after_first = tbl.head_id()
    assert tbl.row_count() == 3  # survivor signatures only (2 deduped away)
    got2 = {
        r["doc_id"]: r["cluster_size"]
        for r in dedup_pipeline(df, threshold=0.5, signatures_table=tbl).collect()
    }
    assert got2 == got
    assert tbl.head_id() == head_after_first  # restart reused, no recompute


def test_corpus_filter(spark):
    from ocr_spark.operators.corpus_filter import corpus_filter

    en = "the cat is on the mat and it is a warm day for everyone in the house today"
    rows = [
        (1, en),                                       # kept
        (2, en),                                       # exact duplicate -> dropped
        (3, "x"),                                      # too_short
        (4, "le chat est sur le tapis et il est dans la maison avec le chien aujourd'hui"),  # lang
        (5, "!!! ??? ... ;;; ,,, !!! ??? ... ;;; ,,, !!! ??? ... ;;; ,,, !!!"),  # punct
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kept, audit = corpus_filter(df, langs=["en"])
    assert sorted(r["doc_id"] for r in kept.collect()) == [1]
    fates = {r["doc_id"]: (r["keep"], r["reason"]) for r in audit.collect()}
    assert fates[1] == (True, "kept")
    assert fates[2] == (False, "duplicate")
    assert fates[3] == (False, "too_short")
    assert fates[4] == (False, "lang")
    assert fates[5] == (False, "punct_ratio")
    assert len(fates) == 5  # every input row accounted for


def test_corpus_filter_near_dedup(spark):
    from ocr_spark.operators.corpus_filter import corpus_filter

    base = "the quick brown fox jumps over the lazy dog and it runs far away into the woods at night"
    rows = [(1, base), (2, base.replace("night", "dusk")), (3, "a completely different story about the spark catalyst optimizer and its many clever rules")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kept, audit = corpus_filter(df, near_dedup=True, near_threshold=0.5)
    assert sorted(r["doc_id"] for r in kept.collect()) == [1, 3]
    fates = {r["doc_id"]: r["reason"] for r in audit.collect()}
    assert fates[2] == "duplicate"


def test_corpus_filter_signature_token_sees_benchmark_content(spark, tmp_path):
    """The signature-table fingerprint covers the benchmark's CONTENT, not
    just its presence: a rerun with a different same-cardinality benchmark
    must refuse the stale table instead of silently reusing signatures
    computed over a different contamination outcome."""
    from ocr_spark.operators.corpus_filter import corpus_filter
    from ocr_spark.sources.icelite import IceliteTable

    base = "the quick brown fox jumps over the lazy dog and it runs far away into the woods at night"
    df = spark.createDataFrame(
        [(1, base), (2, "a completely different story about the spark catalyst optimizer and its many clever rules")],
        "doc_id long, text string",
    )
    bench_a = spark.createDataFrame([(100, base)], "doc_id long, text string")
    bench_b = spark.createDataFrame(
        [(100, "an entirely unrelated benchmark sentence about databases and storage engines running fast queries")],
        "doc_id long, text string",
    )
    tbl = IceliteTable(str(tmp_path / "sigs"), key_col="doc_id", n_buckets=4)
    corpus_filter(df, near_dedup=True, signatures_table=tbl, benchmark=bench_a)
    # same config + same benchmark -> free reuse
    head = tbl.head_id()
    corpus_filter(df, near_dedup=True, signatures_table=tbl, benchmark=bench_a)
    assert tbl.head_id() == head
    # same cardinality, different content -> refused
    with pytest.raises(ValueError, match="built with"):
        corpus_filter(df, near_dedup=True, signatures_table=tbl, benchmark=bench_b)


def test_pipeline_rejects_misaligned_input_table(spark, tmp_path):
    """An icelite INPUT keyed on a non-url column (even with matching
    bucket count) must be refused — its buckets are not url processing
    groups, so resume bookkeeping would cover the wrong rows."""
    from ocr_spark.plans.pipeline import ExtractionPipeline
    from ocr_spark.sources.icelite import IceliteTable

    out = IceliteTable(str(tmp_path / "out"), key_col="url", n_buckets=8)
    bad = IceliteTable(str(tmp_path / "in"), key_col="doc_id", n_buckets=8)
    bad.append(
        spark.createDataFrame([(1, "u")], "doc_id long, url string"), metadata={}
    )
    with pytest.raises(ValueError, match="would not align"):
        ExtractionPipeline(out, n_buckets=8).run(bad, spark=spark)


def test_asof_join_semantics(spark):
    from ocr_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, "u", 10), (2, "u", 20), (3, "u", 5), (4, "v", 50)],
        "id long, k string, t long",
    )
    right = spark.createDataFrame(
        [("u", 10, 100.0), ("u", 15, 150.0), ("v", 60, 600.0)],
        "k string, t long, px double",
    )
    got = {
        r["id"]: r["px_r"]
        for r in asof_join(left, right, on="t", by="k").collect()
    }
    assert got[1] == 100.0   # equal timestamp matches (inclusive)
    assert got[2] == 150.0   # most recent prior
    assert got[3] is None    # nothing at-or-before
    assert got[4] is None    # right row is later


def test_ngram_jaccard_gram_df_pruning(spark):
    """A gram shared by more docs than max_gram_df is dropped from the join
    AND from the per-doc gram universe, so pairs related only through the
    hot gram disappear while genuinely-near pairs survive."""
    from ocr_spark.operators.dedup import ngram_jaccard_pairs

    hot = "common shared phrase"  # one 3-gram present in every doc
    rows = [(i, f"{hot} unique{i} filler{i} tail{i}") for i in range(1, 7)]
    rows += [(10, f"{hot} alpha beta gamma delta"), (11, f"{hot} alpha beta gamma epsilon")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # cap below the hot gram's df (8 docs) but above everything else
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(df, threshold=0.1, max_gram_df=5).collect()
    }
    # docs 1..6 share ONLY hot-gram-derived grams -> no pairs among them
    assert all(a > 6 for a, _b in got), got
    # 10/11 still pair through their distinctive grams
    assert (10, 11) in got


def test_lang_id_broadened_profiles(spark):
    """The widened 16-language profile set: one representative per language,
    plus 'und' for out-of-profile text."""
    samples = {
        "en": "the cat is on the mat and it is warm",
        "fr": "le chat est sur le tapis et il est dans la maison",
        "de": "der hund ist im garten und die katze ist auf dem dach",
        "es": "el perro es grande y la casa es para los amigos",
        "it": "il cane è grande e la casa è per non sono qui",
        "pt": "o cachorro é grande e a casa é do amigo não uma",
        "nl": "de hond is groot en het huis is van die man niet",
        "sv": "och hunden är stor på huset som är av en man för",
        "da": "og hunden er stor i huset som er på en mand til",
        "pl": "w domu jest pies i kot ale nie jest to tak jak",
        "ru": "и в доме не было кота но он так думал что это",
        "tr": "bu ev çok büyük ve o köpek daha iyi gibi ama ne",
        "id": "yang rumah itu besar dan anjing ini tidak di dalam untuk",
        "ro": "în casă este un câine și o pisică care nu pentru mai",
        "vi": "của con chó và các con mèo có được cho là những người",
        "ar": "في البيت كلب من هذا الذي كان مع أن إلى هو",
        "und": "zxqv wplk mntr bgfd",
    }
    rows = [(i, t) for i, t in enumerate(samples.values())]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["lang_pred"] for r in with_lang_id(df).collect()}
    for i, lang in enumerate(samples):
        assert got[i] == lang, (lang, got[i])


# ---------------------------------------------------------------------------
# planted-pair recall for the LSH family (VERDICT r1 next-round #7)
# ---------------------------------------------------------------------------
def _planted_texts(n_pairs: int, n_noise: int, edits: int, seed: int = 13):
    """(rows, planted_pairs): pairs of long texts differing in `edits` words
    (high but sub-1.0 char-shingle Jaccard) plus unrelated noise docs."""
    import random

    rng = random.Random(seed)
    vocab = [f"tok{j}" for j in range(400)]
    rows, pairs = [], []
    nid = 0
    for _ in range(n_pairs):
        words = [rng.choice(vocab) for _ in range(120)]
        alt = list(words)
        for _ in range(edits):
            alt[rng.randrange(len(alt))] = rng.choice(vocab)
        rows.append((nid, " ".join(words)))
        rows.append((nid + 1, " ".join(alt)))
        pairs.append((nid, nid + 1))
        nid += 2
    for _ in range(n_noise):
        rows.append((nid, " ".join(rng.choice(vocab) for _ in range(120))))
        nid += 1
    return rows, pairs


def test_minhash_planted_pair_recall(spark):
    """Pairs at Jaccard >= ~0.9 must essentially always survive 16x4
    banding (theoretical miss prob (1-s^4)^16 ~= 3e-8 at s=0.9); with the
    fixed seed this is exact, not flaky."""
    rows, planted = _planted_texts(n_pairs=25, n_noise=50, edits=2)
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["id_a"], r["id_b"]) for r in minhash_dup_pairs(df, threshold=0.5).collect()}
    missed = [p for p in planted if p not in got]
    assert not missed, f"banding missed {len(missed)}/{len(planted)}: {missed[:5]}"


def test_simhash_chunk_index_is_exact(spark):
    """The 4x16-bit chunk index is a pigeonhole GUARANTEE at Hamming<=3:
    the operator's pair set must equal brute force over all simhashes."""
    from ocr_spark.functions.textstats import hamming64, simhash64

    rows, _ = _planted_texts(n_pairs=10, n_noise=30, edits=1, seed=7)
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in simhash_dup_pairs(df).collect()}
    sh = {i: simhash64(t) for i, t in rows}
    ids = sorted(sh)
    want = {
        (a, b): hamming64(sh[a], sh[b])
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if hamming64(sh[a], sh[b]) <= 3
    }
    assert got == want


def test_simhash_dchoosek_widths_all_exact(spark):
    """Every d-choose-k layout (B=4..7 at k=3; B=3 at k=2) is a pigeonhole
    guarantee: the pair set must equal brute force regardless of width —
    wider B only shrinks buckets, never recall."""
    from ocr_spark.functions.textstats import hamming64, simhash64

    rows, _ = _planted_texts(n_pairs=10, n_noise=30, edits=1, seed=13)
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sh = {i: simhash64(t) for i, t in rows}
    ids = sorted(sh)

    def brute(k):
        return {
            (a, b): hamming64(sh[a], sh[b])
            for i, a in enumerate(ids)
            for b in ids[i + 1 :]
            if hamming64(sh[a], sh[b]) <= k
        }

    for n_blocks in (4, 5, 6, 7):
        got = {
            (r["id_a"], r["id_b"]): r["hamming"]
            for r in simhash_dup_pairs(df, n_blocks=n_blocks).collect()
        }
        assert got == brute(3), f"n_blocks={n_blocks}"
    got2 = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_dup_pairs(df, max_hamming=2, n_blocks=3).collect()
    }
    assert got2 == brute(2)


def test_simhash_index_plan_policy():
    """Index width derives from corpus size: small corpora keep the 4x16
    layout; 10^9 docs get 25-bit keys; 10^12 get 36-bit keys (the r2
    VERDICT's bucket-occupancy math)."""
    from ocr_spark.operators.dedup import simhash_index_plan

    assert simhash_index_plan(500) == 4
    assert simhash_index_plan(1_000_000) == 4  # 2^16 * 64 = 4.2M >= 1M
    assert simhash_index_plan(10**9) == 5  # 2^25 * 64 = 2.1e9
    assert simhash_index_plan(10**12) == 7  # 2^36 * 64 = 4.4e12
    # mean bucket occupancy is bounded by construction at the chosen width
    import math

    for n in (500, 10**6, 10**9, 10**12):
        b = simhash_index_plan(n)
        sizes = [64 // b + (1 if j < 64 % b else 0) for j in range(b)]
        key_bits = sum(sorted(sizes)[: b - 3])
        assert n / 2**key_bits <= 64 or b == 7
        assert math.comb(b, b - 3) <= 35  # table count (shuffle factor) bound


def test_hyperplane_multiprobe_recall(spark):
    """Single-probe hyperplane LSH misses pairs straddling a plane;
    multi-probe must recover (deterministic planes + seeded vectors):
    recall is monotone in probe radius and >= 0.95 at radius 2 for
    cosine ~0.99+ pairs (theory: P(<=2 of 12 planes flip) > 0.99)."""
    import numpy as np

    rng = np.random.default_rng(11)
    base = rng.normal(size=(60, 16))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    noise = rng.normal(size=(60, 16)) * 0.03  # cosine ~0.99-0.997 partners
    rows = []
    planted = []
    for i, (v, nz) in enumerate(zip(base, noise)):
        w = v + nz
        w /= np.linalg.norm(w)
        rows.append((2 * i, [float(x) for x in v]))
        rows.append((2 * i + 1, [float(x) for x in w]))
        planted.append((2 * i, 2 * i + 1))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    planted = {
        p
        for p in planted
        if float(np.dot(base[p[0] // 2], rows[p[1]][1])) >= 0.95
    }
    single = {
        (r["id_a"], r["id_b"])
        for r in embedding_dup_pairs(df, threshold=0.95, probe_bits=0).collect()
    }
    probed1 = {
        (r["id_a"], r["id_b"])
        for r in embedding_dup_pairs(df, threshold=0.95, probe_bits=1).collect()
    }
    probed2 = {
        (r["id_a"], r["id_b"])
        for r in embedding_dup_pairs(df, threshold=0.95, probe_bits=2).collect()
    }
    rec = [len(s & planted) / len(planted) for s in (single, probed1, probed2)]
    assert probed2 >= probed1 >= single  # probing widens monotonically
    assert rec[0] <= rec[1] <= rec[2]
    assert rec[2] >= 0.95, rec


def test_hyperplane_plan_policy():
    """Plane count derives from corpus size (mean bucket <= 256 rows,
    clamped to [12, 24]): sandbox tiers keep 12; 10^9 vectors get 22."""
    from ocr_spark.operators.dedup import hyperplane_plan

    assert hyperplane_plan(0) == 12
    assert hyperplane_plan(2_000) == 12  # sf0.01 embedding_dups unchanged
    assert hyperplane_plan(10**7) == 16
    assert hyperplane_plan(10**9) == 22
    assert hyperplane_plan(10**12) == 24  # clamp: beyond this, shard/IVF
    for n in (10**6, 10**9):
        p = hyperplane_plan(n)
        assert n / 2**p <= 256 or p == 24


def test_hyperplane_wide_index_recall(spark):
    """At a wider derived-style width (16 planes) radius-2 multi-probe
    still recovers tight near-dup pairs (cos ~0.9995: P(<=2 of 16 planes
    flip) > 0.999) — widening the index for occupancy must not silently
    cost recall on the pairs that matter."""
    import numpy as np

    rng = np.random.default_rng(23)
    base = rng.normal(size=(50, 16))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    rows, planted = [], []
    for i, v in enumerate(base):
        w = v + rng.normal(size=16) * 0.01
        w /= np.linalg.norm(w)
        rows.append((2 * i, [float(x) for x in v]))
        rows.append((2 * i + 1, [float(x) for x in w]))
        planted.append((2 * i, 2 * i + 1))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        (r["id_a"], r["id_b"])
        for r in embedding_dup_pairs(
            df, n_planes=16, threshold=0.99, probe_bits=2
        ).collect()
    }
    recall = len(got & set(planted)) / len(planted)
    assert recall >= 0.95, recall


def test_wav_decode_kernel_taxonomy():
    """Pure-kernel RIFF parse: a stdlib-wave-written file round-trips its
    parameters; every malformed shape lands in the error channel with the
    right code; the kernel NEVER raises (E6)."""
    import io
    import struct
    import wave

    from ocr_spark.operators.multimodal import _wav_decode

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(16000)
        w.writeframes(b"\x00" * (2 * 2 * 800))
    wav = buf.getvalue()

    ok = _wav_decode(wav)
    assert ok["error"] is None
    assert (ok["n_channels"], ok["sample_rate"], ok["bits_per_sample"]) == (2, 16000, 16)
    assert ok["n_frames"] == 800 and ok["duration_s"] == round(800 / 16000, 6)

    assert _wav_decode(None)["error"] == "EMPTY_INPUT"
    assert _wav_decode(b"")["error"] == "EMPTY_INPUT"
    assert _wav_decode(b"JUNKJUNKJUNKJUNK")["error"] == "NOT_RIFF"
    assert _wav_decode(wav[:16])["error"] == "NO_FMT"

    trunc = _wav_decode(wav[: 44 + 800])  # half the data bytes
    assert trunc["error"] == "TRUNCATED"
    assert trunc["n_frames"] == 800 // 4  # 4-byte frames, 800 bytes left

    mp3ish = bytearray(wav)
    mp3ish[20:22] = struct.pack("<H", 85)
    codec = _wav_decode(bytes(mp3ish))
    assert codec["error"] == "UNSUPPORTED_CODEC"
    assert codec["n_channels"] == 2 and codec["n_frames"] == 0

    # never raises on arbitrary prefixes of a valid file
    for cut in range(0, len(wav), 7):
        _wav_decode(wav[:cut])


def test_audio_decode_matches_parameter_golden(spark, tiny_dir):
    """decode_audio over the fixture == the generator's parameter-derived
    golden on every field — writer (stdlib wave) and parser (manual RIFF)
    share no code."""
    from ocr_spark.operators.multimodal import decode_audio

    media = spark.read.parquet(f"{tiny_dir}/audio.parquet")
    got = {
        r["media_id"]: (
            r["meta"]["n_channels"], r["meta"]["sample_rate"],
            r["meta"]["bits_per_sample"], r["meta"]["n_frames"],
            r["meta"]["duration_s"], r["meta"]["sha256"], r["meta"]["error"],
        )
        for r in decode_audio(media).collect()
    }
    want = {
        r["media_id"]: (
            r["n_channels"], r["sample_rate"], r["bits_per_sample"],
            r["n_frames"], r["duration_s"], r["sha256"], r["error"],
        )
        for r in spark.read.parquet(f"{tiny_dir}/golden_audio.parquet").collect()
    }
    assert got == want
    # the taxonomy is actually exercised by the fixture
    errs = {v[-1] for v in want.values()}
    assert {None, "EMPTY_INPUT", "NOT_RIFF", "NO_FMT", "UNSUPPORTED_CODEC", "TRUNCATED"} <= errs


def test_mp4_sample_table_differential():
    """400-draw differential: the kernel's sample-table walk reproduces the
    generator's layout-arithmetic frame golden EXACTLY (pts, offsets,
    sizes, frame-byte shas, error codes) — two independent code paths (box
    builder + offset bookkeeping vs box walker + np.repeat/cumsum
    expansion), so agreement is evidence of a correct parser, not a shared
    bug.  Plus a mutation sweep: single-byte corruption anywhere in a
    well-formed file (size/offset/count fields included) must yield an
    error tuple or altered-but-shaped output, never an exception."""
    import hashlib
    import random

    from ocr_spark.fixtures.generator import FRAME_SAMPLE_EVERY_N, gen_video_doc
    from ocr_spark.operators.multimodal import _mp4_sample_table

    rng = random.Random("frame-differential")
    seen = set()
    wellformed = None
    for mid in range(400):
        p, _, want, _px = gen_video_doc(rng, mid)
        ts, pts, offs, sizes, err = _mp4_sample_table(p)
        if err is not None:
            got = [{
                "media_id": mid, "frame_idx": -1, "pts_units": 0, "pts_s": 0.0,
                "byte_offset": -1, "n_bytes": -1, "frame_sha256": "", "error": err,
            }]
        else:
            got = [
                {
                    "media_id": mid,
                    "frame_idx": i,
                    "pts_units": int(pts[i]),
                    "pts_s": round(int(pts[i]) / ts, 6),
                    "byte_offset": int(offs[i]),
                    "n_bytes": int(sizes[i]),
                    "frame_sha256": hashlib.sha256(
                        p[int(offs[i]) : int(offs[i]) + int(sizes[i])]
                    ).hexdigest(),
                    "error": None,
                }
                for i in range(0, len(sizes), FRAME_SAMPLE_EVERY_N)
            ]
        assert got == want, f"media {mid}: kernel diverged from layout golden"
        seen.update(r["error"] for r in want)
        if err is None and wellformed is None:
            wellformed = p
    assert seen >= {
        None, "EMPTY_INPUT", "NOT_MP4", "NO_MOOV", "NO_TRAK",
        "NO_SAMPLE_TABLE", "BAD_SAMPLE_TABLE",
    }
    # mutation sweep: every single-byte position flipped once (covers all
    # box sizes, table counts, offsets) + 500 random multi-flips
    b = bytearray(wellformed)
    for pos in range(len(b)):
        mut = bytearray(b)
        mut[pos] ^= 0xFF
        _mp4_sample_table(bytes(mut))  # must not raise
    mrng = random.Random("frame-mutate")
    for _ in range(500):
        mut = bytearray(b)
        for _ in range(mrng.randint(2, 8)):
            mut[mrng.randrange(len(mut))] = mrng.randrange(256)
        _mp4_sample_table(bytes(mut))


def test_mp4_decode_kernel_taxonomy():
    """Pure-kernel ISO-BMFF probe: a generator-built MP4 round-trips its
    parameters (v0 and v1 mvhd); malformed shapes land in the error
    channel; never raises on arbitrary prefixes."""
    from ocr_spark.fixtures.generator import _box, _mvhd
    from ocr_spark.operators.multimodal import _mp4_decode

    ftyp = _box(b"ftyp", b"isom" + b"\0\0\0\1" + b"mp42")
    for version in (0, 1):
        mp4 = ftyp + _box(b"moov", _mvhd(version, 90000, 123456)) + _box(b"mdat", b"\0" * 32)
        got = _mp4_decode(mp4)
        assert got["error"] is None, got
        assert got["major_brand"] == "isom"
        assert (got["timescale"], got["duration_units"]) == (90000, 123456)
        assert got["duration_s"] == round(123456 / 90000, 6)

    assert _mp4_decode(None)["error"] == "EMPTY_INPUT"
    assert _mp4_decode(b"XXXXnotaboxatall")["error"] == "NOT_MP4"
    # unknown mvhd versions must land in the error channel, not be parsed
    # with version-1 offsets as garbage metadata
    weird = ftyp + _box(b"moov", _box(b"mvhd", b"\x02" + b"\0" * 40))
    assert _mp4_decode(weird)["error"] == "UNSUPPORTED_VERSION"
    assert _mp4_decode(ftyp + _box(b"mdat", b"\0" * 8))["error"] == "NO_MOOV"
    assert _mp4_decode(ftyp + _box(b"moov", _box(b"udta", b"\0" * 4)))["error"] == "NO_MVHD"
    full = ftyp + _box(b"moov", _mvhd(0, 600, 600))
    assert _mp4_decode(full[: len(ftyp) + 20])["error"] == "TRUNCATED"
    for cut in range(0, len(full), 5):
        _mp4_decode(full[:cut])  # never raises


def test_video_decode_matches_parameter_golden(spark, tiny_dir):
    """decode_videos over the fixture == the generator's parameter-derived
    golden on every field."""
    from ocr_spark.operators.multimodal import decode_videos

    media = spark.read.parquet(f"{tiny_dir}/video.parquet")
    got = {
        r["media_id"]: (
            r["meta"]["major_brand"], r["meta"]["timescale"],
            r["meta"]["duration_units"], r["meta"]["duration_s"],
            r["meta"]["sha256"], r["meta"]["error"],
        )
        for r in decode_videos(media).collect()
    }
    want = {
        r["media_id"]: (
            r["major_brand"], r["timescale"], r["duration_units"],
            r["duration_s"], r["sha256"], r["error"],
        )
        for r in spark.read.parquet(f"{tiny_dir}/golden_video.parquet").collect()
    }
    assert got == want
    # taxonomy coverage on the bigger tier (tiny's 40 draws can miss a class)
    import pyarrow.parquet as _pq

    from ocr_spark.fixtures.generator import ensure_fixtures as _ef

    errs = set(
        _pq.read_table(f"{_ef('small')}/golden_video.parquet")
        .column("error")
        .to_pylist()
    )
    assert {None, "EMPTY_INPUT", "NOT_MP4", "NO_MOOV", "NO_MVHD", "TRUNCATED"} <= errs


def test_media_parsers_never_raise_fuzz(deadline):
    """E6 hard guarantee: the RIFF, ISO-BMFF and PNG parsers return an
    error struct for ARBITRARY bytes — including adversarial size fields —
    and never raise, each payload within a deadline (hypothesis fuzz +
    crafted overflow headers)."""
    import struct
    import zlib

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from ocr_spark.operators.multimodal import (
        _PNG_SIG,
        _mp4_decode,
        _mp4_sample_table,
        _png_decode,
        _wav_decode,
        _wav_features,
    )

    def parse_all(b):
        with deadline(0.5):
            for fn in (_wav_decode, _mp4_decode, _png_decode):
                out = fn(b)
                assert set(out) >= {"sha256", "error"}
            assert set(_wav_features(b)) >= {"n_frames", "error"}
            _mp4_sample_table(b)  # returns an error tuple, never raises

    @settings(max_examples=200, deadline=None)
    @given(st.binary(max_size=256), st.booleans())
    def fuzz(b, as_png):
        # half the draws past the PNG signature, so IHDR/chunk parsing runs
        parse_all(_PNG_SIG + b if as_png else b)

    fuzz()

    def ihdr(w, h, ctype=6):
        body = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
        return _PNG_SIG + struct.pack(">I", 13) + b"IHDR" + body + b"\0" * 4

    bomb = zlib.compress(bytes(1 << 24))  # ~16 KB inflating to 16 MB
    # crafted: declared sizes far beyond the payload / zero-size loops
    crafted = [
        b"RIFF" + struct.pack("<I", 0xFFFFFFFF) + b"WAVE" + b"fmt " + struct.pack("<I", 0xFFFFFFF0),
        b"RIFF" + struct.pack("<I", 4) + b"WAVE" + (b"junk" + struct.pack("<I", 0)) * 8,
        struct.pack(">I", 0xFFFFFFFF) + b"ftyp" + b"isom",
        struct.pack(">I", 1) + b"ftyp" + struct.pack(">Q", 2**63) + b"isommoov",
        struct.pack(">I", 16) + b"ftyp" + b"isom\0\0\0\1"
        + struct.pack(">I", 0) + b"moov" + struct.pack(">I", 0xFFFFFFFF) + b"mvhd",
        ihdr(0xFFFFFFFF, 0xFFFFFFFF),
        ihdr(1, 1) + struct.pack(">I", 0xFFFFFFF0) + b"IDAT",
        ihdr(64, 64) + struct.pack(">I", len(bomb)) + b"IDAT" + bomb,
    ]
    for b in crafted:
        parse_all(b)


def test_forged_png_geometry_is_too_large_within_deadline(deadline):
    """An 8192 x 8192 RGBA IHDR over one all-Paeth zlib stream (~275 KB
    that inflates to 268 MB of scanlines — minutes of pure-Python
    unfilter) is rejected from its header: TOO_LARGE with the geometry
    reported, before any inflation."""
    import struct
    import zlib

    from ocr_spark.operators.multimodal import _PNG_SIG, PNG_MAX_RAW_BYTES, _png_decode

    def chunk(t, b):
        return struct.pack(">I", len(b)) + t + b + struct.pack(">I", zlib.crc32(t + b))

    w = h = 8192
    z = zlib.compressobj(9)
    row = b"\x04" + bytes(4 * w)  # filter 4 = Paeth
    idat = b"".join([z.compress(row) for _ in range(h)] + [z.flush()])
    forged = (
        _PNG_SIG
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 6, 0, 0, 0))
        + chunk(b"IDAT", idat)
        + chunk(b"IEND", b"")
    )
    assert len(forged) < 300_000 and (1 + 4 * w) * h > PNG_MAX_RAW_BYTES
    with deadline(0.5):
        out = _png_decode(forged)
    assert out["error"] == "TOO_LARGE"
    assert (out["width"], out["height"], out["n_channels"]) == (w, h, 4)
    assert out["pixel_sha256"] == ""


def test_image_decode_matches_parameter_golden(spark, tiny_dir):
    """decode_images over the PNG fixture == the generator's parameter-
    derived golden on EVERY field, including the raw-pixel sha256 — the
    generator forward-filters (no recurrence), the kernel inverse-filters
    (sequential reconstruction); a pixel-digest match proves the inflate +
    unfilter path is correct, not just the header read."""
    media = spark.read.parquet(f"{tiny_dir}/image.parquet")
    got = {
        r["media_id"]: (
            r["meta"]["width"], r["meta"]["height"], r["meta"]["n_channels"],
            r["meta"]["sha256"], r["meta"]["pixel_sha256"], r["meta"]["error"],
        )
        for r in decode_images(media).collect()
    }
    want = {
        r["media_id"]: (
            r["width"], r["height"], r["n_channels"],
            r["sha256"], r["pixel_sha256"], r["error"],
        )
        for r in spark.read.parquet(f"{tiny_dir}/golden_image.parquet").collect()
    }
    assert got == want
    # the fixture mix must include real decodes AND error-taxonomy rows
    # (the full 7-code coverage is asserted generator-side below)
    errs = {v[5] for v in want.values()}
    assert None in errs and len(errs - {None}) >= 2
    assert any(v[5] is None and v[4] for v in want.values())


def test_png_generator_kernel_agree_across_taxonomy():
    """Property sweep: 400 generated PNG docs (independent forward-filter
    writer) decode to EXACTLY their parameter-derived goldens, and the
    sweep exercises every taxonomy code including TRUNCATED."""
    import hashlib
    import random

    from ocr_spark.fixtures.generator import gen_image_doc
    from ocr_spark.operators.multimodal import _nn_resize, _png_decode_full

    rng = random.Random("png-prop-7")
    seen = set()
    for mid in range(400):
        payload, golden = gen_image_doc(rng, mid)
        got, pixels = _png_decode_full(payload)
        got["media_id"] = mid
        # decode fields byte-match the parameter-derived golden...
        assert got == {k: golden[k] for k in got}, (mid, golden, got)
        # ...and the NN-resize kernel matches the generator's Python mirror
        rs = ""
        if got["error"] is None and pixels is not None:
            rs = hashlib.sha256(
                _nn_resize(pixels, got["width"], got["height"], got["n_channels"])
            ).hexdigest()
        assert rs == golden["resized_sha256"], mid
        seen.add(golden["error"])
    assert seen == {
        None, "EMPTY_INPUT", "NOT_PNG", "BAD_IHDR",
        "UNSUPPORTED", "DECODE_ERROR", "TRUNCATED",
    }


def test_minhash_estimate_tracks_exact_jaccard(spark):
    """est_jaccard (matching minhash positions / 64) is an unbiased
    estimator of char-5-shingle Jaccard with std <= ~sqrt(s(1-s)/64); with
    the fixed seed every emitted pair must sit within 0.2 of the exact
    similarity computed independently in plain Python."""
    from ocr_spark.functions.textstats import char_shingles

    rows, _planted = _planted_texts(n_pairs=15, n_noise=20, edits=3, seed=23)
    texts = dict(rows)
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = minhash_dup_pairs(df, threshold=0.5).collect()
    assert out, "expected at least the planted near-dup pairs"
    for r in out:
        sa, sb = char_shingles(texts[r["id_a"]]), char_shingles(texts[r["id_b"]])
        exact = len(sa & sb) / len(sa | sb)
        assert abs(r["est_jaccard"] - exact) <= 0.2, (r["id_a"], r["id_b"], exact, r["est_jaccard"])


def test_canonical_url_rules(spark):
    """urlnorm frozen rules U1-U6 on handpicked edges."""
    from ocr_spark.operators.urlnorm import with_canonical_url

    cases = {
        "HTTPS://Site01.Example.COM:443/a/b/?utm_source=x&z=1&a=2#frag":
            "https://site01.example.com/a/b?a=2&z=1",
        "http://h.example.com:80/": "http://h.example.com/",
        "https://h.example.com": "https://h.example.com/",
        "https://h.example.com/p/?gclid=abc": "https://h.example.com/p",
        "https://h.example.com/p?b=2&a=1&utm_campaign=c&fbclid=z":
            "https://h.example.com/p?a=1&b=2",
        "https://h.example.com/p/q/": "https://h.example.com/p/q",
        "https://h.example.com/?": "https://h.example.com/",
        "https://h.example.com/x#?notquery=1": "https://h.example.com/x",
        # :8443 is NOT a default port; utmost is NOT a utm_ param
        "https://h.example.com:8443/p?utmost=1": "https://h.example.com:8443/p?utmost=1",
        # U6: scheme-less / malformed urls pass through UNCHANGED — they must
        # NOT collapse onto a shared '://'-prefixed key (distinct inputs keep
        # distinct identities under icelite merge / dedup)
        "example.com/a/b/": "example.com/a/b/",
        "/relative/path?utm_source=x": "/relative/path?utm_source=x",
        "not a url at all": "not a url at all",
        "://weird": "://weird",
        # U5 strips ALL trailing slashes: a single-slash strip was
        # non-idempotent ('a//' -> 'a/' while 'a/' -> 'a' split identities)
        "https://h.example.com/a//": "https://h.example.com/a",
        "https://h.example.com/a///": "https://h.example.com/a",
        "https://h.example.com//": "https://h.example.com/",
    }
    df = spark.createDataFrame([(u,) for u in cases], "url string")
    got = {r["url"]: r["canonical_url"] for r in with_canonical_url(df).collect()}
    assert got == cases, {k: (v, cases[k]) for k, v in got.items() if v != cases[k]}


def test_corpus_filter_null_text_rejected(spark):
    """NULL-text rows (extraction-error docs) must fail the rule battery
    with reason 'null_text' — every later comparison over NULL evaluates
    to NULL, so without the leading rule they fell through the whole
    when-chain and leaked into the cleaned corpus as 'kept'."""
    from ocr_spark.operators.corpus_filter import corpus_filter

    base = "the cat sat on the mat with a friend and some tea today here now "
    df = spark.createDataFrame(
        [(1, None), (2, None), (3, base * 3)], "doc_id long, text string"
    )
    kept, audit = corpus_filter(df, rules={"min_chars": 10})
    reasons = {r["doc_id"]: (r["keep"], r["reason"]) for r in audit.collect()}
    assert reasons[1] == (False, "null_text")
    assert reasons[2] == (False, "null_text")
    assert reasons[3][0] is True
    assert [r["doc_id"] for r in kept.collect()] == [3]


def test_codepoints_per_element_validation():
    """_codepoints must reject an empty-string glyph balanced by a
    multi-code-point one — the aggregate count matches but every later
    glyph would silently receive the wrong code point."""
    import pyarrow as pa
    import pytest as _pytest

    from ocr_spark.operators.layout_ops import _codepoints

    ok = _codepoints(pa.chunked_array([pa.array(["a", "é", "€"])]))
    assert list(ok) == [ord("a"), ord("é"), ord("€")]
    bad = pa.chunked_array([pa.array(["", "é", "x"])])  # 3 cps, 3 els
    with _pytest.raises(ValueError, match="single-code-point"):
        _codepoints(bad)


def test_gopher_quality_rules(spark):
    """Gopher heuristics fire on crafted docs (symbol spam, bullet walls,
    ellipsis runs, missing stopwords) and their audit reasons are ordered
    after the C4 rules."""
    from ocr_spark.operators.corpus_filter import corpus_filter

    base = "the cat sat on the mat with a friend and some tea today here now"
    docs = [
        (1, base * 3),  # clean
        (2, ("# " * 40 + base)),  # symbol_ratio: 40 '#' / ~105 words > 0.1
        (3, "\n".join(f"- item {i} ok" for i in range(10)) + "\n" + base),  # bullets 10/11 > 0.9
        (4, "\n".join(f"{base} part {i}..." for i in range(10))),  # all lines ellipsis
        (5, "zz yy xx ww vv uu tt ss rr qq pp oo nn mm ll kk jj ii hh gg " * 4),  # no stopwords
        (6, "\n".join([base] * 8 + [f"{base} unique tail"])),  # 7/9 dup lines
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    _kept, audit = corpus_filter(
        df,
        rules={"min_chars": 10, "min_gopher_stopwords": 2},
    )
    got = {r["doc_id"]: r["reason"] for r in audit.collect()}
    assert got[1] == "kept"
    assert got[2] == "symbol_ratio"
    assert got[3] == "bullet_lines"
    assert got[4] == "ellipsis_lines"
    assert got[5] == "gopher_stopwords"
    assert got[6] == "dup_lines"


def test_wav_features_spec_handpicked():
    """Pin the frozen PCM-feature spec on hand-built WAVs: 8-bit samples
    center at -128 (unsigned storage), 16-bit are signed LE; sumsq is
    exact integer; truncated trailing frames are excluded."""
    import io
    import wave

    from ocr_spark.operators.multimodal import _wav_features

    def wav(ch, width, rate, pcm):
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(ch)
            w.setsampwidth(width)
            w.setframerate(rate)
            w.writeframes(pcm)
        return buf.getvalue()

    # 8-bit mono: bytes 0,128,255 -> centered -128,0,127
    got = _wav_features(wav(1, 1, 8000, bytes([0, 128, 255])))
    assert (got["n_frames"], got["peak_abs"]) == (3, 128)
    assert got["sumsq"] == 128 * 128 + 0 + 127 * 127
    assert got["error"] is None
    # 16-bit stereo: frames (1000,-2000), (32767,-32768)
    import struct

    pcm = struct.pack("<4h", 1000, -2000, 32767, -32768)
    got = _wav_features(wav(2, 2, 16000, pcm))
    assert (got["n_frames"], got["peak_abs"]) == (2, 32768)
    assert got["sumsq"] == 1000**2 + 2000**2 + 32767**2 + 32768**2
    # truncated mid-frame: stats cover complete frames only
    payload = wav(2, 2, 16000, pcm)
    cut = payload[: 44 + 6]  # 1.5 of 2 four-byte frames
    got = _wav_features(cut)
    assert got["error"] == "TRUNCATED"
    assert (got["n_frames"], got["sumsq"]) == (1, 1000**2 + 2000**2)
    # error rows: zero stats, taxonomy preserved
    assert _wav_features(b"JUNKJUNKJUNK")["error"] == "NOT_RIFF"
    assert _wav_features(b"")["sumsq"] == 0


def test_nn_resize_spec_handpicked():
    """Pin src = (dst * src_dim) // t on a 2x2 RGB image resized to 4x4:
    each source pixel must appear as a 2x2 block (floor mapping), and the
    kernel must byte-match the generator's pure-Python mirror."""
    from ocr_spark.fixtures.generator import _nn_resize_py
    from ocr_spark.operators.multimodal import _nn_resize

    # 2x2 RGB: pixels A B / C D
    a, b, c, d = b"\x01\x02\x03", b"\x04\x05\x06", b"\x07\x08\x09", b"\x0a\x0b\x0c"
    pixels = a + b + c + d
    got = _nn_resize(pixels, 2, 2, 3, t=4)
    want = (a * 2 + b * 2) * 2 + (c * 2 + d * 2) * 2
    assert got == want
    assert got == _nn_resize_py(pixels, 2, 2, 3, t=4)
    # non-divisible downscale: 3x3 gray -> 2x2 takes rows/cols 0 and 1
    g = bytes(range(9))
    got = _nn_resize(g, 3, 3, 1, t=2)
    assert got == bytes([0, 1, 3, 4])
    assert got == _nn_resize_py(g, 3, 3, 1, t=2)


def test_wav_features_unsupported_bit_depths():
    """24/32-bit PCM parses fine as METADATA but the stat spec covers
    canonical 8/16-bit only: the feature kernel must flag UNSUPPORTED_BITS
    with zero stats instead of raising (24-bit odd buffers would crash
    numpy) or emitting garbage (32-bit read as int16 pairs)."""
    import io
    import wave

    from ocr_spark.operators.multimodal import _wav_decode, _wav_features

    for width in (3, 4):
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(width)
            w.setframerate(8000)
            w.writeframes(b"\x01" * (width * 5))
        payload = buf.getvalue()
        assert _wav_decode(payload)["error"] is None  # metadata path fine
        got = _wav_features(payload)
        assert got["error"] == "UNSUPPORTED_BITS", width
        assert (got["peak_abs"], got["sumsq"]) == (0, 0)
        assert got["n_frames"] == 5


# ---------------------------------------------------------------------------
# viral-template buckets: the LSH self-join cap (VERDICT r4 "What's wrong" #2)
# ---------------------------------------------------------------------------
def _viral_corpus(spark, n_viral: int = 600, n_normal: int = 40):
    """n_viral near-identical template docs (exact-dedup does NOT remove
    them: each carries a distinct tiny suffix) + unrelated normal docs."""
    base = (
        "subscribe to our newsletter for daily updates about products and "
        "services offered across all regional branches of the company "
    ) * 4
    rows = [(i, base + f"ref {i % 7}") for i in range(n_viral)]
    rows += [
        (10_000 + j, f"unique document number {j} with its own words {j * 17}")
        for j in range(n_normal)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_bucket_cap_bounds_pairs_and_keeps_connectivity(spark):
    from ocr_spark.operators.dedup import near_dup_clusters

    df = _viral_corpus(spark)
    n = 600
    cap = 8
    capped = minhash_dup_pairs(df, threshold=0.5, max_bucket=cap)
    pairs = capped.collect()
    # bound: per band, an oversized bucket emits <= C(cap,2) + cap*(n-cap)
    # edges; 16 bands of the SAME cluster dedup to roughly one band's worth
    bound = 16 * (cap * (cap - 1) // 2 + cap * n)
    assert 0 < len(pairs) <= bound
    assert len(pairs) < n * (n - 1) // 2  # far below all-pairs
    # connectivity: transitive closure recovers the FULL viral cluster
    clusters = near_dup_clusters(
        df.select("doc_id"), capped.select("id_a", "id_b")
    )
    viral_labels = {
        r["cluster_id"] for r in clusters.filter(F.col("doc_id") < 10_000).collect()
    }
    assert viral_labels == {0}
    spark.catalog.clearCache()


def test_minhash_cap_is_exact_below_cap(spark):
    """Buckets at or under the cap keep EXACT all-pairs output: capped and
    uncapped results are identical when no bucket overflows."""
    rows = [
        (1, "the quick brown fox jumps over the lazy dog near the river"),
        (2, "the quick brown fox jumps over the lazy dog near the rivers"),
        (3, "completely different text about distributed query processing"),
        (4, "another unrelated document mentioning parquet row groups"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    capped = sorted(map(tuple, minhash_dup_pairs(df, threshold=0.5, max_bucket=64).collect()))
    exact = sorted(map(tuple, minhash_dup_pairs(df, threshold=0.5, max_bucket=None).collect()))
    assert capped == exact and len(exact) >= 1
    spark.catalog.clearCache()


def test_simhash_bucket_cap_keeps_connectivity(spark):
    from ocr_spark.operators.dedup import near_dup_clusters

    df = _viral_corpus(spark, n_viral=300, n_normal=20)
    capped = simhash_dup_pairs(df, n_blocks=4, max_bucket=8)
    pairs = capped.select("id_a", "id_b")
    assert 0 < pairs.count() < 300 * 299 // 2
    clusters = near_dup_clusters(df.select("doc_id"), pairs)
    viral_labels = {
        r["cluster_id"] for r in clusters.filter(F.col("doc_id") < 10_000).collect()
    }
    assert viral_labels == {0}


def test_embedding_bucket_cap_exact_below_cap_and_bounded_above(spark):
    import random

    rnd = random.Random(7)
    # 80 vectors in one tight cluster + 20 spread
    rows = [
        (i, [1.0 + rnd.uniform(-1e-3, 1e-3) for _ in range(8)]) for i in range(80)
    ]
    rows += [(100 + j, [rnd.uniform(-1, 1) for _ in range(8)]) for j in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    exact = sorted(
        (r["id_a"], r["id_b"])
        for r in embedding_dup_pairs(df, n_planes=12, max_bucket=None).collect()
    )
    wide = sorted(
        (r["id_a"], r["id_b"])
        for r in embedding_dup_pairs(df, n_planes=12, max_bucket=1024).collect()
    )
    assert wide == exact and len(exact) == 80 * 79 // 2
    capped = embedding_dup_pairs(df, n_planes=12, max_bucket=4)
    got = capped.collect()
    # representative linking: bounded, but every member touches a rep
    assert 0 < len(got) <= 4 * 80 + 6
    touched = {r["id_a"] for r in got} | {r["id_b"] for r in got}
    assert set(range(80)) <= touched
    spark.catalog.clearCache()


def test_ngram_hot_gram_guard_fallback_matches_broadcast(spark):
    """Pathological corpus: EVERY gram is over-cap, so the guarded probe
    overflows and the shuffle anti-join fallback must produce the same
    result as the broadcast path (here: no discriminative grams -> no
    pairs), without raising."""
    text = "alpha beta gamma delta epsilon zeta"
    df = spark.createDataFrame(
        [(i, text) for i in range(30)], "doc_id long, text string"
    )
    fb = ngram_jaccard_pairs(
        df, n=3, threshold=0.1, max_gram_df=5, max_broadcast_hot_grams=2
    )
    bc = ngram_jaccard_pairs(
        df, n=3, threshold=0.1, max_gram_df=5, max_broadcast_hot_grams=None
    )
    assert fb.count() == bc.count() == 0
    spark.catalog.clearCache()


def test_ngram_hot_gram_guard_normal_path_unchanged(spark):
    a = "one two three four five six"
    b = "one two three four five seven"
    c = "totally unrelated words here now yes"
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, c)], "doc_id long, text string"
    )
    guarded = ngram_jaccard_pairs(df, n=3, threshold=0.3).collect()
    unconditional = ngram_jaccard_pairs(
        df, n=3, threshold=0.3, max_broadcast_hot_grams=None
    ).collect()
    assert sorted(map(tuple, guarded)) == sorted(map(tuple, unconditional))
    assert len(guarded) == 1
    spark.catalog.clearCache()


# ---------------------------------------------------------------------------
# frame PIXEL decode (codec-free raw RGB24 track)
# ---------------------------------------------------------------------------
def test_frame_pixels_match_parameter_golden(spark, tiny_dir):
    """Kernel-decoded pixel sha + channel means over raw-RGB tracks must
    equal the generator's parameter-derived golden (and compressed tracks
    must land on the declared UNSUPPORTED_CODEC sentinel)."""
    from ocr_spark.fixtures.generator import FRAME_SAMPLE_EVERY_N
    from ocr_spark.operators.multimodal import sample_frame_pixels

    media = spark.read.parquet(f"{tiny_dir}/video.parquet")
    got = {
        (r["media_id"], r["frame_idx"]): (
            r["width"], r["height"], r["pixel_sha256"],
            r["mean_r"], r["mean_g"], r["mean_b"], r["error"],
        )
        for r in sample_frame_pixels(media, every_n=FRAME_SAMPLE_EVERY_N).collect()
    }
    want = {
        (r["media_id"], r["frame_idx"]): (
            r["width"], r["height"], r["pixel_sha256"],
            r["mean_r"], r["mean_g"], r["mean_b"], r["error"],
        )
        for r in spark.read.parquet(
            f"{tiny_dir}/golden_frame_pixels.parquet"
        ).collect()
    }
    assert got == want
    errs = {v[6] for v in got.values()}
    assert None in errs  # real decoded pixels present
    assert "UNSUPPORTED_CODEC" in errs  # the declared boundary present


def test_frame_pixels_bad_frame_size(spark):
    """A raw track whose stsz sizes disagree with the stsd geometry must
    flag BAD_FRAME_SIZE per frame, never raise or emit garbage pixels."""
    from ocr_spark.fixtures.generator import (
        _box,
        _mvhd,
        _video_track,
        _visual_sample_entry,
    )
    from ocr_spark.operators.multimodal import (
        _mp4_sample_table,
        _mp4_video_track,
        _mp4_visual_entry,
    )

    sizes = [10, 10]  # != 4*2*3
    frames = b"\x01" * 10 + b"\x02" * 10
    ftyp = _box(b"ftyp", b"isom" + b"\0\0\0\1" + b"mp42")
    mdat = _box(b"mdat", frames)
    base = len(ftyp) + 8
    trak = _video_track(
        1000, [(2, 40)], [(1, 2)], sizes, [base],
        sample_entry=_visual_sample_entry(b"raw ", 4, 2),
    )
    payload = ftyp + mdat + _box(b"moov", _mvhd(0, 600, 80) + trak)
    ts, pts, offs, szs, err = _mp4_sample_table(payload)
    assert err is None
    _ts, stbl, _err = _mp4_video_track(payload)
    fourcc, w, h, depth, verr = _mp4_visual_entry(payload, stbl[b"stsd"])
    assert (fourcc, w, h, depth, verr) == ("raw ", 4, 2, 24, None)
    from ocr_spark.operators.multimodal import sample_frame_pixels

    media = spark.createDataFrame(
        [(1, "video", bytearray(payload), "video/mp4")],
        "media_id long, kind string, payload binary, content_type string",
    )
    rows = sample_frame_pixels(media, every_n=1).collect()
    assert len(rows) == 2
    assert all(r["error"] == "BAD_FRAME_SIZE" for r in rows)
    assert all(r["pixel_sha256"] == "" for r in rows)


@pytest.mark.parametrize("skip", ["mdhd_version_2", "mdhd_truncated", "no_mdhd"])
def test_frame_pixels_take_geometry_from_the_sampled_track(spark, skip):
    """The sample sizes and the stsd geometry come from ONE track: when
    the first video trak is skipped (no readable v0/v1 mdhd), the frames
    of the second trak decode with the second trak's geometry, never
    with the skipped trak's."""
    import hashlib

    from ocr_spark.fixtures.generator import (
        _box,
        _mvhd,
        _video_track,
        _visual_sample_entry,
    )
    from ocr_spark.operators.multimodal import sample_frame_pixels

    small = b"\x07" * 12 * 3  # three 2x2 RGB24 frames
    big = [bytes([10 * k + 1, 10 * k + 2, 10 * k + 3]) * 16 for k in range(3)]
    ftyp = _box(b"ftyp", b"isom" + b"\0\0\0\1" + b"mp42")
    mdat = _box(b"mdat", small + b"".join(big))
    base = len(ftyp) + 8
    skipped = _video_track(
        1000, [(3, 40)], [(1, 3)], [12] * 3, [base],
        sample_entry=_visual_sample_entry(b"raw ", 2, 2),
    )
    i = skipped.index(b"mdhd") - 4
    mdhd = skipped[i : i + 32]  # 8-byte header + 24-byte v0 body
    bad = {  # same length, so every enclosing box size still holds
        "mdhd_version_2": mdhd[:8] + b"\x02" + mdhd[9:],
        "mdhd_truncated": _box(b"mdhd", mdhd[8:16]) + _box(b"free", mdhd[24:]),
        "no_mdhd": _box(b"free", mdhd[8:]),
    }[skip]
    skipped = skipped[:i] + bad + skipped[i + 32 :]
    chosen = _video_track(
        1000, [(3, 40)], [(1, 3)], [48] * 3, [base + len(small)],
        sample_entry=_visual_sample_entry(b"raw ", 4, 4),
    )
    payload = ftyp + mdat + _box(b"moov", _mvhd(0, 600, 120) + skipped + chosen)
    media = spark.createDataFrame(
        [(1, "video", bytearray(payload), "video/mp4")],
        "media_id long, kind string, payload binary, content_type string",
    )
    rows = sorted(sample_frame_pixels(media, every_n=1).collect(), key=lambda r: r["frame_idx"])
    assert [tuple(r)[1:] for r in rows] == [
        (k, 4, 4, hashlib.sha256(big[k]).hexdigest(), 10 * k + 1, 10 * k + 2, 10 * k + 3, None)
        for k in range(3)
    ]


def test_bucket_cap_adds_no_exchange(spark):
    """The representative-capping window must ride the band join's own
    partitioning: the capped plan carries the SAME number of Exchange and
    Sort nodes as the uncapped plan (plus exactly one Window) — the cap's
    cost is bounded by the windowed rank evaluation, never a new shuffle."""
    import re

    df = spark.createDataFrame(
        [(i, f"text {i}") for i in range(10)], "doc_id long, text string"
    )

    def shape(mb):
        plan = (
            minhash_dup_pairs(df, max_bucket=mb)
            ._jdf.queryExecution().executedPlan().toString()
        )
        return (
            len(re.findall(r"(?<!Reused)Exchange", plan)),
            plan.count("Sort "),
            plan.count("Window"),
        )

    ex_c, so_c, wi_c = shape(1024)
    ex_u, so_u, wi_u = shape(None)
    assert ex_c == ex_u, (ex_c, ex_u)
    assert so_c == so_u, (so_c, so_u)
    assert (wi_c, wi_u) == (1, 0)


def test_png_idat_bomb_bounded():
    """A PNG whose tiny IDAT inflates far past the geometry's needs must
    decode with bounded memory and unchanged semantics (the surplus bytes
    were always ignored by the unfilter)."""
    import struct
    import zlib as _zlib

    from ocr_spark.fixtures.generator import _png_chunk, _png_ihdr
    from ocr_spark.operators.multimodal import _png_decode

    w = h = 4
    ch = 3
    good_rows = b"".join(b"\x00" + bytes(range(j, j + w * ch)) for j in range(h))
    bomb = good_rows + b"\0" * (32 << 20)  # inflates to ~32 MB
    payload = (
        b"\x89PNG\r\n\x1a\n"
        + _png_ihdr(w, h, 8, 2, 0)
        + _png_chunk(b"IDAT", _zlib.compress(bomb))
        + _png_chunk(b"IEND", b"")
    )
    got = _png_decode(payload)
    assert got["error"] is None
    # identical to decoding without the surplus
    clean = (
        b"\x89PNG\r\n\x1a\n"
        + _png_ihdr(w, h, 8, 2, 0)
        + _png_chunk(b"IDAT", _zlib.compress(good_rows))
        + _png_chunk(b"IEND", b"")
    )
    assert got["pixel_sha256"] == _png_decode(clean)["pixel_sha256"]
