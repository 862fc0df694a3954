"""icelite table-format semantics: atomic commits, MERGE idempotency,
bucket pruning, lineage (reference K1-K8 capabilities)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ocr_spark.sources.icelite import IceliteTable


@pytest.fixture()
def tmp_table(tmp_path):
    return IceliteTable(str(tmp_path / "tbl"), key_col="url", n_buckets=4)


def _df(spark, rows):
    return spark.createDataFrame(rows, "url string, v int")


def test_append_and_read(spark, tmp_table):
    tmp_table.append(_df(spark, [("u1", 1), ("u2", 2)]))
    got = {r["url"]: r["v"] for r in tmp_table.read(spark).collect()}
    assert got == {"u1": 1, "u2": 2}
    assert tmp_table.row_count() == 2


def test_merge_upsert_replaces_matched(spark, tmp_table):
    tmp_table.append(_df(spark, [("u1", 1), ("u2", 2), ("u3", 3)]))
    tmp_table.merge(_df(spark, [("u2", 20), ("u4", 40)]))
    got = {r["url"]: r["v"] for r in tmp_table.read(spark).collect()}
    assert got == {"u1": 1, "u2": 20, "u3": 3, "u4": 40}


def test_merge_idempotent(spark, tmp_table):
    """K3: running the same merge twice == once (exactly-once per key)."""
    tmp_table.append(_df(spark, [("u1", 1), ("u2", 2)]))
    batch = _df(spark, [("u2", 20), ("u5", 50)])
    tmp_table.merge(batch)
    once = sorted((r["url"], r["v"]) for r in tmp_table.read(spark).collect())
    tmp_table.merge(batch)
    twice = sorted((r["url"], r["v"]) for r in tmp_table.read(spark).collect())
    assert once == twice
    assert tmp_table.row_count() == 3
    # a key carrying several rows (one wide row per student): re-saving it
    # replaces all of them, never duplicates
    wide = _df(spark, [("u7", 1), ("u7", 2), ("u7", 3)])
    tmp_table.merge(wide)
    tmp_table.merge(wide)
    assert tmp_table.row_count() == 6
    u7 = sorted(r["v"] for r in tmp_table.read(spark).collect() if r["url"] == "u7")
    assert u7 == [1, 2, 3]


def test_merge_lists_incoming_files_then_survivors(spark, tmp_table):
    """A merge commits the rows its write tasks returned: per rewritten
    bucket, the incoming files (as the step's ``written`` lists them),
    then the anti-join survivors' files, a write of their own in their
    own ``data/<token>/`` directory."""
    from ocr_spark.operators.payloads import batch_step

    tmp_table.append(_df(spark, [(f"u{i}", i) for i in range(8)]))
    batch = _df(spark, [("u1", 10), ("u9", 90)])
    tmp_table.merge(batch)
    head = tmp_table.snapshot()
    incoming = batch_step(batch).written
    survivors = []
    for b in {str(f.bucket) for f in incoming}:
        mine = [f.path for f in incoming if str(f.bucket) == b]
        assert head.files[b][: len(mine)] == mine
        survivors += head.files[b][len(mine):]
    assert survivors
    token = {p.split("/")[1] for p in survivors}
    assert len(token) == 1 and token.isdisjoint(f.path.split("/")[1] for f in incoming)
    assert all(head.file_rows[f.path] == f.rows for f in incoming)


def test_snapshot_isolation_history(spark, tmp_table):
    tmp_table.append(_df(spark, [("u1", 1)]))
    tmp_table.merge(_df(spark, [("u1", 100)]))
    snaps = tmp_table.snapshots()
    assert [s.operation for s in snaps] == ["append", "merge"]
    assert snaps[-1].parent_id == snaps[0].snapshot_id


def test_bucket_pruned_read(spark, tmp_table):
    rows = [(f"u{i}", i) for i in range(40)]
    tmp_table.append(_df(spark, rows))
    full = tmp_table.read(spark).count()
    head = tmp_table.snapshot()
    some_bucket = int(next(iter(head.files)))
    pruned = tmp_table.read(spark, buckets=[some_bucket])
    assert 0 < pruned.count() < full
    # pruned read only touches that bucket's files
    assert all(f"__bucket={some_bucket}/" in f for f in pruned.inputFiles())


def test_merge_untouched_buckets_carry_over(spark, tmp_table):
    rows = [(f"u{i}", i) for i in range(40)]
    tmp_table.append(_df(spark, rows))
    before = tmp_table.snapshot()
    tmp_table.merge(_df(spark, [("u1", 999)]))
    after = tmp_table.snapshot()
    # at least one bucket's file list is unchanged (carried by reference)
    untouched = [b for b in before.files if before.files[b] == after.files.get(b)]
    assert untouched


def test_time_travel_read(spark, tmp_table):
    tmp_table.append(_df(spark, [("u1", 1)]))
    s1 = tmp_table.head_id()
    tmp_table.merge(_df(spark, [("u1", 100), ("u2", 2)]))
    now = {r["url"]: r["v"] for r in tmp_table.read(spark).collect()}
    then = {r["url"]: r["v"] for r in tmp_table.read(spark, snapshot_id=s1).collect()}
    assert now == {"u1": 100, "u2": 2}
    assert then == {"u1": 1}  # VERSION AS OF semantics


def test_compaction_preserves_content(spark, tmp_table):
    # several appends -> multiple files per bucket
    for i in range(4):
        tmp_table.append(_df(spark, [(f"u{i}a", i), (f"u{i}b", 10 + i)]))
    before = sorted((r["url"], r["v"]) for r in tmp_table.read(spark).collect())
    head = tmp_table.snapshot()
    assert any(len(ps) > 1 for ps in head.files.values())
    sid = tmp_table.compact(spark)
    assert sid is not None
    after_head = tmp_table.snapshot()
    assert all(len(ps) == 1 for ps in after_head.files.values())
    after = sorted((r["url"], r["v"]) for r in tmp_table.read(spark).collect())
    assert before == after
    assert after_head.operation == "compact"
    # idempotent: nothing left to compact
    assert tmp_table.compact(spark) is None


def test_merge_sequence_matches_dict_semantics(spark, tmp_table):
    """Property: any sequence of keyed merges is equivalent to applying
    dict.update per batch (exactly-once visible value per key)."""
    import random

    rng = random.Random(7)
    model: dict[str, int] = {}
    for step in range(5):
        batch = [(f"u{rng.randrange(12)}", rng.randrange(1000)) for _ in range(rng.randrange(1, 6))]
        dedup = {}
        for k, v in batch:
            dedup[k] = v  # last-wins inside a batch is NOT guaranteed; make unique
        batch = list(dedup.items())
        model.update(batch)
        tmp_table.merge(_df(spark, batch))
        got = {r["url"]: r["v"] for r in tmp_table.read(spark).collect()}
        assert got == model, f"diverged at step {step}"


def test_expire_snapshots(spark, tmp_table):
    tmp_table.append(_df(spark, [("u1", 1)]))
    tmp_table.merge(_df(spark, [("u1", 2)]))   # rewrites u1's bucket file
    tmp_table.merge(_df(spark, [("u2", 3)]))
    assert len(tmp_table.snapshots()) == 3
    deleted = tmp_table.expire_snapshots(keep_last=1)
    assert deleted  # the superseded u1-v1 file is gone
    assert len(tmp_table.snapshots()) == 1
    got = {r["url"]: r["v"] for r in tmp_table.read(spark).collect()}
    assert got == {"u1": 2, "u2": 3}  # current state untouched
    assert tmp_table.expire_snapshots(keep_last=1) == []  # idempotent


def test_merge_empty_batch_is_safe(spark, tmp_table):
    tmp_table.append(_df(spark, [("u1", 1), ("u2", 2)]))
    before = sorted((r["url"], r["v"]) for r in tmp_table.read(spark).collect())
    tmp_table.merge(_df(spark, []).limit(0))
    after = sorted((r["url"], r["v"]) for r in tmp_table.read(spark).collect())
    assert before == after


def test_append_schema_validated(spark, tmp_table):
    """K6: the first write freezes the schema; a mismatched append is
    rejected with a typed error BEFORE any file lands."""
    from ocr_spark.sources.icelite import SchemaMismatchError

    tmp_table.append(_df(spark, [("u1", 1)]))
    head_before = tmp_table.head_id()
    bad = spark.createDataFrame([("u2", "oops")], "url string, v string")
    with pytest.raises(SchemaMismatchError, match="type changes.*v"):
        tmp_table.append(bad)
    worse = spark.createDataFrame([("u2",)], "url string")
    with pytest.raises(SchemaMismatchError, match="missing columns.*v"):
        tmp_table.merge(worse)
    # nothing landed: head unchanged, content unchanged
    assert tmp_table.head_id() == head_before
    assert {r["url"] for r in tmp_table.read(spark).collect()} == {"u1"}
    # column ORDER is not part of the contract (unionByName semantics)
    reordered = spark.createDataFrame([(7, "u9")], "v int, url string")
    tmp_table.append(reordered)


def test_remove_orphan_files(spark, tmp_table, tmp_path):
    """Files from a write attempt that crashed before commit are invisible
    to expire_snapshots (never referenced); remove_orphan_files reaps them
    without touching committed data."""
    import os

    tmp_table.append(_df(spark, [("u1", 1), ("u2", 2)]))
    # simulate a crashed _write_data: files + Spark sidecars, no commit
    crashed = os.path.join(tmp_table.root, "data", "w-crashed", "__bucket=0")
    os.makedirs(crashed)
    orphan = os.path.join(crashed, "part-00000.parquet")
    with open(orphan, "wb") as f:
        f.write(b"not really parquet")
    sidecar = os.path.join(tmp_table.root, "data", "w-crashed", "_SUCCESS")
    open(sidecar, "w").close()
    # a stray file in a committed write dir (at the token-dir root two
    # levels above the bucket files)
    head = tmp_table.snapshot()
    some_live = next(p for ps in head.files.values() for p in ps)
    token_dir = os.path.dirname(os.path.dirname(os.path.join(tmp_table.root, some_live)))
    open(os.path.join(token_dir, "_SUCCESS"), "w").close()
    assert tmp_table.expire_snapshots(keep_last=1) == []  # can't see it
    deleted = tmp_table.remove_orphan_files()
    assert sorted(deleted) == sorted([
        os.path.join("data", "w-crashed", "_SUCCESS"),
        os.path.join("data", "w-crashed", "__bucket=0", "part-00000.parquet"),
        os.path.relpath(os.path.join(token_dir, "_SUCCESS"), tmp_table.root),
    ])
    assert not os.path.exists(orphan)
    assert not os.path.exists(os.path.dirname(crashed))  # empty dirs pruned
    # committed write dirs' unreferenced files are reaped too
    assert not os.path.exists(os.path.join(token_dir, "_SUCCESS"))
    # committed data intact
    assert {r["url"] for r in tmp_table.read(spark).collect()} == {"u1", "u2"}
    # age guard: a "fresh" orphan survives when older_than_s is large
    os.makedirs(crashed)
    with open(orphan, "wb") as f:
        f.write(b"x")
    assert tmp_table.remove_orphan_files(older_than_s=3600) == []
    assert os.path.exists(orphan)


def test_commit_conflict_is_typed(spark, tmp_table):
    """Same-bucket concurrent merges raise CommitConflictError (a
    RuntimeError subclass, so legacy handlers still catch it)."""
    from ocr_spark.sources.icelite import CommitConflictError, IceliteError

    assert issubclass(CommitConflictError, RuntimeError)
    assert issubclass(CommitConflictError, IceliteError)


def test_maintenance_cli(spark, tmp_table, capsys):
    """The maintenance job chains compact -> expire -> orphan GC and
    reports one JSON line; each action is idempotent."""
    import json
    import os

    from jobs.maintenance import main

    for i in range(3):
        tmp_table.append(_df(spark, [(f"u{i}a", i), (f"u{i}b", 10 + i)]))
    # plant a stale orphan from a "crashed" write
    crashed = os.path.join(tmp_table.root, "data", "w-dead", "__bucket=1")
    os.makedirs(crashed)
    orphan = os.path.join(crashed, "part-0.parquet")
    with open(orphan, "wb") as f:
        f.write(b"x")
    os.utime(orphan, (1, 1))  # ancient mtime -> past any age guard

    stats = main(
        [
            "--table", tmp_table.root,
            "--compact", "--expire-keep", "1", "--gc-orphans",
        ]
    )
    assert stats["compacted_snapshot"] is not None
    assert stats["expired_files"] > 0
    assert stats["orphans_removed"] == 1
    assert stats["snapshots"] == 1
    assert stats["rows"] == 6
    assert not os.path.exists(orphan)
    # content survives maintenance
    assert tmp_table.read(spark).count() == 6
    # idempotent second pass: nothing left to do
    stats2 = main(["--table", tmp_table.root, "--compact",
                   "--expire-keep", "1", "--gc-orphans"])
    assert stats2["compacted_snapshot"] is None
    assert stats2["expired_files"] == 0 and stats2["orphans_removed"] == 0
    # missing table -> exit code 2
    with pytest.raises(SystemExit) as e:
        main(["--table", "/tmp/definitely-missing-tbl"])
    assert e.value.code == 2


def test_layout_mismatch_rejected(spark, tmp_table):
    """The first write freezes (key_col, n_buckets) in the table record; opening
    the table with a different layout raises instead of silently misreading
    bucket-pruned scans (a 4-bucket table opened as 16 buckets would make a
    resume's manifest lookups miss most bucket keys — data loss, no error)."""
    from ocr_spark.sources.icelite import IceliteError

    tmp_table.append(_df(spark, [("u1", 1), ("u2", 2)]))
    # same layout reopens fine
    again = IceliteTable(tmp_table.root, key_col="url", n_buckets=4)
    assert again.row_count() == 2
    with pytest.raises(IceliteError, match="laid out with"):
        IceliteTable(tmp_table.root, key_col="url", n_buckets=16)
    with pytest.raises(IceliteError, match="laid out with"):
        IceliteTable(tmp_table.root, key_col="doc_id", n_buckets=4)


@pytest.mark.parametrize("touched", [None, [0, 1, 2, 3]])
def test_merge_runs_incoming_once(spark, tmp_table, touched):
    """A merge into populated buckets evaluates the incoming batch once: its
    rows are written first and the anti-join reads the key column back from
    those files, so an expensive transform never runs again for the key
    set (nor for a bucket-discovery pass when touched_buckets is None)."""
    tmp_table.append(_df(spark, [(f"u{i}", i) for i in range(20)]))
    seen = spark.sparkContext.accumulator(0)

    # the key itself comes out of the counted transform, so no column
    # pruning can drop it from a key-set or bucket pass
    @F.udf("string")
    def counted(url):
        seen.add(1)
        return url

    batch = _df(spark, [(f"u{i}", 100 + i) for i in range(0, 30, 3)])
    tmp_table.merge(batch.withColumn("url", counted("url")), touched_buckets=touched)
    assert seen.value == 10
    got = {r["url"]: r["v"] for r in tmp_table.read(spark).collect()}
    want = {f"u{i}": i for i in range(20)} | {f"u{i}": 100 + i for i in range(0, 30, 3)}
    assert got == want


def test_sink_types_round_trip(spark, tmp_path):
    """What the task-side writer lands reads back through Spark with the
    merged rows' own types and values: timestamps, array<struct>, a
    non-nullable int and a null error column, through both the incoming
    files and the anti-join survivors."""
    import datetime as dt

    from pyspark.sql import types as T

    table = IceliteTable(str(tmp_path / "typed"), key_col="url", n_buckets=4)
    span = T.StructType(
        [T.StructField("start", T.IntegerType()), T.StructField("label", T.StringType())]
    )
    schema = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("warc_ts", T.TimestampType()),
            T.StructField("spans", T.ArrayType(span)),
            T.StructField("n", T.IntegerType(), nullable=False),
            T.StructField("error", T.StringType()),
        ]
    )

    def rows(keys, n):
        return [
            (
                f"u{k}",
                dt.datetime(2024, 1, 1 + k % 28, k % 24, 30, 15, 123456),
                [(k, "title"), (k + 1, None)] if k % 3 else [],
                n,
                None if k % 4 else "E_PARSE",
            )
            for k in keys
        ]

    table.append(spark.createDataFrame(rows(range(12), 1), schema))
    incoming = spark.createDataFrame(rows(range(8, 20), 2), schema)
    table.merge(incoming)
    got = table.read(spark)
    assert {f.name: f.dataType for f in got.schema} == {
        f.name: f.dataType for f in incoming.schema
    }
    want = spark.createDataFrame(rows(range(8), 1) + rows(range(8, 20), 2), schema)
    assert sorted(got.select(*schema.names).collect()) == sorted(want.collect())


def test_file_rows_match_parquet_footers(spark, tmp_table):
    """Every manifest ``file_rows`` entry is the task's own count and must
    equal that file's parquet footer — after multi-task appends, a merge
    and a compaction."""
    import os

    import pyarrow.parquet as pq

    def check():
        head = tmp_table.snapshot()
        paths = [p for ps in head.files.values() for p in ps]
        assert sorted(head.file_rows) == sorted(paths)
        for b, ps in head.files.items():
            for p in ps:
                assert f"__bucket={b}/" in p
                footer = pq.read_metadata(os.path.join(tmp_table.root, p)).num_rows
                assert footer == head.file_rows[p], p
        assert tmp_table.row_count() == tmp_table.read(spark).count()

    tmp_table.append(_df(spark, [(f"u{i}", i) for i in range(50)]).repartition(3))
    tmp_table.merge(_df(spark, [(f"u{i}", -i) for i in range(0, 80, 4)]).repartition(2))
    check()
    assert tmp_table.row_count() == 50 + len(range(52, 80, 4))
    assert any(len(ps) > 1 for ps in tmp_table.snapshot().files.values())
    tmp_table.compact(spark)
    assert all(len(ps) == 1 for ps in tmp_table.snapshot().files.values())
    check()


@pytest.mark.parametrize(
    "operator, data, key_col, sort",
    [
        ("extract_pages", "pages.parquet", "url", ["url"]),
        ("pdf_doc_records", "pdf_docs.parquet", "doc_id", ["doc_id"]),
        ("pdf_to_glyphs", "pdf_docs.parquet", "doc_id", ["doc_id", "glyph_id"]),
    ],
)
def test_step_write_matches_jvm_rows(spark, tiny_dir, tmp_path, operator, data, key_col, sort):
    """A DataFrame that carries its batch step is written by running the
    step inside the writer's own pass; its files hold the same rows, with
    the same parquet schema (types and nullability), as the same operator's
    rows after a trip through the JVM (any further DataFrame operation
    drops the step).  pdf_to_glyphs emits many rows per document, so the
    bucket column is repeated per emitted row."""
    import importlib
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ocr_spark.operators.payloads import batch_step

    module = "extract" if operator == "extract_pages" else "pdf_ops"
    op = getattr(importlib.import_module(f"ocr_spark.operators.{module}"), operator)
    src = spark.read.parquet(f"{tiny_dir}/{data}")
    if operator == "extract_pages":
        src = src.withColumn(
            "html", F.when(F.col("url").endswith("0"), None).otherwise(F.col("html"))
        )

    def write(name, df):
        table = IceliteTable(str(tmp_path / name), key_col=key_col, n_buckets=4)
        table.append(df)
        paths = [os.path.join(table.root, p) for ps in table.snapshot().files.values() for p in ps]
        schemas = [pq.read_schema(p) for p in paths]
        assert all(s.equals(schemas[0]) for s in schemas)
        return schemas[0], pa.concat_tables(pq.read_table(p) for p in paths).sort_by(
            [(c, "ascending") for c in sort]
        )

    fused = op(src)
    assert key_col in batch_step(fused).keeps
    assert batch_step(fused).src is not fused
    plain = op(src).filter(F.lit(True))
    assert batch_step(plain).src is plain
    fused_schema, fused_rows = write("fused", fused)
    plain_schema, plain_rows = write("plain", plain)
    assert fused_schema.equals(plain_schema, check_metadata=True)
    assert fused_rows.equals(plain_rows)
    if operator == "pdf_to_glyphs":
        assert fused_rows.num_rows > src.count()


def test_read_plans_without_a_spark_job(spark, tmp_path, monkeypatch):
    """read() passes the table's recorded schema, so building the relation
    runs no parquet schema-inference job and opens no parquet footer; the
    columns keep the written order, also for a read of buckets that hold no
    files.  Nor does a read of many files run Spark's parallel file-listing
    job (above 32 paths by Spark's default): the manifest already names
    every file."""
    import pyarrow.parquet as pq
    import pyarrow.parquet.core as pq_core

    table = IceliteTable(str(tmp_path / "ordered"), key_col="url", n_buckets=4)
    table.append(
        spark.createDataFrame([(f"u{i}", i, "x") for i in range(8)], "url string, z int, a string")
        .coalesce(1)
    )
    many = IceliteTable(str(tmp_path / "many"), key_col="url", n_buckets=16)
    many.append(
        spark.createDataFrame([(f"u{i}", i) for i in range(400)], "url string, v int")
        .repartition(4)
    )
    n_files = sum(len(ps) for ps in many.snapshot().files.values())
    assert n_files >= 48
    footers = []

    class CountedParquetFile(pq.ParquetFile):
        def __init__(self, source, *args, **kwargs):
            footers.append(source)
            super().__init__(source, *args, **kwargs)

    # pq.read_schema/read_metadata open their file through core.ParquetFile
    monkeypatch.setattr(pq_core, "ParquetFile", CountedParquetFile)
    monkeypatch.setattr(pq, "ParquetFile", CountedParquetFile)
    sc = spark.sparkContext
    group = "icelite-read-plans-only"
    sc.setJobGroup(group, "plan icelite reads")
    try:
        whole = table.read(spark)
        empty = table.read(spark, buckets=[7])
        wide = many.read(spark)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    monkeypatch.undo()
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert footers == []
    assert whole.columns == empty.columns == ["url", "z", "a"]
    assert whole.count() == 8 and empty.count() == 0
    assert wide.count() == 400


def test_metadata_files_are_fsynced_before_rename(spark, tmp_table, monkeypatch):
    """Every file icelite renames into place (the table record, each
    manifest, ``_HEAD``) was fsync'd first: a crash can persist an unsynced
    rename without its data, leaving a zero-length file that breaks every
    later open.  Every metadata file in the root arrives by such a rename,
    and the root holds nothing beyond ``_HEAD``, ``_snapshots/``, ``data/``
    and the one table record."""
    import os

    root = os.path.realpath(tmp_table.root)
    synced: set[str] = set()
    renamed: set[str] = set()
    unsynced: list[str] = []
    real_fsync, real_replace = os.fsync, os.replace

    def fsync(fd):
        synced.add(os.readlink(f"/proc/self/fd/{fd}"))
        real_fsync(fd)

    def replace(src, dst, *args, **kwargs):
        rel = os.path.relpath(os.path.realpath(dst), root)
        if not rel.startswith(".."):
            renamed.add(rel)
            if os.path.realpath(src) not in synced:
                unsynced.append(rel)
        real_replace(src, dst, *args, **kwargs)

    monkeypatch.setattr(os, "fsync", fsync)
    monkeypatch.setattr(os, "replace", replace)
    for i in range(2):
        tmp_table.append(_df(spark, [(f"u{i}a", i), (f"u{i}b", 10 + i)]))
    sid = tmp_table.merge(_df(spark, [("u0a", 7)]))
    tmp_table.patch_metadata(sid, {"note": "patched"})
    tmp_table.compact(spark)
    tmp_table.expire_snapshots(keep_last=2)
    monkeypatch.undo()

    assert unsynced == []
    metadata_files = {
        os.path.relpath(os.path.join(d, f), root)
        for d, _dirs, fs in os.walk(root)
        if not os.path.relpath(d, root).startswith("data")
        for f in fs
    }
    assert metadata_files <= renamed
    top = set(os.listdir(root))
    assert len(top) == 4 and {"_HEAD", "_snapshots", "data"} < top
    assert "_schema.json" not in top


def test_compact_conflicts_with_a_concurrent_merge(spark, tmp_table, monkeypatch):
    """A merge that rewrites a bucket between a compaction's read and its
    commit makes the compaction raise a commit conflict and leave the head
    at the merge's snapshot: committing the stale rewrite would drop the
    merge's rows from the table."""
    from ocr_spark.sources.icelite import CommitConflictError

    keys = [f"u{i}{s}" for i in range(4) for s in "ab"]
    for i in range(4):
        tmp_table.append(_df(spark, [(f"u{i}a", i), (f"u{i}b", 10 + i)]))
    write = tmp_table._write_data
    merged = {}

    def write_then_merge(df):
        out = write(df)
        monkeypatch.setattr(tmp_table, "_write_data", write)
        merged["sid"] = tmp_table.merge(_df(spark, [(k, 100) for k in keys]))
        return out

    monkeypatch.setattr(tmp_table, "_write_data", write_then_merge)
    with pytest.raises(CommitConflictError, match="under a concurrent compact"):
        tmp_table.compact(spark)
    head = tmp_table.snapshot()
    assert head.snapshot_id == merged["sid"] and head.operation == "merge"
    assert {r["url"]: r["v"] for r in tmp_table.read(spark).collect()} == dict.fromkeys(keys, 100)


@pytest.mark.parametrize(
    "error, code, message",
    [
        ("SchemaMismatchError", 4, "schema rejected"),
        ("CommitConflictError", 3, "commit conflict (retryable)"),
        ("IceliteError", 4, "table layout rejected"),
        ("StaleTableError", 4, "table rejected"),
    ],
)
def test_exit_on_table_error(error, code, message, capsys):
    """The CLI jobs' one map from table error to exit code and message;
    any other exception passes through."""
    from ocr_spark.sources import icelite

    with pytest.raises(SystemExit) as e:
        with icelite.exit_on_table_error():
            raise getattr(icelite, error)("boom")
    assert e.value.code == code
    assert capsys.readouterr().err == f"error: {message}: boom\n"
    with pytest.raises(KeyError):
        with icelite.exit_on_table_error():
            raise KeyError("not a table error")
