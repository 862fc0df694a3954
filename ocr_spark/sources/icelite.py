"""icelite — a minimal snapshot-isolated, bucket-partitioned table format.

Semantics modeled on Apache Iceberg (public spec), scoped to what the
engine needs (SURVEY.md §2 K1-K8, §7 M4):

- **Atomic commits**: a snapshot is a JSON manifest listing every live data
  file.  The commit point is a single ``os.replace`` of the HEAD pointer —
  readers see the old or the new snapshot, never a half-written mix.  This
  replaces the reference's 5 non-atomic Sheets API calls
  (reference: src/ai/flows/save-to-google-sheet.ts:146-240, which can
  corrupt the sheet if it dies between delete and append).
- **Idempotent keyed MERGE** (reference K3 delete-then-append upsert):
  copy-on-write at bucket granularity — only buckets present in the
  incoming batch are rewritten (old rows anti-joined on the key, new rows
  appended); untouched buckets carry over by file reference.
- **Bucket partitioning**: rows are hashed on the key column into N buckets
  (``bucket(N, url)`` layout per BASELINE.json:6); readers can prune to a
  bucket subset via the manifest without listing directories.
- **Task-side writes** (Iceberg's Spark writer protocol, ``_write_data``):
  each write task writes its own bucket files and returns only their
  metadata; the driver commits it.
- **Lineage + resume**: every snapshot records operation metadata (e.g. the
  bucket-group a pipeline commit covered) and per-file row counts (as the
  writing task counted them — no extra Spark job).  A resumed run asks the
  table which groups are already committed and skips them.

Layout::

    <root>/
      _HEAD                      # text file: current snapshot id (atomic)
      _table.json                # the table record: key_col, n_buckets, schema
      _snapshots/<id>.json       # manifest chain (parent_id links)
      data/<token>/__bucket=<k>/part-<uuid>.parquet   # one token per write
                                 # (a merge's survivors get their own)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import uuid
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from functools import cached_property
from typing import Any, Callable

import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ocr_spark.operators.payloads import batch_step, same_batch

BUCKET_COL = "__bucket"


class IceliteError(RuntimeError):
    """Base of the sink error taxonomy (reference maps failures to specific
    user-facing messages, save-to-mongodb route.ts:135-148; the CLI maps
    these to distinct exit codes)."""


class CommitConflictError(IceliteError):
    """A concurrent writer rewrote one of this commit's buckets: the
    anti-join read stale state, so committing would silently lose their
    update.  Retry the merge from the new head."""


class SchemaMismatchError(IceliteError):
    """K6 validated insert: the incoming batch's columns/types don't match
    the table schema — rejected BEFORE any data file lands (the reference
    zod-safeParses every insert and 400s mismatches, route.ts:106-114)."""


class StaleTableError(ValueError):
    """A derived table (see ``IceliteTable.build_or_reuse``) was built with
    different parameters or over a drifted input — drop the table to
    rebuild.  A ValueError, not an IceliteError: the table is sound, the
    request does not match it.  CLI entry points catch THIS type (not bare
    ValueError) to map table rejections to their layout exit code without
    swallowing unrelated ValueErrors."""


# the CLI jobs' exit code and message per table error (2, unreadable input,
# stays in each job): an orchestrator retries a conflict (3) but pages a
# human on schema/layout drift (4); the first matching type wins
_EXIT_CODES = (
    (SchemaMismatchError, 4, "schema rejected"),
    (CommitConflictError, 3, "commit conflict (retryable)"),
    (IceliteError, 4, "table layout rejected"),
    (StaleTableError, 4, "table rejected"),
)


@contextmanager
def exit_on_table_error():
    """Turn a table error raised in the block into its CLI exit: one
    ``error: ...`` line on stderr and ``SystemExit`` with the code from
    ``_EXIT_CODES``.  Any other exception passes through untouched."""
    try:
        yield
    except (IceliteError, StaleTableError) as e:
        code, what = next((c, w) for t, c, w in _EXIT_CODES if isinstance(e, t))
        print(f"error: {what}: {e}", file=sys.stderr)
        raise SystemExit(code) from None


def _atomic_write(path: str, text: str) -> None:
    """The one way a metadata file (the table record, a manifest, ``_HEAD``)
    is put in place: a temp file, flushed and fsync'd, then ``os.replace``.
    Without the fsync a crash after the rename can leave a zero-length
    file, and a zero-length record or manifest bricks the whole table."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        f.write(text)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


def _read_record(root: str) -> dict | None:
    """The table record at ``root`` (``{key_col, n_buckets, schema}``), or
    None before the first data write."""
    path = os.path.join(root, "_table.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


def bucket_expr(key_col: str, n_buckets: int):
    """Deterministic url-hash bucket: non-negative xxhash64 mod N (JVM-side)."""
    return F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets)).cast("int")


# what each write task returns per file it wrote: its row count and the
# pipeline's lineage counters over its rows (rows with an ``error``,
# characters of ``text``; 0 for a table without such a column)
WRITTEN_FILES_SCHEMA = "bucket int, path string, rows long, errors long, text_chars long"
# buffered bytes at which a write task flushes its buckets as row groups
ROW_GROUP_BYTES = 64 << 20


def write_bucket_files(batches, root: str, token: str):
    """Task side of ``IceliteTable._write_data`` (the protocol is described
    there).  Rows are buffered until ``ROW_GROUP_BYTES`` and then flushed as
    one row group per bucket."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    pending: dict[int, list] = {}
    pending_bytes = 0
    writers: dict[int, pq.ParquetWriter] = {}
    paths: dict[int, str] = {}
    counts: dict[int, list[int]] = {}  # bucket -> [rows, errors, text_chars]

    def flush() -> None:
        for b, pieces in pending.items():
            table = pa.Table.from_batches(pieces)
            if b not in writers:
                paths[b] = os.path.join(
                    "data", token, f"{BUCKET_COL}={b}", f"part-{uuid.uuid4().hex}.parquet"
                )
                full = os.path.join(root, paths[b])
                os.makedirs(os.path.dirname(full), exist_ok=True)
                writers[b] = pq.ParquetWriter(full, table.schema, compression="snappy")
            writers[b].write_table(table, row_group_size=table.num_rows)
            c = counts.setdefault(b, [0, 0, 0])
            c[0] += table.num_rows
            names = table.schema.names
            if "error" in names:
                c[1] += table.num_rows - table.column("error").null_count
            if "text" in names and pa.types.is_string(table.schema.field("text").type):
                c[2] += pc.sum(pc.utf8_length(table.column("text"))).as_py() or 0
        pending.clear()

    for batch in batches:
        if batch.num_rows == 0:
            continue
        buckets = batch.column(BUCKET_COL).to_numpy()
        order = np.argsort(buckets, kind="stable")
        buckets = buckets[order]
        data = batch.drop_columns([BUCKET_COL]).take(pa.array(order))
        starts = np.flatnonzero(np.diff(buckets, prepend=-1))
        for start, end in zip(starts, [*starts[1:], len(buckets)]):
            piece = data.slice(start, end - start)
            pending.setdefault(int(buckets[start]), []).append(piece)
            pending_bytes += piece.nbytes
        if pending_bytes >= ROW_GROUP_BYTES:
            flush()
            pending_bytes = 0
    flush()
    for w in writers.values():
        w.close()
    done = sorted(paths)
    yield pa.RecordBatch.from_arrays(
        [
            pa.array(done, pa.int32()),
            pa.array([paths[b] for b in done], pa.string()),
            *(pa.array([counts[b][i] for b in done], pa.int64()) for i in range(3)),
        ],
        names=["bucket", "path", "rows", "errors", "text_chars"],
    )


@dataclass
class Snapshot:
    snapshot_id: int
    parent_id: int | None
    operation: str
    files: dict[str, list[str]]  # bucket(str) -> relative file paths
    file_rows: dict[str, int]  # relative path -> row count
    metadata: dict[str, Any] = field(default_factory=dict)

    def to_json(self) -> str:
        return json.dumps(asdict(self), indent=1)

    @staticmethod
    def from_json(s: str) -> "Snapshot":
        return Snapshot(**json.loads(s))


class IceliteTable:
    """Single-process writer model: concurrent commits from one process are
    serialized on a per-object lock and validated for bucket-disjointness
    (the Iceberg concurrent-append pattern); cross-process concurrent
    writers are out of scope (real Iceberg's optimistic catalog CAS)."""

    def __init__(self, root: str, key_col: str = "url", n_buckets: int = 16):
        self.root = root
        self.key_col = key_col
        self.n_buckets = n_buckets
        import threading

        self._lock = threading.Lock()
        self._record()

    @cached_property
    def bucket_id(self) -> Column:
        """``bucket_expr`` on this table's layout, built once per table: each
        build is several py4j calls.  Not shared wider: a Column holds a
        JVM reference that dies with its session."""
        return bucket_expr(self.key_col, self.n_buckets)

    @classmethod
    def open(cls, root: str, key_col: str = "url", n_buckets: int = 16) -> "IceliteTable":
        """The table at ``root`` with the layout its record stores;
        ``key_col``/``n_buckets`` apply only to a table not yet written."""
        record = _read_record(root) or {"key_col": key_col, "n_buckets": n_buckets}
        return cls(root, key_col=record["key_col"], n_buckets=record["n_buckets"])

    def _record(self) -> dict | None:
        """The table record, checked against this object's layout: opening
        a table with a DIFFERENT layout is an error, not a silent misread —
        e.g. a 32-bucket table opened as 16 buckets would make bucket-pruned
        reads (resume, IVF probes) silently miss half the manifest keys."""
        record = _read_record(self.root)
        want = {"key_col": self.key_col, "n_buckets": self.n_buckets}
        laid = record and {k: record[k] for k in want}
        if laid and laid != want:
            raise IceliteError(
                f"icelite table at {self.root} was laid out with {laid} "
                f"but opened with {want} — bucket ids would not align"
            )
        return record

    # ------------------------------------------------------------------ paths
    @property
    def _head_path(self) -> str:
        return os.path.join(self.root, "_HEAD")

    def _snap_path(self, sid: int) -> str:
        return os.path.join(self.root, "_snapshots", f"{sid}.json")

    # ------------------------------------------------------------- snapshots
    def exists(self) -> bool:
        return os.path.exists(self._head_path)

    def head_id(self) -> int | None:
        if not self.exists():
            return None
        with open(self._head_path) as f:
            return int(f.read().strip())

    def snapshot(self, sid: int | None = None) -> Snapshot | None:
        sid = sid if sid is not None else self.head_id()
        if sid is None or sid < 0:
            return None
        with open(self._snap_path(sid)) as f:
            return Snapshot.from_json(f.read())

    def snapshots(self) -> list[Snapshot]:
        out: list[Snapshot] = []
        s = self.snapshot()
        while s is not None:
            out.append(s)
            s = self.snapshot(s.parent_id) if s.parent_id is not None else None
        return list(reversed(out))

    def _commit(
        self,
        start: Snapshot | None,
        operation: str,
        written: list,
        metadata: dict | None,
        replaced=(),
    ) -> int:
        """The one commit rule; returns the new snapshot id.  Under the
        lock it re-reads the head, refuses with a commit conflict if any
        ``replaced`` bucket changed since ``start`` (the head the write
        read: committing over a concurrent writer's change to that bucket
        would silently drop it), keeps every other bucket's files by
        reference, drops the replaced buckets' files, adds the ``written``
        files (the rows ``_write_data`` returned, in order) with their row
        counts, and writes the manifest, then ``_HEAD`` — the atomic
        commit point.  Writers of disjoint buckets thus commit in any
        order."""
        with self._lock:
            head = self.snapshot()
            for b in replaced:
                if head.files.get(b, []) != start.files.get(b, []):
                    raise CommitConflictError(
                        f"icelite commit conflict: bucket {b} changed "
                        f"under a concurrent {operation}"
                    )
            new_files = {
                b: list(ps) for b, ps in (head.files if head else {}).items() if b not in replaced
            }
            new_rows = {p: head.file_rows[p] for ps in new_files.values() for p in ps}
            for f in written:
                new_files.setdefault(str(f.bucket), []).append(f.path)
                new_rows[f.path] = f.rows
            sid = head.snapshot_id + 1 if head else 0
            snap = Snapshot(
                sid, head.snapshot_id if head else None, operation, new_files, new_rows,
                metadata or {},
            )
            _atomic_write(self._snap_path(sid), snap.to_json())
            _atomic_write(self._head_path, str(sid))
        return sid

    # ----------------------------------------------------------------- write
    def plan_write(self, df: DataFrame) -> None:
        """The plan half of a write (``_write_data`` runs it): build
        ``df``'s write DataFrame under a fresh token — the write's
        ``data/<token>/`` directory — force its physical plan, and keep it
        on ``df``'s batch step for the write that runs it.  A plan this
        table already built for ``df`` is kept.  Planning runs no job and
        writes no file, so a caller can build the next write's plan while
        a job runs (``ExtractionPipeline.run``)."""
        step = batch_step(df)
        if step.write is not None and step.write[0] is self:
            return
        token = f"w-{uuid.uuid4().hex[:12]}"
        root = os.path.abspath(self.root)
        src, fn = step.src, step.fn
        if self.key_col not in step.keeps or df.is_cached:
            src, fn = df, same_batch

        def write(batches):
            carry = (BUCKET_COL,)
            return write_bucket_files((fn(b, carry) for b in batches), root, token)

        plan = src.withColumn(BUCKET_COL, self.bucket_id).mapInArrow(write, WRITTEN_FILES_SCHEMA)
        # analysis, optimization and physical planning happen here, not in
        # the write's collect, which reuses this query execution
        plan._jdf.queryExecution().executedPlan()
        step.write = (self, plan)

    def _write_data(self, df: DataFrame) -> list:
        """Write df bucket-partitioned under data/<token>; returns the
        rows the write tasks returned, one per file, sorted — the record
        ``_commit`` builds the manifest from.

        The Iceberg writer protocol, in one Python pass per task: the
        bucket column is computed JVM-side on the rows of ``df``'s batch
        step (``payloads.batch_step``) — the input its ``map_batches``
        step reads when that step keeps the table's key, else ``df``
        itself under the identity step — and one ``mapInArrow`` runs the
        step and then ``write_bucket_files`` in each task.  An extraction
        group's rows thus go from the kernel straight into parquet,
        without a trip back through the JVM.  Each task writes its rows
        into one snappy parquet file per bucket it holds, at
        ``data/<token>/__bucket=<b>/part-<uuid>.parquet``, and returns
        only ``(bucket, path, rows, errors, text_chars)``; the driver
        collects those rows, records them on the step (``written``) and
        commits them, so a write is one Spark job.  A write of T tasks
        leaves up to T files per bucket — ``compact`` folds them back to
        one.  A cached ``df`` is written from its cache.  The write
        DataFrame comes from ``plan_write``: the plan built ahead for
        ``df`` if there is one (taken off the step, so it runs once), else
        one built now.

        Workers unpickle ``write_bucket_files`` by reference, importing
        this module: keep it free of ``ocr_spark.plans`` (the
        ``operators/payloads.py`` leaf rule).

        The token is unique per write (a merge's anti-join survivors are
        a write of their own, in their own directory), and every file name
        carries a fresh uuid, so concurrent writers and retried or
        speculative task attempts never collide; files of an attempt that
        did not win are never returned, so no snapshot references them and
        ``remove_orphan_files`` reaps them."""
        self.plan_write(df)
        step = batch_step(df)
        plan, step.write = step.write[1], None
        step.written = sorted(plan.collect())
        return step.written

    # ---------------------------------------------------------------- schema
    def table_schema(self) -> dict[str, str] | None:
        """The frozen column->type map recorded at first write, in the
        written column order, or None."""
        record = self._record()
        return dict(record["schema"]) if record else None

    def _validate_or_record_schema(self, df: DataFrame) -> None:
        """K6 validated insert: the first data write records the table —
        its layout and its schema (names + types, in the written column
        order) in one ``_table.json``; every later append/merge batch is
        validated against it (nullability/order-insensitive) and rejected
        with a typed error BEFORE any file is written."""
        columns = [[f.name, f.dataType.simpleString()] for f in df.schema.fields]
        stored = self.table_schema()
        if stored is None:
            record = {"key_col": self.key_col, "n_buckets": self.n_buckets, "schema": columns}
            _atomic_write(os.path.join(self.root, "_table.json"), json.dumps(record, indent=1))
            return
        incoming = dict(columns)
        if incoming != stored:
            missing = sorted(set(stored) - set(incoming))
            extra = sorted(set(incoming) - set(stored))
            retyped = sorted(
                f"{c}: {stored[c]} -> {incoming[c]}"
                for c in set(stored) & set(incoming)
                if stored[c] != incoming[c]
            )
            raise SchemaMismatchError(
                f"icelite schema mismatch for table {self.root}: "
                f"missing columns {missing}, unexpected columns {extra}, "
                f"type changes {retyped}"
            )

    def append(self, df: DataFrame, metadata: dict | None = None) -> int:
        """K5/K6 append: new files add to the current file set.  Pure
        addition never conflicts: it replaces no bucket.  The batch schema
        is validated against the table schema first (SchemaMismatchError,
        no files written)."""
        self._validate_or_record_schema(df)
        return self._commit(None, "append", self._write_data(df), metadata)

    def build_or_reuse(
        self,
        df: DataFrame,
        op: str,
        params: dict,
        build: Callable[[DataFrame], tuple[DataFrame, dict]],
        check_drift: bool = True,
    ) -> tuple[DataFrame, dict]:
        """The one build-or-reuse rule for tables derived from ``df``
        (minhash signatures, n-gram grams, the IVF index); returns
        ``(relation, build_metadata)``.

        A table with rows is REUSED — read back, nothing recomputed,
        nothing committed — only if its first ``op`` snapshot carries the
        same ``params``; with ``check_drift``, ``df.count()`` (one run of
        ``df``'s upstream plan) must also equal that build's ``input_docs``
        metadata, or the table's row count when the build recorded none
        (one row per input).  Anything else raises StaleTableError: rows
        built another way, or over another input, would be served silently
        wrong.  Otherwise ``build(df)`` returns ``(relation, extra)`` and
        the relation is appended with ``{"op": op, **params, **extra}``;
        an empty input lands no rows, so the built relation is returned
        as it is."""
        if self.row_count() > 0:
            built = next(
                (s.metadata for s in self.snapshots() if s.metadata.get("op") == op),
                None,
            )
            stored = {k: built.get(k) for k in params} if built else f"no {op} snapshot"
            if stored != params:
                raise StaleTableError(
                    f"table {self.root} was built with {stored}, requested "
                    f"{params} — drop the table to rebuild"
                )
            if check_drift:
                n_df, n_built = df.count(), built.get("input_docs", self.row_count())
                if n_df != n_built:
                    raise StaleTableError(
                        f"{op} table {self.root} was built over {n_built} input "
                        f"rows but the input has {n_df} — the input drifted "
                        "since the build; drop the table to rebuild"
                    )
            return self.read(df.sparkSession), built
        rel, extra = build(df)
        meta = {"op": op, **params, **extra}
        self.append(rel, metadata=meta)
        return (self.read(df.sparkSession) if self.row_count() else rel), meta

    def merge(
        self,
        df: DataFrame,
        metadata: dict | None = None,
        touched_buckets: list[int] | None = None,
    ) -> int:
        """K3 idempotent upsert: for every bucket present in ``df``, replace
        rows whose key appears in ``df`` (delete-matched + insert), rewrite
        only those buckets; other buckets carry over by reference.

        Exactly-once visible effect per key: running the same merge twice
        yields the same table (reference save-to-google-sheet.ts:146-240).

        ``df`` runs exactly once: its rows are written first, through
        ``_write_data``, and the anti-join reads the key column back from
        the files just written — so an expensive upstream (the extraction
        transform) is never recomputed for the key set.  Only the buckets
        those files land in can hold a matched key: their old files are
        anti-joined and the survivors written by the same writer, as a
        write of their own (their own ``data/<token>/``); the commit lists
        ``df``'s files, then the survivors'.  Every other bucket,
        ``touched_buckets`` included, keeps its files.
        ``touched_buckets`` (the pipeline's bucket group) is the bucket set
        the caller promises ``df`` stays inside; a row outside it is a
        typed error.

        Concurrency: writers touching DISJOINT buckets may run in parallel
        (``_commit``); a same-bucket race raises a commit conflict instead
        of silently losing an update.
        """
        spark = df.sparkSession
        start_head = self.snapshot()
        if start_head is None or not start_head.files:
            return self.append(df, metadata)
        self._validate_or_record_schema(df)

        written = self._write_data(df)
        buckets = dict.fromkeys(str(f.bucket) for f in written)  # in file order
        if touched_buckets is not None:
            stray = sorted(buckets.keys() - {str(b) for b in touched_buckets})
            if stray:
                # under-covering touched_buckets would APPEND these buckets'
                # rows without anti-joining their old keys — duplicate keys,
                # silently; surface it as a typed layout error instead
                raise IceliteError(
                    f"merge wrote buckets {stray} outside touched_buckets "
                    f"{sorted(touched_buckets)} — the caller's bucket set "
                    "under-covers the incoming batch"
                )
        old_paths = [p for b in buckets for p in start_head.files.get(b, [])]
        if old_paths:
            # both reads take df's (validated) schema: no inference job
            def scan(paths, schema):
                return spark.read.schema(schema).parquet(
                    *[os.path.join(self.root, p) for p in paths]
                )

            keys = scan([f.path for f in written], T.StructType([df.schema[self.key_col]]))
            # no forced broadcast on the key set: a bucket-group merge at
            # the 100 TB design point carries ~10^8 distinct keys (multi-GB
            # — over Spark's broadcast hard limit and the driver heap);
            # AQE upgrades the anti-join to broadcast at runtime whenever
            # the key relation is actually small, so the hint only removed
            # the planner's ability to fall back
            keep = scan(old_paths, df.schema).join(keys.distinct(), self.key_col, "left_anti")
            # a new list: df's step keeps only df's own files
            written = written + self._write_data(keep)
        # the anti-join read the written buckets' old state: they are the
        # ones a concurrent writer must not have changed
        return self._commit(start_head, "merge", written, metadata, replaced=buckets)

    # ------------------------------------------------------------------ read
    def read(
        self,
        spark: SparkSession,
        buckets: list[int] | None = None,
        snapshot_id: int | None = None,
    ) -> DataFrame:
        """Snapshot-isolated read; ``buckets`` prunes at the manifest level
        (the file list shrinks before Spark ever lists anything).
        ``snapshot_id`` time-travels to an earlier committed state (Iceberg
        ``VERSION AS OF`` semantics — old data files are never mutated)."""
        head = self.snapshot(snapshot_id)
        if head is None or not head.files:
            raise FileNotFoundError(f"icelite table at {self.root} is empty")
        wanted = (
            {str(b) for b in buckets} if buckets is not None else set(head.files)
        )
        paths = [
            os.path.join(self.root, p)
            for b, ps in sorted(head.files.items())
            if b in wanted
            for p in ps
        ]
        # the recorded schema as DDL: the read plans without Spark's
        # schema-inference job and without opening any data file
        schema = ", ".join(
            "`{}` {}".format(n.replace("`", "``"), t) for n, t in self.table_schema().items()
        )
        if not paths:
            return spark.createDataFrame([], schema)
        return spark.read.schema(schema).parquet(*paths)

    def patch_metadata(self, sid: int, updates: dict) -> None:
        """Amend one snapshot's metadata in place (manifest file only — the
        HEAD pointer is untouched, so this is safe after later commits)."""
        with self._lock:
            snap = self.snapshot(sid)
            snap.metadata.update(updates)
            _atomic_write(self._snap_path(sid), snap.to_json())

    # ----------------------------------------------------------- maintenance
    def compact(self, spark: SparkSession, max_files_per_bucket: int = 1) -> int | None:
        """Small-file compaction: any bucket with more data files than
        ``max_files_per_bucket`` is rewritten into one file.  Content is
        unchanged (same rows, new layout) — the lakehouse maintenance op
        that keeps scan task counts proportional to data, not to commit
        history (every write leaves up to one file per bucket per task).
        Returns the new snapshot id, or None if nothing to do.

        Concurrency follows merge(): the rewrite runs against the starting
        head outside the lock, and the commit replaces the compacted
        buckets, so a concurrent change to any of them is a commit
        conflict."""
        start_head = self.snapshot()
        if start_head is None:
            return None
        fat = {
            b: ps for b, ps in start_head.files.items() if len(ps) > max_files_per_bucket
        }
        if not fat:
            return None
        # one task per bucket, so the task-side writer makes one file each
        rewritten = self.read(
            spark, buckets=[int(b) for b in fat], snapshot_id=start_head.snapshot_id
        ).repartition(self.bucket_id)
        meta = {"compacted_buckets": sorted(fat)}
        return self._commit(start_head, "compact", self._write_data(rewritten), meta, replaced=fat)

    def expire_snapshots(self, keep_last: int = 1) -> list[str]:
        """Iceberg-style maintenance: drop history older than the last
        ``keep_last`` snapshots and delete data files no newer snapshot
        references.  Readers of retained snapshots are unaffected (their
        file sets are untouched).  Returns the deleted file paths."""
        snaps = self.snapshots()
        if len(snaps) <= keep_last:
            return []
        keep, drop = snaps[-keep_last:], snaps[:-keep_last]
        live = {p for s in keep for ps in s.files.values() for p in ps}
        doomed = {
            p for s in drop for ps in s.files.values() for p in ps
        } - live
        for p in doomed:
            full = os.path.join(self.root, p)
            if os.path.exists(full):
                os.remove(full)
        # unlink history: oldest kept snapshot becomes the chain root
        # (under the commit lock — a concurrent _commit must not interleave
        # with the chain rewrite)
        with self._lock:
            root_snap = keep[0]
            root_snap.parent_id = None
            _atomic_write(self._snap_path(root_snap.snapshot_id), root_snap.to_json())
            for s in drop:
                try:
                    os.remove(self._snap_path(s.snapshot_id))
                except FileNotFoundError:
                    pass
        return sorted(doomed)

    def remove_orphan_files(self, older_than_s: float = 0.0) -> list[str]:
        """Delete data files referenced by NO snapshot in the retained chain
        — the leftovers of write attempts that crashed before their commit
        (Iceberg's ``remove_orphan_files``; expire_snapshots can't reach
        them because they were never referenced).  ``older_than_s`` guards
        against deleting files of an IN-FLIGHT write (Iceberg defaults to
        3 days); 0 is only safe when no writer is running.  Files of a
        failed or losing speculative task attempt are orphans too: the
        driver never received their metadata.  Any unreferenced file under
        ``data/`` is one, wherever it sits.  Returns the deleted paths
        (relative)."""
        import time

        live: set[str] = set()
        for s in self.snapshots():
            for ps in s.files.values():
                live.update(ps)
        data_root = os.path.join(self.root, "data")
        doomed: list[str] = []
        cutoff = time.time() - older_than_s
        for dirpath, _dirs, files in os.walk(data_root):
            for fn in files:
                full = os.path.join(dirpath, fn)
                rel = os.path.relpath(full, self.root)
                if rel in live or os.path.getmtime(full) > cutoff:
                    continue
                os.remove(full)
                doomed.append(rel)
        # prune now-empty write directories (rmdir refuses non-empty ones)
        for dirpath, _dirs, _files in os.walk(data_root, topdown=False):
            if dirpath != data_root:
                try:
                    os.rmdir(dirpath)
                except OSError:
                    pass
        return sorted(doomed)

    # --------------------------------------------------------------- lineage
    def row_count(self) -> int:
        head = self.snapshot()
        return sum(head.file_rows.values()) if head else 0

    def committed_groups(self) -> list[list[int]]:
        """Resume support: the ``bucket_group`` of every snapshot in the
        chain that records one."""
        return [s.metadata["bucket_group"] for s in self.snapshots()
                if "bucket_group" in s.metadata]

    def drop(self) -> None:
        if os.path.exists(self.root):
            shutil.rmtree(self.root)
