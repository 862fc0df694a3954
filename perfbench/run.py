"""Benchmark of record: the production extraction job, end to end.

Times what ``jobs/extract_job.py`` runs -- ``ExtractionPipeline.run`` with
the CLI defaults (16 buckets, group size 4, salt 0, ``max_concurrent=1``)
from the input scan through the last icelite manifest commit -- in one
driver process at ``local[<cores>]`` with the unmodified
``build_session`` config.

    python3 perfbench/run.py --workload html_fresh --seed 1 --seconds 5 --trace 0

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics folded from the Spark event log plus in-memory spans (see
README.md).  The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the full record (every
pass, per-layer numbers, spans) is written under ``.perfbench_work/``.
The command exits non-zero when the correctness gate fails.
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import itertools
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")

N_BUCKETS, GROUP_SIZE, SALT = 16, 4, 0
N_GROUPS = N_BUCKETS // GROUP_SIZE
MIN_TIMED_PASSES = 3
KERNEL_SAMPLE = {"html": 400, "pdf": 60}

WORKLOADS = {
    "html_fresh": {"kind": "html", "docs": 4000, "rerun": False},
    "pdf_fresh": {"kind": "pdf", "docs": 1600, "rerun": False},
    "html_rerun": {"kind": "html", "docs": 4000, "rerun": True},
}

END_TO_END_UNITS = {
    "docs_per_s": "docs/s",
    "cold_job_s": "s",
    "first_commit_s": "s",
    "setup_s": "s",
}

PER_LAYER_UNITS = {
    "session.build_s": "s",
    "session.python_start_s": "s",
    "session.rss_peak_mb": "MB",
    "sources.scan_s": "s",
    "sources.scan_amplification": "ratio",
    "html_extract.us_per_doc": "us",
    "extract.python_run_s": "s",
    "extract.python_init_s": "s",
    "extract.arrow_sent_mb": "MB",
    "extract.arrow_returned_mb": "MB",
    "extract.udf_rows_per_doc": "ratio",
    "pdf.us_per_doc": "us",
    "layout.us_per_page": "us",
    "pdf_ops.python_run_s": "s",
    "pdf_ops.python_init_s": "s",
    "pdf_ops.tasks_per_group": "count",
    "pipeline.group_s.p50": "s",
    "pipeline.group_s.max": "s",
    "pipeline.driver_s": "s",
    "pipeline.core_busy_share": "ratio",
    "pipeline.attempts_per_task": "ratio",
    "jvm.gc_s": "s",
    "icelite.shuffle_write_s": "s",
    "icelite.shuffle_mb": "MB",
    "icelite.write_s": "s",
    "icelite.write_tasks_per_group": "count",
    "icelite.commit_s": "s",
    "icelite.antijoin_s": "s",
    "icelite.old_mb_read": "MB",
    "icelite.files_written": "count",
}


class GateError(RuntimeError):
    """A pass's table failed the correctness check."""


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python workers write inside the
    run's work directory, and make the engine importable by workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"  # no /tmp/hsperfdata_*
    for var in ("SPARK_SUBMIT_OPTS", "SPARK_LAUNCHER_OPTS"):  # driver, launcher JVM
        os.environ[var] = " ".join(p for p in (os.environ.get(var), jvm_opts) if p)


def _session(app: str, event_dir: str | None = None):
    from ocr_spark.session import build_session

    conf = {"spark.ui.showConsoleProgress": "false"}
    if event_dir is not None:
        os.makedirs(event_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": event_dir,
            }
        )
    t0 = time.perf_counter()
    spark = build_session(app, cores=_cores(), extra_conf=conf)
    spark.range(1).count()
    return spark, time.perf_counter() - t0


def _stop(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it: the JVM
    exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


PR_SET_CHILD_SUBREAPER = 36


def _become_subreaper() -> None:
    """Adopt every orphaned descendant.  The JVM's Python worker daemon puts
    itself in a process group of its own and outlives the JVM for a moment,
    as do the workers it forked; as the subreaper this process becomes
    their parent, so ``_reap_children`` can wait for them."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def _children() -> list[int]:
    me, out = os.getpid(), []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        if int(fields[1]) == me and fields[0] != "Z":
            out.append(int(name))
    return out


def _reap_children(grace_s: float = 10.0) -> int:
    """Wait until this process has no child left, hence (as the subreaper)
    no descendant at all: SIGTERM the live ones, SIGKILL those still alive
    after ``grace_s``.  Returns how many children were reaped."""
    from multiprocessing import resource_tracker

    # the generator pool's resource tracker ignores SIGTERM and exits when
    # its pipe from this process closes; close it and wait for it
    resource_tracker._resource_tracker._stop()
    reaped, deadline = 0, time.monotonic() + grace_s
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                reaped += 1
        except ChildProcessError:
            return reaped
        sig = signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL
        for pid in _children():
            with contextlib.suppress(ProcessLookupError):
                os.kill(pid, sig)
        time.sleep(0.1)


def _exit_on_sigterm(signum, _frame):
    raise SystemExit(128 + signum)


def _trace_overhead(args, traced_docs_per_s: float) -> dict:
    """Traced minus untraced ``docs_per_s``.  The untraced side is the
    median over the untraced runs of the same workload, scale and
    ``--seconds`` already recorded under .perfbench_work/records (any
    seed), so a traced run does not pay for a second session and cold
    pass."""
    untraced = []
    for path in glob.glob(os.path.join(WORK_ROOT, "records", f"{args.workload}-seed*-trace0-*.json")):
        try:
            with open(path) as f:
                rec = json.load(f)
        except (OSError, ValueError):
            continue
        same = (rec.get("scale"), rec.get("seconds")) == (args.scale, args.seconds)
        if same and rec["result"]["correct"]:
            untraced.append(rec["end_to_end"]["docs_per_s"])
    if not untraced:
        return {"not_measured": "no untraced run of this workload, scale and --seconds is recorded yet"}
    return {
        "traced_docs_per_s": traced_docs_per_s,
        "untraced_docs_per_s": statistics.median(untraced),
        "untraced_runs": len(untraced),
        "traced_minus_untraced_docs_per_s": traced_docs_per_s - statistics.median(untraced),
    }


class RssSampler:
    """Peak resident memory of the JVM and its Python worker tree, sampled
    from /proc every ``interval`` seconds on a daemon thread."""

    def __init__(self, pid: int, interval: float = 0.5):
        self.pid = pid
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _tree_rss_mb(self) -> float:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(name))
        total, todo = 0, [self.pid]
        page = os.sysconf("SC_PAGE_SIZE")
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, []))
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * page
            except (OSError, IndexError, ValueError):
                continue
        return total / 1e6

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, self._tree_rss_mb())
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


class Runner:
    """Runs passes of one workload in one session and checks each table."""

    def __init__(self, spark, wl: dict, inputs, work: str):
        from spans import Spans

        self.spark = spark
        self.wl = wl
        self.inputs = inputs
        self.work = work
        self.spans = Spans()
        self.passes: list[dict] = []
        self.attempted = 0
        self.failed = 0
        self.reference_rows: dict | None = None  # html_rerun: the fresh table

    def _transform(self):
        if self.wl["kind"] == "pdf":
            from ocr_spark.operators.pdf_ops import pdf_doc_records

            return pdf_doc_records
        return None  # the default html extraction

    def run_pass(self, label: str, table_root: str, force: bool) -> dict:
        from ocr_spark.plans.pipeline import ExtractionPipeline
        from spans import TracedTable

        from gate import check, table_rows

        key_col = self.inputs.key_col
        with self.spans.span("pass", label=label) as ps:
            table = TracedTable(table_root, key_col, N_BUCKETS, self.spans)
            pages = self.spark.read.parquet(self.inputs.path)
            pipe = ExtractionPipeline(
                table,
                n_buckets=N_BUCKETS,
                group_size=GROUP_SIZE,
                salt=SALT,
                key_col=key_col,
                transform=self._transform(),
            )
            with self.spans.span("pipeline.run"):
                table.start_run()
                try:
                    stats = pipe.run(pages, force=force, max_concurrent=1, spark=self.spark)
                except Exception:
                    # the groups committed before the one that raised
                    self.attempted += sum(1 for g in self._groups(ps) if g["patch"]) + 1
                    self.failed += 1
                    raise
        groups = self._groups(ps)
        self.attempted += len(groups)
        rows, n_rows = table_rows(table)
        problems = check(rows, n_rows, self.inputs.golden)
        if self.reference_rows is not None and rows != self.reference_rows:
            problems.append("re-run table differs from the fresh table")
        rec = {
            "label": label,
            "span": ps["id"],
            "wall_s": ps["end"] - ps["start"],
            "first_commit_s": groups[0]["sink"]["end"] - ps["start"],
            "docs": stats["docs"],
            "errors": stats["errors"],
            "groups": stats["groups"],
            "problems": problems,
        }
        self.passes.append(rec)
        if problems:
            self.failed += len(groups)
            raise GateError(f"pass {label}: {problems}")
        if self.wl["rerun"] and self.reference_rows is None:
            self.reference_rows = rows
        return rec

    def _groups(self, pass_span: dict) -> list[dict]:
        """A pass's groups: each group span with its merge/append call (the
        commit) and its ``patch_metadata`` call, once they exist."""
        out = []
        for run in self.spans.children(pass_span, "pipeline.run"):
            for g in self.spans.children(run, "group"):
                kids = self.spans.children(g)
                out.append(
                    {
                        "span": g,
                        "sink": next((k for k in kids if k["name"] != "icelite.patch_metadata"), None),
                        "patch": next((k for k in kids if k["name"] == "icelite.patch_metadata"), None),
                    }
                )
        return out

    def run_all(self, seconds: float) -> dict:
        """The session's first pass (cold), then timed passes until
        ``seconds`` have elapsed, at least MIN_TIMED_PASSES of them.

        Fresh workloads write every pass into a new table.  On a re-run
        workload the cold pass is the fresh job that populates the table,
        and every timed pass re-runs the job over it with ``force=True``."""
        rerun = self.wl["rerun"]
        roots = (os.path.join(self.work, "tables", f"t{i}") for i in itertools.count())
        root = next(roots)
        cold = self.run_pass("cold", root, force=False)
        timed: list[dict] = []
        t0 = time.perf_counter()
        while len(timed) < MIN_TIMED_PASSES or time.perf_counter() - t0 < seconds:
            if not rerun:
                shutil.rmtree(root)
                root = next(roots)
            timed.append(self.run_pass(f"timed{len(timed)}", root, force=rerun))
        return {"cold": cold, "timed": timed}


def end_to_end(cold: dict, timed: list[dict], setup_s: float) -> dict:
    return {
        "docs_per_s": statistics.median(p["docs"] / p["wall_s"] for p in timed),
        "cold_job_s": cold["wall_s"],
        "first_commit_s": statistics.median(p["first_commit_s"] for p in timed),
        "setup_s": setup_s,
    }


def per_layer(runner: Runner, cold: dict, timed: list[dict], log, kernels: dict, build_s: float, rss_mb: float) -> tuple[dict, list[dict]]:
    """The per-layer metrics of a traced run, and the per-pass folds."""
    from eventlog import fold_pass

    by_id = {r["id"]: r for r in runner.spans.records}
    folds = []
    for p in [cold, *timed]:
        ps = by_id[p["span"]]
        groups = runner._groups(ps)
        f = fold_pass(log, ps, groups, p["docs"], runner.inputs.n_docs, _cores())
        f["label"] = p["label"]
        f["group_s"] = [g["span"]["end"] - g["span"]["start"] for g in groups]
        folds.append(f)
    cold_f, timed_f = folds[0], folds[1:]
    out = {name: statistics.median(f[name] for f in timed_f) for name in PER_LAYER_UNITS if name in cold_f}
    group_s = [g for f in timed_f for g in f["group_s"]]
    out["pipeline.group_s.p50"] = statistics.median(group_s)
    out["pipeline.group_s.max"] = max(group_s)
    out["session.build_s"] = build_s
    out["session.python_start_s"] = cold_f["extract.python_start_s"] + cold_f["pdf_ops.python_start_s"]
    out["session.rss_peak_mb"] = rss_mb
    for k in ("html_extract.us_per_doc", "pdf.us_per_doc", "layout.us_per_page"):
        out[k] = kernels[k]
    return {k: out[k] for k in PER_LAYER_UNITS}, folds


def _metrics_json(values: dict, units: dict) -> dict:
    return {k: {"value": values[k], "unit": units[k]} for k in units}


def run(args) -> int:
    wl = WORKLOADS[args.workload]
    work = os.path.join(WORK_ROOT, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    record: dict = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "scale": args.scale,
        "trace": args.trace,
        "cores": _cores(),
        "config": {"buckets": N_BUCKETS, "group_size": GROUP_SIZE, "salt": SALT, "max_concurrent": 1},
    }
    n_docs = max(int(wl["docs"] * args.scale), 8 * N_BUCKETS)
    try:
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        _prepare_env(work)
        from inputs import input_manifest, make_inputs

        t0 = time.perf_counter()
        inputs = make_inputs(wl["kind"], args.seed, n_docs, os.path.join(work, "input"), min(4, _cores()))
        record["input"] = {**input_manifest(inputs), "gen_s": time.perf_counter() - t0}
        kernels = None
        if args.trace:
            from kernels import kernel_layer

            kernels = kernel_layer(args.seed, KERNEL_SAMPLE["html"], KERNEL_SAMPLE["pdf"])
        event_dir = os.path.join(work, "eventlog") if args.trace else None
        spark, build_s = _session(f"perfbench-{args.workload}", event_dir)
        record["setup_s"] = build_s
        runner = Runner(spark, wl, inputs, work)
        ok, error = True, None
        rss = RssSampler(spark.sparkContext._gateway.proc.pid) if args.trace else contextlib.nullcontext()
        try:
            with rss:
                res = runner.run_all(args.seconds)
        except Exception as e:  # noqa: BLE001 - reported as a failed operation
            ok, error = False, f"{type(e).__name__}: {e}"
            res = None
        finally:
            try:
                _stop(spark)
            finally:
                # Python workers that outlived the JVM
                record["reaped_after_stop"] = _reap_children()
        record["passes"] = runner.passes
        record["error"] = error
        values = end_to_end(res["cold"], res["timed"], build_s) if ok else {}
        record["end_to_end"] = values
        if ok and args.trace:
            from eventlog import read_log

            log = read_log(event_dir, inputs.path, os.path.join(work, "tables"))
            layer, folds = per_layer(runner, res["cold"], res["timed"], log, kernels, build_s, rss.peak_mb)
            record["per_layer"] = layer
            record["folds"] = folds
            record["kernels"] = kernels
            record["spans"] = runner.spans.tree()
            record["trace_overhead"] = _trace_overhead(args, values["docs_per_s"])
    finally:
        shutil.rmtree(work, ignore_errors=True)

    metrics = {}
    if ok:
        metrics = (
            _metrics_json(record["per_layer"], PER_LAYER_UNITS)
            if args.trace
            else _metrics_json(values, END_TO_END_UNITS)
        )
    result = {
        "correct": ok,
        "attempted": max(runner.attempted, 1),
        "failed": runner.failed if ok else max(runner.failed, 1),
        "metrics": metrics,
    }
    record["result"] = result
    out = args.record or os.path.join(
        WORK_ROOT, "records", f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}.json"
    )
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        json.dump(record, f, indent=1, default=str)
    summary = {k: round(v, 4) for k, v in values.items()}
    print(f"# {args.workload} seed={args.seed} trace={args.trace} record={os.path.relpath(out, ROOT)} {summary}")
    if error:
        print(f"# error: {error}")
    if "trace_overhead" in record:
        print(f"# tracing overhead: {record['trace_overhead']}")
    print(json.dumps(result, separators=(",", ":")))
    return 0 if ok else 1


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0, help="input size factor (self-check)")
    p.add_argument("--record", help="full record path (default: under .perfbench_work/records)")
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "ocr_spark", "__init__.py")):
        print(f"error: the engine package ocr_spark/ is not under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    _become_subreaper()
    signal.signal(signal.SIGTERM, _exit_on_sigterm)
    try:
        return run(args)
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        _reap_children()


if __name__ == "__main__":
    sys.exit(main())
