from __future__ import annotations

import itertools
import signal
import time
from contextlib import contextmanager

import pytest

from ocr_spark.fixtures.generator import ensure_fixtures
from ocr_spark.session import build_session


@pytest.fixture(scope="session")
def spark():
    s = build_session("ocr-spark-tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def tiny_dir() -> str:
    return ensure_fixtures("tiny")


@pytest.fixture(scope="session")
def small_dir() -> str:
    return ensure_fixtures("small")


@contextmanager
def _deadline(seconds: float):
    """Fail (instead of hanging the suite) when the body outlives
    ``seconds``; the alarm is a backstop, the elapsed check the assertion."""

    def hang(signum, frame):
        raise TimeoutError(f"kernel still running after {4 * seconds} s")

    old = signal.signal(signal.SIGALRM, hang)
    signal.setitimer(signal.ITIMER_REAL, 4 * seconds)
    t0 = time.perf_counter()
    try:
        yield
    finally:
        signal.setitimer(signal.ITIMER_REAL, 0)
        signal.signal(signal.SIGALRM, old)
    assert time.perf_counter() - t0 < seconds


@pytest.fixture
def deadline():
    """``with deadline(s): ...`` — a byte kernel must be bounded, not just
    total: the body must finish within ``s`` seconds."""
    return _deadline


@contextmanager
def _crash_after_groups(table, groups: int):
    """Inside the block, ``table.merge`` raises ``RuntimeError("simulated
    crash ...")`` from its ``groups + 1``-th call on, before writing
    anything: a pipeline run dies after ``groups`` group commits.  The
    table's own ``merge`` is back when the block exits."""
    merge, calls = table.merge, itertools.count(1)

    def crashing(*args, **kwargs):
        if next(calls) > groups:
            raise RuntimeError(f"simulated crash after {groups} groups")
        return merge(*args, **kwargs)

    table.merge = crashing
    try:
        yield
    finally:
        del table.merge


@pytest.fixture
def crash_after_groups():
    """``with crash_after_groups(table, k): pipe.run(...)`` — a run that
    dies after k group commits, crashing in the output table's merge."""
    return _crash_after_groups
