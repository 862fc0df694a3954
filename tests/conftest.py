from __future__ import annotations

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
