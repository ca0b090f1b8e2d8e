"""Session factory defaults and the concurrent-action helper."""

from __future__ import annotations

import os
import threading
import time

import pytest
from pyspark.sql import SparkSession

from market_flow_spark.session import get_spark, run_concurrently


def _master(monkeypatch, **kwargs) -> str:
    """The master URL ``get_spark`` asks for, without building a session."""
    monkeypatch.setattr(
        SparkSession.Builder, "getOrCreate", lambda self: dict(self._options)
    )
    return get_spark(**kwargs)["spark.master"]


def test_get_spark_sizes_local_mode_from_the_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert _master(monkeypatch) == f"local[{len(os.sched_getaffinity(0))}]"
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert _master(monkeypatch) == "local[3]"
    assert _master(monkeypatch, cpus=2) == "local[2]"


def test_run_concurrently_waits_for_all_then_raises_the_first_failure(spark):
    finished, threads = [], []

    def call(name, delay, fail=False):
        def run():
            threads.append(threading.current_thread())
            time.sleep(delay)
            finished.append(name)
            if fail:
                raise ValueError(name)
            return name

        return run

    assert run_concurrently([call("a", 0.2), call("b", 0.0)]) == ["a", "b"]

    finished.clear()
    with pytest.raises(ValueError, match="first"):
        # the later-submitted call fails sooner; the earlier one is raised
        run_concurrently(
            [call("first", 0.3, fail=True), call("second", 0.0, fail=True),
             call("slow", 0.5)]
        )
    assert sorted(finished) == ["first", "second", "slow"]
    assert threads and not any(t.is_alive() for t in threads)
