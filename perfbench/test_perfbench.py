"""Tests of the benchmark's own bookkeeping and generators (no Spark).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import os
import sys
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE), os.path.join(os.path.dirname(HERE), "tests")]

import bench_main  # noqa: E402
import gen  # noqa: E402
from bench_main import Run, check_result, fingerprint, oracle_problems  # noqa: E402
from spans import Tracer  # noqa: E402


class _Frame:
    def __init__(self, rows, columns):
        self._rows, self.columns = rows, columns

    def collect(self):
        return list(self._rows)


def _run(tmp_path) -> Run:
    run = Run(SimpleNamespace(trace=0, seed=1), str(tmp_path))
    run.spark = SimpleNamespace(catalog=SimpleNamespace(clearCache=lambda: None))
    run.tracer = Tracer(run.spark, enabled=False)
    return run


def test_raised_exception_counts_as_failure(tmp_path):
    run = _run(tmp_path)

    def build():
        raise RuntimeError("boom")

    ex = run.execute("q", build)
    assert ex.error and "boom" in ex.error
    assert not check_result(run, ex, fingerprint([(1,)]))
    assert (run.attempted, run.failed) == (1, 1)


def test_wrong_result_counts_as_failure(tmp_path):
    run = _run(tmp_path)
    checked = fingerprint([(1, "a"), (2, "b")])
    right = run.execute("q", lambda: _Frame([(2, "b"), (1, "a")], ["x", "y"]))
    wrong = run.execute("q", lambda: _Frame([(1, "a"), (2, "c")], ["x", "y"]))
    assert check_result(run, right, checked)  # row order does not matter
    assert not check_result(run, wrong, checked)
    assert (run.attempted, run.failed) == (2, 1)


def test_oracle_mismatch_is_reported(tmp_path):
    gen.write_tables(str(tmp_path), 1, names=())
    run = _run(tmp_path)
    ex = run.execute("q", lambda: _Frame([(2,)], ["x"]))
    assert oracle_problems(ex, "SELECT CAST(1 AS BIGINT) AS x", str(tmp_path))
    ex = run.execute("q", lambda: _Frame([(1,)], ["x"]))
    assert not oracle_problems(ex, "SELECT CAST(1 AS BIGINT) AS x", str(tmp_path))


def test_inputs_depend_only_on_the_seed(tmp_path):
    a = gen.write_sensor_corpus(str(tmp_path / "a"), 5)
    b = gen.write_sensor_corpus(str(tmp_path / "b"), 5)
    c = gen.write_sensor_corpus(str(tmp_path / "c"), 6)
    assert a.rows == b.rows and a.rows != c.rows
    assert len(a.rows) == 187_564 and a.raw_rows > len(a.rows)
    n1, n2 = gen.Notifications(5, 3, 4, "t"), gen.Notifications(5, 3, 4, "t")
    assert n1.expected == n2.expected and len(n1.expected) == 12
    assert gen.Notifications.file_of(n1.expected[-1][0]) == 2


def test_percentile_is_nearest_rank():
    xs = list(range(1, 21))
    assert bench_main.percentile(xs, 95) == 19
    assert bench_main.percentile(xs, 50) == 10
    assert bench_main.percentile([], 90) == 0.0
