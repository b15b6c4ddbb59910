"""Small-size checks of the benchmark's own code.

    python -m pytest perfbench/test_perfbench.py -q

Every workload runs one pass at a reduced size and must match its oracle; a
deliberately corrupted output must count as a failed pass, so the check
cannot pass vacuously.
"""

from __future__ import annotations

import copy
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import compare, oracles  # noqa: E402
from perfbench import run as R  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

SMALL = {
    "join_tiles": {"N": 3000, "N_POLY": 400, "POLYS": 120, "HOT_POLYS": 6},
    "pixel_pyramid_write": {"OTHER": 12, "CLUSTER_CELLS": 2, "STACK": 2, "SCATTER": 2},
}


@pytest.fixture(scope="module")
def make_runner(tmp_path_factory):
    runners = []

    def make(name: str, seed: int = 7) -> R.Runner:
        wl = copy.copy(WORKLOADS[name])
        for k, v in SMALL[name].items():
            setattr(wl, k, v)
        run_dir = str(tmp_path_factory.mktemp(name))
        R._isolate_env(run_dir)
        prev = runners[-1].spark if runners else None
        r = R.Runner(wl, seed, run_dir)
        r.spark = prev  # setup() stops the previous session
        r.setup()
        r.expected = wl.expected(r.inputs)
        runners.append(r)
        return r

    yield make
    if runners and runners[-1].spark is not None:
        runners[-1].spark.stop()
    R._stop_jvm()


@pytest.mark.parametrize("name", list(SMALL))
def test_pass_matches_oracle(make_runner, name):
    r = make_runner(name)
    assert r.one_pass() is not None
    assert (r.attempted, r.failed) == (1, 0)


def test_corrupted_output_is_a_failed_pass(make_runner, monkeypatch):
    r = make_runner("join_tiles")
    real = oracles.spark_digest

    def drop_one_row(df, cols):
        return real(df.limit(max(df.count() - 1, 0)), cols)

    monkeypatch.setattr(oracles, "spark_digest", drop_one_row)
    assert r.one_pass() is None
    monkeypatch.setattr(oracles, "spark_digest", real)
    assert r.one_pass() is not None
    assert (r.attempted, r.failed) == (2, 1)


def test_traced_layers(make_runner):
    r = make_runner("join_tiles")
    m = R.traced_metrics(r, 0.0, 1.0, native_lane=1)
    assert m["spatial_join.refine_keep_ratio"][0] == 1.0
    assert 0 < m["spatial_join.poly_refine_keep_ratio"][0] < 1
    assert 0 < m["spatial_join.pip_keep_ratio"][0] < 1
    assert m["spatial_join.candidates"][0] > 0
    assert m["tiler.assign_rows"][0] > 0
    assert m["python_udf.bytes_sent"][0] > 0
    assert m["python_udf.total_ms"][0] > 0
    assert m["tasks.count"][0] > 0
    assert r.failed == 0


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "join_tiles", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0
    assert p.stdout == ""


def test_compare_verdicts():
    parent = {s: 10.0 + 0.1 * s for s in range(10)}
    faster = {s: v * 0.7 for s, v in parent.items()}
    assert compare.verdict(parent, faster, lower=True, bound=0.1)[0] == "better"
    assert compare.verdict(faster, parent, lower=True, bound=0.1)[0] == "worse"
    assert compare.verdict(parent, dict(parent), lower=True, bound=0.1)[0] == "unresolved"
