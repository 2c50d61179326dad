"""Smoke tests of the benchmark itself, at the smallest sizes.

    python3 -m pytest perfbench -q -p no:cacheprovider

Each workload runs at sf0.001 / a dozen flowgroups with a one-second window
(so one round with a drop and one without for incremental_update), traced
and untraced; the printed metrics must be exactly BENCHMARK.json's, with
its units, and every output check must pass.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import datagen  # noqa: E402
import projects  # noqa: E402
import run as bench_run  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _files(root: str) -> dict[str, bytes]:
    out = {}
    for dirpath, _, files in os.walk(root):
        for fn in files:
            p = os.path.join(dirpath, fn)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = f.read()
    return out


def test_landing_is_deterministic_per_seed(tmp_path):
    lands = [datagen.Landing(str(tmp_path / n), seed, 0.001) for n, seed in (("a", 5), ("b", 5), ("c", 6))]
    for land in lands:
        land.base()
        land.drop(1)
    a, b, c = (_files(land.root) for land in lands)
    assert a == b
    assert a.keys() == c.keys() and a != c


def test_compile_project_is_deterministic_per_seed(tmp_path):
    for name, seed in (("a", 5), ("b", 5), ("c", 6)):
        projects.write_compile_project(str(tmp_path / name), seed, 40)
    a, b, c = (_files(str(tmp_path / n)) for n in "abc")
    assert a == b
    assert a != c


def test_scaled_times_use_the_readings_around_each_sample(tmp_path):
    run = workloads.Run(1, 1, False, str(tmp_path), 0.0)
    run.timeline = [
        ("host", {"cpu": 0.1, "files": 0.2}), ("work_p50_s", 2.0),
        ("host", {"cpu": 0.1, "files": 0.6}), ("rerun_p50_s", 0.5),
        ("host", {"cpu": 0.3, "files": 0.2}),
    ]
    scaled = run.scaled_times({"cpu": 0.1, "files": 0.2})
    assert scaled["work_p50_s"] == pytest.approx([1.0])  # files: 2.0 * 0.2 / 0.4
    assert scaled["rerun_p50_s"] == pytest.approx([0.25])  # cpu: 0.5 * 0.1 / 0.2


@pytest.fixture
def small(monkeypatch):
    monkeypatch.setattr(workloads, "COMPILE_FLOWGROUPS", 12)
    monkeypatch.setattr(workloads, "MEDALLION_SF", 0.001)


def _run(capsys, workload: str, trace: int) -> dict:
    rc = bench_run.main(["--workload", workload, "--seed", "3", "--seconds", "1", "--trace", str(trace)])
    result = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 2
    want = SPEC["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {m["name"]: m["unit"] for m in want}
    return result["metrics"]


@pytest.mark.parametrize("trace", [0, 1])
def test_project_compile(small, capsys, trace):
    m = _run(capsys, "project_compile", trace)
    if trace:
        assert m["spark.jobs"]["value"] == 0
        assert m["spec.flowgroups"]["value"] == 12
        assert m["rerun.parse_cache.misses"]["value"] == 1
    else:
        assert m["work_p50_s"]["value"] > m["rerun_p50_s"]["value"] > 0


@pytest.mark.parametrize("trace", [0, 1])
def test_incremental_update(small, capsys, trace):
    m = _run(capsys, "incremental_update", trace)
    if trace:
        assert m["spark.jobs"]["value"] > 0
        assert m["streaming.batches"]["value"] > 0
        assert m["operators.write.streaming_table.cdc_s"]["value"] > 0
        assert m["first.operators.transform.knn_s"]["value"] > 0
        assert m["rerun.streaming.batches"]["value"] == 0
    else:
        assert m["first_s"]["value"] > m["work_p50_s"]["value"] > m["rerun_p50_s"]["value"] > 0
