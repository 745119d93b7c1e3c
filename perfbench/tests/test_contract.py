"""Contract tests of the benchmark itself (no Spark session needed).

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import subprocess
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
sys.path[:0] = [ROOT, BENCH_DIR]

import checks  # noqa: E402
import fixture  # noqa: E402
import run as runner  # noqa: E402
import workloads  # noqa: E402
from spans import Tracer, self_times, subtree  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


@pytest.fixture(scope="module")
def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _fake_run(tmp_path) -> workloads.Run:
    """A finished run without Spark: two timed operations, one layer
    record each."""
    run = workloads.Run(1, 1.0, str(tmp_path), None, 0.5)
    run.walls = [0.2, 0.4]
    run.window_s = 0.6
    run.setup_s = 3.0
    run.setup.update({"session.start_s": 1.0, "self.catalog": 0.5, "jobs.catalog": 2})
    run.records = [
        {"self.queries": 0.1, "jobs": 3, "run_ms": 40, "cpu_ms": 30,
         "rows_written": 100, "inserted": 2},
        {"self.queries": 0.3, "jobs": 5, "run_ms": 60, "cpu_ms": 20,
         "rows_written": 300, "inserted": 2},
    ]
    return run


def test_names_are_well_formed_and_unique(spec):
    names = [w["name"] for w in spec["workloads"]]
    names += [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert all(NAME.fullmatch(n) for n in names)
    assert len(names) == len(set(names))
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert UNIT.fullmatch(m["unit"]), m
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_workloads_agree_with_benchmark_json(spec):
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)


def test_metrics_agree_with_benchmark_json_and_carry_units(spec, tmp_path):
    run = _fake_run(tmp_path)
    for key, metrics in (
        ("end_to_end", workloads.end_to_end_metrics(run)),
        ("per_layer", workloads.layer_metrics(run, 1234.5)),
    ):
        out = runner.result(run, metrics, spec[key])
        assert set(out) == {"correct", "attempted", "failed", "metrics"}
        assert set(out["metrics"]) == {m["name"] for m in spec[key]}
        for m in spec[key]:
            got = out["metrics"][m["name"]]
            assert got["unit"] == m["unit"]
            assert isinstance(got["value"], (int, float))


def test_result_rejects_a_metric_set_that_differs(spec, tmp_path):
    run = _fake_run(tmp_path)
    metrics = workloads.end_to_end_metrics(run)
    metrics.pop("setup_s")
    with pytest.raises(ValueError):
        runner.result(run, metrics, spec["end_to_end"])


def test_layer_ratios(tmp_path):
    m = workloads.layer_metrics(_fake_run(tmp_path), 1.0)
    assert m["exec.jobs"] == 4
    assert m["exec.wait_share"] == pytest.approx(0.5)
    assert m["daily_write_amplification"] == pytest.approx(100.0)
    assert m["sinks.useful_row_ratio"] == pytest.approx(0.01)
    assert m["trace.op_p50_s"] == pytest.approx(0.3)


def _digest(directory: str) -> dict[str, str]:
    out = {}
    for name in sorted(os.listdir(directory)):
        with open(os.path.join(directory, name), "rb") as f:
            out[name] = hashlib.sha256(f.read()).hexdigest()
    return out


def _inputs(d, seed: int) -> dict:
    cutoff = workloads.history_cutoff(seed)
    fixture.generate(str(d / "full"), seed, 0.001)
    kept = fixture.write_prefix(str(d / "full"), str(d / "prefix"), cutoff)
    rounds = workloads.query_rounds(seed)
    return {
        "cutoff": cutoff,
        "query_order": [next(rounds) for _ in range(3)],
        "prefix_rows": kept,
        "files": _digest(str(d / "full")),
    }


def test_same_seed_same_inputs_other_seed_other_inputs(tmp_path):
    a, b, c = (_inputs(tmp_path / tag, seed) for tag, seed in (("a", 7), ("b", 7), ("c", 8)))
    assert a == b
    for key in ("cutoff", "query_order", "prefix_rows", "files"):
        assert a[key] != c[key], key


def test_result_hash_is_order_insensitive():
    df = pd.DataFrame({"b": [2.0, 1.0, None], "a": ["x", "y", "z"]})
    shuffled = df.iloc[[2, 0, 1]][["a", "b"]]
    assert checks.result_hash(df) == checks.result_hash(shuffled)
    assert checks.result_hash(df) != checks.result_hash(df.iloc[:2])


def test_corrupted_expected_hash_is_counted_as_failed():
    df = pd.DataFrame({"month": ["2001-06"], "n": [3]})
    results = [("qa", checks.result_hash(df)), ("qb", checks.result_hash(df.head(0)))]
    expected = dict(results)
    assert checks.count_failures(results, expected) == 0
    corrupted = {**expected, "qa": "0" * 64}
    failed = checks.count_failures(results, corrupted)
    assert failed == 1
    assert failed / len(results) > 0


def test_self_time_subtracts_children():
    tr = Tracer()
    with tr.span("cli.main"):
        with tr.span("sinks.write_partitioned"):
            pass
        with tr.span("catalog.violations"):
            with tr.span("catalog.base"):
                pass
    own = self_times(tr.spans)
    by_name = {s["name"]: s for s in tr.spans}
    root = by_name["cli.main"]
    children = [s for s in tr.spans if s["parent"] == root["id"]]
    assert own[root["id"]] == pytest.approx(
        root["end"] - root["start"] - sum(s["end"] - s["start"] for s in children)
    )
    assert sum(own.values()) == pytest.approx(root["end"] - root["start"])
    assert {s["layer"] for s in tr.spans} == {"cli", "sinks", "catalog"}
    assert {s["name"] for s in subtree(tr.spans, "catalog.violations")} == {
        "catalog.violations", "catalog.base"}


def test_fails_without_the_program(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark, a
    run exits non-zero and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "reference_queries",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
