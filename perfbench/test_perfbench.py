"""The benchmark's own tests.

    python3 -m pytest perfbench -q

The two end-to-end tests run all three workloads at benchmark size
(about four minutes together on 4 cores); the rest run without Spark.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
import types

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def _digest(directory: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(directory)):
        with open(os.path.join(directory, name), "rb") as fh:
            h.update(name.encode() + fh.read())
    return h.hexdigest()


def test_generators_are_seeded(tmp_path):
    for seed in (1, 1, 2):
        gen.write_raw_trips(str(tmp_path / f"raw{seed}"), seed, 600)
        gen.write_cdc_events(str(tmp_path / f"cdc{seed}"), seed, 300, 2)
        gen.write_lake(str(tmp_path / f"lake{seed}"), seed, 0.0005)
    for kind in ("raw", "cdc", "lake"):
        assert _digest(str(tmp_path / f"{kind}1")) != _digest(str(tmp_path / f"{kind}2"))
    again = tmp_path / "again"
    gen.write_cdc_events(str(again), 1, 300, 2)
    assert _digest(str(again)) == _digest(str(tmp_path / "cdc1"))


def test_entry_sample_is_fixed_and_batch_only():
    from nyc_taxi_data_pipeline_spark.plans.queries import REGISTRY

    a = gen.sample_entries(REGISTRY, workloads.ADHOC_PER_STRATUM, workloads.ADHOC_SAMPLE_SEED)
    b = gen.sample_entries(REGISTRY, workloads.ADHOC_PER_STRATUM, workloads.ADHOC_SAMPLE_SEED)
    assert a == b
    assert len(a) == sum(workloads.ADHOC_PER_STRATUM.values())
    assert {gen.stratum(REGISTRY[n]) for n in a} == set(workloads.ADHOC_PER_STRATUM)
    assert not any(n.startswith("streaming_") for n in a)


def test_harness_check_covers_every_entry_without_value_ties():
    from nyc_taxi_data_pipeline_spark.plans.queries import REGISTRY

    sample = gen.sample_entries(REGISTRY, workloads.ADHOC_PER_STRATUM, workloads.ADHOC_SAMPLE_SEED)
    picked = {workloads.harness_entry(sample, seed) for seed in range(len(sample))}
    assert picked == set(sample) - set(workloads.VALUE_TIE_ENTRIES)


def _workload(cls, tmp_path):
    bench = types.SimpleNamespace(spark=None, work=str(tmp_path), progress=object())
    wl = cls(bench)
    wl.generate(5)
    return wl


def test_etl_gate_expects_the_distance_outliers(tmp_path, monkeypatch):
    """The raw trips carry FIXTURES section 1's few trip distances over 100;
    the gate wants exactly the staging violations DuckDB predicts."""
    wl = _workload(workloads.EtlJobs, tmp_path)
    monkeypatch.setattr(wl, "expected_curation", dict)  # needs Spark; not under test
    want = wl.expected_elt()
    assert want["quality"]["trip_distance_between_0_100"] > 0
    good = {"ops": [{"kind": "elt_job", "obs": want}]}
    assert wl.check([good]) == [] and good["ops"][0]["ok"]

    quiet = dict(want, quality=dict(want["quality"], trip_distance_between_0_100=0))
    bad = {"ops": [{"kind": "elt_job", "obs": quiet}]}
    assert wl.check([bad]) and not bad["ops"][0]["ok"]


def test_cdc_gate_rejects_a_dropped_sink_row(tmp_path):
    wl = _workload(workloads.CdcStream, tmp_path)
    want = wl.expected()
    good = {"ops": [{"kind": "cdc_drain", "obs": want["rows"]},
                    {"kind": "window_drain", "obs": set(want["windows"])}]}
    assert wl.check([good]) == []
    assert all(op["ok"] for op in good["ops"])

    dropped = {"ops": [{"kind": "cdc_drain", "obs": want["rows"] - 1},
                       {"kind": "window_drain", "obs": set(want["windows"])}]}
    errors = wl.check([dropped])
    assert errors and "sink rows" in errors[0]
    assert not dropped["ops"][0]["ok"]


def test_cdc_gate_rejects_a_changed_window_count(tmp_path):
    wl = _workload(workloads.CdcStream, tmp_path)
    want = wl.expected()
    start, key, n = sorted(want["windows"])[0]
    windows = (set(want["windows"]) - {(start, key, n)}) | {(start, key, n - 1)}
    bad = {"ops": [{"kind": "window_drain", "obs": windows}]}
    assert wl.check([bad]) and not bad["ops"][0]["ok"]


def test_refuses_to_run_without_the_engine(tmp_path):
    """With only BENCHMARK.json and the benchmark directory present, the
    command fails fast and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for path in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, path), tmp_path / path,
                        ignore=shutil.ignore_patterns("__pycache__"))
    cmd = SPEC["command"] + ["--workload", SPEC["workloads"][0]["name"], "--seed", "1",
                             "--seconds", "1", "--trace", "0"]
    proc = subprocess.run(cmd, cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert proc.returncode != 0
    assert "{" not in proc.stdout


def _run_all(trace: int) -> tuple[list[str], dict]:
    cmd = SPEC["command"] + ["--workload", "all", "--seed", "3", "--seconds", "1",
                             "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=1500)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    return lines, result


@pytest.mark.parametrize("trace, key", [(0, "end_to_end"), (1, "per_layer")])
def test_run_prints_every_metric(trace, key):
    lines, result = _run_all(trace)
    for w in SPEC["workloads"]:
        for m in SPEC[key]:
            got = result["metrics"][f"{w['name']}.{m['name']}"]
            assert got["unit"] == m["unit"]
            assert isinstance(got["value"], float)
        assert any(line.startswith(f"perfbench {w['name']}:") for line in lines)
