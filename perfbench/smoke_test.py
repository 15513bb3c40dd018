"""Smoke test of the benchmark at the smallest input scale (sf0.001).

    python3 perfbench/smoke_test.py            # from the repository root
    python3 -m pytest -q perfbench/smoke_test.py

Each workload runs for two seconds with ``--size smoke``, once untraced
and once traced.  Every run must print, as its last stdout line, every
metric BENCHMARK.json declares for that mode, each with its declared
unit, and report correct outputs.  One untraced run of each workload
uses ``--break-check`` (one check expects a wrong value) and must count
failed operations and report ``correct: false``.  Finally the benchmark
must refuse, with a non-zero exit code and no result line, to run in a
directory that holds only BENCHMARK.json and the benchmark's own files.
Takes about five minutes.
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import subprocess
import sys
import tempfile

ROOT = os.getcwd()
RUN = os.path.join("perfbench", "run.py")
WORKLOADS = ("rag_serve", "batch_mix")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    cmd = [sys.executable, RUN, "--seconds", "2", *args]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def _result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@functools.cache
def _smoke_run(workload: str, trace: str) -> tuple[dict, dict]:
    """(summary, result) of one smoke-scale run, shared by the tests."""
    proc = _run(ROOT, "--workload", workload, "--seed", "3", "--trace", trace,
                "--size", "smoke")
    res = _result(proc)
    return json.loads(proc.stdout.strip().splitlines()[-2]), res


def _assert_metrics(result: dict, declared: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1
    got = result["metrics"]
    assert set(got) == {m["name"] for m in declared}
    for m in declared:
        assert got[m["name"]]["unit"] == m["unit"], m["name"]
        assert isinstance(got[m["name"]]["value"], float), m["name"]


def test_every_metric_printed_with_unit() -> None:
    spec = _spec()
    for workload in WORKLOADS:
        for trace, key in (("0", "end_to_end"), ("1", "per_layer")):
            _, res = _smoke_run(workload, trace)
            _assert_metrics(res, spec[key])
            if key == "end_to_end":
                assert all(v["value"] > 0 for v in res["metrics"].values()), res


def test_outputs_correct() -> None:
    for workload in WORKLOADS:
        for trace in ("0", "1"):
            summary, res = _smoke_run(workload, trace)
            assert res["correct"] and res["failed"] == 0, (
                workload, trace, summary["oracle_problems"], res["failed"])


def test_wrong_expected_value_counts_as_failed_op() -> None:
    for workload in WORKLOADS:
        proc = _run(ROOT, "--workload", workload, "--seed", "3", "--trace", "0",
                    "--size", "smoke", "--break-check")
        res = _result(proc)
        _assert_metrics(res, _spec()["end_to_end"])
        summary = json.loads(proc.stdout.strip().splitlines()[-2])
        assert res["failed"] >= 1 and res["correct"] is False, (workload, res)
        assert summary["failed_op_ratio"] == res["failed"] / res["attempted"]


def test_refuses_to_run_without_the_package() -> None:
    bare = tempfile.mkdtemp(prefix="perfbench-bare-")
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        proc = _run(bare, "--workload", "rag_serve", "--seed", "1", "--trace", "0")
        assert proc.returncode != 0
        assert '"metrics"' not in proc.stdout
    finally:
        shutil.rmtree(bare)


if __name__ == "__main__":
    failed = 0
    for test in (test_refuses_to_run_without_the_package,
                 test_wrong_expected_value_counts_as_failed_op,
                 test_every_metric_printed_with_unit,
                 test_outputs_correct):
        try:
            test()
            print(f"ok    {test.__name__}", flush=True)
        except AssertionError as exc:
            failed += 1
            print(f"FAIL  {test.__name__}: {exc}", flush=True)
    sys.exit(1 if failed else 0)
