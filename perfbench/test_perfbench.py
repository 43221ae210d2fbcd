"""The benchmark's own tests, at toy input sizes.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import subprocess
import sys
import time

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import compare  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def _run(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=600)


def _result(p: subprocess.CompletedProcess) -> dict:
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def _leftovers() -> list[str]:
    """Processes still running with a run's environment: every process a
    run starts (JVM, Python workers, resource tracker) inherits its TMPDIR."""
    mark = f"TMPDIR={os.path.join(run.WORK, 'tmp')}".encode()
    found = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/environ", "rb") as f:
                if mark in f.read().split(b"\0"):
                    with open(f"/proc/{pid}/cmdline", "rb") as c:
                        found.append(f"{pid} {c.read()[:120]!r}")
        except OSError:
            pass
    return found


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_workload_runs_end_to_end(workload):
    res = _result(_run("--workload", workload, "--seed", "5", "--seconds", "1",
                       "--trace", "0", "--size", "toy"))
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert set(res["metrics"]) == {m["name"] for m in BENCH["end_to_end"]}
    assert all(m["value"] > 0 for m in res["metrics"].values())
    assert not _leftovers()


def test_traced_run_reports_every_layer():
    res = _result(_run("--workload", "extract_mixed", "--seed", "6", "--seconds", "1",
                       "--trace", "1", "--size", "toy"))
    assert res["correct"] and res["failed"] == 0
    units = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == units
    assert res["metrics"]["runner.buckets_redone"]["value"] == workloads.N_BUCKETS - workloads.FAIL_BUCKET
    assert not _leftovers()


def test_terminated_run_leaves_no_process():
    p = subprocess.Popen([sys.executable, "perfbench/run.py", "--workload", "extract_mixed",
                          "--seed", "8", "--seconds", "1", "--trace", "0", "--size", "toy"],
                         cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    try:
        deadline = time.monotonic() + 300
        # wait until the JVM has forked its Python workers' daemon
        while not any("pyspark.daemon" in l for l in _leftovers()) and time.monotonic() < deadline:
            assert p.poll() is None
            time.sleep(0.5)
        p.terminate()
        out, _ = p.communicate(timeout=120)
    finally:
        p.kill()
        p.wait()
    assert p.returncode == 128 + signal.SIGTERM
    assert '"metrics"' not in out
    assert not _leftovers()


def test_fails_without_the_library(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = _run("--workload", "extract_mixed", "--seed", "1", "--seconds", "1", "--trace", "0",
             cwd=str(tmp_path))
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


@pytest.fixture(scope="module")
def ctx():
    run._confine_to_tree()
    c = run.Context("extract_mixed", seed=7, size="toy", trace=False)
    os.makedirs(c.data_dir, exist_ok=True)
    warm = os.path.join(c.data_dir, "warm.parquet")
    import corpora

    corpora.write_parquet(corpora.warmup_table(7), warm)
    c.start(warm)
    yield c
    c.stop()
    run._reap_descendants()  # the reference pool's resource tracker
    shutil.rmtree(c.data_dir, ignore_errors=True)


def test_corrupted_reference_digest_is_a_mismatch(ctx):
    st = workloads.prepare(ctx, "extract_mixed")
    clean = workloads.Outcome()
    workloads.check_extract(ctx, st, clean)
    assert clean.mismatched == 0 and clean.rows > 0

    key = sorted(st["ref"].turns)[0]
    seq, _, spans = st["ref"].turns[key]
    st["ref"].turns[key] = (seq, "0" * 32, spans)
    bad = workloads.Outcome()
    workloads.check_extract(ctx, st, bad)
    assert bad.mismatched == 1
    assert bad.mismatched / bad.rows > 0

    st["ref"].aggregates["chars_extracted"] += 1
    timed = workloads.Outcome()
    workloads.call_extract(ctx, st, timed)
    assert timed.mismatched == 1


def test_oracle_row_difference_is_counted():
    a = pd.DataFrame({"doc_id": [1, 2, 3], "score": [0.5, 0.25, 1.0]})
    assert workloads._mismatched_rows(a, a.iloc[::-1].copy()) == 0
    b = a.copy()
    b.loc[1, "score"] = 0.2500001
    assert workloads._mismatched_rows(a, b) == 1
    assert workloads._mismatched_rows(a, b.iloc[:2]) == 3


def test_compare_refuses_different_core_counts(tmp_path):
    for name, cores in (("a.json", 4), ("b.json", 32)):
        rec = {"workload": "extract_mixed", "trace": 0, "host": {"cores": cores},
               "end_to_end": {"wall_s": 1.0}}
        (tmp_path / name).write_text(json.dumps(rec))
    assert compare.main([str(tmp_path / "a.json"), str(tmp_path / "b.json")]) == 2
    assert compare.main([str(tmp_path / "a.json"), str(tmp_path / "a.json")]) == 0
