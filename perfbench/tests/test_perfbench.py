"""Self-test of the engine benchmark.

    python3 -m pytest perfbench/tests -q

Each workload runs one timed pass at scale 0.001 (a few minutes in
all). Checks: every declared metric is printed with its unit, no op
fails, count-type layer metrics repeat exactly for a fixed seed, and a
new seed changes the inputs and op order but not the verdict.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import datagen  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)

# per-layer counts that must repeat exactly for a fixed seed
COUNTS = [
    "session.configure_calls", "sources.load_table_calls",
    "queries.build_jobs", "exec.jobs", "exec.stages", "exec.tasks",
    "exec.reused_exchanges", "exec.broadcast_joins", "exec.result_rows",
    "functions.python_nodes", "functions.python_rows",
    "sink.rows_written", "sink.files_written",
]


def bench(workload: str, seed: int, trace: int, cwd: str = ROOT):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "0", "--trace", str(trace),
         "--scale", "0.001"],
        cwd=cwd, capture_output=True, text=True, timeout=600)
    return proc


def result(workload: str, seed: int, trace: int) -> dict:
    proc = bench(workload, seed, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def assert_metrics(res: dict, declared: list[dict]) -> None:
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    got = res["metrics"]
    assert set(got) == {m["name"] for m in declared}
    for m in declared:
        assert got[m["name"]]["unit"] == m["unit"], m["name"]
        assert isinstance(got[m["name"]]["value"], (int, float))


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_smoke(workload):
    res = result(workload, 1, 0)
    assert_metrics(res, SPEC["end_to_end"])
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    for m in SPEC["end_to_end"]:
        assert res["metrics"][m["name"]]["value"] > 0, m["name"]


@pytest.mark.parametrize("workload", ["pipeline_sf01", "sql_rw_small"])
def test_traced_counts_repeat(workload):
    a = result(workload, 5, 1)
    b = result(workload, 5, 1)
    assert_metrics(a, SPEC["per_layer"])
    assert a["failed"] == 0 and a["correct"]
    for name in COUNTS:
        assert a["metrics"][name]["value"] == b["metrics"][name]["value"], \
            name
    assert a["metrics"]["exec.jobs"]["value"] > 0
    if workload == "pipeline_sf01":
        assert a["metrics"]["functions.python_rows"]["value"] > 0
    else:
        assert a["metrics"]["sink.files_written"]["value"] > 0


def _digest(path: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def test_seed_changes_inputs_and_order(tmp_path):
    digests = {}
    for seed in (1, 1, 2):
        out = tmp_path / f"s{seed}"
        datagen.generate(str(out), seed, 0.001)
        digests.setdefault(seed, set()).add(_digest(str(out)))
    assert len(digests[1]) == 1            # same seed, same bytes
    assert digests[1] != digests[2]
    for name, make in WORKLOADS.items():
        w = make()
        order = {s: [op.text for op in w.pass_ops(s, 0)] for s in (1, 2)}
        assert order[1] != order[2], name
        assert order[1] == [op.text for op in w.pass_ops(1, 0)], name


def test_new_seed_keeps_verdict():
    res = result("sql_rw_small", 2, 0)
    assert res["correct"] and res["failed"] == 0


def test_refuses_without_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("_work", "_out",
                                                  "__pycache__"))
    proc = bench("olap_sf01", 1, 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert not proc.stdout.strip()
