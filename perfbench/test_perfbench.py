"""Tests of the benchmark itself: seeded generation and tiny end-to-end
runs of every workload.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def _tables(root: str) -> dict:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                out[os.path.relpath(p, root)] = pq.read_table(p)
    return out


def _generate(tmp_path, workload: str, seed: int, tag: str) -> dict:
    return _tables(gen.generate(workload, seed, str(tmp_path / tag), gen.TINY)["root"])


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_same_seed_gives_identical_tables(tmp_path, workload):
    a = _generate(tmp_path, workload, 7, "a")
    b = _generate(tmp_path, workload, 7, "b")
    assert a.keys() == b.keys() and a
    for k in a:
        assert a[k].equals(b[k]), k


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_different_seed_gives_different_tables(tmp_path, workload):
    a = _generate(tmp_path, workload, 7, "a")
    b = _generate(tmp_path, workload, 8, "b")
    assert a.keys() == b.keys()
    for k in a:
        assert not a[k].equals(b[k]), k


def test_properties_report_the_stated_parameters(tmp_path):
    layout = gen.generate("dedup_asof", 3, str(tmp_path), gen.TINY)
    props = gen.properties("dedup_asof", layout, gen.TINY)
    assert props["params"]["vocab"] == gen.TINY.vocab
    assert props["docs"] == gen.TINY.n_docs
    assert props["images"] == gen.TINY.n_images
    assert props["exact_dup_docs"] > 0
    assert 0 < props["top_entity_share"] < 1


def _run(*args, cwd=ROOT):
    return subprocess.run([sys.executable, "perfbench/run.py", *args],
                          cwd=cwd, capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_tiny_run_prints_every_named_metric(workload, trace):
    r = _run("--workload", workload, "--seed", "1", "--seconds", "1",
             "--trace", str(trace), "--tiny")
    assert r.returncode == 0, r.stderr[-3000:]
    res = json.loads(r.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0, r.stderr[-3000:]
    want = SPEC["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in res["metrics"].items()} == \
        {m["name"]: m["unit"] for m in want}
    if not trace:
        assert all(v["value"] > 0 for v in res["metrics"].values())


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    r = _run("--workload", "annotate", "--seed", "1", "--seconds", "1",
             "--trace", "0", cwd=tmp_path)
    assert r.returncode != 0
    assert '"correct"' not in r.stdout
