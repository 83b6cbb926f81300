"""Self-test of the benchmark at tiny input sizes.

    python3 -m pytest perfbench/test_perfbench.py -q

Runs every workload once untraced and once traced (a few minutes on a
4-core host) and checks that each metric named in BENCHMARK.json is
emitted, finite and carries its unit, and that correctness passes. Also
checks that the seed drives the op stream but not the op-type mix.
"""

from __future__ import annotations

import collections
import json
import math
import os
import shutil
import subprocess
import sys
import tempfile

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)
WORKLOADS = [w["name"] for w in BENCH["workloads"]]


def test_metric_lists_match_benchmark_json():
    import run
    import tracing
    assert [(m["name"], m["unit"]) for m in BENCH["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"]) for m in BENCH["per_layer"]] == tracing.PER_LAYER


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_tiny_run_emits_every_metric(workload, trace):
    cmd = BENCH["command"] + ["--workload", workload, "--seed", "3", "--seconds", "1",
                              "--trace", str(trace), "--scale", "tiny"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    want = BENCH["per_layer" if trace else "end_to_end"]
    assert set(res["metrics"]) == {m["name"] for m in want}
    for m in want:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float)) and math.isfinite(got["value"])


def _stream(workload, seed, work):
    from workloads import WORKLOADS as W
    wl = W[workload](seed, "tiny", os.path.join(work, str(seed)))
    wl.generate(n_blocks=3)
    return wl


@pytest.mark.parametrize("workload", WORKLOADS)
def test_seed_changes_stream_not_mix(workload):
    os.makedirs(os.path.join(HERE, "_work"), exist_ok=True)
    work = tempfile.mkdtemp(dir=os.path.join(HERE, "_work"))
    try:
        a, b = _stream(workload, 1, work), _stream(workload, 2, work)
    finally:
        shutil.rmtree(work)
    for wl in (a, b):
        per_block = collections.defaultdict(collections.Counter)
        for blk, op in wl.stream:
            per_block[blk][op.kind] += 1
        assert all(c == collections.Counter(dict(wl.mix)) for c in per_block.values())
    ka = [(op.kind, op.params) for _, op in a.stream]
    kb = [(op.kind, op.params) for _, op in b.stream]
    assert ka != kb
    assert not (a.xs == b.xs).all()
