"""Smoke test of the benchmark itself, at sf0.01 with one short pass.

    python3 -m pytest perfbench/test_smoke.py -q

Checks that every metric BENCHMARK.json names is printed with its unit,
that a seed reproduces its inputs and outputs exactly, that another
seed gives other inputs, and that seed 0 gives the sf0.1 test data.  Takes a few minutes: it starts Spark twice
per workload.
"""

from __future__ import annotations

import json
import re
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import inputs  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
OP_LINE = re.compile(r"^  op (\S+): rows=(-?\d+) hash=(-?\d+) ")


def bench(workload: str, seed: int, trace: int) -> tuple[dict, dict[str, tuple[str, str]]]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "0", "--trace", str(trace), "--sf", "0.01"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    ops = {m[1]: (m[2], m[3]) for m in map(OP_LINE.match, lines) if m}
    return json.loads(lines[-1]), ops


def test_seed_reproduces_inputs_and_other_seed_changes_them():
    a, b, c = (inputs.tables(s, sf=0.01) for s in (7, 7, 8))
    assert a.keys() == b.keys() == c.keys()
    assert all(a[t].equals(b[t]) for t in a)
    for t in ("lineitem", "orders", "customer", "documents", "embeddings"):
        assert not a[t].equals(c[t]), t


def test_seed_zero_is_the_sf01_test_data():
    t = inputs.tables(0)
    li = t["lineitem"]
    # checksums of the sf0.1 test data's lineitem keys
    assert li.num_rows == 600_000
    assert int(li["l_orderkey"].to_numpy().sum()) == 44_987_812_788
    assert int(li["l_linenumber"].to_numpy().sum()) == 2_400_337
    assert (t["documents"].num_rows, t["embeddings"].num_rows) == (5_000, 2_000)


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_one_short_pass(workload):
    e2e, ops = bench(workload, seed=7, trace=0)
    assert set(e2e) == {"correct", "attempted", "failed", "metrics"}
    assert e2e["correct"] and e2e["failed"] == 0 and e2e["attempted"] >= 1
    for m in SPEC["end_to_end"]:
        got = e2e["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and got["value"] > 0, m["name"]

    traced, ops_again = bench(workload, seed=7, trace=1)
    assert traced["correct"]
    for m in SPEC["per_layer"]:
        got = traced["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and isinstance(got["value"], float), m["name"]
    assert ops and ops_again == ops
