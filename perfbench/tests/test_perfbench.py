"""Self-tests of the benchmark: generator determinism, the BENCHMARK.json
contract, and a small smoke run of every workload in both modes.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import math
import os
import re
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

import gen  # noqa: E402

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _tree(root: str) -> dict[str, bytes]:
    out = {}
    for dirpath, _dirs, names in os.walk(root):
        for n in names:
            path = os.path.join(dirpath, n)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = fh.read()
    return out


def test_release_is_a_function_of_the_seed(tmp_path):
    a = gen.write_release(str(tmp_path / "a"), seed=7, n_objects=300)
    b = gen.write_release(str(tmp_path / "b"), seed=7, n_objects=300)
    c = gen.write_release(str(tmp_path / "c"), seed=8, n_objects=300)
    assert _tree(a.root) == _tree(b.root)
    assert _tree(a.root) != _tree(c.root)
    assert (a.n_datoms, a.patched, a.card_one) == (b.n_datoms, b.patched, b.card_one)


def test_release_expectations_match_its_files(tmp_path):
    import gzip

    from db_migration_spark.sources.ace import parse_block

    r = gen.write_release(str(tmp_path / "r"), seed=3, n_objects=400)
    records, objects = [], set()
    for name in sorted(os.listdir(r.dumps)):
        with gzip.open(os.path.join(r.dumps, name), "rt") as fh:
            for block in fh.read().split("\n\n"):
                rows = parse_block(block)
                records += rows
                objects |= {(row[0], row[1]) for row in rows}
    assert len(records) == r.n_datoms
    assert sum(r.entities.values()) == len(objects) == r.n_objects
    # exactly one class disagrees with the catalog
    assert [c for c in r.entities if r.entities[c] != r.catalog_counts[c]] == [
        r.mismatch_class
    ]
    # every patch replaces a value the dumps already hold
    held = {(cls, obj, tuple(path)) for cls, obj, path, *_ in records}
    assert r.patched
    assert all((cls, obj, (attr,)) in held for cls, obj, attr in r.patched)


def test_benchmark_json_contract():
    spec = _spec()
    assert set(spec) == {
        "command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"
    }
    names = [w["name"] for w in spec["workloads"]]
    names += [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert all(NAME_RE.fullmatch(n) for n in names), names
    assert len(names) == len(set(names))
    from workloads import WORKLOADS

    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert UNIT_RE.fullmatch(m["unit"]) and m["better"] in ("lower", "higher")
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in spec["end_to_end"])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["migrate", "store"])
def test_smoke_run(workload, trace):
    out = subprocess.run(
        [
            sys.executable, os.path.join("perfbench", "run.py"),
            "--workload", workload, "--seed", "1", "--seconds", "1",
            "--trace", str(trace), "--scale", "0.05",
        ],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    spec = _spec()
    declared = spec["per_layer"] if trace else spec["end_to_end"]
    assert {m["name"]: m["unit"] for m in declared} == {
        k: v["unit"] for k, v in result["metrics"].items()
    }
    assert all(math.isfinite(v["value"]) for v in result["metrics"].values())
    got = {k: v["value"] for k, v in result["metrics"].items()}
    if not trace:
        assert all(v > 0 for v in got.values())
        return
    # the layers each workload is there to measure read non-zero
    assert got["catalyst.plan_s"] > 0 and got["spark.jobs"] > 0
    assert got["trace.overhead_frac"] != 0
    if workload == "migrate":
        steps = sum(v for k, v in got.items() if k.startswith("pipeline."))
        assert abs(steps - got["migrate.release_s"]) <= 0.1 * got["migrate.release_s"]
        assert got["sources.ace_records"] > 0 and got["sources.ace_rejects"] == 0
        assert got["streaming.batches"] >= 1 and got["streaming.state_rows"] > 0
        assert got["streaming.ace_import_s"] > 0 and got["streaming.add_batch_ms"] > 0
    else:
        assert got["txlog.checkpoint_s"] > 0 and got["txlog.merge_s"] > 0
        assert got["txlog.replay_s"] > 0 and got["txlog.prune_s"] > 0
        assert 0 < got["txlog.prune_ratio"] <= 1
