"""Tests for the benchmark itself: seeded inputs, output checks, metric
names and the refusal to run outside a repository checkout.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import pandas as pd
import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REPO = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, REPO)

import gen  # noqa: E402
from checks import frame_hash, query_mismatches, stats_mismatches  # noqa: E402


def _digest(root: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.md5(fh.read()).hexdigest()
    return out


def _rows(root: str) -> dict[str, int]:
    """Records per input file: JSONL lines, JSON dump items, parquet rows."""
    import pyarrow.parquet as pq

    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            rel = os.path.relpath(p, root)
            if f.endswith(".parquet"):
                out[rel] = pq.read_metadata(p).num_rows
            elif f.endswith(".jsonl"):
                with open(p, encoding="utf-8") as fh:
                    out[rel] = sum(1 for _ in fh)
            else:
                with open(p, encoding="utf-8") as fh:
                    data = json.load(fh)
                out[rel] = len(data["items"] if isinstance(data, dict) else data)
    return out


def _make(kind: str, out: str, seed: int) -> dict:
    if kind == "unify":
        return gen.make_unify(out, seed, n_canon=300)
    if kind == "curate":
        return gen.make_curate(out, seed, n_good=120)
    return {"rows": gen.make_tables(out, seed, n_lineitem=3000)}


KINDS = ("unify", "curate", "tables")


@pytest.mark.parametrize("kind", KINDS)
def test_same_seed_same_inputs_and_truth(kind, tmp_path):
    a = _make(kind, str(tmp_path / "a"), 7)
    b = _make(kind, str(tmp_path / "b"), 7)
    assert a == b
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))


@pytest.mark.parametrize("kind", KINDS)
def test_other_seed_other_bytes_same_size(kind, tmp_path):
    _make(kind, str(tmp_path / "a"), 7)
    _make(kind, str(tmp_path / "b"), 8)
    da, db = _digest(str(tmp_path / "a")), _digest(str(tmp_path / "b"))
    assert sorted(da) == sorted(db)
    assert all(da[f] != db[f] for f in da if f not in ("region.parquet", "nation.parquet"))
    assert _rows(str(tmp_path / "a")) == _rows(str(tmp_path / "b"))


def test_unify_truth_is_consistent(tmp_path):
    t = gen.make_unify(str(tmp_path), 3, n_canon=300)
    s = t["stats"]
    assert s["output"] == 300 and s["filtered"] == s["input"] - 300
    assert s["splits"] == {"train": 270, "validation": 15, "test": 15}
    assert t["corrupt_lines"] > 0


def test_curate_near_dup_truth(tmp_path):
    t = gen.near_dup_truth(gen.make_curate(str(tmp_path), 3, n_good=120))
    s = t["stats"]
    # mirror families alone contribute (1 + 2 + 3) * n / 3 duplicates
    assert s["near_dups"] >= 4
    assert 0 < t["verified_pairs"] <= t["candidate_pairs"]
    assert s["output"] + s["failed_c4"] + s["failed_repetition"] + s["contaminated"] \
        + s["near_dups"] + s["url_dups"] + s["domain_capped"] == s["input"]


def test_stats_check_catches_corruption():
    want = {"input": 10, "output": 7, "splits": {"train": 6, "test": 1}}
    assert stats_mismatches(dict(want), want) == []
    bad = dict(want, splits={"train": 5, "test": 2})
    assert stats_mismatches(bad, want) == ["splits: got {'train': 5, 'test': 2}, "
                                           "want {'train': 6, 'test': 1}"]
    assert stats_mismatches(dict(want, output=8), want)


def test_query_check_catches_corruption():
    good = pd.DataFrame({"b": [2.5, 1.0], "a": ["x", "y"]})
    # row and column order do not matter; one changed cell does
    same = good.iloc[::-1][["a", "b"]]
    bad = good.copy()
    bad.loc[0, "b"] = 2.51
    want = {"q1": frame_hash(good)}
    assert query_mismatches({"q1": frame_hash(same)}, want) == []
    assert query_mismatches({"q1": frame_hash(bad)}, want) == ["q1"]
    assert query_mismatches({}, want) == ["q1"]


def test_metric_names_match_benchmark_json():
    import run

    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    from workloads import WORKLOADS

    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)


def test_refuses_to_run_outside_a_checkout(tmp_path):
    import shutil

    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "unify", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert out.returncode != 0
    assert out.stdout.strip() == ""
