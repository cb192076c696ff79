"""bench.py's stdout line and the tools/ scripts — pure Python, no
SparkSession.

The driver records bench.py's last stdout line from a 2,000-char tail, so
the line must fit it and parse from it.  The tools are scripts no other
test imports, so a dangling import of a deleted helper would go unseen
until someone ran them: each one must import (its module level runs, its
``main`` does not), and none may name the absolute path of the checkout
it lives in.
"""

from __future__ import annotations

import glob
import importlib.util
import json
import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import compact_line  # noqa: E402

TOOLS = sorted(glob.glob(os.path.join(REPO, "tools", "*.py")))


def _suite_out(queries: dict) -> dict:
    """A bench.py result dict with every field a real run emits."""
    return {
        "metric": "bank+pipeline suite wall time",
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "queries": queries,
        "sf": "0.1",
        "cpus": 32,
        "n_keys": 10_000_000,
        "coherent_sample": True,
        "pass_totals": [123.456, 124.567],
        "build_xor8_keys_per_sec": 34722222.2,
        "build_fuse8_keys_per_sec": 37593984.9,
        "xor8_bits_per_key": 9.846,
        "fuse8_bits_per_key": 9.748,
        "fuse8_auto_shards": 16,
        "fuse8_bits_per_key_auto": 9.123,
        "fuse8x4_build_sec": 12.345,
        "fuse8x4_bits_per_key_auto": 8.765,
        "xor16_build_sec": 12.345,
        "xor16_bits_per_key": 19.692,
        "fuse16x4_build_sec": 12.345,
        "fuse16x4_bits_per_key_auto": 17.53,
        "probe_keys_per_sec": 12987012.9,
        "xor8_fpp": 0.003894,
        "probe_cogroup_keys_per_sec": 3030303.0,
        "probe_cogroup_wide_keys_per_sec": 4149377.6,
    }


SUITE = (
    "q1_build_xor8", "q2_build_fuse8", "q3_probe", "q4_fpp",
    "q5_pages_pipeline", "q6_minhash_lsh", "q7_sketches", "q8_cosine_topk",
    "q9_probe_cogroup", "q10_probe_cogroup_wide",
)


def _from_tail(line: str) -> dict:
    """What the driver parses: the last line of a 2,000-char stdout tail."""
    tail = ("x" * 5000 + "\n" + line + "\n")[-2000:]
    return json.loads(tail.splitlines()[-1])


def test_compact_line_fits_driver_tail_budget():
    out = _suite_out({q: 123.456 for q in SUITE})
    line = compact_line(out)
    assert len(line) <= 1500
    # the real suite fits whole: no field is trimmed
    assert _from_tail(line) == out


def test_compact_line_trims_pathological_payload():
    queries = {f"q{i}_some_longish_query_name": round(0.123 + i, 3)
               for i in range(30)}
    line = compact_line(_suite_out(queries))
    assert len(line) <= 1500
    rec = _from_tail(line)
    assert rec["value"] == round(sum(queries.values()), 3)
    assert rec["queries"] == queries


@pytest.mark.parametrize("path", TOOLS, ids=os.path.basename)
def test_tool_imports(path, monkeypatch):
    # under pytest's own argv: a tool parses its arguments in main() only.
    # Tools extend sys.path at import.
    monkeypatch.setattr(sys, "path", list(sys.path))
    spec = importlib.util.spec_from_file_location("_tool_under_test", path)
    spec.loader.exec_module(importlib.util.module_from_spec(spec))


@pytest.mark.parametrize(
    "path", TOOLS + [os.path.join(REPO, "bench.py")], ids=os.path.basename
)
def test_script_derives_paths_from_its_location(path):
    with open(path, encoding="utf-8") as f:
        assert REPO not in f.read()
