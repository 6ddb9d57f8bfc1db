"""bench.py's previous-record lookup: recovering query times from a
BENCH_r{N}.json wrapper whose stdout tail cut the metric line's head."""

from __future__ import annotations

import importlib.util
import json
import os
import shutil

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture()
def bench(monkeypatch, tmp_path):
    spec = importlib.util.spec_from_file_location(
        "bench_under_test", os.path.join(REPO, "bench.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    monkeypatch.setattr(mod, "REPO", str(tmp_path))
    return mod


def test_truncated_r04_tail_recovers_float_query_times(bench, tmp_path):
    """r04's tail starts inside "queries": everything but the cut first
    query comes back, as numbers."""
    shutil.copy(os.path.join(REPO, "BENCH_r04.json"), tmp_path)
    name, doc = bench.previous_bench()
    assert name == "BENCH_r04.json"
    queries = doc["queries"]
    assert len(queries) > 10
    assert all(type(v) is float for v in queries.values())
    assert queries["pit_window_agg"] == 4.489
    assert doc["prev_bench"] == "BENCH_r03.json"


def test_tail_cut_inside_per_run_lists_gives_no_prior(bench, tmp_path):
    """A cut just inside the per-run "samples" lists also parses once a
    queries opener is prepended — with lists posing as query times.  That
    must give no prior, not a dict whose deltas subtract a list."""
    with open(os.path.join(REPO, "BENCH_r06.json")) as f:
        line = json.dumps(json.load(f)["parsed"])
    first = next(iter(json.loads(line)["samples"]))
    cut = line.index(f'"samples": {{"{first}":') + len(
        f'"samples": {{"{first}":'
    )
    tail = "spark log noise\n" + line[cut:] + "\n"
    # the recovery really does parse here: the guard is what rejects it
    assert isinstance(
        json.loads('{"queries": {"__truncated__":' + line[cut:])[
            "queries"]["__truncated__"],
        list,
    )
    with open(tmp_path / "BENCH_r07.json", "w") as f:
        json.dump({"n": 7, "tail": tail}, f)
    assert bench.previous_bench() == (None, {})
