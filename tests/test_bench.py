"""The BENCH_SELF.json capture writer in bench.py (no Spark session)."""

from __future__ import annotations

import json

import pytest

import bench


@pytest.fixture
def capture(tmp_path, monkeypatch):
    path = tmp_path / "BENCH_SELF.json"
    monkeypatch.setattr(bench, "BENCH_SELF", str(path))
    return path


def test_merging_one_section_keeps_the_others(capture):
    capture.write_text(
        json.dumps(
            {
                "value": 1.0,
                "queries": {"q1": 1.0},
                "scaling": {"n": 1},
                "streaming": {"n": 2},
            }
        )
    )

    bench._merge_capture("duck_anchor", {"n": 3})
    assert json.loads(capture.read_text()) == {
        "value": 1.0,
        "queries": {"q1": 1.0},
        "scaling": {"n": 1},
        "streaming": {"n": 2},
        "duck_anchor": {"n": 3},
    }

    # A headline write replaces the top-level fields, stale ones included,
    # and keeps every side section.
    bench._merge_capture("headline", {"value": 2.0})
    assert json.loads(capture.read_text()) == {
        "value": 2.0,
        "scaling": {"n": 1},
        "streaming": {"n": 2},
        "duck_anchor": {"n": 3},
    }

    bench._merge_capture("scaling", None)
    assert "scaling" not in json.loads(capture.read_text())


@pytest.mark.parametrize("content", [None, "{not json"])
def test_missing_or_corrupt_file_starts_empty(capture, content):
    if content is not None:
        capture.write_text(content)
    assert bench._read_capture() == {}

    bench._merge_capture("streaming", {"n": 1})
    assert json.loads(capture.read_text()) == {"streaming": {"n": 1}}


def test_scaling_100x_partial_merges_accumulate(capture):
    fast = {"sf0.1": 1.0, "sf10": 90.0, "ratio": 90.0, "super_linear": False}
    slow = {"sf0.1": 1.0, "sf10": 200.0, "ratio": 200.0, "super_linear": True}

    bench._merge_capture("scaling_100x", {"data_factor": 100.0, "queries": {"a": fast}})
    bench._merge_capture("scaling_100x", {"data_factor": 100.0, "queries": {"b": slow}})
    bench._merge_capture("scaling_100x", {"streaming": {"queries": {}, "n_super_linear": 0}})

    section = json.loads(capture.read_text())["scaling_100x"]
    assert section["queries"] == {"a": fast, "b": slow}
    assert section["n_super_linear"] == 1
    assert section["data_factor"] == 100.0
    assert section["streaming"] == {"queries": {}, "n_super_linear": 0}
