"""bench.sweep's one sampling rule: every entry is timed exactly
BENCH_REPEAT times in whole passes and keeps its minimum, however long the
samples take; and record_draw bands a draw only with draws of the same core
count and the same number of timing passes. time_entry is scripted, so no
entry runs."""

import json

import pytest

import bench

NAMES = ["q5_hot_items", "qx_winning_bids", "tpch_q1_pricing_summary"]
# pass-major scripted walls: pass 1 alone (750 s) is past any 600 s budget
SCRIPT = [250.0, 200.0, 300.0, 240.0, 260.0, 310.0, 255.0, 190.0, 5.0]


def test_every_entry_gets_exactly_repeat_samples(spark, sf_dir, tmp_path, monkeypatch):
    monkeypatch.setenv("BENCH_REPEAT", "3")
    script = iter(SCRIPT)
    calls = []

    def fake_time_entry(spark, sf_dir, name, tracer=None):
        calls.append(name)
        return next(script)

    monkeypatch.setattr(bench, "time_entry", fake_time_entry)
    result = {
        "queries": {},
        "result_rows": {},
        "phase_walls": {},
        "artifact_builds_in_sweep": {},
    }
    out = tmp_path / "r.json"
    bench.sweep(spark, sf_dir, NAMES, None, result, str(out))

    assert calls == NAMES * 3  # whole passes, same order every pass
    assert result["samples"] == {
        "q5_hot_items": [250.0, 240.0, 255.0],
        "qx_winning_bids": [200.0, 260.0, 190.0],
        "tpch_q1_pricing_summary": [300.0, 310.0, 5.0],
    }
    assert result["queries"] == {
        "q5_hot_items": 240.0,
        "qx_winning_bids": 190.0,
        "tpch_q1_pricing_summary": 5.0,
    }
    assert result["value"] == 435.0
    assert result["timing_passes"] == 3
    assert result["pass_values"] == [750.0, 810.0, 450.0]
    assert len(result["phase_walls"]["passes"]) == 3
    assert result["result_rows"] == dict.fromkeys(NAMES, -1)  # lazy: not counted
    assert json.loads(out.read_text())["timing_passes"] == 3  # flushed per pass


@pytest.mark.parametrize("passes", [1, 3])
def test_record_draw_bands_same_cpus_and_passes(tmp_path, passes):
    path = tmp_path / "draws.jsonl"
    lines = [
        {"value": 1.0, "cpus": 4},  # budget-cut draw: no timing_passes
        {"value": 2.0, "cpus": 4, "timing_passes": 3},
        {"value": 3.0, "cpus": 32, "timing_passes": 3},
        {"value": 4.0, "cpus": 4, "timing_passes": 1},
        {"value": 5.0},  # legacy untagged 32-core line
    ]
    path.write_text("".join(json.dumps(x) + "\n" for x in lines) + "not json\n")
    band = bench.record_draw(str(path), {"value": 9.0, "cpus": 4, "timing_passes": passes})
    want = {1: [4.0, 9.0], 3: [2.0, 9.0]}[passes]
    assert [d["value"] for d in band] == want
