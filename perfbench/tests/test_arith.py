"""The benchmark's own arithmetic: span self time, floor fraction, failure
fraction and host sizing.

    python -m pytest perfbench/tests -q
"""

import pytest

import harness
import spans


def _span(sid, parent, start, end, layer="L", **counters):
    rec = {"id": sid, "parent": parent, "start": start, "end": end, "layer": layer}
    rec.update(dict.fromkeys(spans.COUNTERS, 0))
    rec.update(counters)
    return rec


def test_self_time_subtracts_children():
    parent = _span(0, None, 0.0, 10.0)
    kids = [_span(1, 0, 1.0, 3.0), _span(2, 0, 5.0, 6.0)]
    assert spans.self_time(parent, kids) == pytest.approx(7.0)


def test_self_time_counts_overlapping_children_once_and_clips():
    parent = _span(0, None, 0.0, 10.0)
    kids = [_span(1, 0, 1.0, 4.0), _span(2, 0, 3.0, 5.0), _span(3, 0, 9.0, 12.0)]
    assert spans.self_time(parent, kids) == pytest.approx(10.0 - 4.0 - 1.0)


def test_layer_totals_nested_spans():
    lap = [
        _span(0, None, 0.0, 10.0, layer="train", jobs=3, executor_run_s=8.0),
        _span(1, 0, 2.0, 6.0, layer="serving", jobs=2, executor_run_s=4.0),
        _span(2, None, 10.0, 12.0, layer="train", jobs=1, executor_run_s=0.0),
    ]
    t = spans.layer_totals(lap, ["train", "serving", "unused"], cpus=2)
    assert t["train.wall_s"] == pytest.approx(6.0 + 2.0)
    assert t["train.jobs"] == 4
    assert t["serving.wall_s"] == pytest.approx(4.0)
    assert t["train.floor_frac"] == pytest.approx(1 - 8.0 / (8.0 * 2))
    assert t["serving.floor_frac"] == pytest.approx(0.5)
    assert t["unused.wall_s"] == 0 and t["unused.floor_frac"] == 0.0


def test_floor_frac():
    assert spans.floor_frac(4.0, 2.0, 4) == pytest.approx(0.5)
    assert spans.floor_frac(0.0, 3.0, 4) == 1.0
    assert spans.floor_frac(0.0, 0.0, 4) == 0.0


def test_failed_frac_counts_failed_requests():
    assert harness.failed_frac(100, 0) == 0.0
    assert harness.failed_frac(120, 3) == pytest.approx(0.025)
    with pytest.raises(ValueError):
        harness.failed_frac(0, 0)
    with pytest.raises(ValueError):
        harness.failed_frac(5, 6)


def test_heap_size_follows_meminfo(tmp_path):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text("MemTotal:       15728640 kB\nMemFree: 1 kB\n")
    total = harness.mem_total_bytes(str(meminfo))
    assert total == 15 * 1024**3
    assert harness.heap_size(total) == "1920m"
    assert harness.heap_size(2 * 1024**3) == "1024m"
    assert harness.heap_size(256 * 1024**3) == "4096m"
