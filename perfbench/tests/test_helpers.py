"""Tests for the benchmark's own helpers: event-log parsing, the tail
percentile rule, seed -> input determinism, span self-time and the
quality gate.

Run: ``python3 -m pytest perfbench/tests -q``
"""

from __future__ import annotations

import sys
from pathlib import Path

import pandas as pd
import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent.parent))
sys.path.insert(0, str(HERE.parent))

import inputs  # noqa: E402
import run  # noqa: E402
from spans import (  # noqa: E402
    Span,
    Tracer,
    layer_metrics,
    parse_event_log,
    self_time,
    tail_percentile,
    union_length,
)

CANNED = HERE / "data" / "eventlog_small.jsonl"


def test_parse_event_log_groups_stages_by_job_group():
    groups = parse_event_log(CANNED)
    assert set(groups) == {"bands.band_table#1", "op#0", None}
    bt = groups["bands.band_table#1"]
    assert bt["jobs"] == 1
    # stage 1 is listed by both jobs; it belongs to the first job's group
    assert len(bt["stages"]) == 2
    s0, s1 = bt["stages"]
    assert s0["interval"] == (1000000010.1, 1000000011.1)
    assert s0["task_s"] == pytest.approx(2.0)  # 1500 ms + 500 ms
    assert s0["cpu_s"] == pytest.approx(1.25)
    assert s0["shuffle_bytes"] == 2**20
    assert s0["failed_tasks"] == 1
    assert s1["shuffle_bytes"] == 2**20  # remote + local read
    assert groups["op#0"]["jobs"] == 1 and len(groups["op#0"]["stages"]) == 1
    assert groups[None]["jobs"] == 1 and groups[None]["stages"][0]["task_s"] == 0


def test_layer_metrics_from_canned_log():
    span = Span("bands.band_table", 1000000010.0, 0, 0, 1, end=1000000012.0,
                rows_out=42)
    m = layer_metrics([span], parse_event_log(CANNED))
    pre = "bands.band_table."
    assert m[pre + "wall_s"] == pytest.approx(2.0)
    assert m[pre + "task_s"] == pytest.approx(2.7)
    assert m[pre + "cpu_s"] == pytest.approx(1.45)
    assert m[pre + "py_s"] == pytest.approx(1.25)
    assert m[pre + "shuffle_mb"] == pytest.approx(2.0)
    assert m[pre + "jobs"] == 1
    assert m[pre + "rows_out"] == 42
    assert m[pre + "failed_tasks"] == 1
    # stages cover [10.1, 11.5] of the span's [10.0, 12.0]
    assert m[pre + "gap_s"] == pytest.approx(0.6)
    # layers that did not run report zeros
    assert m["plaid.plaid_topk.wall_s"] == 0


def test_tail_percentile_needs_ten_samples_beyond():
    assert tail_percentile(range(1, 20)) == (0.0, 0.0)  # 19: median has 9 beyond
    assert tail_percentile(range(1, 21)) == (50.0, 10)  # 20: 10 beyond p50
    assert tail_percentile(range(1, 41)) == (75.0, 30)
    assert tail_percentile(range(1, 101)) == (90.0, 90)
    assert tail_percentile(range(1, 1001)) == (99.0, 990)
    # ties at the value do not count as beyond it
    assert tail_percentile([1.0] * 30 + [2.0] * 9) == (0.0, 0.0)
    assert tail_percentile([]) == (0.0, 0.0)


def test_union_length_and_self_time():
    assert union_length([]) == 0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4)
    root = Span("op", 0.0, None, 0, 0, end=10.0)
    a = Span("a", 1.0, 0, 0, 1, end=4.0)
    b = Span("b", 3.0, 0, 0, 2, end=6.0)  # overlaps a by 1 s
    grandchild = Span("c", 1.5, 1, 0, 3, end=2.0)  # not a direct child of root
    spans = [root, a, b, grandchild]
    assert self_time(root, spans) == pytest.approx(5.0)
    assert self_time(a, spans) == pytest.approx(2.5)
    assert self_time(b, spans) == pytest.approx(3.0)


def test_tracer_records_parent_and_op_id_without_spark():
    tr = Tracer(spark=None, enabled=True)
    with tr.layer("op", op_id=7):
        with tr.layer("bands.band_table") as sp:
            pass
    root, child = tr.spans
    assert (child.parent, child.op_id, root.parent) == (root.idx, 7, None)
    assert root.start <= child.start <= child.end <= root.end
    off = Tracer(enabled=False)
    with off.layer("op", op_id=0) as sp:
        df = object()
        assert sp.materialize(df) is df
    assert off.spans == []


@pytest.mark.parametrize("workload", sorted(inputs.RECIPES))
def test_inputs_are_a_function_of_the_seed(tmp_path, workload):
    a = inputs.ensure_inputs(tmp_path / "a", workload, seed=3, n_ops=1)
    b = inputs.ensure_inputs(tmp_path / "b", workload, seed=3, n_ops=1)
    c = inputs.ensure_inputs(tmp_path / "c", workload, seed=4, n_ops=1)
    assert a.name == b.name != c.name  # fingerprint keys the cache
    names = sorted(p.name for p in a.iterdir())
    assert names == sorted(p.name for p in c.iterdir())
    assert (a / "truth.json").read_text() == (b / "truth.json").read_text()
    differs = False
    for name in names:
        if name.endswith(".parquet"):
            pa, pc = pd.read_parquet(a / name), pd.read_parquet(c / name)
            pd.testing.assert_frame_equal(pa, pd.read_parquet(b / name))
            differs |= not pa.equals(pc)
    assert differs
    # a cache hit returns the same dir without regenerating
    assert inputs.ensure_inputs(tmp_path / "a", workload, seed=3, n_ops=1) == a


def test_ground_truth_stays_out_of_library_inputs(tmp_path):
    d = inputs.ensure_inputs(tmp_path, "text_dedup", seed=0, n_ops=1)
    for name in ("corpus.parquet", "stream.parquet"):
        assert "true_cluster" not in pd.read_parquet(d / name).columns


def test_lib_seed_stays_in_generator_range():
    seeds = {inputs.lib_seed(s, k) for s in range(2000) for k in range(3)}
    assert min(seeds) >= 0 and max(seeds) < 300
    assert inputs.lib_seed(0, 0) != inputs.lib_seed(0, 1)


def test_quality_gate_is_exact_at_the_default_seed_only():
    ok = {"batch_recall": 1.0, "stream_recall": 1.0}
    assert run.quality_gate("text_dedup", 0, ok) == []
    one_miss = {"batch_recall": 12 / 13, "stream_recall": 1.0}
    assert run.quality_gate("text_dedup", 0, one_miss) == ["batch_recall"]
    assert run.quality_gate("text_dedup", 8, one_miss) == []
    broken = {"forest_hit_share": 1.0, "plaid_mrr10": 0.2}
    assert run.quality_gate("retrieval", 3, broken) == ["plaid_mrr10"]
