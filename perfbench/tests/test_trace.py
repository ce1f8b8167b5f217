"""The trace reducer against a small committed event-log fixture.

The fixture holds two stages: stage 0 (two tasks, job group ``pb1``)
runs under a writer span, stage 1 (one task, group ``pb3``) under the
forced ``noop`` child of a transforms span. Times are epoch ms in the
log and epoch s in the spans.
"""

import os

import pytest

from perfbench.trace import reduce_layers, read_event_log, task_records

FIXTURE = os.path.join(os.path.dirname(__file__), "data", "eventlog_small.jsonl")


def span(i, parent, layer, start, end, forced=False, failed=0):
    return {
        "id": i,
        "parent": parent,
        "layer": layer,
        "name": f"{layer}.f{i}",
        "group": f"pb{i}",
        "forced": forced,
        "failed": failed,
        "start": start,
        "end": end,
        "cpu_s": 0.0,
    }


SPANS = [
    span(0, None, "pipeline", 999.9, 1003.0),
    span(1, 0, "io.writers", 1000.0, 1001.0),
    span(2, 0, "transforms", 1001.5, 1002.6),
    span(3, 2, "transforms", 1001.9, 1002.6, forced=True),
]


def test_task_records_attribute_stage_groups_and_queueing():
    tasks = task_records(read_event_log(FIXTURE))
    assert [t["group"] for t in tasks] == ["pb1", "pb1", "pb3"]
    assert [t["queue_s"] for t in tasks] == pytest.approx([0.1, 0.3, 0.0])
    assert tasks[2]["cpu_s"] == pytest.approx(0.1)
    assert tasks[2]["output_bytes"] == 5000


def test_reduce_layers_self_driver_and_task_metrics():
    tasks = task_records(read_event_log(FIXTURE))
    layers = reduce_layers(SPANS, tasks, {"pb1": (1, 1, 2), "pb3": (1, 1, 1)})

    pipe = layers["pipeline"]
    # 3.1 s span minus the writer (1.0 s) and transforms (1.1 s) children
    assert pipe["calls"] == 1
    assert pipe["self_s"] == pytest.approx(1.0)
    assert pipe["driver_s"] == pytest.approx(1.0)
    assert pipe.get("task_cpu_s", 0.0) == 0.0

    wr = layers["io.writers"]
    assert wr["calls"] == 1
    assert wr["self_s"] == pytest.approx(1.0)
    # tasks ran 1000.1..1000.9 inside the 1.0 s span
    assert wr["driver_s"] == pytest.approx(0.2)
    assert wr["task_cpu_s"] == pytest.approx(0.5)
    assert wr["gc_s"] == pytest.approx(0.03)
    assert wr["queue_s"] == pytest.approx(0.4)
    assert wr["shuffle_mb"] == pytest.approx(2.0)
    assert wr["jobs"] == 1

    tf = layers["transforms"]
    # the forced noop child is timed in the layer but is not a call
    assert tf["calls"] == 1
    assert tf["self_s"] == pytest.approx(1.1)
    assert tf["driver_s"] == pytest.approx(0.6)
    assert tf["task_cpu_s"] == pytest.approx(0.1)
    assert tf["output_bytes"] == 5000

    # idle layers are present with zero calls
    assert layers["ext.tokenizer"].get("calls", 0) == 0


def test_failed_spans_are_counted_per_layer():
    spans = [dict(s) for s in SPANS]
    spans[1]["failed"] = 1
    layers = reduce_layers(spans, [])
    assert layers["io.writers"]["failed"] == 1
    assert layers["pipeline"]["failed"] == 0
