"""Self-time attribution and task charging in the traced mode."""

from __future__ import annotations

import pytest

from tracing import layer_metrics, self_times


def _span(i, layer, name, parent, start, end):
    return {"id": i, "layer": layer, "name": name, "parent": parent, "op": None,
            "thread": 0, "start": start, "end": end}


SPANS = [
    _span(0, "bench", "pass0", None, 0.0, 10.0),
    _span(1, "bench", "q_x", 0, 0.5, 9.5),
    _span(2, "queries", "build", 1, 0.5, 6.0),
    _span(3, "cache", "session_ckpt:g", 2, 1.0, 5.0),
    # two prefetch-pool threads overlapping inside the cache lookup
    _span(4, "similarity", "similarity_join", 3, 2.0, 4.0),
    _span(5, "sources", "load_table", 3, 3.0, 5.0),
    _span(6, "queries", "action", 1, 6.0, 9.0),
]


def test_self_times_add_up_to_the_pass_wall():
    selfs = self_times(SPANS)
    assert sum(selfs.values()) == pytest.approx(10.0)
    # 2..3 similarity alone, 3..4 split with sources, 4..5 sources alone
    assert selfs["similarity"] == pytest.approx(1.5)
    assert selfs["sources"] == pytest.approx(1.5)
    assert selfs["cache"] == pytest.approx(1.0)
    assert selfs["queries"] == pytest.approx(1.5 + 3.0)
    assert selfs["bench"] == pytest.approx(1.5)


def test_tasks_are_charged_to_the_labelling_span_and_gaps_reported():
    log = {
        "jobs": [{"group": "6", "start": 6.5, "end": 8.5}, {"group": "3", "start": 4.0, "end": 5.0}],
        "tasks": [
            {"group": "6", "launch": 7.0, "failed": False, "run_s": 2.0, "cpu_s": 1.5,
             "gc_s": 0.1, "shuffle_write_bytes": 10, "shuffle_read_bytes": 10,
             "spill_bytes": 0, "input_bytes": 100},
            {"group": "3", "launch": 4.1, "failed": True, "run_s": 0.5, "cpu_s": 0.4,
             "gc_s": 0.0, "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
             "spill_bytes": 5, "input_bytes": 0},
            {"group": None, "launch": 8.0, "failed": False, "run_s": 0.25, "cpu_s": 0.2,
             "gc_s": 0.0, "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
             "spill_bytes": 0, "input_bytes": 0},
        ],
    }
    events = [{"span": 3, "kind": "build", "wall": 4.0}]
    m = layer_metrics(SPANS, events, log, cores=4)
    assert m["queries.tasks"] == 1 and m["queries.task_run_s"] == 2.0
    assert m["cache.failed_tasks"] == 1 and m["cache.spill_bytes"] == 5
    assert m["spark.unattributed_task_run_s"] == 0.25
    assert m["spark.jobs"] == 2
    assert m["spark.driver_s"] == pytest.approx(9.0 - 3.0)
    assert m["cache.builds"] == 1 and m["cache.hit_ratio"] == 0.0
    # the whole building lookup, not only the builder call inside it
    assert m["cache.build_s"] == pytest.approx(4.0)
    assert m["trace.self_sum_error"] == pytest.approx(0.0, abs=1e-12)
