"""Self-tests of the benchmark's own code (no Spark session needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os

import gen
import pytest
import spans
from stats import tail

TINY_LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)), "testdata", "tiny_eventlog.json")


def test_generator_is_identical_for_a_seed_and_differs_across_seeds():
    a = gen.tables(7, 0.001, 2000, 60, 40)
    b = gen.tables(7, 0.001, 2000, 60, 40)
    c = gen.tables(8, 0.001, 2000, 60, 40)
    assert a.keys() == b.keys() == c.keys()
    assert all(a[k].equals(b[k]) for k in a)
    # region and nation are fixed reference tables; every drawn table moves
    assert {k for k in a if not a[k].equals(c[k])} == set(a) - {"region", "nation"}


def test_generator_matches_the_catalog_schema():
    t = gen.tables(1, 0.001, 100, 20, 20)
    assert set(t) == {"region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings"}
    assert t["events"].column_names == ["event_id", "ts", "user_id", "event_type", "value", "props"]
    assert str(t["events"].schema.field("ts").type) == "timestamp[us]"
    assert t["lineitem"].num_rows == 6000 and t["orders"].num_rows == 1500


def _tiny_spans() -> list[spans.Span]:
    return [
        spans.Span("catalog#0", "catalog", 0, 1000.0, 1003.0),
        spans.Span("sources.factstore#1", "sources.factstore", 0, 1003.0, 1004.0),
    ]


def test_parser_reproduces_the_canned_log_counts():
    stages = spans.parse_event_log(TINY_LOG)
    # stage 2 was never submitted (skipped); stage 4 ran outside any span
    assert [s.group for s in stages] == ["catalog#0", "catalog#0", "sources.factstore#1", None]
    m = spans.span_metrics(_tiny_spans(), stages)
    cat, fs = m["catalog#0"], m["sources.factstore#1"]
    assert cat["stages"] == 2 and fs["stages"] == 1
    assert cat["task_cpu_s"] == pytest.approx(0.75)
    assert cat["failed_tasks"] == 1 and fs["failed_tasks"] == 0
    assert cat["shuffle_write_bytes"] == 1500 and cat["spill_bytes"] == 2048
    assert (cat["input_bytes"], cat["input_rows"]) == (8000, 80)
    assert fs["output_bytes"] == 7000
    # the two catalog stages overlap: they cover 1000.5-1002.0 of 1000-1003
    assert cat["sched_gap_s"] == pytest.approx(1.5)
    assert fs["sched_gap_s"] == pytest.approx(0.6)


def test_layer_metrics_cover_every_named_metric():
    layers = spans.layer_metrics(_tiny_spans(), spans.parse_event_log(TINY_LOG))
    named = {name for name, _, _ in spans.per_layer_spec()}
    assert named - layers.keys() == {"session.cached_bytes_after", "session.peak_rss_mb", "host.control_s", "trace.op_s.p50"}
    assert layers["catalog.stages"] == 2 and layers["catalog.input_rows"] == 80
    assert layers["session.failed_tasks"] == 1
    assert layers["operators.dedup.stages"] == 0  # not called: reads 0
    assert len(named) <= 128


@pytest.mark.parametrize("n,pct,index", [(21, 100 * 11 / 21, 10), (40, 75.0, 29), (100, 90.0, 89), (1000, 99.0, 989)])
def test_tail_is_the_highest_percentile_with_ten_samples_beyond(n, pct, index):
    xs = [float(i) for i in range(n)][::-1]
    p, v = tail(xs)
    assert (p, v) == (pct, float(index))
    assert sum(x > v for x in xs) == 10


def test_tail_is_the_median_up_to_twenty_samples():
    assert tail([3.0, 1.0, 2.0]) == (50.0, 2.0)
    assert tail([5.0, 1.0]) == (50.0, 3.0)
    assert tail([float(i) for i in range(20)]) == (50.0, 9.5)
