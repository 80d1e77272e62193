"""Span recording, job attribution and the wrapper's pickling."""

from pyspark import cloudpickle

from perfbench import stats, trace


def test_wrapper_records_nested_spans_only_when_enabled():
    tr = trace.Tracer()
    inner = trace.Traced(tr, "m.inner", lambda x: x + 1)
    outer = trace.Traced(tr, "m.outer", lambda x: inner(x) * 2)
    assert outer(1) == 4 and tr.spans == []
    tr.enabled = True
    assert outer(1) == 4
    names = [(s["name"], s["parent"]) for s in tr.spans]
    assert names == [("m.outer", None), ("m.inner", 0)]
    assert all(s["end"] >= s["start"] for s in tr.spans)


def test_wrapper_pickles_as_the_original_function():
    w = trace.Traced(trace.Tracer(), "stats.union_length", stats.union_length)
    assert cloudpickle.loads(cloudpickle.dumps(w)) is stats.union_length


def test_jobs_go_to_the_innermost_open_span():
    spans = [
        {"id": 0, "parent": None, "name": "op", "start": 0, "end": 100},
        {"id": 1, "parent": 0, "name": "operators.a.f", "start": 10, "end": 50},
        {"id": 2, "parent": 1, "name": "operators.b.g", "start": 20, "end": 30},
    ]
    assert trace.attribute_jobs(spans, [5, 15, 25, 26, 60, 200]) == {0: 2, 1: 1, 2: 2}
    t = trace.layer_totals(spans, [5, 15, 25, 26, 60])
    assert t["operators.a.f"]["jobs"] == 1 and t["operators.b.g"]["jobs"] == 2
    assert t["operators.a.f"]["self_s"] == (40 - 10) / 1000.0


def test_parse_size_metric_strings():
    assert trace.parse_size("47.0 KiB") == 47.0 * 1024
    assert trace.parse_size("total (min, med, max (stageId: taskId))\n1.5 MiB (0.0 B, 1.0 KiB, 1.0 MiB)") == 1.5 * 1024**2
    assert trace.parse_size("0.0 B") == 0.0
    assert trace.parse_size("") == 0.0
