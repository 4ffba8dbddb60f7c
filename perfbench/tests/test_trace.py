"""The trace file schema is pinned."""
import json

from perfbench.trace import SCHEMA_VERSION, SPAN_KEYS, Tracer


def test_trace_schema(tmp_path):
    t = Tracer()
    with t.span("pass.0"):
        with t.span("pass.0.sink.extracted"):
            pass
        with t.span("pass.0.sink.quarantine"):
            pass
    path = tmp_path / "trace.json"
    t.dump(str(path), workload="w", seed=1, layers={"scan.s": 0.5})
    doc = json.loads(path.read_text())
    assert set(doc) == {"schema", "spans", "workload", "seed", "layers"}
    assert doc["schema"] == SCHEMA_VERSION == 1
    assert SPAN_KEYS == ("id", "name", "start", "end", "parent")
    assert [tuple(sorted(s)) for s in doc["spans"]] == [
        tuple(sorted(SPAN_KEYS))] * 3
    assert [s["parent"] for s in doc["spans"]] == [None, 0, 0]
    for s in doc["spans"]:
        assert 0 <= s["start"] <= s["end"]
    outer, a, b = doc["spans"]
    assert outer["start"] <= a["start"] <= a["end"] <= b["start"] <= outer["end"]


def test_disabled_tracer_records_nothing():
    t = Tracer(enabled=False)
    with t.span("x"):
        pass
    assert t.spans == []
