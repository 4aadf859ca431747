import time

from spans import Tracer


def _traced():
    tr = Tracer("r")
    tr.enabled = True
    with tr.span("outer") as outer:
        with tr.span("compat.checkpoint"):
            with tr.span("compat.checkpoint"):
                time.sleep(0.01)
        with tr.span("leaf", query="q1") as leaf:
            leaf["run_ids"] = ["stream-run"]
    return tr, outer


def test_disabled_tracer_records_nothing():
    tr = Tracer("r")
    with tr.span("x") as s:
        assert s is None
    assert tr.spans == []


def test_span_records_parent_and_run_id():
    tr, outer = _traced()
    names = [(s["name"], s["parent"]) for s in tr.spans]
    assert names == [
        ("outer", None),
        ("compat.checkpoint", "r/0"),
        ("compat.checkpoint", "r/1"),
        ("leaf", "r/0"),
    ]
    assert all(s["run_id"] == "r" and s["end"] >= s["start"] for s in tr.spans)


def test_outermost_skips_nested_spans_of_the_same_name():
    tr, _ = _traced()
    assert [s["id"] for s in tr.outermost("compat.checkpoint")] == ["r/1"]


def test_groups_cover_the_subtree_and_stream_run_ids():
    tr, outer = _traced()
    assert tr.groups([outer]) == {"r/0", "r/1", "r/2", "r/3", "stream-run"}
    assert tr.groups(tr.named("leaf", query="q1")) == {"r/3", "stream-run"}


def test_self_time_excludes_children():
    tr, outer = _traced()
    kids = [s for s in tr.spans if s["parent"] == outer["id"]]
    assert tr.self_time(outer) == (outer["end"] - outer["start"]) - tr.duration(kids)
    summary = tr.summary()
    assert summary["compat.checkpoint"]["calls"] == 2
    assert summary["outer"]["self_s"] < summary["outer"]["total_s"]
