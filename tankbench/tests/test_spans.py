"""Span trees from progress reports and call spans are well formed, and
self time subtracts exactly the children's covered time."""

from spans import Span, Tracer, attach, batch_spans, check_tree, self_times


def _progress(batch_id, start_iso, total, phases):
    return {"batchId": batch_id, "timestamp": start_iso,
            "durationMs": dict(phases, triggerExecution=total), "numInputRows": 5}


def test_batch_and_call_spans_form_a_tree():
    t = Tracer(True)
    with t.span("workload", "workload") as root:
        pass
    spans = t.spans
    spans[0].start, spans[0].end = 1_700_000_000_000, 1_700_000_010_000
    progress = [_progress(0, "2023-11-14T22:13:21.000Z", 1000,
                          {"latestOffset": 10, "walCommit": 20, "getBatch": 5,
                           "queryPlanning": 100, "addBatch": 800, "commitOffsets": 30})]
    adds = batch_spans(t, "job1", progress, root)
    call = t.add("sink", "sink", 0, 10_000_000_000_000, None)
    attach(t, call, adds[0])
    assert check_tree(t.spans) == []
    selfs = self_times(t.spans)
    assert selfs["job1.execute"] == 0  # the sink call covers all of addBatch
    assert selfs["sink"] == 800
    assert selfs["job1.batch"] == 1000 - (10 + 20 + 5 + 100 + 800 + 30)
    assert selfs["workload"] == 10_000 - 1000


def test_self_time_merges_overlapping_children():
    spans = [Span(1, "p", "a", 0, 100, None), Span(2, "c1", "b", 10, 50, 1),
             Span(3, "c2", "b", 40, 60, 1)]
    assert self_times(spans) == {"a": 50, "b": 60}


def test_malformed_trees_are_reported():
    assert check_tree([Span(1, "a", "x", 0, 10, None), Span(2, "b", "x", 0, 10, None)])
    assert check_tree([Span(1, "a", "x", 0, 10, None), Span(2, "b", "x", 5, 20, 1)])
    assert check_tree([Span(1, "a", "x", 0, 10, None), Span(2, "b", "x", 1, 2, 9)])
    assert check_tree([Span(1, "a", "x", 0, 10, None), Span(2, "b", "x", 1, 2, 3),
                       Span(3, "c", "x", 1, 2, 2)])


def test_disabled_tracer_records_nothing():
    t = Tracer(False)
    with t.span("x", "y") as sid:
        assert sid is None
    assert t.add("a", "b", 0, 1) is None and t.spans == []
