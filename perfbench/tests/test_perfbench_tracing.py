"""The event-log fold against a small canned event log."""

import json
import types

import pytest

import tracing
from tracing import Span


def _job(jid, t, stages, label=None):
    props = {tracing.LABEL: str(label)} if label is not None else {}
    return {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": t * 1e3,
            "Stage IDs": stages, "Properties": props}


def _stage(sid, a, b, cpu_s=0.0, gc_s=0.0, shuffle_b=0, spill_b=0):
    accs = [
        {"Name": "internal.metrics.executorCpuTime", "Value": cpu_s * 1e9},
        {"Name": "internal.metrics.jvmGCTime", "Value": gc_s * 1e3},
        {"Name": "internal.metrics.shuffle.write.bytesWritten", "Value": shuffle_b},
        {"Name": "internal.metrics.diskBytesSpilled", "Value": spill_b},
        {"Name": "internal.metrics.resultSize", "Value": 123},
    ]
    return {"Event": "SparkListenerStageCompleted",
            "Stage Info": {"Stage ID": sid, "Stage Attempt ID": 0, "Submission Time": a * 1e3,
                           "Completion Time": b * 1e3, "Accumulables": accs}}


# cli.als [1000, 1003] holds recommender.fit [1001, 1002]; cli.popularity
# [1002.5, 1004] runs beside cli.als on another thread from 1002.5
SPANS = [
    Span(1, "cli.als", 0, None, 1000.0, 1003.0),
    Span(2, "recommender.fit", 0, 1, 1001.0, 1002.0),
    Span(3, "cli.popularity", 0, None, 1002.5, 1004.0),
]
EVENTS = [
    {"Event": "SparkListenerApplicationStart", "Timestamp": 999_000},
    _job(0, 1000.1, [0, 1], label=1),
    _stage(0, 1000.1, 1000.5, cpu_s=1.5, gc_s=0.1, shuffle_b=2 * 2**20),
    _stage(1, 1000.4, 1000.9, cpu_s=0.5, spill_b=2**20),
    # unlabelled, inside fit only: goes to the innermost open span
    _job(1, 1001.5, [2]),
    _stage(2, 1001.5, 1001.8, cpu_s=0.25),
    # unlabelled while spans on two threads are open: ambiguous
    _job(2, 1002.7, [3]),
    _stage(3, 1002.7, 1002.9),
    # lists stage 3 again (skipped, job 2 ran it) and runs stage 4
    _job(3, 1003.2, [3, 4], label=3),
    _stage(4, 1003.2, 1003.5, cpu_s=0.125),
    # a stage that never completed carries no times and is ignored
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 9}},
]


@pytest.fixture
def folded(tmp_path):
    path = tmp_path / "eventlog"
    path.write_text("".join(json.dumps(e) + "\n" for e in EVENTS))
    jobs, stages = tracing.read_event_log(str(path))
    return tracing.fold(jobs, stages, SPANS)


def test_union_length_merges_and_clips():
    assert tracing.union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == pytest.approx(4.0)
    assert tracing.union_length([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == pytest.approx(2.0)
    assert tracing.union_length([(4, 5)], 0, 3) == 0.0
    assert tracing.union_length([], 0, 3) == 0.0


def test_stage_union_and_self_time(folded):
    rows, _ = folded
    als, fit, pop = rows[1], rows[2], rows[3]
    assert als["wall_s"] == pytest.approx(3.0)
    assert als["self_s"] == pytest.approx(2.0)
    # stages 0 and 1 overlap: their union is 0.8 s, plus stage 2's 0.3 s
    assert als["off_stage_s"] == pytest.approx(3.0 - 0.8 - 0.3)
    assert fit["off_stage_s"] == pytest.approx(0.7)
    assert pop["off_stage_s"] == pytest.approx(1.5 - 0.3)


def test_metrics_include_child_spans(folded):
    rows, _ = folded
    assert rows[1]["jobs"] == 2 and rows[2]["jobs"] == 1 and rows[3]["jobs"] == 1
    assert rows[1]["exec_cpu_s"] == pytest.approx(2.25)
    assert rows[1]["gc_s"] == pytest.approx(0.1)
    assert rows[1]["shuffle_mb"] == pytest.approx(2.0)
    assert rows[1]["spill_mb"] == pytest.approx(1.0)
    # the skipped stage 3 stays with job 2, not job 3
    assert rows[3]["exec_cpu_s"] == pytest.approx(0.125)


def test_unlabelled_jobs_by_time_window(folded):
    _, lost = folded
    assert [j.jid for j in lost] == [2]
    # after cli.als closed, only cli.popularity is open
    owned, lost = tracing.attribute([tracing.Job(7, 1003.5, [], None)], SPANS)
    assert [j.jid for j in owned[3]] == [7] and not lost


def test_self_and_off_stage_never_negative(folded):
    rows, _ = folded
    for row in rows.values():
        assert row["self_s"] >= 0 and row["off_stage_s"] >= 0


class _FakeContext:
    def __init__(self):
        self.props, self.seen = {}, []

    def getLocalProperty(self, k):
        return self.props.get(k)

    def setLocalProperty(self, k, v):
        self.props[k] = v


def test_wrappers_label_jobs_and_nest():
    sc = _FakeContext()
    tracer = tracing.Tracer(sc=sc)
    mod = types.SimpleNamespace()

    class Model:
        @classmethod
        def load(cls, x):
            sc.seen.append(("load", sc.props[tracing.LABEL]))
            return cls()

    def verb(x):
        sc.seen.append(("verb", sc.props[tracing.LABEL]))
        return Model.load(x)

    mod.verb = verb
    tracer.wrap(mod, "verb", "cli.verb")
    tracer.wrap(Model, "load", "model.load")
    tracer.op = 0
    assert isinstance(mod.verb(1), Model)
    outer, inner = sorted(tracer.spans, key=lambda s: s.sid)
    assert (outer.name, inner.name, inner.parent) == ("cli.verb", "model.load", outer.sid)
    assert sc.seen == [("verb", str(outer.sid)), ("load", str(inner.sid))]
    assert sc.props[tracing.LABEL] is None
    assert tracer.overhead_s[0] >= 0
