"""Tests for the benchmark's pure-Python parts (no Spark):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import types

import numpy as np
import pandas as pd
import pytest

import checks
import datagen
import spans
import run
from run import percentile, tail

# ------------------------------------------------------------ generators


def _same(a, b):
    for x, y in zip(vars(a).values(), vars(b).values()):
        if isinstance(x, np.ndarray):
            assert np.array_equal(x, y)
        else:
            assert x == y


def test_generators_are_deterministic_per_seed():
    for make in (
        lambda s: datagen.event_log(datagen.rng_for(s, "events"), 300, 900),
        lambda s: datagen.corpus(datagen.rng_for(s, "docs"), 200),
        lambda s: datagen.embeddings(datagen.rng_for(s, "embeddings"), 300, dim=16),
    ):
        _same(make(7), make(7))
        with pytest.raises(AssertionError):
            _same(make(7), make(8))
    ids = np.arange(50)
    r1 = datagen.zipf_requests(datagen.rng_for(3, "requests"), ids, 100)
    r2 = datagen.zipf_requests(datagen.rng_for(3, "requests"), ids, 100)
    assert np.array_equal(r1, r2)


def test_generated_shapes():
    log = datagen.event_log(datagen.rng_for(1, "events"), 300, 900, n_unseen=20)
    assert len(log.reference_id) == len(log.item_id)
    assert log.item_id.max() < 300 and len(log.dict_id) == 320
    sizes = np.unique(log.reference_id, return_counts=True)[1]
    assert sizes.min() >= 3 and sizes.max() <= 120
    c = datagen.corpus(datagen.rng_for(1, "docs"), 200)
    assert len(set(c.doc_id.tolist())) == len(c.text)
    assert c.planted and all(a < b for a, b in c.planted)
    e = datagen.embeddings(datagen.rng_for(1, "embeddings"), 300, dim=16)
    assert np.allclose(np.linalg.norm(e.vectors, axis=1), 1.0)
    pos = {int(i): k for k, i in enumerate(e.vec_id)}
    cos = [e.vectors[pos[a]] @ e.vectors[pos[b]] for a, b in e.planted]
    assert min(cos) > 0.9


# ------------------------------------------------------------ percentiles


def test_work_does_not_depend_on_seed():
    def sizes(s):
        log = datagen.event_log(datagen.rng_for(s, "events"), 300, 900)
        return np.sort(np.unique(log.reference_id, return_counts=True)[1])

    assert np.array_equal(sizes(1), sizes(2))
    assert sizes(1).max() == 120 and sizes(1).min() == 3
    n_text = {len(datagen.corpus(datagen.rng_for(s, "docs"), 200).planted) for s in (1, 2)}
    n_emb = {
        len(datagen.embeddings(datagen.rng_for(s, "embeddings"), 300, dim=16).planted)
        for s in (1, 2)
    }
    assert len(n_text) == 1 and len(n_emb) == 1


class _Clock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


class _FakeWorkload:
    """A batch step of 3 s and queries of 0.5 s on a fake clock."""

    queries_per_pass = 2

    def __init__(self, clock):
        self.clock = clock

    def _advance(self, dt):
        self.clock.t += dt
        return dt

    def steps(self):
        return [("build", lambda: self._advance(3.0), lambda out: [])]

    def release(self):
        pass

    def query(self, i):
        return self._advance(0.5)

    def check_query(self, out):
        return []

    def extras(self, p):
        return []


@pytest.mark.parametrize("seconds, passes", [(1, 2), (10, 2), (11, 3), (14, 3), (15, 4)])
def test_measure_runs_passes_until_about_seconds(monkeypatch, seconds, passes):
    clock = _Clock()
    monkeypatch.setattr(run.time, "perf_counter", clock)
    r = run.Runner(_FakeWorkload(clock), seconds)
    assert r.measure(trace=False) == passes
    assert [t for t, _ in r.pass_batch] == [3.0] * passes
    assert r.samples("query") == [0.5] * 2 * passes
    assert r.attempted == 3 * passes and r.failed == 0


def test_percentile_reports_samples_above():
    xs = list(range(1, 101))
    assert percentile(xs, 50) == (50, 50)
    assert percentile(xs, 95) == (95, 5)
    t = tail(xs)
    assert t == {"n": 100, "q": 90, "value": 90, "above": 10}
    assert tail([1.0] * 5) == {"n": 5}
    with pytest.raises(ValueError):
        percentile([], 50)


# ------------------------------------------------------------ spans


class _Clock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


def test_self_time_on_hand_built_tree():
    clock = _Clock()
    tr = spans.Tracer(clock=clock)
    with tr.span("bench.build"):  # 0 .. 10
        clock.t = 1
        with tr.span("publish.publish_model"):  # 1 .. 9
            clock.t = 2
            with tr.span("plans.materialize"):  # 2 .. 5
                clock.t = 5
            clock.t = 6
            with tr.span("plans.materialize"):  # 6 .. 7
                clock.t = 7
            clock.t = 9
        clock.t = 10
    st = spans.self_times(tr.spans)
    assert [s.name for s in tr.spans][:2] == ["bench.build", "publish.publish_model"]
    assert st == {0: 2.0, 1: 4.0, 2: 3.0, 3: 1.0}
    assert sum(st.values()) == 10.0
    assert [s.sid for s in tr.subtree(tr.spans[1])] == [1, 3, 2]


def test_self_time_counts_overlapping_children_once():
    parent = spans.Span(0, None, "a.x", 0.0, 10.0)
    kids = [spans.Span(1, 0, "b.y", 1.0, 5.0), spans.Span(2, 0, "b.z", 3.0, 8.0)]
    assert spans.self_times([parent] + kids)[0] == pytest.approx(3.0)
    assert spans.covered([(1, 5), (3, 8), (20, 30)], 0, 10) == 7


def test_install_rebinds_aliases_and_uninstall_restores():
    mod = types.ModuleType("propius_spark.operators.fake")

    def publish(x):
        return x + 1

    def _private(x):
        return x

    publish.__module__ = mod.__name__
    _private.__module__ = mod.__name__
    mod.publish, mod._alias, mod._private = publish, publish, _private
    user = types.ModuleType("propius_spark.operators.user")
    user._persist = publish
    tr = spans.Tracer()
    assert tr.install([mod, user]) == 1
    assert mod.publish is not publish and user._persist is mod.publish
    assert mod._private is _private
    tr.recording = True
    assert user._persist(1) == 2
    assert [s.name for s in tr.spans] == ["fake.publish"]
    assert tr.outputs == {"fake.publish": [2]}
    tr.uninstall()
    assert mod.publish is publish and user._persist is publish


def test_layer_names():
    assert spans.layer_of("propius_spark.operators.cells") == "cells"
    assert spans.layer_of("propius_spark.sources.occurrences") == "sources"
    assert spans.layer_of("propius_spark.plans") == "plans"


def _event_log_lines():
    def ev(kind, **kw):
        return json.dumps({"Event": kind, **kw})

    g = {"spark.jobGroup.id": "span-1"}
    return [
        ev("SparkListenerJobStart", **{"Job ID": 0, "Submission Time": 1000,
           "Stage IDs": [0], "Properties": g}),
        ev("SparkListenerStageSubmitted", **{"Stage Info": {"Stage ID": 0, "RDD Info": [
            {"Name": "MapPartitionsRDD", "Scope": '{"id":"3","name":"FlatMapGroupsInPandas"}'}]},
            "Properties": g}),
        ev("SparkListenerTaskEnd", **{"Stage ID": 0, "Task Metrics": {
            "Executor Run Time": 800, "Executor CPU Time": 300_000_000, "JVM GC Time": 20,
            "Disk Bytes Spilled": 0, "Shuffle Write Metrics": {"Shuffle Bytes Written": 2048}}}),
        ev("SparkListenerJobEnd", **{"Job ID": 0, "Completion Time": 2000}),
        ev("SparkListenerJobStart", **{"Job ID": 1, "Submission Time": 3000,
           "Stage IDs": [1], "Properties": {}}),
        ev("SparkListenerStageSubmitted", **{"Stage Info": {"Stage ID": 1}}),
        ev("SparkListenerTaskEnd", **{"Stage ID": 1, "Task Metrics": {
            "Executor Run Time": 100, "Executor CPU Time": 90_000_000}}),
        ev("SparkListenerJobEnd", **{"Job ID": 1, "Completion Time": 3500}),
        ev("SparkListenerStageExecutorMetrics", **{"Executor Metrics": {
            "ProcessTreeJVMRSSMemory": 5 << 20}}),
        "",
    ]


def test_event_log_attribution_and_driver_gap():
    log = spans.parse_event_log(_event_log_lines())
    assert [j.group for j in log.jobs] == ["span-1", None]
    jobs = log.jobs_in({"span-1"})
    tasks = log.tasks_in({"span-1"})
    assert len(jobs) == 1 and len(tasks) == 1
    t = tasks[0]
    assert (t.run_s, t.cpu_s, t.gc_s, t.shuffle_write_b) == (0.8, 0.3, 0.02, 2048)
    assert log.python_stages == {0}
    assert log.peak_rss_b == 5 << 20
    span = spans.Span(1, None, "bench.query", 0.5, 2.5)
    assert spans.driver_gap(span, jobs) == pytest.approx(1.0)


# ------------------------------------------------------------ checkers


def test_pearson_rows_match_corrcoef():
    rng = np.random.default_rng(0)
    ref = rng.integers(0, 12, 200)
    item = rng.integers(0, 6, 200)
    pr = checks.PearsonRows(ref, item)
    m = np.zeros((6, 12))
    np.add.at(m, (item, ref), 1)
    full = np.corrcoef(m)
    ids, corr = pr.row(2)
    assert np.allclose(corr, full[2, ids])


def _expected():
    rng = np.random.default_rng(1)
    log = datagen.event_log(rng, 60, 300, n_topics=3)
    pr = checks.PearsonRows(log.reference_id, log.item_id)
    item = int(pr.items[pr.valid][0])
    return item, pr.expected(item, 1.0)


def test_check_published_catches_wrong_rows():
    item, (must, may, scaled) = _expected()
    assert must
    good = pd.DataFrame(
        [(item, b, scaled[b]) for b in sorted(must)],
        columns=["item_a_id", "item_b_id", "scaled_score"],
    )
    found, wanted, errors = checks.check_published(good, {item: (must, may, scaled)})
    assert (found, wanted, errors) == (len(must), len(must), [])
    missing = good.iloc[1:]
    assert checks.check_published(missing, {item: (must, may, scaled)})[2]
    extra = pd.concat([good, pd.DataFrame([(item, -1, 0.5)], columns=good.columns)])
    assert checks.check_published(extra, {item: (must, may, scaled)})[2]
    off = good.assign(scaled_score=good["scaled_score"] + 1e-3)
    assert checks.check_published(off, {item: (must, may, scaled)})[2]


def test_store_answers_catch_wrong_serving_rows():
    sims = pd.DataFrame(
        {"item_a_id": [1, 1, 1, 2], "item_b_id": [2, 3, 4, 1], "scaled_score": [0.5, 1.0, 0.5, 1.0]}
    )
    dim = pd.DataFrame({"id": [1, 2, 3], "key": ["Alpha x", "beta", "GAMMA"], "human_label": [None] * 3})
    a = checks.StoreAnswers(sims, dim)
    # item 4 has no name, so it drops out of the point lookup
    want = [(3, "GAMMA", 1.0), (2, "beta", 0.5)]
    assert a.similar(1, 10) == want
    assert checks.same_rows([(3, "GAMMA", 1.0), (2, "beta", 0.5)], want)
    assert not checks.same_rows([(2, "beta", 0.5), (3, "GAMMA", 1.0)], want)
    assert not checks.same_rows([(3, "GAMMA", 0.9), (2, "beta", 0.5)], want)
    assert not checks.same_rows(want[:1], want)
    assert a.search("ALP", 10) == [(1, "Alpha x", None)]
    assert a.info(2) == [(2, "beta", None)]
    assert not checks.same_rows([(2, "beta", "label")], a.info(2))
    assert a.batch([1, 9], 1) == [(1, 3, "GAMMA", 1.0, 1)]
    assert checks.stats_match((3, 4, 2.0), a.stats())
    assert not checks.stats_match((3, 4, 2.5), a.stats())


def test_cluster_check_catches_wrong_cluster():
    ids = [1, 2, 3, 4, 5]
    pairs = [(2, 3), (3, 5)]
    comps = checks.components(ids, pairs)
    assert comps == {1: 1, 2: 2, 3: 2, 4: 4, 5: 2}
    good = pd.DataFrame({"doc_id": ids, "cluster_id": [comps[i] for i in ids]})
    good["is_keeper"] = good.doc_id == good.cluster_id
    assert checks.check_clusters(good, ids, pairs) == []
    bad = good.copy()
    bad.loc[4, "cluster_id"] = 5
    assert checks.check_clusters(bad, ids, pairs)
    flags = good.copy()
    flags.loc[0, "is_keeper"] = False
    assert checks.check_clusters(flags, ids, pairs)
    assert checks.recall(comps, [(2, 5), (1, 2)]) == 0.5


def test_cosine_topk_reference():
    v = np.array([[1.0, 0.0], [0.9, 0.1], [0.0, 1.0], [0.7, 0.7]])
    ids = np.array([10, 11, 12, 13])
    got = checks.cosine_topk(v, ids, 10, 2)
    assert [i for i, _ in got] == [11, 13]
    assert got[0][1] == pytest.approx(0.9 / np.hypot(0.9, 0.1))
    assert not checks.same_rows([(13, got[1][1]), (11, got[0][1])], got)


def test_jaccard_shingles():
    a = checks.shingle_set("a b c d", 3)
    assert a == {"a b c", "b c d"}
    assert checks.jaccard(a, checks.shingle_set("a b c e", 3)) == pytest.approx(1 / 3)
