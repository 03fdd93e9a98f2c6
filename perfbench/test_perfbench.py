"""Tests of the benchmark's own parts.

    python3 -m pytest perfbench -q

The query generator is checked against the independent pure-Python
oracle (``oracle.engine.OracleIndex``) on a small corpus; the span
recorder and event-log parser on hand-made inputs.
"""

from __future__ import annotations

import os
import sys
import time

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import eventlog  # noqa: E402
from queries import MIX, QueryGen, query_terms, strata  # noqa: E402
from spans import Tracer  # noqa: E402

from lucene_solr_spark.search.queries import TermQuery  # noqa: E402


def _kind(q) -> str:
    if isinstance(q, TermQuery):
        return "term"
    occur = {c.occur for c in q.clauses}
    if occur == {"MUST"}:
        return "and2"
    return "or2" if len(q.clauses) == 2 else "or3"


def _synthetic_dict(n_docs=1000):
    rng = np.random.default_rng(0)
    terms = [f"t{i}" for i in range(3000)]
    dfs = np.minimum(rng.zipf(1.5, size=len(terms)), n_docs)
    return terms, dfs, n_docs


def test_same_seed_same_queries():
    terms, dfs, n = _synthetic_dict()
    a = QueryGen(terms, dfs, n, seed=7).batch(200, "x")
    b = QueryGen(terms, dfs, n, seed=7).batch(200, "x")
    c = QueryGen(terms, dfs, n, seed=8).batch(200, "x")
    assert a == b
    assert a != c


def test_mix_and_strata():
    terms, dfs, n = _synthetic_dict()
    gen = QueryGen(terms, dfs, n, seed=1)
    qs = [gen.query() for _ in range(4000)]
    share = {k: sum(_kind(q) == k for q in qs) / len(qs) for k, _ in MIX}
    for k, per_ten in MIX:
        assert share[k] == per_ten / 10, (k, share[k])  # dealt, not drawn
    bands = strata(terms, dfs, n)
    band_of = {t: i for i, b in enumerate(bands) for t in b}
    used = {band_of[t] for q in qs for t in query_terms(q)}
    assert used == set(range(len(bands)))  # every df band is drawn from
    for q in qs:
        assert len(set(query_terms(q))) == len(query_terms(q))  # no repeated term


def test_pool_vocabulary_and_fresh_queries():
    terms, dfs, n = _synthetic_dict()
    gen = QueryGen(terms, dfs, n, seed=3)
    vocab = gen.vocabulary(8)
    allowed = {t for band in vocab for t in band}
    pool = gen.pool(300, vocab)
    assert len(set(pool)) == 300
    assert all(set(query_terms(q)) <= allowed for q in pool)
    for _ in range(200):
        q = gen.query(exclude=allowed)
        assert not set(query_terms(q)) & allowed
        allowed |= set(query_terms(q))
    draws = gen.zipf_draws(300, 20000, 1.3)
    counts = np.bincount(draws, minlength=300)
    assert counts[0] > counts[10] > counts[200]


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from session import make_spark, stop_spark

    os.environ.setdefault("PYTHONPATH", os.path.dirname(HERE))
    s = make_spark(str(tmp_path_factory.mktemp("work")))
    yield s
    stop_spark(s)


def test_generated_queries_match_the_oracle(spark, tmp_path):
    """Queries drawn from the engine's dictionary use the oracle's
    terms and dfs, and the engine's answers to them equal the oracle's."""
    from lucene_solr_spark.analysis import ENGLISH_STOP_WORDS, StandardAnalyzer
    from lucene_solr_spark.corpus import corpus_df, corpus_pandas
    from lucene_solr_spark.index.segments import build_segment_index
    from lucene_solr_spark.oracle import OracleIndex
    from lucene_solr_spark.search.wand import SegmentSearcher

    n = 200
    idx = build_segment_index(corpus_df(spark, n, seed=5), str(tmp_path / "v2"),
                              docs_per_segment=64)
    pdf = corpus_pandas(n, seed=5).sort_values(
        ["repo", "path", "commit"]).reset_index(drop=True)
    oracle = OracleIndex(analyzer=StandardAnalyzer(stop_words=ENGLISH_STOP_WORDS))
    oracle.add_all(pdf["content"])

    d = idx.dict().select("term", "df").toPandas()
    gen = QueryGen(d["term"].tolist(), d["df"].to_numpy(), n, seed=11)
    batch = gen.batch(64, "q")
    for q in batch.values():
        for t in query_terms(q):
            assert oracle.doc_freq(t) == int(d.loc[d["term"] == t, "df"].iloc[0])
    got = SegmentSearcher(idx, cache=True).search_many(batch, 10)
    for qid, q in batch.items():
        want = oracle.search(q, 10)
        assert [(h.docid, np.float32(h.score)) for h in got[qid]] == \
            [(h.docid, np.float32(h.score)) for h in want], q


def test_self_times_subtract_children():
    tr = Tracer()

    def inner():
        time.sleep(0.02)

    def outer():
        wrapped_inner()
        time.sleep(0.01)

    wrapped_inner = tr.wrap("inner", inner)
    tr.begin_op("serve")
    with tr.span("bench.op"):
        tr.wrap("outer", outer)()
    names = [s[1] for s in tr.spans]
    self_s = dict(zip(names, tr.self_times()))
    assert names == ["bench.op", "outer", "inner"]
    assert self_s["inner"] >= 0.02
    assert 0.01 <= self_s["outer"] < 0.02
    assert self_s["bench.op"] < 0.005
    assert tr.has_ancestor(2, "outer") and not tr.has_ancestor(1, "inner")
    assert all(s[0] == 0 for s in tr.spans)


def _task(stage, launch, finish, cpu_ns=1_000_000):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Launch Time": launch, "Finish Time": finish},
            "Task Metrics": {"Executor CPU Time": cpu_ns, "JVM GC Time": 2,
                             "Input Metrics": {"Bytes Read": 100},
                             "Shuffle Read Metrics": {"Local Bytes Read": 10},
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": 5},
                             "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 1}}


def test_eventlog_summary():
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0,
         "Submission Time": 1000, "Stage IDs": [0, 1]},
        _task(0, 1010, 1110), _task(0, 1010, 1210), _task(0, 1020, 1120),
        _task(1, 1300, 1350),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1400},
        # outside the window: ignored
        {"Event": "SparkListenerJobStart", "Job ID": 1,
         "Submission Time": 5000, "Stage IDs": [2]},
        _task(2, 5000, 9000),
    ]
    s = eventlog.summarize(events, [(0.9, 1.5)])
    assert s["spark.stages_per_op"] == 2
    assert s["spark.tasks_per_op"] == 4
    assert s["spark.task_cpu_ms"] == pytest.approx(4.0)
    assert s["spark.gc_ms"] == 8
    assert s["spark.input_bytes"] == 400
    assert s["spark.shuffle_bytes"] == 60
    assert s["spark.spill_bytes"] == 4
    # widest stage: durations 100, 200, 100 -> max/median = 2
    assert s["spark.task_skew"] == pytest.approx(2.0)
    # job wall 400 ms, tasks busy 1010-1210 and 1300-1350 = 250 ms
    assert s["spark.wait_ms"] == 150
