"""The workloads. Each one sets up, warms, measures a closed loop with
one client for the requested seconds, then checks every result it got.

* ``build``: repeated v2 index builds of a seeded corpus.
* ``search``: rounds over one fixed index. A round is a fresh 512-query
  batch on v2 and on v1 (alternating which goes first), one single
  distributed v2 query, then a burst of driver-local served queries:
  Zipf-skewed draws from a pool of distinct queries over a vocabulary
  the warm-up fetched (block-cache hits), and every tenth a new query
  of never-fetched terms (a first-touch miss).

The search workload reads a fixed 20k-doc index pair built once per
checkout and kept under the work directory, keyed by a hash of the
engine's sources, so every run searches the index its own code built.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import shutil
import statistics
import time
import traceback
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from lucene_solr_spark.index import builder as v1_builder
from lucene_solr_spark.index import segments
from lucene_solr_spark.search.executor import IndexSearcher
from lucene_solr_spark.search.queries import BooleanQuery, TermQuery
from lucene_solr_spark.search.wand import SegmentSearcher

from queries import QueryGen, query_terms
from session import tree_cpu_s

#: the search workload's index: corpus size, corpus seed, v2 segment size
FIXTURE_DOCS = 20_000
FIXTURE_SEED = 42
DOCS_PER_SEGMENT = 2048
#: the build workload's corpus and segment size (4 segments: one task
#: per core on a 4-CPU host), and the warm-up build's corpus
BUILD_DOCS = 4_000
BUILD_DOCS_PER_SEGMENT = 1024
WARMUP_DOCS = 100
#: set-ups per run; setup_s is their median
SETUP_REPS = 3
BATCH = 512
WARMUP_BATCH = 8
K = 10
#: serving: terms per df stratum in the served vocabulary, distinct
#: queries over it in the pool, Zipf exponent of the draws, warm-up
#: draws, served queries per round; every SERVE_MISS_EVERY-th served
#: query is new and made of terms never fetched (a first-touch miss)
SERVE_VOCAB_PER_STRATUM = 24
SERVE_POOL = 500
SERVE_ZIPF = 0.8
SERVE_WARMUP = 50
SERVE_PER_ROUND = 100
SERVE_MISS_EVERY = 10


@dataclass
class Ctx:
    spark: object
    root: str          # checkout root
    work: str          # <root>/.perfbench
    run_dir: str       # this run's scratch dir
    seed: int
    seconds: float
    tracer: object     # spans.Tracer or None


@dataclass
class Run:
    setup_s: list = field(default_factory=list)
    #: op walls in seconds by kind: "build", "batch_v2", "batch_v1",
    #: "adhoc", "serve"
    lat_s: dict = field(default_factory=dict)
    cpu_s: dict = field(default_factory=dict)     # CPU time, same keys
    #: (items, seconds) of the throughput path: docs built or queries
    #: answered by v2 batches
    throughput: tuple = (0, 0.0)
    #: the op kind whose latency is reported: "build" or "serve"
    latency_kind: str = ""
    attempted: int = 0
    failed: int = 0
    loop_s: float = 0.0           # measured wall
    steal_share: float = 0.0
    bytes_per_doc: float = 0.0
    detail: dict = field(default_factory=dict)
    checkpoints: list = field(default_factory=list)
    #: seconds spent in each phase of the run, in order
    phase_s: dict = field(default_factory=dict)
    _mark: float = field(default_factory=time.perf_counter)

    def phase(self, name: str) -> None:
        """Close the current phase under ``name``."""
        now = time.perf_counter()
        self.phase_s[name] = now - self._mark
        self._mark = now


def hits(docs) -> list[tuple[int, np.float32]]:
    """A top-k as (docid, float32 score) pairs."""
    return [(int(d.docid), np.float32(d.score)) for d in docs]


def dir_bytes(path: str, skip: tuple[str, ...] = ()) -> int:
    total = 0
    for d, subdirs, files in os.walk(path):
        subdirs[:] = [s for s in subdirs if s not in skip]
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def timed_op(ctx: Ctx, run: Run, kind: str, fn, tree: bool = True):
    """Run one operation, recording its wall and CPU time under ``kind``
    (and, when tracing, a span); returns its result, or None when it
    raised (the check then counts it as failed). The CPU time is the
    whole process tree's, or with ``tree=False`` the calling thread's
    (cheap enough for sub-millisecond operations)."""
    cpu = (lambda: tree_cpu_s(os.getpid())) if tree else time.thread_time
    span = contextlib.nullcontext()
    if ctx.tracer is not None:
        ctx.tracer.begin_op(kind)
        span = ctx.tracer.span("bench.op")
    c0 = cpu()
    with span:
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception:  # an engine failure: count it, keep measuring
            traceback.print_exc()
            out = None
        dt = time.perf_counter() - t0
    run.cpu_s.setdefault(kind, []).append(cpu() - c0)
    run.lat_s.setdefault(kind, []).append(dt)
    return out


def _cpu_jiffies() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _loop(ctx: Ctx, run: Run, step, min_steps: int) -> None:
    """Call ``step(i)`` until ``ctx.seconds`` have passed and at least
    ``min_steps`` steps ran; records the measured wall and the share of
    host CPU time the hypervisor gave to other guests meanwhile."""
    j0 = _cpu_jiffies()
    t0 = time.perf_counter()
    i = 0
    while i < min_steps or time.perf_counter() - t0 < ctx.seconds:
        step(i)
        i += 1
    run.loop_s = time.perf_counter() - t0
    d = [b - a for a, b in zip(j0, _cpu_jiffies())]
    run.steal_share = d[7] / max(sum(d), 1)  # /proc/stat: 8th is steal
    if ctx.tracer is not None:
        ctx.tracer.op = -1  # later spans belong to no measured op


def _setup(run: Run, open_fn):
    """Set up SETUP_REPS times, recording each; returns the last."""
    out = None
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        out = open_fn()
        run.setup_s.append(time.perf_counter() - t0)
    return out


def percentiles(lat_s: list, name: str) -> dict:
    """Median, and the highest of p99/p90 that leaves at least ten
    samples beyond it, with the sample count."""
    ms = np.asarray(lat_s) * 1000.0
    out = {f"{name}_p50_ms": float(np.median(ms)), f"{name}_samples": len(ms)}
    for p in (99, 90):
        if len(ms) * (100 - p) / 100 >= 10:
            out[f"{name}_p{p}_ms"] = float(np.percentile(ms, p))
            break
    return out


# -- build -------------------------------------------------------------

def _expected_dict(corpus) -> pd.Series:
    """term -> df of ``corpus`` under the oracle's pure-Python analyzer,
    computed in parallel; independent of the engine's JVM analysis."""
    from pyspark.sql import functions as F

    from lucene_solr_spark.analysis import ENGLISH_STOP_WORDS, StandardAnalyzer

    def analyze(batches):
        a = StandardAnalyzer(stop_words=ENGLISH_STOP_WORDS)
        for pdf in batches:
            yield pd.DataFrame({"term": [t for c in pdf["content"]
                                         for t in set(a.analyze(c or "")[0])]})

    pdf = (corpus.select("content").mapInPandas(analyze, "term string")
           .groupBy("term").agg(F.count("*").alias("df")).toPandas())
    return pdf.set_index("term")["df"].sort_index()


def build(ctx: Ctx) -> Run:
    from lucene_solr_spark.corpus import corpus_df

    run = Run(latency_kind="build")
    fixture(ctx)  # whichever workload runs first in a checkout builds it
    run.phase("fixture")
    state = {}

    def materialize():
        if "corpus" in state:
            state["corpus"].unpersist(blocking=True)
        c = corpus_df(ctx.spark, BUILD_DOCS, seed=ctx.seed).persist()
        c.count()
        state["corpus"] = c
        return c

    corpus = _setup(run, materialize)
    run.phase("setup")

    def build_into(name: str, docs=corpus):
        return segments.build_segment_index(
            docs, os.path.join(ctx.run_dir, name),
            docs_per_segment=BUILD_DOCS_PER_SEGMENT)

    build_into("warmup", corpus_df(ctx.spark, WARMUP_DOCS, seed=ctx.seed + 1))
    run.phase("warmup")
    built = []

    def step(i):
        built.append(timed_op(ctx, run, "build",
                              lambda: build_into(f"build-{i}")))

    _loop(ctx, run, step, min_steps=2)
    run.phase("loop")
    run.throughput = (BUILD_DOCS * len(built), sum(run.lat_s["build"]))

    want = _expected_dict(corpus)
    sizes = []
    for idx in built:
        run.attempted += 1
        if idx is None:
            run.failed += 1
            continue
        got = (idx.dict().select("term", "df").toPandas()
               .set_index("term")["df"].sort_index())
        ok = (idx.manifest()["doc_count"] == BUILD_DOCS
              and idx.docs().count() == BUILD_DOCS
              and got.index.equals(want.index)
              and bool((got.to_numpy() == want.to_numpy()).all()))
        run.failed += not ok
        sizes.append(dir_bytes(idx.root, skip=("checkpoints",)) / BUILD_DOCS)
        if ctx.tracer is not None:
            run.checkpoints.append(
                [r.asDict() for r in idx.checkpoints().collect()])
        shutil.rmtree(idx.root, ignore_errors=True)
    run.phase("check")
    run.bytes_per_doc = statistics.median(sizes)
    items, secs = run.throughput
    run.detail = {"build_docs_per_s": items / secs, "builds": len(built),
                  "build_cpu_ms_per_doc": sum(run.cpu_s["build"]) * 1000 / items,
                  "corpus_docs": BUILD_DOCS,
                  "index_bytes_per_doc": run.bytes_per_doc}
    return run


# -- search ------------------------------------------------------------

def _source_hash(root: str) -> str:
    h = hashlib.sha256()
    pkg = os.path.join(root, "lucene_solr_spark")
    for d, subdirs, files in os.walk(pkg):
        subdirs[:] = sorted(s for s in subdirs if s != "__pycache__")
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, pkg).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    h.update(json.dumps([FIXTURE_DOCS, FIXTURE_SEED,
                         DOCS_PER_SEGMENT]).encode())
    return h.hexdigest()[:16]


def fixture(ctx: Ctx) -> str:
    """Directory holding ``v2/``, ``v1/`` and ``terms.parquet`` (the v2
    dictionary's term and df); built on first use in this checkout."""
    from lucene_solr_spark.corpus import corpus_df

    base = os.path.join(ctx.work, "fixtures")
    path = os.path.join(base, _source_hash(ctx.root))
    if os.path.exists(path):
        return path
    os.makedirs(base, exist_ok=True)
    for old in os.listdir(base):  # an index built by other sources
        shutil.rmtree(os.path.join(base, old), ignore_errors=True)
    tmp = path + f".tmp-{os.getpid()}"
    corpus = corpus_df(ctx.spark, FIXTURE_DOCS, seed=FIXTURE_SEED).persist()
    corpus.count()
    idx = segments.build_segment_index(
        corpus, os.path.join(tmp, "v2"), docs_per_segment=DOCS_PER_SEGMENT)
    v1_builder.build_index(corpus, os.path.join(tmp, "v1"))
    idx.dict().select("term", "df").toPandas().to_parquet(
        os.path.join(tmp, "terms.parquet"))
    corpus.unpersist()
    os.rename(tmp, path)
    return path


def _check(run: Run, got, want) -> None:
    run.attempted += 1
    run.failed += got is None or want is None or hits(got) != hits(want)


def search(ctx: Ctx) -> Run:
    run = Run(latency_kind="serve")
    fix = fixture(ctx)
    run.phase("fixture")
    terms = pd.read_parquet(os.path.join(fix, "terms.parquet"))
    gen = QueryGen(terms["term"].tolist(), terms["df"].to_numpy(),
                   FIXTURE_DOCS, ctx.seed)
    run.bytes_per_doc = dir_bytes(
        os.path.join(fix, "v2"), skip=("checkpoints",)) / FIXTURE_DOCS
    vocab = gen.vocabulary(SERVE_VOCAB_PER_STRATUM)
    used = {t for band in vocab for t in band}   # terms already fetched
    pool = gen.pool(SERVE_POOL, vocab)
    draws = iter(gen.zipf_draws(SERVE_POOL, 1_000_000, SERVE_ZIPF))

    def open_v2():
        ctx.spark.catalog.clearCache()  # each open loads its own caches
        return SegmentSearcher(segments.SegmentIndex(
            os.path.join(fix, "v2"), ctx.spark), cache=True)

    run.phase("inputs")
    v2 = _setup(run, open_v2)
    run.phase("setup")
    v1 = IndexSearcher(v1_builder.IndexTables(
        os.path.join(fix, "v1"), ctx.spark), cache=True)
    warm = gen.batch(WARMUP_BATCH, "warm")
    v2.search_many(warm, K)
    v1.search_many(warm, K)
    for band in vocab:  # one query per stratum fetches the vocabulary
        v2.search_local(BooleanQuery.of(should=[TermQuery(t) for t in band]), K)
    for _ in range(SERVE_WARMUP):
        v2.search_local(pool[next(draws)], K)
    run.phase("warmup")

    batches, adhoc, served = [], [], []

    def step(i):
        qs = gen.batch(BATCH, f"b{i}")
        out = {}
        for eng in (("v1", "v2") if i % 2 else ("v2", "v1")):
            s = v2 if eng == "v2" else v1
            out[eng] = timed_op(ctx, run, "batch_" + eng,
                                lambda: s.search_many(qs, K))
        batches.append((qs, out))
        q = gen.query()
        adhoc.append((q, timed_op(ctx, run, "adhoc", lambda: v2.search(q, K))))
        for j in range(SERVE_PER_ROUND):
            if j % SERVE_MISS_EVERY == SERVE_MISS_EVERY - 1:
                q = gen.query(exclude=used)   # first touch: a cache miss
                used.update(query_terms(q))
            else:
                q = pool[next(draws)]
            served.append((q, timed_op(ctx, run, "serve",
                                       lambda: v2.search_local(q, K),
                                       tree=False)))

    _loop(ctx, run, step, min_steps=2)
    run.phase("loop")
    run.throughput = (BATCH * len(batches), sum(run.lat_s["batch_v2"]))

    # v2 batches against v1; single queries against a v2 batch, which
    # takes the compiled-tree path (BATCH_TREE_MIN+ queries), not the
    # flat WAND or driver-local evaluators they ran on
    for qs, out in batches:
        for qid in qs:
            _check(run, (out["v2"] or {}).get(qid), (out["v1"] or {}).get(qid))
    distinct = list(dict.fromkeys([q for q, _ in adhoc] + [q for q, _ in served]))
    while len(distinct) < SegmentSearcher.BATCH_TREE_MIN:
        distinct.append(gen.query())
    ref = v2.search_many({f"r{i}": q for i, q in enumerate(distinct)}, K)
    ref_of = {q: ref[f"r{i}"] for i, q in enumerate(distinct)}
    for q, docs in adhoc + served:
        _check(run, docs, ref_of[q])
    run.phase("check")

    items, secs = run.throughput
    lat, cpu = run.lat_s, run.cpu_s
    run.detail = {
        "batch_cpu_ms_per_query": sum(cpu["batch_v2"]) * 1000 / items,
        "batch_v1_cpu_ms_per_query": sum(cpu["batch_v1"]) * 1000 / items,
        "serve_cpu_p50_ms": float(np.median(cpu["serve"])) * 1000,
        "batch_qps": items / secs,
        "batch_qps_v1": items / sum(lat["batch_v1"]),
        "batch_v2_over_v1": sum(lat["batch_v1"]) / secs,
        "batches": len(batches), "batch_size": BATCH,
        "serve_qps": len(lat["serve"]) / sum(lat["serve"]),
        "serve_distinct_queries": len({q for q, _ in served}),
        **percentiles(lat["serve"], "serve"),
        **percentiles(lat["adhoc"], "adhoc"),
    }
    return run


WORKLOADS = {"build": build, "search": search}
