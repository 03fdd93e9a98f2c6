"""Span recorder for the traced run.

A span is (op, name, start, end, parent): ``op`` is the benchmark
operation the span belongs to (-1 outside the measured loop), ``parent``
the index of the enclosing span on the same thread (-1 at the top).
Each operation has a kind (``batch_v2``, ``serve``, ...). Spans are
kept in memory and written out once, at the end of the run.

``install`` wraps the public entry points of each engine layer so every
call records a span; it returns a function that removes the wrappers.
Untraced runs never call it, so they run the unmodified engine.
"""

from __future__ import annotations

import contextlib
import functools
import json
import threading
import time

_WAND = "lucene_solr_spark.search.wand:SegmentSearcher"
_V1 = "lucene_solr_spark.search.executor:IndexSearcher"
_CODEC = "lucene_solr_spark.index.codec"
_DF = "pyspark.sql.classic.dataframe:DataFrame"
#: (span name, owner, attribute) for every wrapped entry point. The
#: benchmark calls module-level functions through their module, so
#: replacing the module attribute reaches its calls too.
ENTRY_POINTS = [
    *((f"search.wand.{m}", _WAND, m) for m in (
        "search_many", "search_many_df", "search", "search_df",
        "search_local", "rewrite")),
    *((f"search.executor.{m}", _V1, m) for m in (
        "search_many", "search_many_df")),
    ("index.segments.build_segment_index", "lucene_solr_spark.index.segments",
     "build_segment_index"),
    *((f"index.codec.{f}", _CODEC, f) for f in (
        "decode_seq", "decode_docids", "decode_positions",
        "bulk_decode_seqs", "varbyte_decode", "unpack_fixed")),
    ("spark.collect", _DF, "collect"),
    ("spark.toPandas", _DF, "toPandas"),
]


class Tracer:
    def __init__(self):
        self.spans: list[tuple[int, str, float, float, int]] = []
        self.op = -1
        self.op_kinds: list[str] = []
        #: add to a perf_counter() reading to get epoch seconds
        self.epoch_offset = time.time() - time.perf_counter()
        self._stack = threading.local()

    def begin_op(self, kind: str) -> None:
        """Spans from now on belong to a new operation of ``kind``."""
        self.op = len(self.op_kinds)
        self.op_kinds.append(kind)

    def _parents(self) -> list[int]:
        st = getattr(self._stack, "s", None)
        if st is None:
            st = self._stack.s = []
        return st

    def open(self, name: str) -> tuple[int, str, float]:
        parents = self._parents()
        idx = len(self.spans)
        self.spans.append(None)  # reserve the slot: children refer to it
        parents.append(idx)
        return idx, name, time.perf_counter()

    def close(self, token: tuple[int, str, float]) -> None:
        t1 = time.perf_counter()
        idx, name, t0 = token
        parents = self._parents()
        parents.pop()
        self.spans[idx] = (self.op, name, t0, t1,
                           parents[-1] if parents else -1)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            token = self.open(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self.close(token)

        return traced

    @contextlib.contextmanager
    def span(self, name: str):
        """A benchmark-side span around one operation."""
        token = self.open(name)
        try:
            yield
        finally:
            self.close(token)

    def self_times(self) -> list[float]:
        """Self time of each span in seconds: its duration minus the
        part covered by its child spans."""
        child = [0.0] * len(self.spans)
        for _op, _n, t0, t1, parent in self.spans:
            if parent >= 0:
                child[parent] += t1 - t0
        return [(t1 - t0) - c for (_o, _n, t0, t1, _p), c in zip(self.spans, child)]

    def has_ancestor(self, i: int, prefix: str) -> bool:
        """Whether an enclosing span of span ``i`` is named ``prefix...``."""
        p = self.spans[i][4]
        while p >= 0:
            if self.spans[p][1].startswith(prefix):
                return True
            p = self.spans[p][4]
        return False

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for op, name, t0, t1, parent in self.spans:
                f.write(json.dumps({
                    "op": op, "kind": self.op_kinds[op] if op >= 0 else None,
                    "name": name, "start": t0, "end": t1,
                    "parent": parent}) + "\n")


def resolve(path: str):
    """``module:Class`` or ``module`` → the object that owns the entry
    point."""
    import importlib

    mod, _, cls = path.partition(":")
    m = importlib.import_module(mod)
    return getattr(m, cls) if cls else m


def install(tracer: Tracer):
    """Wrap every entry point; returns the function that unwraps them."""
    saved = []
    for name, owner_path, attr in ENTRY_POINTS:
        owner = resolve(owner_path)
        orig = owner.__dict__[attr]
        saved.append((owner, attr, orig))
        setattr(owner, attr, tracer.wrap(name, orig))

    def uninstall():
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)

    return uninstall
