"""Seeded BM25 query generator over an index dictionary (FIXTURES F8).

The mix is 40% single-term, 30% two-term OR, 20% two-term AND and 10%
three-term OR. Terms come from document-frequency strata, so rare, mid
and common terms all appear however skewed the vocabulary is. Kinds and
strata are dealt from shuffled decks rather than drawn independently:
every ten queries hold the exact mix and every five terms one term of
each stratum, so two seeds' batches cost about the same. The same seed
and dictionary give the same queries.
"""

from __future__ import annotations

import numpy as np

from lucene_solr_spark.search.queries import BooleanQuery, TermQuery

#: lower df bound of each stratum, as a share of the corpus; the last
#: stratum holds the terms in more than half of the documents
STRATA_DF_SHARE = (0.0, 0.0005, 0.005, 0.05, 0.5)

#: (kind, queries of that kind per ten) — FIXTURES F8
MIX = (("term", 4), ("or2", 3), ("and2", 2), ("or3", 1))
N_TERMS = {"term": 1, "or2": 2, "and2": 2, "or3": 3}


def strata(terms: list[str], dfs, n_docs: int) -> list[list[str]]:
    """Terms split by df into STRATA_DF_SHARE bands, each sorted; empty
    bands are dropped."""
    dfs = np.asarray(dfs, dtype=np.float64)
    bounds = [b * n_docs for b in STRATA_DF_SHARE] + [np.inf]
    out = []
    for lo, hi in zip(bounds, bounds[1:]):
        sel = sorted(t for t, d in zip(terms, dfs) if lo < d <= hi)
        if sel:
            out.append(sel)
    return out


def query_terms(q) -> list[str]:
    if isinstance(q, TermQuery):
        return [q.term]
    return [c.query.term for c in q.clauses]


class QueryGen:
    def __init__(self, terms: list[str], dfs, n_docs: int, seed: int):
        self.strata = strata(terms, dfs, n_docs)
        if len(self.strata) < 2:
            raise ValueError("dictionary too small for the query mix")
        self.rng = np.random.default_rng(seed)
        self._kinds: list[str] = []
        self._bands: list[int] = []

    def _deal(self, deck: list, fill: list):
        if not deck:
            deck.extend(fill[i] for i in self.rng.permutation(len(fill)))
        return deck.pop()

    def _kind(self) -> str:
        return self._deal(self._kinds, [k for k, n in MIX for _ in range(n)])

    def _term(self, bands: list[list[str]], taken: set) -> str:
        """A term of the next stratum on the deck, not in ``taken``."""
        for _ in range(100):
            band = bands[self._deal(self._bands, list(range(len(bands))))]
            t = band[self.rng.integers(len(band))]
            if t not in taken:
                return t
        raise ValueError("no unused term left in the strata")

    def query(self, bands: list[list[str]] | None = None,
              exclude: frozenset | set = frozenset()):
        """One query; its terms come from ``bands`` (default: all strata)
        and avoid ``exclude``."""
        bands = bands or self.strata
        kind = self._kind()
        ts: list[str] = []
        for _ in range(N_TERMS[kind]):
            ts.append(self._term(bands, set(ts) | set(exclude)))
        if kind == "term":
            return TermQuery(ts[0])
        if kind == "and2":
            return BooleanQuery.of(must=[TermQuery(t) for t in ts])
        return BooleanQuery.of(should=[TermQuery(t) for t in ts])

    def batch(self, n: int, tag: str) -> dict:
        return {f"{tag}-{i}": self.query() for i in range(n)}

    def vocabulary(self, per_stratum: int) -> list[list[str]]:
        """Up to ``per_stratum`` distinct terms of each stratum."""
        out = []
        for band in self.strata:
            pick = self.rng.choice(len(band), size=min(per_stratum, len(band)),
                                   replace=False)
            out.append(sorted(band[i] for i in pick))
        return out

    def pool(self, n: int, bands: list[list[str]] | None = None) -> list:
        """``n`` distinct queries over ``bands``."""
        seen: dict = {}
        for _ in range(100 * n):
            seen.setdefault(self.query(bands), None)
            if len(seen) == n:
                return list(seen)
        raise ValueError("vocabulary too small for the pool")

    def zipf_draws(self, n_pool: int, n: int, s: float) -> np.ndarray:
        """``n`` pool ranks drawn with P(rank r) ∝ 1 / (r + 1)^s."""
        p = 1.0 / np.arange(1, n_pool + 1) ** s
        return self.rng.choice(n_pool, size=n, p=p / p.sum())
