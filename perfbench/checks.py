"""Correctness checks for the benchmark's operations.

A check returns None when the result is right, else a one-line reason; the
caller counts a failed check against `success_ratio`.
"""
from __future__ import annotations

import math

import numpy as np

from inputs import Conversations


def ranked(rows) -> list[tuple[int, np.float32]]:
    """Fetched rows (unordered after the docs join) in HitQueue order."""
    hits = [(int(r["docid"]), np.float32(r["score"])) for r in rows]
    return sorted(hits, key=lambda h: (-float(h[1]), h[0]))


def ts_seconds(dt) -> int:
    return int(round(dt.timestamp()))


class TopKOracle:
    """Pure-Python reference index over a corpus in docid order."""

    def __init__(self, conv: Conversations):
        from lucenenet_spark import oracle

        self.oracle = oracle
        self.keys = conv.keys()
        self.index = oracle.build_index(
            conv.text, keyword_docs={"role": conv.role, "tool": conv.tool}
        )

    def scores(self, q) -> dict[int, np.float32] | None:
        """Exact scores for the query shapes the oracle covers, else None."""
        from lucenenet_spark.plans.query import BooleanQuery, PhraseQuery, TermQuery

        o, idx = self.oracle, self.index
        if isinstance(q, TermQuery):
            if q.field == "text":
                return o.term_scores(idx, q.term)
            return o.kw_term_scores(idx, q.field, q.term)
        if isinstance(q, PhraseQuery) and q.field == "text":
            return o.phrase_scores(idx, list(q.terms), list(q.positions), slop=q.slop)
        if isinstance(q, BooleanQuery):
            clauses = (*q.must, *q.should, *q.must_not)
            if all(isinstance(c, TermQuery) and c.field == "text" and c.boost == 1.0
                   for c in clauses):
                return o.boolean_scores(
                    idx,
                    must=[c.term for c in q.must],
                    should=[c.term for c in q.should],
                    must_not=[c.term for c in q.must_not],
                    min_should_match=q.min_should_match,
                )
        return None

    def check(self, q, rows, k: int) -> str | None:
        got = ranked(rows)
        for r in rows:
            d = int(r["docid"])
            if not 0 <= d < len(self.keys) or (r["conv_id"], int(r["turn_idx"])) != self.keys[d]:
                return f"docid {d} fetched the wrong stored fields"
        want = self.scores(q)
        if want is not None:
            want_top = self.oracle.top_k(want, k)
            if got != want_top:
                return f"ranking differs from the oracle: {got[:3]} vs {want_top[:3]}"
            return None
        return self.check_prefix(q, got, k)

    def check_prefix(self, q, got, k: int) -> str | None:
        """Structural check for a prefix query: every hit holds a term with
        the prefix, the hit count is min(k, matches), scores are finite and
        positive."""
        prefix = q.prefix
        matches: set[int] = set()
        for term, plist in self.index.postings.items():
            if term.startswith(prefix):
                matches.update(d for d, _ in plist)
        if len(got) != min(k, len(matches)):
            return f"{len(got)} hits, expected {min(k, len(matches))}"
        if any(d not in matches for d, _ in got):
            return "a hit does not contain the prefix"
        if any(not (math.isfinite(float(s)) and s > 0) for _, s in got):
            return "non-finite or non-positive score"
        return None


class LiveState:
    """The benchmark's own record of which turn versions should be live."""

    def __init__(self):
        # (conv_id, turn_idx) -> (ts seconds, batch no, text bytes)
        self.live: dict[tuple[str, int], tuple[int, int, int]] = {}

    def apply(self, conv: Conversations, ts_secs: np.ndarray, batch_no: int) -> None:
        """An upsert replaces every turn of each conversation it names."""
        cids = set(conv.conv_id)
        for key in [k for k in self.live if k[0] in cids]:
            del self.live[key]
        for key, s, t in zip(conv.keys(), ts_secs, conv.text):
            self.live[key] = (int(s), batch_no, len(t.encode("utf-8")))

    def keys_of(self, batches: set[int]) -> set[tuple[str, int]]:
        return {k for k, (_, b, _) in self.live.items() if b in batches}

    def text_bytes(self) -> int:
        return sum(n for _, _, n in self.live.values())

    def check_probe(self, want: set[tuple[str, int]], rows) -> str | None:
        """A probe must return exactly one live doc per turn of its batches,
        each the version last handed over."""
        got = [(r["conv_id"], int(r["turn_idx"])) for r in rows]
        if len(got) != len(set(got)):
            return "duplicate live docs for one turn"
        if set(got) != want:
            return f"probe returned {len(got)} turns, expected {len(want)}"
        return self.check_rows(rows)

    def check_rows(self, rows) -> str | None:
        """No hit may be a deleted doc: each must be the live version."""
        for r in rows:
            key = (r["conv_id"], int(r["turn_idx"]))
            if key not in self.live or self.live[key][0] != ts_seconds(r["ts"]):
                return f"hit {key} is not the live version"
        return None


def check_ranked_rows(rows, k: int) -> str | None:
    got = ranked(rows)
    if len(got) > k or len({d for d, _ in got}) != len(got):
        return "more than k hits or duplicate docids"
    if any(not math.isfinite(float(s)) for _, s in got):
        return "non-finite score"
    return None
