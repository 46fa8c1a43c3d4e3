"""Answer checks against the SQLite FTS5 oracle, run after the timed loop.

A timed answer is compared with the oracle's answer to the same query
over the same analyzed token stream: ranked doc ids (ties by score are
interchangeable, as in FTS5's ``ORDER BY rank``) and raw BM25 scores to
``SCORE_TOL``. Engine pages carry 0-100 normalized scores; their raw
top and last scores are checked through ``next_cursor`` when the page
has one.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from yetisearch_spark.oracle import Fts5Oracle

SCORE_TOL = 1e-9
#: extra oracle rows fetched past k, so a tie group cut by the page end
#: is known in full
TIE_SLACK = 64


@dataclass(frozen=True)
class Query:
    """One benchmark query: engine text, oracle shape and tokens."""

    text: str
    kind: str                  # single/and/or/phrase/near/prefix/fuzzy
    tokens: tuple[str, ...]    # analyzed (prefix: the raw prefix)
    role: str | None = None    # equality filter on the role column
    k: int = 10

    @property
    def checkable(self) -> bool:
        return self.kind != "fuzzy"


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=SCORE_TOL, abs_tol=1e-12)


class Oracle:
    """Fts5Oracle plus each doc's role, for role-filtered queries."""

    def __init__(self) -> None:
        self.fts = Fts5Oracle()
        self.role: dict[int, str] = {}

    def add(self, doc_ids, token_lists, roles) -> None:
        self.fts.add_documents(zip(doc_ids, token_lists))
        self.role.update(zip(doc_ids, roles))

    def delete(self, doc_ids) -> None:
        rows = [(int(d),) for d in doc_ids]
        self.fts.con.executemany("DELETE FROM fts WHERE rowid = ?", rows)
        self.fts.con.commit()
        for d in doc_ids:
            self.role.pop(int(d), None)

    def answer(self, q: Query) -> tuple[list[tuple[int, float]], int]:
        """(best-first (doc_id, score) with tie slack, total matches)."""
        match = Fts5Oracle.match_string(q.kind, list(q.tokens))
        if q.role is None:
            return (self.fts.top_k(match, q.k + TIE_SLACK),
                    self.fts.count(match))
        # the filter applies after ranking over the whole corpus, so
        # BM25 statistics stay global (as in the engine)
        ranked = self.fts.top_k(match, 1 << 62)
        hits = [(d, s) for d, s in ranked if self.role[d] == q.role]
        return hits[:q.k + TIE_SLACK], len(hits)

    def vocab(self) -> dict[str, tuple[int, int]]:
        return {t: (int(d), int(c)) for t, d, c in self.fts.vocab()}

    def close(self) -> None:
        self.fts.close()


def _tie_groups(want: list[tuple[int, float]]) -> list[set[int]]:
    """For each oracle position, the doc ids whose score ties with it."""
    out = []
    for _, s in want:
        out.append({d for d, t in want if _close(t, s)})
    return out


def compare_ranked(got: list[tuple[int, float]],
                   want: list[tuple[int, float]], k: int) -> str | None:
    """None when ``got`` (raw scores) is the oracle's top-k; else why not."""
    head = want[:k]
    if len(got) != len(head):
        return f"{len(got)} rows, oracle has {len(head)}"
    groups = _tie_groups(want)
    seen = set()
    for i, ((gd, gs), (_, ws)) in enumerate(zip(got, head)):
        if not _close(gs, ws):
            return f"rank {i}: score {gs!r} != {ws!r}"
        if gd not in groups[i] or gd in seen:
            return f"rank {i}: doc {gd} not in oracle tie group"
        seen.add(gd)
    return None


def compare_engine(result: dict, want: list[tuple[int, float]],
                   total: int, k: int) -> str | None:
    """Checks one ``Engine.search`` result dict against the oracle."""
    if result.get("total") != total:
        return f"total {result.get('total')} != {total}"
    rows = result["results"]
    head = want[:k]
    if len(rows) != len(head):
        return f"{len(rows)} rows, oracle has {len(head)}"
    if not head:
        return None
    top = head[0][1]
    groups = _tie_groups(want)
    seen = set()
    for i, (r, (_, ws)) in enumerate(zip(rows, head)):
        d = int(r["document"]["doc_id"])
        if d not in groups[i] or d in seen:
            return f"rank {i}: doc {d} not in oracle tie group"
        seen.add(d)
        # 0-100 normalization rounded to 0.1; allow the rounding step
        if abs(float(r["score"]) - ws / top * 100.0) > 0.05 + 1e-6:
            return f"rank {i}: normalized score {r['score']} vs {ws / top * 100.0}"
    cur = result.get("next_cursor")
    if cur is not None:
        if not _close(float(cur[2]), top):
            return f"raw top score {cur[2]!r} != {top!r}"
        if not _close(float(cur[0]), head[-1][1]):
            return f"raw last score {cur[0]!r} != {head[-1][1]!r}"
        if int(cur[1]) != int(rows[-1]["document"]["doc_id"]):
            return "cursor doc id differs from the last row"
    return None


def compare_vocab(got: dict[str, tuple[int, int]],
                  want: dict[str, tuple[int, int]]) -> str | None:
    """Index term stats {term: (df, cf)} against the oracle's fts5vocab."""
    if got == want:
        return None
    missing = sorted(set(want) - set(got))[:3]
    extra = sorted(set(got) - set(want))[:3]
    diff = sorted(t for t in set(got) & set(want) if got[t] != want[t])[:3]
    return f"vocab differs: missing {missing} extra {extra} counts {diff}"
