"""Correctness checks, run outside every timed region.

The oracle computes BM25 with the semantics of tests/oracle.py (HW3
length = distinct terms, unclamped idf, score DESC then doc_id ASC)
directly from the generated document texts — it never reads the
engine's index.
"""

from __future__ import annotations

import math
from collections import defaultdict

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cs6913_web_search_engines_spark.functions.tokenizer import (
    doc_term_freqs,
    split_query,
)

K1 = 1.2
B = 0.75
REL_TOL = 1e-9


class Oracle:
    """Exhaustive BM25 over ``(doc_id, text)`` pairs, keeping postings
    only for ``terms`` (the terms of the queries it will answer)."""

    def __init__(self, docs, terms):
        wanted = set(terms)
        self.post: dict[str, list[tuple[int, int]]] = defaultdict(list)
        self.doc_len: dict[int, int] = {}
        for doc_id, text in docs:
            tf = doc_term_freqs(text)
            self.doc_len[doc_id] = len(tf)
            for t in wanted.intersection(tf):
                self.post[t].append((doc_id, tf[t]))
        self.n = len(self.doc_len)
        self.avg_len = sum(self.doc_len.values()) / self.n

    def ranking(self, query: str, conjunctive: bool) -> list[tuple[int, float]]:
        """Every matching doc, best first."""
        terms = split_query(query)
        score: dict[int, float] = defaultdict(float)
        hits: dict[int, int] = defaultdict(int)
        for t in terms:
            plist = self.post.get(t, [])
            df = len(plist)
            idf = math.log((self.n - df + 0.5) / (df + 0.5))
            for doc_id, tf in plist:
                K = K1 * ((1 - B) + B * self.doc_len[doc_id] / self.avg_len)
                score[doc_id] += idf * (K1 + 1) * tf / (K + tf)
                hits[doc_id] += 1
        ranked = [(d, s) for d, s in score.items()
                  if not conjunctive or hits[d] == len(terms)]
        ranked.sort(key=lambda x: (-x[1], x[0]))
        return ranked


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= REL_TOL * max(1.0, abs(a), abs(b))


def check_shape(rows: list[tuple[int, float, int]], k: int) -> str | None:
    """Rows (doc_id, score, rank) of one query, in rank order: at most
    k rows, ranks 1..n, scores not increasing, doc ids distinct."""
    if len(rows) > k:
        return f"{len(rows)} rows > k={k}"
    if [r[2] for r in rows] != list(range(1, len(rows) + 1)):
        return f"ranks {[r[2] for r in rows]} are not 1..{len(rows)}"
    for a, b in zip(rows, rows[1:]):
        if b[1] > a[1]:
            return f"score rises from {a[1]!r} to {b[1]!r}"
    if len({r[0] for r in rows}) != len(rows):
        return "duplicate doc_id"
    return None


def check_answer(rows: list[tuple[int, float, int]],
                 ranked: list[tuple[int, float]], k: int) -> str | None:
    """Compare one query's rows with the oracle's full ranking: the
    doc id at each rank must match exactly unless the oracle has a
    score tie there, and every score must match within REL_TOL."""
    bad = check_shape(rows, k)
    if bad:
        return bad
    want = ranked[:k]
    if len(rows) != len(want):
        return f"{len(rows)} rows, oracle has {len(want)}"
    oracle_score = dict(ranked)
    for (doc, score, rank), (wdoc, wscore) in zip(rows, want):
        if not _close(score, wscore):
            return f"rank {rank}: score {score!r}, oracle {wscore!r}"
        if doc != wdoc and not (doc in oracle_score
                                and _close(oracle_score[doc], wscore)):
            return f"rank {rank}: doc {doc}, oracle doc {wdoc}"
    return None


def rows_by_query(pdf) -> dict[str, list[tuple[int, float, int]]]:
    """Engine result pandas frame → {query_id: rows in rank order}."""
    out: dict[str, list] = defaultdict(list)
    for q, d, s, r in sorted(zip(pdf["query_id"], pdf["doc_id"],
                                 pdf["score"], pdf["rank"]),
                             key=lambda x: (x[0], x[3])):
        out[q].append((int(d), float(s), int(r)))
    return out


def digest(df: DataFrame) -> tuple[int, int]:
    """Order- and layout-independent digest of a table's rows: (row
    count, exact sum of each row's 64-bit xxhash over every column)."""
    h = F.xxhash64(*[F.col(c) for c in sorted(df.columns)])
    row = df.agg(F.count(F.lit(1)).alias("n"),
                 F.sum(h.cast("decimal(38,0)")).alias("s")).collect()[0]
    return int(row["n"]), int(row["s"] or 0)
