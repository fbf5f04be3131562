"""Correctness models and comparisons for the benchmark workloads.

Each check returns True when the engine's output is right. A check that
returns False (or raises) counts as a failed operation.
"""

from __future__ import annotations

import hashlib
import math
import re
from collections import Counter

import numpy as np
import pyarrow as pa


# -- oltp_mixed: a Python model of the statement stream -------------------------


class OltpModel:
    """Replays the statement stream in Python and predicts every read and
    the final ``person`` digest."""

    def __init__(self, tables: dict[str, pa.Table], persons: pa.Table):
        cust = tables["customer"].to_pydict()
        self.customer = {
            k: (name, bal)
            for k, name, bal in zip(cust["c_custkey"], cust["c_name"], cust["c_acctbal"])
        }
        cust_nation = dict(zip(cust["c_custkey"], cust["c_nationkey"]))
        nat = tables["nation"].to_pydict()
        nation_name = dict(zip(nat["n_nationkey"], nat["n_name"]))
        orders = tables["orders"].to_pydict()
        self.order_nation = {
            ok: nation_name[cust_nation[ck]]
            for ok, ck in zip(orders["o_orderkey"], orders["o_custkey"])
        }
        p = persons.to_pydict()
        self.person = {
            pid: [name, age, city]
            for pid, name, age, city in zip(p["pid"], p["name"], p["age"], p["city"])
        }

    def expect(self, op: dict):
        """The result a read must return, in the shape the workload reports it."""
        kind = op["kind"]
        if kind in ("rid_get", "dict_get"):
            return [(op["key"], *self.customer[op["key"]])]
        if kind == "key_lookup":
            p = self.person.get(op["key"])
            return [(p[0], p[1])] if p else []
        if kind == "link_nav":
            return [self.order_nation[op["key"]]]
        raise ValueError(kind)

    def apply(self, op: dict) -> None:
        kind = op["kind"]
        if kind == "insert":
            self.person[op["pid"]] = [op["name"], op["age"], op["city"]]
        elif kind == "update":
            self.person[op["pid"]][1] = op["age"]
        elif kind == "delete":
            del self.person[op["pid"]]
        elif kind == "tx_group":  # the third tx conflicts and changes nothing
            self.person[op["pid_a"]][1] = op["ages"][0]
            self.person[op["pid_b"]][1] = op["ages"][1]

    def digest(self) -> str:
        return person_digest((pid, *v) for pid, v in self.person.items())


def person_digest(rows) -> str:
    h = hashlib.sha256()
    for row in sorted(tuple(r) for r in rows):
        h.update(repr(row).encode())
    return h.hexdigest()


# -- pipeline_dedup ---------------------------------------------------------------


def shingles(text: str, n: int = 3) -> set[tuple[str, ...]]:
    toks = text.lower().split()
    return {tuple(toks[i : i + n]) for i in range(max(len(toks) - n + 1, 0))}


def jaccard_pairs_ok(pairs: list[tuple[int, int, float]], texts: dict[int, str],
                     planted: set[tuple[int, int]], threshold: float) -> bool:
    """Every planted pair is reported, and every reported pair really has
    3-shingle Jaccard >= threshold."""
    found = {(min(a, b), max(a, b)) for a, b, _ in pairs}
    if not planted <= found:
        return False
    for a, b, _ in pairs:
        sa, sb = shingles(texts[a]), shingles(texts[b])
        if len(sa & sb) / len(sa | sb) < threshold - 1e-9:
            return False
    return True


def cosine_pairs_ok(pairs: list[tuple[int, int]], vecs: np.ndarray,
                    planted: set[tuple[int, int]], threshold: float) -> bool:
    found = {(min(a, b), max(a, b)) for a, b in pairs}
    if not planted <= found:
        return False
    unit = vecs.astype("float64")
    unit /= np.linalg.norm(unit, axis=1, keepdims=True)
    return all(float(unit[a] @ unit[b]) >= threshold - 1e-6 for a, b in found)


def topk_ok(rows: list[tuple[int, int, float]], vecs: np.ndarray, query_ids: list[int],
            k: int) -> bool:
    """Exact cosine top-k: per query, the returned cosines are the k largest
    (self excluded), each equal to the recomputed cosine of its pair."""
    unit = vecs.astype("float64")
    unit /= np.linalg.norm(unit, axis=1, keepdims=True)
    by_q: dict[int, list[tuple[int, float]]] = {}
    for q, n, cos in rows:
        by_q.setdefault(q, []).append((n, cos))
    if sorted(by_q) != sorted(query_ids):
        return False
    for q, got in by_q.items():
        sims = unit @ unit[q]
        sims[q] = -np.inf
        best = np.sort(sims)[::-1][:k]
        if len(got) != k:
            return False
        if any(abs(cos - sims[n]) > 1e-5 for n, cos in got):
            return False
        if not np.allclose(sorted((c for _, c in got), reverse=True), best, atol=1e-5):
            return False
    return True


def bm25_scores(texts: dict[int, str], query: str, k1: float = 1.2, b: float = 0.75) -> dict[int, float]:
    """Okapi BM25 with Lucene's idf, over lowercased whitespace tokens and the
    query's distinct terms: the formula ``text.bm25_topk`` documents."""
    toks = {d: t.lower().split() for d, t in texts.items()}
    n = len(toks)
    avgdl = sum(len(t) for t in toks.values()) / n
    tf = {d: Counter(t) for d, t in toks.items()}
    scores: dict[int, float] = {}
    for term in set(query.lower().split()):
        df = sum(1 for c in tf.values() if term in c)
        if df == 0:
            continue
        idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
        for d, c in tf.items():
            if term in c:
                f = c[term]
                s = idf * f * (k1 + 1.0) / (f + k1 * (1.0 - b + b * len(toks[d]) / avgdl))
                scores[d] = scores.get(d, 0.0) + s
    return scores


def bm25_ok(rows: list[tuple[int, int, float]], texts: dict[int, str],
            queries: dict[int, str], k: int) -> bool:
    """Each returned score equals the recomputed BM25 of its doc, and the
    returned scores are the query's k best (tie order is free)."""
    by_q: dict[int, list[tuple[int, float]]] = {}
    for q, d, s in rows:
        by_q.setdefault(q, []).append((d, s))
    for q, qtext in queries.items():
        exp = bm25_scores(texts, qtext)
        got = by_q.get(q, [])
        if len(got) != min(k, len(exp)):
            return False
        if any(abs(s - exp[d]) > 2e-6 for d, s in got):
            return False
        best = sorted(exp.values(), reverse=True)[:k]
        if not np.allclose(sorted((s for _, s in got), reverse=True), best, atol=2e-6):
            return False
    return True


STOPWORDS_EN = frozenset({"the", "a", "and", "of", "to", "is", "in", "that", "it", "for"})


def quality_reference(text: str) -> float:
    """The composite score ``text.quality_score`` documents, unrounded."""
    toks = text.lower().split()
    n = max(len(toks), 1)
    mean_wl = len(re.sub(r"\s+", "", text)) / n
    stop_ratio = sum(t in STOPWORDS_EN for t in toks) / n
    punct_ratio = (len(text) - len(re.sub(r"[^A-Za-z0-9\s]", "", text))) / max(len(text), 1)
    return (
        min(len(toks) / 100.0, 1.0) * 0.4
        + (1.0 - min(abs(mean_wl - 5.0) / 5.0, 1.0)) * 0.3
        + min(stop_ratio * 5.0, 1.0) * 0.2
        + (1.0 - min(punct_ratio * 10.0, 1.0)) * 0.1
    )


def quality_ok(rows: list[tuple[int, float]], texts: dict[int, str]) -> bool:
    """One (doc_id, score) per document, each score the reference's, as the
    engine rounds it to 6 decimals."""
    got = dict(rows)
    if len(got) != len(rows) or got.keys() != texts.keys():
        return False
    return all(
        s is not None and abs(s - quality_reference(texts[d])) <= 1e-6 for d, s in got.items()
    )
