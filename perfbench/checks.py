"""Answer checks and sample statistics for the benchmark.

Every op the benchmark times is checked here, and a check that does not
hold is counted as a failed op, never dropped:

- flat OR / AND queries, `lang:` filter queries and nested boolean
  queries with a prohibited term are compared with `oracle.BM25Oracle`
  (rank, doc_id and score);
- every other query shape is held to structural invariants (rank order,
  score order, tie order, and what each returned doc must or must not
  contain) and, at the default seed, to a golden top-k digest that the
  benchmark stores itself (`golden.json`);
- build and append counts are compared with the number of distinct
  non-empty urls the load generator produced.
"""

from __future__ import annotations

import hashlib
import json
import math
import random
import re
import statistics

from ipfs_search_spark.oracle import BM25Oracle
from ipfs_search_spark.plans.query import levenshtein

K = 10

# query-syntax words and anything the parser could read as an operator
_PLAIN_TERM = re.compile(r"[a-z][a-z0-9]*")
_RESERVED = {"and", "or", "not", "to"}


# ------------------------------------------------------------ statistics --

def tail_percentile(values: list[float]) -> tuple[int, float] | None:
    """(q, value) for the highest of p99/p95/p90/p75 that has at least ten
    samples beyond it, or None when the sample is too small for any."""
    n = len(values)
    for q in (99, 95, 90, 75):
        if n * (100 - q) / 100 >= 10:
            cuts = statistics.quantiles(values, n=100, method="inclusive")
            return q, cuts[q - 1]
    return None


# ------------------------------------------------------------ query mix --

SHAPES = ("head_or", "tail_or", "and", "prefix", "fuzzy", "lang_filter",
          "or_not", "nested_not")


class Query:
    """One generated query: its string, search mode, shape and the terms
    the checks need."""

    def __init__(self, shape: str, text: str, mode: str = "or", **terms):
        self.shape, self.text, self.mode, self.terms = shape, text, mode, terms

    def key(self) -> str:
        return f"{self.mode}|{self.text}"

    def __repr__(self) -> str:
        return f"Query({self.shape}: {self.text!r}, {self.mode})"


class QueryMix:
    """Seeded query generator over the index vocabulary, ranked by document
    frequency: head terms are the 20 most frequent, mid terms the next 80,
    tail terms the rarest terms still in at least two docs."""

    def __init__(self, df: dict[str, int], seed: int):
        terms = sorted((t for t in df if _PLAIN_TERM.fullmatch(t)
                        and t not in _RESERVED), key=lambda t: (-df[t], t))
        if len(terms) < 120:
            raise ValueError(f"vocabulary too small for the mix "
                             f"({len(terms)} plain terms)")
        self.head = terms[:20]
        self.mid = terms[20:100]
        self.tail = [t for t in terms[100:] if df[t] >= 2][-200:] or \
            terms[-50:]
        self.rng = random.Random(seed)

    def _pick(self, pool: list[str], n: int) -> list[str]:
        return self.rng.sample(pool, n)

    def make(self, shape: str) -> Query:
        r = self._pick
        if shape == "head_or":
            a, b = r(self.head, 2)
            return Query(shape, f"{a} {b}", a=a, b=b)
        if shape == "tail_or":
            a, b = r(self.tail, 2)
            return Query(shape, f"{a} {b}", a=a, b=b)
        if shape == "and":
            a, b = r(self.head, 2)
            return Query(shape, f"{a} {b}", mode="and", a=a, b=b)
        if shape == "prefix":
            a = r([t for t in self.head if len(t) >= 4], 1)[0]
            b = r(self.mid, 1)[0]
            return Query(shape, f"{a[:3]}* {b}", prefix=a[:3], b=b)
        if shape == "fuzzy":
            a = r([t for t in self.mid if len(t) >= 4], 1)[0]
            b = r(self.mid, 1)[0]
            i = self.rng.randrange(1, len(a))
            c = "z" if a[i] != "z" else "y"
            base = a[:i] + c + a[i + 1:]
            return Query(shape, f"{base}~1 {b}", base=base, b=b)
        if shape == "lang_filter":
            a, b = r(self.head, 2)
            return Query(shape, f"{a} {b} lang:de", a=a, b=b, lang="de")
        if shape == "or_not":
            a, b = r(self.mid, 2)
            return Query(shape, f"{a} OR NOT {b}", a=a, b=b)
        if shape == "nested_not":
            a, b = r(self.mid, 2)
            c, d = r(self.head, 2)
            return Query(shape, f"({a} OR {b}) AND {c} -{d}",
                         a=a, b=b, c=c, d=d)
        raise ValueError(f"unknown query shape {shape!r}")

    def schedule(self, n: int) -> list[Query]:
        """n queries cycling through every shape in a fixed order, so the
        share of each shape in a run does not depend on the seed."""
        return [self.make(SHAPES[i % len(SHAPES)]) for i in range(n)]


# --------------------------------------------------------------- checks --

def topk_rows(rows) -> list[tuple[int, int, float]]:
    """Engine rows of ONE query → [(rank, doc_id, score)] in rank order."""
    return sorted((int(r["rank"]), int(r["doc_id"]), float(r["score"]))
                  for r in rows)


def digest(rows: list[tuple[int, int, float]]) -> str:
    return hashlib.sha1(json.dumps(
        [(r, d, round(s, 6)) for r, d, s in rows]).encode()).hexdigest()[:16]


class Corpus:
    """What the checks know about the indexed documents: a BM25 oracle over
    their stored text, and each doc's lang."""

    def __init__(self, docs: list[tuple[int, str, str]]):
        """docs: (doc_id, text, lang) of every status-ok document."""
        self.oracle = BM25Oracle({d: t for d, t, _ in docs})
        self.lang = {d: lang for d, _, lang in docs}

    def has(self, doc: int, term: str) -> bool:
        return term in self.oracle.tf.get(doc, ())

    def expected(self, q: Query) -> list[tuple[int, int, float]] | None:
        """Exact expected top-k, or None for shapes the oracle cannot
        score (expansions and default-true trees)."""
        o, t = self.oracle, q.terms
        if q.shape in ("head_or", "tail_or", "and"):
            hits = o.search([t["a"], t["b"]], k=K, mode=q.mode)
        elif q.shape == "lang_filter":
            hits = [(d, s) for d, s in o.search([t["a"], t["b"]],
                                                k=len(o.tf))
                    if self.lang.get(d) == t["lang"]][:K]
        elif q.shape == "nested_not":
            terms = [t["a"], t["b"], t["c"]]
            hits = sorted(
                ((d, o.score(d, terms)) for d, tf in o.tf.items()
                 if (t["a"] in tf or t["b"] in tf) and t["c"] in tf
                 and t["d"] not in tf),
                key=lambda x: (-x[1], x[0]))[:K]
        else:
            return None
        return [(i + 1, d, s) for i, (d, s) in enumerate(hits)]

    def invariant_errors(self, q: Query,
                         rows: list[tuple[int, int, float]]) -> list[str]:
        """Structural properties every answer must have, whatever the
        seed: ranks 1..n, n ≤ k, scores non-increasing with ties by doc_id,
        known docs, and the shape's own must/must-not conditions."""
        errs = []
        if [r for r, _, _ in rows] != list(range(1, len(rows) + 1)):
            errs.append("ranks are not 1..n")
        if len(rows) > K:
            errs.append(f"{len(rows)} rows > k")
        for (_, d1, s1), (_, d2, s2) in zip(rows, rows[1:]):
            if s2 > s1 or (s2 == s1 and d2 < d1):
                errs.append("rows out of (score desc, doc_id asc) order")
                break
        t = q.terms
        for _, d, s in rows:
            if not math.isfinite(s):
                errs.append(f"doc {d}: score {s}")
            elif d not in self.lang:
                errs.append(f"doc {d} is not an indexed document")
            elif q.shape == "prefix" and not (
                    self.has(d, t["b"]) or any(
                        w.startswith(t["prefix"])
                        for w in self.oracle.tf[d])):
                errs.append(f"doc {d} matches neither clause")
            elif q.shape == "fuzzy" and not (
                    self.has(d, t["b"]) or any(
                        abs(len(w) - len(t["base"])) <= 1
                        and levenshtein(w, t["base"]) <= 1
                        for w in self.oracle.tf[d])):
                errs.append(f"doc {d} matches neither clause")
            elif q.shape == "or_not" and not (
                    self.has(d, t["a"]) or not self.has(d, t["b"])):
                errs.append(f"doc {d} has {t['b']} but not {t['a']}")
        return errs


class Checker:
    """Counts attempted and failed ops. A failed op is recorded with its
    reason; nothing is retried or dropped."""

    def __init__(self, golden: dict[str, str] | None = None,
                 record: dict[str, str] | None = None):
        self.golden = golden
        self.record = record
        self.attempted = 0
        self.failures: list[str] = []

    @property
    def failed(self) -> int:
        return len(self.failures)

    def op(self, what: str, errors: list[str]) -> bool:
        self.attempted += 1
        if errors:
            self.failures.append(f"{what}: {'; '.join(errors[:3])}")
        return not errors

    def count(self, what: str, got: int, want: int) -> bool:
        return self.op(what, [] if got == want else
                       [f"got {got}, expected {want}"])

    def query(self, corpus: Corpus, q: Query, rows,
              state: str = "") -> bool:
        """Check one query's answer. `state` names the index state for the
        golden key (queries over a growing index answer differently)."""
        got = topk_rows(rows)
        errs = corpus.invariant_errors(q, got)
        want = corpus.expected(q)
        if want is not None:
            if [(r, d) for r, d, _ in got] != [(r, d) for r, d, _ in want]:
                errs.append(f"top-k docs differ from the oracle "
                            f"(got {[d for _, d, _ in got][:3]}..., "
                            f"want {[d for _, d, _ in want][:3]}...)")
            elif any(abs(a[2] - b[2]) > 1e-9 for a, b in zip(got, want)):
                errs.append("scores differ from the oracle")
        key = f"{state}|{q.key()}"
        if self.record is not None:
            self.record[key] = digest(got)
        elif self.golden and key in self.golden and \
                self.golden[key] != digest(got):
            errs.append("top-k digest differs from the golden answer")
        return self.op(repr(q), errs)
