"""Self-tests of the benchmark. Run from the repository root:

    python3 -m pytest perfbench -q

The smoke tests start Spark in a subprocess per workload on a tiny base
index (a few minutes in all).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import types

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import run  # noqa: E402
from checks import (  # noqa: E402
    K, Checker, Corpus, Query, digest, tail_percentile, topk_rows,
)
from tracing import _union_len  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


# ----------------------------------------------------------- statistics --

def test_end_to_end_metrics_are_medians_of_the_run_samples():
    r = object.__new__(run.Run)  # no Spark: only the samples are needed
    r.session_s = 5.0
    r.setups = [12.0, 4.0, 3.0]  # the cold first set-up is not the median
    r.builds = [11.0, 3.5, 3.5, 3.0]  # the first (cold) build is left out
    r.queries = [0.8, 0.9, 5.0, 0.7]
    r.appends = [6.0, 3.0, 3.2]
    r.index_bytes = 850.0
    r.inputs = types.SimpleNamespace(base_docs=1400)
    m = r.end_to_end(rss_peak=2 * 2 ** 30)
    assert m["setup_s"] == (9.0, "s")
    assert m["build_docs_per_s"] == (400.0, "1/s")  # 1400 / 3.5
    assert m["query_p50_s"][0] == pytest.approx(0.85)
    assert m["append_p50_s"] == (3.2, "s")
    assert m["index_bytes_per_doc"] == (850.0, "B")
    assert m["rss_peak_mb"] == (2048.0, "MB")
    want = {e["name"]: e["unit"] for e in SPEC["end_to_end"]}
    assert {k: u for k, (_, u) in m.items()} == want


def test_tail_percentile_needs_ten_samples_beyond_it():
    assert tail_percentile([1.0] * 39) is None
    q, v = tail_percentile([float(i) for i in range(1, 41)])
    assert q == 75 and 30 <= v <= 31
    assert tail_percentile([float(i) for i in range(100)])[0] == 90
    assert tail_percentile([float(i) for i in range(1000)])[0] == 99


def test_union_len_merges_overlaps_and_clips():
    assert _union_len([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert _union_len([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == 2
    assert _union_len([], 0, 1) == 0


# -------------------------------------------------------- failure counts --

DOCS = [(i, text, "de" if i % 2 else "en") for i, text in enumerate([
    "alpha beta gamma", "alpha alpha delta", "beta beta beta gamma",
    "gamma delta epsilon", "alpha epsilon", "beta", "delta delta alpha",
    "epsilon gamma beta alpha", "zeta", "alphabet soup beta",
], start=100)]


def _rows(expected):
    return [{"rank": r, "doc_id": d, "score": s} for r, d, s in expected]


@pytest.fixture()
def corpus():
    return Corpus(DOCS)


def test_correct_answer_passes(corpus):
    ck = Checker()
    for q in (Query("head_or", "alpha beta", a="alpha", b="beta"),
              Query("and", "alpha beta", mode="and", a="alpha", b="beta"),
              Query("lang_filter", "alpha beta lang:de", a="alpha",
                    b="beta", lang="de"),
              Query("nested_not", "(alpha OR beta) AND gamma -delta",
                    a="alpha", b="beta", c="gamma", d="delta")):
        assert ck.query(corpus, q, _rows(corpus.expected(q))), q
    assert (ck.attempted, ck.failed) == (4, 0)


@pytest.mark.parametrize("plant", ["swap", "score", "drop", "extra_doc"])
def test_planted_wrong_topk_counts_as_failed(corpus, plant):
    q = Query("head_or", "alpha beta", a="alpha", b="beta")
    rows = list(corpus.expected(q))
    assert len(rows) >= 3
    if plant == "swap":
        rows[0], rows[1] = (1, rows[1][1], rows[0][2]), (2, rows[0][1],
                                                        rows[1][2])
    elif plant == "score":
        rows[2] = (3, rows[2][1], rows[2][2] + 1e-6)
    elif plant == "drop":
        rows = rows[:-1]
    else:
        rows[-1] = (rows[-1][0], 108, rows[-1][2])  # doc "zeta"
    ck = Checker()
    assert not ck.query(corpus, q, _rows(rows))
    assert (ck.attempted, ck.failed) == (1, 1)


def test_golden_digest_mismatch_counts_as_failed(corpus):
    q = Query("prefix", "alp* gamma", prefix="alp", b="gamma")
    good = [(1, 100, 2.0), (2, 109, 1.5)]
    ck = Checker(golden={f"s|{q.key()}": digest(good)})
    assert ck.query(corpus, q, _rows(good), "s")
    assert not ck.query(corpus, q, _rows([(1, 109, 2.0), (2, 100, 1.5)]),
                        "s")
    assert (ck.attempted, ck.failed) == (2, 1)


def test_invariant_violation_counts_as_failed(corpus):
    ck = Checker()
    q = Query("or_not", "zeta OR NOT beta", a="zeta", b="beta")
    # doc 102 has beta and no zeta: it cannot match `zeta OR NOT beta`
    assert not ck.query(corpus, q, _rows([(1, 108, 3.0), (2, 102, 0.0)]))
    # ranks must be 1..n and at most k rows
    assert not ck.query(corpus, q, _rows([(2, 108, 3.0)]))
    too_many = [(i + 1, 108, 1.0) for i in range(K + 1)]
    assert not ck.query(corpus, q, _rows(too_many))
    assert ck.failed == 3


def test_count_check_and_topk_rows():
    ck = Checker()
    assert ck.count("build n_docs", 10, 10)
    assert not ck.count("build n_docs", 9, 10)
    assert ck.failures == ["build n_docs: got 9, expected 10"]
    rows = [{"rank": 2, "doc_id": 5, "score": 1.0},
            {"rank": 1, "doc_id": 7, "score": 2.0}]
    assert topk_rows(rows) == [(1, 7, 2.0), (2, 5, 1.0)]


# ---------------------------------------------------------------- smoke --

def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace),
         "--base-pages", "400"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_end_to_end(workload):
    out = _run(workload, 0)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] > 0
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    assert all(v["value"] > 0 for v in out["metrics"].values())


def test_smoke_traced_ingest():
    out = _run("ingest", 1)
    assert out["correct"] and out["failed"] == 0
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    # job and stage counts are counts, not timings: whole numbers
    for shape in ("head_or", "lang_filter", "or_not"):
        for c in ("jobs", "stages"):
            v = out["metrics"][f"query.search.{shape}.{c}"]["value"]
            assert v >= 1 and v == int(v)
