"""Checks of the benchmark itself (no Spark needed).

    python3 -m pytest enginebench -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import inputs as I  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
from twin import Fts5Twin, compile_bag, compile_match  # noqa: E402


def _all_inputs(seed: int) -> str:
    corpus = I.make_corpus(seed, run.N_DOCS, words_per_doc=run.WORDS_PER_DOC)
    stream = I.search_queries(corpus, seed, I.MAX_QUERIES)
    calls = I.batch_calls(corpus, seed, 4, run.BATCH_QUERIES)
    plan = I.ingest_plan(seed, corpus, 2, run.UPSERT_DOCS, run.WORDS_PER_DOC, run.CAP)
    return I.digest(
        corpus.docs, [q.__dict__ for q in stream], calls,
        [q.__dict__ for q in plan.pool], plan.rounds,
    )


def test_same_seed_gives_byte_identical_inputs():
    assert _all_inputs(7) == _all_inputs(7)


def test_other_seed_gives_other_inputs():
    assert _all_inputs(7) != _all_inputs(8)


def test_query_classes_cycle_and_queries_are_distinct():
    corpus = I.make_corpus(3, run.N_DOCS, words_per_doc=run.WORDS_PER_DOC)
    n = I.MAX_QUERIES
    stream = I.search_queries(corpus, 3, n)
    assert [q.cls for q in stream[: len(I.CYCLE)]] == list(I.CYCLE)
    assert set(I.CYCLE) == set(I.QUERY_CLASSES)
    assert len({(q.text, q.spaces) for q in stream}) == n


def test_head_words_overflow_the_cap_and_terms_stay_under_it():
    corpus = I.make_corpus(5, run.N_DOCS, words_per_doc=run.WORDS_PER_DOC)
    twin = Fts5Twin(corpus.docs)
    for w in I.HEAD_WORDS:
        assert twin.search(w, None, run.CAP)[2], w
    stream = I.search_queries(corpus, 5, I.MAX_QUERIES)
    for q in stream:
        if q.cls == "term":
            assert not twin.search(q.text, None, run.CAP)[2], q
        if q.cls == "typo":
            assert twin.search(q.text, None, run.CAP)[1] == 0, q


@pytest.mark.parametrize("seed", [9, 204])
def test_ingest_rounds_invalidate_one_pool_entry_each(seed):
    corpus = I.make_corpus(seed, run.N_DOCS, words_per_doc=run.WORDS_PER_DOC)
    plan = I.ingest_plan(seed, corpus, 3, run.UPSERT_DOCS, run.WORDS_PER_DOC, run.CAP)
    twin = Fts5Twin(corpus.docs)
    for r, batch in enumerate(plan.rounds):
        assert len(batch) == run.UPSERT_DOCS
        assert len({row[0] for row in batch}) == len(batch)
        touched = {row[0] for row in batch}
        for k, q in enumerate(plan.pool):
            top = {rid for rid, _s in twin.search(q.text, q.spaces, run.CAP)[0]}
            assert bool(top & touched) == (k == r % len(plan.pool)), (r, q)
        twin.upsert(batch)


def test_match_strings():
    assert compile_match("alpha") == '"alpha"'
    assert compile_match("alpha beta") == 'NEAR("alpha" "beta", 15)'
    assert compile_match('"alpha beta"') == '"alpha beta"'
    assert compile_match("alpha -beta") == '"alpha" NOT ("beta")'
    assert compile_match("alp*") == '"alp"*'
    assert compile_bag("alpha beta", "or") == '"alpha" OR "beta"'


def test_benchmark_json_lists_the_reported_metrics():
    path = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
    spec = json.load(open(path))
    assert [m["name"] for m in spec["end_to_end"]] == [n for n, _u, _b in run.END_TO_END]
    assert [m["name"] for m in spec["per_layer"]] == [n for n, _u, _b in layers.PER_LAYER]
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(run.WORKLOADS)
