"""Self-tests for the benchmark's own pieces (no Spark needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import io
import json
import os

import pytest

import inputs
import report
from measure import Ledger, peak_rss_bytes, process_tree, timing_summary
from sparktrace import NullTracer, Span, interval_union, self_times

TERMS = [f"t{i}" for i in range(540)]  # a lexicon, most frequent first
N_HEAD = 40  # its leading terms, the ones with theta sketches


def generated(log):
    fixed = inputs.fixed_queries()
    return [q for q in inputs.distinct_queries(log) if q not in fixed]


def new_slots(log):
    """The generated query of every new-query slot, in order."""
    every, fixed = inputs.REPEAT_EVERY, inputs.fixed_queries()
    return [r.query for i, r in enumerate(log)
            if i % every != every - 1 and r.query not in fixed]


def is_hot(q):
    return all(int(t[1:]) < N_HEAD for t in q.text.split())


def test_query_log_is_deterministic_per_seed():
    a = inputs.query_log(7, TERMS, N_HEAD, 300)
    assert a == inputs.query_log(7, TERMS, N_HEAD, 300)
    assert a != inputs.query_log(8, TERMS, N_HEAD, 300)


def test_query_log_shape():
    log = inputs.query_log(3, TERMS, N_HEAD, 600)
    distinct = inputs.distinct_queries(log)
    # the reference set, the out-of-lexicon and the all-stopword query
    for q in inputs.fixed_queries():
        assert q in distinct
    gen = generated(log)
    assert all(1 <= len(set(q.text.split())) == len(q.text.split()) <= 4 for q in gen)
    kinds = [q.kind for q in gen[:20]]
    assert (kinds.count("or"), kinds.count("and"), kinds.count("bm25f")) == (14, 3, 3)
    repeats = sum(r.repeat for r in log) / len(log)
    assert 0.33 <= repeats < 0.45  # every 3rd, plus a new query drawn twice
    # every seed repeats the same first-appearance ranks
    def repeated_ranks(log):
        first = inputs.distinct_queries(log)
        every = inputs.REPEAT_EVERY
        return [first.index(r.query) for i, r in enumerate(log) if i % every == every - 1]

    other = repeated_ranks(inputs.query_log(4, TERMS, N_HEAD, 600))
    assert repeated_ranks(log)[:20] == other[:20]
    # a repeat re-sends a query that was sent before it
    seen = set()
    for r in log:
        assert r.repeat == (r.query in seen)
        seen.add(r.query)


def test_hot_share_is_the_zipf_draws_and_the_same_for_every_seed():
    logs = [inputs.query_log(seed, TERMS, N_HEAD, 600) for seed in (3, 4)]
    hot = [[is_hot(q) for q in new_slots(log)] for log in logs]
    assert hot[0] == hot[1]  # the same hot/cold sequence
    assert new_slots(logs[0]) != new_slots(logs[1])  # other terms
    # a plain Zipf draw over the whole lexicon makes a query of n terms hot
    # with probability (head mass)**n
    p = inputs._zipf_p(len(TERMS), inputs.TERM_ZIPF_S)[:N_HEAD].sum()
    cycle = inputs.TERMS_CYCLE
    expected = sum(p ** k for k in cycle) / len(cycle)
    assert abs(sum(hot[0]) / len(hot[0]) - expected) < 0.06
    # and within its band each term still follows the Zipf ranks
    drawn = [int(t[1:]) for q in new_slots(logs[0]) for t in q.text.split()]
    assert sum(r < 5 for r in drawn) > sum(5 <= r < 10 for r in drawn)
    assert sum(N_HEAD <= r < N_HEAD + 50 for r in drawn) > sum(
        N_HEAD + 50 <= r < N_HEAD + 100 for r in drawn)


def test_corpus_ids_per_seed_do_not_overlap():
    a = inputs.corpus_ids(1, 0, 1100)
    b = inputs.corpus_ids(2, 0, 1100)
    assert len(set(a) & set(b)) == 0
    assert list(inputs.corpus_ids(1, 1000, 5)) == list(range(3_000, 3_005))
    with pytest.raises(ValueError):
        inputs.corpus_ids(1, inputs.SEED_STRIDE - 10, 20)


def test_any_seed_gives_pages_the_generator_can_make():
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from search_engine_spark.sources.pages import generate_pages_pandas

    for seed in (0, 204, 99_999, 10**9 + 7):
        ids = inputs.corpus_ids(seed, inputs.SEED_STRIDE - 100, 100)
        assert len(generate_pages_pandas(ids)) == 100


def test_timing_summary_reports_sample_count():
    assert timing_summary([]) == {"n": 0}
    s = timing_summary([3.0, 1.0, 2.0])
    assert s == {"n": 3, "p50": 2.0, "mean": 2.0}  # too few for a tail percentile
    s = timing_summary([float(i) for i in range(1, 101)])
    assert s["n"] == 100 and s["p50"] == 50.5
    assert "p90" in s and "p99" not in s  # ten samples lie beyond p90
    assert 90.0 <= s["p90"] <= 91.0
    assert "p90" not in timing_summary([1.0] * 99)


def test_planted_wrong_answer_counts_as_failed():
    out = io.StringIO()
    ledger = Ledger(out=out)
    right = [(11, 2.5), (7, 1.25)]
    op1 = ledger.attempt()
    assert ledger.expect(op1, "search_topk", right, list(right), query="good")
    op2 = ledger.attempt()
    planted = [(11, 2.5), (7, 1.2500000000000002)]  # one ulp off
    assert not ledger.expect(op2, "search_topk", planted, right, query="best western")
    ledger.expect(op2, "search_many", planted, right, query="best western")
    assert (ledger.attempted, ledger.failed) == (2, 1)  # one op, counted once
    assert "best western" in out.getvalue()
    assert ledger.failures[0]["query"] == "best western"


def test_interval_union_and_self_time():
    assert interval_union([]) == 0.0
    assert interval_union([(0, 2), (1, 3), (5, 6)]) == 4.0
    spans = [
        Span(0, "episode", None, 0, 0.0, 10.0),
        Span(1, "ingest", 0, 0, 1.0, 4.0),
        Span(2, "query", 0, 0, 5.0, 6.0),
        Span(3, "inner", 1, 0, 2.0, 3.0),
    ]
    assert self_times(spans) == {0: 6.0, 1: 2.0, 2: 1.0, 3: 1.0}


def test_null_tracer_times_a_span():
    with NullTracer().span("x", jobs=True) as sp:
        pass
    assert sp.wall >= 0.0


def test_process_tree_and_its_peak_rss():
    assert os.getpid() in process_tree(os.getpid())
    rss, procs = peak_rss_bytes(os.getpid())
    assert rss > 0 and procs >= 1


def test_benchmark_json_matches_metric_tables():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: (m["unit"], m["better"]) for m in bench["end_to_end"]}
    assert e2e == {k: v[:2] for k, v in report.END_TO_END.items()}
    layers = {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]}
    assert layers == {k: v[:2] for k, v in report.PER_LAYER.items()}
    assert {w["name"] for w in bench["workloads"]} == {"serve", "fresh"}
