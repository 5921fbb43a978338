"""Block-max WAND pruning must be LOSSLESS: identical top-k (docs AND
scores) to exhaustive scoring (FIXTURES.md §4; SURVEY.md §7 'WAND
correctness')."""

from __future__ import annotations

import pytest

from search_engine_spark.operators.query import search_topk

MULTI_TERM_QUERIES = [
    "best western",
    "good hotel",
    "best good well",
    "clean room staff breakfast",
]


@pytest.mark.parametrize("query", MULTI_TERM_QUERIES)
def test_wand_equals_exhaustive(spark_index, query):
    exhaustive = search_topk(spark_index, query, k=10, use_wand=False)
    pruned = search_topk(spark_index, query, k=10, use_wand=True)
    assert pruned == exhaustive, query


def test_wand_k_larger_than_matches(spark_index):
    # k larger than the candidate set: theta stays 0, nothing pruned
    exhaustive = search_topk(spark_index, "w4000 w4001", k=10**6, use_wand=False)
    pruned = search_topk(spark_index, "w4000 w4001", k=10**6, use_wand=True)
    assert pruned == exhaustive


def _count_collects(monkeypatch, index, build):
    """DataFrame.collect calls issued while ``build`` plans a query (the
    driver round-trips before the returned plan runs). Patches the
    concrete DataFrame class: pyspark.sql.DataFrame is its abstract base,
    whose collect the classic DataFrame overrides."""
    DataFrame = type(index.lexicon)
    n = 0
    orig = DataFrame.collect

    def counting(self, *a, **kw):
        nonlocal n
        n += 1
        return orig(self, *a, **kw)

    monkeypatch.setattr(DataFrame, "collect", counting)
    df = build()
    monkeypatch.setattr(DataFrame, "collect", orig)
    return n, df


# (shape, query, search kwargs, pinned collect count)
SERVE_SHAPES = [
    ("hot_or", "best western", {}, 0),
    ("cold_or", "best w101", {}, 1),
    ("filtered", "best western", {"doc_ids": True}, 1),
    ("single", "western", {}, 0),
    ("and", "best western", {"mode": "AND"}, 0),
    ("no_wand", "best w101", {"use_wand": False}, 0),
]


@pytest.mark.parametrize(
    "shape,query,kw,want", SERVE_SHAPES, ids=[s[0] for s in SERVE_SHAPES]
)
def test_serve_driver_round_trips(
    spark, spark_index, monkeypatch, shape, query, kw, want
):
    """Driver round-trips while search() plans each serve-path query shape:
    the sketch serves hot multi-term OR queries with no Spark job, a cold
    rarest term or a doc_ids filter costs the one distributed theta pass,
    and single-term, AND and use_wand=False queries skip WAND entirely."""
    from search_engine_spark.operators.query import search

    idx = spark_index
    bound = idx.bind_terms(query)
    rarest = min(bound, key=lambda t: (bound[t]["df"], t))
    assert (rarest not in idx.hot_bounds) == (shape in ("cold_or", "no_wand"))
    kw = dict(kw)
    if kw.get("doc_ids"):
        kw["doc_ids"] = idx.doc_stats.select("doc_id")
    n, df = _count_collects(
        monkeypatch, idx, lambda: search(idx, query, k=10, **kw)
    )
    assert df.collect()
    assert n == want, (shape, n)


def test_uncompacted_no_deltas_honours_use_wand(spark_index, monkeypatch):
    """With no pending deltas search_uncompacted serves the base snapshot
    and must still honour use_wand=False: no theta pass, same answer as
    search_topk(..., use_wand=False)."""
    from search_engine_spark.operators.query import search_uncompacted

    n, df = _count_collects(
        monkeypatch,
        spark_index,
        lambda: search_uncompacted(spark_index, "best w101", k=10, use_wand=False),
    )
    got = [(int(r["doc_id"]), float(r["score"])) for r in df.collect()]
    assert got == search_topk(spark_index, "best w101", k=10, use_wand=False)
    assert n == 0, n
