"""Seeded benchmark inputs: corpus row ids and the query log.

Everything here is a pure function of the seed (and, for the query log, of
the corpus vocabulary, which is itself a function of the seed). The engine
only ever sees the generated pages and query strings.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

# Corpus rows for seed s are generate_pages_pandas ids from block
# s mod SEED_BLOCKS, SEED_STRIDE ids wide: the base corpus first, then the
# fresh workload's micro-batch right after it. The generator's page
# timestamps (2024-01-01 + 37 s per id) overflow int64 nanoseconds past id
# ~2.03e8, so the blocks stay below 2e8.
SEED_STRIDE = 2_000
SEED_BLOCKS = 100_000

REFERENCE_QUERIES = ("western", "best", "well", "good", "Best Western")
OUT_OF_LEXICON_QUERY = "qzxv"
ALL_STOPWORD_QUERY = "the and of"
BM25F_WEIGHTS = (2.0, 1.0)

TERM_ZIPF_S = 1.0  # query-term draw over the whole lexicon ranked by df
POPULARITY_ZIPF_S = 1.0  # which earlier query a repeat request re-sends
REPEAT_EVERY = 3  # every 3rd request re-sends an earlier query
# Which earlier query (by first-appearance rank) each repeat re-sends is
# drawn Zipf-style once, from this fixed seed, so that every run repeats the
# same ranks; the run's seed still picks the terms of each query.
POPULARITY_SEED = 20240101
# A query is hot when all its terms fall in the lexicon's head (the terms
# that get theta sketches). Which queries are hot is not left to chance:
# for each term count n, a running tally makes the hot share of every
# prefix of the log the share a Zipf draw over the whole lexicon gives,
# (head mass)**n. A run times only a dozen requests, so a hot/cold mix
# that moved with the seed would move their latency by the hot/cold gap
# from one seed to the next. The bands of a cold query's terms come from
# this fixed stream, the terms within their bands from the run's seed.
BAND_SEED = 20240102
FIXED_EVERY = 3  # the fixed queries take every 3rd new-query slot
# A closed loop gets through only a handful of requests in a run, so the
# shape of each new query (mode, term count) follows a fixed cycle and only
# its terms are drawn: every run then sends the same mix of shapes. Each 20
# modes hold 14 OR, 3 AND and 3 BM25F; terms per query are 1-4.
MODE_CYCLE = (
    "OR", "OR", "AND", "OR", "BM25F", "OR", "OR", "OR", "AND", "OR",
    "OR", "BM25F", "OR", "OR", "AND", "OR", "OR", "BM25F", "OR", "OR",
)
TERMS_CYCLE = (2, 1, 3, 2, 4, 1, 2, 3)


@dataclass(frozen=True)
class Query:
    text: str
    mode: str = "OR"  # "OR" | "AND"
    field_weights: tuple[float, float] | None = None

    @property
    def kind(self) -> str:
        return "bm25f" if self.field_weights else self.mode.lower()

    def kwargs(self) -> dict:
        return {"k": 10, "mode": self.mode, "field_weights": self.field_weights}


@dataclass(frozen=True)
class Request:
    query: Query
    repeat: bool  # the same query was sent earlier in the log


def corpus_ids(seed: int, start: int, n: int) -> np.ndarray:
    if start < 0 or start + n > SEED_STRIDE:
        raise ValueError("corpus range exceeds the seed's id block")
    base = (seed % SEED_BLOCKS) * SEED_STRIDE + start
    return np.arange(base, base + n, dtype=np.int64)


def fixed_queries() -> list[Query]:
    return [Query(q) for q in REFERENCE_QUERIES] + [
        Query(OUT_OF_LEXICON_QUERY),
        Query(ALL_STOPWORD_QUERY),
    ]


def _zipf_p(n: int, s: float) -> np.ndarray:
    p = np.arange(1, n + 1, dtype=np.float64) ** (-s)
    return p / p.sum()


def query_log(
    seed: int, terms: list[str], n_head: int, n_requests: int
) -> list[Request]:
    """A closed-loop client's request sequence.

    ``terms``: the corpus lexicon, most frequent first; its first ``n_head``
    terms get theta sketches. Each generated query draws its terms
    Zipf-style from all of it (without replacement), as two steps: the band
    of each term (head or tail; see BAND_SEED), then the term within its
    band from the run's seed. Every REPEAT_EVERY-th request re-sends an
    earlier query, picked Zipf-style by first-appearance rank (popular
    queries are the early ones) from the fixed POPULARITY_SEED stream.
    """
    rng = np.random.default_rng(seed)
    popularity = np.random.default_rng(POPULARITY_SEED)
    band = np.random.default_rng(BAND_SEED)
    term_p = _zipf_p(len(terms), TERM_ZIPF_S)
    head_mass = term_p[:n_head].sum()
    bands = (  # (offset, size, in-band probabilities)
        (0, n_head, term_p[:n_head] / head_mass),
        (n_head, len(terms) - n_head, term_p[n_head:] / (1 - head_mass)),
    )
    hot_tally: dict[int, float] = {}
    fixed = fixed_queries()
    distinct: list[Query] = []
    out: list[Request] = []
    n_new = n_generated = 0
    while len(out) < n_requests:
        if len(out) % REPEAT_EVERY == REPEAT_EVERY - 1:
            # one uniform draw per repeat keeps the stream aligned across seeds
            # even where their distinct-query counts differ
            cdf = np.cumsum(_zipf_p(len(distinct), POPULARITY_ZIPF_S))
            rank = min(int(np.searchsorted(cdf, popularity.random())), len(distinct) - 1)
            out.append(Request(distinct[rank], True))
            continue
        if n_new % FIXED_EVERY == 0 and n_new // FIXED_EVERY < len(fixed):
            q = fixed[n_new // FIXED_EVERY]
        else:
            g = n_generated
            n_generated += 1
            n_terms = TERMS_CYCLE[g % len(TERMS_CYCLE)]
            tally = hot_tally.get(n_terms, 0.5)
            hot_tally[n_terms] = tally + head_mass**n_terms
            n_in_head = n_terms
            if int(hot_tally[n_terms]) == int(tally):  # cold: a Zipf draw
                while n_in_head == n_terms:  # of bands with a tail term
                    n_in_head = int((band.random(n_terms) < head_mass).sum())
            picks = [
                start + i
                for (start, size, p), k in zip(bands, (n_in_head, n_terms - n_in_head))
                for i in rng.choice(size, size=k, replace=False, p=p)
            ]
            text = " ".join(terms[i] for i in picks)
            mode = MODE_CYCLE[g % len(MODE_CYCLE)]
            q = Query(text, "OR", BM25F_WEIGHTS) if mode == "BM25F" else Query(text, mode)
        n_new += 1
        repeat = q in distinct
        if not repeat:
            distinct.append(q)
        out.append(Request(q, repeat))
    return out


def distinct_queries(log: list[Request]) -> list[Query]:
    return list(dict.fromkeys(r.query for r in log))
