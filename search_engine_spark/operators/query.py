"""BM25 top-k query engine over the compressed barrel index.

Query lifecycle mirrors the reference (SURVEY.md §3.1,
/root/reference/backend/app.py:363-620). ONE planner (_plan_topk) runs
it for every term query:

  1. bind: tokenize with the SAME normalize pipeline (app.py:376-380) and
     look the terms up; missing terms are silently dropped (app.py:392-401)
  2. idf per bound term from the snapshot's df and N
  3. term bounds: per-term BM25 upper bound from raw (max_tf, min_dl)
  4. theta: a SAFE lower bound of the final kth score (below)
  5. scored partials: partition-pruned postings probe (barrel IN (...)
     AND term_id IN (...) — the Spark-native version of the reference's
     `termID // 20000` file arithmetic, app.py:567-572), Arrow decode +
     per-posting BM25 partials (numpy) with block-max WAND skipping
     (replaces MAX_DOCS_TO_PROCESS, app.py:73)
  6. ordered per-doc sum (union OR-semantics, app.py:594-617;
     AND-semantics intersection via term-count, SURVEY.md §2.3 J8)
  7. orderBy(score desc, doc_id asc).limit(k) — TakeOrderedAndProject,
     a distributed per-partition-heap top-k.

The planner reads one of two snapshot views (_View), which differ only
in data:
  - base view (search, search_many): the driver-cached lexicon binding,
    base corpus stats, the lexicon's (max_tf, min_dl) term bounds and the
    hot-term theta sketches;
  - union view (search_uncompacted): base ∪ un-compacted ingest deltas —
    union-lexicon binding, live df/N/avgdl and raw bounds from ONE tagged
    stats collect, base blobs minus superseded docs ∪ latest-wins delta
    rows, and no sketch (its base-stats scores do not hold there).

Float discipline: per-posting scores come from one kernel (_Kernel:
compression.bm25_score / bm25f_score, the oracle.bm25_contrib shape),
idf via math.log on both sides, and the per-doc sum is evaluated in
SORTED-TERM-STRING order via aggregate(sort_array(collect_list(...))) — a
build-independent order (term_ids shift across incremental builds), equal
to the oracle's ascending-term_id order since oracle ids are term-sorted.

WAND threshold (theta): the kth-largest achieved score among real
postings — from the driver-side hot-term sketches and/or a distributed
TakeOrdered pass over the rarest (lowest-df) query term's postings (no
blobs on the driver). Any block b of term t with block_max(b) +
sum_{t' != t} max_score(t') < theta cannot contain a top-k doc: such a
doc's total upper bound sits below theta ≤ the true kth score, so
neither dropping its t-contribution nor its (under-)scored appearance
via other terms can change the top-k set or its scores — asserted
against exhaustive scoring in tests/test_wand.py.

The query path reads only the current index format; SearchIndex rejects
an older index at open (index_build.check_format).
"""

from __future__ import annotations

import heapq
from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from search_engine_spark.functions.compression import (
    bm25_score,
    bm25f_score,
    decode_posting_blocks,
)
from search_engine_spark.operators.index_build import (
    B,
    DECODE_BASE_COLS,
    DECODE_BOUND_COLS,
    DECODE_FIELD_BOUND_COLS,
    DECODE_TF1_COLS,
    K1,
    IndexPaths,
    check_format,
    idf_value,
    read_postings,
    read_stats,
)
from search_engine_spark.functions.text import normalize_text

# A lexicon of at most this many rows is collected ONCE into a driver dict
# at open, making term binding free (no Spark job per query) — the
# reference keeps its whole lexicon resident the same way (app.py:228).
# Above it (web scale, 10^8+ terms) binding is a pushed-down IN-filter
# lexicon scan, one cheap job per query.
LOCAL_LEXICON_MAX_ROWS = 2_000_000


def _query_tokens(query: str | list[str]) -> list[str]:
    """Sorted distinct query terms. A LIST is treated as ALREADY-NORMALIZED
    terms and kept verbatim — the path search_corrected needs: lexicon
    terms are normalize outputs, and the lemmatizer is not idempotent
    (e.g. 'embed' would re-stem), so re-normalizing a corrected term
    could silently un-bind it."""
    if isinstance(query, (list, tuple, set)):
        return sorted({t for t in query if t})
    return sorted({t for t in normalize_text(query).split(" ") if t})


class SearchIndex:
    """Handle on a built index: the base snapshot's tables, corpus stats,
    hot-term theta sketches and (under LOCAL_LEXICON_MAX_ROWS) the whole
    lexicon as a driver dict."""

    def __init__(self, spark: SparkSession, paths: IndexPaths):
        import os

        from search_engine_spark.operators.index_build import read_epoch
        from search_engine_spark.streaming.incremental import recover_pending

        self.spark = spark
        self.paths = paths
        # roll forward a compaction whose journaled swap was interrupted
        # (crash-safe commit: the journal IS the snapshot pointer) — a
        # reader must never open a half-swapped index
        recover_pending(paths)
        self._open_epoch = read_epoch(paths)
        stats = read_stats(spark, paths)
        self.lexicon = spark.read.parquet(paths.lexicon)
        self.postings = read_postings(spark, paths.postings)
        hb_df = (
            spark.read.parquet(paths.hot_bounds)
            if os.path.exists(paths.hot_bounds)
            else None
        )
        check_format(
            postings=self.postings.columns,
            lexicon=self.lexicon.columns,
            stats=list(stats),
            hot_bounds=None if hb_df is None else hb_df.columns,
        )
        self.n_docs = int(stats["n_docs"])
        self.avgdl = float(stats["avgdl"])
        # per-field corpus averages for the true-BM25F length norm
        self.avgdl1 = float(stats["avgdl1"])
        self.avgdlb = float(stats["avgdlb"])
        self.n_barrels = int(stats["n_barrels"])
        self.doc_stats = spark.read.parquet(paths.doc_stats)
        # hot-term theta sketches (tiny: one row per SALTED term) — the
        # driver-side WAND threshold source for Zipf-head queries.
        # Driver-memory cap: one tiny row (≤THETA_K postings) per HOT term;
        # hot terms are the Zipf head so their count grows ~log with the
        # corpus, but the cap bounds the worst case. An un-loaded hot term
        # degrades gracefully: its sketch contributes nothing (theta stays
        # a valid lower bound) and a query whose rarest term it is takes
        # the distributed theta pass.
        self.hot_bounds: dict[int, tuple] = {}
        max_hot_terms = 200_000
        if hb_df is not None:
            for r in hb_df.take(max_hot_terms):
                self.hot_bounds[int(r["term_id"])] = tuple(
                    np.asarray(r[c], dtype=np.int64 if c == "docs" else np.float64)
                    for c in ("docs", "tfs", "dls", "tf1s", "dl1s")
                )
        self._local_lexicon: dict[str, dict] | None = None
        if LOCAL_LEXICON_MAX_ROWS:
            # single scan: take(max+1) both sizes the lexicon and fetches
            # it (count()+collect() would scan twice on every open/refresh)
            rows = self.lexicon.take(LOCAL_LEXICON_MAX_ROWS + 1)
            if len(rows) <= LOCAL_LEXICON_MAX_ROWS:
                self._local_lexicon = {
                    r["term"]: {
                        "term_id": int(r["term_id"]),
                        "df": int(r["df"]),
                        "max_tf": int(r["max_tf"]),
                        "min_dl": int(r["min_dl"]),
                    }
                    for r in rows
                }

    def refresh(self) -> "SearchIndex":
        """Re-open after an incremental ingest/compaction changed the
        on-disk tables (the cached driver lexicon would otherwise be
        stale)."""
        return SearchIndex(self.spark, self.paths)

    def check_epoch(self) -> None:
        """Raise if compact() rewrote the index since this handle was
        opened: the cached lexicon / hot_bounds / term ids would be stale
        (WAND bounds could silently disagree with the rewritten barrels).
        One tiny local file read per query — no Spark job."""
        from search_engine_spark.operators.index_build import read_epoch

        current = read_epoch(self.paths)
        if current != self._open_epoch:
            raise ValueError(
                f"index epoch changed ({self._open_epoch} -> {current}): "
                "the index was compacted after this handle was opened; "
                "call refresh() for a fresh SearchIndex"
            )

    def bind_terms(self, query: str | list[str]) -> dict[int, dict]:
        """-> {term_id: {term, df, max_tf, min_dl}} for query terms in the
        base lexicon (a list is bound verbatim — _query_tokens). The
        (max_tf, min_dl) term bound rides along with the binding, so WAND
        needs no extra metadata job over the postings."""
        tokens = _query_tokens(query)
        if not tokens:
            return {}
        if self._local_lexicon is not None:
            return {
                e["term_id"]: {
                    "term": t,
                    **{k: e[k] for k in ("df", "max_tf", "min_dl")},
                }
                for t in tokens
                if (e := self._local_lexicon.get(t)) is not None
            }
        rows = (
            self.lexicon.filter(F.col("term").isin(tokens))
            .select("term", "term_id", "df", "max_tf", "min_dl")
            .collect()
        )
        return {
            int(r["term_id"]): {
                "term": r["term"],
                **{k: int(r[k]) for k in ("df", "max_tf", "min_dl")},
            }
            for r in rows
        }


# --- the top-k planner ----------------------------------------------------


@dataclass
class _View:
    """One snapshot the planner scores. ``bound`` maps each bound query
    term_id -> {term, df, max_tf, min_dl} under THIS snapshot's df and
    raw bound extrema; ``stats`` = (avgdl, avgdl1, avgdlb). ``superseded``
    (docs whose base postings a delta version replaces) and
    ``delta_rows`` (their latest-wins postings) are set together, by the
    union view only."""

    bound: dict[int, dict]
    n_docs: int
    stats: tuple[float, float, float]
    probe: DataFrame
    sketch: dict[int, tuple]
    superseded: DataFrame | None = None
    delta_rows: DataFrame | None = None

    def idfs(self) -> dict[int, float]:
        return {t: idf_value(b["df"], self.n_docs) for t, b in self.bound.items()}


class _Kernel:
    """The per-posting score — BM25, or TRUE BM25F (Robertson/Zaragoza
    simple BM25F, compression.bm25f_score) when ``field_weights`` =
    (w_title, w_body) is set — bound to a view's corpus averages: the one
    place the query path picks between the two. Shipped (pickled) to the
    executors by the decode and delta-scoring UDFs."""

    def __init__(
        self,
        stats: tuple[float, float, float],
        field_weights: tuple[float, float] | None,
    ):
        self.avgdl, avgdl1, avgdlb = stats
        # a field absent corpus-wide has average length 0 and tf
        # identically 0: guard to 1.0 so its dead term is 0, not NaN (the
        # oracle and the SQL apply the same guard)
        self.avgdl1, self.avgdlb = avgdl1 or 1.0, avgdlb or 1.0
        self.fw = field_weights
        # column pruning BELOW the Arrow boundary: mapInPandas ships every
        # input column to Python, so only the consumed streams are
        # selected (the select also prunes the parquet scan); the field
        # channel decodes only in weighted mode
        self.blob_cols = DECODE_BASE_COLS + DECODE_BOUND_COLS + (
            DECODE_FIELD_BOUND_COLS + DECODE_TF1_COLS if self.fw else []
        )
        # the score() inputs a delta row carries, in argument order
        self.score_cols = ["tf", "dl"] + (["tf1", "dl1"] if self.fw else [])

    def score(self, idf, tf, dl, tf1=None, dl1=None) -> np.ndarray:
        """Per-posting partials; BM25F normalizes each field's tf by its
        own field length against the field's corpus average, then the
        weighted sum saturates once."""
        if self.fw is None:
            return bm25_score(tf, dl, idf, self.avgdl, K1, B)
        w_t, w_b = self.fw
        return bm25f_score(
            tf1, tf - tf1, dl1, dl - dl1, idf, w_t, w_b,
            self.avgdl1, self.avgdlb, K1, B,
        )

    def block_bound(self, idf: float, row) -> np.ndarray:
        """Per-block upper bound from a blob row's monotone summaries
        (compression.block_summaries) under live idf/avgdl — exact even
        after incremental updates. BM25F uses the per-field extrema:
        tfn is increasing in each field tf and decreasing in each field
        length, so bm25f(max_tf1, max_tf, min_dl1, min_dlb) bounds every
        posting in the block (body tf ≤ tf)."""
        mt = np.asarray(row.block_max_tf, dtype=np.float64)
        if self.fw is None:
            md = np.asarray(row.block_min_dl, dtype=np.float64)
            return bm25_score(mt, md, idf, self.avgdl, K1, B)
        w_t, w_b = self.fw
        return bm25f_score(
            np.asarray(row.block_max_tf1, dtype=np.float64), mt,
            np.asarray(row.block_min_dl1, dtype=np.float64),
            np.asarray(row.block_min_dlb, dtype=np.float64),
            idf, w_t, w_b, self.avgdl1, self.avgdlb, K1, B,
        )

    def term_bound(self, idf: float, max_tf: int, min_dl: int) -> float:
        """Upper bound of the term's score over all its postings;
        max_tf <= 0 means the term has no postings in the view (e.g. a
        full-merge compaction tombstoned every one: the lexicon keeps the
        term with df 0 and max_tf 0), bound 0. BM25F has no per-field
        term extrema:
        with each field's normalizer floored at (1−b) and both field tfs
        ≤ max_tf, tfn ≤ (w_t + w_b)·max_tf/(1−b), and the saturated score
        is increasing in tfn — looser than the block bound, which it only
        gates."""
        if max_tf <= 0:
            return 0.0
        if self.fw is None:
            return float(
                bm25_score(
                    np.array([float(max_tf)]), np.array([float(min_dl)]),
                    idf, self.avgdl, K1, B,
                )[0]
            )
        w_t, w_b = self.fw
        tfn = (w_t + w_b) * float(max_tf) / (1.0 - B)
        return idf * (tfn * (K1 + 1.0)) / (tfn + K1)

    def decode(self, row, keep) -> tuple[np.ndarray, ...]:
        """(doc_id, tf, dl[, tf1, dl1]) of the kept blocks; pruned blocks
        are never DECOMPRESSED — the per-block byte-length tables make
        skipping pure offset arithmetic."""
        field = (
            (row.tf1s, row.tf1_lens, row.dls1, row.dl1_lens) if self.fw else ()
        )
        return decode_posting_blocks(
            row.doc_deltas, row.tfs, row.dls,
            row.db_lens, row.tf_lens, row.dl_lens, keep, *field,
            codec=int(row.codec),
        )


def _probe(index: SearchIndex, term_ids: list[int]) -> DataFrame:
    """Partition-pruned postings scan (barrel dirs + term_id row groups)."""
    barrels = sorted({tid % index.n_barrels for tid in term_ids})
    return index.postings.filter(
        F.col("barrel").isin(barrels) & F.col("term_id").isin(term_ids)
    )


def _base_view(index: SearchIndex, bound: dict[int, dict]) -> _View | None:
    """The base snapshot: what the index handle caches."""
    if not bound:
        return None
    return _View(
        bound, index.n_docs, (index.avgdl, index.avgdl1, index.avgdlb),
        _probe(index, sorted(bound)), index.hot_bounds,
    )


def _union_view(index: SearchIndex, snap: dict, query: str) -> _View | None:
    """The union corpus (base ∪ un-compacted ingest deltas) under LIVE
    stats. df per term is counted live — base df from the blob metadata
    (Σ n_docs) minus the delta-superseded docs present in the term's base
    list (a doc-id-only decode pass, tf/dl streams untouched) plus the
    latest-wins delta rows; N/avgdl (and the per-field averages) come from
    uncompacted_snapshot's exact-int fold. The raw (max_tf, min_dl) term
    bound extrema span base metadata ∪ delta rows (raw extrema are
    stats-independent; the planner scores them with live idf/avgdl).

    The three tiny per-term aggregates — blob metadata, superseded
    overlap, delta stats — union into one tagged frame and reach the
    driver in ONE collect (tests/test_streaming.py pins the job count)."""
    from search_engine_spark.streaming import incremental as inc

    tokens = _query_tokens(query)
    if not tokens:
        return None
    # bind via the base ∪ delta lexicon (new terms must bind; the cached
    # driver lexicon is stale while deltas exist)
    terms = {
        int(r["term_id"]): r["term"]
        for r in snap["lexicon"]
        .filter(F.col("term").isin(tokens))
        .select("term", "term_id")
        .collect()
    }
    if not terms:
        return None
    term_ids = sorted(terms)
    # postings-delta torn-log guard (the term-side analogue of the
    # positional guard) — owned by the delta-log layer
    inc.check_postings_log(index.paths)
    probe = _probe(index, term_ids)
    deltas = inc._read_deltas_with_seq(
        index.spark, index.paths, inc.delta_dir(index.paths)
    )
    delta_rows = (
        inc._latest_per_doc(deltas)
        .filter(F.col("term_id").isin(term_ids))
        .select("term_id", "doc_id", "tf", "tf1", "dl", "dl1")
        .localCheckpoint(eager=False)
    )
    lc = lambda c: F.col(c).cast("long")  # noqa: E731 — union type align
    stats_frame = (
        probe.groupBy("term_id")
        .agg(
            F.sum("n_docs").alias("a"),
            F.max(F.array_max("block_max_tf")).alias("b"),
            F.min(F.array_min("block_min_dl")).alias("c"),
        )
        .select(F.lit("meta").alias("src"), "term_id", lc("a"), lc("b"), lc("c"))
        .unionByName(
            inc.decode_docid_rows(probe)
            .join(F.broadcast(snap["delta_doc_ids"]), "doc_id", "left_semi")
            .groupBy("term_id")
            .agg(F.count("*").alias("a"))
            .select(
                F.lit("overlap").alias("src"),
                "term_id",
                lc("a"),
                F.lit(None).cast("long").alias("b"),
                F.lit(None).cast("long").alias("c"),
            )
        )
        .unionByName(
            delta_rows.groupBy("term_id")
            .agg(
                F.count("*").alias("a"),
                F.max("tf").alias("b"),
                F.min("dl").alias("c"),
            )
            .select(
                F.lit("delta").alias("src"), "term_id", lc("a"), lc("b"), lc("c")
            )
        )
    )
    df = dict.fromkeys(term_ids, 0)
    max_tf = dict.fromkeys(term_ids, 0)
    min_dls: dict[int, list[int]] = {t: [] for t in term_ids}
    for r in stats_frame.collect():
        tid = int(r["term_id"])
        if r["src"] == "overlap":
            df[tid] -= int(r["a"])
            continue
        df[tid] += int(r["a"])
        max_tf[tid] = max(max_tf[tid], int(r["b"]))
        min_dls[tid].append(int(r["c"]))
    bound = {
        t: {
            "term": terms[t], "df": df[t], "max_tf": max_tf[t],
            "min_dl": min(min_dls[t], default=1),
        }
        for t in term_ids
    }
    return _View(
        bound, snap["n_docs"], (snap["avgdl"], snap["avgdl1"], snap["avgdlb"]),
        probe, {}, snap["delta_doc_ids"], delta_rows,
    )


def _term_ranks(bound: dict[int, dict]) -> dict[int, int]:
    """term_id -> the term's position in SORTED-BY-STRING order: the
    build-independent key for the deterministic per-doc float sum
    (term_ids are NOT stable across incremental builds — new terms append
    at max_id+1 — so summing in term_id order would diverge from a fresh
    build in the last ulp for 3+-term queries)."""
    return {
        tid: i for i, tid in enumerate(sorted(bound, key=lambda t: bound[t]["term"]))
    }


def _keep_docs(scored: DataFrame, doc_ids: DataFrame | None) -> DataFrame:
    """Metadata filter as a broadcast semi-join BELOW the aggregation:
    filtered-out docs never enter the per-doc sum or the top-k heaps."""
    if doc_ids is None:
        return scored
    return scored.join(F.broadcast(doc_ids.select("doc_id")), "doc_id", "left_semi")


def _decode_score_df(
    probe: DataFrame,
    kernel: _Kernel,
    idfs: dict[int, float],
    ranks: dict[int, int],
    theta: float = 0.0,
    other_max: dict[int, float] | None = None,
) -> DataFrame:
    """mapInPandas: blob rows -> (doc_id, rank, score) with block-max
    skipping. other_max[t] = sum of the term bounds of the OTHER query
    terms; theta 0 decodes every block."""
    other_max = other_max or {}

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_doc, out_rank, out_score = [], [], []
            for row in pdf.itertuples(index=False):
                tid = int(row.term_id)
                idf = idfs[tid]
                keep = None  # decode all blocks
                if theta > 0.0:
                    # prune against theta RELAXED by the 6-dp rounding
                    # quantum: the final top-k orders by round(score, 6),
                    # so a doc whose raw total sits within 5e-7 below
                    # theta can round-TIE the kth score and win the
                    # doc_id tiebreak — pruning it would diverge from the
                    # oracle exactly at the tie boundaries the rounded
                    # ordering was introduced to stabilize
                    bm = kernel.block_bound(idf, row)
                    keep = bm + other_max.get(tid, 0.0) >= theta - 5e-7
                    if not keep.any():
                        continue
                d, *cols = kernel.decode(row, keep)
                out_doc.append(d)
                out_rank.append(np.full(len(d), ranks[tid], dtype=np.int64))
                out_score.append(kernel.score(idf, *cols))
            if out_doc:
                yield pd.DataFrame(
                    {
                        "doc_id": np.concatenate(out_doc),
                        "rank": np.concatenate(out_rank),
                        "score": np.concatenate(out_score),
                    }
                )

    return probe.select(*kernel.blob_cols).mapInPandas(
        decode, schema="doc_id long, rank long, score double"
    )


def _score_delta_rows(
    rows: DataFrame,
    kernel: _Kernel,
    idfs: dict[int, float],
    ranks: dict[int, int],
) -> DataFrame:
    """Latest-wins delta rows -> (doc_id, rank, score), same kernel as the
    base decode."""

    def score_rows(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            cols = [pdf[c].to_numpy(dtype=np.float64) for c in kernel.score_cols]
            idf = pdf["term_id"].map(idfs).to_numpy(dtype=np.float64)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy(),
                    "rank": pdf["term_id"].map(ranks).to_numpy(dtype=np.int64),
                    "score": kernel.score(idf, *cols),
                }
            )

    return rows.select("term_id", "doc_id", *kernel.score_cols).mapInPandas(
        score_rows, schema="doc_id long, rank long, score double"
    )


def _scored(
    view: _View,
    kernel: _Kernel,
    idfs: dict[int, float],
    ranks: dict[int, int],
    theta: float = 0.0,
    other_max: dict[int, float] | None = None,
    term: int | None = None,
) -> DataFrame:
    """(doc_id, rank, score) partials of the view's bound terms (or of
    the one ``term``): the base blob decode, minus docs a delta version
    supersedes (latest version wins — a broadcast anti-join on the tiny
    delta doc set), plus the scored delta rows. Delta rows are small by
    construction and always score."""
    probe, delta = view.probe, view.delta_rows
    if term is not None:
        probe = probe.filter(F.col("term_id") == term)
        if delta is not None:
            delta = delta.filter(F.col("term_id") == term)
    scored = _decode_score_df(probe, kernel, idfs, ranks, theta, other_max)
    if view.superseded is None:
        return scored
    return scored.join(
        F.broadcast(view.superseded), "doc_id", "left_anti"
    ).unionByName(_score_delta_rows(delta, kernel, idfs, ranks))


def _sketch_theta(
    sketch: dict[int, tuple],
    kernel: _Kernel,
    term_ids: list[int],
    idfs: dict[int, float],
    k: int,
) -> float:
    """Driver-side theta from the hot-term sketches: accumulate ACHIEVED
    partial sums per doc over every query term's stored real postings
    (live idf/avgdl, the same kernel the decode scores with — the sketch
    stores the real (tf1, dl1) channel), take the kth largest. Zero
    Spark jobs.

    Safe: each stored (doc, tf, dl) is a real posting, so each per-doc
    sum is ≤ that doc's true total score; k distinct docs achieving
    ≥ theta ⇒ the true kth top-k score ≥ theta."""
    acc: dict[int, float] = {}
    for tid in term_ids:
        hb = sketch.get(tid)
        if hb is None:
            continue
        d, tf, dl, tf1, dl1 = hb
        score = kernel.score(idfs[tid], tf, dl, tf1, dl1)
        for doc, sc in zip(d.tolist(), score.tolist()):
            acc[doc] = acc.get(doc, 0.0) + sc
    if len(acc) < k:
        return 0.0
    return heapq.nlargest(k, acc.values())[-1]


def _theta(
    view: _View,
    kernel: _Kernel,
    idfs: dict[int, float],
    ranks: dict[int, int],
    k: int,
    doc_ids: DataFrame | None,
) -> float:
    """The WAND threshold: the kth-best achieved score among real
    postings, a safe lower bound on the true kth top-k total.

    The sketch serves unfiltered queries for free. The distributed pass —
    kth-best score among the RAREST term's postings, orderBy(desc)
    .limit(k) (TakeOrderedAndProject, per-partition heaps; no blobs reach
    the driver) — runs only when the sketch cannot stand in for it: the
    rarest term is unsketched (always so in a view without sketches; a
    cold term's list is bounded by salt_threshold, so the pass is cheap
    and usually tighter), or a ``doc_ids`` filter is set — the sketch
    ignores the filter, so its kth score could exceed the kth FILTERED
    score and over-prune; the pass applies the same semi-join as the
    final top-k."""
    term_ids = sorted(view.bound)
    rarest = min(term_ids, key=lambda t: (view.bound[t]["df"], t))
    theta = 0.0
    if doc_ids is None:
        theta = _sketch_theta(view.sketch, kernel, term_ids, idfs, k)
        if rarest in view.sketch:
            return theta
    top = (
        _keep_docs(_scored(view, kernel, idfs, ranks, term=rarest), doc_ids)
        .select("score")
        .orderBy(F.desc("score"))
        .limit(k)
        .collect()
    )
    return max(theta, float(top[-1]["score"]) if len(top) == k else 0.0)


def _ordered_sum(partials: DataFrame, keys: list[str]) -> DataFrame:
    """(keys..., rank, score) partials -> (keys..., score, n_terms): the
    per-group float sum in rank order (build-independent, oracle-bit-equal
    — see _term_ranks) and the number of terms that matched."""
    return (
        partials.groupBy(*keys)
        .agg(F.sort_array(F.collect_list(F.struct("rank", "score"))).alias("parts"))
        .select(
            *keys,
            F.aggregate(
                "parts", F.lit(0.0), lambda acc, x: acc + x["score"]
            ).alias("score"),
            F.size("parts").alias("n_terms"),
        )
    )


def _plan_topk(
    index: SearchIndex,
    view: _View | None,
    k: int,
    mode: str,
    use_wand: bool,
    field_weights: tuple[float, float] | None,
    doc_ids: DataFrame | None,
) -> DataFrame:
    """The planner: idf → term bounds → theta → scored partials → ordered
    per-doc sum → top-k over one snapshot view (None: nothing bound).
    WAND prunes multi-term OR queries only: a single term has no other
    terms to bound against, and AND needs every term's contribution."""
    if view is None:
        return index.spark.createDataFrame([], "doc_id long, score double")
    term_ids = sorted(view.bound)
    idfs = view.idfs()
    ranks = _term_ranks(view.bound)
    kernel = _Kernel(view.stats, field_weights)
    theta = 0.0
    other_max: dict[int, float] = {}
    if use_wand and len(term_ids) > 1 and mode == "OR":
        maxes = {
            t: kernel.term_bound(
                idfs[t], view.bound[t]["max_tf"], view.bound[t]["min_dl"]
            )
            for t in term_ids
        }
        other_max = {
            t: sum(v for t2, v in maxes.items() if t2 != t) for t in term_ids
        }
        theta = _theta(view, kernel, idfs, ranks, k, doc_ids)
    scored = _scored(view, kernel, idfs, ranks, theta, other_max)
    total = _ordered_sum(_keep_docs(scored, doc_ids), ["doc_id"])
    if mode == "AND":
        total = total.filter(F.col("n_terms") == len(term_ids))
    return (
        total.select("doc_id", "score")
        .orderBy(F.desc(F.round("score", 6)), F.asc("doc_id"))
        .limit(k)
    )


def search(
    index: SearchIndex,
    query: str | list[str],
    k: int = 10,
    mode: str = "OR",
    use_wand: bool = True,
    field_weights: tuple[float, float] | None = None,
    doc_ids: DataFrame | None = None,
) -> DataFrame:
    """-> DataFrame(doc_id, score) top-k over the BASE snapshot, ordered
    (score desc, doc_id asc).

    mode="OR": reference union semantics. mode="AND": posting-list
    intersection (north rule).

    field_weights=(w_title, w_body): TRUE BM25F scoring (_Kernel) over the
    postings' (tf1, dl1) field channel. The reference scores every search
    with per-field weights (app.py:75-92,679-725); idf stays
    corpus-global (per the literature), mirrored by the declarative
    bm25f_topk oracle.

    doc_ids: optional DataFrame with a doc_id column — a metadata filter
    (reference app.py:407-497 composes location/class filters inside the
    query) applied as a broadcast semi-join BELOW scoring, with the WAND
    theta estimated on the FILTERED candidate set. Term stats stay
    corpus-global, like the reference.

    Top-k ordering key is the 6-dp ROUNDED score (doc_id tiebreak) — the
    same key every declarative/DuckDB oracle orders by — while the
    returned ``score`` column stays the raw float64 (bit-equal to the
    single-node oracle). Ordering by the raw float would let two docs
    whose scores round equal straddle rank k differently across
    engines."""
    index.check_epoch()
    view = _base_view(index, index.bind_terms(query))
    return _plan_topk(index, view, k, mode, use_wand, field_weights, doc_ids)


def search_uncompacted(
    index: SearchIndex,
    query: str,
    k: int = 10,
    mode: str = "OR",
    field_weights: tuple[float, float] | None = None,
    doc_ids: DataFrame | None = None,
    use_wand: bool = True,
) -> DataFrame:
    """BM25 term search over the UNION corpus (base ∪ un-compacted ingest
    deltas) — the term-side twin of search_phrase's union snapshot,
    closing the freshness asymmetry where term queries served exactly the
    base snapshot until compact(). With no pending deltas it serves the
    base view, like search().

    Exactness: every stat is live (_union_view) and every posting is
    scored by the same kernel the compacted decode uses — so results are
    bit-equal to compact() + search() (tests/test_streaming).

    Cost model: uncompacted_snapshot's corpus-stats fold, the union
    lexicon bind, ONE tiny per-term stats job and — for multi-term OR
    with WAND — the rarest-term theta pass buy block skipping on the
    dominant base decode (there is no sketch: its base-stats scores do
    not hold under live stats). compact() restores the sketch-served
    zero-job path.

    Corner: a term whose postings are ALL tombstoned but not yet
    compacted still binds here (df 0, contributes no rows); in AND mode
    it empties the result until compact() drops its postings — the
    conservative reading of an in-flux corpus."""
    index.check_epoch()
    from search_engine_spark.streaming.incremental import uncompacted_snapshot

    snap = uncompacted_snapshot(index.spark, index.paths)
    if snap is None:
        view = _base_view(index, index.bind_terms(query))
    else:
        view = _union_view(index, snap, query)
    return _plan_topk(index, view, k, mode, use_wand, field_weights, doc_ids)


def search_phrase(
    index: SearchIndex, phrase: str, k: int = 10
) -> DataFrame:
    """Exact-phrase BM25 top-k over the positional index (requires a build
    with with_positions=True).

    The phrase is scored as a virtual term: tf = exact adjacent-sequence
    occurrence count per doc, df = matching docs, standard BM25 on top —
    identical float64 expression shape as the term engine, so results are
    bit-equal to the oracle (oracle.engine.search_phrase).

    Plan shape: barrel+term_id-pruned scans of the positions table, one
    broadcast-friendly equi-join per phrase term, adjacency via JVM array
    ops — transform(match, +1) ∩ positions — so candidates shrink left to
    right and nothing leaves the JVM. The match set is localCheckpointed
    (bounded: docs containing the whole phrase) so the single df action
    and the returned lazy plan share one evaluation; the phrase idf is
    computed driver-side from that df scalar (math.log — bit-parity with
    the oracle) and enters the plan as a literal. The returned plan stays
    LAZY — no collect/createDataFrame round-trip of result rows."""
    import os

    index.check_epoch()
    spark = index.spark
    if not os.path.exists(index.paths.positions):
        raise ValueError("index was built without positions")
    # un-compacted ingest deltas: serve the UNION snapshot (base ∪
    # deltas) — a phrase query derives all its stats (tf, df, dl, N,
    # avgdl) live from matched docs, so it answers the union corpus
    # EXACTLY, bit-equal to a fresh build (tests/test_streaming.py).
    # Term queries choose per call: search() stays on the base snapshot
    # (WAND-pruned; its sketches are base-stats-valid), while
    # search_uncompacted() serves the same union snapshot as this path.
    from search_engine_spark.streaming.incremental import uncompacted_snapshot

    snap = uncompacted_snapshot(spark, index.paths)
    tokens = [t for t in normalize_text(phrase).split(" ") if t]
    empty = spark.createDataFrame([], "doc_id long, score double")
    if not tokens:
        return empty
    # ordered binding, duplicates preserved (phrase semantics); with
    # deltas present the cached driver lexicon is stale for NEW terms —
    # bind via the base ∪ delta lexicon scan instead
    uniq = sorted(set(tokens))
    if snap is None and index._local_lexicon is not None:
        tid_map = {
            t: index._local_lexicon[t]["term_id"]
            for t in uniq
            if t in index._local_lexicon
        }
    else:
        lex = index.lexicon if snap is None else snap["lexicon"]
        tid_map = {
            r["term"]: int(r["term_id"])
            for r in lex.filter(F.col("term").isin(uniq))
            .select("term", "term_id")
            .collect()
        }
    if len(tid_map) < len(uniq):
        return empty  # a phrase term is out of lexicon -> no match
    tids = [tid_map[t] for t in tokens]
    pos = spark.read.parquet(index.paths.positions)
    barrels = sorted({tid % index.n_barrels for tid in tids})
    pruned = lambda df: df.filter(  # noqa: E731
        F.col("barrel").isin(barrels) & F.col("term_id").isin(sorted(set(tids)))
    )
    pos = pruned(pos)
    if snap is not None:
        if "pos_blob" not in pos.columns:
            raise ValueError(
                "positional index uses the pre-v2 array layout; rebuild "
                "with build_index(..., with_positions=True) before "
                "serving phrase queries over ingest deltas"
            )
        # latest version wins: base rows of re-ingested/tombstoned docs
        # are ignored (broadcast anti-join on the small batch doc set),
        # the pruned positional delta rows take their place
        pos = pos.join(
            F.broadcast(snap["delta_doc_ids"]), "doc_id", "left_anti"
        ).unionByName(pruned(snap["pos_delta"]).select(*pos.columns))
    if "pos_blob" in pos.columns:
        # compressed positional layout: one Arrow decode pass over ONLY
        # the pruned (barrel, term) rows, then the JVM adjacency joins
        from search_engine_spark.functions.compression import (
            decode_position_list,
        )

        def _decode_pos(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                yield pd.DataFrame(
                    {
                        "term_id": pdf["term_id"].to_numpy(),
                        "doc_id": pdf["doc_id"].to_numpy(),
                        "positions": [
                            decode_position_list(b) for b in pdf["pos_blob"]
                        ],
                    }
                )

        # prune below the Arrow boundary: mapInPandas ships EVERY input
        # column to Python — n_pos and barrel are not consumed by the
        # decode (CLAUDE.md column-prune rule)
        pos = pos.select("term_id", "doc_id", "pos_blob").mapInPandas(
            _decode_pos, schema="term_id long, doc_id long, positions array<long>"
        )
    cur = (
        pos.filter(F.col("term_id") == tids[0])
        .select("doc_id", F.col("positions").alias("match"))
    )
    for tid in tids[1:]:
        nxt = pos.filter(F.col("term_id") == tid).select(
            "doc_id", F.col("positions").alias("p")
        )
        cur = (
            cur.join(nxt, "doc_id")
            .select(
                "doc_id",
                F.array_intersect(
                    F.transform("match", lambda x: x + 1), F.col("p")
                ).alias("match"),
            )
            .filter(F.size("match") > 0)
        )
    matches = cur.select("doc_id", F.size("match").cast("long").alias("tf"))
    # localCheckpoint blocks are reclaimed by Spark's ContextCleaner once
    # the returned plan (which references them) is garbage-collected —
    # callers need no explicit unpersist; the match set is bounded by the
    # docs containing the full phrase
    if snap is None:
        ds, n_docs, avgdl = index.doc_stats, index.n_docs, index.avgdl
    else:
        ds, n_docs, avgdl = snap["doc_stats"], snap["n_docs"], snap["avgdl"]
    matches = matches.join(
        ds.select("doc_id", "dl"), "doc_id"
    ).localCheckpoint(eager=True)
    df_phrase = matches.count()
    if df_phrase == 0:
        return empty
    idf = idf_value(df_phrase, n_docs)
    score = (
        F.lit(idf)
        * (F.col("tf").cast("double") * (K1 + 1.0))
        / (
            F.col("tf").cast("double")
            + K1 * ((1.0 - B) + (B * F.col("dl").cast("double")) / avgdl)
        )
    )
    return (
        matches.select("doc_id", score.alias("score"))
        .orderBy(F.desc(F.round("score", 6)), F.asc("doc_id"))
        .limit(k)
    )


def search_phrase_topk(
    index: SearchIndex, phrase: str, k: int = 10
) -> list[tuple[int, float]]:
    rows = search_phrase(index, phrase, k).collect()
    return [(int(r["doc_id"]), float(r["score"])) for r in rows]


def search_topk(
    index: SearchIndex, query: str, k: int = 10, mode: str = "OR",
    use_wand: bool = True,
    field_weights: tuple[float, float] | None = None,
    doc_ids: DataFrame | None = None,
) -> list[tuple[int, float]]:
    rows = search(
        index, query, k, mode, use_wand,
        field_weights=field_weights, doc_ids=doc_ids,
    ).collect()
    return [(int(r["doc_id"]), float(r["score"])) for r in rows]


# --- query-UX surface: autocomplete, spelling correction, snippets -------


def suggest_terms(index: SearchIndex, prefix: str, k: int = 10) -> DataFrame:
    """Prefix autocomplete over the lexicon, ranked by document frequency
    (the signal the reference's lexicon probe exposes, app.py:392-401,
    extended to the type-ahead read pattern). -> (term, term_id, df).

    Plan: StringStartsWith is a pushable parquet filter, and the lexicon
    is written range-partitioned by term (assign_dense_ids), so at a
    10^9-term lexicon the scan prunes to the prefix's term range before
    the TakeOrderedAndProject top-k. Empty/whitespace prefixes return
    empty (a full-lexicon popularity dump is a different query).

    The prefix is only LOWERCASED, not run through normalize_text: a
    prefix is not a full token — stopword removal would empty "we" (→
    "western") and the lemmatizer may rewrite a word fragment.

    Serves the BASE lexicon: terms that exist only in un-compacted
    ingest deltas start completing after compact() (type-ahead tolerates
    bounded staleness; exact fresh search is search_uncompacted's job)."""
    index.check_epoch()
    p = prefix.strip().lower()
    spark = index.spark
    if not p:
        return spark.createDataFrame([], "term string, term_id long, df long")
    return (
        index.lexicon.filter(F.col("term").startswith(p))
        .select("term", "term_id", F.col("df").cast("long").alias("df"))
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(k)
    )


def correct_term(
    index: SearchIndex, word: str, max_dist: int = 2, k: int = 10,
    use_spell: bool = True,
) -> DataFrame:
    """Spelling correction: lexicon terms within ``max_dist`` edits,
    ranked (distance asc, df desc, term asc) — the did-you-mean read the
    reference silently drops out-of-lexicon tokens for (app.py:398-401).
    -> (term, term_id, df, dist).

    Fast path (round 4, VERDICT r3 #7): when the SymSpell
    deletion-neighborhood artifact exists (index_build.build_spell_index)
    and its recorded (max_dist, epoch) covers this query, the
    misspelling's own deletion set (≤ ~500 keys at d=2, generated
    driver-side) probes the spell table with a pushed-down IN filter —
    the table is delkey-sorted per file, so the probe reads a few hundred
    parquet row-group point ranges instead of scanning the lexicon. The
    SymSpell guarantee (lev(w, t) ≤ d ⇒ deletion neighborhoods intersect)
    makes the probe lossless; delkey-collision false positives are
    dropped by the same thresholded-levenshtein verify the scan path
    uses, so BOTH paths return identical rows (tested).

    Fallback: a length-banded lexicon scan (|len(term) − len(word)| ≤
    max_dist — the levenshtein lower bound, so the band is lossless) with
    Spark's THRESHOLDED levenshtein intrinsic (returns −1 and stops early
    once the running distance exceeds max_dist) feeding
    TakeOrderedAndProject. Used when the artifact is absent, was built
    for a smaller max_dist, or is stale (built under an older epoch —
    compaction invalidates it).

    The word is only LOWERCASED: it is by hypothesis misspelled, so the
    stopword filter could delete it and the rule lemmatizer could rewrite
    the typo before correction sees it."""
    import json
    import os

    index.check_epoch()
    w = word.strip().lower()
    spark = index.spark
    empty_schema = "term string, term_id long, df long, dist int"
    if not w or " " in w:
        return spark.createDataFrame([], empty_schema)
    dist = F.levenshtein(F.col("term"), F.lit(w), max_dist)

    cands = None
    if use_spell and os.path.exists(index.paths.spell_meta):
        with open(index.paths.spell_meta) as f:
            meta = json.load(f)
        if (
            meta.get("max_dist", 0) >= max_dist
            and meta.get("epoch") == index._open_epoch
            and os.path.exists(index.paths.spell)
        ):
            from search_engine_spark.operators.index_build import (
                spell_deletions,
            )

            keys = sorted(spell_deletions(w, max_dist))
            cands = (
                spark.read.parquet(index.paths.spell)
                .filter(F.col("delkey").isin(keys))
                .select("term", "term_id", "df")
                .distinct()
            )
    if cands is None:
        cands = index.lexicon.filter(
            F.length("term").between(len(w) - max_dist, len(w) + max_dist)
        )
    return (
        cands.select(
            "term",
            "term_id",
            F.col("df").cast("long").alias("df"),
            dist.alias("dist"),
        )
        .filter(F.col("dist") >= 0)
        .orderBy(F.asc("dist"), F.desc("df"), F.asc("term"))
        .limit(k)
    )


def snippets(
    index: SearchIndex,
    query: str,
    pages: DataFrame,
    k: int = 10,
    window: int = 5,
) -> DataFrame:
    """KWIC snippets for the top-k result docs: ±window tokens around the
    EARLIEST query-term occurrence (positions come from the positional
    index; requires with_positions=True). -> (doc_id, score, pos,
    snippet), ordered like search().

    The index deliberately stores no text (lean barrels); the snippet
    text comes from re-normalizing the SOURCE pages rows of just the
    top-k docs. Plan shape at 100 TB: positions scan pruned to the query
    terms' barrels then broadcast-semi-joined to the k result docs;
    the pages join is k rows broadcast against the source scan — text
    never shuffles, and only k docs' html is ever re-normalized (the
    mapInPandas runs after a broadcast semi-join prunes the scan)."""
    import os

    from search_engine_spark.operators import index_build as ib
    from search_engine_spark.functions.compression import (
        decode_position_list,
    )

    index.check_epoch()
    spark = index.spark
    if not os.path.exists(index.paths.positions):
        raise ValueError("snippets need an index built with_positions=True")
    out_schema = "doc_id long, score double, pos long, snippet string"
    top = search(index, query, k=k).localCheckpoint(eager=True)
    bound = index.bind_terms(query)
    if not bound:
        return spark.createDataFrame([], out_schema)
    term_ids = sorted(bound)
    barrels = sorted({tid % index.n_barrels for tid in term_ids})
    pos = (
        spark.read.parquet(index.paths.positions)
        .filter(
            F.col("barrel").isin(barrels) & F.col("term_id").isin(term_ids)
        )
        .join(F.broadcast(top.select("doc_id")), "doc_id", "left_semi")
        .select("doc_id", "pos_blob")
    )

    def first_pos(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy(),
                    "p": [
                        int(decode_position_list(b)[0])
                        for b in pdf["pos_blob"]
                    ],
                }
            )

    earliest = (
        pos.mapInPandas(first_pos, schema="doc_id long, p long")
        .groupBy("doc_id")
        .agg(F.min("p").alias("pos"))
    )
    docs = ib.normalize_pages(pages).join(
        F.broadcast(top.select("doc_id")), "doc_id", "left_semi"
    )
    arr = F.split(F.col("norm"), " ")
    # positions are 0-based token indexes (posexplode in build_forward);
    # slice() is 1-based
    start = F.greatest(F.col("pos") - window + 1, F.lit(1))
    snip = F.concat_ws(" ", F.slice(arr, start, 2 * window + 1))
    return (
        top.join(earliest, "doc_id")
        .join(docs.select("doc_id", "norm"), "doc_id")
        .select("doc_id", "score", "pos", snip.alias("snippet"))
        .orderBy(F.desc(F.round("score", 6)), F.asc("doc_id"))
    )


def index_stats(index: SearchIndex) -> DataFrame:
    """Per-barrel operational profile — the ops view for skew monitoring
    at 100 TB (which barrel is hot, how effective the Zipf-head salting
    is, what compression is buying): distinct terms, blob rows (> terms
    where salting split a hot list), postings, compressed bytes, and the
    largest single blob. -> one row per barrel, ordered.

    Reads ONLY metadata + blob lengths (octet_length never materializes
    the binary in the row output) — the scan prunes to 5 light columns
    and nothing is decoded; the agg is one associative pass. The same
    numbers per build STEP live in the manifest (per-partition lineage);
    this is the live-table view."""
    index.check_epoch()
    blob_bytes = sum(
        [F.octet_length(c) for c in ("doc_deltas", "tfs", "dls", "tf1s", "dls1")],
        F.lit(0),
    )
    p = index.postings.select(
        "barrel", "term_id", "n_docs", blob_bytes.alias("blob_bytes")
    )
    return (
        p.groupBy("barrel")
        .agg(
            F.count_distinct("term_id").alias("n_terms"),
            F.count("*").cast("long").alias("n_blob_rows"),
            F.sum("n_docs").cast("long").alias("n_postings"),
            F.sum("blob_bytes").cast("long").alias("compressed_bytes"),
            F.max("n_docs").cast("long").alias("max_blob_postings"),
        )
        .orderBy("barrel")
    )


def search_corrected(
    index: SearchIndex,
    query: str,
    k: int = 10,
    mode: str = "OR",
    max_dist: int = 2,
) -> tuple[DataFrame, dict[str, str]]:
    """Did-you-mean search: out-of-lexicon query tokens are replaced by
    their best correction (correct_term's (dist, df desc, term) ranking)
    before scoring. The reference silently DROPS unknown tokens
    (app.py:398-401) — this is the recovery path a user actually wants
    for a typo'd query. In-lexicon tokens are never rewritten; tokens
    with no correction within max_dist stay dropped (reference
    behavior). Returns (results, corrections) where corrections maps
    each rewritten token to its replacement.

    Cost: binding is the cached-lexicon dict probe (no job); one
    correct_term top-1 scan per OOV token — typos are rare per query, so
    the common case adds zero jobs."""
    tokens = [t for t in normalize_text(query).split(" ") if t]
    if not tokens:
        return (
            index.spark.createDataFrame([], "doc_id long, score double"),
            {},
        )
    bound = index.bind_terms(query)
    known = {b["term"] for b in bound.values()}
    corrections: dict[str, str] = {}
    out_tokens: list[str] = []
    for t in dict.fromkeys(tokens):  # order-preserving unique
        if t in known:
            out_tokens.append(t)
            continue
        best = correct_term(index, t, max_dist=max_dist, k=1).collect()
        if best:
            corrections[t] = best[0]["term"]
            out_tokens.append(best[0]["term"])
    if not out_tokens:
        return (
            index.spark.createDataFrame([], "doc_id long, score double"),
            corrections,
        )
    # bind the corrected terms AS A LIST (already normalized): joining
    # them back into a query string would re-run normalize, and the
    # lemmatizer is not idempotent — a corrected lexicon term could
    # re-stem into an out-of-lexicon token and silently drop
    return search(index, out_tokens, k=k, mode=mode), corrections


def search_many(
    index: SearchIndex,
    queries: dict[int, str],
    k: int = 10,
    mode: str = "OR",
) -> DataFrame:
    """Batch query execution: the whole workload in ONE Spark job —
    -> (query_id, doc_id, score), each query's top-k, ordered
    (query_id, rounded score desc, doc_id). Results are bit-equal to
    running search() per query (tested); use it to replay a query log or
    drive relevance evaluation, where per-query job scheduling (~0.5 s
    here) would otherwise dominate.

    Plan: the planner's base view over the UNION of all queries' terms —
    one barrel+term-pruned probe, one decode pass emitting the per-(term,
    doc) partials keyed by a dense union-term index (the decode's rank
    channel), a broadcast fan-out join from term index to (query_id,
    per-query rank) — a term shared by q queries costs q mapped rows,
    never a re-decode — then the planner's ordered per-(query, doc) sum
    and a per-query window top-k. WAND is skipped (a single theta cannot
    serve q different queries; the workload's economics are throughput,
    and the shared decode amortizes what pruning would have saved)."""
    from pyspark.sql import Window

    index.check_epoch()
    spark = index.spark
    out_schema = "query_id long, doc_id long, score double"
    bound_by_q = {qid: index.bind_terms(text) for qid, text in queries.items()}
    view = _base_view(
        index, {t: b for bq in bound_by_q.values() for t, b in bq.items()}
    )
    if view is None:
        return spark.createDataFrame([], out_schema)
    dense = {tid: i for i, tid in enumerate(sorted(view.bound))}
    partials = _scored(view, _Kernel(view.stats, None), view.idfs(), dense)
    # term-index -> (query, per-query rank): the per-query rank is the
    # float-sum order search() uses for that query
    fan = [
        (dense[tid], qid, rank)
        for qid, bq in bound_by_q.items()
        for tid, rank in _term_ranks(bq).items()
    ]
    fan_df = spark.createDataFrame(fan, "dense long, query_id long, rank long")
    per_q = partials.withColumnRenamed("rank", "dense").join(
        F.broadcast(fan_df), "dense"
    )
    summed = _ordered_sum(per_q, ["query_id", "doc_id"])
    if mode == "AND":
        arity_df = spark.createDataFrame(
            [(qid, len(bq)) for qid, bq in bound_by_q.items()],
            "query_id long, arity int",
        )
        summed = summed.join(F.broadcast(arity_df), "query_id").filter(
            F.col("n_terms") == F.col("arity")
        )
    w = Window.partitionBy("query_id").orderBy(
        F.desc(F.round("score", 6)), F.asc("doc_id")
    )
    return (
        summed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "doc_id", "score")
        .orderBy(
            "query_id", F.desc(F.round("score", 6)), F.asc("doc_id")
        )
    )
