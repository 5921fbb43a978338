"""Incremental index maintenance — the Spark rebuild of the reference's
single-document background upsert (SURVEY.md §2.9 St1,
/root/reference/backend/app.py:921-1061), restructured as an LSM-style
delta log + partition-level compaction, the shape that works at
10^12-doc scale:

  ingest (per micro-batch, cheap, REPLAY-SAFE — every artifact lands in
  a batch=<id> dir with mode=overwrite, so foreachBatch's at-least-once
  delivery still yields exactly-once effects):
    new pages -> normalize -> forward rows (term, doc_id, tf, dl)
      1. doc_stats_delta/batch=N   new doc rows            (overwrite)
      2. lexicon_delta/batch=N     NEW terms, ids max_id+1..
         (the reference's "extend with fresh max ids" semantics,
         app.py:928-944 — incremental ids are NOT re-sorted)
      3. postings_delta/batch=N    uncompressed (term_id, doc_id, tf,
         dl) rows partitioned by barrel                    (overwrite)
      3c. COMMIT RECORD: one atomic rename of _commits/<id>.json makes
         every table family of the batch visible AT ONCE — all readers
         union committed batches only, so a crash between any two steps
         leaves the half-written batch invisible and the snapshot
         consistent (kill-anywhere: tests/test_crash_ingest.py). The
         record's seq is also the latest-wins order across batches.
      4. (nothing served changes: the SERVED stats/lexicon/barrels stay
         the base snapshot — deltas are invisible until compact())

  compact (amortized, rewrites ONLY affected barrels):
      5. decode base blobs of affected barrels -> rows, union deltas,
         re-encode via the same sort+mapInPandas path as the batch build
         (index_build.encode_postings) with refreshed per-term df
      6. lexicon df/cf refreshed for affected terms
      7. delta log truncated

  Because block metadata is (max_tf, min_dl) — not frozen scores —
  queries stay exact between compactions for all untouched terms, and
  WAND bounds recompute from the live (N, avgdl, df) at query time
  (functions/compression.py design note). Between ingest and compaction
  TERM queries serve EXACTLY the base snapshot (base postings scored
  with base stats — the compressed barrels and WAND metadata for delta
  docs exist only post-compaction), while PHRASE queries serve the
  union snapshot via uncompacted_snapshot() (they derive every stat
  live from matched docs, so the union answer is exact). Ingest touches
  only delta directories; compact() stages every table first, then
  journals the whole swap as idempotent ops and commits it with ONE
  atomic file rename (recover_pending rolls an interrupted swap forward
  — the Iceberg-snapshot-commit stand-in). Any LIVE SearchIndex handle
  detects the epoch bump on its next query.

Parquet directories stand in for Iceberg tables (per-barrel overwrite ==
rewrite-data-files of one partition; delta append == snapshot append);
the write layout is isolated here so an Iceberg catalog is a drop-in.

Correctness gate (tests/test_streaming.py): base build + streamed batches
+ compact must return BM25 top-k with scores EQUAL to a from-scratch
batch build over the union corpus (doc sets and float64 scores; term_ids
may differ — scores never depend on them).
"""

from __future__ import annotations

import os
import shutil

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from search_engine_spark.operators import index_build as ib

DELTA_SCHEMA = (
    "term_id long, doc_id long, tf int, tf1 int, dl long, dl1 long, "
    "barrel int"
)


def delta_dir(paths: ib.IndexPaths) -> str:
    return f"{paths.root}/postings_delta"


def doc_stats_delta_dir(paths: ib.IndexPaths) -> str:
    return f"{paths.root}/doc_stats_delta"


def lexicon_delta_dir(paths: ib.IndexPaths) -> str:
    return f"{paths.root}/lexicon_delta"


def positions_delta_dir(paths: ib.IndexPaths) -> str:
    return f"{paths.root}/positions_delta"


def tombstones_dir(paths: ib.IndexPaths) -> str:
    return f"{paths.root}/tombstones"


def journal_path(paths: ib.IndexPaths) -> str:
    return f"{paths.root}/_compact_journal.json"


# test-only fault injection: raise after executing N journal ops
# (simulates a crash at ANY point inside the swap window), or just
# before the journal commit (crash while staging — old epoch must
# remain fully readable)
_FAULT_AFTER_OPS: int | None = None
_FAULT_BEFORE_JOURNAL: bool = False

# test-only ingest fault injection: crash apply_incremental_batch right
# after the named step ("doc_stats", "tombstones", "lexicon", "postings",
# "positions") — the batch must stay INVISIBLE (no commit record) and a
# replay must complete it (tests/test_crash_ingest.py)
_INGEST_FAULT_AT: str | None = None


def _ingest_fault(point: str) -> None:
    if _INGEST_FAULT_AT == point:
        raise RuntimeError(f"injected ingest crash after step: {point}")


def _execute_ops(ops: list[dict]) -> None:
    """Execute the journaled swap operations IN ORDER. Every op is
    idempotent, so a partially-executed list can be re-run from the top
    after a crash (roll-forward recovery):

    - swap_dir: staged -> live via the keep-old-until-new-is-in-place
      dance; a missing staged dir means the swap already completed.
    - swap_barrel: staged barrel dir replaces the live one; missing
      staged dir == already swapped (never emitted for barrels without
      staged output — those get explicit rmtree ops, so a replay can
      never confuse "already swapped" with "must delete").
    - move_file: os.replace; missing src == already moved.
    - rmtree / set_epoch: naturally idempotent (set_epoch writes the
      TARGET value, never increments).
    """
    for i, op in enumerate(ops):
        if _FAULT_AFTER_OPS is not None and i >= _FAULT_AFTER_OPS:
            raise RuntimeError(f"injected crash before journal op {i}: {op}")
        kind = op["op"]
        if kind == "swap_barrel":
            src, dst = op["src"], op["dst"]
            if os.path.exists(src):
                shutil.rmtree(dst, ignore_errors=True)
                os.replace(src, dst)
        elif kind == "swap_dir":
            staged, live = op["staged"], op["live"]
            old = f"{live}_old"
            if os.path.exists(staged):
                shutil.rmtree(old, ignore_errors=True)
                if os.path.exists(live):
                    os.replace(live, old)  # old stays until new is in place
                os.replace(staged, live)
            shutil.rmtree(old, ignore_errors=True)
        elif kind == "move_file":
            if os.path.exists(op["src"]):
                os.replace(op["src"], op["dst"])
        elif kind == "rmtree":
            shutil.rmtree(op["path"], ignore_errors=True)
        elif kind == "set_epoch":
            tmp = f"{op['path']}.tmp"
            with open(tmp, "w") as f:
                f.write(str(op["value"]))
            os.replace(tmp, op["path"])
        else:  # pragma: no cover
            raise ValueError(f"unknown journal op {kind}")


def recover_pending(paths: ib.IndexPaths) -> bool:
    """Roll forward a compaction whose swap window was interrupted.

    compact() journals the ENTIRE swap as an ordered op list and commits
    it with ONE atomic file rename (the parquet-dir stand-in for an
    Iceberg snapshot commit). Before that rename the live tables are
    untouched (all heavy work went to *_staging dirs) — a crash leaves
    the old epoch fully readable. After it, the new snapshot is
    guaranteed: any entry point (query open, ingest, compact) calls this
    first and replays the remaining idempotent ops. Returns True if a
    pending journal was applied."""
    jp = journal_path(paths)
    if not os.path.exists(jp):
        return False
    import json

    with open(jp) as f:
        ops = json.load(f)["ops"]
    _execute_ops(ops)
    os.remove(jp)
    return True


def _commits_dir(paths: ib.IndexPaths) -> str:
    return f"{doc_stats_delta_dir(paths)}/_commits"


def _seq_path(paths: ib.IndexPaths, bid: str) -> str:
    return f"{_commits_dir(paths)}/{bid}.json"


def _pending_path(paths: ib.IndexPaths, bid: str) -> str:
    # written BEFORE any of the batch's data dirs: distinguishes a crashed
    # NEW-protocol ingest (pending, invisible) from a LEGACY pre-upgrade
    # batch dir (no record at all — complete by definition, visible)
    return f"{_commits_dir(paths)}/{bid}.pending"


def _legacy_seq_path(paths: ib.IndexPaths, bid: str) -> str:
    # pre-round-4 location, INSIDE the batch dir — kept readable so an
    # old delta log stays committed after the upgrade (a replay's
    # mode=overwrite used to wipe this file, which both un-committed the
    # batch and re-assigned its seq; the _commits/ dir fixes both)
    return f"{doc_stats_delta_dir(paths)}/batch={bid}/_seq.json"


def _read_seq(paths: ib.IndexPaths, bid: str) -> int | None:
    import json

    for p in (_seq_path(paths, bid), _legacy_seq_path(paths, bid)):
        if os.path.exists(p):
            with open(p) as f:
                return int(json.load(f)["seq"])
    return None


def _assign_batch_seq(paths: ib.IndexPaths, bid: str) -> int:
    """Per-batch COMMIT RECORD: the atomic os.replace of this one file is
    what makes the whole batch (doc_stats + tombstones + lexicon +
    postings + positions deltas) visible — every delta-log reader unions
    only batches with a commit record, so a crash anywhere inside ingest
    leaves the half-written batch invisible and the served snapshot
    consistent (the cross-table analogue of compact()'s journal rename;
    tests/test_crash_ingest.py kills at every step).

    The recorded seq doubles as the latest-wins order when the SAME doc
    is re-ingested across uncompacted batches. A replay of the same
    batch_id REUSES its existing seq (the batch's position in the order
    is a fact of the first delivery). Records live under _commits/
    (underscore-prefixed → invisible to Spark's parquet reader), OUTSIDE
    the batch dirs, so a replay's mode=overwrite can never wipe one."""
    import json

    existing = _read_seq(paths, bid)
    if existing is not None:
        return existing
    mx = 0
    for d in _batch_subdirs(doc_stats_delta_dir(paths)):
        s = _read_seq(paths, os.path.basename(d).split("=", 1)[1])
        if s is not None:
            mx = max(mx, s)
    seq = mx + 1
    os.makedirs(_commits_dir(paths), exist_ok=True)
    p = _seq_path(paths, bid)
    tmp = p + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"seq": seq, "batch": bid}, f)
    os.replace(tmp, p)
    # the pending marker has served its purpose (idempotent cleanup)
    try:
        os.remove(_pending_path(paths, bid))
    except FileNotFoundError:
        pass
    return seq


def _mark_pending(paths: ib.IndexPaths, bid: str) -> None:
    """Atomic 'ingest in flight' marker, written BEFORE any data dir —
    see _pending_path. A no-op for an already-committed batch."""
    import json

    if _read_seq(paths, bid) is not None:
        return
    os.makedirs(_commits_dir(paths), exist_ok=True)
    p = _pending_path(paths, bid)
    tmp = p + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"batch": bid}, f)
    os.replace(tmp, p)


def _visible_batches(
    paths: ib.IndexPaths, root: str, exclude: str | None = None
) -> list[tuple[str, int]]:
    """(dir, seq) for every batch a reader may see under ``root``:
    COMMITTED batches (commit record exists) with their recorded seq,
    plus LEGACY pre-upgrade dirs — no record AND no pending marker,
    i.e. written before the commit-record protocol existed, complete by
    definition — with NEGATIVE fallback seqs in lexicographic order
    (strictly below every assigned seq ≥ 1, so post-upgrade re-ingests
    win latest-wins). A dir with a pending marker and no record is a
    crashed/in-flight NEW-protocol ingest: invisible."""
    legacy: list[str] = []
    out: list[tuple[str, int]] = []
    for d in _batch_subdirs(root, exclude):
        bid = os.path.basename(d).split("=", 1)[1]
        s = _read_seq(paths, bid)
        if s is not None:
            out.append((d, s))
        elif not os.path.exists(_pending_path(paths, bid)):
            legacy.append(d)
    for i, d in enumerate(sorted(legacy)):
        out.append((d, i - len(legacy)))
    return out


def _committed_subdirs(
    paths: ib.IndexPaths, root: str, exclude: str | None = None
) -> list[str]:
    """batch=* dirs under ``root`` visible to readers (serving, stats,
    compaction) — committed + legacy; see _visible_batches."""
    return [d for d, _ in _visible_batches(paths, root, exclude)]


def _read_deltas_with_seq(
    spark: SparkSession, paths: ib.IndexPaths, root: str
) -> DataFrame | None:
    """Union the VISIBLE batch=* dirs under ``root`` with each batch's
    seq as a batch_seq column. Crashed/in-flight NEW-protocol dirs are
    invisible by construction — visibility is the commit record itself
    (_assign_batch_seq); legacy pre-upgrade dirs ride with negative
    fallback seqs (_visible_batches)."""
    batches = _visible_batches(paths, root)
    if not batches:
        return None
    out = None
    for d, seq in batches:
        df = spark.read.parquet(d).withColumn("batch_seq", F.lit(seq))
        out = df if out is None else out.unionByName(df)
    return out


def _latest_per_doc(deltas: DataFrame) -> DataFrame:
    """Keep each doc's rows from its HIGHEST batch_seq only — a doc
    re-ingested across uncompacted batches must contribute exactly its
    latest version (older versions may contain terms the new one lacks)."""
    latest = deltas.groupBy("doc_id").agg(F.max("batch_seq").alias("_bs"))
    return (
        deltas.join(F.broadcast(latest), "doc_id")
        .filter(F.col("batch_seq") == F.col("_bs"))
        .drop("_bs", "batch_seq")
    )


def _batch_subdirs(root: str, exclude: str | None = None) -> list[str]:
    if not os.path.exists(root):
        return []
    return sorted(
        f"{root}/{d}"
        for d in os.listdir(root)
        if d.startswith("batch=") and d != f"batch={exclude}"
    )


def read_lexicon(
    spark: SparkSession, paths: ib.IndexPaths, exclude_batch: str | None = None
) -> DataFrame:
    """Base lexicon ∪ per-batch uncompacted extensions. exclude_batch lets
    a replayed ingest rebuild ITS OWN delta from scratch without seeing
    the half-written previous attempt."""
    lex = spark.read.parquet(paths.lexicon)
    for d in _committed_subdirs(paths, lexicon_delta_dir(paths), exclude_batch):
        lex = lex.unionByName(spark.read.parquet(d))
    return lex


def read_doc_stats(spark: SparkSession, paths: ib.IndexPaths) -> DataFrame:
    ds = spark.read.parquet(paths.doc_stats)
    for d in _committed_subdirs(paths, doc_stats_delta_dir(paths)):
        ds = ds.unionByName(spark.read.parquet(d))
    return ds


def union_corpus_stats(
    spark: SparkSession,
    paths: ib.IndexPaths,
    base_ds: DataFrame,
    latest_ds: DataFrame,
) -> tuple[int, int, int]:
    """(n_docs, total_dl, total_dl1) of base ∪ un-compacted deltas as
    EXACT ints — stats_base scalars plus one small aggregate over the
    (tiny) latest delta rows, not a full doc_stats rescan. Re-ingests
    count once: the latest delta version REPLACES the base row's dl.
    Exact integer arithmetic keeps the derived avgdl/avgdl1/avgdlb
    bit-equal to a fresh build's. Legacy rows without dl1 count 0."""
    row = spark.read.parquet(paths.stats_base).collect()[0]
    rd = row.asDict()
    n_docs, total_dl = int(rd["n_docs"]), int(rd["total_dl"])
    total_dl1 = int(rd.get("total_dl1") or 0)
    base_dl1 = (
        F.col("dl1") if "dl1" in base_ds.columns else F.lit(0).cast("long")
    )
    new_dl1 = (
        F.col("dl1") if "dl1" in latest_ds.columns else F.lit(0).cast("long")
    )
    agg = latest_ds.withColumn("_new_dl1", new_dl1).join(
        base_ds.select(
            "doc_id", F.col("dl").alias("_base_dl"),
            base_dl1.alias("_base_dl1"),
        ),
        "doc_id",
        "left",
    ).agg(
        F.sum(F.when(F.col("_base_dl").isNull(), 1).otherwise(0)).alias("n_new"),
        F.sum("dl").alias("dl_new"),
        F.sum(F.coalesce("_base_dl", F.lit(0))).alias("dl_replaced"),
        F.sum("_new_dl1").alias("dl1_new"),
        F.sum(
            F.when(F.col("_base_dl").isNull(), 0)
            .otherwise(F.coalesce("_base_dl1", F.lit(0)))
        ).alias("dl1_replaced"),
    ).collect()[0]
    n_docs += int(agg["n_new"] or 0)
    total_dl += int(agg["dl_new"] or 0) - int(agg["dl_replaced"] or 0)
    total_dl1 += int(agg["dl1_new"] or 0) - int(agg["dl1_replaced"] or 0)
    return n_docs, total_dl, total_dl1


def check_postings_log(paths: ib.IndexPaths) -> None:
    """Raise if the postings delta log is torn — the batch-dir set under
    postings_delta must equal the one under doc_stats_delta (a crash
    between ingest steps can leave either side short). Serving the union
    corpus over a torn log would silently miss or half-apply those docs;
    compact()/re-ingest repairs. Owned here, next to the positional
    guard, so every delta-log consumer shares one invariant check
    (query.search_uncompacted calls this)."""
    ds_b = {
        os.path.basename(d)
        for d in _committed_subdirs(paths, doc_stats_delta_dir(paths))
    }
    pd_b = {
        os.path.basename(d)
        for d in _committed_subdirs(paths, delta_dir(paths))
    }
    if ds_b != pd_b:
        raise ValueError(
            "postings delta log is torn (batch sets differ between "
            f"doc_stats and postings deltas: {sorted(ds_b ^ pd_b)}): "
            "re-ingest the batch or run streaming.incremental.compact() "
            "first"
        )


def uncompacted_snapshot(spark: SparkSession, paths: ib.IndexPaths) -> dict | None:
    """Serving view of the UNION corpus (base ∪ un-compacted deltas) for
    phrase queries (query.search_phrase) and fresh term queries
    (query.search_uncompacted): both derive everything they score with
    (tf, df, dl, N, avgdl — positions for the phrase path) live from the
    base ∪ delta rows, so they serve the union snapshot EXACTLY
    (bit-equal to a fresh build; tests/test_streaming.py). Plain
    query.search keeps serving the base snapshot — its WAND sketches and
    lexicon bounds were computed under base stats and stay valid there.

    Returns None when no deltas exist (serve the base tables), else a
    dict with:
      lexicon     base ∪ delta extensions (new terms bind)
      doc_stats   latest-wins fold (base rows replaced by re-ingests)
      n_docs, avgdl  union-corpus scalars, exact-int derived
      delta_doc_ids  docs whose BASE positions rows must be ignored
                     (re-ingested or tombstoned — latest version wins)
      pos_delta   latest-wins positional delta rows (all barrels;
                  caller prunes by barrel/term before the fold)

    Raises when the delta log is torn (a crash between ingest steps left
    doc_stats batches without matching positional batches) — compact()
    repairs; serving would silently miss those docs."""
    ds_dirs = _committed_subdirs(paths, doc_stats_delta_dir(paths))
    if not ds_dirs:
        return None
    # the torn-log guard only applies to POSITIONAL indexes (term-only
    # indexes never write positions deltas; search_uncompacted serves
    # them from the postings delta log alone)
    has_positions = os.path.exists(paths.positions)
    pos_dirs = _committed_subdirs(paths, positions_delta_dir(paths))
    ds_b = {os.path.basename(d) for d in ds_dirs}
    pos_b = {os.path.basename(d) for d in pos_dirs}
    if has_positions and ds_b != pos_b:
        raise ValueError(
            "positional delta log is torn (doc_stats batches "
            f"{sorted(ds_b - pos_b)} have no positional delta): re-ingest "
            "the batch or run streaming.incremental.compact() first"
        )
    base_ds = spark.read.parquet(paths.doc_stats)
    latest_ds = _latest_per_doc(
        _read_deltas_with_seq(spark, paths, doc_stats_delta_dir(paths))
    )
    latest_ds = latest_ds.localCheckpoint(eager=False)
    folded_ds = (
        base_ds.join(
            F.broadcast(latest_ds.select("doc_id")), "doc_id", "left_anti"
        )
        .unionByName(latest_ds.select(*base_ds.columns))
        .dropDuplicates(["doc_id"])
    )
    if os.path.exists(paths.stats_base):
        n_docs, total_dl, total_dl1 = union_corpus_stats(
            spark, paths, base_ds, latest_ds
        )
    else:  # legacy index without stats_base scalars
        n_docs, total_dl, total_dl1 = ib.corpus_totals(folded_ds)
    avgdl1, avgdlb = ib.field_avgdls(n_docs, total_dl, total_dl1)
    pos_delta = None
    if pos_dirs:
        pos_seq = _read_deltas_with_seq(
            spark, paths, positions_delta_dir(paths)
        )
        pos_cols = [c for c in pos_seq.columns if c != "batch_seq"]
        pos_delta = _latest_per_doc(pos_seq).select(*pos_cols)
    return {
        "lexicon": read_lexicon(spark, paths),
        "doc_stats": folded_ds,
        "n_docs": n_docs,
        "avgdl": float(total_dl) / n_docs if n_docs else 0.0,
        "avgdl1": avgdl1,
        "avgdlb": avgdlb,
        "delta_doc_ids": latest_ds.select("doc_id"),
        "pos_delta": pos_delta,
    }


def apply_incremental_batch(
    spark: SparkSession,
    new_pages: DataFrame,
    paths: ib.IndexPaths,
    batch_id: str | int,
) -> dict:
    """Ingest one micro-batch of new pages (steps 1-4 above). Runs inside
    Structured Streaming foreachBatch (jobs.ingest_stream) or standalone.

    IDEMPOTENT per batch_id: foreachBatch is at-least-once. A replay of
    an ALREADY-COMMITTED batch is a NO-OP (round 4): the batch's
    artifacts are complete by definition, and rewriting them would
    re-open a torn window — its lexicon delta would re-derive term ids
    against a max_id other batches have since moved, so a crash between
    the lexicon and postings rewrites would leave a COMMITTED batch whose
    postings use ids its lexicon no longer maps. A replay of a CRASHED
    (uncommitted) batch rewrites every directory from scratch with
    mode=overwrite and then commits (doc counts, df/cf and posting lists
    stay exact). batch_id is REQUIRED and must be unique per logical
    batch — re-using a committed id with DIFFERENT data is ignored, not
    applied; ingest_stream derives it from (checkpoint-path hash,
    micro-batch id). compact() folds all committed batch dirs into the
    base tables and clears them.

    Re-ingest semantics (tombstone compaction): an IDENTICAL page
    (matching doc_stats fp) re-collapses at compaction via the
    (term_id, doc_id) dedup; a CHANGED page under the same url is
    detected here (fp mismatch against base doc_stats) and its doc_id is
    tombstoned — compact() then drops ALL of the old version's postings
    (a full-merge pass over the barrels, the Lucene-style major
    compaction; rare by construction) before folding in the new rows.
    The same doc re-ingested across multiple uncompacted batches
    resolves latest-batch-wins (_latest_per_doc). The positional index
    IS maintained when the index was built with_positions: ingest writes
    positions_delta, compaction folds it, and BETWEEN the two
    search_phrase and search_uncompacted serve the union snapshot via
    uncompacted_snapshot()."""
    recover_pending(paths)  # roll forward an interrupted previous compact
    bid = str(batch_id)
    # A complete LEGACY pre-upgrade batch (dir present, no commit record,
    # no pending marker) is as replay-final as a committed one: it is
    # already visible with a NEGATIVE fallback seq (_visible_batches), so
    # re-ingesting it would both re-open the torn-lexicon window AND
    # assign it a fresh max+1 seq — promoting it ABOVE post-upgrade
    # batches in latest-wins resolution, the inverse of its legacy
    # ordering (ADVICE r4). Treat the redelivery as a no-op too.
    legacy_complete = (
        _read_seq(paths, bid) is None
        and not os.path.exists(_pending_path(paths, bid))
        and os.path.exists(f"{doc_stats_delta_dir(paths)}/batch={bid}")
    )
    if _read_seq(paths, bid) is not None or legacy_complete:
        # committed (or complete legacy) replay: serve the recorded
        # effects, touch nothing
        try:
            os.remove(_pending_path(paths, bid))  # leftover crash window
        except FileNotFoundError:
            pass
        n_new = spark.read.parquet(
            f"{doc_stats_delta_dir(paths)}/batch={bid}"
        ).count()
        tdir_b = f"{tombstones_dir(paths)}/batch={bid}"
        n_changed = (
            spark.read.parquet(tdir_b).count()
            if os.path.exists(tdir_b)
            else 0
        )
        snap = uncompacted_snapshot(spark, paths)
        return {
            "new_docs": int(n_new),
            "n_docs": snap["n_docs"],
            "avgdl": snap["avgdl"],
            "tombstoned": int(n_changed),
            "replayed_noop": True,
        }
    _mark_pending(paths, bid)
    stats = ib.read_stats(spark, paths)
    n_barrels = int(stats["n_barrels"])

    docs = ib.normalize_pages(new_pages)
    docs.cache()
    # carry positions through the ingest iff the index has a positional
    # table to maintain
    has_positions = os.path.exists(paths.positions)
    forward_full = ib.build_forward(docs, with_positions=has_positions)
    forward = forward_full.select("doc_id", "term", "tf", "tf1", "dl", "dl1")
    if has_positions:
        forward_full.cache()
    forward.cache()
    n_new = docs.count()

    # 1. doc_stats batch delta (overwrite -> replay-safe). NOTHING the
    # batch writes is visible until the commit record lands at the END of
    # this function (_assign_batch_seq) — every delta-log reader unions
    # committed batches only, so a crash between any two steps leaves the
    # served snapshot exactly the pre-batch state (the cross-table
    # atomic-visibility guarantee; VERDICT r3 #4).
    batch_ds = ib.build_doc_stats(docs)
    batch_ds.write.mode("overwrite").parquet(
        f"{doc_stats_delta_dir(paths)}/batch={bid}"
    )
    _ingest_fault("doc_stats")

    # 1b. tombstones: incoming docs whose doc_id exists in BASE doc_stats
    # with a DIFFERENT content fingerprint — the old version's postings
    # must be purged at compaction. The probe is a broadcast semi-join of
    # the (small) batch against a (doc_id, fp)-pruned base scan; Iceberg's
    # MERGE would push the same key lookup into its metadata. Detection is
    # deterministic per (base, batch), so a replay recreates the identical
    # tombstone set (the dir is cleared first).
    tomb_batch_dir = f"{tombstones_dir(paths)}/batch={bid}"
    shutil.rmtree(tomb_batch_dir, ignore_errors=True)
    base_ds = spark.read.parquet(paths.doc_stats)
    batch_keys = batch_ds.select(
        "doc_id", F.col("fp").alias("_new_fp")
    )
    if "fp" in base_ds.columns:
        # null-safe inequality: a base row whose fp is NULL (possible
        # after a fast-path fold moved fp-bearing delta files into a
        # legacy pre-fp doc_stats dir) must be treated as CHANGED — a
        # plain != is null there and the filter would silently drop the
        # row, leaving the old version's postings stale forever
        changed = (
            base_ds.select("doc_id", "fp")
            .join(F.broadcast(batch_keys), "doc_id")
            .filter(~F.col("fp").eqNullSafe(F.col("_new_fp")))
            .select("doc_id")
        )
    else:  # legacy index without fp: treat every re-ingest as changed
        changed = base_ds.select("doc_id").join(
            F.broadcast(batch_keys.select("doc_id")), "doc_id", "left_semi"
        )
    n_changed = changed.count()
    if n_changed:
        changed.write.mode("overwrite").parquet(tomb_batch_dir)
    _ingest_fault("tombstones")

    # 2. lexicon extension: new terms -> max_id+1.. (app.py:928-944),
    # written to THIS batch's delta dir. The anti-join excludes the
    # replayed batch's own previous attempt so ids are re-derived
    # identically from scratch.
    lexicon = read_lexicon(spark, paths, exclude_batch=bid)
    max_id = lexicon.agg(F.max("term_id")).collect()[0][0] or 0
    new_terms = forward.select("term").distinct().join(
        lexicon.select("term"), "term", "left_anti"
    )
    # dense ids continuing after max_id — same two-phase assignment as the
    # batch build (no single-reducer sort). df/cf enter as 0: the lexicon
    # counts COMPACTED postings only (compact() folds the delta counts in;
    # writing batch counts here would double-count at compaction). Until
    # then a new term binds but matches nothing — consistent, since its
    # postings live only in the delta log the query engine doesn't read.
    new_ids = ib.assign_dense_ids(new_terms, "term", "term_id")
    new_lex = (
        new_ids.withColumn("term_id", F.col("term_id") + F.lit(int(max_id) + 1))
        .select(
            "term", "term_id",
            F.lit(0).cast("long").alias("df"),
            F.lit(0).cast("long").alias("cf"),
            F.lit(0).cast("long").alias("max_tf"),
            F.lit(0).cast("long").alias("min_dl"),
        )
    )
    new_lex.write.mode("overwrite").parquet(
        f"{lexicon_delta_dir(paths)}/batch={bid}"
    )
    _ingest_fault("lexicon")
    # bind THIS batch's postings against base ∪ committed batches ∪ the
    # batch's own (not-yet-committed) extension — read explicitly since
    # read_lexicon only serves committed batches
    lexicon = read_lexicon(spark, paths, exclude_batch=bid).unionByName(
        spark.read.parquet(f"{lexicon_delta_dir(paths)}/batch={bid}")
    )

    # 3. delta postings for this batch (overwrite -> replay-safe),
    # barrel-partitioned so compaction prunes
    delta = (
        forward.join(lexicon.select("term", "term_id"), "term")
        .select(
            "term_id",
            "doc_id",
            "tf",
            "tf1",
            "dl",
            "dl1",
            F.pmod("term_id", F.lit(n_barrels)).cast("int").alias("barrel"),
        )
    )
    delta.write.mode("overwrite").partitionBy("barrel").parquet(
        f"{delta_dir(paths)}/batch={bid}"
    )
    _ingest_fault("postings")

    # 3b. positional delta (same replay-safe shape, same compressed
    # delta+varint layout as the base table) when the index keeps
    # positions — compaction folds it so search_phrase stays exact
    if has_positions:
        (
            ib.build_positions(forward_full, lexicon, n_barrels)
            .write.mode("overwrite")
            .partitionBy("barrel")
            .parquet(f"{positions_delta_dir(paths)}/batch={bid}")
        )
    _ingest_fault("positions")

    # 3c. COMMIT: one atomic rename of the batch's commit record makes
    # every table family of this batch visible at once (doc_stats +
    # tombstones + lexicon + postings + positions deltas) — before this
    # point the batch does not exist to any reader or to compact()
    _assign_batch_seq(paths, bid)

    # 4. report the would-be post-compaction stats (informational ONLY —
    # the served paths.stats is NOT touched: rewriting it here would make
    # queries score base-only postings with union-corpus stats, which is
    # neither the old nor the new snapshot. compact() performs the swap.)
    # Re-ingests count once: latest delta version replaces the base row.
    if os.path.exists(paths.stats_base):
        all_ds = _read_deltas_with_seq(spark, paths, doc_stats_delta_dir(paths))
        if all_ds is not None:
            latest = _latest_per_doc(all_ds)
            n_docs, total_dl, _ = union_corpus_stats(
                spark, paths, base_ds, latest
            )
        else:
            row = spark.read.parquet(paths.stats_base).collect()[0]
            n_docs, total_dl = int(row["n_docs"]), int(row["total_dl"])
        avgdl = float(total_dl) / n_docs if n_docs else 0.0
    else:  # legacy index without stats_base
        n_docs, avgdl = ib.corpus_stats(read_doc_stats(spark, paths))

    docs.unpersist()
    forward.unpersist()
    if has_positions:
        forward_full.unpersist()
    return {
        "new_docs": int(n_new),
        "n_docs": n_docs,
        "avgdl": avgdl,
        "tombstoned": int(n_changed),
    }


def decode_postings_rows(postings: DataFrame) -> DataFrame:
    """Inverse of encode: blob rows -> (term_id, doc_id, tf, tf1, dl, dl1)
    rows. mapInPandas, numpy-vectorized decode (compression.py)."""
    import numpy as np
    import pandas as pd

    from search_engine_spark.functions.compression import decode_posting_blocks

    # prune theta/metadata columns below the Arrow boundary
    postings = postings.select(
        *ib.DECODE_BASE_COLS, "tf1_lens", "tf1s", "dl1_lens", "dls1"
    )

    def decode(batches):
        for pdf in batches:
            tids, docs_, tfs, tf1s, dls, dl1s = [], [], [], [], [], []
            for row in pdf.itertuples(index=False):
                d, t, l, t1, d1 = decode_posting_blocks(
                    row.doc_deltas, row.tfs, row.dls,
                    row.db_lens, row.tf_lens, row.dl_lens, None,
                    row.tf1s, row.tf1_lens, row.dls1, row.dl1_lens,
                    codec=int(row.codec),
                )
                tids.append(np.full(len(d), int(row.term_id), dtype=np.int64))
                docs_.append(d)
                tfs.append(t)
                tf1s.append(t1)
                dls.append(l)
                dl1s.append(d1)
            if tids:
                yield pd.DataFrame(
                    {
                        "term_id": np.concatenate(tids),
                        "doc_id": np.concatenate(docs_),
                        "tf": np.concatenate(tfs).astype(np.int32),
                        "tf1": np.concatenate(tf1s).astype(np.int32),
                        "dl": np.concatenate(dls),
                        "dl1": np.concatenate(dl1s),
                    }
                )

    return postings.mapInPandas(
        decode,
        schema="term_id long, doc_id long, tf int, tf1 int, dl long, dl1 long",
    )


def decode_docid_rows(postings: DataFrame) -> DataFrame:
    """Doc-id-only decode: blob rows -> (term_id, doc_id), the tf/dl/field
    streams never leave the parquet scan (column-pruned below the Arrow
    boundary). The freshness-window stats pass uses this to compute exact
    live df — base postings minus delta-superseded docs — without paying
    the full payload decode (compression.decode_docids_blocks)."""
    import numpy as np
    import pandas as pd

    from search_engine_spark.functions.compression import decode_docids_blocks

    postings = postings.select("term_id", "codec", "db_lens", "doc_deltas")

    def decode(batches):
        for pdf in batches:
            tids, docs_ = [], []
            for row in pdf.itertuples(index=False):
                d = decode_docids_blocks(
                    row.doc_deltas, row.db_lens, codec=int(row.codec)
                )
                tids.append(np.full(len(d), int(row.term_id), dtype=np.int64))
                docs_.append(d)
            if tids:
                yield pd.DataFrame(
                    {
                        "term_id": np.concatenate(tids),
                        "doc_id": np.concatenate(docs_),
                    }
                )

    return postings.mapInPandas(decode, schema="term_id long, doc_id long")


def compact(spark: SparkSession, paths: ib.IndexPaths) -> dict:
    """Fold the delta log into the compressed barrels (steps 5-7 above).

    Common path (no tombstones): rewrites ONLY the barrels that received
    deltas — the parquet-directory equivalent of Iceberg
    rewrite-data-files on affected partitions.

    Tombstone path (some batch re-ingested a CHANGED page): the old
    version's postings live in barrels NO delta touched (terms the new
    version lost), so this pass decodes EVERY barrel, drops tombstoned
    docs' rows, folds the deltas, and re-encodes — a full merge (the
    Lucene-style major compaction). Changed re-ingests are rare by
    construction; at 10^12-doc scale the same design holds with a
    deletion-bitmap service amortizing full merges further.

    Conflict resolution: the same doc across multiple uncompacted batches
    resolves latest-batch-wins; identical re-ingests collapse via the
    (term_id, doc_id) dedup (rows are bit-identical)."""
    recover_pending(paths)  # roll forward an interrupted previous compact
    ddir = delta_dir(paths)
    tdir = tombstones_dir(paths)
    # only COMMITTED batches exist for any reader (the per-batch commit
    # record is the visibility point — _assign_batch_seq): an uncommitted
    # tombstone dir is a crashed ingest whose new version never landed,
    # and purging by it would delete docs without replacement
    tomb_dirs = _committed_subdirs(paths, tdir)
    has_tomb = bool(tomb_dirs)
    if not os.path.exists(ddir) and not has_tomb:
        return {"compacted_barrels": 0}
    stats = ib.read_stats(spark, paths)
    postings = ib.read_postings(spark, paths.postings)
    # the re-encode and the decode below read the current format only
    ib.check_format(
        postings=postings.columns,
        lexicon=spark.read.parquet(paths.lexicon).columns,
        stats=list(stats),
    )
    n_barrels = int(stats["n_barrels"])
    n_salts = int(stats["n_salts"])
    salt_threshold = int(stats["salt_threshold"])
    # preserve the index's posting codec across compactions — like the
    # spell artifact's recorded max_dist, the rewrite must not silently
    # change the layout the index was built with
    codec = int(stats["codec"])

    deltas_seq = _read_deltas_with_seq(spark, paths, ddir)
    if deltas_seq is None:
        if not has_tomb:
            return {"compacted_barrels": 0}
        deltas = spark.createDataFrame([], DELTA_SCHEMA)
    else:
        deltas = _latest_per_doc(deltas_seq)

    tomb = None
    if has_tomb:
        tomb = spark.read.parquet(*tomb_dirs).select("doc_id").distinct()
        tomb.cache()
        full_merge = tomb.count() > 0
    else:
        full_merge = False

    if full_merge:
        # every barrel is affected: the purged doc's terms are anywhere
        affected_barrels = list(range(n_barrels))
        base_affected = postings
        base_untouched = postings.filter(F.lit(False))
    else:
        affected_barrels = sorted(
            r["barrel"] for r in deltas.select("barrel").distinct().collect()
        )
        if not affected_barrels:
            return {"compacted_barrels": 0}
        affected_terms = deltas.select("term_id").distinct()
        base_in_barrels = postings.filter(
            F.col("barrel").isin(affected_barrels)
        )
        base_affected = base_in_barrels.join(
            F.broadcast(affected_terms), "term_id", "left_semi"
        )
        base_untouched = base_in_barrels.join(
            F.broadcast(affected_terms), "term_id", "left_anti"
        )

    # union decoded base (minus tombstoned docs) + delta rows, refresh df
    # per term, re-encode
    base_rows = decode_postings_rows(base_affected)
    if full_merge:
        base_rows = base_rows.join(
            F.broadcast(tomb), "doc_id", "left_anti"
        )
    all_rows = base_rows.unionByName(
        deltas.select("term_id", "doc_id", "tf", "tf1", "dl", "dl1")
    ).dropDuplicates(["term_id", "doc_id"])
    # the dedup makes compaction IDEMPOTENT: a crash after the barrel
    # swap but before delta-log truncation re-folds the same rows on the
    # next run (base already contains them) — exact duplicates collapse
    # instead of double-counting df/scores. It also absorbs re-ingests of
    # byte-identical pages.
    all_rows.cache()
    # absolute per-term stats over the merged rows — authoritative df/cf
    # for both the re-encode and the lexicon refresh
    term_stats = all_rows.groupBy("term_id").agg(
        F.count("*").alias("df"),
        F.sum("tf").cast("long").alias("cf"),
        F.max("tf").cast("long").alias("max_tf"),
        F.min("dl").cast("long").alias("min_dl"),
    )
    term_stats.cache()
    joined = (
        all_rows.join(term_stats.select("term_id", "df"), "term_id")
        .select(
            "term_id", "df", "doc_id", "tf", "tf1", "dl", "dl1",
            ib.salt_col(n_salts, salt_threshold),
        )
    )
    re_encoded = ib.encode_postings(joined, n_barrels, codec=codec)

    # Layout detection: a resumable (plans/build_job.py) index nests
    # barrels under group=G dirs (G = barrel % n_groups). Re-encoded rows
    # must carry the same group key and the swap must target the nested
    # path — otherwise stale blobs would survive under group=*/barrel=B.
    group_dirs = [
        d for d in os.listdir(paths.postings) if d.startswith("group=")
    ]
    n_groups = len(group_dirs)
    if n_groups:
        re_encoded = re_encoded.withColumn(
            "group", F.pmod("barrel", F.lit(n_groups)).cast("int")
        )
        base_untouched = base_untouched.withColumn(
            "group", F.col("group").cast("int")
        )

    merged = base_untouched.unionByName(re_encoded)

    # 6. refreshed lexicon: base ∪ uncompacted batch extensions, with
    # absolute df/cf recount from the merged rows (no additive drift).
    # In a full merge, a term absent from the merged rows truly has ZERO
    # postings left (all its docs were tombstoned) — df/cf drop to 0 but
    # the term keeps its id (incremental ids are append-only); in the
    # common path, absent just means untouched.
    lexicon = read_lexicon(spark, paths)
    upd = term_stats.withColumnsRenamed(
        {"df": "df_new", "cf": "cf_new", "max_tf": "mt_new", "min_dl": "md_new"}
    )
    old_df = F.lit(0) if full_merge else F.col("df")
    old_cf = F.lit(0) if full_merge else F.col("cf")
    old_mt = F.lit(0) if full_merge else F.col("max_tf")
    old_md = F.lit(0) if full_merge else F.col("min_dl")
    new_lex = (
        lexicon.join(upd, "term_id", "left")
        .select(
            "term",
            "term_id",
            F.coalesce("df_new", old_df).cast("long").alias("df"),
            F.coalesce("cf_new", old_cf).cast("long").alias("cf"),
            F.coalesce("mt_new", old_mt).cast("long").alias("max_tf"),
            F.coalesce("md_new", old_md).cast("long").alias("min_dl"),
        )
    )

    # ---- STAGE phase: every heavy job writes to *_compact_staging dirs;
    # the live tables stay untouched and fully consistent while these
    # run. (Every read above is lazy against the live directories, so all
    # writes must materialize before any swap.)
    staging = f"{paths.postings}_compact_staging"
    part_cols = ["group", "barrel"] if n_groups else ["barrel"]
    merged.write.mode("overwrite").partitionBy(*part_cols).parquet(staging)
    lex_staging = f"{paths.lexicon}_staging"
    new_lex.write.mode("overwrite").parquet(lex_staging)

    # doc_stats fold. Fast path (every delta doc is NEW and appears in
    # exactly one batch): parquet part files are self-contained, so
    # folding is pure file MOVES (deferred to the swap window). Rewrite
    # path (re-ingests/tombstones/cross-batch duplicates): latest delta
    # row per doc REPLACES the base row — the doc_id dedup that keeps
    # n_docs/avgdl exact under re-ingest.
    dsd = doc_stats_delta_dir(paths)
    ds_deltas_seq = _read_deltas_with_seq(spark, paths, dsd)
    ds_staging = None
    bn, bt, bt1 = None, None, None
    if ds_deltas_seq is not None:
        base_ds = spark.read.parquet(paths.doc_stats)
        n_delta = ds_deltas_seq.count()
        n_distinct = ds_deltas_seq.select("doc_id").distinct().count()
        n_overlap = (
            base_ds.select("doc_id")
            .join(
                F.broadcast(ds_deltas_seq.select("doc_id").distinct()),
                "doc_id",
                "left_semi",
            )
            .count()
        )
        if n_overlap or n_delta != n_distinct or full_merge:
            latest_ds = _latest_per_doc(ds_deltas_seq)
            folded = (
                base_ds.join(
                    F.broadcast(latest_ds.select("doc_id")),
                    "doc_id",
                    "left_anti",
                )
                .unionByName(latest_ds)
                .dropDuplicates(["doc_id"])  # crash-refold safety
            )
            ds_staging = f"{paths.doc_stats}_staging"
            folded.write.mode("overwrite").parquet(ds_staging)
            bn, bt, bt1 = ib.corpus_totals(spark.read.parquet(ds_staging))
        else:
            # additive: moves don't change per-file contents
            b0, t0, t10 = ib.corpus_totals(base_ds)
            d0, dt0, dt10 = ib.corpus_totals(ds_deltas_seq)
            bn, bt, bt1 = b0 + d0, t0 + dt0, t10 + dt10
    else:
        bn, bt, bt1 = ib.corpus_totals(spark.read.parquet(paths.doc_stats))

    # stats scalars (driver-side, instant) into staging
    stats_staging = f"{paths.stats}_staging"
    stats_base_staging = f"{paths.stats_base}_staging"
    ib.write_scalar_parquet(
        stats_base_staging, ib.STATS_BASE_SCHEMA, (bn, bt, bt1)
    )
    avgdl_new = float(bt) / bn if bn else 0.0
    avgdl1_new, avgdlb_new = ib.field_avgdls(bn, bt, bt1)
    ib.write_scalar_parquet(
        stats_staging,
        ib.STATS_SCHEMA,
        (bn, avgdl_new, avgdl1_new, avgdlb_new, n_salts, salt_threshold,
         n_barrels, codec),
    )

    # positional fold into staging (ALL barrels in a full merge,
    # tombstoned docs dropped), latest-batch-wins per doc, deduped so a
    # crash-refold or identical re-ingest cannot duplicate rows
    pdd = positions_delta_dir(paths)
    pos_staging = None
    pos_barrels: list[int] = []
    if os.path.exists(paths.positions) and _committed_subdirs(paths, pdd):
        if "pos_blob" not in spark.read.parquet(paths.positions).columns:
            raise ValueError(
                "positional index uses the pre-v2 array layout; rebuild "
                "with build_index(..., with_positions=True) before "
                "compacting positional deltas"
            )
        pos_deltas_seq = _read_deltas_with_seq(spark, paths, pdd)
        pos_cols = [
            c for c in pos_deltas_seq.columns if c != "batch_seq"
        ]
        pos_deltas = _latest_per_doc(pos_deltas_seq).select(*pos_cols)
        if full_merge:
            pos_barrels = list(range(n_barrels))
            base_pos = spark.read.parquet(paths.positions).join(
                F.broadcast(tomb), "doc_id", "left_anti"
            )
        else:
            pos_barrels = sorted(
                r["barrel"]
                for r in pos_deltas.select("barrel").distinct().collect()
            )
            base_pos = spark.read.parquet(paths.positions).filter(
                F.col("barrel").isin(pos_barrels)
            )
        merged_pos = base_pos.unionByName(pos_deltas).dropDuplicates(
            ["term_id", "doc_id"]
        )
        pos_staging = f"{paths.positions}_compact_staging"
        merged_pos.write.mode("overwrite").partitionBy("barrel").parquet(
            pos_staging
        )

    # hot-term theta sketches of the POST-compaction postings, computed
    # from staging ∪ untouched live barrels (metadata-only columns) —
    # before any swap, so the sketch job never reads a half-swapped table
    new_postings = spark.read.parquet(staging)
    if not full_merge:
        untouched_barrels = ib.read_postings(spark, paths.postings).filter(
            ~F.col("barrel").isin(affected_barrels)
        )
        new_postings = new_postings.unionByName(untouched_barrels)
    hb = ib.build_hot_bounds(new_postings, salt_threshold)
    hb_staging = f"{paths.hot_bounds}_staging"
    hb.write.mode("overwrite").parquet(hb_staging)

    # ---- COMMIT phase. All heavy work above landed in *_staging dirs;
    # the live tables are still the untouched old snapshot. The entire
    # swap — barrel renames, table swaps, delta-log truncation, epoch
    # bump — is journaled as an ordered list of IDEMPOTENT ops and
    # committed with ONE atomic file rename (the parquet-dir stand-in
    # for an Iceberg snapshot commit): a crash BEFORE the journal lands
    # leaves the old epoch fully readable (staging dirs are garbage,
    # overwritten by the next compact); a crash at ANY point after it is
    # rolled forward by recover_pending() on the next open/ingest/
    # compact (tests/test_crash_compact.py injects crashes at every op
    # index). Live SearchIndex handles detect the epoch bump per query.
    all_rows.unpersist()
    term_stats.unpersist()
    if tomb is not None:
        tomb.unpersist()

    ops: list[dict] = []
    for b in affected_barrels:
        sub = f"group={b % n_groups}/barrel={b}" if n_groups else f"barrel={b}"
        src = f"{staging}/{sub}"
        if os.path.exists(src):
            ops.append(
                {"op": "swap_barrel", "src": src,
                 "dst": f"{paths.postings}/{sub}"}
            )
        elif full_merge:
            # a fully-merged barrel with no staged output lost ALL its
            # rows (every doc tombstoned) — stale blobs must not survive.
            # Emitted as an explicit rmtree (not a swap with missing src)
            # so a REPLAY can never mistake "already swapped" for "must
            # delete" and destroy fresh data.
            ops.append({"op": "rmtree", "path": f"{paths.postings}/{sub}"})
    ops.append({"op": "rmtree", "path": staging})
    ops.append(
        {"op": "swap_dir", "staged": lex_staging, "live": paths.lexicon}
    )
    if ds_staging is not None:
        ops.append(
            {"op": "swap_dir", "staged": ds_staging, "live": paths.doc_stats}
        )
    elif ds_deltas_seq is not None:
        # fast path: parquet part files are self-contained — pure moves
        # (committed batches only; an uncommitted dir is crashed-ingest
        # garbage that the final delta-log truncation clears)
        for bdir in _committed_subdirs(paths, dsd):
            tag = os.path.basename(bdir).replace("=", "_")
            for fn in sorted(os.listdir(bdir)):
                if fn.endswith(".parquet"):
                    ops.append(
                        {"op": "move_file", "src": f"{bdir}/{fn}",
                         "dst": f"{paths.doc_stats}/incr_{tag}_{fn}"}
                    )
    if pos_staging is not None:
        for b in pos_barrels:
            src = f"{pos_staging}/barrel={b}"
            dst = f"{paths.positions}/barrel={b}"
            if os.path.exists(src):
                ops.append({"op": "swap_barrel", "src": src, "dst": dst})
            elif full_merge:
                ops.append({"op": "rmtree", "path": dst})
        ops.append({"op": "rmtree", "path": pos_staging})
    ops.append(
        {"op": "swap_dir", "staged": hb_staging, "live": paths.hot_bounds}
    )
    ops.append(
        {"op": "swap_dir", "staged": stats_base_staging,
         "live": paths.stats_base}
    )
    ops.append(
        {"op": "swap_dir", "staged": stats_staging, "live": paths.stats}
    )
    # truncate the delta logs (lexicon deltas were folded into the
    # rewritten base above) and set the new epoch (the literal TARGET
    # value — a replay must not double-bump)
    for p in (dsd, pdd, ddir, lexicon_delta_dir(paths), tombstones_dir(paths)):
        ops.append({"op": "rmtree", "path": p})
    epoch = ib.read_epoch(paths) + 1
    ops.append({"op": "set_epoch", "path": paths.epoch, "value": epoch})

    import json

    if _FAULT_BEFORE_JOURNAL:
        raise RuntimeError("injected crash before journal commit")
    jp = journal_path(paths)
    tmp = f"{jp}.tmp"
    with open(tmp, "w") as f:
        json.dump({"epoch": epoch, "ops": ops}, f, indent=1)
    os.replace(tmp, jp)  # <- the commit point
    _execute_ops(ops)
    os.remove(jp)
    # refresh the SymSpell artifact when the index maintains one: the
    # compacted lexicon is a new epoch, so the old artifact would
    # silently fall back to the band scan (correct_term's epoch gate).
    # Derived data rebuilt AFTER the committed swap — a crash here just
    # leaves the stale artifact, which the gate already handles. The
    # rebuild PRESERVES the recorded max_dist: rebuilding at the default
    # would silently downgrade an artifact built deeper (ADVICE r4),
    # permanently demoting deeper correct_term queries to the band scan.
    if os.path.exists(paths.spell_meta):
        with open(paths.spell_meta) as f:
            recorded = int(
                json.load(f).get("max_dist", ib.SPELL_MAX_DIST)
            )
        ib.build_spell_index(spark, paths, max_dist=recorded)
    return {
        "compacted_barrels": len(affected_barrels),
        "epoch": epoch,
        "full_merge": full_merge,
    }
