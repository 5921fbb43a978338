"""Metric tables and their computation from a finished run.

END_TO_END and PER_LAYER are the single source of the metric names, units
and directions; BENCHMARK.json lists the same ones (a self-test checks it).
"""

from __future__ import annotations

import statistics

from measure import timing_summary
from sparktrace import self_times

# name -> (unit, better, what it is on serve / on fresh)
END_TO_END = {
    "setup_s": ("s", "lower", "session start + base build + SearchIndex open"),
    "query_p50_ms": (
        "ms", "lower",
        "median foreground query: serve search_topk; fresh search_uncompacted",
    ),
    "bulk_items_per_s": (
        "1/s", "higher",
        "serve: queries/s through search_many; fresh: pages/s through "
        "apply_incremental_batch",
    ),
    "index_bytes_per_text_byte": (
        "ratio", "lower",
        "on-disk index bytes / indexed text bytes (fresh: base + delta log)",
    ),
}

_Q = "query_p50_ms on serve"
_B = "setup_s on serve/fresh"
_F = "query_p50_ms on fresh"
_W = "bulk_items_per_s on fresh"
# name -> (unit, better, end-to-end metric it should move, on which workload)
PER_LAYER = {
    "session.start_s": ("s", "lower", "setup_s, all workloads"),
    "operators.index_build.build_s": ("s", "lower", _B),
    "operators.index_build.jobs": ("count", "lower", _B),
    "operators.index_build.tasks": ("count", "lower", _B),
    "operators.index_build.job_s": ("s", "lower", _B),
    "operators.index_build.driver_s": ("s", "lower", _B),
    "operators.index_build.executor_run_s": ("s", "lower", _B),
    "operators.index_build.executor_cpu_s": ("s", "lower", _B),
    "operators.index_build.gc_s": ("s", "lower", _B),
    "operators.index_build.slot_util": ("ratio", "higher", _B),
    "operators.index_build.shuffle_write_bytes": ("B", "lower", _B),
    "operators.index_build.spill_bytes": ("B", "lower", _B),
    "operators.index_build.output_bytes": ("B", "lower", _B),
    "index.terms": ("count", "lower", "index_bytes_per_text_byte"),
    "index.blob_rows": ("count", "lower", "index_bytes_per_text_byte"),
    "index.postings_bytes": ("B", "lower", "index_bytes_per_text_byte"),
    "index.max_blob_postings": ("count", "lower", "index_bytes_per_text_byte, setup_s"),
    "operators.query.open_ms": ("ms", "lower", "setup_s on serve/fresh"),
    "operators.query.jobs_per_query": ("count", "lower", _Q),
    "operators.query.tasks_per_query": ("count", "lower", _Q),
    "operators.query.job_ms": ("ms", "lower", _Q),
    "operators.query.driver_ms": ("ms", "lower", _Q),
    "operators.query.input_bytes_per_query": ("B", "lower", _Q),
    "operators.query.executor_cpu_ms_per_query": ("ms", "lower", _Q),
    "operators.query.p50_ms.hot": ("ms", "lower", _Q),
    "operators.query.p50_ms.cold": ("ms", "lower", _Q),
    "operators.query.p50_ms.single": ("ms", "lower", _Q),
    "operators.query.p50_ms.and": ("ms", "lower", _Q),
    "operators.query.p50_ms.bm25f": ("ms", "lower", _Q),
    "operators.query.repeat_share": ("ratio", "higher", _Q + " (cache-hit ceiling)"),
    "operators.query.batch.job_ms": ("ms", "lower", "bulk_items_per_s on serve"),
    "operators.query.batch.shuffle_bytes": ("B", "lower", "bulk_items_per_s on serve"),
    "operators.query.batch.executor_cpu_s": ("s", "lower", "bulk_items_per_s on serve"),
    "streaming.incremental.ingest.wall_s": ("s", "lower", _W),
    "streaming.incremental.ingest.jobs_per_batch": ("count", "lower", _W),
    "streaming.incremental.ingest.job_ms": ("ms", "lower", _W),
    "streaming.incremental.ingest.driver_ms": ("ms", "lower", _W),
    "streaming.incremental.fresh_query.jobs_per_query": ("count", "lower", _F),
    "streaming.incremental.fresh_query.job_ms": ("ms", "lower", _F),
    "streaming.incremental.fresh_query.driver_ms": ("ms", "lower", _F),
    "streaming.incremental.delta_bytes": ("B", "lower", _F),
    "trace.overhead_ratio": ("ratio", "lower", "none: the tracer's own cost"),
}

FOREGROUND_QUERY = {
    "serve": "operators.query.search_topk",
    "fresh": "streaming.incremental.fresh_query",
}


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _mean(xs) -> float:
    return statistics.fmean(xs) if xs else 0.0


def end_to_end(workload: str, run, session_s: float) -> dict:
    w, f = run.walls, run.facts
    open_s = w["operators.query.open"][0]
    query = w[FOREGROUND_QUERY[workload]]
    if workload == "serve":
        batch = w["operators.query.search_many"]
        bulk = f["batch_queries"] / _median(batch) if batch else 0.0
    else:
        ingest = w["streaming.incremental.ingest"]
        bulk = f["ingested_pages"] / ingest[0] if ingest else 0.0
    values = {
        "setup_s": session_s + f["build_s"] + open_s,
        "query_p50_ms": _median(query) * 1e3,
        "bulk_items_per_s": bulk,
        "index_bytes_per_text_byte": f["index_bytes"] / f["text_bytes"],
    }
    return {k: {"value": v, "unit": END_TO_END[k][0]} for k, v in values.items()}


def named_metrics(workload: str, run, e2e: dict, rss_bytes: int, rss_procs: int) -> dict:
    """The metrics under their own names, each with unit and sample count."""
    w, f = run.walls, run.facts
    ms = lambda xs: [x * 1e3 for x in xs]  # noqa: E731
    out = {
        "setup_s": {**timing_summary([e2e["setup_s"]["value"]]), "unit": "s"},
        "build_docs_per_s": {"value": f["build_docs"] / f["build_s"], "n": 1, "unit": "1/s"},
        "index_bytes_per_text_byte": {
            "value": e2e["index_bytes_per_text_byte"]["value"], "n": 1, "unit": "ratio"},
        "peak_rss_mb": {
            "value": rss_bytes / 2**20, "n": 1, "unit": "MB", "processes": rss_procs},
        "failed_ratio": {
            "value": run.ledger.failed / run.ledger.attempted,
            "n": run.ledger.attempted, "unit": "ratio"},
    }
    if workload == "serve":
        out["query_ms"] = {**timing_summary(ms(w["operators.query.search_topk"])), "unit": "ms"}
        out["batch_qps"] = {
            "value": e2e["bulk_items_per_s"]["value"], "n": f["batch_queries"], "unit": "1/s"}
    else:
        out["ingest_s"] = {**timing_summary(w["streaming.incremental.ingest"]), "unit": "s"}
        out["fresh_query_ms"] = {
            **timing_summary(ms(w["streaming.incremental.fresh_query"])), "unit": "ms"}
    return out


def _spark(sp, counters) -> dict:
    c = dict(counters.get(sp.group, {}))
    c.setdefault("jobs", 0)
    c.setdefault("tasks", 0)
    c.setdefault("job_s", 0.0)
    c["driver_s"] = max(0.0, sp.wall - c["job_s"])
    return c


def per_layer(run, tracer, counters: dict, cores: int, root_span) -> dict:
    by_name: dict[str, list] = {}
    for sp in tracer.spans:
        by_name.setdefault(sp.name, []).append((sp, _spark(sp, counters)))
    get = lambda name: by_name.get(name, [])  # noqa: E731
    v: dict[str, float] = {}

    v["session.start_s"] = get("session.start")[0][0].wall
    sp, c = get("operators.index_build.build")[0]
    p = "operators.index_build."
    v[p + "build_s"] = sp.wall
    for k in ("jobs", "tasks", "job_s", "driver_s", "executor_run_s",
              "executor_cpu_s", "gc_s", "shuffle_write_bytes", "spill_bytes",
              "output_bytes"):
        v[p + k] = c.get(k, 0)
    v[p + "slot_util"] = c.get("executor_run_s", 0.0) / (sp.wall * cores)

    for k, x in run.facts.get("index", {}).items():
        v["index." + k] = x
    v["operators.query.open_ms"] = get("operators.query.open")[0][0].wall * 1e3

    p = "operators.query."
    qs = get("operators.query.search_topk")
    v[p + "jobs_per_query"] = _mean([c["jobs"] for _, c in qs])
    v[p + "tasks_per_query"] = _mean([c["tasks"] for _, c in qs])
    v[p + "job_ms"] = _median([c["job_s"] * 1e3 for _, c in qs])
    v[p + "driver_ms"] = _median([c["driver_s"] * 1e3 for _, c in qs])
    v[p + "input_bytes_per_query"] = _mean([c.get("input_bytes", 0) for _, c in qs])
    v[p + "executor_cpu_ms_per_query"] = _mean(
        [c.get("executor_cpu_s", 0.0) * 1e3 for _, c in qs])
    for kind in ("hot", "cold", "single", "and", "bm25f"):
        v[f"{p}p50_ms.{kind}"] = _median(
            [sp.wall * 1e3 for sp, _ in qs if kind in sp.attrs.get("kinds", ())])
    v[p + "repeat_share"] = run.facts.get("repeat_share", 0.0)
    batch = get("operators.query.search_many")
    v[p + "batch.job_ms"] = _median([c["job_s"] * 1e3 for _, c in batch])
    v[p + "batch.shuffle_bytes"] = _median([c.get("shuffle_write_bytes", 0) for _, c in batch])
    v[p + "batch.executor_cpu_s"] = _median([c.get("executor_cpu_s", 0.0) for _, c in batch])

    p = "streaming.incremental."
    ing = get(p + "ingest")
    v[p + "ingest.wall_s"] = _median([sp.wall for sp, _ in ing])
    v[p + "ingest.jobs_per_batch"] = _mean([c["jobs"] for _, c in ing])
    v[p + "ingest.job_ms"] = _median([c["job_s"] * 1e3 for _, c in ing])
    v[p + "ingest.driver_ms"] = _median([c["driver_s"] * 1e3 for _, c in ing])
    fq = get(p + "fresh_query")
    v[p + "fresh_query.jobs_per_query"] = _mean([c["jobs"] for _, c in fq])
    v[p + "fresh_query.job_ms"] = _median([c["job_s"] * 1e3 for _, c in fq])
    v[p + "fresh_query.driver_ms"] = _median([c["driver_s"] * 1e3 for _, c in fq])
    v[p + "delta_bytes"] = _median([sp.attrs.get("delta_bytes", 0) for sp, _ in ing])

    v["trace.overhead_ratio"] = root_span.wall / (root_span.wall - tracer.own_s) - 1
    missing = set(PER_LAYER) - set(v)
    if missing:
        raise KeyError(f"per-layer metrics not computed: {sorted(missing)}")
    return {k: {"value": v[k], "unit": PER_LAYER[k][0]} for k in PER_LAYER}


def self_time_by_span(tracer) -> dict[str, float]:
    selfs = self_times(tracer.spans)
    out: dict[str, float] = {}
    for sp in tracer.spans:
        out[sp.name] = out.get(sp.name, 0.0) + selfs[sp.id]
    return out
