"""Per-layer metrics, computed from the spans of a traced run.

Scope: spans that lie inside the workload's measured phases, except
pinned-view builds and bulk loads (``kv.store.cache_build*``,
``kv.store.ingest_*``), which count the whole run because kv_serve pays
them in set-up. A layer a workload never calls reports 0.
"""

from __future__ import annotations

import statistics

from perfbench.trace import COUNTERS, inclusive

QUERY_MODULES = (
    "kv_semantics", "relational", "tpch_extra", "graph", "dedup",
    "similarity", "text", "multimodal",
)

# (name, unit, better)
METRICS = (
    [(f"spark.{c}", u, "lower") for c, u in zip(
        COUNTERS, ("count", "count", "count", "s", "s", "bytes", "bytes", "bytes"))]
    + [
        ("service.client_ms.p50", "ms", "lower"),
        ("service.store_ms.p50", "ms", "lower"),
        ("service.overhead_ms.p50", "ms", "lower"),
        ("service.requests", "count", "higher"),
        ("kv.store.cache_builds", "count", "lower"),
        ("kv.store.cache_build_s", "s", "lower"),
        ("kv.store.view_plan_ms.p50", "ms", "lower"),
        ("kv.store.jobs_per_read", "count", "lower"),
        ("kv.manifest.segments_per_lookup", "count", "lower"),
        ("kv.store.set_batch_ms.p50", "ms", "lower"),
        ("kv.store.jobs_per_write", "count", "lower"),
        ("kv.manifest.commits", "count", "higher"),
        ("kv.manifest.commit_ms.p50", "ms", "lower"),
        ("kv.store.ingest_df_s", "s", "lower"),
        ("kv.store.ingest_jobs", "count", "lower"),
        ("kv.store.compact_s", "s", "lower"),
        ("kv.store.compaction_rounds", "count", "lower"),
        ("kv.store.compacted_bytes", "bytes", "lower"),
        ("kv.store.write_amp", "ratio", "lower"),
        ("kv.store.gc_s", "s", "lower"),
        ("kv.store.gc_reclaimed_bytes", "bytes", "higher"),
        ("kv.store.segments", "count", "lower"),
    ]
    + [
        (f"queries.{m}.{k}", u, "lower")
        for m in QUERY_MODULES
        for k, u in (("s", "s"), ("build_s", "s"), ("build_jobs", "count"), ("jobs", "count"))
    ]
)

STORE_READS = ("kv.store.get", "kv.store.mget", "kv.store.scan")
EXTRAS = ("compaction_rounds", "compacted_bytes", "write_amp", "gc_reclaimed_bytes", "segments")


def _dur(s) -> float:
    return s["end"] - s["start"]


def _p50_ms(spans) -> float:
    xs = [_dur(s) * 1e3 for s in spans]
    return statistics.median(xs) if xs else 0.0


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(spans: list, timed: tuple, extras: dict) -> dict:
    """{metric name: value} for every name in METRICS."""
    t0, t1 = timed
    in_timed = [s for s in spans if s["start"] >= t0 and s["end"] <= t1]
    by_id = {s["id"]: s for s in spans}
    jobs = inclusive(spans, "jobs")

    def named(pool, *names):
        return [s for s in pool if s["name"] in names]

    def outermost(pool, prefix):
        """Spans whose parent is not itself a ``prefix`` span."""
        return [s for s in pool
                if not (s["parent"] in by_id and by_id[s["parent"]]["name"].startswith(prefix))]

    out = {}
    for c in COUNTERS:
        out[f"spark.{c}"] = sum(s.get("spark", {}).get(c, 0) for s in in_timed)

    # service: client span -> its server-side store read spans
    children: dict = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)

    def store_time(s):
        total = 0.0
        for c in children.get(s["id"], ()):
            total += _dur(c) if c["name"] in STORE_READS else store_time(c)
        return total

    clients = [s for s in in_timed if s["name"].startswith("service.client.")]
    store_ms = [store_time(s) * 1e3 for s in clients]
    out["service.client_ms.p50"] = _p50_ms(clients)
    out["service.store_ms.p50"] = statistics.median(store_ms) if store_ms else 0.0
    out["service.overhead_ms.p50"] = (
        statistics.median(_dur(s) * 1e3 - m for s, m in zip(clients, store_ms))
        if clients else 0.0
    )
    out["service.requests"] = len(clients)

    # kv.store read path
    builds = named(spans, "kv.store.cache_view")
    built_reads = {by_id[b["parent"]]["id"] for b in builds
                   if b["parent"] in by_id and by_id[b["parent"]]["name"] in STORE_READS}
    out["kv.store.cache_builds"] = len(builds)
    out["kv.store.cache_build_s"] = sum(_dur(by_id[i]) for i in built_reads)
    out["kv.store.view_plan_ms.p50"] = _p50_ms(named(in_timed, "kv.store.view"))
    reads = outermost(named(in_timed, *STORE_READS), "kv.store.")
    out["kv.store.jobs_per_read"] = _mean(jobs[s["id"]] for s in reads)
    out["kv.manifest.segments_per_lookup"] = _mean(
        s.get("segments", 0)
        for s in named(in_timed, "kv.manifest.prune_for_key", "kv.manifest.prune_for_range"))

    # kv.store write path and kv.manifest
    writes = named(in_timed, "kv.store.set_batch")
    out["kv.store.set_batch_ms.p50"] = _p50_ms(writes)
    out["kv.store.jobs_per_write"] = _mean(jobs[s["id"]] for s in writes)
    commits = named(in_timed, "kv.manifest.commit")
    out["kv.manifest.commits"] = len(commits)
    out["kv.manifest.commit_ms.p50"] = _p50_ms(commits)
    ingests = outermost(named(spans, "kv.store.ingest_df"), "kv.store.")
    out["kv.store.ingest_df_s"] = sum(_dur(s) for s in ingests)
    out["kv.store.ingest_jobs"] = sum(jobs[s["id"]] for s in ingests)

    # kv.store maintenance
    out["kv.store.compact_s"] = sum(_dur(s) for s in named(in_timed, "kv.store.auto_compact"))
    out["kv.store.gc_s"] = sum(_dur(s) for s in named(in_timed, "kv.store.gc_values"))
    for k in EXTRAS:
        out[f"kv.store.{k}"] = extras.get(k, 0)

    # queries.<module>
    for m in QUERY_MODULES:
        b = [s for s in named(in_timed, "queries.build") if s.get("module") == m]
        a = [s for s in named(in_timed, "queries.action") if s.get("module") == m]
        out[f"queries.{m}.s"] = sum(_dur(s) for s in b + a)
        out[f"queries.{m}.build_s"] = sum(_dur(s) for s in b)
        out[f"queries.{m}.build_jobs"] = sum(jobs[s["id"]] for s in b)
        out[f"queries.{m}.jobs"] = sum(jobs[s["id"]] for s in b + a)
    return out
