"""The three closed-loop workloads. Each runs in this one process against a
SparkSession, times only its measured phases, and checks every output:
KV reads against ``KVModel``, query rows against their DuckDB oracles.

A workload returns a ``Result``; ``run.py`` turns it into the metrics line.
"""

from __future__ import annotations

import math
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import numpy as np

from perfbench import datagen
from perfbench.datagen import NOW, kv_absent_key, kv_key, kv_prefix, kv_value
from perfbench.model import KVModel, space_amp
from perfbench.stats import ZipfKeys, summarize

# The KV store: 30,000 lineitem-shaped keys (7,500 orders of four lines),
# loaded in two ingest_df batches. About 30 MB of values, so the pinned
# view fits in Spark storage memory.
N_KEYS = 30_000
PRELOAD_BATCHES = 2
ZIPF_THETA = 0.99
ABSENT_FRAC = 0.05

# kv_serve: two client connections. Each runs blocks of 20 requests, 16
# get, 3 mget(32) and 1 prefix scan (<= 100 rows), in a seeded order: 80%,
# 15% and 5% exactly, so the mix does not drift between seeds.
SERVE_CLIENTS = 2
OP_BLOCK = ("get",) * 16 + ("mget",) * 3 + ("scan",)
MGET_KEYS = 32
SCAN_LIMIT = 100

# kv_write: the wave rewrites 1 key in 7; commits carry 16 entries.
WAVE_PARTS = 7
COMMIT_ENTRIES = 16
WARM_COMMITS = 3
# Value-log GC rewrites a values segment once this share of it is garbage.
GC_DISCARD_RATIO = 0.1

# query_mix: one pass over these rows. The timed pass reads sf0.01 tables;
# the warm-up pass reads sf0.001 tables in another directory, so per-
# (session, sf_dir) memos filled by the warm-up cannot serve the timed pass.
QUERY_ROWS = (
    "kv_latest_live",
    "q3_shipping_priority",
    "q8_market_share",
    "graph_khop",
    "dedup_minhash_lsh",
    "sim_topk_cosine",
    "text_fingerprint",
    "multimodal_decode",
)
QUERY_SF, WARM_SF = 0.01, 0.001


@dataclass
class Result:
    """What a workload measured. ``timed`` is the (start, end) of its
    measured phases on the perf_counter clock; set-up ends at its start."""

    e2e: dict = field(default_factory=dict)  # end-to-end metrics (no set-up, memory)
    detail: dict = field(default_factory=dict)  # named per-workload metrics
    extras: dict = field(default_factory=dict)  # layer values read from the program
    rows: list = field(default_factory=list)  # per-row records (query_mix)
    timed: tuple = (0.0, 0.0)
    attempted: int = 0
    failures: list = field(default_factory=list)

    def check(self, reason: str | None, what: str) -> None:
        """Count one checked operation; a reason string marks it failed."""
        self.attempted += 1
        if reason is not None:
            self.failures.append(f"{what}: {reason}")


class Harness:
    """Shared state of one run: session, work directory, tracer, seed."""

    def __init__(self, spark, work_dir: str, seed: int, seconds: float, tracer):
        self.spark = spark
        self.work_dir = work_dir
        self.seed = seed
        self.seconds = seconds
        self.tr = tracer


# ------------------------------------------------------------------ KV common
def _open_store(h: Harness):
    from octopusdb_spark.db import OctopusDB

    return OctopusDB(h.spark, f"{h.work_dir}/store")


def _preload(h: Harness, db, model: KVModel) -> None:
    for part in range(PRELOAD_BATCHES):
        df = datagen.kv_frame(h.spark, h.seed, N_KEYS, "0", part, PRELOAD_BATCHES)
        with h.tr.span("bench.preload"):
            db.ingest_df(df, expires_col="expires_at")
    model.load((kv_key(i) for i in range(N_KEYS)), "0")


def _pick_keys(zipf: ZipfKeys, rng, n: int) -> list:
    """``n`` keys: Zipf-chosen present keys, about 5% absent ones."""
    idx = zipf.sample(rng, n)
    absent = rng.random(n) < ABSENT_FRAC
    return [kv_absent_key(int(i)) if a else kv_key(int(i)) for i, a in zip(idx, absent)]


def _expected_scan(model: KVModel, order: int) -> list:
    """(key, value) rows a prefix scan over kv_prefix(order) must return."""
    first = (order // 10) * 10
    keys = [kv_key(o * 4 + line) for o in range(first, first + 10) for line in range(4)]
    live = [(k, model.expected(k)) for k in keys]
    return [(k, v) for k, v in live if v is not None][:SCAN_LIMIT]


# ------------------------------------------------------------------ kv_serve
def kv_serve(h: Harness) -> Result:
    """Read-only closed loop through ``OctopusDB.serve()``."""
    from octopusdb_spark.service.client import KVClient

    res = Result()
    db = _open_store(h)
    model = KVModel(h.seed)
    _preload(h, db, model)
    zipf = ZipfKeys(N_KEYS, ZIPF_THETA, h.seed)
    svc = db.serve(now=NOW)
    host, port = svc.start()
    clients = [KVClient(host, port, timeout=120.0) for _ in range(SERVE_CLIENTS)]
    lat = {"get": [], "mget": [], "scan": []}
    lock = threading.Lock()

    def ops(rng):
        """Endless seeded request schedule: shuffled OP_BLOCKs."""
        while True:
            yield from rng.permutation(OP_BLOCK)

    def one_op(client, rng, op, record: bool):
        if op == "get":
            key = _pick_keys(zipf, rng, 1)[0]
        elif op == "mget":
            keys = _pick_keys(zipf, rng, MGET_KEYS)
        else:
            order = int(zipf.sample(rng)) // 4
        t0 = time.perf_counter()
        try:
            with h.tr.span(f"bench.{op}", jobs=False):
                if op == "get":
                    got = client.get(key)
                elif op == "mget":
                    got = client.mget(keys)
                else:
                    got = client.scan(prefix=kv_prefix(order), limit=SCAN_LIMIT)
            ms = (time.perf_counter() - t0) * 1e3
            if op == "get":
                verdict = model.mismatch(key, None if got is None else got["value"])
            elif op == "mget":
                verdict = next(
                    (f"{k}: {r}" for k in keys
                     if (r := model.mismatch(k, got[k]["value"] if k in got else None))),
                    None,
                )
            else:
                rows = [(r["key"], r["value"]) for r in got]
                verdict = None if rows == _expected_scan(model, order) else "scan rows differ"
        except Exception as e:  # an error reply or transport fault is a failed op
            ms, verdict = None, f"{type(e).__name__}: {e}"
        with lock:
            res.check(verdict, op)
            if record and ms is not None:
                lat[op].append(ms)

    # Warm-up (set-up): the first read builds the pinned view; then every
    # op type runs a few times on each connection.
    for c, client in enumerate(clients):
        rng = np.random.default_rng([h.seed, 1, c])
        for op in ("get",) * 5 + ("mget",) * 2 + ("scan",):
            one_op(client, rng, op, record=False)

    start = time.perf_counter()
    deadline = start + h.seconds

    def loop(c):
        rng = np.random.default_rng([h.seed, 2, c])
        schedule = ops(rng)
        while time.perf_counter() < deadline:
            one_op(clients[c], rng, str(next(schedule)), record=True)

    with h.tr.span("bench.timed", jobs=False):
        threads = [threading.Thread(target=loop, args=(c,)) for c in range(SERVE_CLIENTS)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
    end = time.perf_counter()
    for client in clients:
        client.close()
    svc.stop()
    db.close()

    all_ms = lat["get"] + lat["mget"] + lat["scan"]
    n_ops = len(all_ms)
    res.timed = (start, end)
    res.e2e = {"op_ms": summarize(all_ms)["p50"], "ops_per_s": n_ops / (end - start)}
    res.detail = {
        "serve_ops_per_s": n_ops / (end - start),
        "get_ms": summarize(lat["get"]),
        "mget_ms": summarize(lat["mget"]),
        "scan_ms": summarize(lat["scan"]),
        "clients": SERVE_CLIENTS,
    }
    return res


# ------------------------------------------------------------------ kv_write
def kv_write(h: Harness) -> Result:
    """Bulk overwrite wave, small commits each read back through the pinned
    view, then compaction and value-log GC; all through the ``db`` facade."""
    from octopusdb_spark.kv.store import Entry

    res = Result()
    db = _open_store(h)
    model = KVModel(h.seed)
    _preload(h, db, model)
    zipf = ZipfKeys(N_KEYS, ZIPF_THETA, h.seed)
    rng = np.random.default_rng([h.seed, 3])
    write_ms, read_ms = [], []
    commit_no = [0]

    def commit_cycle(record: bool) -> None:
        c = commit_no[0]
        commit_no[0] += 1
        idx = rng.choice(N_KEYS, COMMIT_ENTRIES, replace=False)
        kinds = rng.random(COMMIT_ENTRIES)
        entries = []
        for j, (i, u) in enumerate(zip(idx, kinds)):
            key, token = kv_key(int(i)), f"c{c}"
            if u < 0.20:
                entries.append(Entry(key=key, value=None))
            else:
                expires = 0
                if u < 0.30:
                    expires = NOW - 500 - j  # already expired at the read time
                elif u < 0.45:
                    expires = NOW + 500 + j
                entries.append(Entry(key=key, value=kv_value(h.seed, key, token), expires_at=expires))
        try:
            t0 = time.perf_counter()
            with h.tr.span("bench.commit"):
                db.set_batch(entries)
            t1 = time.perf_counter()
            for e in entries:
                if e.value is None:
                    model.delete(e.key)
                else:
                    model.put(e.key, f"c{c}", e.expires_at)
            keys = [e.key for e in entries]
            with h.tr.span("bench.read_after_write"):
                got = db.mget(keys, now=NOW)
            t2 = time.perf_counter()
            verdict = next(
                (f"{k}: {r}" for k in keys if (r := model.mismatch(k, got.get(k)))), None
            )
        except Exception as e:
            res.check(f"{type(e).__name__}: {e}", "commit")
            return
        res.check(None, "commit")
        res.check(verdict, "read_after_write")
        if record:
            write_ms.append((t1 - t0) * 1e3)
            read_ms.append((t2 - t1) * 1e3)

    with db.pin(now=NOW):
        # Set-up: build the pinned view, then warm commit cycles (commit
        # latency keeps falling over the first few while the JVM warms).
        probe = [kv_key(int(i)) for i in zipf.sample(rng, MGET_KEYS)]
        got = db.mget(probe, now=NOW)
        for k in probe:
            res.check(model.mismatch(k, got.get(k)), "warm read")
        for _ in range(WARM_COMMITS):
            commit_cycle(record=False)

        start = time.perf_counter()
        with h.tr.span("bench.timed"):
            # 1. bulk overwrite wave through ingest_df
            part = h.seed % WAVE_PARTS
            wave = datagen.kv_frame(h.spark, h.seed, N_KEYS, "w", part, WAVE_PARTS)
            t0 = time.perf_counter()
            with h.tr.span("bench.wave"):
                n_wave = db.ingest_df(wave, expires_col="expires_at")
            wave_s = time.perf_counter() - t0
            model.load((kv_key(i) for i in range(part, N_KEYS, WAVE_PARTS)), "w")
            res.check(None if n_wave == len(range(part, N_KEYS, WAVE_PARTS))
                      else f"ingested {n_wave} rows", "wave")
            # 2. small commits, each read back
            loop_start = time.perf_counter()
            deadline = loop_start + h.seconds
            while time.perf_counter() < deadline:
                commit_cycle(record=True)
            loop_s = time.perf_counter() - loop_start
            # 3. maintenance
            info0 = db.info()
            t0 = time.perf_counter()
            with h.tr.span("bench.compact"):
                rounds = db.kv.auto_compact(now=NOW)
            t1 = time.perf_counter()
            with h.tr.span("bench.gc"):
                rewritten = db.run_value_log_gc(discard_ratio=GC_DISCARD_RATIO, now=NOW)
            t2 = time.perf_counter()
            info1 = db.info()
        end = time.perf_counter()

    # Outside the timed region: the full live view must equal the model.
    from pyspark.sql import functions as F

    view = db.kv.view(now=NOW).select("key", F.md5("value").alias("md5")).collect()
    bad = model.view_mismatches((r["key"], r["md5"]) for r in view)
    res.check(None if not bad else f"{len(bad)} keys differ, e.g. {bad[:3]}", "full view")
    amp = space_amp(f"{h.work_dir}/store", model)
    db.close()

    n_commits = len(write_ms)
    res.timed = (start, end)
    # The mean, not the median: a run holds only about six commits, and
    # their mean moves less from run to run than their median does.
    res.e2e = {"op_ms": sum(write_ms) / n_commits, "ops_per_s": n_commits / loop_s}
    res.detail = {
        "write_ms": summarize(write_ms),
        "read_after_write_ms": summarize(read_ms),
        "ingest_rows_per_s": n_wave / wave_s,
        "maintenance_s": t2 - t0,
        "space_amp": amp,
        "commits": n_commits,
        "commits_per_s": n_commits / loop_s,
        "write_samples_ms": write_ms,
        "read_samples_ms": read_ms,
    }
    res.extras = {
        "compaction_rounds": rounds,
        "compacted_bytes": (info1["compacted_bytes"] or 0) - (info0["compacted_bytes"] or 0),
        "write_amp": info1["write_amplification"],
        "gc_reclaimed_bytes": info0["value_total_bytes"] - info1["value_total_bytes"]
        if rewritten else 0,
        "segments": info1["data_segments"] + info1["value_segments"],
    }
    return res


# ----------------------------------------------------------------- query_mix
def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _run_pass(h: Harness, sf_dir: str, timed: bool) -> list:
    """Build and run every row into the noop sink. Returns per-row records
    with the built frame (kept for the oracle check) and the error, if any."""
    from octopusdb_spark.queries import REGISTRY

    out = []
    for name in QUERY_ROWS:
        fn = REGISTRY[name]
        module = fn.__module__.rsplit(".", 1)[-1]
        rec = {"row": name, "module": module, "df": None, "error": None}
        t0 = time.perf_counter()
        try:
            with h.tr.span("queries.build", row=name, module=module, timed=timed) as b:
                rec["df"] = fn(h.spark, sf_dir)
            t1 = time.perf_counter()
            with h.tr.span("queries.action", row=name, module=module, timed=timed) as a:
                _noop(rec["df"])
            t2 = time.perf_counter()
            rec.update(build_s=t1 - t0, action_s=t2 - t1, s=t2 - t0,
                       span_build=b.get("id"), span_action=a.get("id"))
        except Exception as e:
            rec["error"] = f"{type(e).__name__}: {e}"
        out.append(rec)
    return out


def _oracle_results(sf_dir: str, names: list) -> dict:
    """name -> (columns, rows) of each row's ORACLE_SQL twin on DuckDB, or
    the exception it raised."""
    import duckdb

    from octopusdb_spark.queries import ORACLE_SQL
    from octopusdb_spark.session import TABLE_NAMES

    out = {}
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        for name in TABLE_NAMES:
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')"
            )
        for name in names:
            try:
                tbl = con.execute(ORACLE_SQL[name]).arrow()
                cols = tbl.schema.names
                out[name] = (cols, [tuple(d[c] for c in cols) for d in tbl.to_pylist()])
            except Exception as e:
                out[name] = e
    finally:
        con.close()
    return out


def _oracle_check(sf_dir: str, rows: list, res: Result) -> None:
    """Compare each timed row's output with its DuckDB twin, using the
    type-tagged comparator of tools/oracle_check.py. DuckDB runs beside
    the Spark re-collects of the rows' frames, two at a time."""
    from tools.oracle_check import norm_rows

    def collect(df):
        try:
            return df.columns, [tuple(r) for r in df.collect()]
        except Exception as e:
            return e

    built = {r["row"]: r["df"] for r in rows if r["error"] is None}
    with ThreadPoolExecutor(max_workers=3) as pool:
        oracle_future = pool.submit(_oracle_results, sf_dir, list(built))
        got = dict(zip(built, pool.map(collect, built.values())))
        oracle = oracle_future.result()
    for rec in rows:
        name = rec["row"]
        if rec["error"] is not None:
            res.check(rec["error"], name)
            continue
        spark_side, duck_side = got[name], oracle.get(name, RuntimeError("no oracle result"))
        if isinstance(spark_side, Exception) or isinstance(duck_side, Exception):
            e = spark_side if isinstance(spark_side, Exception) else duck_side
            res.check(f"{type(e).__name__}: {e}", name)
            continue
        (scols, srows), (dcols, drows) = spark_side, duck_side
        if sorted(scols) != sorted(dcols):
            verdict = f"columns {sorted(scols)} != {sorted(dcols)}"
        elif len(srows) != len(drows):
            verdict = f"{len(srows)} rows, oracle {len(drows)}"
        elif norm_rows(scols, srows) != norm_rows(dcols, drows):
            verdict = "values differ from the oracle"
        else:
            verdict = None
            rec["rows_out"] = len(srows)
        res.check(verdict, name)


def query_mix(h: Harness) -> Result:
    """One pass of the registered rows at sf0.01 into the noop sink."""
    res = Result()
    warm_dir = f"{h.work_dir}/tables_sf{WARM_SF}"
    timed_dir = f"{h.work_dir}/tables_sf{QUERY_SF}"
    datagen.write_tables(warm_dir, WARM_SF, h.seed + 1)
    datagen.write_tables(timed_dir, QUERY_SF, h.seed)

    warm_start = time.perf_counter()
    for rec in _run_pass(h, warm_dir, timed=False):  # warm-up, set-up time
        res.check(rec["error"], f"warm-up {rec['row']}")
    warm_s = time.perf_counter() - warm_start
    start = time.perf_counter()
    with h.tr.span("bench.timed"):
        rows = _run_pass(h, timed_dir, timed=True)
    end = time.perf_counter()
    _oracle_check(timed_dir, rows, res)
    check_s = time.perf_counter() - end

    ok = [r for r in rows if r["error"] is None]
    res.timed = (start, end)
    res.e2e = {
        # geometric mean, the project's per-row aggregate: every row counts
        # equally, and it is steadier than the median of nine unlike rows
        "op_ms": math.exp(sum(math.log(r["s"] * 1e3) for r in ok) / len(ok)),
        "ops_per_s": len(ok) / (end - start),
    }
    res.detail = {
        "query_mix_s": end - start,
        "warm_pass_s": warm_s,
        "check_s": check_s,
        "row_s": {r["row"]: r.get("s") for r in rows},
    }
    for r in rows:
        r.pop("df", None)
    res.rows = rows
    return res


WORKLOADS = {"kv_serve": kv_serve, "kv_write": kv_write, "query_mix": query_mix}
