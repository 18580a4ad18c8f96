"""Seeded generators for every input the benchmark feeds the program.

Two families:

- ``write_tables``: the ten relational tables the registered queries read
  (TPC-H-shaped star schema plus events, documents and embeddings), written
  as one Parquet file each with the column names, types and value domains
  the query layer and its DuckDB oracles expect.
- KV rows: keys shaped like lineitem keys (``lineitem:<order>:<line>``)
  and values whose bytes, length and TTL derive from a SHA-256 of
  ``"<seed>:<key>:<token>"``. The same rule is written once in Python
  (``kv_value``/``kv_expires``, used by the model and by ``set_batch``
  payloads) and once as Spark column expressions (``kv_frame``, used for
  bulk loads), so the model never has to read the store to know what it
  should hold.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Fixed read time for every TTL decision (same constant as the query layer).
NOW = 2_000_000_000
# Value lengths span [512, 1536): about half sit at or above the store's
# default value_threshold (1024) and are stored in the values table.
VALUE_MIN, VALUE_SPAN = 512, 1024
# Of 256 TTL buckets, these many expire before NOW / after NOW.
TTL_EXPIRED, TTL_LIVE = 13, 13
TTL_OFFSET = 1000


# ----------------------------------------------------------------- KV rows
def kv_key(i: int) -> str:
    """Key of row ``i``: four lines per order, like lineitem."""
    return f"lineitem:{i // 4:07d}:{i % 4 + 1}"


def kv_absent_key(i: int) -> str:
    """A key in the same order range that no load ever writes (line 5-7)."""
    return f"lineitem:{i // 4:07d}:{5 + i % 3}"


def kv_prefix(order: int) -> str:
    """Prefix covering ten consecutive orders (up to 40 keys)."""
    return f"lineitem:{order // 10:06d}"


def _digest(seed: int, key: str, token: str) -> str:
    return hashlib.sha256(f"{seed}:{key}:{token}".encode()).hexdigest()


def kv_value(seed: int, key: str, token: str) -> bytes:
    h = _digest(seed, key, token)
    n = VALUE_MIN + int(h[:6], 16) % VALUE_SPAN
    return (h * 24)[:n].encode()


def kv_expires(seed: int, key: str, token: str) -> int:
    """0 (no TTL), or an expiry before or after NOW, from the digest."""
    b = int(_digest(seed, key, token)[6:8], 16)
    if b < TTL_EXPIRED:
        return NOW - TTL_OFFSET - b
    if b < TTL_EXPIRED + TTL_LIVE:
        return NOW + TTL_OFFSET + b
    return 0


def kv_frame(spark, seed: int, n_keys: int, token: str, part: int = 0, parts: int = 1):
    """Spark frame (key, value, expires_at) for rows ``i`` of ``range(n_keys)``
    with ``i % parts == part``: the bulk-load twin of kv_value/kv_expires."""
    from pyspark.sql import functions as F

    key = F.format_string(
        "lineitem:%07d:%d", (F.col("id") / 4).cast("long"), F.col("id") % 4 + 1
    )
    digest = F.sha2(F.concat_ws(":", F.lit(str(seed)), F.col("key"), F.lit(token)), 256)
    bucket = F.conv(F.substring("h", 7, 2), 16, 10).cast("long")
    expires = (
        F.when(bucket < TTL_EXPIRED, F.lit(NOW - TTL_OFFSET) - bucket)
        .when(bucket < TTL_EXPIRED + TTL_LIVE, F.lit(NOW + TTL_OFFSET) + bucket)
        .otherwise(F.lit(0))
        .cast("long")
    )
    value = F.expr(
        f"cast(substring(repeat(h, 24), 1, {VALUE_MIN} + "
        f"cast(conv(substring(h, 1, 6), 16, 10) as bigint) % {VALUE_SPAN}) as binary)"
    )
    return (
        spark.range(n_keys)
        .filter(F.col("id") % parts == part)
        .select(key.alias("key"))
        .withColumn("h", digest)
        .select("key", value.alias("value"), expires.alias("expires_at"))
    )


# ---------------------------------------------------------- relational tables
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PNOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENTS = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]
_LANG_P = [0.14, 0.44, 0.14, 0.13, 0.15]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_US_DAY = 86_400 * 1_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _write(path: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), path, compression="snappy")


def write_tables(out_dir: str, sf: float, seed: int) -> None:
    """Write the ten tables at scale factor ``sf`` into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, int(sf * 1_000_000)])
    n_cust = max(int(150_000 * sf), 10)
    n_supp = max(int(10_000 * sf), 5)
    n_part = max(int(200_000 * sf), 10)
    n_ord = max(int(1_500_000 * sf), 10)
    n_line = n_ord * 4
    n_ev = max(int(1_000_000 * sf), 100)
    n_users = max(int(15_000 * sf), 10)
    n_doc = max(int(50_000 * sf), 500)
    n_emb = max(int(20_000 * sf), 500)
    base_1995 = 788_918_400 * 1_000_000  # 1995-01-01 in microseconds
    base_2024 = 1_704_067_200 * 1_000_000  # 2024-01-01

    _write(f"{out_dir}/region.parquet", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": _REGIONS,
    })
    _write(f"{out_dir}/nation.parquet", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    ck = np.arange(n_cust)
    _write(f"{out_dir}/customer.parquet", {
        "c_custkey": pa.array(ck, pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    })
    sk = np.arange(n_supp)
    _write(f"{out_dir}/supplier.parquet", {
        "s_suppkey": pa.array(sk, pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    pk = np.arange(n_part)
    adj, noun = rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
    _write(f"{out_dir}/part.parquet", {
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": [f"{_PADJ[a]} {_PNOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [_PTYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
    })
    ok = np.arange(n_ord)
    _write(f"{out_dir}/orders.parquet", {
        "o_orderkey": pa.array(ok, pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _ts(base_1995 + rng.integers(0, 2404, n_ord) * _US_DAY),
        "o_orderpriority": [_PRIOS[i] for i in rng.integers(0, 5, n_ord)],
    })
    qty = rng.integers(1, 51, n_line).astype("float64")
    _write(f"{out_dir}/lineitem.parquet", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(base_1995 + rng.integers(1, 2500, n_line) * _US_DAY),
    })
    ts = np.sort(rng.integers(0, 30 * _US_DAY, n_ev))
    _write(f"{out_dir}/events.parquet", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(base_2024 + ts),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": [_EVENTS[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2) + 0.01,
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_ev)],
    })
    words = np.array(_WORDS)
    texts = [
        " ".join(words[rng.integers(0, len(_WORDS), int(k))])
        for k in rng.integers(4, 90, n_doc)
    ]
    # One document in ten is a near-duplicate of an earlier one: the same
    # words with one replaced, so the dedup rows have clusters to find.
    for i in range(n_doc // 10, n_doc, 10):
        w = texts[int(rng.integers(0, n_doc // 10))].split()
        w[int(rng.integers(0, len(w)))] = str(words[int(rng.integers(0, len(_WORDS)))])
        texts[i] = " ".join(w)
    _write(f"{out_dir}/documents.parquet", {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": [_LANGS[i] for i in rng.choice(5, n_doc, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    emb = rng.standard_normal((n_emb, 64)).astype("float32")
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(f"{out_dir}/embeddings.parquet", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })
