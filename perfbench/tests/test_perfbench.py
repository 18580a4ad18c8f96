"""Tests of the benchmark's own helpers. No Spark session needed:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import datagen  # noqa: E402
from perfbench.datagen import NOW, kv_expires, kv_key, kv_value  # noqa: E402
from perfbench.model import KVModel, dir_bytes, space_amp  # noqa: E402
from perfbench.stats import ZipfKeys, nearest_rank, summarize, tail_percentile  # noqa: E402
from perfbench.trace import self_times  # noqa: E402


# ------------------------------------------------------------- percentiles
def test_tail_percentile_needs_ten_samples_beyond():
    xs = list(range(1, 101))  # 100 samples
    # p99 and p95 leave 1 and 5 samples beyond; p90 leaves exactly 10
    assert tail_percentile(xs) == (90.0, 90)


def test_tail_percentile_falls_back_with_few_samples():
    xs = list(range(1, 41))  # 40 samples: p90 leaves 4 beyond, p75 leaves 10
    assert tail_percentile(xs) == (75.0, 30)
    assert tail_percentile(list(range(19))) is None  # even p50 leaves < 10


def test_tail_percentile_large_sample():
    xs = list(range(1, 10_001))
    assert tail_percentile(xs) == (99.9, 9990)


def test_summarize_reports_median_and_count():
    s = summarize([5.0, 1.0, 3.0])
    assert s == {"n": 3, "p50": 3.0}
    s = summarize(range(200))
    assert s["tail_q"] == 95.0 and s["tail"] == nearest_rank(sorted(range(200)), 95.0)


# -------------------------------------------------------------------- Zipf
def test_zipf_is_deterministic_for_a_seed():
    a = ZipfKeys(1000, 0.99, seed=7).sample(np.random.default_rng([7, 2]), 500)
    b = ZipfKeys(1000, 0.99, seed=7).sample(np.random.default_rng([7, 2]), 500)
    c = ZipfKeys(1000, 0.99, seed=8).sample(np.random.default_rng([8, 2]), 500)
    assert (a == b).all()
    assert not (a == c).all()


def test_zipf_is_skewed_and_in_range():
    z = ZipfKeys(1000, 0.99, seed=1)
    xs = z.sample(np.random.default_rng(1), 20_000)
    assert xs.min() >= 0 and xs.max() < 1000
    counts = np.bincount(xs, minlength=1000)
    # the hottest key is the rank-1 key of the seeded permutation
    assert counts.argmax() == z.perm[0]
    assert counts.max() > 20 * np.median(counts)


# ------------------------------------------------------------ KV generator
def test_kv_values_straddle_the_threshold_and_ttl_mix():
    vals = [kv_value(3, kv_key(i), "0") for i in range(2000)]
    big = sum(len(v) >= 1024 for v in vals)
    assert 800 < big < 1200
    exp = [kv_expires(3, kv_key(i), "0") for i in range(2000)]
    assert any(0 < e <= NOW for e in exp) and any(e > NOW for e in exp)
    assert sum(e == 0 for e in exp) > 1600


def test_write_tables_is_seeded(tmp_path):
    import pyarrow.parquet as pq

    a, b = tmp_path / "a", tmp_path / "b"
    datagen.write_tables(str(a), 0.001, seed=5)
    datagen.write_tables(str(b), 0.001, seed=5)
    for name in ("lineitem", "documents", "embeddings", "events"):
        assert pq.read_table(a / f"{name}.parquet").equals(pq.read_table(b / f"{name}.parquet"))


# ------------------------------------------------------------ model checks
def _model():
    m = KVModel(seed=11)
    m.load([kv_key(i) for i in range(8)], "0")
    return m


def test_model_accepts_the_current_value():
    m = _model()
    m.put("k", "c1")
    assert m.mismatch("k", kv_value(11, "k", "c1")) is None
    assert m.mismatch("absent", None) is None


def test_model_flags_a_stale_value():
    m = _model()
    m.put("k", "c1")
    m.put("k", "c2")
    assert m.mismatch("k", kv_value(11, "k", "c1")) == "stale or wrong value"


def test_model_flags_a_deleted_value():
    m = _model()
    m.put("k", "c1")
    m.delete("k")
    assert "deleted" in m.mismatch("k", kv_value(11, "k", "c1"))


def test_model_flags_an_expired_value():
    m = _model()
    m.put("k", "c1", expires_at=NOW - 1)
    assert "expired" in m.mismatch("k", kv_value(11, "k", "c1"))
    m.put("k", "c2", expires_at=NOW)  # expires_at <= now is expired
    assert m.mismatch("k", None) is None
    m.put("k", "c3", expires_at=NOW + 1)
    assert m.mismatch("k", None) == "live, but no value was returned"


def test_model_flags_full_view_differences():
    m = _model()
    rows = [(k, hashlib.md5(v).hexdigest()) for k, v in m.live()]
    assert m.view_mismatches(rows) == []
    stale = [(k, "0" * 32) if i == 0 else (k, d) for i, (k, d) in enumerate(rows)]
    assert [r for _, r in m.view_mismatches(stale)] == ["stale or wrong value"]
    assert m.view_mismatches(rows + [("ghost", "x")]) == [("ghost", "in the view, but not live")]
    assert m.view_mismatches(rows[1:])[0][1] == "live, but missing from the view"


# ---------------------------------------------------------- byte accounting
def test_space_amp_counts_every_file_against_live_bytes(tmp_path):
    store = tmp_path / "store"
    (store / "seg").mkdir(parents=True)
    (store / "seg" / "a.parquet").write_bytes(b"x" * 3000)
    (store / "MANIFEST").write_bytes(b"y" * 1000)
    assert dir_bytes(str(store)) == 4000
    m = KVModel(seed=1)
    m.put("key1", "t")  # live: 4 key bytes + value bytes
    m.put("gone", "t", expires_at=NOW - 5)  # expired: not live
    live = 4 + len(kv_value(1, "key1", "t"))
    assert m.live_bytes() == live
    assert space_amp(str(store), m) == pytest.approx(4000 / live)


# -------------------------------------------------------------- self time
def test_self_time_subtracts_the_union_of_children():
    spans = [
        {"id": 1, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 2, "parent": 1, "start": 1.0, "end": 4.0},
        {"id": 3, "parent": 1, "start": 3.0, "end": 5.0},  # overlaps 2
        {"id": 4, "parent": 1, "start": 8.0, "end": 12.0},  # runs past the parent
    ]
    self_times(spans)
    assert spans[0]["self_s"] == pytest.approx(10.0 - 4.0 - 2.0)
    assert spans[1]["self_s"] == pytest.approx(3.0)
