"""In-process model of what the KV store must return, and the byte
accounting behind ``space_amp``.

The model is built from the same seeded generator as the store's inputs.
It records, per key, the payload token (which fixes the value bytes, see
``datagen.kv_value``) and the expiry; deletes remove the key. Reads are
judged at the fixed read time ``datagen.NOW``.
"""

from __future__ import annotations

import hashlib
import os

from perfbench.datagen import NOW, kv_expires, kv_value


class KVModel:
    def __init__(self, seed: int, now: int = NOW):
        self.seed = seed
        self.now = now
        self.rows: dict = {}  # key -> (token, expires_at)

    # ------------------------------------------------------------ writes
    def load(self, keys, token: str) -> None:
        """A bulk load: every key gets ``token`` and the generator's TTL."""
        for k in keys:
            self.rows[k] = (token, kv_expires(self.seed, k, token))

    def put(self, key: str, token: str, expires_at: int = 0) -> None:
        self.rows[key] = (token, int(expires_at))

    def delete(self, key: str) -> None:
        self.rows.pop(key, None)

    # ------------------------------------------------------------- reads
    def expected(self, key: str) -> bytes | None:
        """The value a read at ``now`` must return; None when the key was
        never written, was deleted, or has expired."""
        row = self.rows.get(key)
        if row is None:
            return None
        token, expires_at = row
        if expires_at != 0 and expires_at <= self.now:
            return None
        return kv_value(self.seed, key, token)

    def mismatch(self, key: str, got: bytes | None) -> str | None:
        """Why ``got`` is a wrong answer for ``key``, or None if it is right."""
        want = self.expected(key)
        if want is None:
            if got is None:
                return None
            if key not in self.rows:
                return "deleted or never written, but a value was returned"
            return "expired, but a value was returned"
        if got is None:
            return "live, but no value was returned"
        if bytes(got) != want:
            return "stale or wrong value"
        return None

    def live(self):
        """(key, value) for every key a full read at ``now`` must return."""
        for key in self.rows:
            value = self.expected(key)
            if value is not None:
                yield key, value

    def live_bytes(self) -> int:
        """User key plus value bytes of the live view."""
        return sum(len(k.encode()) + len(v) for k, v in self.live())

    def view_mismatches(self, rows) -> list:
        """Compare a full live view, given as (key, md5 hex of value) pairs,
        with the model. Returns a list of (key, reason)."""
        got = dict(rows)
        bad = []
        for key, value in self.live():
            digest = got.pop(key, None)
            if digest is None:
                bad.append((key, "live, but missing from the view"))
            elif digest != hashlib.md5(value).hexdigest():
                bad.append((key, "stale or wrong value"))
        bad.extend((key, "in the view, but not live") for key in got)
        return bad


def dir_bytes(root: str) -> int:
    """Bytes of every regular file under ``root``."""
    total = 0
    for dirpath, _dirs, files in os.walk(root):
        for name in files:
            st = os.lstat(os.path.join(dirpath, name))
            total += st.st_size
    return total


def space_amp(store_root: str, model: KVModel) -> float:
    """Bytes on disk under the store directory per live user byte."""
    return dir_bytes(store_root) / max(model.live_bytes(), 1)
