"""Plain-Python model of an icepack image table under CDC merges.

The model is built from the same parquet rows the engine ingests, read with
pyarrow, and applies the reference connector's merge semantics by hand:
last-writer-wins per key within a batch (latest ``(source_timestamp,
change_seq)``), then a ``<=`` timestamp guard against the stored row, a
delete for a winning tombstone and an upsert otherwise.
"""

from __future__ import annotations

from datetime import datetime, timezone

import pyarrow.parquet as pq

# source_timestamp of every row in the starting table (the benchmark
# appends its base images with this stamp)
BASE_TS = datetime(2024, 1, 1, tzinfo=timezone.utc)


def _epoch(ts: datetime) -> float:
    if ts.tzinfo is None:  # parquet timestamps read back as naive UTC
        ts = ts.replace(tzinfo=timezone.utc)
    return ts.timestamp()


def read_rows(path: str, columns: list[str]) -> list[dict]:
    return pq.read_table(path, columns=columns).to_pylist()


class TableModel:
    """``image_id -> (caption, phash, len(bytes), source_timestamp as epoch s)``."""

    def __init__(self, base_rows: list[dict]):
        base = _epoch(BASE_TS)
        self.rows = {
            r["image_id"]: (r["caption"], r["phash"], len(r["bytes"]), base)
            for r in base_rows
        }

    def copy(self) -> "TableModel":
        m = TableModel.__new__(TableModel)
        m.rows = dict(self.rows)
        return m

    def apply_batch(self, changes: list[dict]) -> int:
        """Merge one change batch; returns the number of change-feed rows
        the merge emits (update: pre + post image, insert: 1, delete: 1)."""
        winners: dict[str, dict] = {}
        for c in changes:
            k = c["image_id"]
            if k not in winners or (c["source_timestamp"], c["change_seq"]) > (
                winners[k]["source_timestamp"],
                winners[k]["change_seq"],
            ):
                winners[k] = c
        feed = 0
        for k, c in winners.items():
            cur = self.rows.get(k)
            ts = _epoch(c["source_timestamp"])
            if cur is not None and cur[3] > ts:
                continue  # older than the stored row: the <= guard skips it
            if c["is_deleted"]:
                if cur is not None:
                    del self.rows[k]
                    feed += 1
            else:
                self.rows[k] = (c["caption"], c["phash"], len(c["bytes"]), ts)
                feed += 2 if cur is not None else 1
        return feed

    def triples(self) -> list[tuple]:
        """Sorted ``(image_id, caption, phash)`` rows, one per live key."""
        return sorted((k, v[0], v[1]) for k, v in self.rows.items())

    def phash_xor(self) -> int:
        x = 0
        for v in self.rows.values():
            x ^= v[1]
        return x

    def prefix_aggregate(self, lo: str, hi: str) -> tuple[int, int]:
        n = b = 0
        for k, v in self.rows.items():
            if lo <= k < hi:
                n += 1
                b += v[2]
        return n, b
