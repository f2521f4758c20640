"""Plain-Python output oracle for the lake benchmark.

``Replay`` applies the same envelopes the engine received, with the
engine's documented last-write-wins rule: within a batch the latest
``(timestamp, seq, position)`` per key survives; across batches the
batch row wins iff its timestamp is >= the stored one. It then answers
what every check needs: the live rows of a table, one key's state, and
the keys a batch changed.

Rows are compared through an order-insensitive digest: count, XOR and
sum of a 60-bit md5 prefix per row, computed the same way here and, in
Spark, by ``snapshot_digest``.
"""

from __future__ import annotations

import hashlib
import json

PAYLOAD = ("id", "seq", "qty", "name", "note")
_MASK64 = (1 << 64) - 1


def record_key(db: str, table: str, key: int) -> str:
    """The sync's composite record key for a single ``id`` key field."""
    return hashlib.md5(f"{db}_{table}_{key}".encode()).hexdigest()


def row_hash(row: dict) -> int:
    s = "|".join(str(row[c]) for c in PAYLOAD)
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


class Replay:
    def __init__(self):
        # (db, table) -> id -> (ts, seq, deleted, row)
        self.tables: dict[tuple[str, str], dict[int, tuple]] = {}

    def apply(self, lines: list[str]) -> dict[tuple[str, str], dict[int, tuple]]:
        """Apply one micro-batch; returns the batch winners per table."""
        winners: dict[tuple[str, str], dict[int, tuple]] = {}
        for line in lines:
            e = json.loads(line)
            t = (e["databaseName"], e["tableName"])
            deleted = e["type"] == "delete"
            w = winners.setdefault(t, {})
            for pos, row in enumerate(e["rows"]):
                cand = (e["timestamp"], row["seq"], pos, deleted, row)
                old = w.get(row["id"])
                if old is None or cand[:3] > old[:3]:
                    w[row["id"]] = cand
        for t, w in winners.items():
            state = self.tables.setdefault(t, {})
            for key, (ts, seq, _, deleted, row) in w.items():
                old = state.get(key)
                if old is None or ts >= old[0]:
                    state[key] = (ts, seq, deleted, row)
        return winners

    def live(self, table: tuple[str, str]) -> list[dict]:
        return [v[3] for v in self.tables.get(table, {}).values() if not v[2]]

    def lookup(self, table: tuple[str, str], key: int) -> list[tuple]:
        v = self.tables.get(table, {}).get(key)
        return [] if v is None or v[2] else [(key, v[1])]

    def digest(self, table: tuple[str, str]) -> tuple[int, int, int]:
        n = x = s = 0
        for row in self.live(table):
            h = row_hash(row)
            n, x, s = n + 1, x ^ h, (s + h) & _MASK64
        return n, x, s


def snapshot_digest(df) -> tuple[int, int, int]:
    """The same digest as ``Replay.digest``, computed by Spark over a
    snapshot DataFrame (one aggregate job, one row back)."""
    from pyspark.sql import functions as F

    h = F.conv(
        F.substring(F.md5(F.concat_ws("|", *[F.col(c) for c in PAYLOAD])), 1, 15),
        16, 10,
    ).cast("long")
    r = df.select(h.alias("h")).agg(
        F.count("*"), F.bit_xor("h"), F.sum(F.col("h").cast("decimal(38,0)"))
    ).first()
    return int(r[0]), int(r[1] or 0), int(r[2] or 0) & _MASK64
