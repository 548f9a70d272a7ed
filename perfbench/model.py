"""Seeded generator model: the benchmark's own record of what every table
should hold.

Every row is a pure function of ``(seed, id, ts)``, so the model only
tracks which ``(id, ts)`` pairs are live. Expected results are computed
here, in plain Python, and never through the engine; the engine's output
is reduced by the same integer checksums inside Spark and compared.
"""

from __future__ import annotations

import hashlib
import random

COLUMNS = ("id", "part", "ts", "val", "payload")
VAL_STEPS = 4001  # val = k / 4 for k in [0, 4000]: exact in a double


def make_row(seed: int, rid: int, ts: int, partitions: int) -> tuple:
    """``(id, part, ts, val, payload)`` for key ``rid`` written at ``ts``;
    the 64-character payload is a hex digest, so slices of it parse as
    integers on both sides of the checksum."""
    h = hashlib.blake2b(f"{seed}:{rid}:{ts}".encode(), digest_size=32)
    k = int.from_bytes(h.digest()[:4], "little") % VAL_STEPS
    return (rid, f"p{rid % partitions:02d}", ts, k / 4.0, h.hexdigest())


def row_checksum(row: tuple) -> tuple:
    """Per-row terms of the digest; ``digest_columns`` is the Spark twin."""
    rid, _part, ts, val, payload = row
    return (
        1,
        rid,
        ts * (rid % 1009 + 1),
        int(val * 4) * (rid % 997 + 1),
        int(payload[:8], 16) + int(payload[56:], 16),
    )


def digest(rows) -> tuple:
    """(count, sum id, id-weighted ts, id-weighted val, payload sum)."""
    acc = [0, 0, 0, 0, 0]
    for row in rows:
        for i, term in enumerate(row_checksum(row)):
            acc[i] += term
    return tuple(acc)


def digest_columns():
    """Spark aggregate expressions computing ``digest`` over a frame with
    the benchmark's five columns. Sums stay far below 2**63 at the
    benchmark's sizes, so ANSI overflow checks never fire."""
    from pyspark.sql import functions as F

    pid = F.col("id")
    return [
        F.count(F.lit(1)),
        F.coalesce(F.sum(pid), F.lit(0)),
        F.coalesce(F.sum(F.col("ts") * (pid % 1009 + 1)), F.lit(0)),
        F.coalesce(
            F.sum((F.col("val") * 4).cast("long") * (pid % 997 + 1)), F.lit(0)
        ),
        F.coalesce(
            F.sum(
                F.conv(F.substring("payload", 1, 8), 16, 10).cast("long")
                + F.conv(F.substring("payload", 57, 8), 16, 10).cast("long")
            ),
            F.lit(0),
        ),
    ]


class TableModel:
    """Live ``id -> ts`` state of one generated table, plus the snapshots
    that time-travel checks need."""

    def __init__(self, seed: int, partitions: int):
        self.seed = seed
        self.partitions = partitions
        self.rng = random.Random(seed)
        self.live: dict[int, int] = {}
        self.next_id = 0
        self.next_ts = 1
        self.snapshots: list[dict[int, int]] = []  # one per commit

    def row(self, rid: int, ts: int) -> tuple:
        return make_row(self.seed, rid, ts, self.partitions)

    def rows(self, state: dict[int, int] | None = None) -> list[tuple]:
        state = self.live if state is None else state
        return [self.row(rid, ts) for rid, ts in state.items()]

    def _commit(self) -> None:
        self.snapshots.append(dict(self.live))
        self.next_ts += 1

    def insert_batch(self, n: int) -> list[tuple]:
        ts = self.next_ts
        ids = range(self.next_id, self.next_id + n)
        self.next_id += n
        for rid in ids:
            self.live[rid] = ts
        self._commit()
        return [self.row(rid, ts) for rid in ids]

    def update_batch(self, ids: list[int], new_ids: int = 0,
                     deleted: list[int] = ()) -> list[tuple]:
        """Rewrite ``ids`` (existing keys), append ``new_ids`` fresh keys
        and tombstone ``deleted`` (existing keys), all in one commit at
        the next ordering value. The tombstone rows come last."""
        ts = self.next_ts
        fresh = list(range(self.next_id, self.next_id + new_ids))
        self.next_id += new_ids
        for rid in list(ids) + fresh:
            self.live[rid] = ts
        for rid in deleted:
            del self.live[rid]
        self._commit()
        return [self.row(rid, ts) for rid in list(ids) + fresh + list(deleted)]

    def delete_batch(self, ids: list[int]) -> list[tuple]:
        """Tombstones carry the next ordering value, so they beat every
        earlier version under event-time merging."""
        ts = self.next_ts
        for rid in ids:
            del self.live[rid]
        self._commit()
        return [self.row(rid, ts) for rid in ids]

    def sample_live(self, n: int) -> list[int]:
        return self.rng.sample(sorted(self.live), n)

    def sample_recent(self, n: int, window: int, bias: float) -> list[int]:
        """``n`` distinct live keys; each draw comes from the ``window``
        most recently written keys with probability ``bias``."""
        by_age = sorted(self.live, key=lambda r: (self.live[r], r))
        recent, old = by_age[-window:], by_age[:-window]
        picked: set[int] = set()
        while len(picked) < n:
            pool = recent if (self.rng.random() < bias or not old) else old
            picked.add(self.rng.choice(pool))
        return sorted(picked)
