"""Seeded input generator for `medallion_cdc`: one TSV file of CDC rows
(Op I/U/D) per batch over a bounded key pool, so U and D rows hit live
keys. The same seed gives the same files; the program under test only
ever sees the files.

The batch size, key pool and state count are the workload's design
sizes. The rest of the traffic is assumed, not taken from a recorded feed
or from the reference workshop's DMS output: the 45/35/20 I/U/D mix, the
1% of `price = 0` rows, the 1-2000 us event spacing and the state fixed
by key. The delete share sets how fast MOR delete files pile up in
silver, so `batch_p50_s`, `read_p50_s`, `disk_bytes_per_live_row` and
`tables.delete_files` depend on it.
"""

from __future__ import annotations

import random
from datetime import date, datetime, timedelta

STATES = [
    "CA", "NY", "TX", "FL", "WA", "IL", "PA", "OH",
    "GA", "NC", "MI", "NJ", "VA", "AZ", "MA", "CO",
]
CATEGORIES = ["books", "garden", "office", "toys", "music", "tools", "food", "games"]
SHIPPING = ["Standard", "2-Day", "3-Day"]
REFERRALS = ["search", "social", "email", "direct"]

KEY_POOL = 50_000
ROWS_PER_BATCH = 5_000
P_INSERT, P_UPDATE = 0.45, 0.35  # the rest are deletes

TSV_COLUMNS = [
    "Op", "replicadmstimestamp", "invoiceid", "itemid", "category", "price",
    "quantity", "orderdate", "destinationstate", "shippingtype", "referral",
]


class _LiveKeys:
    """Set of live keys with O(1) insert, remove and uniform choice."""

    def __init__(self):
        self.keys: list[int] = []
        self.pos: dict[int, int] = {}

    def __contains__(self, k: int) -> bool:
        return k in self.pos

    def __len__(self) -> int:
        return len(self.keys)

    def add(self, k: int) -> None:
        if k not in self.pos:
            self.pos[k] = len(self.keys)
            self.keys.append(k)

    def remove(self, k: int) -> None:
        i = self.pos.pop(k)
        last = self.keys.pop()
        if i < len(self.keys):
            self.keys[i] = last
            self.pos[last] = i

    def choice(self, rng: random.Random) -> int:
        return self.keys[rng.randrange(len(self.keys))]


class CdcGenerator:
    """CDC batches for the raw → bronze → silver pipeline.

    Key k of the pool is `(invoiceid, itemid) = (100000 + k // 4,
    k % 4 + 1)`: multi-item invoices, so deduplicating on the invoice
    alone would be wrong. A key's `destinationstate` is fixed by the key.
    About 1% of rows carry `price = 0` and are dropped by bronze's
    quality filter; the oracle drops them too. Event timestamps strictly
    increase over the whole feed, so latest-wins per key is unambiguous.
    """

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.live = _LiveKeys()
        self.event_us = 0
        self.t0 = datetime(2024, 1, 1)

    def _row(self, op: str, k: int) -> tuple:
        rng = self.rng
        self.event_us += rng.randrange(1, 2_000)
        ts = self.t0 + timedelta(microseconds=self.event_us)
        price = 0.0 if rng.random() < 0.01 else round(rng.uniform(1.0, 500.0), 2)
        return (
            op,
            ts.strftime("%Y-%m-%d %H:%M:%S.%f"),
            100_000 + k // 4,
            k % 4 + 1,
            rng.choice(CATEGORIES),
            price,
            rng.randrange(1, 21),
            (date(2023, 1, 1) + timedelta(days=rng.randrange(365))).isoformat(),
            STATES[k % len(STATES)],
            rng.choice(SHIPPING),
            rng.choice(REFERRALS),
        )

    def batch(self) -> list[tuple]:
        rows = []
        rng = self.rng
        for _ in range(ROWS_PER_BATCH):
            r = rng.random()
            if not self.live or (r < P_INSERT and len(self.live) < KEY_POOL):
                k = rng.randrange(KEY_POOL)
                while k in self.live:
                    k = rng.randrange(KEY_POOL)
                op = "I"
            else:
                k = self.live.choice(rng)
                op = "U" if r < P_INSERT + P_UPDATE else "D"
            row = self._row(op, k)
            rows.append(row)
            # the model follows what silver will do with the row: a
            # filtered row never reaches it
            if row[5] > 0:
                if op == "D":
                    self.live.remove(k)
                else:
                    self.live.add(k)
        return rows


def write_tsv(path: str, rows: list[tuple]) -> int:
    """Write rows as a header + tab-separated file; returns bytes written."""
    lines = ["\t".join(TSV_COLUMNS)]
    lines += ["\t".join(str(v) for v in r) for r in rows]
    data = ("\n".join(lines) + "\n").encode()
    with open(path, "wb") as f:
        f.write(data)
    return len(data)
