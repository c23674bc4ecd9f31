"""Seeded CDC envelope generator with a pure-Python reference apply.

``CdcStream`` emits DMS-style JSONL envelopes for the ``retail_trans``
table in micro-batches. The same seed and sizes give the same bytes.
Each batch mixes inserts, updates and deletes; updates and deletes favour
recently inserted keys, a share of envelopes repeat a key already touched
in the same batch, and a small share are malformed lines that the engine
must dead-letter.

The stream also applies every envelope to a dict keyed by ``trans_id``
(last writer wins, full after-images), the same reference semantics as
``queries/cdcops._reference_apply``. After a run the benchmark compares
the engine's table with ``CdcStream.state`` through ``compare_rows``.
"""

from __future__ import annotations

import datetime as dt
import json
import random

EVENTS = ("visit", "view", "cart", "list", "like", "purchase")
DEVICES = ("pc", "mobile", "tablet")
_UPPER = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_BASE_TXN = 12884904641
_BASE_TS = dt.datetime(2023, 1, 16)
# row tuple layout, also the column order compare_rows expects
COLUMNS = (
    "trans_id", "customer_id", "event", "sku", "amount", "device",
    "trans_datetime",
)


class CdcStream:
    """Deterministic CDC source plus its reference table state.

    ``mix`` is the (insert, update, delete) share of well-formed
    envelopes. ``state`` maps each live key to its row tuple (layout
    ``COLUMNS``) after the batches generated so far."""

    def __init__(
        self,
        seed: int,
        n_seed_rows: int,
        batch_size: int,
        mix: tuple[float, float, float] = (0.2, 0.6, 0.2),
        repeat_share: float = 0.10,
        malformed_share: float = 0.005,
        recent_share: float = 0.8,
        recent_window: int = 2000,
    ):
        self.rng = random.Random(seed)
        self.batch_size = batch_size
        self.mix = mix
        self.repeat_share = repeat_share
        self.malformed_share = malformed_share
        self.recent_share = recent_share
        self.recent_window = recent_window
        self.state: dict[int, tuple] = {}
        self._live: list[int] = []  # live keys, for O(1) uniform picks
        self._pos: dict[int, int] = {}
        self._order: list[int] = []  # every key ever inserted, oldest first
        self._next_key = 1
        self._seq = 0
        self.batches = 0
        self.envelopes = 0
        self.malformed = 0
        self.seed_rows = [self._insert(self._new_key()) for _ in range(n_seed_rows)]

    # -- reference state --------------------------------------------------
    def _new_key(self) -> int:
        k = self._next_key
        self._next_key += 1
        return k

    def _row(self, key: int) -> tuple:
        r = self.rng
        event = r.choice(EVENTS)
        secs = r.randrange(28 * 86400)
        return (
            key,
            f"{r.randrange(10 ** 12):012d}",
            event,
            "".join(r.choices(_UPPER, k=2)) + str(r.randint(100, 999))
            + "".join(r.choices(_UPPER, k=4)),
            r.randint(0, 100) if event in ("cart", "purchase") else 1,
            r.choice(DEVICES),
            (_BASE_TS + dt.timedelta(seconds=secs)).strftime("%Y-%m-%dT%H:%M:%SZ"),
        )

    def _insert(self, key: int) -> tuple:
        row = self._row(key)
        if key not in self.state:
            self._pos[key] = len(self._live)
            self._live.append(key)
            self._order.append(key)
        self.state[key] = row
        return row

    def _delete(self, key: int) -> tuple:
        row = self.state.pop(key)
        i = self._pos.pop(key)
        last = self._live.pop()
        if last != key:
            self._live[i] = last
            self._pos[last] = i
        return row

    def _pick_live(self, exclude) -> int:
        """A live key, skewed toward recent inserts; keys in ``exclude``
        (already touched by this batch) are avoided, so in-batch repeats
        come only from ``repeat_share``."""
        r = self.rng
        if r.random() < self.recent_share:
            scale = self.recent_window / 3
            for _ in range(4):
                back = min(int(r.expovariate(1 / scale)), len(self._order) - 1)
                k = self._order[-1 - back]
                if k in self.state and k not in exclude:
                    return k
        for _ in range(4):
            k = self._live[r.randrange(len(self._live))]
            if k not in exclude:
                return k
        return k

    # -- envelopes --------------------------------------------------------
    def _envelope(self, row: tuple, op: str) -> str:
        self._seq += 1
        ts = _BASE_TS + dt.timedelta(microseconds=1000 * self._seq)
        return json.dumps({
            "data": dict(zip(COLUMNS, row)),
            "metadata": {
                "timestamp": ts.strftime("%Y-%m-%dT%H:%M:%S.%fZ"),
                "record-type": "data",
                "operation": op,
                "partition-key-type": "primary-key",
                "schema-name": "testdb",
                "table-name": "retail_trans",
                "transaction-id": _BASE_TXN + self._seq,
            },
        })

    def next_batch(self) -> tuple[list[str], dict[int, tuple]]:
        """Generate one micro-batch and apply it to ``state``.

        Returns the JSONL lines and, per key the batch touched, its row
        before the batch (``None`` when absent) for changelog checks."""
        r = self.rng
        p_ins, p_upd, _ = self.mix
        lines: list[str] = []
        before: dict[int, tuple | None] = {}
        touched: list[int] = []
        for _ in range(self.batch_size):
            if r.random() < self.malformed_share:
                # a truncated envelope: unparseable, so it dead-letters
                good = self._envelope(self._row(0), "insert")
                lines.append(good[: len(good) // 2])
                self.malformed += 1
                continue
            if touched and r.random() < self.repeat_share:
                key = touched[r.randrange(len(touched))]
                if key not in self.state:
                    op = "insert"
                else:
                    op = "update" if r.random() < p_upd / (1 - p_ins) else "delete"
            else:
                u = r.random()
                if u < p_ins or not self._live:
                    op, key = "insert", self._new_key()
                else:
                    op = "update" if u < p_ins + p_upd else "delete"
                    key = self._pick_live(before)
            if key not in before:
                before[key] = self.state.get(key)
                touched.append(key)
            if op == "delete":
                lines.append(self._envelope(self._delete(key), "delete"))
            else:
                lines.append(self._envelope(self._insert(key), op))
        self.batches += 1
        self.envelopes += len(lines)
        return lines, before

    # -- reference aggregates ---------------------------------------------
    def totals(self, lo: int | None = None, hi: int | None = None) -> tuple[int, int]:
        """(row count, sum of amount) over live keys in [lo, hi]."""
        rows = self.state.values()
        if lo is not None:
            rows = [row for row in rows if lo <= row[0] <= hi]
        return len(rows), sum(row[4] for row in rows)

    def by_event(self) -> dict[str, tuple[int, int]]:
        out: dict[str, list[int]] = {}
        for row in self.state.values():
            acc = out.setdefault(row[2], [0, 0])
            acc[0] += 1
            acc[1] += row[4]
        return {k: (v[0], v[1]) for k, v in out.items()}

    def changes(self, before: dict[int, tuple | None]) -> dict[str, int]:
        """Expected changelog row counts by ``_change_type`` for a batch."""
        out = {"INSERT": 0, "DELETE": 0, "UPDATE_BEFORE": 0, "UPDATE_AFTER": 0}
        for key, old in before.items():
            new = self.state.get(key)
            if old is None and new is not None:
                out["INSERT"] += 1
            elif old is not None and new is None:
                out["DELETE"] += 1
            elif old is not None and old != new:
                out["UPDATE_BEFORE"] += 1
                out["UPDATE_AFTER"] += 1
        return out


def compare_rows(expected: dict[int, tuple], actual, limit: int = 5) -> list[str]:
    """Differences between the reference state and the table's rows.

    ``actual`` yields row tuples in ``COLUMNS`` order. Returns up to
    ``limit`` human-readable problems; an empty list means equal."""
    problems: list[str] = []
    seen: set[int] = set()
    for row in actual:
        key = row[0]
        if key in seen:
            problems.append(f"duplicate key {key}")
        seen.add(key)
        want = expected.get(key)
        if want is None:
            problems.append(f"unexpected row {row}")
        elif tuple(row) != want:
            problems.append(f"key {key}: got {tuple(row)}, want {want}")
        if len(problems) >= limit:
            return problems
    missing = len(expected) - len(seen & expected.keys())
    if missing:
        problems.append(f"{missing} expected rows missing")
    return problems[:limit]
