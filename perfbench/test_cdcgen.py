"""Tests for the seeded CDC generator and its reference check.

Run with ``python -m pytest perfbench -q -p no:cacheprovider``.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import cdcgen  # noqa: E402


def _lines(seed: int, batches: int = 3) -> list[str]:
    s = cdcgen.CdcStream(seed, n_seed_rows=500, batch_size=400)
    out = [repr(s.seed_rows)]
    for _ in range(batches):
        out += s.next_batch()[0]
    return out


def test_same_seed_same_bytes():
    assert _lines(7) == _lines(7)
    assert _lines(7) != _lines(8)


def test_batch_mix_repeats_and_malformed():
    s = cdcgen.CdcStream(3, n_seed_rows=5_000, batch_size=2_000)
    ops: dict[str, int] = {}
    bad = 0
    repeats = 0
    for _ in range(5):
        seen: set[int] = set()
        for line in s.next_batch()[0]:
            try:
                env = json.loads(line)
            except json.JSONDecodeError:
                bad += 1
                continue
            op = env["metadata"]["operation"]
            ops[op] = ops.get(op, 0) + 1
            key = env["data"]["trans_id"]
            repeats += key in seen
            seen.add(key)
    n = sum(ops.values())
    assert bad == s.malformed > 0
    assert 0.15 < ops["insert"] / n < 0.30
    assert 0.50 < ops["update"] / n < 0.70
    assert 0.12 < ops["delete"] / n < 0.28
    assert 0.05 < repeats / n < 0.20


def test_reference_state_replays_envelopes():
    s = cdcgen.CdcStream(5, n_seed_rows=300, batch_size=500)
    state = {row[0]: row for row in s.seed_rows}
    for _ in range(4):
        for line in s.next_batch()[0]:
            try:
                env = json.loads(line)
            except json.JSONDecodeError:
                continue
            row = tuple(env["data"][c] for c in cdcgen.COLUMNS)
            if env["metadata"]["operation"] == "delete":
                state.pop(row[0])
            else:
                state[row[0]] = row
    assert state == s.state


def test_check_catches_one_corrupted_row():
    s = cdcgen.CdcStream(11, n_seed_rows=1_000, batch_size=500)
    s.next_batch()
    rows = list(s.state.values())
    assert cdcgen.compare_rows(s.state, rows) == []
    bad = list(rows[17])
    bad[4] += 1  # amount
    rows[17] = tuple(bad)
    problems = cdcgen.compare_rows(s.state, rows)
    assert len(problems) == 1 and f"key {bad[0]}" in problems[0]
    assert cdcgen.compare_rows(s.state, rows[:-1] + [rows[0]]) != []
