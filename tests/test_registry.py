"""Registry sampling-hygiene invariants and the green-ledger derivation.

The external correctness harness samples a 50-spec least-recently-
verified-first PREFIX of the registry per round.  The invariants that
keep that rotation sound (every never-green spec inside one window, no
green spec more than 5 rounds stale when displaced past the window)
used to be import-time asserts; per round-13 advice they now live in
``registry.staleness_violations()`` so a hygiene slip fails THIS test
instead of bricking every registry import (and survives ``python -O``).
"""

import hashlib
import json
import re
from pathlib import Path

import pytest

from transactional_datalake_using_amazon_datafirehose_iceberg_spark.queries import registry

_ROOT = Path(__file__).resolve().parents[1]


def test_no_staleness_violations():
    assert registry.staleness_violations() == []


def test_ledger_names_all_declared():
    """Import already enforces this with RuntimeError; assert the happy
    path explicitly so a rename shows up here with a readable diff."""
    declared = set(registry.QUERY_SPECS)
    for rnd, green in registry.GREEN_LEDGER.items():
        assert green <= declared, (rnd, sorted(green - declared))


def test_order_pinned_at_r16_ledger(monkeypatch):
    """Ordered names plus oracle SQL under the CORRECTNESS_r01..r16
    ledger, hashed.  The digest is the one the hand-maintained ledger
    produced before the ledger was derived from those files, so a drift
    in the derivation, the sort or any oracle string fails here.

    Computed oracles read their fixture from SPARK_GRAFT_ORACLE_SF_DIR,
    which conftest points at the test fixture; the digest was taken with
    each spec's own default, so the override is dropped here."""
    monkeypatch.delenv("SPARK_GRAFT_ORACLE_SF_DIR", raising=False)
    paths = [_ROOT / f"CORRECTNESS_r{n:02d}.json" for n in range(1, 17)]
    specs = registry.ordered_specs(registry.load_green_ledger(paths))
    h = hashlib.sha256()
    for s in specs:
        h.update(s.name.encode())
        h.update(b"\0")
        h.update((s.oracle_text() or "").encode())
        h.update(b"\n")
    assert len(specs) == 281
    assert h.hexdigest() == (
        "5160fd94b6eaf17b10699d0dce962685ff2abc5f75e78d20e7e916d7bfcf598e"
    )


def test_window_composition_r17():
    """The 50-spec prefix sampled after the CORRECTNESS_r16 fold: zero
    never-green specs remain (281/281 have a green ledger row), so the
    window is pure rotation — the 31 remaining r11-stale greens and the
    19-spec r12-stale cohort (31 + 19 = 50)."""
    paths = [_ROOT / f"CORRECTNESS_r{n:02d}.json" for n in range(1, 17)]
    ledger = registry.load_green_ledger(paths)
    window = registry.ordered_specs(ledger)[: registry.SAMPLING_WINDOW]
    last = {s.name: registry._last_green_round(s.name, ledger) for s in window}
    never = [n for n, r in last.items() if r == 0]
    assert never == [], never
    r11 = [n for n, r in last.items() if r == 11]
    r12 = [n for n, r in last.items() if r == 12]
    assert len(r11) == 31 and len(r12) == 19, (len(r11), len(r12))


def test_green_ledger_derivation(tmp_path):
    row = {"rows_match": True, "schema_match": True, "hash_match": True,
           "spark_rows": 1, "oracle_rows": 1, "err": None}
    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps({
        "green": row,
        "rows_off": {**row, "rows_match": False},
        "schema_off": {**row, "schema_match": False},
        "hash_off": {**row, "hash_match": False},
        "errored": {**row, "err": "boom"},
    }))
    (tmp_path / "CORRECTNESS_r02.json").write_text(json.dumps({"later": row}))
    # newest first: the round comes from the file name, not list order
    ledger = registry.load_green_ledger(
        sorted(tmp_path.glob("CORRECTNESS_r*.json"), reverse=True)
    )
    assert ledger == {1: frozenset({"green"}), 2: frozenset({"later"})}

    bad = tmp_path / "CORRECTNESS_r03.json"
    bad.write_text("{not json")
    with pytest.raises(RuntimeError, match=re.escape(str(bad))):
        registry.load_green_ledger([bad])
