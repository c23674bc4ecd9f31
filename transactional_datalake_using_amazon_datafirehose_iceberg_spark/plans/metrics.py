"""In-process path-frequency counters for plan-level decisions.

The MERGE planner and the data-file writer each pick between a
metadata-scale fast path and a distributed job at runtime (see
``merge.merge_into`` steps 2-4 and ``LakeTable._write_files``).
Which branch actually fires at a given scale factor is an empirical
question — the r8 verdict asked for exactly this measurement ("check
whether the InjectRuntimeFilter path can replace the in-process probe
for commits > 4096 rows ... measure how often it fires at sf0.1").
These counters make the answer observable without log scraping.

Driver-side only (the increments happen in planner code that runs on
the driver), so a plain ``collections.Counter`` under the GIL is
race-free enough; commits already serialize under
``LakeTable._commit_lock``. Zero cost in the hot path beyond one dict
increment per merge.

Keys currently emitted:

- ``merge.no_candidates``     — manifest pruning removed every file
- ``merge.probe_skip_small``  — pruned candidates under
                                 ``merge._PROBE_SKIP_BYTES``: rewritten
                                 outright, probe job skipped
- ``merge.probe_job``         — semi-join probe scan ran to shrink the
                                 touched-file set
- ``merge.probe_driver``      — the collected source's keys probed the
                                 candidates' key columns with pyarrow
                                 (no job)
- ``merge.full_candidates``   — NOT MATCHED BY SOURCE mode: every file
                                 is a candidate by construction
- ``merge.inprocess``         — MERGE committed from its source's one
                                 Arrow collect (pyarrow probe and
                                 rewrite, no Spark job after the collect)
- ``bloom.inprocess_small``   — ``LakeTable._collect_stats`` built at
                                 least one key bloom (one per call)
- ``write.inprocess``         — ``LakeTable._write_files`` output of at
                                 most ``_INPROCESS_MAX_ROWS`` rows written
                                 from one Arrow collect with pyarrow
- ``write.spark``             — the same call took the Spark write
                                 (over the gate, a nested type or a
                                 codec pyarrow does not write)
- ``manifest_cache.hit`` / ``manifest_cache.miss``
                              — process-wide immutable-manifest LRU
                                 (``lake_table._load_manifest_cached``)
- ``cdc.unrouted_rows``       — routed-apply rows whose destination
                                 table is unknown (counted even when a
                                 dead-letter table absorbs them)

Every MERGE past its empty-source exit bumps exactly one of the five
step-2 counters, ``merge.no_candidates`` to ``merge.full_candidates``.
"""

from __future__ import annotations

from collections import Counter

PATH_STATS: Counter[str] = Counter()


def bump(key: str, n: int = 1) -> None:
    """Increment one decision counter (driver-side planner code only)."""
    PATH_STATS[key] += n


def snapshot() -> dict[str, int]:
    """Plain-dict copy for assertions / bench records."""
    return dict(PATH_STATS)


def reset() -> None:
    """Zero all counters (test / measurement isolation)."""
    PATH_STATS.clear()
