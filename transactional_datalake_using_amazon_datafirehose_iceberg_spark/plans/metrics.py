"""In-process path-frequency counters for plan-level decisions.

The MERGE planner, the data-file writer and the bloom-stats builder
each pick between a metadata-scale fast path and a distributed job at
runtime (see ``merge._merge_into_cow`` step 2,
``LakeTable._write_files`` and ``LakeTable._build_blooms``).
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
- ``merge.full_candidates``   — NOT MATCHED BY SOURCE mode: every file
                                 is a candidate by construction
- ``bloom.inprocess_small``   — commit at most ``_BLOOM_DRIVER_ROWS``
                                 rows (or no active session): driver
                                 pyarrow read
- ``bloom.distributed``       — executor-side grouped Arrow build job
- ``bloom.fallback_inprocess``— distributed build FAILED and fell back
                                 (also logged to stderr; a persistently
                                 nonzero count is a bug signal)
- ``write.inprocess``         — ``LakeTable._write_files`` output of at
                                 most ``_BLOOM_DRIVER_ROWS`` rows written
                                 from one Arrow collect with pyarrow
- ``write.spark``             — the same call took the Spark write
                                 (over the gate, a nested type, or a
                                 size that cannot be known without a job)
- ``manifest_cache.hit`` / ``manifest_cache.miss``
                              — process-wide immutable-manifest LRU
                                 (``lake_table._load_manifest_cached``)
- ``cdc.unrouted_rows``       — routed-apply rows whose destination
                                 table is unknown (counted even when a
                                 dead-letter table absorbs them)
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
