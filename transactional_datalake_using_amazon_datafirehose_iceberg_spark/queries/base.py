"""QuerySpec — one declared operator/query with its DuckDB oracle.

Parity conventions (FIXTURES.md §C, SURVEY.md §7.3 item 6):
- session TZ pinned UTC (session.py);
- every ORDER BY fully deterministic (explicit NULLS, unique tiebreak);
- double aggregates ROUND()ed identically on both sides; ranking on the
  *rounded* value + id tiebreak so FP noise cannot reorder across
  engines;
- integer-ish aggregates CAST explicitly (DuckDB SUM(int)->HUGEINT vs
  Spark->BIGINT);
- same column aliases on both sides (driver sorts columns by name).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from ..sources.catalog import register_views


def _pin_session_confs(spark: SparkSession) -> None:
    """Oracle-parity confs the queries depend on, pinned defensively at
    query time: the driver's harness builds its OWN SparkSession, which
    may not carry session.py's settings. All are runtime-settable.

    - UTC session TZ (DuckDB timestamps are UTC-naive; date_trunc etc.
      operate in session TZ);
    - nanosAsLong, the fallback for a TIMESTAMP(NANOS) events.ts (the
      fixtures store µs, read as TIMESTAMP_NTZ): it reads as a long the
      fixture loader converts.
    """
    for k, v in (
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.parquet.datetimeRebaseModeInRead", "CORRECTED"),
    ):
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # non-settable in some contexts; session.py already set it


@dataclass
class QuerySpec:
    name: str
    doc: str
    # dialect-portable ANSI SQL executed by BOTH engines (strongest parity)
    sql: str | None = None
    # DataFrame-API build (overrides `sql` on the Spark side)
    build: Callable[[SparkSession, str], DataFrame] | None = None
    # DuckDB override when dialects diverge; None -> use `sql`;
    # may also be a zero-arg callable returning SQL (computed oracles)
    oracle: str | Callable[[], str] | None = None
    # True -> genuinely non-SQL-expressible; driver does rows-only check
    no_oracle: bool = False
    tags: tuple[str, ...] = field(default_factory=tuple)

    def run_spark(self, spark: SparkSession, sf_dir: str) -> DataFrame:
        _pin_session_confs(spark)
        register_views(spark, sf_dir)
        if self.build is not None:
            return self.build(spark, sf_dir)
        if self.sql is None:
            # RuntimeError, not assert: under python -O the assert is
            # stripped and spark.sql(None) raises an opaque Py4J error
            # instead of naming the broken spec (round-14 review sweep)
            raise RuntimeError(f"{self.name}: no spark implementation")
        return spark.sql(self.sql)

    def oracle_text(self) -> str | None:
        if self.no_oracle:
            return None
        o = self.oracle if self.oracle is not None else self.sql
        if o is None:
            # LOUD, not None: a build-only spec that forgot its oracle
            # would otherwise silently skip the driver's correctness
            # check while looking covered — the silent-rot class the
            # registry ledger assertions guard against (review round 12).
            # Genuinely non-SQL-expressible specs must say so.
            raise ValueError(
                f"{self.name}: no oracle SQL — set oracle=/sql=, or mark "
                "no_oracle=True for a genuinely non-SQL-expressible spec"
            )
        if callable(o):
            o = o()
        return o


def scratch_dir(prefix: str) -> str:
    """mkdtemp with process-exit cleanup: spec builds materialize lake
    tables/checkpoints under /tmp, and every driver round leaked dozens
    of them for the host to accumulate (review round 11). atexit, not
    eager removal — the returned DataFrames lazily re-read these paths
    until the session ends."""
    import atexit
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, True)
    return d
