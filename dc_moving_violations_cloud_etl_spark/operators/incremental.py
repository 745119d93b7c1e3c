"""High-watermark incremental ingest — the reference's daily Lambda
pattern (SURVEY.md §2.J) as engine operators.

Reference behavior re-expressed:
- J1 watermark read: ``SELECT MAX(violation_date)`` → resume at +1 day
  (reference etl/daily_load/violation_etl_daily.py:120-146)
- J2 completeness delay: ingest only through *yesterday*
  (reference violation_etl_daily.py:139-141)
- J3 cold-start default when the table is empty
  (reference violation_etl_daily.py:129-133)
- J5 idempotent replay: the batch is only the rows whose key is absent
  (insert-if-absent, reference DEPLOYMENT.md:244-250), appended

Batch-first (matching the reference's daily cadence); the Structured
Streaming variant with ``availableNow`` lives in ``streaming/daily.py``.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .sinks import dedupe_by_key, insert_delta


def get_watermark(existing: DataFrame, date_col: str) -> dt.date | None:
    """J1: current high watermark = max(date_col), None on empty table."""
    row = existing.agg(F.max(date_col).alias("wm")).collect()[0]
    return row["wm"]


def incremental_range(
    watermark: dt.date | None,
    cold_start_default: dt.date,
    today: dt.date,
) -> tuple[dt.date, dt.date] | None:
    """J1–J3: [start, end] day range to ingest: (watermark+1 | cold-start
    default) .. yesterday; None when already up to date (the reference's
    ``start > end → no-op``, violation_etl_daily.py:143-144)."""
    start = (
        watermark + dt.timedelta(days=1) if watermark is not None else cold_start_default
    )
    end = today - dt.timedelta(days=1)
    if start > end:
        return None
    return start, end


def incremental_delta(
    existing: DataFrame | None,
    source: DataFrame,
    date_col: str,
    key_cols: list[str],
    cold_start_default: dt.date,
    today: dt.date,
) -> tuple[DataFrame, dt.date | None]:
    """One incremental batch as the rows to APPEND, plus the watermark
    they were computed from: the deduped source rows in
    ``[watermark | cold-start default, yesterday]`` whose key is absent
    from the existing rows of the watermark day (null-safe
    first-writer-wins, the reference's ``INSERT IGNORE``,
    violation_etl_daily.py:288-306). ``existing=None`` is an empty table.

    The date predicate is pushed down to the source scan by Catalyst (the
    engine analog of the reference's server-side ``where=ISSUE_DATE >= ms
    AND < ms``, violation_etl_daily.py:168), and the anti-join reads one
    day of existing rows, so a batch costs O(delta), not O(table).

    Exactness precondition: a key never appears under two dates, so only
    rows of the watermark day can hold a key of the range. The violations
    key holds by construction — ``violation_id`` embeds the issue date's
    ``yyyyMMdd`` (etl/violations.py) — and the weather key IS the date.

    Replay-safe: appending the delta never changes an existing row, and
    the range re-opens the watermark day, so a re-run restores whatever
    an interrupted append left missing from its last loaded day. That
    covers any interrupted one-day load (the daily cadence). An append
    of several days cut short during its job commit can leave an earlier
    day partly written below the new watermark, which no re-run restores.
    """
    wm = None if existing is None else get_watermark(existing, date_col)
    # the reference's range with the watermark day re-opened
    resume = None if wm is None else wm - dt.timedelta(days=1)
    rng = incremental_range(resume, cold_start_default, today)
    if rng is None:
        return source.limit(0), wm
    start, end = rng
    fresh = source.where(F.col(date_col).between(start, end))
    if existing is None:
        return dedupe_by_key(fresh, key_cols), wm
    return insert_delta(existing.where(F.col(date_col) == F.lit(wm)), fresh, key_cols), wm


def incremental_merge(
    existing: DataFrame,
    source: DataFrame,
    date_col: str,
    key_cols: list[str],
    cold_start_default: dt.date,
    today: dt.date,
) -> DataFrame:
    """The table after one incremental batch: ``existing`` plus its
    ``incremental_delta``. Replay-safe: merging the same batch twice is a
    fixpoint."""
    delta, _ = incremental_delta(
        existing, source, date_col, key_cols, cold_start_default, today
    )
    return existing.unionByName(delta)
