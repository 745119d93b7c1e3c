"""Unit tests for the sink/incremental operators, mirroring the
reference's stated invariants (idempotent replay, watermark resume,
cold start, up-to-date no-op — reference DEPLOYMENT.md:244-250,
violation_etl_daily.py:120-146)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from dc_moving_violations_cloud_etl_spark import catalog
from dc_moving_violations_cloud_etl_spark.operators.incremental import (
    get_watermark,
    incremental_merge,
    incremental_range,
)
from dc_moving_violations_cloud_etl_spark.operators.sinks import (
    dedupe_by_key,
    insert_if_absent,
    upsert_last_writer_wins,
)


def _split(spark, sf_dir):
    v = catalog.violations(spark, sf_dir)
    existing = v.where(F.col("violation_date") < "1999-01-01")
    incoming = v.where(
        (F.col("violation_date") >= "1998-06-01")
        & (F.col("violation_date") < "1999-07-01")
    ).withColumn("fine_amount", F.lit(-1.0))
    return v, existing, incoming


def test_violation_id_is_unique(spark, sf_dir):
    v = catalog.violations(spark, sf_dir)
    n, k = v.agg(
        F.count(F.lit(1)), F.countDistinct("violation_id")
    ).collect()[0]
    assert n == k


def test_violation_id_embeds_its_violation_date(spark, sf_dir):
    """The precondition that makes ``incremental_delta``'s range-restricted
    anti-join exact: a key's trailing ``yyyyMMdd`` is its own date, so no
    key can recur under another date."""
    v = catalog.violations(spark, sf_dir)
    embedded = F.substring_index("violation_id", "_", -1)
    bad = v.where(~embedded.eqNullSafe(F.date_format("violation_date", "yyyyMMdd")))
    assert v.count() > 0 and bad.count() == 0


def test_insert_if_absent_first_writer_wins_and_idempotent(spark, sf_dir):
    _, existing, incoming = _split(spark, sf_dir)
    merged = insert_if_absent(existing, incoming, ["violation_id"])
    # overlap keys keep existing (non-poisoned) fines
    poisoned_overlap = merged.where(
        (F.col("violation_date") < "1999-01-01") & (F.col("fine_amount") == -1.0)
    ).count()
    assert poisoned_overlap == 0
    # PK uniqueness after merge
    n, k = merged.agg(F.count(F.lit(1)), F.countDistinct("violation_id")).collect()[0]
    assert n == k
    # replay: merging the same batch again is a fixpoint
    again = insert_if_absent(merged, incoming, ["violation_id"])
    assert again.count() == n


def test_upsert_last_writer_wins_and_idempotent(spark, sf_dir):
    _, existing, incoming = _split(spark, sf_dir)
    merged = upsert_last_writer_wins(existing, incoming, ["violation_id"])
    # every overlap key must carry the incoming (poisoned) fine
    clean_overlap = merged.where(
        (F.col("violation_date") >= "1998-06-01")
        & (F.col("violation_date") < "1999-01-01")
        & (F.col("fine_amount") != -1.0)
    ).count()
    assert clean_overlap == 0
    n, k = merged.agg(F.count(F.lit(1)), F.countDistinct("violation_id")).collect()[0]
    assert n == k
    again = upsert_last_writer_wins(merged, incoming, ["violation_id"])
    assert again.count() == n


def test_dedupe_by_key(spark, sf_dir):
    v = catalog.violations(spark, sf_dir)
    doubled = v.unionByName(v)
    assert dedupe_by_key(doubled, ["violation_id"]).count() == v.count()


def test_incremental_range_cold_start_resume_noop():
    cold = dt.date(1995, 1, 1)
    today = dt.date(2000, 4, 1)
    # cold start: empty table → default
    assert incremental_range(None, cold, today) == (cold, dt.date(2000, 3, 31))
    # warm resume: watermark+1 .. yesterday
    assert incremental_range(dt.date(1999, 12, 31), cold, today) == (
        dt.date(2000, 1, 1),
        dt.date(2000, 3, 31),
    )
    # up-to-date → no-op (reference start > end → None)
    assert incremental_range(dt.date(2000, 3, 31), cold, today) is None
    assert incremental_range(dt.date(2000, 4, 15), cold, today) is None


def test_incremental_merge_replay_safe(spark, sf_dir):
    v, existing, _ = _split(spark, sf_dir)
    today = dt.date(2000, 4, 1)
    merged = incremental_merge(
        existing, v, "violation_date", ["violation_id"], dt.date(1995, 1, 1), today
    )
    wm = get_watermark(merged, "violation_date")
    assert wm == dt.date(2000, 3, 31) or wm < dt.date(2000, 4, 1)
    n1 = merged.count()
    again = incremental_merge(
        merged, v, "violation_date", ["violation_id"], dt.date(1995, 1, 1), today
    )
    assert again.count() == n1
