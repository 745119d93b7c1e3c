"""The application entry points (cli.py) — history load, the
append-only daily load into a live warehouse (O(delta) writes, replay,
partial-append recovery, cold start), and query listing, against temp
warehouses."""

import contextlib
import datetime as dt
import io
import pathlib
import re
import shutil

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from dc_moving_violations_cloud_etl_spark.cli import main
from dc_moving_violations_cloud_etl_spark.oracle import with_ref_views


CUTOFF = dt.date(1998, 7, 29)  # history-load holds the days before this
AS_OF = dt.date(1998, 8, 4)  # the daily load adds CUTOFF .. AS_OF-1 (two months)


def _prefix(sf_dir: str, out: pathlib.Path, cutoff: dt.date) -> str:
    """The fixture as it looked on ``cutoff``: lineitem keeps the rows
    shipped before it, every other table is the same file."""
    out.mkdir()
    for f in pathlib.Path(sf_dir).glob("*.parquet"):
        if f.name == "lineitem.parquet":
            t = pq.read_table(f)
            bound = pa.scalar(dt.datetime.combine(cutoff, dt.time()), t["l_shipdate"].type)
            pq.write_table(t.filter(pc.less(t["l_shipdate"], bound)), out / f.name)
        else:
            (out / f.name).symlink_to(f)
    return str(out)


def _load(*argv: str) -> dict[str, int]:
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        assert main(list(argv)) == 0
    return {k: int(v) for k, v in re.findall(r"(\w+)=(-?\d+)\b", out.getvalue())}


def _daily(sf_dir: str, wh: str, as_of: dt.date = AS_OF) -> dict[str, int]:
    return _load("daily-load", "--sf-dir", sf_dir, "--warehouse", wh, "--as-of", as_of.isoformat())


def _files(root: str) -> dict[str, tuple[int, int]]:
    """Every parquet data file under ``root``: path -> (inode, size)."""
    return {
        str(p): (p.stat().st_ino, p.stat().st_size)
        for p in pathlib.Path(root).rglob("*.parquet")
    }


def _rows(spark, path: str) -> list[tuple]:
    """The table's rows in a canonical order, each as a tuple of reprs."""
    df = spark.read.parquet(path)
    return sorted(tuple(map(repr, r)) for r in df.select(*sorted(df.columns)).collect())


@pytest.fixture(scope="module")
def loads(sf_dir, tmp_path_factory):
    """A warehouse history-loaded through CUTOFF-1 (to copy, not to
    write), and the one a history-load through AS_OF-1 writes."""
    root = tmp_path_factory.mktemp("loads")
    hist, ref = str(root / "hist"), str(root / "ref")
    _load("history-load", "--sf-dir", _prefix(sf_dir, root / "src_cut", CUTOFF), "--warehouse", hist)
    _load("history-load", "--sf-dir", _prefix(sf_dir, root / "src_ref", AS_OF), "--warehouse", ref)
    return hist, ref


def _warehouse(loads, tmp_path) -> str:
    wh = str(tmp_path / "wh")
    shutil.copytree(loads[0], wh)
    return wh


def test_history_then_daily_load_is_idempotent(spark, sf_dir, ddb, loads, tmp_path):
    wh = _warehouse(loads, tmp_path)
    before = _files(f"{wh}/violations")
    got = _daily(sf_dir, wh)

    want = ddb.execute(with_ref_views(
        "SELECT count(DISTINCT violation_id) FROM violations "
        f"WHERE violation_date BETWEEN DATE '{CUTOFF}' AND DATE '{AS_OF - dt.timedelta(days=1)}'"
    )).fetchone()[0]
    assert want > 0 and got["inserted"] == want
    assert got["total"] == got["inserted"] + spark.read.parquet(f"{loads[0]}/violations").count()

    # O(delta): no file that existed is touched, and the new ones land
    # only in the range's month partitions
    after = _files(f"{wh}/violations")
    assert all(after.get(p) == v for p, v in before.items())
    new_dirs = {pathlib.Path(p).parent.name for p in after.keys() - before.keys()}
    assert new_dirs == {"month=1998-07", "month=1998-08"}
    written = _files(wh)

    # the same warehouse as one history-load through AS_OF-1
    for table in ("violations", "weather_daily"):
        assert _rows(spark, f"{wh}/{table}") == _rows(spark, f"{loads[1]}/{table}")

    # replay: the load at the new watermark inserts 0 and writes nothing
    again = _daily(sf_dir, wh)
    assert again["inserted"] == 0 and again["weather_upserted"] == 0
    assert _files(wh) == written

    # without --as-of the load runs through the source's last day
    rest = ddb.execute(with_ref_views(
        "SELECT count(DISTINCT violation_id) FROM violations "
        f"WHERE violation_date >= DATE '{AS_OF}'"
    )).fetchone()[0]
    argv = ("daily-load", "--sf-dir", sf_dir, "--warehouse", wh)
    assert rest > 0 and _load(*argv)["inserted"] == rest
    assert _load(*argv)["inserted"] == 0


def test_daily_load_replay_after_partial_append_converges(spark, sf_dir, loads, tmp_path):
    from dc_moving_violations_cloud_etl_spark import catalog
    from dc_moving_violations_cloud_etl_spark.operators.sinks import write_partitioned

    wh = _warehouse(loads, tmp_path)
    # an interrupted load: the first day of the delta made it, and half
    # of the second, which is now the watermark day
    v = catalog.violations(spark, sf_dir)
    day = F.col("violation_date")
    first = v.where(day == CUTOFF)
    second = v.where(day == CUTOFF + dt.timedelta(days=1))
    half = second.where(F.xxhash64("violation_id") % 2 == 0)
    assert first.count() > 0 and 0 < half.count() < second.count()
    write_partitioned(first.unionByName(half), f"{wh}/violations", "month", mode="append")

    _daily(sf_dir, wh)
    # equal to the key-unique history-load, so no key was appended twice
    assert _rows(spark, f"{wh}/violations") == _rows(spark, f"{loads[1]}/violations")


def test_daily_load_appends_weather_through_yesterday(spark, sf_dir, loads, tmp_path):
    wh = _warehouse(loads, tmp_path)
    w_path = f"{wh}/weather_daily"
    earlier, earlier_files = _rows(spark, w_path), _files(w_path)
    got = _daily(sf_dir, wh)

    last = spark.read.parquet(w_path).agg(F.max("weather_date")).collect()[0][0]
    assert last == AS_OF - dt.timedelta(days=1)
    assert got["weather_upserted"] == len(_rows(spark, w_path)) - len(earlier) > 0
    files = _files(w_path)  # the earlier rows' files are untouched
    assert all(files.get(p) == v for p, v in earlier_files.items())
    assert _daily(sf_dir, wh)["weather_upserted"] == 0


def test_daily_load_fails_on_unreadable_warehouse(sf_dir, tmp_path):
    """A warehouse that exists but cannot be read is an error, never a
    cold start: appending the whole source would duplicate every key."""
    part = tmp_path / "wh" / "violations" / "month=1998-07"
    part.mkdir(parents=True)
    (part / "part-00000.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Exception):
        _daily(sf_dir, str(tmp_path / "wh"))
    assert [p.name for p in (tmp_path / "wh" / "violations").rglob("*")] == [
        "month=1998-07", "part-00000.parquet"
    ]


def test_list_names_every_registered_query(capsys):
    from dc_moving_violations_cloud_etl_spark.queries import get_queries

    assert main(["list"]) == 0
    out = capsys.readouterr().out
    for name in get_queries():
        assert name in out
