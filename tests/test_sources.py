"""S1 CSV audit semantics (P2/P3), S2/K1 TSV round-trip, O2 key
extract, and the parquet loaders' schema memo."""

from __future__ import annotations

import pathlib
import shutil
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from map_reduce_sf_crime_spark.sources.csv_crimes import read_crimes_csv
from map_reduce_sf_crime_spark.sources.parquet import _schema, events_stream, load_table
from map_reduce_sf_crime_spark.sources.tsv import extract_keys, read_report, write_report

from .conftest import SF_SMOKE

HEADER = (
    "IncidntNum,Category,Descript,DayOfWeek,Date,Time,PdDistrict,"
    "Resolution,Address,X,Y,Location"
)

ROWS = [
    # clean rows; note quoted category with comma (OpenCSV-parity case)
    '130000001,LARCENY/THEFT,stolen bike,Monday,01/07/2013 10:30,10:30,MISSION,NONE,100 Main St,-122.4,37.75,"(37.75, -122.4)"',
    '130000002,"ARSON, ATTEMPTED",fire,Tuesday,01/08/2013 11:00,11:00,SOUTHERN,"ARREST, BOOKED",200 Oak St,-122.41,37.76,"(37.76, -122.41)"',
    "130000003,ASSAULT,punch,Wednesday,02/13/2013 12:00,12:00,TENDERLOIN,NONE,300 Pine St,-122.42,37.77,loc",
    # structurally short row (<7 cols → dropped+counted, SanFranciscoCrime.java:81)
    "130000004,VANDALISM,tag",
    # unparseable date (dropped+counted, SanFranciscoCrimePrepOlap.java:124-128)
    "130000005,FRAUD,scam,Thursday,13/45/2013 99:99,99:99,RICHMOND,NONE,400 Elm St,-122.43,37.78,loc",
    # ABSENT date, structurally fine — also dropped+counted as bad date
    "130000006,BURGLARY,break-in,Friday,,13:00,PARK,NONE,500 Ash St,-122.44,37.79,loc",
]


def test_crimes_csv_audit(spark, tmp_path: pathlib.Path):
    p = tmp_path / "crimes.csv"
    p.write_text(HEADER + "\n" + "\n".join(ROWS) + "\n")
    scan = read_crimes_csv(spark, str(p))
    clean = scan.clean.collect()
    assert len(clean) == 3
    assert scan.corrupt_count == 1
    # covers BOTH unparseable and absent dates — the audit partition
    # is exact: clean + corrupt + bad_date == total data rows
    assert scan.bad_date_count == 2
    assert len(clean) + scan.corrupt_count + scan.bad_date_count == len(ROWS)
    cats = sorted(r.Category for r in clean)
    assert cats == ["ARSON, ATTEMPTED", "ASSAULT", "LARCENY/THEFT"]
    d = {r.IncidntNum: r.incident_date.isoformat() for r in clean}
    # time-of-day truncated (MapReduceJobBase.java:73-80)
    assert d["130000001"] == "2013-01-07"


def test_tsv_report_roundtrip(spark, tmp_path: pathlib.Path):
    df = spark.createDataFrame(
        [("MISSION", 3, 'quoted,"val"'), ("SOUTHERN", 5, "plain")],
        "key string, n int, s string",
    )
    out = str(tmp_path / "report")
    write_report(df, "key", ["n", "s"], out)
    back = read_report(
        spark,
        out,
        T.StructType(
            [T.StructField("n", T.IntegerType()), T.StructField("s", T.StringType())]
        ),
    )
    rows = {r.key: (r.n, r.s) for r in back.collect()}
    assert rows == {"MISSION": (3, 'quoted,"val"'), "SOUTHERN": (5, "plain")}
    assert extract_keys(back) == ["MISSION", "SOUTHERN"]


def _jobs(spark, fn):
    """``(fn(), number of Spark jobs fn launched)``, counted by job tag
    in the status store."""
    sc = spark.sparkContext
    tag = f"schema-memo-{uuid.uuid4().hex}"
    sc.addJobTag(tag)
    try:
        out = fn()
    finally:
        sc.removeJobTag(tag)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc._jsc.sc().statusTracker().getJobIdsForTag(tag))


def _fixture_copy(sf: pathlib.Path, name: str) -> pathlib.Path:
    shutil.copy(f"{SF_SMOKE}/{name}.parquet", sf / f"{name}.parquet")
    return sf


def test_schema_memo_second_load_runs_no_job(spark, tmp_path):
    sf = str(_fixture_copy(tmp_path, "orders"))
    first, n_first = _jobs(spark, lambda: load_table(spark, sf, "orders"))
    second, n_second = _jobs(spark, lambda: load_table(spark, sf, "orders"))
    assert n_first >= 1, "a memo miss infers the schema with a Spark job"
    assert n_second == 0
    assert second.schema == first.schema
    assert second.count() == pq.read_metadata(f"{sf}/orders.parquet").num_rows


def test_schema_memo_sees_rewritten_table(spark, tmp_path):
    # a single-file table rewritten in place
    path = tmp_path / "region.parquet"
    pq.write_table(pa.table({"k": [1, 2]}), path)
    assert load_table(spark, str(tmp_path), "region").columns == ["k"]
    pq.write_table(pa.table({"k": [1, 2], "extra": ["a", "b"]}), path)
    df = load_table(spark, str(tmp_path), "region")
    assert df.columns == ["k", "extra"]
    assert sorted(df.collect()) == [(1, "a"), (2, "b")]

    # a directory table whose data files are replaced
    out = str(tmp_path / "nation.parquet")
    spark.createDataFrame([(1,)], "k long").write.parquet(out)
    assert load_table(spark, str(tmp_path), "nation").columns == ["k"]
    spark.createDataFrame([(1, "x")], "k long, extra string").write.mode(
        "overwrite"
    ).parquet(out)
    df = load_table(spark, str(tmp_path), "nation")
    assert df.columns == ["k", "extra"]
    assert df.collect() == [(1, "x")]


def test_schema_memo_reinfers_events_when_nanos_as_long_flips(spark, tmp_path):
    """The memoized LongType schema of a TIMESTAMP(NANOS) column is
    valid only under ``nanosAsLong``: with the conf off, the read
    re-infers (and Spark rejects the column) instead of being served
    the stale schema."""
    path = str(tmp_path / "events.parquet")
    ts = pa.array([1_600_000_000_000_000_123], pa.timestamp("ns"))
    pq.write_table(pa.table({"ts": ts, "value": [1.0]}), path, version="2.6")
    conf = "spark.sql.legacy.parquet.nanosAsLong"
    before = spark.conf.get(conf)
    try:
        spark.conf.set(conf, "true")
        assert isinstance(_schema(spark, path)["ts"].dataType, T.LongType)
        _, n_same = _jobs(spark, lambda: _schema(spark, path))
        spark.conf.set(conf, "false")
        with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
            _schema(spark, path)
        spark.conf.set(conf, "true")
        _, n_back = _jobs(spark, lambda: _schema(spark, path))
    finally:
        spark.conf.set(conf, before)
    assert n_same == 0
    assert n_back == 0, "the failed inference must keep the valid entry"


def test_schema_memo_file_uri_sf_dir(spark, tmp_path):
    sf = _fixture_copy(tmp_path, "nation").as_uri()
    assert sf.startswith("file://")
    first, _ = _jobs(spark, lambda: load_table(spark, sf, "nation"))
    second, n_second = _jobs(spark, lambda: load_table(spark, sf, "nation"))
    assert n_second == 0
    assert second.schema == first.schema
    assert second.count() == pq.read_metadata(f"{SF_SMOKE}/nation.parquet").num_rows


def test_events_stream_starts_on_file_uri(spark, tmp_path):
    sf = _fixture_copy(tmp_path, "events").as_uri()
    name = f"mem_{uuid.uuid4().hex[:8]}"
    q = (
        events_stream(spark, sf)
        .writeStream.format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
        got = spark.table(name)
        assert isinstance(got.schema["ts"].dataType, T.TimestampType)
        assert got.count() == pq.read_metadata(f"{SF_SMOKE}/events.parquet").num_rows
    finally:
        q.stop()
        spark.catalog.dropTempView(name)
