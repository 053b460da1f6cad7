"""Format-neutral table IO seam (round-4 verdict Next #4): parquet is
the sandbox stand-in for the north rule's Iceberg tables; the seam is
what an Iceberg deployment swaps via SPARK_GRAFT_TABLE_FORMAT."""

import pytest

from osmquadtree_geometry_spark import tableio


def test_tableio_parquet_roundtrip(spark, tmp_path):
    df = spark.range(5)
    p = str(tmp_path / "t")
    assert not tableio.table_exists(spark, p)
    tableio.write_table(df, p)
    assert tableio.table_exists(spark, p)
    assert tableio.read_table(spark, p).count() == 5
    tableio.write_table(df, p, mode="append")
    assert tableio.read_table(spark, p).count() == 10
    tableio.write_table(df, p, mode="overwrite")
    assert tableio.read_table(spark, p).count() == 5


def test_tableio_format_selection(monkeypatch):
    monkeypatch.delenv(tableio.TABLE_FORMAT_ENV, raising=False)
    assert tableio.table_format() == "parquet"  # the default
    monkeypatch.setenv(tableio.TABLE_FORMAT_ENV, "iceberg")
    assert tableio.table_format() == "iceberg"
    monkeypatch.setenv(tableio.TABLE_FORMAT_ENV, "parquet")
    assert tableio.table_format() == "parquet"
    monkeypatch.setenv(tableio.TABLE_FORMAT_ENV, "delta")
    with pytest.raises(ValueError):
        tableio.table_format()


def test_tableio_iceberg_branch_shape(monkeypatch):
    """Round-5 verdict Next #8: no Iceberg jars ship in-sandbox, so the
    iceberg branch cannot execute — assert it constructs the expected
    DataSource-v2 reader/writer calls against mocks instead."""
    from unittest import mock

    monkeypatch.setenv(tableio.TABLE_FORMAT_ENV, "iceberg")
    spark = mock.MagicMock(name="spark")
    df = tableio.read_table(spark, "cat.db.docs")
    spark.read.format.assert_called_once_with("iceberg")
    spark.read.format.return_value.load.assert_called_once_with(
        "cat.db.docs")
    assert df is spark.read.format.return_value.load.return_value

    wdf = mock.MagicMock(name="df")
    tableio.write_table(wdf, "cat.db.docs", mode="overwrite")
    wdf.writeTo.assert_called_once_with("cat.db.docs")
    wdf.writeTo.return_value.using.assert_called_once_with("iceberg")
    (wdf.writeTo.return_value.using.return_value
        .createOrReplace.assert_called_once_with())

    adf = mock.MagicMock(name="df2")
    tableio.write_table(adf, "cat.db.docs", mode="append")
    adf.writeTo.assert_called_once_with("cat.db.docs")
    adf.writeTo.return_value.append.assert_called_once_with()
    adf.writeTo.return_value.using.assert_not_called()  # v2 append

    cspark = mock.MagicMock(name="spark2")
    cspark.catalog.tableExists.return_value = True
    assert tableio.table_exists(cspark, "cat.db.docs")
    cspark.catalog.tableExists.assert_called_once_with("cat.db.docs")


@pytest.mark.parametrize("fmt", ["parquet", "iceberg"])
def test_tableio_rejects_unknown_write_mode(fmt, monkeypatch):
    """Only overwrite and append are supported; iceberg used to treat
    every other mode as append.  The check runs before any write."""
    from unittest import mock

    monkeypatch.setenv(tableio.TABLE_FORMAT_ENV, fmt)
    df = mock.MagicMock(name="df")
    with pytest.raises(ValueError, match="write mode"):
        tableio.write_table(df, "cat.db.docs", mode="error")
    assert df.mock_calls == []


def _jobs(spark, group, fn):
    """(fn(), the number of Spark jobs it ran in job group ``group``)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        for k in ("spark.jobGroup.id", "spark.job.description",
                  "spark.job.interruptOnCancel"):
            sc.setLocalProperty(k, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_read_parquet_takes_spark_schema_from_footer(spark, tmp_path):
    """A table Spark wrote opens with the schema in its footers and no
    Spark job; a pyarrow-written file, and a Spark table whose first
    part file lost the footer key, infer their schema with one job and
    still read correctly."""
    import glob
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    df = spark.createDataFrame(
        [(1, "a", [1.5, None]), (2, None, [])],
        "id long, name string, v array<float>").repartition(2)
    p = str(tmp_path / "spark")
    df.write.parquet(p)
    got, jobs = _jobs(spark, "read-spark",
                      lambda: tableio.read_table(spark, p))
    assert jobs == 0
    assert got.schema == spark.read.parquet(p).schema
    assert sorted(map(tuple, got.collect())) == \
        [(1, "a", [1.5, None]), (2, None, [])]

    f = str(tmp_path / "arrow.parquet")
    pq.write_table(pa.table({"id": [3, 4], "name": ["x", "y"]}), f)
    got, jobs = _jobs(spark, "read-arrow",
                      lambda: tableio.read_table(spark, f))
    assert jobs == 1
    assert got.schema == spark.read.parquet(f).schema
    assert sorted(map(tuple, got.collect())) == [(3, "x"), (4, "y")]

    first = sorted(glob.glob(os.path.join(p, "part-*")))[0]
    pq.write_table(pq.read_table(first).replace_schema_metadata(None), first)
    os.remove(os.path.join(p, "." + os.path.basename(first) + ".crc"))
    got, jobs = _jobs(spark, "read-no-key",
                      lambda: tableio.read_table(spark, p))
    assert jobs == 1
    assert sorted(map(tuple, got.collect())) == \
        [(1, "a", [1.5, None]), (2, None, [])]
