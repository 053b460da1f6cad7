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
