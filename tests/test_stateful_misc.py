"""Stateful streaming, keyed-lookup cache, presentation extras."""

import json

import pytest
from pyspark.sql import functions as F

from littletable_spark import Table


def test_stateful_running_totals_matches_batch(spark):
    from littletable_spark.streaming import load_events, running_totals_stream

    path = "/root/testdata/sf0.001/events.parquet"
    batch = (
        load_events(spark, path)
        .df.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("t"))
        .collect()
    )
    expect = {r["user_id"]: (r["n"], round(r["t"], 6)) for r in batch}
    streamed = running_totals_stream(spark, path).collect()
    # update mode: keep the last emitted row per key
    final = {}
    for r in streamed:
        final[r["user_id"]] = (r["n_events"], round(r["total_value"], 6))
    assert final == expect


def test_running_totals_stream_leaves_nanos_conf_unset(spark, tmp_path):
    """nanosAsLong is held only while the stream runs: a session that
    never set it must not keep it afterwards."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from littletable_spark.streaming import running_totals_stream
    from littletable_spark.streaming.events import TS_NANOS_CONF

    path = str(tmp_path / "events.parquet")
    pq.write_table(
        pa.table({
            "user_id": [1, 2, 1],
            "ts": pa.array([1_700_000_000_000_000, 1_700_000_060_000_000,
                            1_700_000_120_000_000], pa.timestamp("us")),
            "value": [1.0, 2.0, 4.0],
        }),
        path,
    )
    spark.conf.unset(TS_NANOS_CONF)
    rows = running_totals_stream(spark, path).collect()
    assert spark.conf.get(TS_NANOS_CONF, None) is None
    final = {r["user_id"]: (r["n_events"], r["total_value"]) for r in rows}
    assert final == {1: (2, 5.0), 2: (1, 2.0)}


def test_unique_index_cache_point_lookup(spark):
    t = Table("c", spark=spark)
    t.insert_many([{"k": i, "v": f"row{i}"} for i in range(20)])
    t.create_index("k", unique=True, cache=True)
    assert t.by.k[7].v == "row7"
    with pytest.raises(KeyError):
        t.by.k[999]
    # cache invalidates on mutation
    t.insert({"k": 99, "v": "new"})
    assert t.by.k[99].v == "new"


def test_present_groupby_suppression(spark, capsys):
    t = Table("p", spark=spark)
    t.insert_many(
        [
            {"grp": "a", "v": 1},
            {"grp": "a", "v": 2},
            {"grp": "b", "v": 3},
        ]
    )
    t.present(groupby="grp")
    out = capsys.readouterr().out
    lines = [line for line in out.splitlines() if line.strip()]
    # the second 'a' row is blanked
    assert sum(1 for line in lines if line.lstrip().startswith("a")) == 1


def test_json_export_custom_encoder(spark):
    class Weird:
        def __str__(self):
            return "weird"

    class WeirdEncoder(json.JSONEncoder):
        def default(self, o):
            if isinstance(o, Weird):
                return {"weird": True}
            raise TypeError

    t = Table("j", spark=spark)
    t.insert_many([{"x": 1}])
    # encoder chain applies to non-serializable cells; plain cells unaffected
    text = t.json_export(json_encoder=WeirdEncoder)
    assert json.loads(text) == [{"x": 1}]


def test_formatted_table(spark):
    t = Table("f", spark=spark)
    t.insert_many([{"name": "x", "val": 3.14159}])
    ft = t.formatted_table("name", "val", val="{:.2f}")
    row = ft[0]
    assert row.val == "3.14"


def test_excel_roundtrip_native_types(spark, tmp_path):
    """Export → import preserves Excel-native cell types (reference
    behavior per test/data_types.xlsx), with or without openpyxl —
    the stdlib xlsx_lite codec backs the path when openpyxl is absent."""
    import datetime

    from littletable_spark.sources.excel_io import excel_import

    t = Table("e", spark=spark)
    t.insert_many(
        [
            {"name": "a", "num": 100, "f": 3.5, "flag": True,
             "d": datetime.date(2021, 12, 25)},
            {"name": "b <&> c", "num": -7, "f": 0.25, "flag": False, "d": None},
        ]
    )
    path = str(tmp_path / "o.xlsx")
    t.excel_export(path)
    back = excel_import(path, spark=spark)
    rows = sorted(back, key=lambda r: r.num, reverse=True)
    assert rows[0].name == "a" and rows[0].num == 100 and rows[0].f == 3.5
    assert rows[0].flag is True and rows[0].d == datetime.date(2021, 12, 25)
    assert rows[1].name == "b <&> c" and rows[1].flag is False and rows[1].d is None


def test_excel_import_reference_fixture(spark):
    """Read a real Excel-authored workbook (reference fixture): sheet
    selection by name and Excel-native value decoding."""
    from littletable_spark.sources.xlsx_lite import read_xlsx, sheet_names

    path = "/root/reference/test/data_types.xlsx"
    assert sheet_names(path) == ["Sheet1", "Sheet2"]
    grid = read_xlsx(path, "Sheet1")
    by_name = {r[0]: r[1] for r in grid[1:]}
    assert by_name["a"] == 100 and isinstance(by_name["a"], int)
    assert abs(by_name["b"] - 3.14159) < 1e-9
    assert by_name["c"] is None
    import datetime

    assert by_name["d"] == datetime.date(2021, 12, 25)
    assert by_name["e"] == "Floyd"
