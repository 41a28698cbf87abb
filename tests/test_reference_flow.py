"""The complete reference script end-to-end in one call — the
'switch from the reference' acceptance test, on reference-shaped
fixtures with golden checkpoints."""

from __future__ import annotations

import datetime
import os

import pytest

from blueforty___etl_data_pipeline_spark.plans import reference_flow
from blueforty___etl_data_pipeline_spark.plans.pipelines import (
    load_purchases_csv,
)
from blueforty___etl_data_pipeline_spark.plans.reference_flow import (
    run_reference_flow,
)


def _stations(spark):
    return spark.createDataFrame(
        [(100, 34.1, -118.3), (200, 33.6, -84.4), (300, 40.1, -75.1)],
        "NOAA_WEATHER_STATION_ID long, LATITUDE double, LONGITUDE double",
    )


def _weather(spark):
    d = datetime.datetime(2013, 1, 5)
    return spark.createDataFrame(
        [
            (100, d, "Maximum Temperature", 18.5),
            (100, d, "Minimum Temperature", 7.0),
            (300, d, "Maximum Temperature", 2.0),
        ],
        "NOAA_WEATHER_STATION_ID long, DATE timestamp, VARIABLE_NAME string,"
        " VALUE double",
    )


def _run(spark, fixtures_dir, materialize_dir=None):
    return run_reference_flow(
        spark,
        purchases_csv_dir=os.path.join(fixtures_dir, "purchases"),
        invoices_xml=os.path.join(fixtures_dir, "xml", "supplier_invoices.xml"),
        supplier_case_csv=os.path.join(
            fixtures_dir, "supplier", "supplier_case.csv"
        ),
        zip_geo_tsv=os.path.join(
            fixtures_dir, "supplier", "zipcode_geolocation.tsv"
        ),
        stations=_stations(spark),
        weather_timeseries=_weather(spark),
        materialize_dir=materialize_dir,
    )


def test_full_reference_flow(spark, fixtures_dir, tmp_path):
    out = _run(spark, fixtures_dir, str(tmp_path / "ctas"))
    # Golden checkpoints (the reference's four row-count comments,
    # BlueForty.py:234, :449, :464, :476, scaled to the fixtures):
    assert out["purchases"].count() == 5
    assert out["supplier_invoices"].count() == 3
    recon = out["purchase_orders_and_invoices"].collect()
    assert len(recon) == 2  # invoices for PO 1 and PO 2 only
    deltas = {r["PurchaseOrderID"]: float(r["invoiced_vs_quoted"]) for r in recon}
    assert deltas == {1: 0.0, 2: 0.0}  # invoiced exactly what was quoted
    assert out["closest_stations"].count() == 3
    assert out["supplier_zip_code_weather"].count() == 2  # max-temp rows only
    # PO 1 ordered 2013-01-05 from supplier 10 (zip 90210, station 100,
    # 18.5°C that day) — the only (zip, date) with weather.
    final = out["purchases_with_weather"].collect()
    assert len(final) == 1
    assert final[0]["PurchaseOrderID"] == 1
    assert final[0]["high_temperature"] == 18.5

    # Temp views registered (the Snowflake-session analog)...
    assert spark.sql("SELECT COUNT(*) FROM purchases_with_weather").collect()[0][0] == 1
    # ...and the three CTAS tables materialized.
    assert spark.read.parquet(str(tmp_path / "ctas" / "purchases_with_weather")).count() == 1


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_ctas_tables_are_read_back(spark, fixtures_dir, tmp_path, monkeypatch):
    # Each CTAS is a table (Snowflake semantics): the later CTAS plans
    # read the written Parquet instead of recomputing the station
    # cross join (the only BroadcastNestedLoopJoin in the flow).
    ctas_dir = str(tmp_path / "ctas")
    written = []
    write = reference_flow.write_table

    def recording_write(df, path, *args, **kwargs):
        written.append(
            (os.path.basename(path), _executed_plan(df), df.inputFiles())
        )
        write(df, path, *args, **kwargs)

    monkeypatch.setattr(reference_flow, "write_table", recording_write)
    out = _run(spark, fixtures_dir, ctas_dir)

    assert [name for name, _, _ in written] == [
        "closest_stations",
        "supplier_zip_code_weather",
        "purchases_with_weather",
    ]
    assert "BroadcastNestedLoopJoin" in written[0][1]
    reads = {
        "supplier_zip_code_weather": "closest_stations",
        "purchases_with_weather": "supplier_zip_code_weather",
    }
    for name, plan, files in written[1:]:
        assert "BroadcastNestedLoopJoin" not in plan, name
        table = os.path.join(ctas_dir, reads[name])
        assert any(table in f for f in files), (name, files)
    for name in reads:
        df = out[name]
        assert "BroadcastNestedLoopJoin" not in _executed_plan(df)
        files = df.inputFiles()
        assert files and all(ctas_dir in f for f in files), (name, files)
    assert out["purchases_with_weather"].count() == 1


def test_lazy_flow_starts_no_jobs_but_the_inferred_header_read(
    spark, fixtures_dir
):
    # Without materialize_dir the flow is one lazy DAG.  The one job it
    # may start is supplier_case's header read: that layout is inferred,
    # so read_csv checks its width against the file.  The positional
    # loads (purchases, zip_geo) declare their columns and read nothing.
    sc = spark.sparkContext
    group = "reference-flow-lazy-build"
    sc.setJobGroup(group, "lazy reference flow build")
    try:
        _run(spark, fixtures_dir)
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) <= 1, jobs


@pytest.mark.parametrize("column_pruning", ["true", "false"])
def test_purchases_wrong_width_lines_load_positionally(
    spark, tmp_path, column_pruning
):
    # The reference's positional COPY (SELECT $1..$21, BlueForty.py:88-111)
    # loads a wrong-width line: a short line's missing fields are NULL
    # and a long line keeps $1..$21.  The declared 21-field layout must
    # keep that whether or not the CSV parser prunes columns.
    d = tmp_path / "purchases"
    d.mkdir()
    header = ",".join(f"c{i}" for i in range(1, 22))
    good = "1,10,01/05/2013,2,3,01/10/2013,REF-A,1,x,x,x,x,101,501,5,Widget,4,x,12.5,01/12/2013,1"
    short = "2,11,01/15/2013,2,3,01/20/2013,REF-B,0,x,x,x,x"
    long = good.replace("1,10,", "3,12,", 1) + ",0,extra,extra,extra"
    (d / "purchases_2013-01.csv").write_text(
        "\n".join([header, good, short, long]) + "\n"
    )
    conf = "spark.sql.csv.parser.columnPruning.enabled"
    prior = spark.conf.get(conf)
    spark.conf.set(conf, column_pruning)
    try:
        rows = {
            r["PurchaseOrderID"]: r
            for r in load_purchases_csv(spark, str(d)).collect()
        }
    finally:
        spark.conf.set(conf, prior)
    assert sorted(rows) == [1, 2, 3]
    s = rows[2]
    assert s["SupplierID"] == 11 and s["SupplierReference"] == "REF-B"
    assert s["OrderDate"] == datetime.date(2013, 1, 15)
    for missing in (
        "PurchaseOrderLineID",
        "StockItemID",
        "OrderedOuters",
        "Description",
        "ReceivedOuters",
        "ExpectedUnitPricePerOuter",
        "LastReceiptDate",
        "IsOrderLineFinalized",
    ):
        assert s[missing] is None, missing
    g, x = rows[1], rows[3]
    assert x["SupplierID"] == 12
    for col in (
        "PurchaseOrderLineID",
        "Description",
        "ExpectedUnitPricePerOuter",
        "LastReceiptDate",
        "IsOrderLineFinalized",
    ):
        assert x[col] == g[col], col
    assert x["IsOrderLineFinalized"] is True  # $21, not the extra $22
