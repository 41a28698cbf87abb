"""The complete reference script, runnable end-to-end: everything
``BlueForty.py`` computes, as one function over file paths.

A user of the reference runs one Python script that leaves behind these
Snowflake relations; ``run_reference_flow`` produces the same relations
as DataFrames (and optionally materializes them, the CTAS analog):

| Reference relation | Where built | Key |
|---|---|---|
| CORE.PURCHASES (:37-116) | load_purchases_csv | ``purchases`` |
| PURCHASE_ORDER_TOTALS view (:119-126) | purchase_order_totals | ``purchase_order_totals`` |
| CORE.SUPPLIER_INVOICES (:136-201) | shred_supplier_invoices | ``supplier_invoices`` |
| PURCHASE_ORDERS_AND_INVOICES view (:220-233) | purchase_orders_and_invoices | ``purchase_orders_and_invoices`` |
| CORE.SUPPLIER_CASE (:239-360) | inferred-schema CSV load | ``supplier_case`` |
| SUPPLIER_ZIP5 view (:364-388) | supplier_zip5_view | ``supplier_zip5`` |
| zipcode_geolocation (:392-422) | TSV load w/ try-casts | ``zip_geo`` |
| CLOSEST_STATIONS CTAS (:425-448) | closest_stations | ``closest_stations`` |
| SUPPLIER_ZIP_CODE_WEATHER CTAS (:452-463) | supplier_zip_weather | ``supplier_zip_weather`` |
| PURCHASES_WITH_WEATHER CTAS (:467-475) | purchases_with_weather | ``purchases_with_weather`` |

Without ``materialize_dir`` the whole flow is ONE lazy DAG per output:
nothing runs until the caller acts.  With it, each of the reference's
three CTAS statements (:425/:452/:467) is a table, as in Snowflake: it
is written as Parquet in order, and every later relation reads the
written files (with the written schema declared, so no footer
inference job) instead of recomputing the CTAS plan from the raw files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.inference import infer_csv_schema
from ..sinks import write_table
from ..sources.csv import read_csv
from .pipelines import (
    closest_stations,
    load_purchases_csv,
    purchase_order_totals,
    purchase_orders_and_invoices,
    purchases_with_weather,
    shred_supplier_invoices,
    supplier_zip5_view,
    supplier_zip_weather,
)


def run_reference_flow(
    spark: SparkSession,
    purchases_csv_dir: str,
    invoices_xml: str,
    supplier_case_csv: str,
    zip_geo_tsv: str,
    stations: DataFrame,
    weather_timeseries: DataFrame,
    materialize_dir: str | None = None,
) -> dict[str, DataFrame]:
    """Execute the full reference pipeline (EP1 → EP2 → Q4/Q5 → EP3).

    ``stations`` / ``weather_timeseries`` stand in for the external
    Cybersyn share (BlueForty.py:442, :459) — read-only DataFrames with
    the share's columns.  Returns every reference relation by name;
    registers each as a temp view so downstream ``spark.sql`` works like
    the reference's Snowflake session.
    """
    out: dict[str, DataFrame] = {}

    def ctas(name: str, df: DataFrame) -> DataFrame:
        # CREATE TABLE AS: write, then let later statements read the table.
        if materialize_dir is None:
            return df
        path = f"{materialize_dir}/{name}"
        write_table(df, path)
        return spark.read.schema(df.schema).parquet(path)

    # EP1 — monthly purchase CSVs → typed PURCHASES → totals view
    out["purchases"] = load_purchases_csv(spark, purchases_csv_dir)
    out["purchase_order_totals"] = purchase_order_totals(out["purchases"])

    # EP2 — invoice XML shred → typed SUPPLIER_INVOICES
    out["supplier_invoices"] = shred_supplier_invoices(spark, invoices_xml)

    # Q5 — reconciliation view (Q4, :203-217, is the same join SELECTed
    # without the delta column; it reads from this)
    out["purchase_orders_and_invoices"] = purchase_orders_and_invoices(
        out["purchase_order_totals"], out["supplier_invoices"]
    )

    # EP3 — supplier extract w/ inferred schema → ZIP5 → geo/weather
    schema = infer_csv_schema(supplier_case_csv)
    out["supplier_case"] = read_csv(spark, supplier_case_csv, schema=schema)
    out["supplier_zip5"] = supplier_zip5_view(out["supplier_case"])
    out["zip_geo"] = read_csv(
        spark,
        zip_geo_tsv,
        options={"header": "true", "sep": "\t", "mode": "PERMISSIVE"},
        columns=("zip_code", "lat", "lon"),
    ).select(
        "zip_code",
        F.col("lat").try_cast("double").alias("lat"),
        F.col("lon").try_cast("double").alias("lon"),
    )
    zips_geo = out["supplier_zip5"].select(
        F.col("ZIP5").alias("zip_code")
    ).join(out["zip_geo"], on="zip_code")
    # The reference's three CTAS tables (:425-448, :452-463, :467-475).
    out["closest_stations"] = ctas(
        "closest_stations", closest_stations(zips_geo, stations)
    )
    out["supplier_zip_code_weather"] = ctas(
        "supplier_zip_code_weather",
        supplier_zip_weather(out["closest_stations"], weather_timeseries),
    )
    out["purchases_with_weather"] = ctas(
        "purchases_with_weather",
        purchases_with_weather(
            out["purchase_orders_and_invoices"],
            out["supplier_case"],
            out["supplier_zip_code_weather"],
        ),
    )

    for name, df in out.items():
        df.createOrReplaceTempView(name)

    return out
