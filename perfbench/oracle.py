"""Expected results, computed once per input directory with DuckDB and
cached next to the inputs as JSON.

- Query workloads: each query's ``oracle_sql()`` over the generated
  base tables.
- ``reference_etl``: a DuckDB twin of the paper's job over the same raw
  files.  It fingerprints the reconciliation view and the three CTAS
  tables, and row-counts every other relation.  The purchases count is
  also checked against every generated line, planted malformed ones
  included (the reference's positional COPY loads them), and the
  invoices count against generated minus planted.
"""

from __future__ import annotations

import csv
import json
import os
import xml.etree.ElementTree as ET

import duckdb
import pandas as pd

from fingerprint import fingerprint


def _cached(path: str, compute) -> dict:
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    out = compute()
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    os.replace(tmp, path)
    return out


def expected_queries(path: str, base_dir: str, names: list[str]) -> dict:
    def compute() -> dict:
        import __spark_entry__ as entry
        from blueforty___etl_data_pipeline_spark.sources.catalog import TABLES

        oracles = entry.oracle_sql()
        con = duckdb.connect()
        con.sql("SET enable_progress_bar = false")
        for t in TABLES:
            con.sql(
                f"CREATE VIEW {t} AS SELECT * FROM '{base_dir}/{t}.parquet'"
            )
        return {n: fingerprint(con.sql(oracles[n]).df()) for n in names}

    return _cached(path, compute)


_INVOICE_FIELDS = (
    "SupplierTransactionID", "SupplierID", "PurchaseOrderID",
    "AmountExcludingTax",
)

_REFERENCE_SQL = {
    "purchases": """
        CREATE TABLE purchases AS
        SELECT TRY_CAST(c1 AS BIGINT) AS PurchaseOrderID,
               TRY_CAST(c2 AS BIGINT) AS SupplierID,
               CAST(try_strptime(c3, '%m/%d/%Y') AS DATE) AS OrderDate,
               TRY_CAST(c17 AS DECIMAL(18,4)) AS ReceivedOuters,
               TRY_CAST(c19 AS DECIMAL(18,4)) AS Price
        FROM purchase_fields""",
    "purchase_order_totals": """
        CREATE TABLE purchase_order_totals AS
        SELECT PurchaseOrderID, OrderDate, SupplierID,
               ROUND(SUM(COALESCE(ReceivedOuters, 0)
                         * COALESCE(Price, 0)), 2) AS POAmount
        FROM purchases GROUP BY ALL""",
    "purchase_orders_and_invoices": """
        CREATE TABLE purchase_orders_and_invoices AS
        WITH inv AS (
            SELECT PurchaseOrderID, SUM(AmountExcludingTax)
                       AS InvoiceExTaxTotal
            FROM supplier_invoices GROUP BY PurchaseOrderID, SupplierID)
        SELECT t.OrderDate, t.SupplierID, t.PurchaseOrderID, t.POAmount,
               i.InvoiceExTaxTotal,
               i.InvoiceExTaxTotal - t.POAmount AS invoiced_vs_quoted
        FROM inv i JOIN purchase_order_totals t USING (PurchaseOrderID)""",
    "supplier_case": """
        CREATE TABLE supplier_case AS
        SELECT * FROM read_csv('{d}/supplier_case.csv', header = true,
                               all_varchar = true)""",
    "supplier_zip5": """
        CREATE TABLE supplier_zip5 AS
        SELECT regexp_replace(lpad(COALESCE(NULLIF(postalpostalcode, ''),
                                            NULLIF(deliverypostalcode, ''),
                                            ''), 5, '0'),
                              '[^0-9]', '', 'g') AS ZIP5,
               supplierid, suppliername
        FROM supplier_case
        WHERE COALESCE(NULLIF(postalpostalcode, ''),
                       NULLIF(deliverypostalcode, '')) IS NOT NULL""",
    "zip_geo": """
        CREATE TABLE zip_geo AS
        SELECT zip_code, TRY_CAST(lat AS DOUBLE) AS lat,
               TRY_CAST(lon AS DOUBLE) AS lon
        FROM read_csv('{d}/zipcode_geolocation.tsv', header = true,
                      delim = '\t', all_varchar = true)""",
    "closest_stations": """
        CREATE TABLE closest_stations AS
        WITH z AS (SELECT DISTINCT g.zip_code, g.lat, g.lon
                   FROM supplier_zip5 s JOIN zip_geo g
                        ON s.ZIP5 = g.zip_code),
        d AS (SELECT zip_code, NOAA_WEATHER_STATION_ID AS station_id,
                     2 * 6371.0 * asin(sqrt(
                         pow(sin(radians(LATITUDE - lat) / 2), 2)
                         + cos(radians(lat)) * cos(radians(LATITUDE))
                           * pow(sin(radians(LONGITUDE - lon) / 2), 2)))
                         AS dist
              FROM z CROSS JOIN '{d}/stations.parquet')
        SELECT zip_code, station_id FROM d
        QUALIFY row_number() OVER (PARTITION BY zip_code
                                   ORDER BY dist, station_id) = 1""",
    "supplier_zip_code_weather": """
        CREATE TABLE supplier_zip_code_weather AS
        SELECT c.zip_code, CAST(w.DATE AS DATE) AS date,
               w.VALUE AS high_temperature
        FROM '{d}/weather.parquet' w JOIN closest_stations c
             ON w.NOAA_WEATHER_STATION_ID = c.station_id
        WHERE w.VARIABLE_NAME = 'Maximum Temperature'""",
    "purchases_with_weather": """
        CREATE TABLE purchases_with_weather AS
        SELECT r.* EXCLUDE (SupplierID),
               CAST(s.postalpostalcode AS BIGINT) AS ZIP,
               w.high_temperature
        FROM purchase_orders_and_invoices r
        JOIN supplier_case s ON r.SupplierID = CAST(s.supplierid AS BIGINT)
        JOIN supplier_zip_code_weather w
             ON CAST(w.zip_code AS BIGINT) = CAST(s.postalpostalcode AS BIGINT)
            AND w.date = r.OrderDate""",
}

#: Relations whose full content is fingerprinted; the rest are counted.
REFERENCE_FINGERPRINTED = (
    "purchase_orders_and_invoices",
    "closest_stations",
    "supplier_zip_code_weather",
    "purchases_with_weather",
)


def _purchase_fields(d: str) -> pd.DataFrame:
    """Fields $1..$21 of every purchase CSV line, as the reference's COPY
    sees them: it selects fields by position, and a COPY that transforms
    with a query ignores the file format's column-count check, so a short
    line's missing fields are NULL and a long line's extra fields are
    dropped.  Empty fields are NULL."""
    rows = []
    for name in sorted(os.listdir(f"{d}/purchases")):
        with open(f"{d}/purchases/{name}", newline="") as f:
            lines = csv.reader(f)
            next(lines)  # SKIP_HEADER = 1
            for line in lines:
                line = (line + [""] * 21)[:21]
                rows.append([v or None for v in line])
    return pd.DataFrame(rows, columns=[f"c{j}" for j in range(1, 22)])


def _invoices(path: str) -> pd.DataFrame:
    rows = []
    for el in ET.parse(path).getroot():
        rec = {f: el.findtext(f) for f in _INVOICE_FIELDS}
        if rec["SupplierTransactionID"]:
            rows.append(rec)
    df = pd.DataFrame(rows, columns=list(_INVOICE_FIELDS))
    for c in _INVOICE_FIELDS[:3]:
        df[c] = pd.to_numeric(df[c].replace("", None)).astype("Int64")
    return df


def expected_reference(ref_dir: str, manifest: dict) -> dict:
    def compute() -> dict:
        con = duckdb.connect()
        con.sql("SET enable_progress_bar = false")
        inv = _invoices(f"{ref_dir}/supplier_invoices.xml")  # noqa: F841
        purchase_fields = _purchase_fields(ref_dir)  # noqa: F841
        con.sql(
            "CREATE TABLE supplier_invoices AS SELECT SupplierTransactionID,"
            " SupplierID, PurchaseOrderID, CAST(AmountExcludingTax AS"
            " DECIMAL(18,2)) AS AmountExcludingTax FROM inv"
        )
        for sql in _REFERENCE_SQL.values():
            con.sql(sql.format(d=ref_dir))
        out = {}
        for name in ["supplier_invoices", *_REFERENCE_SQL]:
            rel = con.sql(f"SELECT * FROM {name}")
            if name in REFERENCE_FINGERPRINTED:
                out[name] = fingerprint(rel.df())
            else:
                out[name] = {"rows": con.sql(
                    f"SELECT count(*) FROM {name}").fetchone()[0]}
        want_p = (
            manifest["purchase_lines"] + manifest["planted_malformed_csv_rows"]
        )
        want_i = (
            manifest["invoice_children"]
            - manifest["planted_orphan_xml_children"]
        )
        if (out["purchases"]["rows"], out["supplier_invoices"]["rows"]) != (
            want_p, want_i
        ):
            raise RuntimeError(
                "reference twin disagrees with the generator's manifest: "
                f"{out['purchases']['rows']} purchases (want {want_p}), "
                f"{out['supplier_invoices']['rows']} invoices (want {want_i})"
            )
        return out

    return _cached(os.path.join(ref_dir, "expected_reference.json"), compute)
