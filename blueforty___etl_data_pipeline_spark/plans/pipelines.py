"""The reference's three end-to-end pipelines, re-expressed as lazy
DataFrame compositions (SURVEY.md §3: EP1/EP2/EP3).

Where the reference is ~30 sequential Snowflake statements with
materialized intermediates, each pipeline here is ONE declarative plan:
Catalyst sees scan→shred→join→aggregate end-to-end and can push filters
into the file scans, prune columns, and pick join strategies globally.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType

from ..functions.cleaning import (
    int_flag_to_bool,
    nullif_empty,
    try_to_date,
    try_to_decimal,
    try_to_number,
    zip5,
    zip5_not_null_filter,
)
from ..functions.geo import haversine_km
from ..operators.joins import broadcast_cross_join, using_join
from ..operators.topk import top1_per_group
from ..sources.csv import PURCHASES_CSV_OPTIONS, read_csv
from ..sources.xml import shred_xml_docs

# ---------------------------------------------------------------------------
# EP1 — monthly purchase CSVs → PURCHASES → PURCHASE_ORDER_TOTALS
# (BlueForty.py:21-126)
# ---------------------------------------------------------------------------

#: COPY INTO's positional projection $n → (name, converter)
#: (BlueForty.py:89-105).  Positions are 1-based CSV fields.
PURCHASES_POSITIONAL = [
    (1, "PurchaseOrderID", "number"),
    (13, "PurchaseOrderLineID", "number"),
    (2, "SupplierID", "number"),
    (14, "StockItemID", "number"),
    (15, "OrderedOuters", "decimal"),
    (17, "ReceivedOuters", "decimal"),
    (19, "ExpectedUnitPricePerOuter", "decimal"),
    (3, "OrderDate", "date"),
    (6, "ExpectedDeliveryDate", "date"),
    (20, "LastReceiptDate", "date"),
    (4, "DeliveryMethodID", "number"),
    (5, "ContactPersonID", "number"),
    (7, "SupplierReference", "nullif_string"),
    (8, "IsOrderFinalized", "bool"),
    (21, "IsOrderLineFinalized", "bool"),
    (16, "Description", "trim"),
]

#: The staged file's 21 positional fields $1..$21 (BlueForty.py:88-111),
#: read as strings; ``PURCHASES_POSITIONAL`` converts them.
PURCHASES_FIELDS = tuple(f"c{i}" for i in range(1, 22))

_CONVERTERS = {
    "number": try_to_number,
    "decimal": try_to_decimal,
    "date": lambda c: try_to_date(c, "MM/dd/yyyy"),
    "nullif_string": lambda c: nullif_empty(c.cast("string")),
    "bool": int_flag_to_bool,
    "trim": F.trim,
}


def load_purchases_csv(
    spark: SparkSession, path: str, path_glob: str | None = "*.csv*"
) -> DataFrame:
    """EP1 loader: one declarative scan replaces stage+PUT+COPY.

    Reads every monthly file under ``path`` (glob ≈ COPY's PATTERN,
    BlueForty.py:110), applies the positional $1..$21 projection with
    null-on-failure conversions, and attaches file metadata columns
    (METADATA$FILENAME / FILE_LAST_MODIFIED, :106-107).
    """
    # header=true: OSS Spark has no skipRows option, so the header line must
    # be consumed by the reader itself (SKIP_HEADER=1, BlueForty.py:26).
    # The declared all-string layout binds fields by position, whatever
    # the header says, and needs no header-discovery job.  No string field
    # can fail to parse, so only a wrong-width line is malformed:
    # PERMISSIVE keeps it NULL-padded or truncated, as the positional COPY
    # does, whether or not CSV column pruning is on (DROPMALFORMED keeps
    # it only while pruning is on).
    raw = read_csv(
        spark,
        path,
        options={
            **PURCHASES_CSV_OPTIONS, "header": "true", "mode": "PERMISSIVE"
        },
        path_glob=path_glob,
        columns=PURCHASES_FIELDS,
    )
    out = [
        _CONVERTERS[kind](raw[PURCHASES_FIELDS[pos - 1]]).alias(name)
        for pos, name, kind in PURCHASES_POSITIONAL
    ]
    return raw.select(
        *out,
        F.col("_metadata.file_path").alias("SRC_FILENAME"),
        F.col("_metadata.file_modification_time").alias("SRC_FILE_TS"),
    )


def purchase_order_totals(purchases: DataFrame) -> DataFrame:
    """PURCHASE_ORDER_TOTALS view (BlueForty.py:119-126): per
    (PO, OrderDate, Supplier) ROUND(SUM(COALESCE(recv,0)*COALESCE(price,0)),2).
    Partial aggregation happens map-side; the shuffle carries one row per
    key."""
    amount = F.coalesce(
        F.col("ReceivedOuters"), F.lit(0).cast(DecimalType(18, 4))
    ) * F.coalesce(
        F.col("ExpectedUnitPricePerOuter"), F.lit(0).cast(DecimalType(18, 4))
    )
    return purchases.groupBy("PurchaseOrderID", "OrderDate", "SupplierID").agg(
        F.round(F.sum(amount), 2).alias("POAmount")
    )


# ---------------------------------------------------------------------------
# EP2 — supplier-invoice XML → SUPPLIER_INVOICES (BlueForty.py:128-201)
# ---------------------------------------------------------------------------

INVOICE_FIELDS = [
    "SupplierTransactionID",
    "SupplierID",
    "PurchaseOrderID",
    "SupplierInvoiceNumber",
    "TransactionDate",
    "AmountExcludingTax",
    "TaxAmount",
    "TransactionAmount",
    "OutstandingBalance",
    "FinalizationDate",
    "IsFinalized",
]


def shred_supplier_invoices(spark: SparkSession, xml_path: str) -> DataFrame:
    """EP2: whole-doc XML → typed invoice rows.

    ``wholetext`` read lands each file as one row (the VARIANT landing
    table, BlueForty.py:159-176, without materializing it), then
    shred_xml_docs does FLATTEN + XMLGET + casts (:179-201): posexplode
    ordinal → XML_INDEX, per-field try-casts, and the
    SupplierTransactionID-not-null malformed filter.
    """
    raw = spark.read.text(xml_path, wholetext=True).select(
        F.col("value").alias("DOC"),
        F.col("_metadata.file_path").alias("SRC_FILENAME"),
    )
    money = DecimalType(18, 2)
    casts = {
        "SupplierTransactionID": F.col("_e.SupplierTransactionID").try_cast("bigint"),
        "SupplierID": F.col("_e.SupplierID").try_cast("bigint"),
        "PurchaseOrderID": nullif_empty(F.col("_e.PurchaseOrderID")).try_cast(
            "bigint"
        ),
        "SupplierInvoiceNumber": nullif_empty(F.col("_e.SupplierInvoiceNumber")),
        "TransactionDate": try_to_date(F.col("_e.TransactionDate")),
        "AmountExcludingTax": F.col("_e.AmountExcludingTax").try_cast(money),
        "TaxAmount": F.col("_e.TaxAmount").try_cast(money),
        "TransactionAmount": F.col("_e.TransactionAmount").try_cast(money),
        "OutstandingBalance": F.col("_e.OutstandingBalance").try_cast(money),
        "FinalizationDate": try_to_date(F.col("_e.FinalizationDate")),
        "IsFinalized": int_flag_to_bool(F.col("_e.IsFinalized")),
    }
    return shred_xml_docs(
        raw,
        doc_col="DOC",
        row_tag="SupplierTransaction",
        fields=casts,
        index_col="XML_INDEX",
        required="SupplierTransactionID",
    )


def purchase_orders_and_invoices(
    po_totals: DataFrame, invoices: DataFrame
) -> DataFrame:
    """Q5 reconciliation view (BlueForty.py:220-233): CTE pre-aggregate of
    invoice amounts per (PO, supplier), USING-join onto totals, plus the
    invoiced-vs-quoted delta.  Pre-aggregation before the join is the
    load-bearing shape (SURVEY.md §4)."""
    invoice_amount = invoices.groupBy("PurchaseOrderID", "SupplierID").agg(
        F.sum("AmountExcludingTax").alias("InvoiceExTaxTotal")
    )
    inv = invoice_amount.withColumnRenamed("SupplierID", "Inv_SupplierID")
    return using_join(inv, po_totals, "PurchaseOrderID").select(
        po_totals["OrderDate"],
        po_totals["SupplierID"],
        F.col("PurchaseOrderID"),
        F.col("POAmount"),
        F.col("InvoiceExTaxTotal"),
        (F.col("InvoiceExTaxTotal") - F.col("POAmount")).alias(
            "invoiced_vs_quoted"
        ),
    )


# ---------------------------------------------------------------------------
# EP3 — supplier geo/weather enrichment (BlueForty.py:239-476)
# ---------------------------------------------------------------------------


def supplier_zip5_view(supplier_case: DataFrame) -> DataFrame:
    """SUPPLIER_ZIP5 (BlueForty.py:364-388): coalesce postal columns,
    LPAD-then-strip normalization, null/empty filter.  Column names stay
    lowercase — the reference's dynamic-schema tables are case-sensitive
    downstream (SURVEY.md hard part d)."""
    p, f = F.col("postalpostalcode"), F.col("deliverypostalcode")
    return supplier_case.filter(zip5_not_null_filter(p, f)).select(
        zip5(p, f).alias("ZIP5"),
        F.col("supplierid"),
        F.col("suppliername"),
    )


def closest_stations(
    supplier_zips_geo: DataFrame,
    stations: DataFrame,
    round_decimals: int | None = None,
) -> DataFrame:
    """CLOSEST_STATIONS (BlueForty.py:425-448): distinct supplier ZIP
    coords × station index (cross join) → haversine → top-1 per ZIP.

    Physical shape: DISTINCT first shrinks the left side (the reference
    does the same, :427-433); the station index is broadcast so the
    cartesian runs map-side (BroadcastNestedLoopJoin).  Station-id
    tiebreak makes rank-1 deterministic (the reference's plain ORDER BY
    dist is tie-nondeterministic).  ``round_decimals`` ranks on a rounded
    distance so ULP-level trig differences can never flip the argmin
    (used when differential-testing against other engines).
    """
    zips = supplier_zips_geo.select("zip_code", "lat", "lon").distinct()
    dist = haversine_km(
        F.col("lat"), F.col("lon"), F.col("LATITUDE"), F.col("LONGITUDE")
    )
    if round_decimals is not None:
        dist = F.round(dist, round_decimals)
    crossed = broadcast_cross_join(zips, stations).select(
        "zip_code",
        F.col("NOAA_WEATHER_STATION_ID").alias("station_id"),
        dist.alias("dist_km"),
    )
    return top1_per_group(
        crossed,
        partition_by=["zip_code"],
        order_by=[F.asc("dist_km"), F.asc("station_id")],
    ).select("zip_code", "station_id")


def closest_stations_grid(
    supplier_zips_geo: DataFrame,
    stations: DataFrame,
    cell_deg: float = 2.0,
    round_decimals: int | None = None,
) -> DataFrame:
    """Scale path for the nearest-station operator (SURVEY.md §4): when the
    station index is too big to broadcast, bucket both sides into a
    lat/lon grid and only score stations in each ZIP's 3×3 neighborhood —
    an EQUI-join on the cell key, so it shuffles instead of exploding into
    a cartesian product.

    Exactness: a candidate within the inscribed radius of the 3×3 block is
    provably the global nearest.  The block's east-west extent shrinks by
    cos(lat) — a longitude degree is ~110·cos(lat) km, not 110 km — so the
    safe radius is computed PER ROW as ``cell_deg·110·cos(radians(lat))``
    (the lat-direction bound is cell_deg·110 ≥ that, so the cos term is the
    binding one everywhere).  ZIPs whose best candidate is farther (or that
    found none) fall back to the full broadcast scan.  With sane station
    density the fallback set is empty and the whole job is one equi-join.
    """

    def cell(lat, lon):
        return F.floor(lat / cell_deg).cast("int"), F.floor(
            lon / cell_deg
        ).cast("int")

    zips = supplier_zips_geo.select("zip_code", "lat", "lon").distinct()
    st = stations.select(
        F.col("NOAA_WEATHER_STATION_ID").alias("station_id"),
        F.col("LATITUDE").alias("s_lat"),
        F.col("LONGITUDE").alias("s_lon"),
    )
    s_cell = cell(F.col("s_lat"), F.col("s_lon"))
    st_cells = st.select(
        "*", s_cell[0].alias("cell_lat"), s_cell[1].alias("cell_lon")
    )
    z_cell = cell(F.col("lat"), F.col("lon"))
    offsets = [(i, j) for i in (-1, 0, 1) for j in (-1, 0, 1)]
    z_expanded = (
        zips.select(
            "*", z_cell[0].alias("zc_lat"), z_cell[1].alias("zc_lon")
        )
        .select(
            "*",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            (F.col("zc_lat") + F.lit(i)).alias("cell_lat"),
                            (F.col("zc_lon") + F.lit(j)).alias("cell_lon"),
                        )
                        for i, j in offsets
                    ]
                )
            ).alias("nb"),
        )
        .select("zip_code", "lat", "lon", "nb.cell_lat", "nb.cell_lon")
    )
    dist = haversine_km(
        F.col("lat"), F.col("lon"), F.col("s_lat"), F.col("s_lon")
    )
    if round_decimals is not None:
        dist = F.round(dist, round_decimals)
    candidates = z_expanded.join(st_cells, on=["cell_lat", "cell_lon"]).select(
        "zip_code",
        "lat",
        "station_id",
        dist.alias("dist_km"),
    )
    best = top1_per_group(
        candidates,
        partition_by=["zip_code"],
        order_by=[F.asc("dist_km"), F.asc("station_id")],
    )
    guarantee_km = F.lit(cell_deg * 110.0) * F.cos(F.radians(F.col("lat")))
    proven = best.filter(F.col("dist_km") <= guarantee_km).select(
        "zip_code", "station_id"
    )
    unresolved = zips.join(
        proven.select("zip_code"), on="zip_code", how="left_anti"
    )
    fallback = closest_stations(unresolved, stations, round_decimals)
    return proven.unionByName(fallback)


def supplier_zip_weather(
    closest: DataFrame, timeseries: DataFrame
) -> DataFrame:
    """SUPPLIER_ZIP_CODE_WEATHER (BlueForty.py:452-463): stations ⋈ daily
    metrics filtered to Maximum Temperature.  The variable filter sits
    directly on the scan side so it pushes into the Parquet read."""
    return (
        timeseries.filter(F.col("VARIABLE_NAME") == "Maximum Temperature")
        .join(
            F.broadcast(closest),
            on=F.col("NOAA_WEATHER_STATION_ID") == F.col("station_id"),
        )
        .select(
            "zip_code",
            F.col("DATE").cast("date").alias("date"),
            F.col("VALUE").alias("high_temperature"),
        )
    )


def purchases_with_weather(
    reconciliation: DataFrame,
    supplier_case: DataFrame,
    zip_weather: DataFrame,
) -> DataFrame:
    """PURCHASES_WITH_WEATHER (BlueForty.py:467-475): 3-way join —
    reconciliation ⋈ supplier (SupplierID) ⋈ weather on the composite
    (ZIP, DATE=ORDERDATE) key.  supplier_case is a dimension → broadcast;
    the weather join is a composite-key hash join."""
    # DataFrame-qualified references: Spark's default case-insensitive
    # resolution sees 'SupplierID' and 'supplierid' as the same name, so a
    # bare F.col would be ambiguous across the two sides.
    sup = supplier_case.select(
        F.col("supplierid"), F.col("postalpostalcode").alias("ZIP")
    )
    a = reconciliation.join(
        F.broadcast(sup), on=reconciliation["SupplierID"] == sup["supplierid"]
    ).drop("supplierid")
    return a.join(
        zip_weather,
        on=(zip_weather["zip_code"] == a["ZIP"])
        & (zip_weather["date"] == a["OrderDate"]),
    ).drop("zip_code", "date")
