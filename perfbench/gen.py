"""Seeded input generator for the benchmark.

Two kinds of input, both made only from ``--seed``:

- ``base_tables``: the ten parquet tables the query builders read
  (``sources.catalog.TABLES``), with the schemas and value ranges of the
  project's synthetic TPC-H-like fixtures.
- ``reference_inputs``: the raw files of the paper's ETL job, derived
  from a base table set: monthly purchase CSVs, one supplier-invoice XML
  document, ``supplier_case.csv``, a ZIP gazetteer TSV, and parquet
  stand-ins for the weather-station index and daily weather series.
  A known number of malformed CSV rows and of XML children without a
  ``SupplierTransactionID`` are planted; ``manifest.json`` records the
  counts.

The same seed gives byte-identical files.  Generation is cached per
directory: a directory holding ``DONE`` is reused as is.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "large", "red", "blue", "old", "new", "hot", "cold"]
PART_NOUN = [
    "ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut",
]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "de", "es", "fr", "zh"]
VOCAB = (
    "a the data row column table key value part line order customer join "
    "hash merge sort filter scan group agg window stream batch query spark "
    "vector small big fast slow"
).split()

EPOCH = dt.datetime(1970, 1, 1)
ORDER_START = dt.datetime(1995, 1, 1)
ORDER_DAYS = 2404  # 1995-01-01 .. 2001-08-01


def _rng(seed: int, stream: str) -> np.random.Generator:
    """One independent generator per table, so adding a table never
    shifts another table's values."""
    return np.random.default_rng([seed, sum(map(ord, stream)) * 7919])


def _micros(days: np.ndarray, base: dt.datetime) -> np.ndarray:
    off = int((base - EPOCH).total_seconds()) * 1_000_000
    return off + days.astype(np.int64) * 86_400_000_000


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _sizes(sf: float) -> dict[str, int]:
    return {
        "customer": max(150, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(200, int(200_000 * sf)),
        "orders": max(1_500, int(1_500_000 * sf)),
        "lineitem": max(6_000, int(6_000_000 * sf)),
        "events": max(1_000, int(1_000_000 * sf)),
        "documents": 500,
        "embeddings": 500,
    }


def base_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write the ten parquet tables for scale ``sf``; return row counts."""
    n = _sizes(sf)
    if _done(out_dir):
        return n
    os.makedirs(out_dir, exist_ok=True)
    ts_us = pa.timestamp("us")

    _write(
        pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        f"{out_dir}/region.parquet",
    )
    _write(
        pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        f"{out_dir}/nation.parquet",
    )

    r = _rng(seed, "customer")
    k = n["customer"]
    _write(
        pa.table({
            "c_custkey": pa.array(np.arange(k), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(k)],
            "c_nationkey": pa.array(r.integers(0, 25, k), pa.int32()),
            "c_acctbal": np.round(r.uniform(-999.99, 9999.99, k), 2),
            "c_mktsegment": [SEGMENTS[i] for i in r.integers(0, 5, k)],
        }),
        f"{out_dir}/customer.parquet",
    )

    r = _rng(seed, "supplier")
    k = n["supplier"]
    _write(
        pa.table({
            "s_suppkey": pa.array(np.arange(k), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(k)],
            "s_nationkey": pa.array(r.integers(0, 25, k), pa.int32()),
            "s_acctbal": np.round(r.uniform(-999.99, 9999.99, k), 2),
        }),
        f"{out_dir}/supplier.parquet",
    )

    r = _rng(seed, "part")
    k = n["part"]
    _write(
        pa.table({
            "p_partkey": pa.array(np.arange(k), pa.int64()),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(r.integers(0, 8, k), r.integers(0, 8, k))
            ],
            "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, k)],
            "p_type": [PART_TYPES[t] for t in r.integers(0, 6, k)],
            "p_size": pa.array(r.integers(1, 51, k), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(k) % 1000) / 10, 1),
        }),
        f"{out_dir}/part.parquet",
    )

    r = _rng(seed, "orders")
    k = n["orders"]
    _write(
        pa.table({
            "o_orderkey": pa.array(np.arange(k), pa.int64()),
            "o_custkey": pa.array(r.integers(0, n["customer"], k), pa.int64()),
            "o_orderstatus": [("F", "O", "P")[i] for i in r.integers(0, 3, k)],
            "o_totalprice": np.round(r.uniform(1000, 500000, k), 2),
            "o_orderdate": pa.array(
                _micros(r.integers(0, ORDER_DAYS, k), ORDER_START), ts_us
            ),
            "o_orderpriority": [PRIORITIES[i] for i in r.integers(0, 5, k)],
        }),
        f"{out_dir}/orders.parquet",
    )

    r = _rng(seed, "lineitem")
    k = n["lineitem"]
    qty = r.integers(1, 51, k).astype(np.float64)
    _write(
        pa.table({
            "l_orderkey": pa.array(r.integers(0, n["orders"], k), pa.int64()),
            "l_partkey": pa.array(r.integers(0, n["part"], k), pa.int64()),
            "l_suppkey": pa.array(r.integers(0, n["supplier"], k), pa.int64()),
            "l_linenumber": pa.array(r.integers(1, 8, k), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * r.uniform(900, 2100, k), 2),
            "l_discount": r.integers(0, 11, k) / 100.0,
            "l_tax": r.integers(0, 9, k) / 100.0,
            "l_returnflag": [("A", "N", "R")[i] for i in r.integers(0, 3, k)],
            "l_linestatus": [("F", "O")[i] for i in r.integers(0, 2, k)],
            "l_shipdate": pa.array(
                _micros(r.integers(1, ORDER_DAYS + 95, k), ORDER_START), ts_us
            ),
        }),
        f"{out_dir}/lineitem.parquet",
    )

    r = _rng(seed, "events")
    k = n["events"]
    ts = np.sort(r.integers(0, 30 * 86_400_000_000, k))
    _write(
        pa.table({
            "event_id": pa.array(np.arange(k), pa.int64()),
            "ts": pa.array(
                ts + _micros(np.zeros(1), dt.datetime(2024, 1, 1))[0], ts_us
            ),
            "user_id": pa.array(r.integers(0, 150, k), pa.int64()),
            "event_type": [EVENT_TYPES[i] for i in r.integers(0, 5, k)],
            "value": np.round(r.uniform(0.01, 490.02, k), 2),
            "props": [f'{{"k": {v}}}' for v in r.integers(0, 100, k)],
        }),
        f"{out_dir}/events.parquet",
    )

    r = _rng(seed, "documents")
    k = n["documents"]
    texts: list[str] = []
    for i in range(k):
        if i > 10 and r.random() < 0.05:
            texts.append(texts[int(r.integers(0, i))] + " dup")
        else:
            words = r.integers(0, len(VOCAB), int(r.integers(10, 100)))
            texts.append(" ".join(VOCAB[w] for w in words))
    lang_p = np.array([0.44, 0.14, 0.14, 0.14, 0.14])
    _write(
        pa.table({
            "doc_id": pa.array(np.arange(k), pa.int64()),
            "text": texts,
            "lang": [LANGS[i] for i in r.choice(5, k, p=lang_p)],
            "source": [f"src{i % 20}" for i in range(k)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }),
        f"{out_dir}/documents.parquet",
    )

    r = _rng(seed, "embeddings")
    k = n["embeddings"]
    labels = r.integers(0, 10, k)
    centers = r.normal(0, 1, (10, 64))
    vecs = centers[labels] + r.normal(0, 0.6, (k, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(
        pa.table({
            "vec_id": pa.array(np.arange(k), pa.int64()),
            "embedding": pa.array(
                list(vecs.astype(np.float32)), pa.list_(pa.float32())
            ),
            "label": pa.array(labels, pa.int32()),
        }),
        f"{out_dir}/embeddings.parquet",
    )
    _mark_done(out_dir, {"sf": sf, "seed": seed, "rows": n})
    return n


def _done(d: str) -> bool:
    return os.path.exists(os.path.join(d, "DONE"))


def _mark_done(d: str, manifest: dict) -> None:
    with open(os.path.join(d, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    open(os.path.join(d, "DONE"), "w").close()


def _mdy(days: int, base: dt.datetime) -> str:
    return (base + dt.timedelta(days=int(days))).strftime("%m/%d/%Y")


#: Order dates are squeezed 3:1 into 2013-01 .. 2015-03 (27 monthly
#: files), the span of the reference's WideWorldImporters purchases.
PO_START = dt.datetime(2013, 1, 1)
PO_SQUEEZE = 3
#: Planted malformed CSV rows carry purchase-order ids from here up, so
#: they join no invoice.
PLANTED_PO = 900_000_000
#: One station in WEATHER_STATION_EVERY reports weather, on every
#: WEATHER_DAY_EVERY-th day of the order span (the share is sparse too).
WEATHER_STATION_EVERY = 10
WEATHER_DAY_EVERY = 5


def reference_inputs(
    out_dir: str,
    base_dir: str,
    seed: int,
    n_stations: int = 20000,
    malformed_every: int = 500,
    orphan_every: int = 400,
) -> dict:
    """Write the reference job's raw files from the base tables in
    ``base_dir``; return the manifest (sizes and planted counts)."""
    if _done(out_dir):
        with open(os.path.join(out_dir, "manifest.json")) as f:
            return json.load(f)
    os.makedirs(f"{out_dir}/purchases", exist_ok=True)
    r = _rng(seed, "reference")
    li = pq.read_table(f"{base_dir}/lineitem.parquet").to_pydict()
    od = pq.read_table(
        f"{base_dir}/orders.parquet", columns=["o_orderkey", "o_orderdate"]
    ).to_pydict()
    names = pq.read_table(f"{base_dir}/part.parquet", columns=["p_name"])[
        "p_name"
    ].to_pylist()
    n_sup = pq.read_metadata(f"{base_dir}/supplier.parquet").num_rows
    day_of = {
        k: (d - ORDER_START).days // PO_SQUEEZE
        for k, d in zip(od["o_orderkey"], od["o_orderdate"])
    }
    # A purchase order goes to one supplier; every line of it carries it.
    supplier_of = r.integers(0, n_sup, len(od["o_orderkey"]))

    # -- EP1: monthly purchase CSVs ----------------------------------------
    n_lines = len(li["l_orderkey"])
    by_month: dict[str, list[str]] = {}
    planted_csv = 0
    for i in range(n_lines):
        po = li["l_orderkey"][i]
        day = day_of[po]
        qty = li["l_quantity"][i]
        price = round(li["l_extendedprice"][i] / qty, 2)
        recv = qty if r.random() < 0.9 else float(r.integers(0, int(qty) + 1))
        month = (PO_START + dt.timedelta(days=day)).strftime("%Y-%m")
        row = [
            str(po), str(supplier_of[po]), _mdy(day, PO_START),
            str(int(r.integers(1, 11))), str(int(r.integers(1, 5000))),
            _mdy(day + 5, PO_START), f"REF-{po}" if po % 3 else "",
            str(int(po % 2)), "x", "x", "x", "x", str(i),
            str(li["l_partkey"][i]), f"{qty:.4f}",
            " " + names[li["l_partkey"][i]] + " ", f"{recv:.4f}", "x",
            f"{price:.4f}", _mdy(day + 9, PO_START), str(int(i % 2)),
        ]
        by_month.setdefault(month, []).append(",".join(row))
        if i % malformed_every == malformed_every - 1:
            # A line with a field count other than 21, alternately four
            # too many and nine too few.  The reference's COPY selects
            # $1..$21 by position, and a COPY that transforms with a query
            # skips the column-count check, so it loads the line: missing
            # fields are NULL, extra fields are dropped.
            bad = [str(PLANTED_PO + planted_csv), *row[1:]]
            bad = bad + ["x"] * 4 if planted_csv % 2 else bad[:12]
            by_month[month].append(",".join(bad))
            planted_csv += 1
    header = ",".join(f"c{j}" for j in range(1, 22))
    for month, rows in sorted(by_month.items()):
        with open(f"{out_dir}/purchases/purchases_{month}.csv", "w") as f:
            f.write(header + "\n" + "\n".join(rows) + "\n")

    # -- EP2: one invoice XML document, one child per invoiced PO line ------
    parts = ["<SupplierTransactions>\n"]
    planted_xml = 0
    n_invoices = 0
    for i in range(n_lines):
        po = li["l_orderkey"][i]
        if i % orphan_every == orphan_every - 1:
            parts.append(
                "  <SupplierTransaction><SupplierID>"
                f"{supplier_of[po]}</SupplierID><AmountExcludingTax>13.37"
                "</AmountExcludingTax></SupplierTransaction>\n"
            )
            planted_xml += 1
        if r.random() < 0.1:
            continue  # not invoiced yet
        day = day_of[po] + 12
        amt = int(r.integers(100, 10_000_000))
        tax = amt * 15 // 100
        date = (PO_START + dt.timedelta(days=day)).strftime("%Y-%m-%d")
        parts.append(
            "  <SupplierTransaction>"
            f"<SupplierTransactionID>{100000 + i}</SupplierTransactionID>"
            f"<SupplierID>{supplier_of[po]}</SupplierID>"
            f"<PurchaseOrderID>{po}</PurchaseOrderID>"
            f"<SupplierInvoiceNumber>INV-{i}</SupplierInvoiceNumber>"
            f"<TransactionDate>{date}</TransactionDate>"
            f"<AmountExcludingTax>{amt // 100}.{amt % 100:02d}"
            "</AmountExcludingTax>"
            f"<TaxAmount>{tax // 100}.{tax % 100:02d}</TaxAmount>"
            f"<TransactionAmount>{(amt + tax) // 100}.{(amt + tax) % 100:02d}"
            "</TransactionAmount>"
            "<OutstandingBalance>0.00</OutstandingBalance>"
            f"<FinalizationDate>{date}</FinalizationDate>"
            "<IsFinalized>1</IsFinalized></SupplierTransaction>\n"
        )
        n_invoices += 1
    parts.append("</SupplierTransactions>\n")
    with open(f"{out_dir}/supplier_invoices.xml", "w") as f:
        f.write("".join(parts))

    # -- EP3: supplier extract, ZIP gazetteer, station index, weather -------
    zips = r.choice(np.arange(10000, 100000), n_sup, replace=False)
    lines = ["supplierid,suppliername,postalpostalcode,deliverypostalcode"]
    for s in range(n_sup):
        z = str(zips[s])
        # Every 7th supplier has only a delivery code (the COALESCE path).
        primary, delivery = ("", z) if s % 7 == 3 else (z, z)
        lines.append(f"{s},Supplier {s},{primary},{delivery}")
    with open(f"{out_dir}/supplier_case.csv", "w") as f:
        f.write("\n".join(lines) + "\n")
    lat = np.round(r.uniform(25.0, 49.0, n_sup), 4)
    lon = np.round(r.uniform(-124.0, -67.0, n_sup), 4)
    with open(f"{out_dir}/zipcode_geolocation.tsv", "w") as f:
        f.write("zip_code\tlat\tlon\n")
        for z, a, b in zip(zips, lat, lon):
            f.write(f"{z}\t{a}\t{b}\n")

    st_ids = np.arange(1, n_stations + 1, dtype=np.int64) * 10
    _write(
        pa.table({
            "NOAA_WEATHER_STATION_ID": st_ids,
            "LATITUDE": np.round(r.uniform(24.0, 50.0, n_stations), 5),
            "LONGITUDE": np.round(r.uniform(-125.0, -66.0, n_stations), 5),
        }),
        f"{out_dir}/stations.parquet",
    )
    days = np.arange(0, ORDER_DAYS // PO_SQUEEZE + 12, WEATHER_DAY_EVERY)
    reporting = st_ids[::WEATHER_STATION_EVERY]
    sid = np.repeat(reporting, len(days) * 2)
    when = np.tile(np.repeat(days, 2), len(reporting))
    var = np.tile(
        np.array(["Maximum Temperature", "Minimum Temperature"], dtype=object),
        len(reporting) * len(days),
    )
    value = np.round(r.normal(15.0, 10.0, len(sid)), 1)
    _write(
        pa.table({
            "NOAA_WEATHER_STATION_ID": sid,
            "DATE": pa.array(_micros(when, PO_START), pa.timestamp("us")),
            "VARIABLE_NAME": pa.array(var, pa.string()),
            "VALUE": value,
        }),
        f"{out_dir}/weather.parquet",
    )

    manifest = {
        "seed": seed,
        "purchase_lines": n_lines,
        "purchase_files": len(by_month),
        "planted_malformed_csv_rows": planted_csv,
        "invoice_children": n_invoices + planted_xml,
        "planted_orphan_xml_children": planted_xml,
        "suppliers": int(n_sup),
        "stations": n_stations,
        "weather_rows": int(len(sid)),
    }
    _mark_done(out_dir, manifest)
    return manifest
