"""CSV/TSV/XML source contracts (SURVEY.md §2.1) incl. the EP1 header
regression and reference-shaped fixture goldens."""

from __future__ import annotations

import datetime
import os
from decimal import Decimal

from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from blueforty___etl_data_pipeline_spark.functions.inference import (
    infer_csv_schema,
)
from blueforty___etl_data_pipeline_spark.plans.pipelines import (
    load_purchases_csv,
    purchase_order_totals,
    shred_supplier_invoices,
)
from blueforty___etl_data_pipeline_spark.sources.csv import (
    nullify_sentinels,
    read_csv,
    read_tsv,
    with_filename_partition,
)


def test_purchases_header_not_leaked(spark, fixtures_dir):
    # Regression (round-1 VERDICT): skipRows is not an OSS option; with
    # header=false every file's header became a junk data row.
    df = load_purchases_csv(spark, os.path.join(fixtures_dir, "purchases"))
    rows = df.collect()
    assert len(rows) == 5  # 3 + 2 data rows, no header ghosts
    descriptions = {r["Description"] for r in rows}
    assert "c16" not in descriptions  # the header token must not appear


def test_purchases_positional_conversions(spark, fixtures_dir):
    df = load_purchases_csv(spark, os.path.join(fixtures_dir, "purchases"))
    by_line = {r["PurchaseOrderLineID"]: r for r in df.collect()}
    r1 = by_line[101]
    assert r1["PurchaseOrderID"] == 1
    assert r1["OrderDate"] == datetime.date(2013, 1, 5)
    assert r1["Description"] == "Widget A"  # TRIM applied
    assert r1["IsOrderFinalized"] is True
    assert r1["ExpectedUnitPricePerOuter"] == Decimal("12.5000")
    r2 = by_line[102]
    assert r2["SupplierReference"] is None  # '' → NULLIF
    # dirty row: every try-conversion nulls, row is kept (ON_ERROR=CONTINUE)
    r3 = by_line[103]
    assert r3["PurchaseOrderID"] is None
    assert r3["OrderDate"] is None
    assert r3["ReceivedOuters"] is None  # 'NULL' sentinel
    assert r3["ExpectedUnitPricePerOuter"] is None  # 'N/A' sentinel
    assert r3["LastReceiptDate"] is None  # '\\N' sentinel


def test_purchase_order_totals_golden(spark, fixtures_dir):
    # Golden checkpoint analog (BlueForty.py:234 role): hand-computed sums.
    df = purchase_order_totals(
        load_purchases_csv(spark, os.path.join(fixtures_dir, "purchases"))
    )
    amounts = {r["PurchaseOrderID"]: float(r["POAmount"]) for r in df.collect()}
    assert amounts[1] == 50.0  # 4 × 12.50
    assert amounts[2] == 21.75  # 3 × 7.25
    assert amounts[4] == 19.98  # 2 × 9.99
    assert amounts[5] == 9.0  # 6 × 1.50
    assert amounts[None] == 0.0  # dirty row: COALESCE(null,0)×COALESCE(null,0)


def test_csv_schema_applied_by_position_headerless(spark, tmp_path):
    # Headerless file surfaces as _c0.. — schema must bind by position.
    p = tmp_path / "noheader.csv"
    p.write_text("1,a,2.5\nNULL,\\N,N/A\n")
    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("name", StringType()),
            StructField("score", DoubleType()),
        ]
    )
    df = read_csv(
        spark, str(p), schema=schema, options={"header": "false"}
    )
    rows = df.collect()
    assert df.columns == ["id", "name", "score"]
    assert rows[0]["id"] == 1 and rows[0]["score"] == 2.5
    assert rows[1]["id"] is None and rows[1]["name"] is None


def test_csv_schema_width_mismatch_raises(spark, tmp_path):
    p = tmp_path / "wide.csv"
    p.write_text("a,b\n1,2\n")
    schema = StructType([StructField("only_one", LongType())])
    try:
        read_csv(spark, str(p), schema=schema)
        raise AssertionError("expected ValueError")
    except ValueError as e:
        assert "1 fields" in str(e)


def test_csv_declared_columns_bind_by_position(spark, fixtures_dir):
    # A declared all-string layout names fields by position, whatever the
    # header says, and still skips the header line.
    path = os.path.join(fixtures_dir, "supplier", "zipcode_geolocation.tsv")
    df = read_csv(
        spark,
        path,
        options={"header": "true", "sep": "\t"},
        columns=("zip", "latitude", "longitude"),
    )
    rows = {r["zip"]: r for r in df.collect()}
    assert df.columns == ["zip", "latitude", "longitude"]
    assert "zip_code" not in rows  # header skipped
    assert rows["90210"]["latitude"] == "34.09"
    try:
        read_csv(spark, path, schema=StructType([]), columns=("zip",))
        raise AssertionError("expected ValueError")
    except ValueError as e:
        assert "not both" in str(e)


def test_nullify_sentinels_expression(spark):
    df = spark.createDataFrame(
        [("NULL",), ("\\N",), ("N/A",), ("",), ("keep",)], "v string"
    )
    out = df.select(nullify_sentinels(F.col("v")).alias("v")).collect()
    assert [r["v"] for r in out] == [None, None, None, None, "keep"]


def test_read_tsv(spark, fixtures_dir):
    df = read_tsv(
        spark, os.path.join(fixtures_dir, "supplier", "zipcode_geolocation.tsv")
    )
    rows = {r["zip_code"]: r for r in df.collect()}
    assert rows["90210"]["lat"] == "34.09"  # untyped read: strings


def test_filename_partition_derivation(spark, fixtures_dir):
    df = read_csv(
        spark,
        os.path.join(fixtures_dir, "purchases"),
        path_glob="*.csv",
    )
    out = with_filename_partition(df).select("yyyy", "mm").distinct().collect()
    pairs = {(r["yyyy"], r["mm"]) for r in out}
    assert pairs == {("2013", "01"), ("2013", "02")}


def test_xml_shred_fixture_golden(spark, fixtures_dir):
    # EP2 golden: 4 children, 1 malformed (no SupplierTransactionID) → 3
    # rows with ordinals 0, 2, 3 preserved (BlueForty.py:197-200).
    df = shred_supplier_invoices(
        spark, os.path.join(fixtures_dir, "xml", "supplier_invoices.xml")
    )
    rows = sorted(df.collect(), key=lambda r: r["XML_INDEX"])
    assert [r["XML_INDEX"] for r in rows] == [0, 2, 3]
    assert rows[0]["SupplierTransactionID"] == 1001
    assert rows[0]["IsFinalized"] is True
    assert str(rows[0]["AmountExcludingTax"]) == "50.00"
    assert rows[1]["PurchaseOrderID"] == 2
    assert rows[1]["FinalizationDate"] is None
    assert rows[1]["TransactionDate"] == datetime.date(2013, 1, 22)
    assert rows[2]["PurchaseOrderID"] is None  # '' → NULLIF → null


def test_infer_schema_priority_and_cap(tmp_path):
    # DATE beats INTEGER; a bad value past the 100-row cap is not seen.
    lines = ["d,i,f,s,n"]
    for k in range(100):
        lines.append(f"2013-01-{k % 28 + 1:02d},{k},{k}.5,x{k},NULL")
    lines.append("not-a-date,abc,zzz,1,2")  # row 101: ignored by the cap
    p = tmp_path / "sniff.csv"
    p.write_text("\n".join(lines) + "\n")
    schema = infer_csv_schema(str(p))
    kinds = {f.name: type(f.dataType).__name__ for f in schema.fields}
    assert kinds == {
        "d": "DateType",
        "i": "LongType",
        "f": "DoubleType",
        "s": "StringType",
        "n": "StringType",  # all-null → STRING (BlueForty.py:268-269)
    }


def test_infer_schema_int_is_also_float_but_int_wins(tmp_path):
    p = tmp_path / "iv.csv"
    p.write_text("a\n1\n2\n3\n")
    schema = infer_csv_schema(str(p))
    assert type(schema.fields[0].dataType).__name__ == "LongType"


def test_infer_schema_property_based(tmp_path):
    # Property: the inferred type must parse every sampled value, and the
    # DATE > INTEGER > FLOAT > STRING priority must hold.
    from hypothesis import given, settings
    from hypothesis import strategies as st

    ints = st.integers(-10**9, 10**9).map(str)
    floats = st.floats(
        allow_nan=False, allow_infinity=False, width=32
    ).map(lambda x: f"{x:.6f}")
    dates = st.dates().map(lambda d: d.isoformat())

    @settings(max_examples=30, deadline=None)
    @given(
        kind_vals=st.one_of(
            st.tuples(st.just("LongType"), st.lists(ints, min_size=1, max_size=20)),
            st.tuples(st.just("DoubleType"), st.lists(floats, min_size=1, max_size=20)),
            st.tuples(st.just("DateType"), st.lists(dates, min_size=1, max_size=20)),
        )
    )
    def check(kind_vals):
        kind, vals = kind_vals
        from blueforty___etl_data_pipeline_spark.functions.inference import (
            infer_type,
        )

        got = type(infer_type(vals)).__name__
        if kind == "LongType":
            assert got == "LongType"
        elif kind == "DoubleType":
            assert got in ("DoubleType", "LongType", "DateType")
        else:
            assert got == "DateType"  # DATE outranks INTEGER for date strings
        # adding one non-parsable value always degrades to StringType
        assert type(infer_type(vals + ["not?parse!able"])).__name__ == "StringType"

    check()


def test_partitioned_write_prunes_on_read(spark, fixtures_dir, tmp_path):
    # S4's derived yyyy/mm columns written as real Hive partitions must
    # produce PartitionFilters (not data filters) on a filtered re-read.
    from blueforty___etl_data_pipeline_spark.sinks import write_table

    df = read_csv(
        spark,
        os.path.join(fixtures_dir, "purchases"),
        path_glob="*.csv",
    )
    parted = with_filename_partition(df)
    path = str(tmp_path / "hive")
    write_table(parted, path, partition_by=("yyyy", "mm"))
    back = spark.read.parquet(path).filter("yyyy = '2013' AND mm = '02'")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "isnotnull(yyyy" in plan  # filters landed in partition pruning
    assert back.count() == 2  # only the February file's data rows


def test_jsonl_continue_drops_corrupt_lines(spark, tmp_path):
    from blueforty___etl_data_pipeline_spark.sources.json import (
        read_jsonl,
        read_jsonl_with_badlines,
        write_jsonl,
    )
    from pyspark.sql.types import StructType

    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id long, v string"
    )
    path = str(tmp_path / "jl")
    write_jsonl(df, path)
    with open(f"{path}/bad.json", "w") as fh:
        fh.write('{"id": 4, "v": broken\nnot json at all\n')

    out = read_jsonl(spark, path, schema=df.schema, on_error="continue")
    assert sorted(r["id"] for r in out.collect()) == [1, 2, 3]
    assert out.columns == ["id", "v"]

    good, bad = read_jsonl_with_badlines(spark, path, schema=df.schema)
    assert good.count() == 3
    assert bad.count() == 2  # both malformed lines quarantined


def test_jsonl_abort_fails_on_corrupt_line(spark, tmp_path):
    import pytest as _pytest

    from blueforty___etl_data_pipeline_spark.sources.json import (
        read_jsonl,
        write_jsonl,
    )

    df = spark.createDataFrame([(1, "a")], "id long, v string")
    path = str(tmp_path / "jl_abort")
    write_jsonl(df, path)
    with open(f"{path}/bad.json", "w") as fh:
        fh.write("garbage{\n")
    with _pytest.raises(Exception):
        read_jsonl(spark, path, schema=df.schema, on_error="abort").collect()


def test_read_csv_with_badrows_quarantines(spark, tmp_path):
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from blueforty___etl_data_pipeline_spark.sources.csv import (
        read_csv_with_badrows,
    )

    p = tmp_path / "rows.csv"
    p.write_text(
        "1,alpha\n"
        "not_a_number,beta\n"   # type failure -> quarantine
        "3,gamma\n"
    )
    schema = StructType(
        [StructField("id", LongType()), StructField("name", StringType())]
    )
    good, bad = read_csv_with_badrows(spark, str(p), schema)
    assert sorted((r["id"], r["name"]) for r in good.collect()) == [
        (1, "alpha"),
        (3, "gamma"),
    ]
    bad_rows = [r["_corrupt_record"] for r in bad.collect()]
    assert bad_rows == ["not_a_number,beta"]  # raw line preserved


def test_warc_framing_and_gates(spark, tmp_path):
    import pytest

    from blueforty___etl_data_pipeline_spark.sources.warc import (
        parse_warc_bytes,
        read_warc,
        write_warc_shards,
    )

    # payload that CONTAINS a WARC version line — Content-Length
    # framing must carry the parser straight over it
    tricky = "before\r\nWARC/1.0\r\nWARC-Type: fake\r\n\r\nafter"
    df = spark.createDataFrame(
        [
            (1, tricky, "web", 0),
            (2, "plain text", "web", 0),
            (3, "unicode é中", "news", 1),
        ],
        "doc_id long, text string, source string, shard_id int",
    )
    out = str(tmp_path / "warc")
    manifest = {
        r["shard_id"]: r.asDict()
        for r in write_warc_shards(df, out).collect()
    }
    assert manifest[0]["n_records"] == 2
    assert manifest[1]["payload_bytes"] == len(
        "unicode é中".encode("utf-8")
    )

    # raw parse: warcinfo + responses, framing exact
    blob = open(f"{out}/shard-000000.warc", "rb").read()
    recs = parse_warc_bytes(blob)
    assert [r["warc_type"] for r in recs] == [
        "warcinfo", "response", "response",
    ]
    assert recs[1]["payload"].decode() == tricky
    assert recs[1]["target_uri"].endswith("/web/1")
    assert all(r["content_length"] == len(r["payload"]) for r in recs)

    # distributed read-back agrees
    got = read_warc(spark, f"{out}/*.warc")
    assert got.filter("warc_type = 'response'").count() == 3
    uni = got.filter("target_uri LIKE '%/news/3'").collect()[0]
    assert uni["payload_bytes"] == len("unicode é中".encode())

    # idempotent re-run: byte-identical files
    write_warc_shards(df, out).collect()
    assert open(f"{out}/shard-000000.warc", "rb").read() == blob

    # gates: bad version line, missing Content-Length, overrun
    with pytest.raises(ValueError, match="bad version line"):
        parse_warc_bytes(b"HTTP/1.1 200\r\n\r\n")
    with pytest.raises(ValueError, match="Content-Length"):
        parse_warc_bytes(b"WARC/1.0\r\nWARC-Type: x\r\n\r\n")
    trunc = blob[: len(blob) - 40]
    with pytest.raises(ValueError, match="overruns|unterminated"):
        parse_warc_bytes(trunc)


def test_xlsx_package_roundtrip_and_gates(spark, tmp_path):
    import zipfile

    import pytest

    from blueforty___etl_data_pipeline_spark.sources.xlsx import (
        col_letter,
        parse_ref,
        parse_xlsx_cells,
        read_xlsx,
        write_xlsx,
    )

    assert col_letter(0) == "A" and col_letter(25) == "Z"
    assert col_letter(26) == "AA" and col_letter(702) == "AAA"
    assert parse_ref("AA12") == (11, 26)
    with pytest.raises(ValueError, match="bad cell reference"):
        parse_ref("12A")

    p = str(tmp_path / "wb" / "t.xlsx")
    rows = [
        ["id", "name", "amount"],
        [1, "alpha & <beta>", 100],
        [2, "alpha & <beta>", -50],   # repeated string dedups
        [3, "gamma", 0],
    ]
    n_shared = write_xlsx(rows, p)
    assert n_shared == 5  # 3 header + 2 distinct data strings

    blob = open(p, "rb").read()
    # genuinely a zip package with the spec parts
    with zipfile.ZipFile(p) as z:
        assert "xl/worksheets/sheet1.xml" in z.namelist()
        assert "[Content_Types].xml" in z.namelist()

    cells = parse_xlsx_cells(blob)
    got = {(r, c): (t, v) for r, c, t, v in cells}
    assert got[(1, 1)] == ("s", "alpha & <beta>")  # XML escapes survive
    assert got[(2, 2)] == ("n", "-50")
    assert got[(0, 0)] == ("s", "id")

    # byte-deterministic rewrite
    write_xlsx(rows, p)
    assert open(p, "rb").read() == blob

    # distributed read-back
    df = read_xlsx(spark, str(tmp_path / "wb" / "*.xlsx"))
    assert df.count() == 12
    assert df.filter("cell_type = 's'").count() == 6

    # unsupported cell type gates (rewrite the zip properly so only
    # the cell type tag changes, not the stored CRC)
    import io

    with zipfile.ZipFile(p) as z:
        parts = {n: z.read(n) for n in z.namelist()}
    parts["xl/worksheets/sheet1.xml"] = parts[
        "xl/worksheets/sheet1.xml"
    ].replace(b't="s"', b't="e"', 1)
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        for n, data in parts.items():
            z.writestr(n, data)
    with pytest.raises(ValueError, match="unsupported cell type"):
        parse_xlsx_cells(buf.getvalue())

    # formula-cached strings (t="str") and inline strings
    # (t="inlineStr") both normalize to cell_type 's'
    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    parts2 = dict(parts)
    parts2["xl/worksheets/sheet1.xml"] = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<worksheet xmlns="{ns}"><sheetData>'
        '<row r="1">'
        '<c r="A1" t="str"><v>=cached text</v></c>'
        '<c r="B1" t="inlineStr"><is><t>in</t><t>line</t></is></c>'
        '<c r="C1"><v>7</v></c>'
        '<c r="D1" t="inlineStr"/>'  # empty inline cell: skipped
        "</row></sheetData></worksheet>"
    ).encode()
    buf2 = io.BytesIO()
    with zipfile.ZipFile(buf2, "w") as z:
        for n, data in parts2.items():
            z.writestr(n, data)
    got2 = {
        (r, c): (t, v) for r, c, t, v in parse_xlsx_cells(buf2.getvalue())
    }
    assert got2[(0, 0)] == ("s", "=cached text")
    assert got2[(0, 1)] == ("s", "inline")
    assert got2[(0, 2)] == ("n", "7")
    assert (0, 3) not in got2


def test_avro_container_codec_and_gates(spark, tmp_path):
    import pytest

    from blueforty___etl_data_pipeline_spark.sources.avro import (
        parse_avro,
        read_avro,
        write_avro,
        zigzag_decode,
        zigzag_encode,
    )

    # zigzag involution across sign/size edges
    for n in (0, -1, 1, 63, -64, 2**40, -(2**40), 2**62 - 1, -(2**62)):
        assert zigzag_decode(zigzag_encode(n), 0)[0] == n

    schema = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "name", "type": "string"},
            {"name": "note", "type": ["null", "string"]},
        ],
    }
    recs = [
        {"id": i - 5, "name": f"n-{i} é中", "note": None if i % 3 else "x"}
        for i in range(257)  # spans 3 blocks at the default block size
    ]
    p = str(tmp_path / "a" / "t.avro")
    assert write_avro(recs, schema, p) == 3
    blob = open(p, "rb").read()
    s2, r2 = parse_avro(blob)
    assert r2 == recs and s2["name"] == "r"

    # deterministic rewrite
    write_avro(recs, schema, p)
    assert open(p, "rb").read() == blob

    # distributed read-back agrees, nulls preserved
    df = read_avro(spark, str(tmp_path / "a" / "*.avro"))
    assert df.count() == 257
    assert df.filter("note IS NULL").count() == sum(
        1 for r in recs if r["note"] is None
    )
    assert df.schema.simpleString() == (
        "struct<id:bigint,name:string,note:string>"
    )

    # gates: magic, corrupt sync, unsupported schema/codec
    with pytest.raises(ValueError, match="not an Avro"):
        parse_avro(b"PAR1" + blob[4:])
    bad = bytearray(blob)
    bad[-1] ^= 0xFF  # trailing sync marker
    with pytest.raises(ValueError, match="sync marker"):
        parse_avro(bytes(bad))
    with pytest.raises(ValueError, match="unsupported field type"):
        write_avro([], {"type": "record", "name": "x",
                        "fields": [{"name": "f", "type": "double"}]}, p)
    with pytest.raises(ValueError, match="unsupported union"):
        write_avro([], {"type": "record", "name": "x",
                        "fields": [{"name": "f",
                                    "type": ["string", "long"]}]}, p)


def test_fixed_width_layout_header_and_gates(spark, tmp_path):
    import pytest

    from blueforty___etl_data_pipeline_spark.sources.fixed_width import (
        read_fixed_width,
        write_fixed_width_line,
    )

    layout = [
        ("id", 1, 6, "long"),
        ("name", 7, 10, "string"),
        ("amt", 17, 12, "decimal(18,2)"),
        ("d", 29, 10, "date"),
    ]
    widths = [6, 10, 12, 10]
    lines = [
        write_fixed_width_line(["id", "name", "amt", "d"], widths),
        write_fixed_width_line(
            ["42", "alpha", "12.50", "2013-01-05"], widths
        ),
        write_fixed_width_line(["7", "  padded", "N/A", "\\N"], widths),
    ]
    p = tmp_path / "fw"
    p.mkdir()
    (p / "a.txt").write_text("\n".join(lines) + "\n")

    df = read_fixed_width(
        spark, str(p), layout, skip_header_lines=1
    )
    rows = {r["id"]: r for r in df.collect()}
    assert len(rows) == 2  # header dropped
    import datetime
    from decimal import Decimal

    assert rows[42]["name"] == "alpha"
    assert rows[42]["amt"] == Decimal("12.50")
    assert rows[42]["d"] == datetime.date(2013, 1, 5)
    assert rows[7]["name"] == "padded"   # trimmed
    assert rows[7]["amt"] is None        # N/A sentinel
    assert rows[7]["d"] is None          # \\N sentinel

    with pytest.raises(ValueError, match="exceeds field width"):
        write_fixed_width_line(["too-wide-for-field"], [5])
    with pytest.raises(ValueError, match="overlaps"):
        read_fixed_width(
            spark, str(p), [("a", 1, 6, "long"), ("b", 3, 4, "long")]
        )
    with pytest.raises(ValueError, match="unsupported dtype"):
        read_fixed_width(spark, str(p), [("a", 1, 6, "float")])


def test_avro_schema_compat_rules():
    from blueforty___etl_data_pipeline_spark.sources.avro import (
        schema_compat,
    )

    def rec(fields):
        return {"type": "record", "name": "r", "fields": fields}

    v1 = rec([
        {"name": "id", "type": "long"},
        {"name": "name", "type": "string"},
    ])

    ok, why = schema_compat(v1, v1)
    assert ok and why == []

    # multiple simultaneous violations are all reported
    bad_reader = rec([
        {"name": "id", "type": "long"},
        {"name": "renamed", "type": "string"},
        {"name": "extra", "type": "long"},
    ])
    ok, why = schema_compat(bad_reader, v1)
    assert not ok and len(why) == 2

    # nullable widening one way only
    widened = rec([
        {"name": "id", "type": "long"},
        {"name": "name", "type": ["null", "string"]},
    ])
    assert schema_compat(widened, v1)[0]
    assert not schema_compat(v1, widened)[0]

    # type change is a violation even with same name
    retyped = rec([
        {"name": "id", "type": "string"},
        {"name": "name", "type": "string"},
    ])
    ok, why = schema_compat(retyped, v1)
    assert not ok and "writer type 'long'" in why[0]


def test_docx_codec_roundtrip_and_gates():
    import io
    import zipfile

    import pytest as _pytest

    from blueforty___etl_data_pipeline_spark.sources.docx import (
        parse_docx_text,
        write_docx,
    )

    paras = [
        "Hello world",
        "key\tvalue & <tag>",     # tab control + XML escaping
        "line1\nline2",           # break control
        "  preserved  spaces  ",  # xml:space handling
        "",                       # empty paragraph survives
    ]
    blob = write_docx(paras)
    assert parse_docx_text(blob) == list(enumerate(paras))
    # byte-deterministic fixture (zeroed zip timestamps)
    assert write_docx(paras) == blob
    # a ZIP without word/document.xml is not a docx
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        z.writestr("other.xml", "<x/>")
    with _pytest.raises(ValueError, match="word/document.xml"):
        parse_docx_text(buf.getvalue())


def test_read_docx_distributed(spark, tmp_path):
    from blueforty___etl_data_pipeline_spark.sources.docx import (
        read_docx,
        write_docx,
    )

    for i in range(3):
        (tmp_path / f"f{i}.docx").write_bytes(
            write_docx([f"doc {i} para {j}" for j in range(i + 1)])
        )
    got = read_docx(spark, str(tmp_path / "*.docx")).collect()
    assert len(got) == 6  # 1 + 2 + 3 paragraphs
    by_file = {}
    for r in got:
        by_file.setdefault(r["file"], []).append(
            (r["paragraph"], r["text"], r["n_chars"])
        )
    assert by_file["f2.docx"] == [
        (0, "doc 2 para 0", 12),
        (1, "doc 2 para 1", 12),
        (2, "doc 2 para 2", 12),
    ]


def test_warc_gz_member_framing(spark, tmp_path, sf_small):
    from pyspark.sql import functions as F

    from blueforty___etl_data_pipeline_spark.sources.warc import (
        read_warc_gz,
        split_gzip_members,
        write_warc_gz_shards,
    )

    docs = (
        spark.read.parquet(f"{sf_small}/documents.parquet")
        .filter(F.col("doc_id") % 20 == 1)
        .select(
            "doc_id", "text", "source",
            (F.col("doc_id") % 2).cast("int").alias("shard_id"),
        )
    )
    out = str(tmp_path / "wgz")
    manifest = {
        r["shard_id"]: r
        for r in write_warc_gz_shards(docs, out).collect()
    }
    n_docs = docs.count()
    assert sum(m["n_records"] for m in manifest.values()) == n_docs

    # file-level check: member count == records + warcinfo lead
    import glob as _glob

    for path in _glob.glob(out + "/*.warc.gz"):
        members = split_gzip_members(open(path, "rb").read())
        shard = int(path.rsplit("-", 1)[1].split(".")[0])
        assert len(members) == manifest[shard]["n_records"] + 1
        assert members[0].startswith(b"WARC/1.0")

    recs = read_warc_gz(spark, out + "/*.warc.gz")
    resp = recs.filter(F.col("warc_type") == "response")
    assert resp.count() == n_docs
    # one record per member, ordinals unique within a file
    assert (
        resp.select("file", "member").distinct().count() == n_docs
    )
    # payload byte counts survive the gzip cycle
    assert (
        resp.agg(F.sum("payload_bytes")).collect()[0][0]
        == docs.agg(
            F.sum(F.octet_length("text"))
        ).collect()[0][0]
    )


def test_http_response_codec_and_gates():
    import pytest as _pytest

    from blueforty___etl_data_pipeline_spark.sources.warc import (
        build_http_response,
        parse_http_response,
    )

    r = build_http_response(
        301,
        [("Location", "https://x.example/"), ("Content-Type", "text/html")],
        b"moved",
        reason="Moved Permanently",
    )
    p = parse_http_response(r)
    assert (p["status"], p["reason"]) == (301, "Moved Permanently")
    assert p["headers"]["location"] == "https://x.example/"
    assert p["headers"]["content-length"] == "5" and p["body"] == b"moved"
    # CRLFCRLF inside the body must not confuse the split
    body = b"a\r\n\r\nb"
    p2 = parse_http_response(build_http_response(200, [], body))
    assert p2["body"] == body
    with _pytest.raises(NotImplementedError, match="chunked"):
        parse_http_response(
            b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\nx"
        )
    with _pytest.raises(ValueError, match="Content-Length"):
        parse_http_response(
            b"HTTP/1.1 200 OK\r\nContent-Length: 99\r\n\r\nshort"
        )
    with _pytest.raises(ValueError, match="status line"):
        parse_http_response(b"NOTHTTP\r\n\r\n")
    # repeated fields combine per RFC 9110 §5.2 instead of keeping
    # only the last value (Set-Cookie/Via/Warning are legal repeats)
    p3 = parse_http_response(
        b"HTTP/1.1 200 OK\r\n"
        b"Set-Cookie: a=1\r\n"
        b"Via: 1.1 front\r\n"
        b"Set-Cookie: b=2\r\n\r\nok"
    )
    assert p3["headers"]["set-cookie"] == "a=1, b=2"
    assert p3["headers"]["via"] == "1.1 front"
    # obs-fold continuation lines extend the previous value rather
    # than minting a garbage header name
    p4 = parse_http_response(
        b"HTTP/1.1 200 OK\r\n"
        b"Warning: 199 misc\r\n"
        b"\tfolded tail\r\n\r\nok"
    )
    assert p4["headers"]["warning"] == "199 misc folded tail"
    with _pytest.raises(ValueError, match="continuation"):
        parse_http_response(b"HTTP/1.1 200 OK\r\n folded first\r\n\r\nok")


def test_sqlite_codec_and_distributed_read(spark, tmp_path):
    import pytest as _pytest

    from blueforty___etl_data_pipeline_spark.sources.sqlite import (
        read_sqlite,
        sqlite_tables,
        write_sqlite,
    )

    p = str(tmp_path / "a.sqlite")
    n = write_sqlite(
        p, "t", ["k", "name", "x"],
        [(1, "alpha", 1.5), (2, "béta", None), (3, "c,c", -7)],
    )
    assert n == 3
    blob = open(p, "rb").read()
    assert sqlite_tables(blob) == [("t", 3)]
    with _pytest.raises(ValueError, match="magic"):
        sqlite_tables(b"not a database at all----")

    write_sqlite(
        str(tmp_path / "b.sqlite"), "t", ["k", "name", "x"],
        [(9, "zeta", 0)],
    )
    got = read_sqlite(
        spark, str(tmp_path / "*.sqlite"), "t", ["k", "name", "x"]
    ).collect()
    rows = {(r["file"], r["k"]): (r["name"], r["x"]) for r in got}
    assert len(rows) == 4
    assert rows[("a.sqlite", "2")] == ("béta", None)  # NULL survives
    assert rows[("a.sqlite", "3")] == ("c,c", "-7")
    assert rows[("b.sqlite", "9")] == ("zeta", "0")


def test_pdf_codec_roundtrip_and_operators():
    import zlib as _zlib

    import pytest as _pytest

    from blueforty___etl_data_pipeline_spark.sources.pdf import (
        PdfFile,
        _extract_text_ops,
        extract_pdf_text,
        write_pdf,
    )

    pages = [
        ["Hello PDF world", "second (line) with \\ escapes"],
        ["page two"],
    ]
    blob = write_pdf(pages)
    assert extract_pdf_text(blob) == [
        (0, "Hello PDF world\nsecond (line) with \\ escapes"),
        (1, "page two"),
    ]
    # byte-deterministic writer
    assert write_pdf(pages) == blob

    # content-stream operator coverage beyond the writer's output:
    # TJ kerning arrays, hex strings, the ' (quote) operator, octal
    ops = (
        b"BT /F1 12 Tf 72 720 Td "
        b"[(ab) -120 (cd)] TJ "
        b"T* (next) Tj "
        b"(quoted) ' "
        b"<48454C4C4F> Tj "
        b"(\\101\\102) Tj "
        b"ET"
    )
    assert _extract_text_ops(ops) == "abcd\nnext\nquotedHELLOAB"

    # \8 and \9 are NOT octal escapes (PDF 32000-1 §7.3.4.2): the
    # backslash drops and the digit survives — previously an
    # AttributeError from the failed octal regex match
    assert _extract_text_ops(b"BT (\\8\\9ok\\101) Tj ET") == "89okA"

    # gates, by name
    with _pytest.raises(ValueError, match="%PDF-"):
        extract_pdf_text(b"not a pdf at all")
    with _pytest.raises(NotImplementedError, match="xref"):
        # startxref points at an object, not a classic xref table ->
        # the PDF 1.5 xref-stream shape
        extract_pdf_text(
            b"%PDF-1.5\n1 0 obj\n<< >>\nendobj\n"
            b"startxref\n9\n%%EOF\n"
        )
    bad_filter = blob.replace(b"FlateDecode", b"LZWDecodexx", 1)
    with _pytest.raises((NotImplementedError, ValueError)):
        extract_pdf_text(bad_filter)
    # uncompressed stream (no /Filter) also decodes
    raw_ops = b"BT (plain) Tj ET"
    comp = _zlib.compress(raw_ops)
    del comp
    pdf = PdfFile(blob)
    assert len(pdf.pages()) == 2


def test_read_pdf_distributed(spark, tmp_path):
    from blueforty___etl_data_pipeline_spark.sources.pdf import (
        read_pdf,
        write_pdf,
    )

    for i in range(2):
        (tmp_path / f"f{i}.pdf").write_bytes(
            write_pdf([[f"file {i} page {j}"] for j in range(i + 2)])
        )
    got = read_pdf(spark, str(tmp_path / "*.pdf")).collect()
    assert len(got) == 5  # 2 + 3 pages
    by = {(r["file"], r["page"]): r["text"] for r in got}
    assert by[("f1.pdf", 2)] == "file 1 page 2"


def test_mbox_framing_quoting_and_parse():
    import pytest as _pytest

    from blueforty___etl_data_pipeline_spark.sources.mbox import (
        build_mbox,
        parse_message,
        split_mbox,
    )

    body = "line one\nFrom the start\n>From already quoted\nend"
    mb = build_mbox(
        [
            ("a@x.org", "Thu Jan  1 00:00:00 2026", "hello", body),
            ("b@y.org", "Fri Jan  2 00:00:00 2026", "ok", "short"),
        ]
    )
    msgs = split_mbox(mb)
    assert len(msgs) == 2  # the body From_ lines did NOT shear it
    p0 = parse_message(msgs[0])
    assert p0["from_addr"] == "a@x.org" and p0["body_text"] == body
    assert parse_message(msgs[1])["subject"] == "ok"
    with _pytest.raises(ValueError, match="mbox"):
        split_mbox(b"not a mailbox")


def test_arrow_ipc_roundtrip_and_magic_gate(spark, tmp_path):
    import pyarrow as pa
    import pytest as _pytest

    from blueforty___etl_data_pipeline_spark.sources.arrow_ipc import (
        arrow_ipc_schema,
        read_arrow_ipc,
        write_arrow_ipc,
    )

    t = pa.table(
        {"k": pa.array([1, 2, None], pa.int64()),
         "v": pa.array(["a", "b", "c"])}
    )
    p = str(tmp_path / "x.arrow")
    assert write_arrow_ipc(p, t) == 3
    blob = open(p, "rb").read()
    assert arrow_ipc_schema(blob) == [("k", "int64"), ("v", "string")]
    with _pytest.raises(ValueError, match="ARROW1"):
        arrow_ipc_schema(b"PAR1 not arrow")
    got = {
        (r["file"], r["v"]): r["k"]
        for r in read_arrow_ipc(
            spark, str(tmp_path / "*.arrow"), ["k", "v"]
        ).collect()
    }
    assert got == {
        ("x.arrow", "a"): "1", ("x.arrow", "b"): "2",
        ("x.arrow", "c"): None,
    }


def test_compressed_lines_magic_dispatch(spark, tmp_path):
    import pytest as _pytest

    from blueforty___etl_data_pipeline_spark.sources.compressed_text import (
        decompress_auto,
        read_compressed_lines,
        sniff_compression,
        write_compressed_lines,
    )

    lines = ["alpha", "", "gamma with spaces"]  # empty line is a record
    for i, codec in enumerate(("gzip", "xz", "bzip2", "none")):
        write_compressed_lines(
            str(tmp_path / f"p{i}.jsonl.zz"), lines, codec
        )
    # magic sniff, not filename
    blob = open(tmp_path / "p1.jsonl.zz", "rb").read()
    assert sniff_compression(blob) == "xz"
    assert decompress_auto(blob) == ("\n".join(lines) + "\n").encode()
    # truncated stream raises, never silently-short
    with _pytest.raises(Exception):
        decompress_auto(blob[:-3])

    got = read_compressed_lines(
        spark, str(tmp_path / "*.jsonl.zz")
    ).collect()
    assert len(got) == 12  # 3 lines x 4 files (empty line kept)
    by = {}
    for r in got:
        by.setdefault(r["codec"], []).append((r["line_no"], r["line"]))
    assert set(by) == {"gzip", "xz", "bzip2", "none"}
    for v in by.values():
        assert sorted(v) == [(0, "alpha"), (1, ""), (2, "gamma with spaces")]


def test_zip_codec_deterministic_and_distributed_read(spark, tmp_path):
    import zlib as _zlib

    import pytest as _pytest

    from blueforty___etl_data_pipeline_spark.sources.zip_archive import (
        parse_zip_members,
        read_zip,
        write_zip,
        write_zip_shards,
    )

    entries = [("b.txt", b"beta"), ("a.txt", b"alpha")]
    blob = write_zip(entries)
    assert write_zip(entries) == blob  # byte-deterministic
    got = parse_zip_members(blob)
    assert [(n, p) for n, _, _, p in got] == entries
    assert all(crc == _zlib.crc32(p) for _, _, crc, p in got)
    with _pytest.raises(ValueError, match="duplicate"):
        write_zip([("x", b"1"), ("x", b"2")])

    # stdlib zipfile must read our writer's output (interop proof)
    import io
    import zipfile as _zf

    with _zf.ZipFile(io.BytesIO(blob)) as z:
        assert z.read("a.txt") == b"alpha"

    # distributed shard write + central-directory scan
    rows = [(f"s{i % 2}", f"{i}.txt", f"payload-{i}".encode()) for i in range(6)]
    df = spark.createDataFrame(rows, "shard string, member string, payload binary")
    out = str(tmp_path / "zips")
    write_zip_shards(df, out, "member", "payload", "shard")
    members = read_zip(spark, out + "/*.zip").collect()
    assert len(members) == 6
    by_name = {r["name"]: r for r in members}
    for i in range(6):
        r = by_name[f"{i}.txt"]
        assert bytes(r["payload"]) == f"payload-{i}".encode()
        assert r["n_bytes"] == len(f"payload-{i}")
        assert r["crc32"] == _zlib.crc32(f"payload-{i}".encode())
        assert r["archive"] == f"s{i % 2}.zip"
