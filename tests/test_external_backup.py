"""External connector gates."""

from __future__ import annotations

import pytest

from evolution_data_warehouse_spark.sources.external import (
    jdbc_available,
    list_blobs,
    read_jdbc,
    rest_to_dataframe,
    write_excel,
    write_jdbc,
)
from evolution_data_warehouse_spark.queries.common import t


def test_rest_fetch_stub(spark):
    import json

    def fetcher(url):
        dept = url[-2:]
        return json.dumps({"communes": [{"code": dept + "001", "nom": "X",
                                         "codeDepartement": dept}]})

    df = rest_to_dataframe(
        spark, fetcher, "https://api/communes?dept={}", ["59", "62"],
        schema="code string, nom string, codeDepartement string",
    )
    assert df.count() == 2
    assert {r.code for r in df.collect()} == {"59001", "62001"}


def test_jdbc_gate(spark):
    assert not jdbc_available(spark, "org.example.NoSuchDriver")
    with pytest.raises(RuntimeError, match="not on the classpath"):
        read_jdbc(spark, "jdbc:fake://x", "t", "org.example.NoSuchDriver")
    df = spark.range(3)
    with pytest.raises(RuntimeError, match="not on the classpath"):
        write_jdbc(df, "jdbc:fake://x", "t", "org.example.NoSuchDriver")


def test_excel_writes_real_openable_xlsx(spark, tmp_path):
    # The sink writes a genuine OOXML container with only the stdlib
    # (no openpyxl in this image): verify by unzipping and parsing the
    # sheet XML back into values, and that output is byte-deterministic.
    import zipfile
    import xml.etree.ElementTree as ET

    df = spark.createDataFrame(
        [(1, "a & <b>", 2.5, True, None), (2, "é", -3.0, False, "x")],
        "id long, s string, v double, flag boolean, opt string",
    )
    path = str(tmp_path / "out.xlsx")
    write_excel(df, path)

    ns = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
    with zipfile.ZipFile(path) as zf:
        assert set(zf.namelist()) == {
            "[Content_Types].xml", "_rels/.rels", "xl/workbook.xml",
            "xl/_rels/workbook.xml.rels", "xl/worksheets/sheet1.xml",
        }
        sheet = ET.fromstring(zf.read("xl/worksheets/sheet1.xml"))
    rows = []
    for row in sheet.iter(f"{ns}row"):
        vals = []
        for c in row.iter(f"{ns}c"):
            t_attr = c.get("t")
            if t_attr == "inlineStr":
                vals.append(c.find(f"{ns}is/{ns}t").text)
            elif t_attr == "b":
                vals.append(c.find(f"{ns}v").text == "1")
            else:
                v = c.find(f"{ns}v")
                vals.append(None if v is None else float(v.text))
        rows.append(vals)
    assert rows[0] == ["id", "s", "v", "flag", "opt"]
    assert rows[1] == [1.0, "a & <b>", 2.5, True, None]
    assert rows[2] == [2.0, "é", -3.0, False, "x"]

    # byte-determinism: fixed zip timestamps, no random part ordering
    path2 = str(tmp_path / "out2.xlsx")
    write_excel(df, path2)
    assert open(path, "rb").read() == open(path2, "rb").read()

    # the bound still applies: limit rows, never an unbounded collect
    big = spark.range(50)
    capped = str(tmp_path / "capped.xlsx")
    write_excel(big, capped, max_rows=5)
    with zipfile.ZipFile(capped) as zf:
        sheet = ET.fromstring(zf.read("xl/worksheets/sheet1.xml"))
    assert len(list(sheet.iter(f"{ns}row"))) == 6  # header + 5


def test_list_blobs(spark, sf_dir):
    names = list_blobs(spark, sf_dir, suffix=".parquet")
    assert "lineitem.parquet" in names and names == sorted(names)


def test_jdbc_roundtrip_embedded_derby(spark, sf_dir, tmp_path):
    # Spark ships Derby for its Hive metastore, so the JDBC write/read
    # path can execute for real — no network, no extra install.
    drv = "org.apache.derby.jdbc.EmbeddedDriver"
    if not jdbc_available(spark, drv):
        pytest.skip("embedded Derby not on the Spark classpath")
    spark._jvm.java.lang.System.setProperty(  # noqa: SLF001
        "derby.system.home", str(tmp_path)
    )
    url = f"jdbc:derby:{tmp_path}/db;create=true"
    src = t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    write_jdbc(src, url, "nation_t", drv, if_exists="replace", driver=drv)
    # if_exists="replace" must be idempotent (DROP + CREATE), like
    # pandas to_sql(if_exists="replace")
    write_jdbc(src, url, "nation_t", drv, if_exists="replace", driver=drv)
    back = read_jdbc(spark, url, "nation_t", drv, driver=drv)
    assert sorted((r.n_nationkey, r.n_name) for r in back.collect()) == sorted(
        (r.n_nationkey, r.n_name) for r in src.collect()
    )
    # append doubles the rows
    write_jdbc(src, url, "nation_t", drv, if_exists="append", driver=drv)
    assert read_jdbc(spark, url, "nation_t", drv, driver=drv).count() == 2 * src.count()


def test_excel_survives_hostile_strings(spark, tmp_path):
    # Corpus text contains control chars, XML metacharacters, quotes,
    # and exotic unicode; the sheet must stay parseable and whitespace-
    # preserving, with illegal XML chars replaced rather than emitted.
    import xml.etree.ElementTree as ET
    import zipfile

    hostile = [
        (1, "null\x00byte"),
        (2, "bell\x07and\x1besc"),
        (3, "<tag> & \"quotes\" 'single'"),
        (4, "  leading and trailing  "),
        (5, "tab\there\nnewline"),
        (6, "emoji \U0001f600 and CJK 漢字"),
    ]
    df = spark.createDataFrame(hostile, "id long, s string")
    path = str(tmp_path / "hostile.xlsx")
    write_excel(df, path)

    ns = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
    with zipfile.ZipFile(path) as zf:
        sheet = ET.fromstring(zf.read("xl/worksheets/sheet1.xml"))  # parses
    texts = {}
    for row in sheet.iter(f"{ns}row"):
        cells = list(row.iter(f"{ns}c"))
        if len(cells) == 2 and cells[0].find(f"{ns}v") is not None:
            rid = int(float(cells[0].find(f"{ns}v").text))
            t = cells[1].find(f"{ns}is/{ns}t")
            texts[rid] = t.text if t is not None else None
    assert texts[1] == "null�byte"
    assert texts[2] == "bell�and�esc"
    assert texts[3] == "<tag> & \"quotes\" 'single'"
    assert texts[4] == "  leading and trailing  "  # xml:space preserved
    assert texts[5] == "tab\there\nnewline"
    assert texts[6] == "emoji \U0001f600 and CJK 漢字"
