"""SCD2 storage path, streaming foreachBatch upsert, incremental
availableNow loads, and the read-layer API."""

from __future__ import annotations

import json

import pytest

from pyspark.sql import functions as F

from evolution_data_warehouse_spark.api import TableReadAPI
from evolution_data_warehouse_spark.streaming.incremental import (
    incremental_append,
    read_target,
)
from evolution_data_warehouse_spark.warehouse.scd_store import (
    read_dimension,
    scd2_foreach_batch,
    upsert_scd2,
)

TS1 = "2024-01-01 00:00:00"
TS2 = "2024-06-01 00:00:00"


def _snap(spark, rows):
    return spark.createDataFrame(rows, schema="code string, nom string")


def test_scd2_store_lifecycle(spark, tmp_path):
    d = str(tmp_path / "dim_geo")
    assert read_dimension(spark, d) is None

    v1 = upsert_scd2(
        spark, d, _snap(spark, [("59", "Lille"), ("62", "Arras")]),
        "code", ["nom"], F.lit(TS1).cast("timestamp"),
    )
    assert v1 == 1
    assert read_dimension(spark, d).count() == 2

    # rename 59, add 80
    v2 = upsert_scd2(
        spark, d,
        _snap(spark, [("59", "Lille-Metropole"), ("62", "Arras"), ("80", "Amiens")]),
        "code", ["nom"], F.lit(TS2).cast("timestamp"),
    )
    assert v2 == 2
    dim = read_dimension(spark, d)
    assert dim.count() == 4  # closed v1 + new v2 + unchanged + brand-new
    active = {r.code: r.nom for r in dim.filter(F.col("est_actif")).collect()}
    assert active == {"59": "Lille-Metropole", "62": "Arras", "80": "Amiens"}
    closed = dim.filter(~F.col("est_actif")).first()
    assert closed.code == "59" and closed.nom == "Lille"


def test_scd2_foreach_batch_stream(spark, tmp_path):
    src = str(tmp_path / "snapshots")
    table_dir = str(tmp_path / "dim_stream")
    _snap(spark, [("59", "Lille")]).withColumn(
        "_effective_ts", F.lit(TS1).cast("timestamp")
    ).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(
        "code string, nom string, _effective_ts timestamp"
    ).parquet(src)
    q = (
        stream.writeStream.foreachBatch(
            scd2_foreach_batch(table_dir, "code", ["nom"])
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    dim = read_dimension(spark, table_dir)
    assert dim.count() == 1 and dim.first().est_actif is True


def test_incremental_append_exactly_once(spark, tmp_path):
    src = str(tmp_path / "landing")
    out = str(tmp_path / "staged")
    ckpt = str(tmp_path / "ckpt2")
    schema = "id long, v double"
    spark.createDataFrame([(1, 1.0), (2, 2.0)], schema).write.mode(
        "append"
    ).parquet(src)
    incremental_append(spark, src, schema, out, ckpt)
    assert read_target(spark, out, schema).count() == 2

    # Re-run without new files: nothing re-ingested (idempotence).
    incremental_append(spark, src, schema, out, ckpt)
    assert read_target(spark, out, schema).count() == 2

    # New file: only the delta lands.
    spark.createDataFrame([(3, 3.0)], schema).write.mode("append").parquet(src)
    incremental_append(spark, src, schema, out, ckpt)
    assert read_target(spark, out, schema).count() == 3


def test_read_api(spark, sf_dir):
    from evolution_data_warehouse_spark.queries.common import t

    t(spark, sf_dir, "region").createOrReplaceTempView("region_api")
    t(spark, sf_dir, "nation").createOrReplaceTempView("nation_api")
    api = TableReadAPI(spark, ["region_api", "nation_api"])

    rows = api.get_table("region_api")
    assert len(rows) == 5 and "r_name" in rows[0]
    assert len(api.get_table("nation_api", limit=3)) == 3
    # bounds clamped to [1, 1000] (tables.py:25)
    assert len(api.get_table("nation_api", limit=10**9)) == 25
    assert len(api.get_table("nation_api", limit=-5)) == 1
    with pytest.raises(PermissionError):
        api.get_table("lineitem")

    summary = {s["table"]: s for s in api.summary()}
    assert summary["region_api"]["n_rows"] == 5

    # WSGI surface
    captured = {}
    def start_response(status, headers):
        captured["status"] = status
    body = api.wsgi_app(
        {"PATH_INFO": "/tables/region_api", "QUERY_STRING": "limit=2"},
        start_response,
    )
    assert captured["status"] == "200 OK"
    assert len(json.loads(body[0])) == 2
    api.wsgi_app({"PATH_INFO": "/tables/secret", "QUERY_STRING": ""}, start_response)
    assert captured["status"] == "403 Forbidden"


def test_scd2_time_travel(spark, tmp_path):
    d = str(tmp_path / "dim_tt")
    upsert_scd2(
        spark, d, _snap(spark, [("59", "Lille")]),
        "code", ["nom"], F.lit(TS1).cast("timestamp"),
    )
    upsert_scd2(
        spark, d, _snap(spark, [("59", "Lille-Metropole")]),
        "code", ["nom"], F.lit(TS2).cast("timestamp"),
    )
    v1 = read_dimension(spark, d, version=1)
    assert v1.count() == 1 and v1.first().nom == "Lille"
    cur = read_dimension(spark, d)
    assert cur.count() == 2  # closed + new version
    with pytest.raises(FileNotFoundError):
        read_dimension(spark, d, version=99)


def test_scd2_retention_and_version_claim(spark, tmp_path):
    import os

    from evolution_data_warehouse_spark.warehouse.manifest import (
        list_versions,
        retention_cleanup,
    )

    d = str(tmp_path / "dim_ret")
    for i, nom in enumerate(["A", "B", "C", "D"]):
        upsert_scd2(
            spark, d, _snap(spark, [("59", nom)]),
            "code", ["nom"], F.lit(TS1).cast("timestamp"),
        )
    assert list_versions(spark, d) == [1, 2, 3, 4]

    # A concurrent publisher that already claimed v5 forces the next
    # merge to skip to v6 instead of silently overwriting v5.
    os.mkdir(os.path.join(d, "v5"))
    v = upsert_scd2(
        spark, d, _snap(spark, [("59", "E")]),
        "code", ["nom"], F.lit(TS2).cast("timestamp"),
    )
    assert v == 6
    # the claimed v5 was never published, so it is no version
    assert list_versions(spark, d) == [1, 2, 3, 4, 6]

    # keep the newest two published versions; the unpublished v5 above
    # the window is left to its publisher
    deleted = retention_cleanup(spark, d, keep_last=2)
    assert deleted == [1, 2, 3]
    assert list_versions(spark, d) == [4, 6]
    assert os.path.isdir(os.path.join(d, "v5"))
    # current pointer target survives and stays readable
    assert read_dimension(spark, d).count() > 0
