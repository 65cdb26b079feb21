"""End-to-end warehouse tests: dimension seeds, the six fact builders,
and the full ETL DAG over FIXTURES.md-shaped staging CSVs."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from evolution_data_warehouse_spark.operators.arrow_map import local_table
from evolution_data_warehouse_spark.sources.staging import prepare_tables
from evolution_data_warehouse_spark.warehouse import dimensions as dims_mod
from evolution_data_warehouse_spark.warehouse import facts as facts_mod
from evolution_data_warehouse_spark.warehouse.demo import (
    DEPTS,
    YEARS,
    make_specs,
    write_fixtures,
)
from evolution_data_warehouse_spark.warehouse.etl import run_full_etl


@pytest.fixture(scope="module")
def staged(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("warehouse_fixtures"))
    paths = write_fixtures(root)
    return prepare_tables(spark, make_specs(paths))


@pytest.fixture(scope="module")
def dims(spark):
    return dims_mod.build_all(spark)


def test_dimension_seeds(spark, dims):
    assert dims["dim_temps"].count() == 15  # 2010-2024 (BASELINE: 14+1)
    census = dims["dim_temps"].filter(F.col("est_annee_recensement"))
    assert {r.annee for r in census.collect()} == {2010, 2015, 2021}
    assert dims["dim_geographie"].count() == 5
    assert dims["dim_demographie"].count() == 12  # 3 sexes × 4 ages
    assert dims["dim_activite"].count() == 27  # 20 NAF + 7 legal forms
    # surrogate keys dense + deterministic
    ids = sorted(r.temps_id for r in dims["dim_temps"].collect())
    assert ids == list(range(1, 16))


def test_fait_population(spark, staged, dims):
    fact = facts_mod.fait_population(staged["stg_population"], dims)
    assert fact.count() > 0
    # every key resolves against its dimension (FK integrity)
    assert (
        fact.join(dims["dim_temps"], "temps_id", "left_anti").count() == 0
    )
    assert fact.filter(F.col("population") < 0).count() == 0


def test_fait_evenements_solde(spark, staged, dims):
    fact = facts_mod.fait_evenements_demo(
        staged["stg_naissances"], staged["stg_deces"], dims
    )
    rows = fact.collect()
    assert len(rows) == len(YEARS) * len(DEPTS)
    for r in rows:
        assert r.solde_naturel == r.naissances - r.deces


def test_fait_entreprises_excludes_unknown_naf(spark, staged, dims):
    fact = facts_mod.fait_entreprises(staged["stg_creation_entreprises"], dims)
    act = dims["dim_activite"]
    assert fact.join(act, "activite_id", "left_anti").count() == 0
    assert fact.count() > 0


def test_fait_revenus_pivot(spark, staged, dims):
    fact = facts_mod.fait_revenus(staged["stg_ds_filosofi"], dims)
    assert {
        "niveau_vie_median", "decile_1", "decile_9", "taux_pauvrete",
    } <= set(fact.columns)
    assert fact.count() == len(YEARS) * len(DEPTS)
    assert fact.filter(F.col("niveau_vie_median").isNull()).count() == 0


def test_fait_emploi_rate(spark, staged, dims):
    fact = facts_mod.fait_emploi(staged["stg_emploi_chomage"], dims)
    row = fact.first()
    assert row.taux_chomage == pytest.approx(
        row.population_chomage / row.population_active * 100.0
    )


def test_fait_menages_taille(spark, staged, dims):
    fact = facts_mod.fait_menages(staged["stg_menage"], dims)
    row = fact.first()
    assert row.taille_moyenne == pytest.approx(row.nb_personnes / row.nb_menages)


def test_fait_logement_rate(spark, staged, dims):
    fact = facts_mod.fait_logement(staged["stg_logement"], dims)
    assert fact.filter(F.col("taux_suroccupation") > 100.0).count() == 0


def test_full_etl_end_to_end(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("etl_src"))
    out = str(tmp_path_factory.mktemp("etl_out"))
    specs = make_specs(write_fixtures(root))
    communes = local_table(
        spark,
        [
            ("59350", "Lille", "59", 236_000),
            ("62041", "Arras", "62", 42_000),
            ("59001", "Petit", "59", 500),
        ],
        "commune_code string, commune_nom string, "
        "departement_code string, population long",
    )
    report, validations = run_full_etl(spark, specs, out, communes)
    statuses = {r.name: r.status for r in report.results}
    assert statuses == {
        "staging": "OK", "security": "OK", "dimensions": "OK", "facts": "OK",
    }
    assert all(v.ok for v in validations), [v for v in validations if not v.ok]
    # written tables readable + communes landed in dim_geographie
    geo = spark.read.parquet(f"{out}/dim_geographie")
    assert geo.filter(F.col("niveau_geo") == "COMMUNE").count() == 3
    pop = spark.read.parquet(f"{out}/fait_population")
    assert pop.count() > 0


def test_incremental_fact_partition_overwrite(spark, tmp_path):
    from evolution_data_warehouse_spark.warehouse.etl import (
        write_fact_incremental,
    )

    out = str(tmp_path / "wh")
    full = spark.createDataFrame(
        [(1, 10, 100.0), (1, 20, 110.0), (2, 10, 200.0), (2, 20, 210.0)],
        schema="temps_id int, geo_id int, measure double",
    )
    write_fact_incremental(full, out, "fait_x")
    assert spark.read.parquet(f"{out}/fait_x").count() == 4

    # Re-load ONLY period 2 with corrected numbers: period 1 untouched.
    fixed = spark.createDataFrame(
        [(2, 10, 999.0)], schema="temps_id int, geo_id int, measure double"
    )
    mode = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(mode)
    write_fact_incremental(fixed, out, "fait_x")
    # dynamic overwrite is a writer option: the session keeps its mode
    assert spark.conf.get(mode) == before
    got = spark.read.parquet(f"{out}/fait_x")
    assert got.count() == 3  # 2 rows of period 1 + 1 corrected row
    assert got.filter("temps_id = 1").count() == 2
    assert got.filter("temps_id = 2").first().measure == 999.0
    # partition pruning: a period-1 read lists only its partition
    plan = got.filter("temps_id = 1")._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(temps_id" in plan


def test_write_table_runs_single_job(spark, sf_dir, tmp_path):
    # The row count must piggyback on the write job via observe() — a
    # post-write count() would recompute the plan as a second job,
    # doubling every load at scale. A shuffle-free write is exactly one
    # job; only AQE shuffle-stage materialization may add more.
    from evolution_data_warehouse_spark.queries.common import t
    from evolution_data_warehouse_spark.warehouse.etl import write_table

    sc = spark.sparkContext
    df = t(spark, sf_dir, "region")
    sc.setJobGroup("wt_single_job_probe", "write_table probe")
    try:
        n = write_table(df, str(tmp_path), "region_copy")
    finally:
        sc.setJobGroup("wt_other", "")
    jobs = sc.statusTracker().getJobIdsForGroup("wt_single_job_probe")
    assert len(jobs) == 1
    assert n == df.count()
    assert spark.read.parquet(str(tmp_path / "region_copy")).count() == n


def test_write_clustered_files_own_disjoint_ranges(spark, sf_dir, tmp_path):
    import glob

    import pyarrow.parquet as pq

    from evolution_data_warehouse_spark.warehouse.etl import write_clustered

    df = spark.read.parquet(f"{sf_dir}/orders.parquet")
    path = write_clustered(df, str(tmp_path), "orders_clustered", ["o_custkey"])

    # parquet footer stats per file: the clustered layout must give each
    # file a key range that overlaps no other file — that is what lets a
    # selective read prune whole files from the footer alone
    ranges = []
    for f in sorted(glob.glob(f"{path}/*.parquet")):
        md = pq.ParquetFile(f).metadata
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            col = next(
                md.row_group(rg).column(i)
                for i in range(md.row_group(rg).num_columns)
                if md.row_group(rg).column(i).path_in_schema == "o_custkey"
            )
            mins.append(col.statistics.min)
            maxs.append(col.statistics.max)
        ranges.append((min(mins), max(maxs)))
    assert len(ranges) > 1
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, f"file ranges overlap: ({lo1},{hi1}) vs ({lo2},{hi2})"

    # and nothing was lost or duplicated
    assert spark.read.parquet(path).count() == df.count()


def test_compact_small_files_preserves_data(spark, sf_dir, tmp_path):
    import glob

    from pyspark.sql import functions as F

    from evolution_data_warehouse_spark.warehouse.etl import compact_small_files
    from evolution_data_warehouse_spark.warehouse.manifest import (
        list_versions,
        publish,
        read_version,
    )

    src = spark.read.parquet(f"{sf_dir}/nation.parquet")
    path = str(tmp_path / "nation_many")
    publish(spark, path, src.repartition(16).write.mode("append").parquet)
    assert len(glob.glob(f"{path}/v1/*.parquet")) == 16

    n_files = compact_small_files(spark, path, target_files=2)
    assert n_files <= 2
    assert list_versions(spark, path) == [1, 2]
    assert len(glob.glob(f"{path}/v2/*.parquet")) == n_files
    # readers of the fragmented v1 are untouched by the compaction
    assert len(glob.glob(f"{path}/v1/*.parquet")) == 16

    after = read_version(spark, path)
    assert after.count() == src.count()
    assert after.exceptAll(src).count() == 0


def test_partitioned_fact_join_triggers_dynamic_partition_pruning(
    spark, sf_dir, tmp_path
):
    from pyspark.sql import functions as F

    # fact partitioned on the join key's dim attribute: the classic
    # warehouse layout where a selective dim filter must prune fact
    # PARTITIONS at runtime (DPP), not just push a column predicate
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    fact_path = str(tmp_path / "orders_by_status")
    orders.write.partitionBy("o_orderstatus").mode("overwrite").parquet(
        fact_path
    )

    fact = spark.read.parquet(fact_path)
    dim = spark.createDataFrame(
        [("F", "closed"), ("O", "open"), ("P", "pending")],
        "status string, label string",
    ).filter(F.col("label") == "open")

    joined = fact.join(dim, fact.o_orderstatus == dim.status)
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]

    # and the pruning is semantically right: only the 'O' partition rows
    expected = orders.filter(F.col("o_orderstatus") == "O").count()
    assert joined.count() == expected


def test_zorder_clustering_bounds_both_dimensions(spark, sf_dir, tmp_path):
    import glob

    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    from evolution_data_warehouse_spark.warehouse.etl import (
        write_clustered,
        zorder_key,
    )

    from pyspark.sql import Window as W

    BITS = 8
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    # true rank normalization (zorder_key's documented contract) so the
    # test holds at ANY fixture scale, not just custkey < 2^BITS
    def ranked(col):
        pr = F.percent_rank().over(W.orderBy(F.col(col)))
        return F.least(
            F.floor(pr * (2**BITS)).cast("bigint"), F.lit(2**BITS - 1)
        )

    z = orders.withColumn(
        "zk", zorder_key(ranked("o_custkey"), ranked("o_totalprice"), bits=BITS)
    )
    path = write_clustered(z, str(tmp_path), "orders_z", ["zk"], n_files=8)

    def file_ranges(col_name):
        out = []
        for f in sorted(glob.glob(f"{path}/*.parquet")):
            md = pq.ParquetFile(f).metadata
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                col = next(
                    md.row_group(rg).column(i)
                    for i in range(md.row_group(rg).num_columns)
                    if md.row_group(rg).column(i).path_in_schema == col_name
                )
                mins.append(col.statistics.min)
                maxs.append(col.statistics.max)
            out.append((min(mins), max(maxs)))
        return out

    # Z-order clustering must bound BOTH dimensions per file: the sum
    # of per-file ranges should be well under n_files × the global
    # range (which is what a random layout gives on both, and what a
    # single-column sort gives on the second column)
    n = len(glob.glob(f"{path}/*.parquet"))
    assert n > 1
    for col_name in ("o_custkey", "o_totalprice"):
        ranges = file_ranges(col_name)
        glo = max(hi for _, hi in ranges) - min(lo for lo, _ in ranges)
        covered = sum(hi - lo for lo, hi in ranges)
        # random layout: covered ≈ n × glo; z-order must do better
        assert covered < 0.8 * n * glo, (col_name, covered, n * glo)

    assert spark.read.parquet(path).count() == orders.count()


def test_manifest_publish_atomic_and_consistent(spark, sf_dir, tmp_path):
    """Manifest-pointer publishing: readers resolve _CURRENT first, so
    a half-written next version is invisible; multi-table flips are
    all-or-nothing; retention keeps the window."""
    import os

    from evolution_data_warehouse_spark.queries.common import t
    from evolution_data_warehouse_spark.warehouse.manifest import (
        current_version,
        publish_versioned,
        read_current,
    )

    root = str(tmp_path / "store")
    orders = t(spark, sf_dir, "orders").limit(100)
    cust = t(spark, sf_dir, "customer").limit(50)

    v1 = publish_versioned(spark, {"orders": orders, "customer": cust}, root)
    assert v1 == 1 and current_version(spark, root) == 1
    assert read_current(spark, root, "orders").count() == 100

    # v2 changes BOTH tables; readers must never see a mixed pair
    v2 = publish_versioned(
        spark,
        {"orders": orders.limit(10), "customer": cust.limit(5)},
        root,
    )
    assert v2 == 2
    assert read_current(spark, root, "orders").count() == 10
    assert read_current(spark, root, "customer").count() == 5

    # crash-before-flip simulation: write a v3 directory WITHOUT
    # flipping the pointer — readers stay on v2, garbage is invisible
    orders.limit(3).write.parquet(f"{root}/v3/orders")
    assert current_version(spark, root) == 2
    assert read_current(spark, root, "orders").count() == 10

    # the crashed v3 holds a claimed directory, so the next publish
    # skips it (never writes into another publisher's version) and
    # lands on v4; retention then drops everything below the window
    assert publish_versioned(spark, {"orders": orders}, root, keep_last=2) == 4
    assert current_version(spark, root) == 4
    assert read_current(spark, root, "orders").count() == 100
    publish_versioned(spark, {"orders": orders.limit(7)}, root, keep_last=2)
    assert current_version(spark, root) == 5
    assert not os.path.exists(f"{root}/v1")
    assert not os.path.exists(f"{root}/v2")
    assert not os.path.exists(f"{root}/v3")
    assert os.path.exists(f"{root}/v4")
    # pointer flips go through write-temp-then-rename-overwrite (the r7
    # ADVICE fix: bare create-with-overwrite truncates in place on
    # HDFS/local, exposing an empty pointer mid-write) — no temp objects
    # may survive a publish
    assert not [f for f in os.listdir(root) if f.endswith(".tmp")]


def test_manifest_publish_skips_a_claimed_version(spark, sf_dir, tmp_path):
    """A version another publisher has claimed (its table directory
    half-written) is skipped: the next publish takes N+1, and finishing
    the other publisher's table never changes what readers see."""
    from evolution_data_warehouse_spark.queries.common import t
    from evolution_data_warehouse_spark.warehouse.manifest import (
        list_versions,
        publish_versioned,
        read_current,
    )

    root = str(tmp_path / "store")
    orders = t(spark, sf_dir, "orders").limit(100)
    cust = t(spark, sf_dir, "customer").limit(50)
    first = publish_versioned(spark, {"orders": orders, "customer": cust}, root)

    # another publisher claimed the next version and wrote its orders
    other = f"{root}/v{first + 1}"
    orders.limit(3).write.parquet(f"{other}/orders")
    v = publish_versioned(
        spark, {"orders": orders.limit(10), "customer": cust.limit(5)}, root
    )
    # ... and now finishes its customer table
    cust.limit(2).write.mode("overwrite").parquet(f"{other}/customer")

    assert v == first + 2
    assert read_current(spark, root, "orders").count() == 10
    assert read_current(spark, root, "customer").count() == 5
    assert list_versions(spark, root) == [first, v]


def test_manifest_claim_file_on_non_local_schemes(spark, tmp_path, monkeypatch):
    """Off the local filesystem a version is claimed by creating its
    ``_CLAIM`` file without overwrite; a second claim of the same
    version fails."""
    from evolution_data_warehouse_spark.warehouse import manifest

    vdir = str(tmp_path / "store" / "v1")
    jvm, fs, _ = manifest._fs(spark, vdir)
    path = jvm.org.apache.hadoop.fs.Path
    monkeypatch.setattr(
        manifest, "_fs", lambda s, p: (jvm, _NonLocal(fs), path(p))
    )
    assert manifest._claim(spark, vdir) is True
    assert (tmp_path / "store" / "v1" / "_CLAIM").exists()
    assert manifest._claim(spark, vdir) is False


def test_manifest_concurrent_publishers_never_share_a_version(spark, tmp_path):
    """More publishers than cores race for the same root: every one gets
    its own version, and each version holds only its publisher's write."""
    import os
    import sys
    import threading

    from evolution_data_warehouse_spark.warehouse.manifest import (
        current_version,
        publish,
    )

    root = str(tmp_path / "store")
    n = 2 * (os.cpu_count() or 1) + 2
    got: dict[int, int] = {}

    def publisher(i: int) -> None:
        def write(vdir: str) -> None:
            with open(os.path.join(vdir, "who"), "w") as f:
                f.write(str(i))

        got[i] = publish(spark, root, write)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=publisher, args=(i,)) for i in range(n)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(th.is_alive() for th in threads)
    assert sorted(got.values()) == list(range(1, n + 1))
    for i, v in got.items():
        assert (tmp_path / "store" / f"v{v}" / "who").read_text() == str(i)
    assert current_version(spark, root) in got.values()


def test_manifest_pointer_never_moves_backwards(spark, tmp_path):
    """A publisher that claimed v1 but finishes after another publisher
    flipped v2 commits v1 without moving the pointer back to it."""
    import threading

    from evolution_data_warehouse_spark.warehouse.manifest import (
        current_version,
        list_versions,
        publish,
    )

    root = str(tmp_path / "store")
    claimed, release = threading.Event(), threading.Event()
    got: dict[str, int] = {}

    def slow_write(vdir: str) -> None:
        claimed.set()
        release.wait(120)

    slow = threading.Thread(
        target=lambda: got.update(slow=publish(spark, root, slow_write))
    )
    slow.start()
    try:
        assert claimed.wait(120)
        got["fast"] = publish(spark, root, lambda vdir: None)
    finally:
        release.set()
        slow.join(120)
    assert got == {"slow": 1, "fast": 2}
    assert current_version(spark, root) == 2
    assert list_versions(spark, root) == [1, 2]


def test_run_etl_rejects_skip_before_a_session_starts(monkeypatch, tmp_path):
    """``--skip`` is not an option: argparse rejects it before
    ``get_spark`` runs."""
    from evolution_data_warehouse_spark import run_etl, session

    def no_session(*args, **kwargs):
        raise AssertionError("a session started")

    monkeypatch.setattr(session, "get_spark", no_session)
    with pytest.raises(SystemExit) as exc:
        run_etl.main(["--demo", "--out", str(tmp_path), "--skip", "security"])
    assert exc.value.code == 2


class _NonLocal:
    """A Hadoop FileSystem handle that reports a non-local scheme."""

    def __init__(self, fs):
        self._fs = fs

    def getScheme(self):
        return "hdfs"

    def __getattr__(self, name):
        return getattr(self._fs, name)


def test_manifest_unreadable_marker_fails_loudly(spark, tmp_path):
    """An EXISTING but non-integer _CURRENT pointer means a publish
    happened and something is wrong — current_version must raise, not
    return 0 (which would restart numbering at v1 and clobber live
    data). A missing pointer still means 'never published'."""
    import threading

    import pytest

    from evolution_data_warehouse_spark.warehouse.manifest import (
        current_version,
    )

    root = str(tmp_path / "store")
    pointer = tmp_path / "store" / "_CURRENT"
    assert current_version(spark, root) == 0  # missing → never published
    (tmp_path / "store").mkdir()
    pointer.write_text("")  # torn write residue
    with pytest.raises(RuntimeError, match="marker"):
        current_version(spark, root)
    for garbage in ("{not json", "1.5", "v3"):
        pointer.write_text(garbage)
        with pytest.raises(RuntimeError, match="marker"):
            current_version(spark, root)
    pointer.write_text("123")  # the bare version number is the format
    assert current_version(spark, root) == 123
    # a pointer that becomes valid while retrying succeeds instead of
    # failing with the stale error
    pointer.write_text("")

    timer = threading.Timer(0.15, lambda: pointer.write_text("7"))
    timer.start()
    try:
        assert current_version(spark, root) == 7
    finally:
        timer.cancel()


def test_route_quarantine_single_scan_with_reasons(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from evolution_data_warehouse_spark.operators.quality import (
        route_quarantine,
    )
    from evolution_data_warehouse_spark.queries.common import t

    out = str(tmp_path / "routed")
    orders = t(spark, sf_dir, "orders")
    rules = {
        "price_positive": F.col("o_totalprice") > 0,
        "key_mod7": F.col("o_orderkey") % 7 != 0,
        "status_known": F.col("o_orderstatus").isin("O", "F", "P"),
    }
    counts = route_quarantine(orders, rules, out)
    n = orders.count()
    assert counts["clean"] + counts["quarantined"] == n
    expected_bad = orders.filter(
        ~((F.col("o_totalprice") > 0)
          & (F.col("o_orderkey") % 7 != 0)
          & F.col("o_orderstatus").isin("O", "F", "P"))
    ).count()
    assert counts["quarantined"] == expected_bad > 0

    routed = spark.read.parquet(out)
    bad = routed.filter(F.col("_route") == "quarantined")
    # every quarantined row carries at least one named reason
    assert bad.filter(F.col("_reason") == "").count() == 0
    assert bad.filter(F.col("_reason").contains("key_mod7")).count() > 0
    # clean rows carry no reason
    assert routed.filter(
        (F.col("_route") == "clean") & (F.col("_reason") != "")
    ).count() == 0


def test_route_quarantine_null_rule_result_quarantines(spark, tmp_path):
    """A NULL rule evaluation (e.g. `col > 0` on NULL) must route to
    quarantine WITH the rule's name — unknown is not a pass (r6 ADVICE:
    the bare ~cond formulation silently passed NULLs)."""
    from pyspark.sql import functions as F

    from evolution_data_warehouse_spark.operators.quality import (
        route_quarantine,
    )

    df = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, -5.0)], "id long, amount double"
    )
    out = str(tmp_path / "routed_null")
    counts = route_quarantine(df, {"amount_positive": F.col("amount") > 0}, out)
    assert counts == {"clean": 1, "quarantined": 2}
    routed = spark.read.parquet(out)
    bad = {
        r.id: r._reason
        for r in routed.filter(F.col("_route") == "quarantined").collect()
    }
    assert set(bad) == {2, 3}
    assert all("amount_positive" in v for v in bad.values())


def test_snapshot_diff_separator_collision_detected(spark):
    """Prefix-free payload hashing (r6 ADVICE): values containing the
    old separator byte must not let ('a\\x01b','c') vs ('a','b\\x01c')
    hash equal — a raw separator join dropped such rows as unchanged."""
    from evolution_data_warehouse_spark.warehouse.etl import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a\x01b", "c"), (2, "same", "same")], "id long, x string, y string"
    )
    new = spark.createDataFrame(
        [(1, "a", "b\x01c"), (2, "same", "same")], "id long, x string, y string"
    )
    got = {
        (r.id, r.change_type)
        for r in snapshot_diff(old, new, ["id"], ["x", "y"]).collect()
    }
    assert got == {(1, "changed")}

    # NULL vs empty-string still distinct
    old2 = spark.createDataFrame([(1, None)], "id long, x string")
    new2 = spark.createDataFrame([(1, "")], "id long, x string")
    got2 = {
        (r.id, r.change_type)
        for r in snapshot_diff(old2, new2, ["id"], ["x"]).collect()
    }
    assert got2 == {(1, "changed")}


def test_manifest_time_travel_api(spark, sf_dir, tmp_path):
    """read_version serves retained history, refuses unpublished or
    retention-dropped versions; list_versions excludes garbage past
    the pointer."""
    import pytest

    from evolution_data_warehouse_spark.queries.common import t
    from evolution_data_warehouse_spark.warehouse.manifest import (
        list_versions,
        publish_versioned,
        read_version,
        retention_cleanup,
    )

    root = str(tmp_path / "store")
    with pytest.raises(FileNotFoundError, match="not published"):
        read_version(spark, root, "orders")  # nothing published yet
    orders = t(spark, sf_dir, "orders").limit(50)
    publish_versioned(spark, {"orders": orders}, root)           # v1
    publish_versioned(spark, {"orders": orders.limit(20)}, root)  # v2
    assert list_versions(spark, root) == [1, 2]
    assert read_version(spark, root, "orders", 1).count() == 50
    assert read_version(spark, root, "orders", 2).count() == 20

    # unpublished directory past the pointer is not a version
    orders.limit(3).write.parquet(f"{root}/v9/orders")
    assert list_versions(spark, root) == [1, 2]
    with pytest.raises(FileNotFoundError, match="not published"):
        read_version(spark, root, "orders", 9)
    with pytest.raises(FileNotFoundError):
        read_version(spark, root, "orders", 0)

    # retention drops v1 (the v9 garbage stays past the pointer)
    publish_versioned(spark, {"orders": orders.limit(5)}, root, keep_last=2)
    assert list_versions(spark, root) == [2, 3]
    with pytest.raises(FileNotFoundError, match="retention"):
        read_version(spark, root, "orders", 1)
    # keep_last=1 drops exactly the one older version; the latest reads
    assert retention_cleanup(spark, root, keep_last=1) == [2]
    assert list_versions(spark, root) == [3]
    assert read_version(spark, root, "orders").count() == 5


def test_zorder_layout_bounds_both_dimensions(spark, sf_dir, tmp_path):
    """Physical Z-order layout (operators/layout.py::zorder_layout):
    the files written in curve order bound BOTH dimensions, so their
    per-file (x span x y span) rectangles are far smaller than a
    single-key-sorted layout's — the property that makes parquet
    min/max footer stats prune scans filtered on either column."""
    import glob

    from evolution_data_warehouse_spark.operators.layout import (
        zorder_layout,
    )
    from evolution_data_warehouse_spark.queries.common import t

    li = t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    zdir = str(tmp_path / "zorder")
    ldir = str(tmp_path / "linear")
    zorder_layout(li, "l_partkey", "l_suppkey", zdir, n_files=8)
    (
        li.repartitionByRange(8, "l_partkey")
        .sortWithinPartitions("l_partkey")
        .write.mode("overwrite")
        .parquet(ldir)
    )

    def spans(d: str) -> list[tuple[int, int]]:
        out = []
        for f in sorted(glob.glob(f"{d}/part-*.parquet")):
            st = (
                spark.read.parquet(f)
                .agg(
                    F.max("l_partkey") - F.min("l_partkey"),
                    F.max("l_suppkey") - F.min("l_suppkey"),
                )
                .collect()[0]
            )
            out.append((int(st[0]), int(st[1])))
        assert len(out) == 8, d
        return out

    gx, gy = (
        li.agg(
            F.max("l_partkey") - F.min("l_partkey"),
            F.max("l_suppkey") - F.min("l_suppkey"),
        ).collect()[0]
    )
    zs, ls = spans(zdir), spans(ldir)
    assert (
        spark.read.parquet(zdir).count()
        == spark.read.parquet(ldir).count()
        == li.count()
    )
    # single-key sort: every file's y span is the FULL global range —
    # a filter on l_suppkey prunes nothing
    assert all(y == gy for _, y in ls), (ls, gy)
    # z-order: both dimensions bounded simultaneously (each file covers
    # a small rectangle), so min/max stats prune on EITHER predicate
    assert sum(x for x, _ in zs) / 8 < 0.66 * gx, (zs, gx)
    assert sum(y for _, y in zs) / 8 < 0.66 * gy, (zs, gy)


def test_log_error_appends_and_open_errors_ages(spark, tmp_path):
    """log_error appends one row per call; open_errors keeps the
    unresolved ones with their age in whole hours at ``as_of``."""
    from evolution_data_warehouse_spark.operators.etl_log import (
        log_error,
        open_errors,
        read_error_log,
    )

    err_dir = str(tmp_path / "log_erreurs")
    log_error(spark, err_dir, 2**62 + 1, "2024-03-01 06:00:00", "facts", "FKViolation", "orphan geo_id")
    log_error(spark, err_dir, 7, "2024-03-02 23:59:59", "api", "Timeout", "")

    def as_text(df):
        return sorted(
            tuple(r)
            for r in df.withColumn("date_erreur", F.col("date_erreur").cast("string")).collect()
        )

    log = read_error_log(spark, err_dir)
    assert as_text(log) == [
        (7, "2024-03-02 23:59:59", "api", "Timeout", "", False),
        (2**62 + 1, "2024-03-01 06:00:00", "facts", "FKViolation", "orphan geo_id", False),
    ]
    opened = open_errors(log, F.lit("2024-03-03 00:00:00").cast("timestamp"))
    # 2024-03-01 06:00 → 2024-03-03 00:00 is 42 h; one second short of
    # midnight rounds down to 0 h
    assert as_text(opened) == [
        (7, "2024-03-02 23:59:59", "api", "Timeout", "", 0),
        (2**62 + 1, "2024-03-01 06:00:00", "facts", "FKViolation", "orphan geo_id", 42),
    ]
