"""CLI entry point — the `python run_etl.py --full` analog.

Usage:
    python -m evolution_data_warehouse_spark.run_etl --demo --out OUT_DIR
    python -m evolution_data_warehouse_spark.run_etl \
        --staging-dir DIR_WITH_CSVS --out OUT_DIR

--demo generates FIXTURES.md-shaped staging CSVs first (warehouse/demo.py,
the generator the tests use too), then runs the full cascade-skip
pipeline: staging → security → dimensions → facts, then the orphan-key
validations, printing the JSON step report (run_etl.py:405-410 analog)
and writing the HTML report next to the warehouse output. The
reference's statistics refresh stage has no step here (warehouse/etl.py).
"""

from __future__ import annotations

import argparse
import json
import os


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description="Run the full warehouse ETL")
    parser.add_argument("--out", required=True, help="warehouse output dir")
    parser.add_argument("--staging-dir", help="directory of staging CSVs")
    parser.add_argument(
        "--demo", action="store_true",
        help="generate demo staging fixtures into --out/_fixtures first",
    )
    args = parser.parse_args(argv)

    if not args.demo and not args.staging_dir:
        parser.error("either --demo or --staging-dir is required")

    from evolution_data_warehouse_spark.operators.arrow_map import local_table
    from evolution_data_warehouse_spark.operators.etl_log import (
        render_report_html,
    )
    from evolution_data_warehouse_spark.session import TIERED_JIT, get_spark
    from evolution_data_warehouse_spark.warehouse.demo import (
        make_specs,
        write_fixtures,
    )
    from evolution_data_warehouse_spark.warehouse.etl import run_full_etl

    # tiered JIT: C1-only was slower in wall time on 720,000 staged rows
    # (session.py, "JIT policy")
    spark = get_spark(app_name="run_etl", extra_conf=TIERED_JIT)

    staging_dir = args.staging_dir or os.path.join(args.out, "_fixtures")
    if args.demo:
        write_fixtures(staging_dir)
    paths = {
        f[:-4]: os.path.join(staging_dir, f)
        for f in sorted(os.listdir(staging_dir))
        if f.endswith(".csv")
    }
    specs = make_specs(paths)

    communes = local_table(
        spark,
        [
            ("59350", "Lille", "59", 236_000),
            ("62041", "Arras", "62", 42_000),
            ("80021", "Amiens", "80", 134_000),
        ],
        "commune_code string, commune_nom string, "
        "departement_code string, population long",
    )

    report, validations = run_full_etl(spark, specs, args.out, communes)
    payload = report.as_dict()
    payload["validations"] = [
        {"name": v.name, "violations": v.violations, "ok": v.ok}
        for v in validations
    ]
    print(json.dumps(payload, indent=2))
    with open(os.path.join(args.out, "rapport_etl.html"), "w") as f:
        f.write(render_report_html(report.as_dict()))
    return 0 if report.ok and all(v.ok for v in validations) else 1


if __name__ == "__main__":
    raise SystemExit(main())
