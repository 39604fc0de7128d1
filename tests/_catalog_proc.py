"""Subprocess worker for tests/test_catalog.py.

Phase ``create`` builds a hive-metastore-backed warehouse (persistent
external tables + two runs of the crimes pipeline with persistent
views, each run's views reading that run's cached snapshot) and
exits; phase ``read`` opens a FRESH JVM against the same metastore
and proves every catalog object survived the process restart — the
Glue-catalog durability the reference gets from AWS
(``CDK/cdk/cdk_stack.py:96-151,307-326``).
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def get_session(root: str):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master("local[4]")
        .appName("catalog-proc")
        .config("spark.sql.warehouse.dir", os.path.join(root, "warehouse"))
        .config(
            "javax.jdo.option.ConnectionURL",
            "jdbc:derby:;databaseName="
            + os.path.join(root, "metastore_db")
            + ";create=true",
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .enableHiveSupport()
        .getOrCreate()
    )


def create(root: str) -> None:
    spark = get_session(root)
    from pyspark.sql import functions as F  # noqa: F401

    from aws_de_final_project_spark import pipeline
    from aws_de_final_project_spark.sources.registry import load_tables
    from tests.crimes_fixture import (
        generate_crimes_rows,
        write_community_areas_csv,
    )
    from tests.test_reference_replay import (
        CRIME_SCHEMA,
        check_one_cached_snapshot_per_run,
    )

    load_tables(
        spark,
        "/root/testdata/sf0.001",
        ("region", "nation", "events"),
        persistent=True,
    )
    spark.sql(
        "CREATE OR REPLACE VIEW region_nation_counts AS "
        "SELECT r_name, count(*) AS n FROM region r "
        "JOIN nation n ON r.r_regionkey = n.n_regionkey GROUP BY r_name"
    )
    landing = os.path.join(root, "input")
    os.makedirs(landing, exist_ok=True)
    supporting = os.path.join(root, "supporting")
    os.makedirs(supporting, exist_ok=True)
    write_community_areas_csv(os.path.join(supporting, "community_areas.csv"))
    cfg = pipeline.PipelineConfig(
        landing_dir=landing,
        processed_dir=os.path.join(root, "processed"),
        checkpoint_dir=os.path.join(root, "checkpoint"),
        state_path=os.path.join(root, "hwm.json"),
        sql_dir=os.path.join(REPO, "sql"),
        schema=CRIME_SCHEMA,
        supporting={"community_areas": supporting},
    )
    # two persistent runs: each run's views read that run's cached
    # snapshot of the catalog table, and the second releases the first
    rows = generate_crimes_rows(n=1500)
    check_one_cached_snapshot_per_run(
        spark, cfg, [rows[:1000], rows[1000:]], persistent=True
    )
    assert spark.catalog.tableExists("arrest_pct_by_community_violent")
    print("CREATE_OK", spark.table("processed").count(), flush=True)
    spark.stop()


def read(root: str) -> None:
    spark = get_session(root)
    assert spark.catalog.tableExists("region")
    assert spark.table("region").count() == 5
    counts = [
        r.n
        for r in spark.sql(
            "SELECT n FROM region_nation_counts ORDER BY r_name"
        ).collect()
    ]
    assert counts == [5, 5, 5, 5, 5], counts
    n = spark.table("processed").count()
    assert n == 1530, n  # 1500 + 30 re-delivered rows
    top = spark.table("arrest_pct_by_community_violent").collect()
    assert len(top) == 15, len(top)
    enriched = spark.table("violent_by_community_enriched").collect()
    assert len(enriched) == 15 and all(
        r.community_name.startswith("AREA_") for r in enriched
    )
    # the events µs-conversion view survived the restart too
    assert dict(spark.table("events").dtypes)["ts"].startswith("timestamp")
    print("READ_OK", n, len(top), flush=True)
    spark.stop()


if __name__ == "__main__":
    phase, root = sys.argv[1], sys.argv[2]
    {"create": create, "read": read}[phase](root)
