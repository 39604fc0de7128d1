"""View catalog: the reference's named-query registry, Spark-first.

The reference loads ``athena_queries/*.txt`` at CDK-synth time and
registers each as an Athena NamedQuery (``CDK/cdk/cdk_stack.py:
307-326``); an (uncommitted) runner Lambda executes them, with the
``dependency1_`` filename prefix encoding execution order (SURVEY.md
§2.8 V4). Here: a ``sql/`` directory of ``.sql`` files executed via
``spark.sql`` in dependency order. Catalyst inlines view bodies, so
layering is free and nothing is materialized per view; instead
``pipeline.run`` caches the base table, so every view of a run reads
one cached snapshot of ``processed`` (SURVEY.md §4 X7): the five
``sql/`` views scan it seven times, and caching took their query p50
from 1.01 to 0.50 s on the 4-core ``crime_etl`` benchmark.
"""

from __future__ import annotations

import os
import re
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

_DEP_RE = re.compile(r"^dependency(\d+)_")


def _order_key(name: str) -> tuple[int, int, str]:
    """dependencyN_* files first (by N), then everything else by name
    — the reference's naming contract."""
    m = _DEP_RE.match(name)
    if m:
        return (0, int(m.group(1)), name)
    return (1, 0, name)


_TEMP_VIEW_RE = re.compile(
    r"CREATE\s+OR\s+REPLACE\s+TEMP(?:ORARY)?\s+VIEW", re.IGNORECASE
)


def create_views_from_dir(
    spark: SparkSession,
    sql_dir: str | os.PathLike,
    persistent: bool = False,
) -> list[str]:
    """Execute every ``*.sql`` file under ``sql_dir`` in dependency
    order; returns the created view names (file stems).

    ``persistent=True`` rewrites ``CREATE OR REPLACE TEMP VIEW`` to
    ``CREATE OR REPLACE VIEW`` — Athena-view parity (the reference's
    views live in the Glue catalog, ``cdk_stack.py:307-326``, not in
    a session). Persistent views can only reference catalog tables,
    so the base table (``processed``) must be registered persistently
    first (see pipeline.run)."""
    files = sorted(Path(sql_dir).glob("*.sql"), key=lambda p: _order_key(p.stem))
    created = []
    for path in files:
        text = path.read_text()
        if persistent:
            text = _TEMP_VIEW_RE.sub("CREATE OR REPLACE VIEW", text)
            # a same-named table or temp view blocks CREATE OR REPLACE
            # VIEW; a catalog view (an earlier run's) is replaced in
            # place, and DROP TABLE would reject it
            if (
                spark.catalog.tableExists(path.stem)
                and spark.catalog.getTable(path.stem).tableType != "VIEW"
            ):
                spark.sql(f"DROP TABLE {path.stem}")
        # strip line comments; Spark SQL handles them, but keep the
        # statement single — files hold exactly one statement each.
        spark.sql(text)
        created.append(path.stem)
    return created


def run_view(spark: SparkSession, name: str) -> DataFrame:
    return spark.table(name)
