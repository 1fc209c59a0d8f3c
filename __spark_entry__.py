"""Driver contract for the spark-graft builder (PySpark target).

Thin shim over ``real_time_big_data_analytics_spark.registry`` — every
operator from SURVEY.md §2 registers there with its Spark
implementation and (where SQL-expressible) its DuckDB oracle twin.
"""

from __future__ import annotations

import functools
import os
import sys
import zipfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _REPO)

from real_time_big_data_analytics_spark.registry import all_queries
from real_time_big_data_analytics_spark.sources.staging import scratch_dir

_FLAGSHIP = "flagship_windowed_analytics"
_PKG = "real_time_big_data_analytics_spark"
_shipped_contexts: set[str] = set()


def _pin_session_tz(spark: SparkSession) -> None:
    """Pin the session timezone to UTC on any caller-provided session.

    The oracle (DuckDB over naive parquet timestamps) computes
    date_trunc/day arithmetic in the timestamps' own frame; a Spark
    session inheriting a non-UTC machine TZ would shift day/window
    boundaries and break the comparison even though both engines are
    'right'. The factory session (session.py) already pins this; the
    driver hands us ITS session, so pin here too."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def _ship_package(spark: SparkSession) -> None:
    """Make the package importable on executors regardless of the
    driver's working directory: Python-UDF closures (mapInPandas /
    applyInPandasWithState) may reference package modules by name,
    and executor workers don't inherit the driver's sys.path hack
    above. Zipping the package once per SparkContext and shipping it
    via ``addPyFile`` fixes that for any session the caller hands us.
    """
    sc = spark.sparkContext
    app_id = sc.applicationId
    if app_id in _shipped_contexts:
        return
    pkg_dir = os.path.join(_REPO, _PKG)
    zpath = os.path.join(scratch_dir("rtba_pkg_"), f"{_PKG}.zip")
    with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    zf.write(full, os.path.relpath(full, _REPO))
    sc.addPyFile(zpath)
    _shipped_contexts.add(app_id)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    _ship_package(spark)
    _pin_session_tz(spark)
    return all_queries()[_FLAGSHIP].fn(spark, "/root/testdata/sf0.001")


def _with_shipping(fn: Callable[[SparkSession, str], DataFrame]):
    @functools.wraps(fn)
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        _ship_package(spark)
        _pin_session_tz(spark)
        return fn(spark, sf_dir)

    return wrapped


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: _with_shipping(q.fn) for name, q in all_queries().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each SQL-expressible query."""
    return {name: q.sql for name, q in all_queries().items() if q.sql is not None}
