"""Local re-implementation of the driver's correctness gate: run the
Spark query and the DuckDB oracle on the same parquet tables, sort
columns by name, sort rows, compare canonicalized values."""

from __future__ import annotations

import datetime as dt
import math
import re
from contextlib import contextmanager
from decimal import Decimal

import duckdb
import numpy as np
import pandas as pd

from healthcare_oltp_to_olap_gcp_spark.catalog import TABLES


@contextmanager
def session_confs(spark, confs: dict[str, str]):
    """Set ``confs`` on the session for the block, then put every key
    back as it was: its previous value, or unset if it had none. (An
    unset alone would not restore a value the session was built with:
    it falls back to Spark's built-in default.)"""
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def jobs_run(spark, group: str, fn) -> int:
    """Number of Spark jobs ``fn()`` runs (tagged with job group ``group``)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def plan_text(df) -> str:
    """The executed plan of ``df`` as ``explain("formatted")`` prints
    it: the node tree, then each node's details, numbered from the
    leaves. ``executedPlan().toString()`` is truncated for large plans
    and can drop nodes."""
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def plan_details(plan: str, name: str) -> list[str]:
    """The details block of every operator called ``name`` (a regex) in
    a formatted plan, in node-id order. The tree and the details both
    name every node, so only the details headers (``(12)
    BroadcastHashJoin``) are read: each node counts once."""
    return [b for b in re.split(r"\n\s*\n", plan) if re.match(rf"\(\d+\) {name}\b", b)]


def plan_nodes(plan: str, name: str) -> int:
    """Operators called ``name`` (a regex) in a formatted plan."""
    return len(plan_details(plan, name))


def run_oracle(sql: str, sf_dir: str) -> pd.DataFrame:
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con.sql(sql).df()


def _canon(v) -> str:
    if v is None or v is pd.NaT:
        return "NULL"
    if isinstance(v, (float, np.floating)):
        if math.isnan(v):
            return "NULL"
        return f"{float(v):.6f}"
    if isinstance(v, Decimal):
        return f"{v.normalize():f}"
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, pd.Timestamp):
        if v.tzinfo is not None:
            v = v.tz_convert("UTC").tz_localize(None)
        return v.isoformat()
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, dt.date):
        # DuckDB's pandas conversion returns DATE as midnight Timestamp;
        # canonicalize plain dates to the same form.
        return f"{v.isoformat()}T00:00:00"
    return str(v)


def normalize(pdf: pd.DataFrame) -> list[tuple[str, ...]]:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    return sorted(tuple(_canon(v) for v in row) for row in pdf.itertuples(index=False))


def assert_parity(spark, name: str, sf_dir: str) -> None:
    from healthcare_oltp_to_olap_gcp_spark.api import QUERIES
    from healthcare_oltp_to_olap_gcp_spark.oracles import ORACLE_SQL

    got = normalize(QUERIES[name](spark, sf_dir).toPandas())
    want = normalize(run_oracle(ORACLE_SQL[name], sf_dir))
    assert len(got) == len(want), f"{name}: row count {len(got)} != {len(want)}"
    if got != want:
        diff_g = [r for r in got if r not in set(want)][:5]
        diff_w = [r for r in want if r not in set(got)][:5]
        raise AssertionError(
            f"{name}: value mismatch\n spark-only: {diff_g}\n oracle-only: {diff_w}"
        )
