"""The two workloads: set-up, the ops of one pass, and the checks.

Each workload is a closed loop with one client. A pass is a list of
ops; the runner times each op, then, untimed, the workload checks what
the op returned, and after the last timed pass what the engine left
behind, against an independent answer (the DuckDB oracles of
``tests/helpers`` and Spark-side invariants). Every call into the engine
goes through its public functions, inside a span named after the module
that does the work.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math
import os
import random
import shutil
from collections.abc import Callable
from dataclasses import dataclass

import duckdb
import gen
import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from healthcare_oltp_to_olap_gcp_spark.api import QUERIES
from healthcare_oltp_to_olap_gcp_spark.catalog import table
from healthcare_oltp_to_olap_gcp_spark.oracles import ORACLE_SQL
from healthcare_oltp_to_olap_gcp_spark.plans import analytics, monitoring, refresh, star
from healthcare_oltp_to_olap_gcp_spark.sources import replicate
from healthcare_oltp_to_olap_gcp_spark.sources.factstore import VersionedParquetStore
from spans import Tracer
from tests.helpers import normalize, run_oracle


@dataclass
class Op:
    name: str
    run: Callable  # (tracer, op_index) -> result handed to check_op


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def same(got, want) -> bool:
    """Oracle parity as ``tests/helpers.assert_parity`` decides it, with
    floats equal to a relative 1e-9: its fixed six decimals exceed a
    double's precision on sums in the billions."""
    g, w = normalize(got), normalize(want)
    return len(g) == len(w) and all(
        len(rg) == len(rw) and all(a == b or _close(a, b) for a, b in zip(rg, rw)) for rg, rw in zip(g, w)
    )


def _close(a: str, b: str) -> bool:
    try:
        return math.isclose(float(a), float(b), rel_tol=1e-9)
    except ValueError:
        return False


def _ts(t: dt.datetime) -> F.Column:
    return F.lit(t.isoformat(sep=" ")).cast("timestamp")


class Workload:
    min_passes = 1

    def __init__(self, spark: SparkSession, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.rng = random.Random(seed)
        self.data = os.path.join(work, "data")

    def setup(self) -> None:
        """Generate inputs, build what the ops read, warm up."""
        raise NotImplementedError

    def pass_ops(self) -> list[Op]:
        raise NotImplementedError

    def check_op(self, op: Op, result) -> bool:
        """Per-op check, outside the timed region."""
        raise NotImplementedError

    def check(self) -> int:
        """End-of-run checks; returns the number that failed."""
        return 0


class RefreshCycles(Workload):
    """The reference refresh loop: every cadence, replicate a window of
    twice the cadence, MERGE it into the fact store, rewrite the star's
    touched days, serve the monitoring views, run the sanity checks. The
    dashboard then reads the fresh data: a star lookup by day and user,
    and the hourly tile over the touched days."""

    N_EVENTS = 30_000
    CADENCE = dt.timedelta(minutes=10)
    # A fresh JVM compiles for many cycles (JIT time per cycle falls from
    # ~15 s of compiler CPU on the first to ~4 s by the seventh), so cycle
    # time keeps falling. The untimed warm-up takes the steepest cycles;
    # a fixed count of timed cycles keeps every run at the same point of
    # the curve.
    WARMUP_CYCLES = 2
    min_passes = 4
    # base history: everything before the last source day
    CUT = dt.datetime(2024, 1, 30)
    FACT_COLUMNS = ("event_id", "ts", "user_id", "event_type", "value")

    def setup(self) -> None:
        tables = gen.tables(self.seed, 0.001, self.N_EVENTS, 100, 100)
        gen.write(self.data, tables)
        # sorted by ts, so a window's events are one index range
        self.ts = tables["events"]["ts"].to_numpy()
        self.users = tables["events"]["user_id"].to_numpy()
        spark = self.spark
        self.events = table(spark, self.data, "events")
        self.base = self.events.filter(F.col("ts") < _ts(self.CUT))
        paths = refresh.refresh_model(spark, self.base, os.path.join(self.work, "model"))
        self.star_path = paths["fact_events_star"]
        self.raw = os.path.join(self.work, "landing")
        # the materialized base fact is the store's first snapshot
        self.store = VersionedParquetStore(os.path.join(self.work, "store"))
        shutil.copytree(paths["fact_events"], os.path.join(self.store.store_dir, "v=0"))
        self.cycles = 0
        for _ in range(self.WARMUP_CYCLES):  # these pay JIT and worker start
            self._cycle(Tracer(), -1)

    def pass_ops(self) -> list[Op]:
        return [Op("refresh_cycle", self._cycle)]

    def _window_event(self, start: dt.datetime, end: dt.datetime) -> tuple[str, int]:
        """(day, user) of a seeded event in [start, end)."""
        lo, hi = np.searchsorted(self.ts, [np.datetime64(start, "us"), np.datetime64(end, "us")])
        i = self.rng.randrange(lo, hi)
        return str(self.ts[i].astype("datetime64[D]")), int(self.users[i])

    def _cycle(self, tr, op: int):
        spark = self.spark
        self.cycles += 1
        end = self.CUT + self.cycles * self.CADENCE
        start = end - 2 * self.CADENCE
        with tr.span("sources.replicate", op):
            replicate.replicate_window(self.events, self.raw, end, int(2 * self.CADENCE.total_seconds() // 60))
        window = replicate.read_raw(spark, self.raw).filter(
            (F.col("ts") >= _ts(start)) & (F.col("ts") < _ts(end))
        )
        with tr.span("sources.factstore", op):
            self.store.merge(star.prepared_events(window), "event_id", star.dedup_order(), self.cycles)
        fact = self.store.read(spark)
        days = sorted({start.date().isoformat(), (end - dt.timedelta(microseconds=1)).date().isoformat()})
        touched = fact.filter(F.to_date("ts").cast("string").isin(days))
        with tr.span("plans.star", op):
            star.write_star_incremental(star.fact_events_star(touched), self.star_path)
        with tr.span("plans.monitoring", op):
            for build in monitoring.VIEW_BUILDERS.values():
                _noop(build(fact))
        with tr.span("plans.star", op):
            counts = star.sanity_row_counts(fact, spark.read.parquet(self.star_path)).first()
            missing = star.sanity_missing_dims(fact).first()[0]
        day, user = self._window_event(start, end)
        key = hashlib.sha256(str(user).encode()).hexdigest()
        with tr.span("catalog", op):
            lookup = (
                spark.read.parquet(self.star_path)
                .filter((F.col("date_key") == F.lit(day).cast("date")) & (F.col("user_key") == key))
                .toPandas()
            )
        with tr.span("plans.analytics", op):
            hourly = analytics.events_hourly(touched).toPandas()
        return counts["fact_rows"], counts["star_rows"], missing, days, (day, user, lookup), hourly

    def check_op(self, op: Op, result) -> bool:
        """The sanity checks held; the lookup found exactly the fact's
        events of that day and user; the hourly tile equals its DuckDB
        oracle over the touched days of the fact."""
        fact_rows, star_rows, missing, days, (day, user, lookup), hourly = result
        fact = (
            self.store.read(self.spark)
            .filter(F.to_date("ts").cast("string").isin(days))
            .select(*self.FACT_COLUMNS)
            .toPandas()
        )
        mine = fact[(fact["ts"].dt.strftime("%Y-%m-%d") == day) & (fact["user_id"] == user)]
        con = duckdb.connect()
        con.register("events", fact)
        return (
            fact_rows == star_rows
            and missing == 0
            and len(mine) > 0
            and sorted(lookup["event_id"]) == sorted(mine["event_id"])
            and same(hourly, con.sql(ORACLE_SQL["events_hourly"]).df())
        )

    def check(self) -> int:
        """The store equals the dedup fact over every delivered row, the
        star holds exactly the fact's events, and no dimension is missing."""
        spark = self.spark
        delivered = self.base.unionByName(replicate.read_raw(spark, self.raw))
        want = star.fact_events(delivered)
        got = self.store.read(spark).select(*want.columns)
        star_ids = spark.read.parquet(self.star_path).select("event_id")
        n = got.count()
        # equal sizes plus an empty one-way difference is multiset equality
        failed = [
            n != want.count() or got.exceptAll(want).count() > 0,
            n != star_ids.count() or star_ids.exceptAll(got.select("event_id")).count() > 0,
            star.sanity_missing_dims(got).first()[0] != 0,
        ]
        return sum(failed)


class CurationBatch(Workload):
    """Stage-deep LLM-data reports over a small corpus, one pass per
    report set in seeded order. Each timed report is collected to the
    client and compared with its DuckDB oracle."""

    N_DOCS = 500
    N_VECS = 500
    min_passes = 2
    REPORTS = {
        "simhash_dup_pairs": "operators.dedup",
        "knn_graph_edges": "operators.similarity",
        "bm25_wand_topk": "operators.retrieval",
        "docs_quality": "operators.textquality",
    }

    def setup(self) -> None:
        gen.write(self.data, gen.tables(self.seed, 0.001, 1000, self.N_DOCS, self.N_VECS))
        self.oracle: dict[str, object] = {}
        # An untimed warm-up pass through the noop sink, in a fixed
        # order, so every seed leaves the JVM equally warm.
        for n in self.REPORTS:
            _noop(QUERIES[n](self.spark, self.data))

    def pass_ops(self) -> list[Op]:
        ops = [self._op(n) for n in self.REPORTS]
        self.rng.shuffle(ops)
        return ops

    def _op(self, name: str) -> Op:
        def run(tr, op):
            with tr.span(self.REPORTS[name], op):
                return QUERIES[name](self.spark, self.data).toPandas()

        return Op(name, run)

    def check_op(self, op: Op, result) -> bool:
        if op.name not in self.oracle:
            self.oracle[op.name] = run_oracle(ORACLE_SQL[op.name], self.data)
        return same(result, self.oracle[op.name])


WORKLOADS = {
    "refresh_cycles": RefreshCycles,
    "curation_batch": CurationBatch,
}
