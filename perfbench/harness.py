"""Builds the service under test and the benchmark-side plumbing it
reads from: the source frames a sync cycle sees, the stored-query
catalog, and the snapshot views the stored queries resolve.

The service is the real one: ``api.make_server`` over
``OraChSparkService`` with a ``TaskScheduler`` and a ``CalcEngine`` on
one ``TableStore``, listening on loopback.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ora_ch_spark.api import OraChSparkService, make_server
from ora_ch_spark.plans.calc import CalcEngine
from ora_ch_spark.plans.scheduler import TaskScheduler
from ora_ch_spark.runlog import RunLog
from ora_ch_spark.specs import QueryMeta, TableSpec
from ora_ch_spark.store import TableStore

import queries
import schedule

CALC_SCHEMA = "calc"
EXPORT_SCHEMA = "export"


class Sources:
    """The source system as of the current sync cycle. The client
    moves the cycle before each POST /task; the scheduler's
    ``source_loader`` reads it (one task runs at a time)."""

    def __init__(self, spark: SparkSession, paths: dict[str, str], start_cursor: int):
        self.frames = {n: spark.read.parquet(p) for n, p in paths.items()}
        self.cursor = start_cursor
        self.cycle: schedule.SyncCycle | None = None

    def set_cycle(self, cycle: schedule.SyncCycle) -> None:
        self.cycle, self.cursor = cycle, cycle.cursor

    def load(self, spec: TableSpec) -> DataFrame:
        name = spec.source_name.split(".")[-1]
        if name == "orders":
            return self.frames["orders"].filter(F.col("o_orderkey") <= self.cursor)
        if name == "lineitem":
            return self.frames["lineitem"].filter(F.col("l_orderkey") <= self.cursor)
        if name == "lineitem_upd":
            lo, hi = self.cycle.update_keys
            disc, tax = schedule.update_values_sql(str(self.cycle.index + 1))
            return self.frames["lineitem"].filter(
                F.col("l_orderkey").between(lo, hi)
            ).select(
                "l_orderkey", "l_linenumber",
                F.expr(disc).cast("double").alias("l_discount"),
                F.expr(tax).cast("double").alias("l_tax"),
            )
        return self.frames[name]


def bind_snapshot(spark: SparkSession, store: TableStore, root: str, tables) -> dict[str, str]:
    """Binds ``benchsrc.<table>`` to the store's committed snapshot of
    ``ch.<table>`` for each of ``tables``; returns ``{table: dir}``.

    Spark's permanent views (which the verbatim query's qualified
    relation names need) cannot reference temporary views, so the
    snapshot's data files are hard-linked into a directory of their own
    and a permanent view points at it. The directory also pins the
    snapshot for the oracle, whatever the store's GC does.
    """
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {queries.SRC_DB}")
    out = {}
    for t in tables:
        d = os.path.join(root, t)
        os.makedirs(d)
        for i, uri in enumerate(sorted(store.read(schedule.SCHEMA, t).inputFiles())):
            os.link(uri.removeprefix("file:"), os.path.join(d, f"{i:05d}.parquet"))
        spark.sql(f"CREATE OR REPLACE VIEW {queries.SRC_DB}.{t} AS SELECT * FROM parquet.`{d}`")
        out[t] = d
    return out


class Service:
    """The running service and what the clients need to drive it."""

    def __init__(self, spark: SparkSession, warehouse: str, sources: Sources):
        self.spark = spark
        self.store = TableStore(spark, warehouse)
        self.runlog = RunLog()
        self.catalog: dict[int, QueryMeta] = {}
        self.scheduler = TaskScheduler(
            spark, self.store, self.runlog, source_loader=sources.load
        )
        self.engine = CalcEngine(spark, self.store, self.catalog, self.runlog)
        self.service = OraChSparkService(
            self.scheduler, self.engine, self.runlog,
            key_columns=schedule.KEY_COLUMNS,
        )
        self.server = make_server(self.service, port=0)
        self.port = self.server.server_address[1]
        self._thread = threading.Thread(target=self.server.serve_forever, daemon=True)
        self._thread.start()

    def register_query(self, query_id: int) -> QueryMeta:
        """Adds the request's own catalog entry: /state keys query runs
        by id, so every request gets a fresh id and export table."""
        meta = QueryMeta(
            query_id=query_id,
            ch_table="ch_star",
            ora_table=f"star_{query_id}",
            query=queries.STAR_SQL,
            params=queries.STAR_PARAMS,
            ch_schema=CALC_SCHEMA,
            ora_schema=EXPORT_SCHEMA,
            local_cache_keys=queries.CACHE_KEYS,
        )
        self.catalog[query_id] = meta
        return meta

    def close(self) -> None:
        self.server.shutdown()
        self.server.server_close()
        self._thread.join(timeout=30)
