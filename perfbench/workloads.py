"""The two workloads: their inputs, their ops and the expected output of
every op.

``etl_daily`` runs over trip files generated from the seed. ``olap_sql``
runs over ``data/sf0.1``, a byte-for-byte copy of the repository's sf0.1
test fixtures (TESTDATA.md), kept inside the benchmark so a run reads
nothing outside its checkout; there the seed picks the op order.

An op has ``call`` (the package entry point the op invokes, including any
eager Spark jobs it runs), ``action`` (what turns the call's result into
output), ``check`` (compares the output with the expectation computed in
DuckDB from the same input files) and ``reset``/``cleanup`` hooks that
run outside the timed section. ``input_rows`` is the op's stated logical
input size: the rows of every table it reads, not the rows it scans.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import glob
import io
import os
import random
import re
import shutil

import datagen
from check import Expected

#: Trip rows across the six monthly files of ``etl_daily``.
ETL_TRIP_ROWS = 2_400_000
#: ``daily_transactions`` runs (distinct seeded days) per round.
ETL_DAYS_PER_ROUND = 6
#: The sf0.1 fixtures ``olap_sql`` reads.
SF_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.1")
#: Nominal seconds of one round of each workload (every op once), as
#: measured on 4 cores. Only used to turn ``--seconds`` into a fixed
#: number of whole rounds, so every run does the same work.
ROUND_SECONDS = {"etl_daily": 5.3, "olap_sql": 12.5}

OLAP_OPS = tuple(f"sql_tpch_q{i}" for i in range(1, 23)) + (
    "scan_project",
    "filter_range",
    "agg_family",
    "union_slices",
    "distinct_pairs",
    "join_star_dims",
    "join_anti",
    "join_semi",
    "window_topk_per_group",
    "window_running_sum",
    "window_lag_lead",
    "daily_transactions",
    "daily_transactions_day",
    "top5_zones",
    # two LLM-data ops: ann_lsh computes its signatures in a pandas UDF,
    # so the Python-worker layer is measured too
    "ann_lsh",
    "text_quality_filter",
)
WORKLOADS = ("etl_daily", "olap_sql")


class RegistryOp:
    """A ``queries_registry`` callable; the action fetches its result as
    Arrow."""

    def __init__(self, name: str, data_dir: str, input_rows: int, expected: Expected):
        self.name = name
        self.data_dir = data_dir
        self.input_rows = input_rows
        self.expected = expected

    def reset(self, spark) -> None:
        pass

    def call(self, spark):
        from etl_platform_nyc_taxi_spark import queries_registry

        return queries_registry.QUERIES[self.name](spark, self.data_dir)

    def action(self, df):
        return df.toArrow()

    def check(self, spark, table) -> str | None:
        return self.expected.mismatch(table)

    def result_rows(self, table) -> int:
        return table.num_rows

    def cleanup(self) -> None:
        pass


class EtlSink:
    """The embedded, in-memory Derby database the ``etl_daily`` ops write
    to. In memory, so a run's sink time is the JDBC path and Derby's
    statement work, not the disk's fsync latency, and nothing is left on
    disk when the JVM exits."""

    DAILY = "daily_transaction"
    ZONES = "daily_topfive_taxi_zone"
    STREAM = "daily_stream_counts"
    STREAM_DDL = '"transaction_date" DATE PRIMARY KEY, "total_transactions" BIGINT'

    def __init__(self, name: str):
        self.url = f"jdbc:derby:memory:{name};create=true"

    def config(self):
        from etl_platform_nyc_taxi_spark.sources.jdbc import JdbcConfig

        return JdbcConfig(url=self.url, driver="org.apache.derby.iapi.jdbc.AutoloadedDriver")

    def create_tables(self, spark) -> None:
        from etl_platform_nyc_taxi_spark.__main__ import DAILY_DDL, ZONES_DDL
        from etl_platform_nyc_taxi_spark.sources.jdbc import ensure_table

        cfg = self.config()
        ensure_table(spark, cfg, self.DAILY, DAILY_DDL)
        ensure_table(spark, cfg, self.ZONES, ZONES_DDL)
        ensure_table(spark, cfg, self.STREAM, self.STREAM_DDL)

    def empty(self, spark, table: str) -> None:
        from etl_platform_nyc_taxi_spark.sources.jdbc import execute_statement

        execute_statement(spark, self.config(), f"DELETE FROM {table}")

    def rows(self, spark, table: str, cols: tuple[str, ...]) -> set[tuple]:
        from etl_platform_nyc_taxi_spark.sources.jdbc import read_jdbc

        got = read_jdbc(spark, self.config(), table).select(*cols).collect()
        return {tuple(r) for r in got}


def _set_mismatch(got: set, want: set) -> str | None:
    if got == want:
        return None
    return (
        f"sink holds {len(got)} rows, expected {len(want)}; "
        f"missing {sorted(want - got)[:3]}, unexpected {sorted(got - want)[:3]}"
    )


class CliJobOp:
    """One run of the CLI contract ``__main__.main([...], spark=spark)``:
    ``daily_transactions`` upserts one day's count, ``top_zones``
    overwrites the zone ranking. The op's table is emptied before each
    run, so the check sees only what this run wrote."""

    def __init__(self, job: str, ds: str, trips_dir: str, sink: EtlSink, input_rows: int, want: set):
        self.job = job
        self.ds = ds
        self.name = job if job == "top_zones" else f"{job}@{ds}"
        self.trips_dir = trips_dir
        self.sink = sink
        self.input_rows = input_rows
        self.want = want
        self.table = sink.DAILY if job == "daily_transactions" else sink.ZONES
        self.cols = (
            ("transaction_date", "total_transactions")
            if job == "daily_transactions"
            else ("taxi_zone_id", "rank")
        )

    def reset(self, spark) -> None:
        self.sink.empty(spark, self.table)

    def call(self, spark):
        from etl_platform_nyc_taxi_spark.__main__ import main

        argv = [
            self.job, self.ds, self.trips_dir, self.sink.url, self.table,
            "--poke-interval", "0.1", "--sensor-timeout", "10", "--retries", "0",
        ]
        with contextlib.redirect_stdout(io.StringIO()):
            return main(argv, spark=spark)

    def action(self, rc):
        return rc

    def check(self, spark, rc) -> str | None:
        if rc != 0:
            return f"exit code {rc}"
        return _set_mismatch(self.sink.rows(spark, self.table, self.cols), self.want)

    def result_rows(self, rc) -> int:
        return len(self.want)

    def cleanup(self) -> None:
        pass


class StreamDailyOp:
    """``daily_counts_stream`` into ``stream_upsert_jdbc`` over all trip
    files, from a fresh checkpoint each run (so every run reprocesses
    every file)."""

    name = "stream_daily"

    def __init__(self, trips_dir: str, ckpt_root: str, sink: EtlSink, input_rows: int, want: set):
        self.trips_dir = trips_dir
        self.ckpt_root = ckpt_root
        self.sink = sink
        self.input_rows = input_rows
        self.want = want
        self.schema = None
        self._runs = 0

    def reset(self, spark) -> None:
        self.sink.empty(spark, self.sink.STREAM)
        if self.schema is None:
            self.schema = (
                spark.read.option("mergeSchema", "true").parquet(self.trips_dir).schema
            )
        self._runs += 1
        self.ckpt = os.path.join(self.ckpt_root, f"stream-{self._runs}")

    def call(self, spark):
        from etl_platform_nyc_taxi_spark.streaming.daily_stream import daily_counts_stream

        return daily_counts_stream(spark, self.trips_dir, self.schema)

    def action(self, stream):
        from etl_platform_nyc_taxi_spark.streaming.jdbc_sink import stream_upsert_jdbc

        stream_upsert_jdbc(
            stream, self.sink.config(), self.sink.STREAM, ["transaction_date"],
            checkpoint_dir=self.ckpt,
        )

    def check(self, spark, _) -> str | None:
        got = self.sink.rows(spark, self.sink.STREAM, ("transaction_date", "total_transactions"))
        return _set_mismatch(got, self.want)

    def result_rows(self, _) -> int:
        return len(self.want)

    def cleanup(self) -> None:
        shutil.rmtree(self.ckpt, ignore_errors=True)


# ---------------------------------------------------------------------------
# Preparation: inputs + expectations (no Spark)
# ---------------------------------------------------------------------------


def _prepare_etl(work: str, seed: int) -> tuple[list, dict]:
    import duckdb

    trips_dir = os.path.join(work, "data", "trips")
    datagen.write_trips(trips_dir, seed, ETL_TRIP_ROWS)
    sink = EtlSink(f"etl-{seed}-{os.getpid()}")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW trips AS SELECT * FROM read_parquet('{trips_dir}/*.parquet', union_by_name=true)"
    )
    total = con.execute("SELECT count(*) FROM trips").fetchone()[0]
    days = datagen.trip_days()
    chosen = random.Random(seed).sample(days, ETL_DAYS_PER_ROUND)
    ops: list = []
    for ds in chosen:
        n = con.execute(
            "SELECT count(*) FROM trips WHERE pickup_datetime >= CAST(? AS TIMESTAMP)"
            " AND pickup_datetime < CAST(? AS TIMESTAMP) + INTERVAL 1 DAY",
            [ds, ds],
        ).fetchone()[0]
        want = {(dt.date.fromisoformat(ds), n)}
        ops.append(CliJobOp("daily_transactions", ds, trips_dir, sink, total, want))
    cutoff = days[-1]
    zones = con.execute(
        """
        SELECT PULocationID, CAST(r AS INTEGER) FROM (
            SELECT PULocationID, dense_rank() OVER (ORDER BY count(*) DESC) AS r
            FROM trips WHERE CAST(pickup_datetime AS DATE) <= CAST(? AS DATE)
            GROUP BY PULocationID)
        WHERE r <= 5
        """,
        [cutoff],
    ).fetchall()
    ops.append(CliJobOp("top_zones", cutoff, trips_dir, sink, total, set(zones)))
    per_day = con.execute(
        "SELECT CAST(pickup_datetime AS DATE), count(*) FROM trips"
        " WHERE pickup_datetime IS NOT NULL GROUP BY 1"
    ).fetchall()
    con.close()  # an open connection makes deleting the files slow later
    ckpt_root = os.path.join(work, "checkpoints")
    ops.append(StreamDailyOp(trips_dir, ckpt_root, sink, total, set(per_day)))
    info = {"trip_rows": total, "days": chosen, "cutoff": cutoff, "sink": sink}
    return ops, info


def _prepare_registry(names) -> tuple[list, dict]:
    import duckdb
    import pyarrow.parquet as pq

    from etl_platform_nyc_taxi_spark import queries_registry

    paths = sorted(glob.glob(os.path.join(SF_DIR, "*.parquet")))
    if not paths:
        raise FileNotFoundError(f"no fixtures under {SF_DIR}")
    rows = {
        os.path.basename(p)[: -len(".parquet")]: pq.ParquetFile(p).metadata.num_rows
        for p in paths
    }
    table_re = re.compile(r"\b(" + "|".join(rows) + r")\b")
    con = duckdb.connect()
    for t in rows:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    ops = []
    for name in names:
        sql = queries_registry.ORACLE_SQL[name]
        rel = con.sql(sql)
        expected = Expected(rel.columns, rel.fetchall())
        used = set(table_re.findall(sql))
        ops.append(RegistryOp(name, SF_DIR, sum(rows[t] for t in used), expected))
    con.close()
    return ops, {"table_rows": rows}


def prepare(workload: str, work: str, seed: int) -> tuple[list, dict]:
    """Generate the workload's inputs (``etl_daily``: under ``work``) and
    build its ops."""
    if workload == "etl_daily":
        return _prepare_etl(work, seed)
    if workload == "olap_sql":
        return _prepare_registry(OLAP_OPS)
    raise ValueError(f"unknown workload {workload!r}")


def setup(workload: str, spark, info: dict) -> None:
    """Session-side preparation that is part of the system's own set-up
    (creating the sink tables)."""
    if workload == "etl_daily":
        info["sink"].create_tables(spark)
