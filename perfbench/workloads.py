"""The three workloads.  Each is a closed loop with one client: the next
operation starts when the previous one has returned and been checked.

Every workload function takes a :class:`~run.Bench` and fills its
samples, counters and failures; ``run.py`` turns them into metrics.
Only the operations themselves sit on the clock: landing files, output
checks and the traced job counts happen between timed regions.
"""

from __future__ import annotations

import datetime as dt
import random
import shutil
import statistics
from pathlib import Path

import checks
import gen
from model import TableModel

# -- sizing (see README.md for how these were chosen) ----------------------
DAILY_HISTORY_ROWS = 6_000
DAILY_FILE_ROWS = 2_000
DAILY_MAX_DAYS = 6
DAILY_EXTRA_EVERY = 2      # every 2nd day (from the first) lands a bad file
RETENTION_KEEP_DAYS = 1
READ_REFRESHES = 10        # dashboard refreshes (of 3 reads each) per round
BULK_FILES = 4
BULK_FILE_ROWS = 8_000
BULK_MAX_BATCHES = 4
QUERY_SCALE = 0.25         # 1.0 = the size of the sf0.01 testdata
QUERY_PASSES = 2           # shuffled passes over the spec list per round
QUERY_SPECS = (
    "d02_minhash_lsh", "q05_self_dedup_first", "g05_kcore",
    "f01_fuzzy_resolve", "t34_langid_ngram", "t26_bigram_lm",
    "d12_semantic_dedup", "q42_rollup_cascade",
)
FIRST_DAY = dt.date(2024, 3, 1)
# IngestJob's default id strategy, "distributed", gives duplicate and
# skipped ids once the rows of one ingest span more than one partition
# (see README.md); "global" is the strategy that keeps ids dense, so the
# ingest workloads use it until the default is fixed.
ID_STRATEGY = "global"


def _day(i: int) -> str:
    return (FIRST_DAY + dt.timedelta(days=i)).isoformat()


# -- shared ingest plumbing ---------------------------------------------------

class IngestFixture:
    """Registry, warehouse and inbox for one ingest workload run."""

    def __init__(self, bench) -> None:
        from datawarehouse_backup_system_spark.registry import SchemaRegistry
        from datawarehouse_backup_system_spark.sources.catalog import Router

        self.bench = bench
        schema_path, rename_path = gen.write_registry(bench.work / "registry")
        self.registry = SchemaRegistry.from_files(schema_path, rename_path)
        self.schema = self.registry.get(gen.TABLE_KEY)
        self.router = Router().add(r"^last24h__", gen.TABLE_KEY)
        self.warehouse = bench.work / "warehouse"
        self.inbox = bench.work / "inbox"
        self.inbox.mkdir(parents=True, exist_ok=True)
        self.model = TableModel()
        self.input_bytes = 0

    def job(self, date: str, warehouse: Path | None = None):
        from datawarehouse_backup_system_spark.plans.ingest import IngestJob

        return IngestJob(spark=self.bench.spark, registry=self.registry,
                         warehouse_dir=warehouse or self.warehouse,
                         router=self.router, ingest_date=date,
                         id_strategy=ID_STRATEGY)

    def land(self, files: list[gen.LandedFile]) -> list[Path]:
        out = []
        for f in files:
            dst = self.inbox / f.name
            shutil.copyfile(f.path, dst)
            out.append(dst)
            self.input_bytes += f.csv_bytes
        return out

    def table_path(self) -> Path:
        return self.warehouse / self.schema.table_name

    # -- dashboard reads ----------------------------------------------------
    def reads(self, job, rng: random.Random) -> list[tuple]:
        """(label, timed read, expected result); the expectation is
        computed here, before the clock starts."""
        from pyspark.sql import functions as F

        model = self.model
        table = self.schema
        email = rng.choice([r[gen.EMAIL] for r in list(model.live)[-200:]])
        latest = max(d for _, d in model.live.values())

        def by_type():
            rows = job.read_table(table).groupBy("campaign_event_type").count().collect()
            return {r[0]: r[1] for r in rows}

        def lookup():
            rows = (job.read_table(table).where(F.col("email") == email)
                    .select("mobile", "total_orders").collect())
            return sorted((r[0], r[1]) for r in rows)

        def latest_count():
            return (job.read_table(table)
                    .where(F.col("ingest_date") == F.lit(latest).cast("date")).count())

        return [
            ("read_by_type", by_type, checks.expected_by_type(model)),
            ("read_lookup", lookup, checks.expected_lookup(model, email)),
            ("read_latest_count", latest_count, checks.expected_latest_count(model)),
        ]

    def warm_reads(self, job) -> None:
        """Run each dashboard read once, so timed reads find their code
        paths compiled."""
        from pyspark.sql import functions as F

        t = job.read_table(self.schema)
        t.groupBy("campaign_event_type").count().collect()
        t.where(F.col("email") == "").select("mobile", "total_orders").collect()
        t.where(F.col("ingest_date") == F.lit("2000-01-01").cast("date")).count()

    def timed_reads(self, job, rng: random.Random) -> float:
        total = 0.0
        for _ in range(READ_REFRESHES):
            for label, fn, want in self.reads(job, rng):
                got, secs = self.bench.timed(label, fn)
                total += secs
                self.bench.samples["read"].append(secs)
                self.bench.record(label, None if got is None
                                  else checks.check_equal(label, got, want))
        return total

    # -- end-of-run checks ------------------------------------------------------
    def table_frame(self, job):
        pdf = (job.read_table(self.schema)
               .select("id", "mobile", "smtp_response", "ingest_date", "row_hash")
               .toPandas())
        pdf["ingest_date"] = pdf["ingest_date"].astype(str)
        return pdf

    def stored_bytes(self) -> int:
        total = 0
        for sub in (self.table_path(), self.warehouse / "_ledger"):
            if sub.exists():
                total += sum(p.stat().st_size for p in sub.rglob("*") if p.is_file())
        return total

    def final_checks(self, date: str) -> None:
        b = self.bench
        job = self.job(date)
        b.check("final table state", checks.check_table_state(self.table_frame(job), self.model))
        processed = job.ledger.processed_set()
        missing = sorted(set(self.model.ledger) - processed)
        b.check("ledger lists every landed name",
                [f"not in ledger: {missing[:5]}"] if missing else [])
        again = job.run(self.inbox)
        b.check("second run on the unchanged inbox",
                [] if again == [] else [f"second run returned {again}"])
        b.details["stored_bytes"] = self.stored_bytes()
        b.details["input_csv_bytes"] = self.input_bytes
        b.stored_ratio = self.stored_bytes() / self.input_bytes
        b.restart_session()
        b.check("durable after a session restart",
                checks.check_table_state(self.table_frame(self.job(date)), self.model))


# -- daily_cycle ---------------------------------------------------------------

def daily_cycle(bench) -> None:
    params = (DAILY_MAX_DAYS, DAILY_HISTORY_ROWS, DAILY_FILE_ROWS, DAILY_EXTRA_EVERY)
    inputs = bench.cached_inputs(
        "daily_cycle", lambda root: gen.daily_inputs(root, bench.seed, *params), params)
    fx = IngestFixture(bench)
    rng = random.Random(bench.seed)
    history_date = _day(-2)   # outside the retention window from day 0 on

    def seed_history():
        paths = fx.land(inputs.history)
        job = fx.job(history_date)
        res = job.process_batch(paths, gen.TABLE_KEY)
        fx.warm_reads(job)
        return res

    res = bench.setup(seed_history)
    want = fx.model.land_batch([f.name for f in inputs.history],
                               [f.rows for f in inputs.history], history_date)
    bench.check("history seed", checks.check_result("history seed", res, want))

    day = 0
    while bench.clock < bench.seconds and day < len(inputs.days):
        date = _day(day)
        files = inputs.days[day]
        fx.land(files)
        job = fx.job(date)
        results, op_s = bench.timed("op", lambda: job.run(fx.inbox))
        bench.samples["op"].append(op_s)
        expected = {
            f.name: fx.model.land_file(f.name, f.rows, f.profile == gen.PROFILE_EXTRA, date)
            for f in sorted(files, key=lambda f: f.name)
        }
        bench.rows_in += sum(len(f.rows) for f in files)
        bench.record(f"day {day} run", None if results is None
                     else checks.check_run_results(results, expected))

        from datawarehouse_backup_system_spark.operators import retention

        dropped, drop_s = bench.timed(
            "retention",
            lambda: bench.tracer.span("retention.drop_s", retention.drop_old_partitions,
                                      bench.spark, fx.table_path(), "ingest_date",
                                      RETENTION_KEEP_DAYS, date))
        want_dropped = fx.model.drop_partitions(RETENTION_KEEP_DAYS, date)
        bench.tracer.add("retention.partitions_dropped", dropped or 0)
        bench.record(f"day {day} retention",
                     checks.check_equal("partitions dropped", dropped, want_dropped)
                     if dropped is not None else None)
        read_s = fx.timed_reads(job, rng)
        bench.samples["round"].append(op_s + drop_s + read_s)
        bench.clock += op_s + drop_s + read_s
        day += 1
    if day == len(inputs.days) and bench.clock < bench.seconds:
        bench.details["note"] = "ran out of generated days before the deadline"
    bench.details["days"] = day
    fx.final_checks(_day(day))


# -- bulk_backfill -------------------------------------------------------------

def bulk_backfill(bench) -> None:
    params = (BULK_MAX_BATCHES, BULK_FILES, BULK_FILE_ROWS)
    batches = bench.cached_inputs(
        "bulk_backfill", lambda root: gen.bulk_batches(root, bench.seed, *params), params)
    fx = IngestFixture(bench)
    rng = random.Random(bench.seed)

    def warm_ingest():
        # one small batch into a throwaway warehouse, so the first timed
        # batch does not pay for first-use code generation
        warm = gen.bulk_batches(bench.work / "warm_inputs", bench.seed + 1, 1, 2, 500)[0]
        return fx.job(_day(-1), bench.work / "warm_warehouse").process_batch(
            [f.path for f in warm], gen.TABLE_KEY)

    bench.setup(warm_ingest)

    b = 0
    while bench.clock < bench.seconds and b < len(batches):
        files = batches[b]
        paths = fx.land(files)
        date = _day(b)
        job = fx.job(date)
        res, op_s = bench.timed("op", lambda: job.process_batch(paths, gen.TABLE_KEY))
        bench.samples["op"].append(op_s)
        want = fx.model.land_batch([f.name for f in files], [f.rows for f in files], date)
        bench.rows_in += sum(len(f.rows) for f in files)
        bench.record(f"batch {b}", None if res is None
                     else checks.check_result(f"batch {b}", res, want))
        read_s = fx.timed_reads(job, rng)
        bench.samples["round"].append(op_s + read_s)
        bench.clock += op_s + read_s
        b += 1
    if b == len(batches) and bench.clock < bench.seconds:
        bench.details["note"] = "ran out of generated batches before the deadline"
    bench.details["batches"] = b
    fx.final_checks(_day(b))


# -- query_mix -----------------------------------------------------------------

QUERY_READS = {
    "read_by_type": "SELECT event_type, count(*) AS n, "
                    "CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents "
                    "FROM events GROUP BY event_type",
    "read_lookup": "SELECT event_id, event_type, CAST(round(value * 100) AS BIGINT) AS cents "
                   "FROM events WHERE user_id = {user}",
    "read_latest_count": "SELECT count(*) AS n FROM events "
                         "WHERE ts >= (SELECT date_trunc('day', max(ts)) FROM events)",
}


def _tables_read(sql: str) -> list[str]:
    import re

    from datawarehouse_backup_system_spark.queries.base import TABLES

    return [t for t in TABLES if re.search(rf"\b{t}\b", sql)]


def _collect(spark, sql: str):
    """Run ``sql`` and collect its rows; the pandas frame the check needs
    is built from them (a plain collect keeps Arrow conversion out of the
    read's latency)."""
    import pandas as pd

    df = spark.sql(sql)
    rows = df.collect()
    return pd.DataFrame([tuple(r) for r in rows], columns=df.columns)


def _dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


def query_mix(bench) -> None:
    import duckdb
    import pyarrow.parquet as pq

    import __spark_entry__ as entry

    queries = entry.queries()
    oracles = entry.oracle_sql()
    tables = bench.cached_inputs(
        "query_mix", lambda root: gen.analytic_tables(root / "tables", bench.seed, QUERY_SCALE),
        (QUERY_SCALE,))
    data = Path(tables["events"]).parent
    input_bytes = _dir_bytes(data)
    rows_of = {t: pq.ParquetFile(p).metadata.num_rows for t, p in tables.items()}
    spec_rows = {s: sum(rows_of[t] for t in _tables_read(oracles[s])) for s in QUERY_SPECS}
    rng = random.Random(bench.seed)
    con = duckdb.connect()
    for t, p in tables.items():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    # the warm-up runs every spec once on the full inputs and collects its
    # result; only the Spark side is timed as set-up.  The collected
    # results are checked against DuckDB afterwards, off the clock.
    collected: dict[str, object] = {}
    spec_errors: dict[str, str] = {}

    def warm():
        for s in QUERY_SPECS:
            try:
                collected[s] = queries[s](bench.spark, str(data)).toPandas()
            except Exception as exc:  # noqa: BLE001 — a crash is a failed check
                spec_errors[s] = f"{s}: {type(exc).__name__}: {str(exc)[:300]}"
        bench.spark.read.parquet(str(tables["events"])).createOrReplaceTempView("events")
        for sql in QUERY_READS.values():
            bench.spark.sql(sql.format(user=0)).collect()

    bench.setup(warm)
    spec_failures = {
        s: [spec_errors[s]] if s in spec_errors else
        checks.check_frame(s, collected[s], con.execute(oracles[s]).fetchdf(), bench.compare)
        for s in QUERY_SPECS
    }
    collected.clear()

    def force(spec: str) -> None:
        queries[spec](bench.spark, str(data)).write.format("noop").mode("overwrite").save()

    users = [r[0] for r in con.execute("SELECT DISTINCT user_id FROM events ORDER BY 1").fetchall()]
    per_spec: dict[str, list[float]] = {s: [] for s in QUERY_SPECS}
    while bench.clock < bench.seconds:
        round_s = 0.0
        for _ in range(QUERY_PASSES):
            order = list(QUERY_SPECS)
            rng.shuffle(order)
            for s in order:
                _, secs = bench.timed(s, lambda: force(s), spec=s)
                bench.samples["op"].append(secs)
                per_spec[s].append(secs)
                bench.rows_in += spec_rows[s]
                round_s += secs
        for _ in range(READ_REFRESHES):
            user = rng.choice(users)
            for label, sql in QUERY_READS.items():
                sql = sql.format(user=user)
                got, secs = bench.timed(label, lambda: _collect(bench.spark, sql))
                bench.samples["read"].append(secs)
                round_s += secs
                bench.record(label, None if got is None else checks.check_frame(
                    label, got, con.execute(sql).fetchdf(), bench.compare))
        bench.samples["round"].append(round_s)
        bench.clock += round_s
    con.close()
    for s in QUERY_SPECS:
        bench.settle_spec(s, spec_failures[s])
    bench.details["spec_median_s"] = {
        s: round(statistics.median(v), 4) for s, v in per_spec.items() if v}
    bench.spec_s = {s: statistics.median(v) for s, v in per_spec.items() if v}
    bench.details["stored_bytes"] = _dir_bytes(data)
    bench.details["input_bytes"] = input_bytes
    bench.stored_ratio = _dir_bytes(data) / input_bytes
