"""Layer tracing from outside the program.

:class:`Tracer` replaces the public entry points of each layer with
timing wrappers (and puts the originals back on :meth:`uninstall`).  A
span's *self time* is its duration minus the time of the traced spans it
called, so the self times of all spans under one op add up to the op's
wall time.  Spans are recorded only while :attr:`active` is true (the
benchmark switches it on around its timed rounds), and are kept in
memory as per-metric totals.

Spark work is counted per op through a job group set by the benchmark
and ``SparkContext.statusTracker()``.
"""

from __future__ import annotations

import functools
import time
from pathlib import Path

#: metric -> [(module path, attribute path), ...]; every attribute listed
#: for one metric is the same layer entry point reached through a
#: different import binding
SPANS: dict[str, list[tuple[str, str]]] = {
    "sources.sniff_s": [
        ("datawarehouse_backup_system_spark.sources.csv_source", "detect_encoding"),
        ("datawarehouse_backup_system_spark.sources.csv_source", "detect_delimiter"),
        ("datawarehouse_backup_system_spark.sources.csv_source", "read_header"),
    ],
    "sources.unzip_s": [
        ("datawarehouse_backup_system_spark.sources.csv_source", "extract_zip_first_member"),
        ("datawarehouse_backup_system_spark.plans.ingest", "extract_zip_first_member"),
    ],
    "sources.scan_build_s": [
        ("datawarehouse_backup_system_spark.sources.csv_source", "read_raw_csv"),
        ("datawarehouse_backup_system_spark.plans.ingest", "read_raw_csv"),
    ],
    "ledger.append_s": [
        ("datawarehouse_backup_system_spark.ledger", "Ledger.append_many"),
    ],
    "ledger.read_s": [
        ("datawarehouse_backup_system_spark.ledger", "Ledger.processed_set"),
        ("datawarehouse_backup_system_spark.ledger", "Ledger.incomplete_writes"),
        ("datawarehouse_backup_system_spark.ledger", "Ledger.committed_writes"),
    ],
    "table_format.append_s": [
        ("datawarehouse_backup_system_spark.plans.table_format", "WriteIdParquetFormat.append"),
    ],
    "table_format.read_s": [
        ("datawarehouse_backup_system_spark.plans.table_format", "WriteIdParquetFormat.read"),
    ],
    "table_format.recover_s": [
        ("datawarehouse_backup_system_spark.plans.table_format", "WriteIdParquetFormat.recover"),
    ],
    "ingest.plan_s": [
        ("datawarehouse_backup_system_spark.plans.ingest", "IngestJob.build_plan"),
    ],
    "ingest.self_s": [
        ("datawarehouse_backup_system_spark.plans.ingest", "IngestJob.process_file"),
        ("datawarehouse_backup_system_spark.plans.ingest", "IngestJob.process_batch"),
        ("datawarehouse_backup_system_spark.plans.ingest", "IngestJob.run"),
    ],
    "hash_index.walk_s": [
        ("datawarehouse_backup_system_spark.plans.hash_index", "live_write_pairs"),
    ],
    "ids.watermark_s": [
        ("datawarehouse_backup_system_spark.operators.ids", "next_id_watermark"),
        ("datawarehouse_backup_system_spark.plans.ingest", "next_id_watermark"),
    ],
}
#: spans whose calls are also counted, under the given counter name
CALL_COUNTERS = {
    "sources.sniff_s": "sources.calls",
    "sources.unzip_s": "sources.calls",
    "sources.scan_build_s": "sources.calls",
    "ledger.append_s": "ledger.appends",
}


def _resolve(module: str, attr: str):
    import importlib

    owner = importlib.import_module(module)
    *path, name = attr.split(".")
    for p in path:
        owner = getattr(owner, p)
    return owner, name


class Tracer:
    def __init__(self) -> None:
        self.active = False
        self.self_s: dict[str, float] = {}
        self.counts: dict[str, float] = {}
        self.spans = 0
        self._stack: list[list[float]] = []   # [start, child time]
        self._restore: list[tuple[object, str, object]] = []

    # -- spans ------------------------------------------------------------
    def _call(self, metric: str, fn, args, kwargs):
        if not self.active:
            return fn(*args, **kwargs)
        frame = [time.perf_counter(), 0.0]
        self._stack.append(frame)
        try:
            return fn(*args, **kwargs)
        finally:
            self._stack.pop()
            dur = time.perf_counter() - frame[0]
            self.self_s[metric] = self.self_s.get(metric, 0.0) + dur - frame[1]
            if self._stack:
                self._stack[-1][1] += dur
            self.spans += 1
            counter = CALL_COUNTERS.get(metric)
            if counter:
                self.add(counter)

    def span(self, metric: str, fn, *args, **kwargs):
        """Run ``fn`` as a span named ``metric``."""
        return self._call(metric, fn, args, kwargs)

    def add(self, counter: str, n: float = 1) -> None:
        self.counts[counter] = self.counts.get(counter, 0) + n

    # -- install / uninstall -------------------------------------------------
    def _wrap(self, owner, name: str, metric: str) -> None:
        orig = owner.__dict__[name] if isinstance(owner, type) else getattr(owner, name)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            return tracer._call(metric, orig, args, kwargs)

        setattr(owner, name, traced)
        self._restore.append((owner, name, orig))

    def install(self) -> None:
        for metric, targets in SPANS.items():
            for module, attr in targets:
                owner, name = _resolve(module, attr)
                self._wrap(owner, name, metric)
        # published data files: counted (not timed) at the table format's
        # publish hook, so their time stays in table_format.append_s
        from datawarehouse_backup_system_spark.plans.ingest import IngestJob

        orig = IngestJob.__dict__["_publish_file"]
        tracer = self

        @functools.wraps(orig)
        def publish(job, src: Path, dst: Path) -> None:
            if tracer.active:
                tracer.add("table_format.files_written")
                tracer.add("table_format.bytes_written", Path(src).stat().st_size)
            return orig(job, src, dst)

        IngestJob._publish_file = publish
        self._restore.append((IngestJob, "_publish_file", orig))

    def uninstall(self) -> None:
        while self._restore:
            owner, name, orig = self._restore.pop()
            setattr(owner, name, orig)

    def span_cost_s(self, n: int = 20000) -> float:
        """Measured cost of one span (wrapper + bookkeeping), for the
        overhead estimate the traced run reports."""
        def f():
            return None

        was, self.active = self.active, True
        saved = (dict(self.self_s), dict(self.counts), self.spans)
        t0 = time.perf_counter()
        for _ in range(n):
            self._call("_calibrate", f, (), {})
        cost = (time.perf_counter() - t0) / n
        self.self_s, self.counts, self.spans = saved
        self.active = was
        return cost


def spark_work(spark, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) the job group ran."""
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is None:
            continue
        for s in info.stageIds:
            stages += 1
            st = tracker.getStageInfo(s)
            if st is not None:
                tasks += st.numTasks
    return len(jobs), stages, tasks
