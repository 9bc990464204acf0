"""Benchmark entry point: one workload, one seed, one JSON result line.

Usage (from the repository root)::

    python3 perfbench/run.py --workload daily_cycle --seed 1 --seconds 15 --trace 0

See ``perfbench/README.md`` for the workloads and metrics.  The last line
of standard output is the result object; the line before it (``details``)
carries sample counts, tail percentiles, host load and check messages.
Exits 2 without a result when the program is not importable from the
working directory.
"""

from __future__ import annotations

import argparse
import json
import os
import pickle
import resource
import shutil
import statistics
import sys
import subprocess
import time
from pathlib import Path

import checks
import workloads
from tracing import Tracer, spark_work

HERE = Path(__file__).resolve().parent
ROOT = Path.cwd()
WORK = ROOT / ".perfbench_work"
CACHE = ROOT / ".perfbench_cache"
WORKLOADS = ("daily_cycle", "bulk_backfill", "query_mix")
DRIVER_MEM = "2g"


def pin_environment() -> None:
    """Run-environment pins, set before pyspark is imported.  The program
    reads these variables itself; left unset it would size Spark for a
    32-core, 48 GB host."""
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ.pop("SPARK_MASTER", None)
    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("spark-local", "tmp"):
        (WORK / d).mkdir(parents=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["TMPDIR"] = str(WORK / "tmp")


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) at the highest percentile with at least ten
    samples beyond it.  Below 21 samples that percentile would lie at or
    under the median, so the maximum is reported instead."""
    s = sorted(samples)
    n = len(s)
    if n >= 21:
        i = n - 11
        return s[i], round(100.0 * (i + 1) / n, 2)
    return s[-1], 100.0


class Bench:
    def __init__(self, args) -> None:
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = WORK
        self.spark = None
        self.clock = 0.0          # seconds measured so far
        self.samples: dict[str, list[float]] = {"op": [], "read": [], "round": []}
        self.rows_in = 0
        self.attempted = 0
        self.failed = 0
        self.messages: list[str] = []
        self.checks_attempted = 0
        self.checks_failed = 0
        self.details: dict = {}
        self.stored_ratio = float("nan")
        self.setup_s = 0.0
        self.session: dict[str, float] = {}
        self.spec_s: dict[str, float] = {}
        self._spec_errors: dict[str, int] = {}
        self._spec_runs: dict[str, int] = {}
        self.work_counts = [0, 0, 0]    # spark jobs, stages, tasks in ops
        self.n_ops = 0
        self.op_traced_s = 0.0          # span self time recorded inside ops
        self.jvm_pid = None
        self.tracer = Tracer()
        self.compare = None

    # -- session -----------------------------------------------------------
    def _spark_conf(self) -> dict[str, str]:
        return {
            "spark.sql.warehouse.dir": str(self.work / "spark-warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work / 'tmp'}",
            "spark.ui.showConsoleProgress": "false",
        }

    def start_session(self) -> None:
        from datawarehouse_backup_system_spark.session import get_spark

        self.spark = get_spark(app_name="perfbench", extra_conf=self._spark_conf())

    def restart_session(self) -> None:
        self.spark.stop()
        self.start_session()

    def warm_up(self) -> None:
        sp = self.spark
        sp.range(200_000).selectExpr("id % 97 AS k", "id").groupBy("k").count().collect()

    def setup(self, extra=None):
        """Session start + warm-up (+ the workload's own set-up), timed as
        ``setup_s``; the per-phase times are the ``session.*`` metrics."""
        t0 = time.perf_counter()
        self.start_session()
        t1 = time.perf_counter()
        self.warm_up()
        t2 = time.perf_counter()
        out = extra() if extra else None
        t3 = time.perf_counter()
        self.session = {"start_s": t1 - t0, "warmup_s": t2 - t1, "workload_s": t3 - t2}
        self.setup_s = t3 - t0
        self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        if self.trace:
            self.tracer.install()
        return out

    def stop(self) -> None:
        """Stop Spark and the JVM it runs in, and wait for it to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None

    # -- inputs --------------------------------------------------------------
    def cached_inputs(self, name: str, make, params: tuple):
        """``make(root)`` generates inputs under ``root``; the files and
        the returned ground truth are kept under .perfbench_cache by
        seed, generator parameters and generator source, so a repeated
        seed skips generation and a changed generator never reads a
        stale cache."""
        import hashlib

        key = hashlib.sha1(repr(params).encode() + (HERE / "gen.py").read_bytes())
        cache = CACHE / name / f"seed{self.seed}-{key.hexdigest()[:12]}"
        truth = cache / "truth.pkl"
        t0 = time.perf_counter()
        if truth.exists():
            with open(truth, "rb") as f:
                old_root, obj = pickle.load(f)
            obj = _rebase(obj, old_root, str(cache))
            self.details["inputs"] = "cached"
        else:
            tmp = cache.with_name(f"{cache.name}.tmp{os.getpid()}")
            shutil.rmtree(tmp, ignore_errors=True)
            tmp.mkdir(parents=True)
            obj = make(tmp)
            with open(tmp / "truth.pkl", "wb") as f:
                pickle.dump((str(tmp), obj), f, protocol=pickle.HIGHEST_PROTOCOL)
            shutil.rmtree(cache, ignore_errors=True)
            os.rename(tmp, cache)
            obj = _rebase(obj, str(tmp), str(cache))
            self.details["inputs"] = "generated"
        self.details["input_prep_s"] = round(time.perf_counter() - t0, 3)
        return obj

    # -- timing and checks -----------------------------------------------------
    def timed(self, label: str, fn, spec: str | None = None):
        """Run ``fn`` on the clock; returns (result or None on error,
        seconds).  Ops (``label == "op"`` or a query spec) get their Spark
        work counted in the traced run."""
        is_op = label == "op" or spec is not None
        group = None
        if self.trace:
            if is_op:
                group = f"perfbench-op-{self.n_ops}"
                self.spark.sparkContext.setJobGroup(group, label)
            self.tracer.active = True
        traced_before = sum(self.tracer.self_s.values())
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception as exc:  # noqa: BLE001 — a failed op is counted
            out = None
            self.messages.append(f"{label}: {type(exc).__name__}: {str(exc)[:300]}")
            if spec is not None:
                self._spec_errors[spec] = self._spec_errors.get(spec, 0) + 1
        secs = time.perf_counter() - t0
        if self.trace:
            self.tracer.active = False
            if group is not None:
                self.spark.sparkContext.setJobGroup("perfbench-other", "between ops")
                for i, v in enumerate(spark_work(self.spark, group)):
                    self.work_counts[i] += v
        if is_op:
            self.n_ops += 1
            self.op_traced_s += sum(self.tracer.self_s.values()) - traced_before
        if spec is not None:
            self._spec_runs[spec] = self._spec_runs.get(spec, 0) + 1
        return out, secs

    def record(self, label: str, failures: list[str] | None) -> None:
        """Count one op or read; ``None`` means it raised (already logged)."""
        self.attempted += 1
        if failures is None or failures:
            self.failed += 1
            self.messages.extend(failures or [])

    def settle_spec(self, spec: str, failures: list[str]) -> None:
        """Count a spec's timed runs once its collected output is checked:
        all fail if the output is wrong, else only those that raised."""
        runs = self._spec_runs.get(spec, 0)
        self.attempted += runs
        self.failed += runs if failures else self._spec_errors.get(spec, 0)
        self.messages.extend(failures)

    def check(self, label: str, failures: list[str]) -> None:
        """A check outside the ops (set-up result, end-of-run state): it
        counts in ``attempted``/``failed`` but not in ``ok_op_frac``."""
        self.checks_attempted += 1
        if failures:
            self.checks_failed += 1
            self.messages.extend(f"{label}: {m}" for m in failures)

    # -- results -----------------------------------------------------------------
    def peak_rss_mb(self) -> float:
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        jvm_kb = 0
        try:
            with open(f"/proc/{self.jvm_pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        jvm_kb = int(line.split()[1])
        except (OSError, TypeError):
            pass
        return (py_kb + jvm_kb) / 1024.0

    def end_to_end(self) -> dict[str, tuple[float, str]]:
        op, rd, rnd = self.samples["op"], self.samples["read"], self.samples["round"]
        op_tail, op_pct = tail(op)
        rd_tail, rd_pct = tail(rd)
        self.details.update({
            "op_samples": len(op), "op_tail_percentile": op_pct,
            "read_samples": len(rd), "read_tail_percentile": rd_pct,
            "rounds": len(rnd), "measured_s": round(self.clock, 3),
            "session_s": {k: round(v, 4) for k, v in self.session.items()},
        })
        passed = self.attempted - self.failed
        return {
            "setup_s": (self.setup_s, "s"),
            "op_p50_s": (statistics.median(op), "s"),
            "op_tail_s": (op_tail, "s"),
            "read_p50_s": (statistics.median(rd), "s"),
            "read_tail_s": (rd_tail, "s"),
            "rows_per_s": (self.rows_in / sum(op), "1/s"),
            "round_s": (statistics.median(rnd), "s"),
            "ok_op_frac": (passed / self.attempted, "ratio"),
            "peak_rss_mb": (self.peak_rss_mb(), "MB"),
            "bytes_stored_per_input_byte": (self.stored_ratio, "ratio"),
        }

    def per_layer(self, ledger_files: int) -> dict[str, tuple[float, str]]:
        rounds = max(1, len(self.samples["round"]))
        ops = max(1, self.n_ops)
        t = self.tracer
        out: dict[str, tuple[float, str]] = {
            "session.start_s": (self.session.get("start_s", 0.0), "s"),
            "session.warmup_s": (self.session.get("warmup_s", 0.0), "s"),
        }
        per_round = [
            "sources.sniff_s", "sources.unzip_s", "sources.scan_build_s",
            "ledger.append_s", "ledger.read_s",
            "table_format.append_s", "table_format.read_s", "table_format.recover_s",
            "ingest.plan_s", "ingest.self_s", "hash_index.walk_s", "ids.watermark_s",
            "retention.drop_s",
        ]
        for m in per_round:
            out[m] = (t.self_s.get(m, 0.0) / rounds, "s")
        for m in ("sources.calls", "ledger.appends", "table_format.files_written",
                  "retention.partitions_dropped"):
            out[m] = (t.counts.get(m, 0) / rounds, "count")
        out["table_format.bytes_written"] = (t.counts.get("table_format.bytes_written", 0) / rounds, "B")
        out["ledger.files"] = (float(ledger_files), "count")
        for name, v in zip(("jobs", "stages", "tasks"), self.work_counts):
            out[f"spark.{name}_per_op"] = (v / ops, "count")
        for s in workloads.QUERY_SPECS:
            out[f"queries.{s}_s"] = (self.spec_s.get(s, 0.0), "s")
        return out


def _rebase(obj, old: str, new: str):
    """Move every Path inside ``obj`` from root ``old`` to root ``new``."""
    import dataclasses

    if isinstance(obj, Path):
        s = str(obj)
        return Path(new + s[len(old):]) if s.startswith(old) else obj
    if isinstance(obj, list):
        return [_rebase(x, old, new) for x in obj]
    if isinstance(obj, dict):
        return {k: _rebase(v, old, new) for k, v in obj.items()}
    if dataclasses.is_dataclass(obj):
        for f in dataclasses.fields(obj):
            if f.name != "rows":
                setattr(obj, f.name, _rebase(getattr(obj, f.name), old, new))
        return obj
    return obj


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "datawarehouse_backup_system_spark").is_dir():
        print(f"the program is not in {ROOT}: run from the repository root",
              file=sys.stderr)
        return 2
    pin_environment()
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(ROOT / "tools"))
    try:
        import datawarehouse_backup_system_spark  # noqa: F401
        from check_oracle import compare
    except ImportError as exc:
        print(f"cannot import the program: {exc}", file=sys.stderr)
        return 2

    bench = Bench(args)
    bench.compare = compare
    cpu0, load0 = _cpu_times(), _loadavg()
    selftest = checks.selftest(compare)
    if selftest:
        bench.check("selftest", selftest)
    try:
        getattr(workloads, args.workload)(bench)
        if bench.trace:
            bench.tracer.uninstall()
        ledger = WORK / "warehouse" / "_ledger"
        ledger_files = sum(1 for _ in ledger.glob("*.parquet")) if ledger.exists() else 0
        metrics = (bench.per_layer(ledger_files) if bench.trace else bench.end_to_end())
        if bench.trace:
            bench.end_to_end()   # fills the sample details
            op = bench.samples["op"]
            spans_per_round = bench.tracer.spans / max(1, len(bench.samples["round"]))
            cost = bench.tracer.span_cost_s()
            bench.details["traced_op_p50_s"] = round(statistics.median(op), 4)
            bench.details["spans_per_round"] = round(spans_per_round, 1)
            bench.details["trace_overhead_s_per_round"] = round(spans_per_round * cost, 6)
            # share of op wall time the layer self times account for
            bench.details["trace_op_coverage"] = round(bench.op_traced_s / sum(op), 4)
    finally:
        bench.stop()
    cpu1 = _cpu_times()
    delta = [b - a for a, b in zip(cpu0, cpu1)]
    bench.details["host"] = {
        "cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
        "loadavg_start": load0, "loadavg_end": _loadavg(),
        "steal_frac": round(delta[7] / max(1, sum(delta)), 4) if len(delta) > 7 else None,
    }
    bench.details["checks_failed"] = bench.messages[:20]
    failed = bench.failed + bench.checks_failed
    print("details " + json.dumps(bench.details, sort_keys=True, default=str))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": bench.attempted + bench.checks_attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    shutil.rmtree(WORK, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
