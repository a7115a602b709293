"""Run one benchmark workload against the engine and print its metrics.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload olap_sql --seed 1 --seconds 10 --trace 0

One process, one closed-loop client, ``local[nproc]``, on the sf0.1 tables
that ``bench.py`` reads (``$SPARK_GRAFT_SF_DIR``). A run:

1. starts the session and counts every testdata table once (``setup_s``);
2. runs the workload once in a seeded order, collecting each result
   (``cold_pass_s``), and compares each result with its DuckDB oracle
   outside the timing; then runs the family's known-defect queries,
   reported but not counted;
3. repeats warm passes, each in a fresh seeded order, until ``--seconds``
   have been spent; every timed ``count()`` must equal the verified count.

With ``--trace 1`` the warm passes alternate untraced and traced. A traced
pass wraps the engine's layer functions (``layers.py``) and reads each
query's jobs and stages from the status store; the run prints the
per-layer metrics. Every run writes its samples (and, traced, its spans
and job counts) to one new file under ``.bench_runs/``.
Metric definitions: ``perfbench/METRICS.md``.

The last line of stdout is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import gc
import json
import math
import os
import platform
import random
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
RUNS = os.path.join(ROOT, ".bench_runs")
sys.path.insert(0, HERE)

import layers  # noqa: E402
from ledger import JobLedger, Tracer, innermost_span, layer_totals, tail_percentile, union_length  # noqa: E402
from workloads import KNOWN_DEFECTS, WORKLOADS  # noqa: E402

TRACED_LAYERS = {name for name, _, _ in layers.LAYERS}

E2E_UNITS = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "pass_s": "s",
    "query_p50_s": "s",
}

# per-layer metric -> unit; filled from one traced pass by ``layer_metrics``
LAYER_UNITS = {
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.job_s": "s",
    "spark.driver_gap_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.input_bytes": "bytes",
    "spark.output_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.executor_cpu_s": "s",
    "registry.load_table.calls": "count",
    "registry.load_table.s": "s",
    "fastschema.fast_parquet_schema.calls": "count",
    "fastschema.fast_parquet_schema.s": "s",
    "fastschema.fast_parquet_schema.fallbacks": "count",
    "sources.txnlog.calls": "count",
    "sources.txnlog.s": "s",
    "sources.txnlog.self_s": "s",
    "sources.txnlog.jobs": "count",
    "sources.genlog.calls": "count",
    "sources.genlog.s": "s",
    "sources.genlog.self_s": "s",
    "sources.genlog.jobs": "count",
    "sources.commitio.calls": "count",
    "sources.commitio.s": "s",
    "sources.commitio.refused": "count",
    "sources.writers.calls": "count",
    "sources.writers.s": "s",
    "sources.writers.jobs": "count",
    "sources.disk_bytes": "bytes",
    "sources.disk_files": "count",
    "operators.dedup.calls": "count",
    "operators.dedup.s": "s",
    "operators.dedup.self_s": "s",
    "operators.dedup.jobs": "count",
    "operators.similarity.calls": "count",
    "operators.similarity.s": "s",
    "operators.similarity.self_s": "s",
    "operators.similarity.jobs": "count",
    "operators.caching.persisted_rdds": "count",
    "concurrency.run_overlapped.calls": "count",
    "concurrency.run_overlapped.thunks": "count",
    "concurrency.run_overlapped.s": "s",
    "plans.llm_pipeline.prepare_corpus.s": "s",
    "plans.llm_pipeline.prepare_corpus.jobs": "count",
    "plans.gdpr.erase_subject.s": "s",
    "plans.gdpr.erase_subject.jobs": "count",
    "streaming.ops.calls": "count",
    "streaming.ops.s": "s",
    "streaming.ops.jobs": "count",
    "quality.engine.calls": "count",
    "quality.engine.s": "s",
    "process.peak_rss_mb": "MB",
    "trace.overhead": "ratio",
}



def prepare_environment() -> str:
    """Point every scratch path of the engine, Spark and the JVM into the
    checkout, and return the sf directory ``bench.py`` reads."""
    if not os.path.isfile(os.path.join(ROOT, "bench.py")):
        raise SystemExit(f"no engine checkout around {HERE}: run from the root of a repository checkout")
    shutil.rmtree(WORK, ignore_errors=True)
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, sub))
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)
    import tempfile

    tempfile.tempdir = None
    import bench

    return bench.SF_DIR


def vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def tree_size(path: str) -> tuple[int, int]:
    n_bytes = n_files = 0
    for dirpath, _, files in os.walk(path):
        for name in files:
            try:
                n_bytes += os.lstat(os.path.join(dirpath, name)).st_size
                n_files += 1
            except FileNotFoundError:
                pass
    return n_bytes, n_files


def stop_spark(spark) -> None:
    """Stop the session and the JVM that PySpark launched, and wait for it."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at end of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def first_line(exc: BaseException) -> str:
    text = str(exc).strip()
    return f"{type(exc).__name__}: {text.splitlines()[0][:300] if text else ''}"


def git_commit() -> str:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


class Run:
    def __init__(self, args):
        self.args = args
        self.workload = WORKLOADS[args.workload]
        self.names = list(self.workload["queries"])
        self.rng = random.Random(args.seed)
        self.attempted = 0
        self.failures: list[dict] = []
        self.verified: dict[str, int] = {}
        self.known: dict[str, str] = {}
        self.spans_out: list[dict] = []

    # -- one timed execution ------------------------------------------------
    def execute(self, name: str, phase: str, collect: bool = False):
        """Run one query with a ``count()``, or a ``collect()``; returns
        ``(df, row count or rows, seconds)`` or ``None`` when it raised
        (recorded as a failure)."""
        self.attempted += 1
        self.spark.catalog.clearCache()
        t0 = time.perf_counter()
        try:
            df = self.queries[name].fn(self.spark, self.sf)
            out = df.collect() if collect else df.count()
        except Exception as exc:  # one failing query never aborts a run
            self.fail(name, phase, first_line(exc))
            return None
        return df, out, time.perf_counter() - t0

    def fail(self, name: str, phase: str, why: str) -> None:
        self.failures.append({"query": name, "phase": phase, "why": why})
        print(f"FAIL {phase} {name}: {why}", file=sys.stderr)

    # -- phases ---------------------------------------------------------------
    def setup(self) -> float:
        from etl_hiscox_spark.queries import all_queries
        from etl_hiscox_spark.registry import TESTDATA_TABLES, load_table
        from etl_hiscox_spark.session import get_spark

        self.queries = all_queries()
        missing = [n for n in self.names + KNOWN_DEFECTS[self.args.workload] if n not in self.queries]
        if missing:
            raise SystemExit(f"unregistered queries: {missing}")
        t0 = time.perf_counter()
        java_tmp = f"-Djava.io.tmpdir={os.environ['TMPDIR']}"
        self.spark = get_spark("perfbench", extra_conf={"spark.driver.extraJavaOptions": java_tmp})
        for t in TESTDATA_TABLES:
            load_table(self.spark, t, self.sf).count()
        return time.perf_counter() - t0

    def cold_pass(self) -> float:
        """The first pass: each query's collected result is compared with
        its DuckDB oracle, outside the timing. Returns the summed latency."""
        import gate

        vl = gate.verify_local(ROOT)
        con = gate.oracle_connection(vl, self.sf)
        total = 0.0
        try:
            for name in self.rng.sample(self.names, len(self.names)):
                res = self.execute(name, "cold", collect=True)
                if res is None:
                    continue
                df, rows, dt = res
                total += dt
                try:
                    problems = gate.compare(vl, df, rows, con, self.queries[name].oracle)
                except Exception as exc:
                    problems = [first_line(exc)]
                if problems:
                    self.fail(name, "gate", "; ".join(problems)[:500])
                else:
                    self.verified[name] = len(rows)
            for name in KNOWN_DEFECTS[self.args.workload]:
                self.spark.catalog.clearCache()
                try:
                    df = self.queries[name].fn(self.spark, self.sf)
                    rows = df.collect()
                    problems = gate.compare(vl, df, rows, con, self.queries[name].oracle)
                except Exception as exc:
                    problems = [first_line(exc)]
                self.known[name] = "; ".join(problems)[:300] if problems else "passes"
        finally:
            con.close()
        return total

    def warm_passes(self) -> list[dict]:
        """Warm passes until the time budget is spent; returns one record per pass."""
        passes = []
        t_start = time.perf_counter()
        min_passes = 3  # a per-query median then sets one outlier aside
        while True:
            spent = time.perf_counter() - t_start
            if len(passes) >= min_passes and spent + spent / len(passes) > self.args.seconds:
                break
            traced = bool(self.args.trace) and len(passes) % 2 == 1
            passes.append(self.one_pass(len(passes), traced))
            # the per-pass GC barrier of bench.py, outside the timed queries
            gc.collect()
            self.spark.sparkContext._jvm.System.gc()
        return passes

    def one_pass(self, index: int, traced: bool) -> dict:
        order = self.rng.sample(self.names, len(self.names))
        rec = {"index": index, "traced": traced, "latency": {}, "wall": 0.0}
        tracer = Tracer() if traced else None
        if traced:
            tracer.install(layers.targets(), layers.PACKAGE)
            rec["ledger"] = []
        try:
            for name in order:
                lo = self.jobs.next_job_id() if traced else 0
                n_spans = len(tracer.spans) if traced else 0
                w0 = time.time()
                res = self.execute(name, "warm")
                w1 = time.time()
                if res is None:
                    continue
                _, n, dt = res
                rec["latency"][name] = dt
                rec["wall"] += dt
                if n != self.verified.get(name):
                    self.fail(name, "warm", f"count() gave {n}, verified {self.verified.get(name)}")
                if traced:
                    rec["ledger"].append(self.query_ledger(name, lo, tracer.spans[n_spans:], dt, w0, w1))
        finally:
            if traced:
                tracer.uninstall()
        if traced:
            now = time.time()
            for s in tracer.spans:
                if math.isnan(s.end):
                    s.end = now
            rec["layers"] = layer_totals(tracer.spans)
            for s in tracer.spans:
                self.spans_out.append(
                    {
                        "pass": index,
                        "id": s.id,
                        "parent": s.parent,
                        "layer": s.layer,
                        "name": s.name,
                        "start": round(s.start, 6),
                        "end": round(s.end, 6),
                        "self_s": round(s.self_time(), 6),
                        "error": s.error,
                    }
                )
            rec["spans"] = tracer.spans
        return rec

    def query_ledger(self, name: str, lo: int, spans, latency: float, w0: float, w1: float) -> dict:
        """Jobs, stages and span attribution of one traced query."""
        from etl_hiscox_spark.operators.caching import cached_rdd_count

        jobs = self.jobs.jobs(lo, self.jobs.next_job_id())
        stages = self.jobs.stage_totals(sid for j in jobs for sid in j.stage_ids)
        job_s = union_length([(j.start, j.end) for j in jobs], w0, w1)
        by_layer: dict[str, int] = {}
        for j in jobs:
            span = innermost_span(spans, j.start)
            layer = span.layer if span else "query"
            by_layer[layer] = by_layer.get(layer, 0) + 1
        disk_bytes, disk_files = tree_size(os.path.join(os.environ["TMPDIR"], "etl_hiscox_spark_writes"))
        return {
            "query": name,
            "latency_s": latency,
            "jobs": len(jobs),
            "job_ids": [lo, lo + len(jobs)],
            "stages": stages.pop("stages"),
            "tasks": sum(j.tasks for j in jobs),
            "failed_tasks": sum(j.failed_tasks for j in jobs),
            "job_s": job_s,
            "driver_gap_s": latency - job_s,
            "jobs_by_layer": by_layer,
            "persisted_rdds": cached_rdd_count(self.spark),
            "disk_bytes": disk_bytes,
            "disk_files": disk_files,
            **stages,
        }

    # -- metrics ----------------------------------------------------------------
    def layer_metrics(self, passes: list[dict]) -> dict[str, float]:
        traced = [p for p in passes if p["traced"]]
        plain = [p for p in passes if not p["traced"]]
        per_pass = [self.pass_layer_values(p) for p in traced]
        out = {k: statistics.fmean(v[k] for v in per_pass) for k in per_pass[0]}
        out["trace.overhead"] = statistics.median(p["wall"] for p in traced) / statistics.median(
            p["wall"] for p in plain
        ) - 1
        return out

    @staticmethod
    def pass_layer_values(p: dict) -> dict[str, float]:
        led = p["ledger"]
        vals = {
            "spark.jobs": sum(q["jobs"] for q in led),
            "spark.stages": sum(q["stages"] for q in led),
            "spark.tasks": sum(q["tasks"] for q in led),
            "spark.failed_tasks": sum(q["failed_tasks"] for q in led),
            "spark.job_s": sum(q["job_s"] for q in led),
            "spark.driver_gap_s": sum(q["driver_gap_s"] for q in led),
            "spark.shuffle_read_bytes": sum(q["shuffleReadBytes"] for q in led),
            "spark.shuffle_write_bytes": sum(q["shuffleWriteBytes"] for q in led),
            "spark.input_bytes": sum(q["inputBytes"] for q in led),
            "spark.output_bytes": sum(q["outputBytes"] for q in led),
            "spark.spill_bytes": sum(q["memoryBytesSpilled"] + q["diskBytesSpilled"] for q in led),
            "spark.executor_cpu_s": sum(q["executorCpuTime"] for q in led) / 1e9,
            "sources.disk_bytes": max(q["disk_bytes"] for q in led),
            "sources.disk_files": max(q["disk_files"] for q in led),
            "operators.caching.persisted_rdds": sum(q["persisted_rdds"] for q in led),
        }
        jobs_by_layer: dict[str, int] = {}
        for q in led:
            for layer, n in q["jobs_by_layer"].items():
                jobs_by_layer[layer] = jobs_by_layer.get(layer, 0) + n
        totals = p["layers"]
        spans = p["spans"]
        for metric in LAYER_UNITS:
            layer, _, stat = metric.rpartition(".")
            if layer not in TRACED_LAYERS:
                continue
            t = totals.get(layer, {})
            if stat == "jobs":
                vals[metric] = jobs_by_layer.get(layer, 0)
            elif stat == "thunks":
                vals[metric] = sum(s.arg0_len or 0 for s in spans if s.layer == layer)
            elif stat == "refused":
                vals[metric] = t.get("errors", {}).get("FileExistsError", 0)
            elif stat == "fallbacks":
                vals[metric] = t.get("none", 0)
            else:
                vals[metric] = t.get(stat, 0)
        return vals

    def e2e_metrics(self, setup_s: float, cold_s: float, passes: list[dict]) -> tuple[dict, dict]:
        plain = [p for p in passes if not p["traced"]]
        samples = [dt for p in plain for dt in p["latency"].values()]
        per_query: dict[str, list[float]] = {}
        for p in plain:
            for q, dt in p["latency"].items():
                per_query.setdefault(q, []).append(dt)
        n = len(samples)
        try:
            tail, pct, _ = tail_percentile(samples)
            tail_note = f"query tail = {tail:.4f} s at p{100 * pct:.0f} of n={n} (highest percentile <= p90 with >= 10 beyond)"
        except ValueError:
            tail_note = f"query tail not reported: n={n} warm samples leave fewer than 10 beyond any percentile"
        metrics = {
            "setup_s": setup_s,
            "cold_pass_s": cold_s,
            # bench.py's statistic: the sum of per-query medians over passes
            "pass_s": sum(statistics.median(v) for v in per_query.values()),
            "query_p50_s": statistics.median(statistics.median(v) for v in per_query.values()),
        }
        notes = {
            "query_p50_s": f"median over {len(per_query)} queries of each one's median; {tail_note}",
            "pass_s": f"sum of per-query medians over {len(plain)} untraced warm passes",
        }
        return metrics, notes

    # -- driver -----------------------------------------------------------------
    def main(self) -> int:
        self.sf = prepare_environment()
        load_start = os.getloadavg()
        phases = {}
        try:
            setup_s = self.setup()
            self.jvm_pid = int(self.spark.sparkContext._jvm.ProcessHandle.current().pid())
            self.jobs = JobLedger(self.spark)
            t = time.perf_counter()
            cold_s = self.cold_pass()
            phases["cold and gate"] = time.perf_counter() - t
            t = time.perf_counter()
            passes = self.warm_passes()
            phases["warm"] = time.perf_counter() - t
            e2e, notes = self.e2e_metrics(setup_s, cold_s, passes)
            layer_vals = self.layer_metrics(passes) if self.args.trace else {}
            # VmHWM: driver Python process plus the JVM, both still alive
            rss_mb = (vm_hwm_kb(os.getpid()) + vm_hwm_kb(self.jvm_pid)) / 1024
            if self.args.trace:
                layer_vals["process.peak_rss_mb"] = rss_mb
        finally:
            stop_spark(getattr(self, "spark", None))
            shutil.rmtree(WORK, ignore_errors=True)
        failed = len(self.failures)
        wl = self.args.workload
        print(f"workload {wl}: {len(self.names)} queries, seed {self.args.seed}, {len(passes)} warm passes")
        print("  phase seconds: " + ", ".join(f"{k} {v:.1f}" for k, v in phases.items()))
        for k, v in e2e.items():
            print(f"  {k} = {v:.4f} {E2E_UNITS[k]}" + (f"  ({notes[k]})" if k in notes else ""))
        print(f"  failed_frac = {failed}/{self.attempted} = {failed / self.attempted:.4f} executions")
        print(f"  peak_rss_mb = {rss_mb:.1f} MB (driver Python + JVM VmHWM; not gated, see METRICS.md)")
        for name, outcome in self.known.items():
            print(f"  known defect {name}: {outcome}")
        for k, v in layer_vals.items():
            print(f"  {k} = {v:.6g} {LAYER_UNITS[k]}")
        self.write_ledger(passes, setup_s, e2e, layer_vals, load_start)
        chosen = layer_vals if self.args.trace else e2e
        units = LAYER_UNITS if self.args.trace else E2E_UNITS
        result = {
            "correct": failed == 0 and len(self.verified) == len(self.names),
            "attempted": self.attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in chosen.items()},
        }
        print(json.dumps(result))
        return 0

    def write_ledger(self, passes, setup_s, e2e, layer_vals, load_start) -> None:
        import pyspark

        os.makedirs(RUNS, exist_ok=True)
        stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime())
        path = os.path.join(RUNS, f"{self.args.workload}-seed{self.args.seed}-{stamp}-{os.getpid()}.json")
        doc = {
            "workload": self.args.workload,
            "seed": self.args.seed,
            "seconds": self.args.seconds,
            "nproc": len(os.sched_getaffinity(0)),
            "loadavg_at_start": load_start,
            "git_commit": git_commit(),
            "pyspark": pyspark.__version__,
            "python": platform.python_version(),
            "sf_dir": self.sf,
            "setup_s": setup_s,
            "e2e": e2e,
            "per_layer": layer_vals,
            "failures": self.failures,
            "known_defects": self.known,
            "verified_rows": self.verified,
            "passes": [
                {k: v for k, v in p.items() if k not in ("spans", "layers")} for p in passes
            ],
            "spans": self.spans_out,
        }
        with open(path, "w") as f:
            json.dump(doc, f)
        print(f"  ledger written to {os.path.relpath(path, ROOT)}")


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


if __name__ == "__main__":
    try:
        sys.exit(Run(parse_args()).main())
    except SystemExit:
        raise
    except BaseException:
        traceback.print_exc()
        sys.exit(1)
