"""The repository benchmark: the sales star-schema pipeline and its reads.

Run from the root of a checkout::

    python3 perfbench/run.py --workload nightly_incremental --seed 1 --seconds 8 --trace 0

Workloads (closed loop, one client: the next operation starts when the
previous one returns):

- ``nightly_incremental``: a bulk history date and a first slice are loaded
  before timing, then consecutive run dates of the full sales pipeline, each
  with a small slice and ~1% dimension churn.  One operation is one run date.
- ``analyst_queries``: a warehouse built by the pipeline, then a seeded
  sequence of read queries over its parquet layers.  One operation is one
  query.  Its traced run also times the ``registry`` headline specs that
  read TPC-H-shaped tables, over a small star written from the seed.

Operations are timed by the CPU time they cost (see ``thread_cpu_ns``), which
the host's other tenants move far less than wall time; wall latency is a
per-layer metric of the traced run.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``; ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer metrics.  The line before it
records the workload, seed, cpus and a digest of the program's sources.
See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import datetime as dt
import hashlib
import json
import os
import random
import resource
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SETUP_REPS = 5
DRIVER_MEMORY = "2g"
START_DATE = "2024-03-01"

# --- workload shapes --------------------------------------------------------
# nightly_incremental: one bulk history date (its orders spread over the
# following order_days days), then nightly slices with ~1% dimension churn.
NIGHTLY = {
    "history": dict(new_customers=1000, new_products=100, customer_churn=0.0,
                    product_churn=0.0, orders=2000, order_days=10),
    "slice": dict(new_customers=10, new_products=1, customer_churn=0.01,
                  product_churn=0.01, orders=300),
    "min_ops": 1,
}
# analyst_queries: the warehouse is the nightly history plus a churn date that
# gives some customers a second SCD2 version.
ANALYST_CHURN = dict(new_customers=10, new_products=1, customer_churn=0.05,
                     product_churn=0.02, orders=300)
ANALYST_CHURN_DATES = 1
# untimed passes over every query class before timing: the first compiles
# the plans, the rest let the JIT settle
ANALYST_WARMUP_PASSES = 3
# timed passes over the registry specs in a traced analyst run
CATALOG_PASSES = 2

END_TO_END = {
    "setup_s": "s",
    "op_cpu_ms": "ms",
    "stored_bytes_per_input_byte": "ratio",
    "peak_rss_mb": "MB",
}
STAGES = ("customers", "products", "orders", "order_items", "dim_customers",
          "dim_products", "dim_dates", "fact_orders", "sales_summary",
          "customer_analytics")


def per_layer_units() -> dict[str, str]:
    import catalog
    from queries import CLASSES

    units = {"session.start_s": "s", "session.cold_start_s": "s",
             "pipeline.run_date_s": "s",
             "pipeline.runner_overhead_s": "s", "op.wall_p50_ms": "ms",
             "trace.instrument_s": "s",
             "trace.overhead_ms": "ms"}
    for st in STAGES:
        units |= {f"stage.{st}.s": "s", f"stage.{st}.spark_jobs": "count",
                  f"stage.{st}.spark_tasks": "count"}
    units |= {
        "io.read_csv.calls": "count", "io.write_swap.s": "s",
        "io.write_partition_overwrite.s": "s", "io.write_full_overwrite.s": "s",
        "io.bytes_written": "bytes", "io.files_written": "count",
        "io.write_amplification": "ratio",
        "scd2.plan_s": "s", "scd2.slice_rows": "count",
        "scd2.versions_inserted": "count", "scd2.versions_expired": "count",
        "merge.target_rows": "count", "merge.source_rows": "count",
        "merge.rows_rewritten_per_new_row": "ratio",
        "pit.fact_rows_in": "count", "pit.rows_resolved": "count",
        "pit.resolved_ratio": "ratio",
        "dims.date_rows_generated": "count", "dims.date_rows_new": "count",
        "q.p90_ms": "ms", "q.p90_samples": "count", "catalog.pass_s": "s",
    }
    for c in CLASSES:
        units |= {f"q.{c}.p50_ms": "ms", f"q.{c}.spark_tasks": "count"}
    for q in catalog.SPECS:
        units |= {f"catalog.{q}.s": "s", f"catalog.{q}.spark_tasks": "count"}
    return units


# --- process helpers --------------------------------------------------------
def cpus() -> int:
    return len(os.sched_getaffinity(0))


def source_digest() -> str:
    """Digest of the program's sources (the checkout is not a git repo)."""
    h = hashlib.sha256()
    for top in ("star_schema_etl_airflow_spark", "config"):
        for dp, dirs, fs in sorted(os.walk(os.path.join(ROOT, top))):
            dirs.sort()
            for f in sorted(fs):
                if f.endswith((".py", ".yaml")):
                    with open(os.path.join(dp, f), "rb") as fh:
                        h.update(f.encode() + fh.read())
    return h.hexdigest()[:16]


def vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def thread_cpu_ns(pids) -> dict[tuple[int, str], int]:
    """Run time, in ns, of every live thread of the processes ``pids``
    except the JVM's JIT compiler threads, whose work is warm-up.  The
    kernel's per-thread run time leaves out time the hypervisor stole from
    the virtual CPUs, so on a shared host it moves far less than wall time
    when other tenants get busy."""
    out = {}
    for pid in pids:
        tasks = f"/proc/{pid}/task"
        for tid in os.listdir(tasks):
            try:
                with open(f"{tasks}/{tid}/comm") as f:
                    if "CompilerThre" in f.read():
                        continue
                with open(f"{tasks}/{tid}/schedstat") as f:
                    out[pid, tid] = int(f.read().split()[0])
            except OSError:  # the thread has exited
                pass
    return out


def cpu_between(before: dict, after: dict) -> float:
    """CPU seconds the threads ran between two ``thread_cpu_ns`` readings.
    A thread that exited in between counts 0: what it ran since ``before``
    is lost, but Spark's pooled threads exit only after idling."""
    return sum(ns - before.get(k, 0) for k, ns in after.items()) / 1e9


def steal_jiffies() -> int:
    """Time the hypervisor stole from this machine's CPUs, summed over them."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def parquet_bytes(root: str) -> int:
    return sum(os.path.getsize(os.path.join(dp, f))
               for dp, _, fs in os.walk(root) for f in fs if f.endswith(".parquet"))


def median(xs):
    return statistics.median(xs) if xs else 0.0


def class_p50(samples: list[tuple[str, float]]) -> float:
    """Geometric mean over operation classes of each class's median, so a
    workload mixing fast and slow classes reports a value that does not
    jump with where the overall median falls between them."""
    by_class: dict[str, list[float]] = {}
    for cls, x in samples:
        by_class.setdefault(cls, []).append(x)
    return statistics.geometric_mean([statistics.median(v) for v in by_class.values()])


class Bench:
    """One benchmark run: session lifecycle, timing and result assembly."""

    def __init__(self, args):
        from star_schema_etl_airflow_spark.sources.schema import load_config

        self.args = args
        self.traced = args.trace == 1
        self.cfg = load_config(os.path.join(ROOT, "config", "sales_config.yaml"))
        self.work = os.path.join(ROOT, ".perfbench_work",
                                 f"{args.workload}-{args.seed}-{os.getpid()}")
        self.out_dir = os.path.join(ROOT, ".perfbench_out")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)
        os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        self.spark = None
        self.pids: tuple[int, ...] = ()
        self.steal = [0, 0.0]  # stolen jiffies and wall seconds of timed operations
        self.session_starts: list[float] = []
        self.setup_times: list[float] = []
        # (operation class, seconds) of the timed operations: wall time of
        # the untraced and traced ones, CPU time of the untraced ones
        self.latencies: list[tuple[str, float]] = []
        self.cpu_times: list[tuple[str, float]] = []
        self.traced_latencies: list[tuple[str, float]] = []
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.layer: dict[str, float] = {}

    # --- session ----------------------------------------------------------
    def set_up(self):
        """The workloads' common set-up, repeated ``SETUP_REPS`` times: start
        a Spark session with ``session.get_spark``, run a first job, and
        build the sales pipeline.  Only the first repetition launches the
        JVM; the others restart the session in the running JVM.  Stopping
        the previous repetition's session is teardown and is not timed.
        Returns the last repetition's warehouse and pipeline over
        ``<work>/wh``."""
        from star_schema_etl_airflow_spark.plans.sales_domain import (
            SalesWarehouse,
            build_sales_pipeline,
        )

        for _ in range(SETUP_REPS):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            self._start_session()
            self.spark.range(1).count()
            wh = SalesWarehouse(self.spark, os.path.join(self.work, "wh"), self.cfg)
            pipe = build_sales_pipeline(wh)
            self.setup_times.append(time.perf_counter() - t0)
        self.pids = (os.getpid(), self.jvm_pid())
        return wh, pipe

    def _start_session(self) -> None:
        from star_schema_etl_airflow_spark.session import get_spark

        conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.sql.warehouse.dir": os.path.join(self.work, "spark-warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.traced:
            conf |= {"spark.ui.retainedJobs": "100000",
                     "spark.ui.retainedStages": "100000"}
        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", extra_conf=conf)
        self.session_starts.append(time.perf_counter() - t0)
        self.spark.sparkContext.setLogLevel("ERROR")

    def stop(self) -> None:
        """Stop Spark and wait for the JVM this process launched to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 - the JVM must not outlive us
                proc.kill()
                proc.wait(timeout=30)

    def jvm_pid(self) -> int:
        return int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    # --- timed loop -------------------------------------------------------
    def timed(self, fn) -> tuple[str | None, float, float]:
        """Run ``fn()``; return its error message or None, its wall seconds
        and its CPU seconds (``thread_cpu_ns`` of Python and the JVM)."""
        c0, s0 = thread_cpu_ns(self.pids), steal_jiffies()
        t0 = time.perf_counter()
        try:
            fn()
            err = None
        except Exception as exc:  # noqa: BLE001 - a failed operation is counted
            err = f"{type(exc).__name__}: {exc}"[:500]
        wall = time.perf_counter() - t0
        self.steal[0] += steal_jiffies() - s0
        self.steal[1] += wall
        return err, wall, cpu_between(c0, thread_cpu_ns(self.pids))

    def closed_loop(self, op, min_ops: int, step: int = 1) -> None:
        """Run ``op(i, traced)`` until ``--seconds`` of timed work (twice that
        in a traced run, which alternates untraced and traced operations), at
        least ``min_ops`` operations per kind, and a whole number of
        ``step``-sized rounds.  ``op`` returns ``(class, wall seconds, CPU
        seconds, ok)``."""
        budget = self.args.seconds * (2 if self.traced else 1)
        spent, i = 0.0, 0
        while True:
            traced = self.traced and i % 2 == 1
            cls, seconds, cpu, ok = op(i, traced)
            if traced:
                self.traced_latencies.append((cls, seconds))
            else:
                self.latencies.append((cls, seconds))
                self.cpu_times.append((cls, cpu))
            self.attempted += 1
            self.failed += 0 if ok else 1
            spent += seconds
            i += 1
            enough = len(self.latencies) >= min_ops and (
                not self.traced or len(self.traced_latencies) >= min_ops)
            if spent >= budget and enough and i % step == 0:
                break

    # --- result -----------------------------------------------------------
    def end_to_end(self, stored_ratio: float) -> dict[str, float]:
        rss_kb = vm_hwm_kb(self.jvm_pid()) + resource.getrusage(
            resource.RUSAGE_SELF).ru_maxrss
        return {
            "setup_s": median(self.setup_times),
            "op_cpu_ms": class_p50(self.cpu_times) * 1000,
            "stored_bytes_per_input_byte": stored_ratio,
            "peak_rss_mb": rss_kb / 1024,
        }

    def emit(self, metrics: dict[str, float]) -> None:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        names = {m["name"]: m["unit"]
                 for m in spec["per_layer" if self.traced else "end_to_end"]}
        if set(names) != set(metrics):
            raise RuntimeError(
                f"metric names differ from BENCHMARK.json: "
                f"missing {sorted(set(names) - set(metrics))}, "
                f"extra {sorted(set(metrics) - set(names))}")
        for msg in self.errors[:20]:
            print(f"# error: {msg}", file=sys.stderr)
        print("# perfbench " + json.dumps({
            "workload": self.args.workload, "seed": self.args.seed, "cpus": cpus(),
            "seconds": self.args.seconds, "trace": self.args.trace,
            "source_digest": source_digest(),
            "setup_s": [round(x, 3) for x in self.setup_times],
            "steal_share": round(self.steal[0] / os.sysconf("SC_CLK_TCK")
                                 / (os.cpu_count() * self.steal[1]), 3),
            "op_s": [(c, round(x, 3)) for c, x in self.latencies],
            "op_cpu_s": [(c, round(x, 3)) for c, x in self.cpu_times],
            "traced_op_s": [(c, round(x, 3)) for c, x in self.traced_latencies]}))
        print(json.dumps({
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": float(v), "unit": names[k]}
                        for k, v in sorted(metrics.items())},
        }))


# --- pipeline workloads -----------------------------------------------------
def _check(con, base: str, truth) -> list[str]:
    import checks

    return checks.compare(checks.observe(con, base), truth.snapshot())


def run_nightly_workload(b: Bench) -> float:
    import duckdb

    import pipeline_trace
    from landing import DateSpec, LandingGenerator, dates_from

    dates = dates_from(START_DATE, 400)
    wh, pipe = b.set_up()
    gen = LandingGenerator(b.args.seed, wh.base, b.cfg)
    con = duckdb.connect()
    con.execute("SET threads = 2")

    # input preparation, untimed; it also pays the cold compile of every plan
    # shape: the history date and a first slice (the first date with churn
    # compiles the SCD2 change path), both checked
    for d, spec in ((dates[0], NIGHTLY["history"]), (dates[1], NIGHTLY["slice"])):
        gen.land(DateSpec(d, **spec))
        pipe.run(b.spark, d)
        errors = _check(con, wh.base, gen.truth)
        b.attempted += 1
        b.failed += 1 if errors else 0
        b.errors += [f"{d}: {e}" for e in errors]
    tracer = pipeline_trace.PipelineTracer(b, wh, pipe) if b.traced else None

    def op(i: int, traced: bool):
        d = dates[2 + i]
        gen.land(DateSpec(d, **NIGHTLY["slice"]))
        if traced:
            outcome = []
            err, seconds, cpu = b.timed(lambda: outcome.append(
                tracer.run_date(d, gen.truth.landing_bytes[d])))
            if err:
                b.errors.append(f"{d}: {err}")
            ok = err is None and outcome[0]
        else:
            err, seconds, cpu = b.timed(lambda: pipe.run(b.spark, d))
            if err:
                b.errors.append(f"{d}: {err}")
            ok = err is None
        if ok:
            errors = _check(con, wh.base, gen.truth)
            b.errors += [f"{d}: {e}" for e in errors]
            ok = not errors
        return "run_date", seconds, cpu, ok

    b.closed_loop(op, NIGHTLY["min_ops"])
    if tracer:
        b.layer = tracer.metrics()
    con.close()
    return parquet_bytes(wh.base) / sum(gen.truth.landing_bytes.values())


# --- analyst workload -------------------------------------------------------
def run_analyst_workload(b: Bench) -> float:
    import duckdb

    import queries
    from landing import DateSpec, LandingGenerator, dates_from

    dates = dates_from(START_DATE, 1 + ANALYST_CHURN_DATES)
    wh, pipe = b.set_up()
    base = wh.base
    gen = LandingGenerator(b.args.seed, base, b.cfg)
    gen.land(DateSpec(dates[0], **NIGHTLY["history"]))
    for d in dates[1:]:
        gen.land(DateSpec(d, **ANALYST_CHURN))

    # input preparation, untimed: the pipeline writes the warehouse
    for d in dates:
        pipe.run(b.spark, d)

    rng = random.Random(b.args.seed)
    order_dates = sorted(gen.truth.order_dates)
    ctx = {
        # 7-day windows that overlap the dates sales_summary holds
        "summary_starts": [(dt.date.fromisoformat(dates[0]) - dt.timedelta(days=k)).isoformat()
                           for k in range(6)],
        "order_dates": order_dates,
        "history_customers": sorted(c for c, n in gen.truth.customer_version_count.items()
                                    if n > 1),
    }
    # warm-up, untimed
    for _ in range(ANALYST_WARMUP_PASSES):
        for cls in queries.CLASSES:
            queries.spark_query(b.spark, base, cls, queries.draw_param(rng, cls, ctx))

    results: list[tuple[str, object, list]] = []
    spans: list[dict] = []
    tracer = None
    if b.traced:
        from spans import Tracer

        tracer = Tracer(b.spark, f"{b.args.workload}-{b.args.seed}")

    # balanced mix: every round runs each class once, in a seeded order
    n = len(queries.CLASSES)
    order: list[str] = []

    def op(i: int, traced: bool):
        if i % n == 0:
            order[:] = rng.sample(queries.CLASSES, n)
        cls = order[i % n]
        param = queries.draw_param(rng, cls, ctx)
        rows = []

        def query():
            if traced:
                with tracer.span(f"q.{cls}", job_group=True) as s:
                    rows.extend(queries.spark_query(b.spark, base, cls, param))
                spans.append(s)
            else:
                rows.extend(queries.spark_query(b.spark, base, cls, param))

        err, seconds, cpu = b.timed(query)
        if err:
            b.errors.append(f"{cls}({param}): {err}")
        else:
            results.append((cls, param, rows))
        return cls, seconds, cpu, err is None

    b.closed_loop(op, 2 * n, step=2 * n if b.traced else n)

    # oracle comparison outside the timed loop: every result against DuckDB
    con = duckdb.connect()
    con.execute("SET threads = 2")
    oracle: dict[tuple, list] = {}
    for cls, param, rows in results:
        key = (cls, param)
        if key not in oracle:
            oracle[key] = queries.duck_query(con, base, cls, param)
        if not queries.same_rows(rows, oracle[key]):
            b.failed += 1
            b.errors.append(f"{cls}({param}): {len(rows)} rows differ from DuckDB's "
                            f"{len(oracle[key])}")
    con.close()

    if tracer:
        catalog_spans = run_catalog(b, tracer)
        time.sleep(0.5)  # let the listener bus finish the last job's events
        tracer.resolve_spark_counts()
        tracer.write(os.path.join(b.out_dir, f"trace-{b.args.workload}-{b.args.seed}.json"))
        by_class: dict[str, list[dict]] = {c: [] for c in queries.CLASSES}
        for s in spans:
            by_class[s["name"][2:]].append(s)
        for c, ss in by_class.items():
            b.layer[f"q.{c}.p50_ms"] = median([tracer.duration(s) for s in ss]) * 1000
            b.layer[f"q.{c}.spark_tasks"] = median([s["spark_tasks"] for s in ss])
        # p90 over the untraced queries, which carry no job-group overhead
        lat = [x for _, x in b.latencies]
        b.layer["q.p90_ms"] = statistics.quantiles(lat, n=10)[-1] * 1000
        b.layer["q.p90_samples"] = len(lat)
        passes = [0.0] * CATALOG_PASSES
        for q, ss in catalog_spans.items():
            b.layer[f"catalog.{q}.s"] = median([tracer.duration(s) for s in ss])
            b.layer[f"catalog.{q}.spark_tasks"] = median([s["spark_tasks"] for s in ss])
            for p, s in enumerate(ss):
                passes[p] += tracer.duration(s)
        b.layer["catalog.pass_s"] = median(passes)
    return parquet_bytes(base) / sum(gen.truth.landing_bytes.values())


def run_catalog(b: Bench, tracer) -> dict[str, list[dict]]:
    """The registry specs over a seeded TPC-H-shaped star: one checked
    warm-up per spec, then ``CATALOG_PASSES`` timed passes in a seeded
    order.  Returns each spec's timed spans."""
    import catalog

    sf_dir = os.path.join(b.work, "tpch")
    catalog.write_star(b.args.seed, sf_dir)
    specs = catalog.specs()
    for q, spec in specs.items():
        b.attempted += 1
        try:
            err = catalog.check(b.spark, sf_dir, spec)
        except Exception as exc:  # noqa: BLE001 - a failed spec is counted
            err = f"{type(exc).__name__}: {exc}"
        if err:
            b.failed += 1
            b.errors.append(f"catalog {q}: {err}"[:500])
    rng = random.Random(b.args.seed)
    spans: dict[str, list[dict]] = {q: [] for q in specs}
    for _ in range(CATALOG_PASSES):
        for q in rng.sample(list(specs), len(specs)):
            b.attempted += 1
            try:
                with tracer.span(f"catalog.{q}", job_group=True) as s:
                    catalog.materialize(b.spark, sf_dir, specs[q])
            except Exception as exc:  # noqa: BLE001 - a failed spec is counted
                b.failed += 1
                b.errors.append(f"catalog {q}: {type(exc).__name__}: {exc}"[:500])
            spans[q].append(s)
    return spans


WORKLOADS = ("nightly_incremental", "analyst_queries")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    sys.path.insert(0, ROOT)
    b = Bench(args)
    try:
        if args.workload == "analyst_queries":
            stored = run_analyst_workload(b)
        else:
            stored = run_nightly_workload(b)
        if b.traced:
            metrics = {k: 0.0 for k in per_layer_units()}
            metrics |= b.layer
            metrics["session.start_s"] = median(b.session_starts)
            metrics["session.cold_start_s"] = b.session_starts[0]
            metrics["op.wall_p50_ms"] = class_p50(b.latencies) * 1000
            if b.traced_latencies and b.latencies:
                metrics["trace.overhead_ms"] = (
                    class_p50(b.traced_latencies) - class_p50(b.latencies)) * 1000
        else:
            metrics = b.end_to_end(stored)
    finally:
        b.stop()
        shutil.rmtree(b.work, ignore_errors=True)
    b.emit(metrics)
    return 0


if __name__ == "__main__":
    sys.exit(main())
