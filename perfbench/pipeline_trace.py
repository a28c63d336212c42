"""Traced run dates of the sales pipeline: spans around every layer the
pipeline calls, installed only for the traced run date and removed after.

Wrapped from outside (no program change): the stage functions of the built
``Pipeline``, the ``sources.io`` reader and writers, and the operators as
``plans.sales_domain`` calls them (``apply_scd2``, ``as_of_join``,
``merge_upsert``, ``build_date_dim``).  Spark is lazy, so operator spans time
plan building; execution lands in the ``io.*`` write span of the same stage.
Row counts add Spark jobs and run in instrument spans (see ``spans.py``).
"""

from __future__ import annotations

import datetime as dt
import os
import statistics
import time
from collections import defaultdict

from spans import INSTRUMENT, Tracer, tree_diff, tree_files

WRITERS = ("write_swap", "write_partition_overwrite", "write_full_overwrite")


class PipelineTracer:
    def __init__(self, bench, wh, pipe):
        self.b = bench
        self.wh = wh
        self.pipe = pipe
        self.t = Tracer(bench.spark, f"{bench.args.workload}-{bench.args.seed}")
        self.dates: list[tuple[dict, dict]] = []  # (run span, counters)
        self._orig_fns = {name: st.fn for name, st in pipe.stages.items()}
        self._cur: dict[str, float] = {}

    # --- install / remove -------------------------------------------------
    def _install(self) -> None:
        from star_schema_etl_airflow_spark.plans import sales_domain
        from star_schema_etl_airflow_spark.sources import io as sio

        for name, st in self.pipe.stages.items():
            st.fn = self._stage(name, self._orig_fns[name])
        self.t.patch(sio, "read_csv", self._read_csv)
        for w in WRITERS:
            self.t.patch(sio, w, lambda orig, w=w: self._writer(w, orig))
        self.t.patch(sales_domain, "apply_scd2", self._scd2)
        self.t.patch(sales_domain, "as_of_join", self._pit)
        self.t.patch(sales_domain, "merge_upsert", self._merge)
        self.t.patch(sales_domain, "build_date_dim", self._date_dim)

    def _remove(self) -> None:
        self.t.unpatch_all()
        for name, st in self.pipe.stages.items():
            st.fn = self._orig_fns[name]

    def _count(self, df) -> int:
        return self.t.instrument(df.count)

    # --- wrappers ---------------------------------------------------------
    def _stage(self, name, fn):
        def wrapped(spark, run_date, results):
            with self.t.span(f"stage.{name}", job_group=True):
                return fn(spark, run_date, results)
        return wrapped

    def _read_csv(self, orig):
        def wrapped(*a, **k):
            self._cur["io.read_csv.calls"] += 1
            with self.t.span("io.read_csv"):
                return orig(*a, **k)
        return wrapped

    def _writer(self, kind, orig):
        def wrapped(df, path, *a, **k):
            with self.t.span(INSTRUMENT):
                before = tree_files(self.wh.base)
            with self.t.span(f"io.{kind}"):
                orig(df, path, *a, **k)
            with self.t.span(INSTRUMENT):
                nbytes, nfiles = tree_diff(before, tree_files(self.wh.base))
            self._cur["io.bytes_written"] += nbytes
            self._cur["io.files_written"] += nfiles
        return wrapped

    def _scd2(self, orig):
        from pyspark.sql import functions as F

        def wrapped(dim, source, *a, **k):
            with self.t.span("scd2.apply_scd2") as s:
                res = orig(dim, source, *a, **k)
            self._cur["scd2.plan_s"] += s["end"] - s["start"]
            run = F.lit(k["run_date"]).cast("date")
            self._cur["scd2.slice_rows"] += self._count(source)
            self._cur["scd2.versions_inserted"] += self._count(
                res.filter(F.col("effective_date") == run))
            self._cur["scd2.versions_expired"] += self._count(
                res.filter(F.col("expiration_date") == run))
            return res
        return wrapped

    def _pit(self, orig):
        def wrapped(fact, dim, *a, **k):
            with self.t.span("pit.as_of_join"):
                res = orig(fact, dim, *a, **k)
            self._cur["pit.fact_rows_in"] += self._count(fact)
            self._cur["pit.rows_resolved"] += self._count(res)
            return res
        return wrapped

    def _merge(self, orig):
        def wrapped(target, source, keys):
            with self.t.span("merge.merge_upsert"):
                res = orig(target, source, keys)
            n_target, n_out = self._count(target), self._count(res)
            self._cur["merge.target_rows"] += n_target
            self._cur["merge.source_rows"] += self._count(source)
            self._cur["merge.output_rows"] += n_out
            if list(keys) == ["full_date"]:  # the dim_dates upsert
                self._cur["dims.date_rows_new"] += n_out - n_target
            return res
        return wrapped

    def _date_dim(self, orig):
        def wrapped(spark, start, end):
            with self.t.span("dims.build_date_dim"):
                res = orig(spark, start, end)
            days = dt.date.fromisoformat(end) - dt.date.fromisoformat(start)
            self._cur["dims.date_rows_generated"] += days.days + 1
            return res
        return wrapped

    # --- one traced run date ----------------------------------------------
    def run_date(self, run_date: str, landing_bytes: int) -> tuple[float, bool]:
        self._cur = defaultdict(float)
        self._install()
        ok = True
        t0 = time.perf_counter()
        try:
            with self.t.span("pipeline.run", run_date=run_date) as span:
                self.pipe.run(self.b.spark, run_date)
        except Exception as exc:  # noqa: BLE001 - a failed run date is counted
            self.b.errors.append(f"{run_date}: {type(exc).__name__}: {exc}"[:500])
            ok = False
        finally:
            self._remove()
        elapsed = time.perf_counter() - t0
        self._cur["landing_bytes"] = landing_bytes
        self.dates.append((span, self._cur))
        return elapsed, ok

    # --- per-layer metrics --------------------------------------------------
    def metrics(self) -> dict[str, float]:
        time.sleep(0.5)  # let the listener bus finish the last job's events
        t = self.t
        t.resolve_spark_counts()
        t.write(os.path.join(self.b.out_dir,
                             f"trace-{self.b.args.workload}-{self.b.args.seed}.json"))
        rows: list[dict[str, float]] = []
        for span, c in self.dates:
            wall = t.duration(span)
            stages = [s for s in t.children(span["id"]) if s["name"].startswith("stage.")]
            m = {
                "pipeline.run_date_s": wall,
                "pipeline.runner_overhead_s": wall - sum(t.duration(s) for s in stages),
                "trace.instrument_s": t.instrument_time(span),
            }
            for s in stages:
                m[f"{s['name']}.s"] = t.duration(s) - t.instrument_time(s)
                m[f"{s['name']}.spark_jobs"] = s["spark_jobs"]
                m[f"{s['name']}.spark_tasks"] = s["spark_tasks"]
            for w in WRITERS:
                m[f"io.{w}.s"] = sum(t.duration(s) for s in self._descendants(span)
                                     if s["name"] == f"io.{w}")
            m |= {k: v for k, v in c.items()
                  if k not in ("landing_bytes", "merge.output_rows")}
            m["io.write_amplification"] = c["io.bytes_written"] / c["landing_bytes"]
            m["merge.rows_rewritten_per_new_row"] = (
                c["merge.output_rows"] / c["merge.source_rows"]
                if c["merge.source_rows"] else 0.0)
            m["pit.resolved_ratio"] = (c["pit.rows_resolved"] / c["pit.fact_rows_in"]
                                       if c["pit.fact_rows_in"] else 0.0)
            rows.append(m)
        names = set().union(*rows) if rows else set()
        return {k: statistics.median(r.get(k, 0.0) for r in rows) for k in names}

    def _descendants(self, span: dict) -> list[dict]:
        out, todo = [], [span["id"]]
        while todo:
            kids = self.t.children(todo.pop())
            out += kids
            todo += [k["id"] for k in kids]
        return out
