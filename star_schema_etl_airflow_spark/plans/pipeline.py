"""Config-driven pipeline runner (orchestration operators O1-O6).

The reference splits orchestration across three staggered Airflow DAGs with
cross-DAG sensors (ingest 00:00 → core 02:00 → datamart 04:00,
dags/*:48-66); here the same semantics collapse into one in-process runner:

- O3 config fan-out: stages are registered per table from the YAML registry
- O4 dependency order: topological sort of declared dependencies (the
  dims-before-facts barrier falls out of fact_orders' deps)
- O2 layer barrier: a dependency edge IS the barrier (no polling)
- O5 retries and callbacks: ``Pipeline.run``'s ``retries`` and per-status
  ``on_success``/``on_failure``/``on_retry`` hooks
- O6 run-date threading: every stage receives the same ``run_date``;
  re-running a date is idempotent because every sink is an upsert or a
  partition overwrite

Scheduling itself (cron) stays external, as in the reference (SURVEY §2.10).
Scale note: stages run sequentially in dependency order within one
SparkSession — each stage is itself fully distributed; independent stages
could be submitted concurrently from threads sharing the session (Spark's
scheduler interleaves jobs), an escape hatch for wide configs.
"""

from __future__ import annotations

import contextlib
import time
from collections.abc import Callable, Iterable
from dataclasses import dataclass, field
from graphlib import TopologicalSorter
from typing import Any

StageFn = Callable[..., Any]  # fn(spark, run_date, results: dict[str, Any])


@dataclass
class Stage:
    name: str
    fn: StageFn
    deps: tuple[str, ...] = ()
    layer: str | None = None  # raw | core | datamart (informational)


@dataclass
class Pipeline:
    stages: dict[str, Stage] = field(default_factory=dict)

    def add_stage(
        self,
        name: str,
        fn: StageFn,
        deps: Iterable[str] = (),
        layer: str | None = None,
    ) -> "Pipeline":
        if name in self.stages:
            raise ValueError(f"duplicate stage {name!r}")
        self.stages[name] = Stage(name, fn, tuple(deps), layer)
        return self

    def topological_order(self) -> list[str]:
        """Dims-before-facts (and every other declared edge), deterministic
        tie-break by name.  Raises CycleError on cyclic configs."""
        ts = TopologicalSorter()
        for s in self.stages.values():
            missing = [d for d in s.deps if d not in self.stages]
            if missing:
                raise ValueError(f"stage {s.name!r} depends on unknown {missing}")
            ts.add(s.name, *s.deps)
        ts.prepare()
        order: list[str] = []
        while ts.is_active():
            ready = sorted(ts.get_ready())
            order.extend(ready)
            ts.done(*ready)
        return order

    def run(
        self,
        spark,
        run_date: str,
        *,
        audit_path: str | None = None,
        retries: int = 0,
        retry_delay_s: float = 0.0,
        resume: bool = False,
        lock_path: str | None = None,
        on_success: Callable[[dict], None] | None = None,
        on_failure: Callable[[dict], None] | None = None,
        on_retry: Callable[[dict], None] | None = None,
    ) -> dict[str, Any]:
        """Execute all stages for one run date; returns {stage: result}.

        ``audit_path`` keeps the run history the reference gets from
        Airflow's task-metadata DB: one row per stage (run_date, stage,
        layer, status, attempts, duration_s, logged_at) appends to a
        parquet table there.  On stage failure the failed stage's row is
        flushed BEFORE the exception propagates, so a crashed run is
        visible in the history, not just absent from it.  Without
        ``audit_path`` no audit frame is built.

        ``retries``/``retry_delay_s`` mirror the reference's per-task policy
        (1 retry, 5-minute delay — dags/ingest_raw_sales.py:27-28).

        ``resume=True`` re-runs a failed date Airflow-style: stages already
        recorded ``ok`` for this ``run_date`` in the audit table are skipped
        (status ``skipped``, result ``None``).  Like Airflow tasks, stages
        must communicate through their SINKS, not return values, for resume
        to be sound — every stage in the sales domain writes a table, so a
        skipped upstream's output is simply read from storage by downstream.

        ``on_success``/``on_failure``/``on_retry`` are per-stage, per-status
        callbacks — the three notification channels of the reference's MS
        Teams plugin (``plugins/ms_teams_notification.py:17-101``, green/red/
        orange cards), decoupled from the transport: each receives a context
        dict (``stage``, ``layer``, ``run_date``, ``attempt``, ``max_tries``,
        ``duration_s``, and ``exception`` for failure/retry) and may post to
        any webhook.  Callback errors are swallowed (a notification failure
        must never fail the pipeline — same stance as Airflow callbacks).

        ``lock_path`` enables the ``max_active_runs=1`` analog (reference
        ``dags/ingest_raw_sales.py:50``): an atomic marker file is held for
        the duration of the run; a second concurrent run on the same lock
        raises :class:`ConcurrentRunError` instead of interleaving writes
        into the same warehouse.

        A backfill (Airflow catchup) is a loop over dates calling this once
        per date, in order: stages communicate through sinks, so each
        date's run is independent and idempotent.
        """
        with _RunLock(lock_path) if lock_path else contextlib.nullcontext():
            done = (_completed_stages(spark, audit_path, run_date)
                    if resume and audit_path else set())
            rows: list[tuple] = []
            results: dict[str, Any] = {}
            for name in self.topological_order():
                stage = self.stages[name]
                if name in done:
                    results[name] = None
                    rows.append((run_date, name, stage.layer, "skipped", 0, 0.0))
                    continue
                t0 = time.perf_counter()
                attempt = 0
                while True:
                    attempt += 1
                    try:
                        results[name] = stage.fn(spark, run_date, results)
                        break
                    except Exception as exc:
                        dur = round(time.perf_counter() - t0, 3)
                        ctx = dict(stage=name, layer=stage.layer,
                                   run_date=run_date, attempt=attempt,
                                   max_tries=retries + 1, duration_s=dur,
                                   exception=exc)
                        if attempt > retries:
                            rows.append((run_date, name, stage.layer,
                                         "failed", attempt, dur))
                            _append_audit(spark, rows, audit_path)
                            _notify(on_failure, ctx)
                            raise
                        _notify(on_retry, ctx)
                        if retry_delay_s:
                            time.sleep(retry_delay_s)
                dur = round(time.perf_counter() - t0, 3)
                rows.append((run_date, name, stage.layer, "ok", attempt, dur))
                _notify(on_success, dict(
                    stage=name, layer=stage.layer, run_date=run_date,
                    attempt=attempt, max_tries=retries + 1, duration_s=dur,
                    exception=None))
            _append_audit(spark, rows, audit_path)
            return results


def _notify(cb: Callable[[dict], None] | None, ctx: dict) -> None:
    if cb is None:
        return
    try:
        cb(ctx)
    except Exception:
        pass


def _completed_stages(spark, audit_path: str, run_date: str) -> set[str]:
    """Stages the audit table records ``ok`` for ``run_date``."""
    from pyspark.sql import functions as F

    try:
        prior = spark.read.parquet(audit_path)
        return {
            r["stage"]
            for r in prior.filter(
                (F.col("run_date") == run_date) & (F.col("status") == "ok")
            ).select("stage").distinct().collect()
        }
    except Exception:
        return set()


def _append_audit(spark, rows: list[tuple], audit_path: str | None) -> None:
    if not audit_path:
        return
    from pyspark.sql import functions as F

    from star_schema_etl_airflow_spark.sources.io import write_append

    audit = spark.createDataFrame(
        rows,
        "run_date string, stage string, layer string, "
        "status string, attempts int, duration_s double",
    ).withColumn("logged_at", F.current_timestamp())
    write_append(audit, audit_path)


class ConcurrentRunError(RuntimeError):
    """A second run attempted on a warehouse that is already mid-run
    (the ``max_active_runs=1`` analog, reference
    ``dags/ingest_raw_sales.py:50``)."""


class _RunLock:
    """Filesystem mutex for one warehouse path: atomic O_CREAT|O_EXCL
    marker (works on local/NFS/HDFS-fuse; on object stores use a table
    format's transaction log instead).  The marker records pid and
    timestamp so an operator can decide whether a leftover lock is stale
    before removing it with :func:`break_run_lock`."""

    def __init__(self, lock_path: str):
        self.lock_path = lock_path
        self._fd: int | None = None

    def __enter__(self):
        import datetime
        import os

        os.makedirs(os.path.dirname(self.lock_path) or ".", exist_ok=True)
        try:
            self._fd = os.open(
                self.lock_path, os.O_CREAT | os.O_EXCL | os.O_WRONLY
            )
        except FileExistsError:
            try:
                with open(self.lock_path) as f:
                    holder = f.read().strip()
            except OSError:
                holder = "<unreadable>"
            raise ConcurrentRunError(
                f"pipeline already running (lock {self.lock_path!r} held "
                f"by {holder}); if that run crashed, remove the stale "
                "lock with break_run_lock()"
            ) from None
        os.write(
            self._fd,
            f"pid={os.getpid()} at={datetime.datetime.now(datetime.timezone.utc).isoformat()}".encode(),
        )
        return self

    def __exit__(self, *exc):
        import os

        if self._fd is not None:
            os.close(self._fd)
        try:
            os.unlink(self.lock_path)
        except FileNotFoundError:
            pass
        return False


def break_run_lock(lock_path: str) -> bool:
    """Remove a leftover run lock (crashed run).  Returns True if a lock
    was removed.  Deliberately explicit — never called automatically."""
    import os

    try:
        os.unlink(lock_path)
        return True
    except FileNotFoundError:
        return False
