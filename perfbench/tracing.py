"""Spans around the engine's public calls, recorded from outside the engine.

``install`` replaces public functions and methods with wrappers that open a
span around the original call. ``ddl.parse_statement``,
``window_sql.rewrite_flink_dialect``, ``sources.build_source`` and
``get_spark`` are replaced in the namespace of ``engine/engine.py``, where the
engine looks them up. Nothing inside the engine changes.

The same module holds the streaming progress log (Spark's public
``StreamingQueryListener``) and the parser for Spark's event log.
"""

from __future__ import annotations

import functools
import json
import os
import time
from datetime import datetime

from common import Tracer


def _wrap(owner, attr: str, wrapper_factory) -> None:
    original = getattr(owner, attr)
    wrapped = wrapper_factory(original)
    functools.update_wrapper(wrapped, original)
    setattr(owner, attr, wrapped)


def _plain(tracer: Tracer, name: str):
    def factory(fn):
        def wrapper(*a, **kw):
            with tracer.span(name):
                return fn(*a, **kw)
        return wrapper
    return factory


def catalyst_phases(df) -> dict[str, float]:
    """Catalyst phase durations (ms) from the DataFrame's own
    ``QueryExecution.tracker()``; empty if the JVM objects are unreachable."""
    try:
        phases = df._jdf.queryExecution().tracker().phases()  # noqa: SLF001
        out = {}
        for ph in ("analysis", "optimization", "planning"):
            opt = phases.get(ph)
            if opt.isDefined():
                out[ph] = float(opt.get().durationMs())
        return out
    except Exception:  # noqa: BLE001 — py4j surface differs across versions
        return {}


def install_delay(delay_ms: float) -> None:
    """Harness-only sensitivity probe: sleep ``delay_ms`` before every
    ``Engine.execute_sql``. Off unless a delay is given."""
    if delay_ms <= 0:
        return
    from flink_notebooks_spark.engine import engine as eng_mod

    def factory(fn):
        def wrapper(*a, **kw):
            time.sleep(delay_ms / 1000.0)
            return fn(*a, **kw)
        return wrapper

    _wrap(eng_mod.Engine, "execute_sql", factory)


def install(tracer: Tracer) -> None:
    from flink_notebooks_spark import gateway as gw_mod
    from flink_notebooks_spark import session as sess_mod
    from flink_notebooks_spark.engine import engine as eng_mod
    from flink_notebooks_spark.engine import statement as st_mod

    def execute_statement(fn):
        def wrapper(self, h, statement):
            with tracer.span("gateway.execute_statement") as sp:
                out = fn(self, h, statement)
                if sp is not None:
                    sp["stmt"] = out.get("operationHandle")
                return out
        return wrapper

    def fetch_result(fn):
        def wrapper(self, h, op, token):
            with tracer.span("gateway.fetch_result", stmt=op):
                return fn(self, h, op, token)
        return wrapper

    def fetch(kind):
        def factory(fn):
            def wrapper(self, token=0, *a, **kw):
                with tracer.span(
                    f"statement.{kind}_fetch", stmt=self.statement_id, token=token
                ) as sp:
                    page = fn(self, token, *a, **kw)
                    if sp is not None:
                        sp["attrs"].update(kind=page.result_type, rows=len(page.data))
                        if kind == "batch" and page.result_type == "EOS":
                            sp["attrs"]["phases"] = catalyst_phases(self.df)
                    return page
            return wrapper
        return factory

    def cancel(fn):
        def wrapper(self):
            with tracer.span("statement.cancel", stmt=self.statement_id):
                return fn(self)
        return wrapper

    def rewrite(fn):
        def wrapper(sql, *a, **kw):
            with tracer.span("window_sql.rewrite") as sp:
                out = fn(sql, *a, **kw)
                if sp is not None:
                    sp["attrs"]["changed"] = out != sql
                return out
        return wrapper

    _wrap(gw_mod.Gateway, "execute_statement", execute_statement)
    _wrap(gw_mod.Gateway, "fetch_result", fetch_result)
    _wrap(eng_mod.Engine, "execute_sql", _plain(tracer, "engine.execute_sql"))
    _wrap(eng_mod.Engine, "__init__", _plain(tracer, "session.engine_init"))
    _wrap(st_mod.BatchStatement, "fetch", fetch("batch"))
    _wrap(st_mod.StreamingStatement, "fetch", fetch("streaming"))
    _wrap(st_mod.StreamingStatement, "cancel", cancel)
    _wrap(eng_mod, "parse_statement", _plain(tracer, "ddl.parse_statement"))
    _wrap(eng_mod, "rewrite_flink_dialect", rewrite)
    _wrap(eng_mod, "build_source", _plain(tracer, "sources.build_source"))
    get_spark = _plain(tracer, "session.get_spark")
    _wrap(sess_mod, "get_spark", get_spark)
    eng_mod.get_spark = sess_mod.get_spark


# ---- streaming progress -----------------------------------------------------

def _epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def progress_listener(spark, records: list | None = None) -> list[dict]:
    """Attach a listener to ``spark``'s streaming query manager that keeps
    one record per micro-batch; returns the list it appends to (pass the
    same list again to collect several sessions into one log)."""
    from pyspark.sql.streaming import StreamingQueryListener

    records = [] if records is None else records

    class _Progress(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            ops = p.stateOperators or []
            rec = {
                "query": str(p.id),
                "batch": p.batchId,
                "start": _epoch(p.timestamp),
                "duration_ms": dict(p.durationMs or {}),
                "input_rows": p.numInputRows,
                "state_rows": sum(o.numRowsTotal for o in ops),
                "state_bytes": sum(o.memoryUsedBytes for o in ops),
                "state_commit_ms": sum(o.commitTimeMs for o in ops),
                "state_partitions": sum(o.numShufflePartitions for o in ops),
            }
            records.append(rec)  # list.append is atomic

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    spark.streams.addListener(_Progress())
    return records


# ---- Spark event log ---------------------------------------------------------

def parse_event_log(path: str) -> dict:
    """Executor, shuffle and scheduler totals from one application's event
    log. Scheduler delay follows Spark's UI: task duration minus run time,
    deserialization, result serialization and result fetch."""
    jobs = stages = tasks = 0
    run_ms = cpu_ns = gc_ms = delay_ms = fetch_wait_ms = 0.0
    shuffle_w = shuffle_r = spill = py_io = 0.0
    per_stage: dict[tuple, list[float]] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jobs += 1
            elif kind == "SparkListenerStageCompleted":
                stages += 1
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                info = ev.get("Task Info") or {}
                tasks += 1
                run = m.get("Executor Run Time", 0)
                run_ms += run
                cpu_ns += m.get("Executor CPU Time", 0)
                gc_ms += m.get("JVM GC Time", 0)
                dur = info.get("Finish Time", 0) - info.get("Launch Time", 0)
                delay_ms += max(
                    0,
                    dur
                    - run
                    - m.get("Executor Deserialize Time", 0)
                    - m.get("Result Serialization Time", 0)
                    - (info.get("Getting Result Time") or 0),
                )
                sw = m.get("Shuffle Write Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                shuffle_w += sw.get("Shuffle Bytes Written", 0)
                shuffle_r += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                fetch_wait_ms += sr.get("Fetch Wait Time", 0)
                spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                for acc in info.get("Accumulables") or []:
                    name = str(acc.get("Name", ""))
                    if "Python workers" in name and "data" in name:
                        try:
                            py_io += float(acc.get("Update", 0))
                        except (TypeError, ValueError):
                            pass
                key = (ev.get("Stage ID"), ev.get("Stage Attempt ID"))
                per_stage.setdefault(key, []).append(run)
    skews = []
    for runs in per_stage.values():
        if len(runs) >= 2:
            runs.sort()
            med = runs[len(runs) // 2]
            if med > 0:
                skews.append(runs[-1] / med)
    skews.sort()
    mb = 1024.0 * 1024.0
    return {
        "spark.jobs": jobs,
        "spark.stages": stages,
        "spark.tasks": tasks,
        "spark.task_run_s": run_ms / 1e3,
        "spark.task_cpu_s": cpu_ns / 1e9,
        "spark.scheduler_delay_s": delay_ms / 1e3,
        "spark.gc_s": gc_ms / 1e3,
        "spark.shuffle_write_mb": shuffle_w / mb,
        "spark.shuffle_read_mb": shuffle_r / mb,
        "spark.fetch_wait_s": fetch_wait_ms / 1e3,
        "spark.spill_mb": spill / mb,
        "spark.task_skew": skews[len(skews) // 2] if skews else 1.0,
        "spark.python_io_mb": py_io / mb,
    }


def find_event_log(log_dir: str, app_id: str | None) -> str | None:
    if not os.path.isdir(log_dir):
        return None
    names = sorted(os.listdir(log_dir))
    if app_id:
        names = [n for n in names if n.startswith(app_id)] or names
    names = [n for n in names if not n.endswith(".inprogress")] or names
    return os.path.join(log_dir, names[-1]) if names else None
