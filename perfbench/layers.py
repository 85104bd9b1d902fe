"""Per-layer metrics of a traced run.

Every steady operation is a span tree (see `spans.py`): a query op has the
children ``build`` (the registry function), ``plan``, ``execute`` (the
``noop`` write) and ``release`` (``release_tracked``); a table_build commit
has ``commit`` (``delete_where``) and ``release``; a merge-on-read read has
``build`` (``ParquetSnapshotTable.read``), ``plan``, ``execute``
(collecting the visible ids) and ``release``.  This module joins the spans
with the Spark event log and reduces them to one number per metric: the
mean over the run's steady ops that have the part in question.

Every time-valued metric is measured on every declared workload.  Counts
and sizes of the commit path (``lifecycle.*``) read 0 on query workloads,
which make no commits.  The table build's own timings (the append, the
equality and positional delete medians, the read medians) are printed on a
``# lifecycle`` line and kept in the run record.
"""

from __future__ import annotations

import glob
import os
import statistics

from perfbench.spans import SparkCounters, parse_event_log

#: (name, unit) of every per-layer metric, in report order.
METRICS = (
    ("session.start_s", "s"),
    ("op.build_s", "s"),
    ("op.build_jobs", "count"),
    ("op.spark_s", "s"),
    ("op.driver_s", "s"),
    ("op.slope_s", "s"),  # last third of the end-to-end ops minus the first
    ("op.cpu_s", "s"),
    ("spark.plan_s", "s"),
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.task_queue_s", "s"),
    ("spark.executor_run_s", "s"),
    ("spark.executor_cpu_s", "s"),
    ("spark.shuffle_write_bytes", "B"),
    ("spark.shuffle_read_bytes", "B"),
    ("spark.spill_bytes", "B"),
    ("spark.input_bytes", "B"),
    ("spark.python_bytes", "B"),
    ("spark.result_bytes", "B"),
    ("cache.release_s", "s"),
    ("cache.released", "count"),
    ("lifecycle.commit_jobs", "count"),
    ("lifecycle.files_per_commit", "count"),
    ("lifecycle.bytes_written_per_commit", "B"),
    ("lifecycle.metadata_bytes", "B"),
    ("lifecycle.metadata_bytes_per_commit", "B"),
    ("lifecycle.stored_bytes_per_live_row", "B"),
    ("proc.python_rss_peak_mb", "MB"),
    ("proc.jvm_rss_peak_mb", "MB"),
    ("proc.jvm_gc_s", "s"),
    ("proc.jit_cpu_s", "s"),  # JIT compiler CPU of the steady phase per steady op or read
    ("trace.op_wall_s", "s"),
    ("trace.unreconciled_max", "ratio"),
)

_SPARK_KEYS = ("jobs", "stages", "tasks", "task_queue_s", "executor_run_s", "executor_cpu_s",
               "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "input_bytes",
               "python_bytes", "result_bytes")


def _mean(values) -> float:
    values = list(values)
    return statistics.fmean(values) if values else 0.0


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def per_layer(b) -> dict:
    """Per-layer metrics of the traced run ``b`` (a ``run.Bench``).

    Stops the Spark session first: the event log is complete only then."""
    py_rss, jvm_rss = b.peak_rss()
    gc_s = b.jvm_gc_s()
    b.stop_session()
    logs = [p for p in glob.glob(os.path.join(b.run_dir, "events", "*")) if os.path.isfile(p)]
    counters = parse_event_log(logs[0]) if logs else {}

    tr = b.tracer
    kids: dict[int, list] = {}
    for s in tr.spans:
        kids.setdefault(s.parent, []).append(s)

    def spark_of(span) -> SparkCounters:
        c = SparkCounters()
        todo = [span]
        while todo:
            s = todo.pop()
            if s.id in counters:
                c.add(counters[s.id])
            todo.extend(kids.get(s.id, ()))
        return c

    def part(kind: str) -> list:
        """The ``kind`` child of every steady op that has one."""
        return [c for s in ops for c in kids.get(s.id, ()) if c.kind == kind]

    ops = [s for s in tr.spans if s.kind == "op" and s.attrs.get("steady")]
    op_spark = {s.id: spark_of(s) for s in ops}
    commits = [s for s in ops if s.name.startswith("delete_")]
    walls = [s.wall for s in ops]
    timed = [s.wall for s in commits] or walls  # the ops of the end-to-end metrics
    third = max(1, len(timed) // 3)

    m: dict[str, float] = dict.fromkeys((n for n, _ in METRICS), 0.0)
    m["session.start_s"] = b.extra["session.start_s"]
    m["op.build_s"] = _mean(c.wall for c in part("build"))
    m["op.build_jobs"] = _mean(counters.get(c.id, SparkCounters()).jobs for c in part("build"))
    m["op.spark_s"] = _mean(op_spark[s.id].job_wall_s for s in ops)
    m["op.driver_s"] = _mean(s.wall - op_spark[s.id].job_wall_s for s in ops)
    m["op.slope_s"] = _median(timed[-third:]) - _median(timed[:third])
    m["op.cpu_s"] = _mean(s["cpu"] for s in b.samples if s["op"] != "read")
    m["spark.plan_s"] = _mean(c.wall for c in part("plan"))
    for key in _SPARK_KEYS:
        m[f"spark.{key}"] = _mean(getattr(op_spark[s.id], key) for s in ops)
    m["cache.release_s"] = _mean(c.wall for c in part("release"))
    m["cache.released"] = _mean(c.attrs.get("released", 0) for c in part("release"))
    if commits:
        samples = [s for s in b.samples if s["op"].startswith("delete_")]
        m["lifecycle.commit_jobs"] = _mean(op_spark[s.id].jobs for s in commits)
        m["lifecycle.files_per_commit"] = _mean(s["files"] for s in samples)
        m["lifecycle.bytes_written_per_commit"] = _mean(s["bytes"] for s in samples)
        m["lifecycle.metadata_bytes"] = b.extra["metadata_bytes"]
        m["lifecycle.metadata_bytes_per_commit"] = b.extra["metadata_bytes"] / b.extra["commits"]
        m["lifecycle.stored_bytes_per_live_row"] = b.extra["table_bytes"] / b.extra["visible_rows"]
        reads = [s for s in ops if s.name == "read"]
        b.extra["lifecycle"] = {
            "append_s": b.extra["append_s"],
            "eq_delete_p50_s": _median(s.wall for s in commits if s.name == "delete_equality"),
            "pos_delete_p50_s": _median(s.wall for s in commits if s.name == "delete_positional"),
            "commit_spark_s": _mean(op_spark[s.id].job_wall_s for s in commits),
            "commit_driver_s": _mean(s.wall - op_spark[s.id].job_wall_s for s in commits),
            "read_p50_s": _median(s.wall for s in reads),
            "read_build_s": _mean(c.wall for s in reads for c in kids[s.id] if c.kind == "build"),
            "read_exec_s": _mean(c.wall for s in reads for c in kids[s.id] if c.kind == "execute"),
        }
    m["proc.python_rss_peak_mb"] = py_rss
    m["proc.jvm_rss_peak_mb"] = jvm_rss
    m["proc.jvm_gc_s"] = gc_s
    m["proc.jit_cpu_s"] = b.extra["jit_cpu_steady_s"] / max(1, len(b.samples))

    # Reconciliation: the layer parts of each op against its wall time.
    m["trace.op_wall_s"] = _mean(walls)
    m["trace.unreconciled_max"] = max(
        (abs(s.wall - sum(c.wall for c in kids.get(s.id, ()))) / s.wall for s in ops if s.wall),
        default=0.0,
    )
    b.extra["per_op"] = [
        {"op": s.name, "wall": s.wall, "self": tr.self_time(s),
         **{c.kind: c.wall for c in kids.get(s.id, ())},
         "jobs": op_spark[s.id].jobs, "job_wall": op_spark[s.id].job_wall_s}
        for s in ops
    ]
    units = dict(METRICS)
    return {k: (v, units[k]) for k, v in m.items()}
