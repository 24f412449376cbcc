"""Span recorder for the traced benchmark mode.

The recorder wraps public functions of the program from outside: it
replaces a module or class attribute with a wrapper that records a span
(name, start, end, parent span, op id, Spark jobs started inside) and
restores the original on ``uninstall``.  Wrapping the attribute the
caller resolves matters: ``operators.lake``, ``operators.manifest``,
``operators.upsert`` and ``operators.sql_sink`` import
``ensure_unique_keys`` by name, so each such binding is wrapped
separately under the same span name.

Spans stay in memory; ``fold`` turns them into per-name totals, where a
span's self time is its duration minus the time its child spans cover.
"""

from __future__ import annotations

import functools
import importlib
import time
from collections import defaultdict
from contextlib import contextmanager

# (module, attribute path, span name).  An attribute path with a dot is a
# method on a class in that module.
PROGRAM_SPANS = [
    ("df_to_azure_spark.api", "df_to_spark", "api.df_to_spark"),
    ("df_to_azure_spark.checks", "is_empty", "checks.is_empty"),
    ("df_to_azure_spark.checks", "ensure_unique_keys", "checks.ensure_unique_keys"),
    ("df_to_azure_spark.operators.lake", "ensure_unique_keys", "checks.ensure_unique_keys"),
    ("df_to_azure_spark.operators.manifest", "ensure_unique_keys", "checks.ensure_unique_keys"),
    ("df_to_azure_spark.operators.sql_sink", "ensure_unique_keys", "checks.ensure_unique_keys"),
    ("df_to_azure_spark.operators.upsert", "ensure_unique_keys", "checks.ensure_unique_keys"),
    ("df_to_azure_spark.schema", "infer_sql_schema", "schema.infer_sql_schema"),
    ("df_to_azure_spark.schema", "normalize_for_sink", "schema.normalize_for_sink"),
    ("df_to_azure_spark.operators.upsert", "upsert_frames", "upsert.upsert_frames"),
    ("df_to_azure_spark.operators.lake", "upsert_frames", "upsert.upsert_frames"),
    ("df_to_azure_spark.operators.manifest", "upsert_frames", "upsert.upsert_frames"),
    ("df_to_azure_spark.operators.upsert", "merge_frames", "upsert.merge_frames"),
    ("df_to_azure_spark.operators.manifest", "VersionedLake.write", "manifest.write"),
    ("df_to_azure_spark.operators.manifest", "VersionedLake.append", "manifest.append"),
    ("df_to_azure_spark.operators.manifest", "VersionedLake.upsert", "manifest.upsert"),
    ("df_to_azure_spark.operators.manifest", "VersionedLake.merge_keyed", "manifest.merge_keyed"),
    ("df_to_azure_spark.operators.manifest", "VersionedLake.delete_where", "manifest.delete_where"),
    ("df_to_azure_spark.operators.manifest", "VersionedLake.scan", "manifest.scan"),
    ("df_to_azure_spark.operators.manifest", "VersionedLake.resolve_manifest", "manifest.resolve_manifest"),
    ("df_to_azure_spark.operators.manifest", "VersionedLake.versions", "manifest.versions"),
    # manifest imports these at call time, so the module attribute is the binding
    ("df_to_azure_spark.operators.ckpt", "ckpt_to_bytes", "ckpt.write_sidecar"),
    ("df_to_azure_spark.operators.ckpt", "ckpt_from_bytes", "ckpt.read_sidecar"),
    ("df_to_azure_spark.operators.sql_sink", "SqlSink.create", "sql_sink.create"),
    ("df_to_azure_spark.operators.sql_sink", "SqlSink.append", "sql_sink.append"),
    ("df_to_azure_spark.operators.sql_sink", "SqlSink.upsert", "sql_sink.upsert"),
    ("df_to_azure_spark.operators.merge", "execute_statement", "merge.execute_statement"),
    ("df_to_azure_spark.session", "release_pins", "session.release_pins"),
]


class Tracer:
    """In-memory span recorder.  Single-threaded: the benchmark is one
    closed-loop client, so a plain stack gives each span its parent."""

    def __init__(self, sc=None):
        self.sc = sc
        self.enabled = False
        self.op_id: int | None = None
        self.job_group: str | None = None
        # (span id, name, start, end, parent id, op id, spark jobs inside)
        self.spans: list[tuple] = []
        self._stack: list[int] = []
        self._patches: list[tuple] = []

    # -- recording -----------------------------------------------------
    def _jobs_now(self) -> int:
        if self.sc is None or self.job_group is None:
            return 0
        drain_listener_bus(self.sc)
        return len(self.sc.statusTracker().getJobIdsForGroup(self.job_group))

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        # reserve the slot now; children fill later slots
        self.spans.append(None)
        self._stack.append(sid)
        jobs0 = self._jobs_now()
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            self.spans[sid] = (sid, name, t0, t1, parent, self.op_id, self._jobs_now() - jobs0)

    # -- wrapping --------------------------------------------------------
    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            with tracer.span(name):
                return fn(*args, **kwargs)

        return wrapper

    def install(self, specs=PROGRAM_SPANS) -> None:
        for module_name, attr_path, name in specs:
            owner = importlib.import_module(module_name)
            *cls_path, attr = attr_path.split(".")
            for part in cls_path:
                owner = getattr(owner, part)
            had_own = attr in vars(owner)
            original = getattr(owner, attr)
            setattr(owner, attr, self._wrap(original, name))
            self._patches.append((owner, attr, original, had_own))

    def uninstall(self) -> None:
        for owner, attr, original, had_own in reversed(self._patches):
            if had_own:
                setattr(owner, attr, original)
            else:
                delattr(owner, attr)
        self._patches.clear()

    # -- folding ---------------------------------------------------------
    def fold(self, keep_op=None) -> dict[str, dict[str, float]]:
        """Per span name: calls, inclusive seconds, self seconds (duration
        minus the time covered by direct children) and Spark jobs.
        ``keep_op`` optionally selects spans by op id."""
        child_time: dict[int, float] = defaultdict(float)
        done = [
            s for s in self.spans
            if s is not None and (keep_op is None or keep_op(s[5]))
        ]
        for sid, _name, t0, t1, parent, _op, _jobs in done:
            if parent is not None:
                child_time[parent] += t1 - t0
        out: dict[str, dict[str, float]] = defaultdict(
            lambda: {"calls": 0, "s": 0.0, "self_s": 0.0, "jobs": 0}
        )
        for sid, name, t0, t1, _parent, _op, jobs in done:
            agg = out[name]
            agg["calls"] += 1
            agg["s"] += t1 - t0
            agg["self_s"] += (t1 - t0) - child_time[sid]
            agg["jobs"] += jobs
        return dict(out)

    def ops_with_span(self, name: str) -> set[int]:
        """Ids of the ops during which a span called ``name`` ran."""
        return {s[5] for s in self.spans if s is not None and s[1] == name}

    def dump(self) -> list[dict]:
        return [
            {"id": s[0], "name": s[1], "start": s[2], "end": s[3],
             "parent": s[4], "op": s[5], "jobs": s[6]}
            for s in self.spans if s is not None
        ]


def drain_listener_bus(sc) -> None:
    """Wait until Spark's listener bus has delivered every queued event,
    so the status tracker has seen each job, stage and task that ended."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()


def spark_job_stats(sc, group: str) -> dict[str, int]:
    """Jobs, stages, tasks and failed tasks of the Spark job group."""
    drain_listener_bus(sc)
    tracker = sc.statusTracker()
    job_ids = tracker.getJobIdsForGroup(group)
    stages: set[int] = set()
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stages.update(info.stageIds)
    tasks = failed = 0
    for sid in stages:
        st = tracker.getStageInfo(sid)
        if st is not None:
            tasks += st.numCompletedTasks
            failed += st.numFailedTasks
    return {"jobs": len(job_ids), "stages": len(stages), "tasks": tasks,
            "failed_tasks": failed}
