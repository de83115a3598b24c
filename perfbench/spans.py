"""Spans around calls into the engine's layers, recorded from outside the
engine.

``Tracer.install`` wraps public functions of ``iceberg_cpp_spark`` (the
``TARGETS`` table) so that every call opens a span. Calls the engine makes
internally go through the same attributes, so nested calls become child
spans (``TableScan.to_df`` -> ``TableScan.plan_files`` ->
``TableScan.plan_deletes``) without any edit to the engine. Each span also
owns a Spark job group whose description is the span name, so every stage
in the event log names its layer, and the jobs and tasks a span launched
are read back from the status tracker when the run ends.

Spans stay in memory; ``Tracer.dump`` writes them out at the end.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import json
import os
import time
from typing import Any, Callable, Optional

from common import rss_mib

# (module path, attribute path, span name). The layer is the span name's
# first dotted component.
TARGETS = [
    ("iceberg_cpp_spark.table", "IceTable.load", "metadata.load"),
    ("iceberg_cpp_spark.table", "IceTable.refresh", "metadata.load"),
    ("iceberg_cpp_spark.table", "TableScan.plan_files", "plan.plan_files"),
    ("iceberg_cpp_spark.table", "TableScan.plan_files_df", "plan.plan_files_df"),
    ("iceberg_cpp_spark.table", "TableScan.plan_deletes", "deletes.plan_deletes"),
    ("iceberg_cpp_spark.table", "TableScan.to_df", "scan.to_df"),
    ("iceberg_cpp_spark.table", "IceTable.append", "write.append"),
    ("iceberg_cpp_spark.table", "IceTable.merge_into", "write.merge_into"),
    ("iceberg_cpp_spark.table", "IceTable.delete_where", "write.delete_where"),
    ("iceberg_cpp_spark.table", "IceTable.commit_files_df", "commit.commit_files_df"),
    ("iceberg_cpp_spark.table", "IceTable.rewrite_data_files",
     "maintain.rewrite_data_files"),
    ("iceberg_cpp_spark.table", "IceTable.expire_snapshots",
     "maintain.expire_snapshots"),
    ("iceberg_cpp_spark.table", "IceTable.rewrite_manifests",
     "maintain.rewrite_manifests"),
    ("iceberg_cpp_spark.operators.dedup", "exact_dedup", "operators.exact_dedup"),
    ("iceberg_cpp_spark.operators.dedup", "minhash_lsh_dedup",
     "operators.minhash_lsh_dedup"),
    ("iceberg_cpp_spark.operators.text", "contamination", "operators.contamination"),
    ("iceberg_cpp_spark.operators.text", "chunk_documents",
     "operators.chunk_documents"),
    ("iceberg_cpp_spark.operators.similarity", "cosine_topk",
     "operators.cosine_topk"),
    ("iceberg_cpp_spark.operators.similarity", "pq_topk", "operators.pq_topk"),
    ("iceberg_cpp_spark.operators.retrieval", "Bm25Index.search",
     "operators.bm25_search"),
]
# ``apply_changes`` is not wrapped: the workload opens its span itself so
# the unique-key and duplicate-heavy batch shapes get separate names.


def layer_of(name: str) -> str:
    return name.split(".", 1)[0]


class Span:
    __slots__ = ("idx", "name", "op", "parent", "t0", "t1", "group",
                 "counters", "rss", "children_s")

    def __init__(self, idx, name, op, parent, group):
        self.idx, self.name, self.op, self.parent = idx, name, op, parent
        self.group = group
        self.t0 = self.t1 = 0.0
        self.counters: dict[str, float] = {}
        self.rss = 0.0
        self.children_s = 0.0

    @property
    def dur(self) -> float:
        return self.t1 - self.t0

    @property
    def self_s(self) -> float:
        # children run on this same driver thread, one after another, so
        # the time they cover is the sum of their durations
        return self.dur - self.children_s


class Tracer:
    """Nestable spans for one driver thread. ``enabled`` is switched per
    measured cycle; while it is off, ``span`` costs one attribute test."""

    def __init__(self, sc):
        self.sc = sc
        self.enabled = False
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.op_id: Optional[int] = None
        self._saved: list[tuple[Any, str, Any]] = []
        self._run = f"t{os.getpid()}"

    # -- spans ------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self.stack[-1] if self.stack else None
        s = Span(len(self.spans), name, self.op_id,
                 parent.idx if parent else None, f"{self._run}-{len(self.spans)}")
        self.spans.append(s)
        self.stack.append(s)
        self.sc.setJobGroup(s.group, name)
        s.t0 = time.perf_counter()
        try:
            yield s
        finally:
            s.t1 = time.perf_counter()
            self.stack.pop()
            if parent is not None:
                parent.children_s += s.dur
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            s.rss = rss_mib()

    def add(self, key: str, value: float) -> None:
        """Add to a counter of the innermost open span."""
        if self.enabled and self.stack:
            c = self.stack[-1].counters
            c[key] = c.get(key, 0.0) + value

    # -- wrapping ---------------------------------------------------------
    def install(self, targets=TARGETS, hooks: Optional[dict] = None) -> None:
        """Wrap each target. ``hooks`` maps a span name to a pair
        ``(before, after)``: ``before(args)`` runs before the span's clock
        starts and its value is handed to ``after(span, args, result,
        before_value)``, which runs once the clock has stopped. Either may
        be None. The hooks record counters; their cost stays outside the
        span."""
        import importlib

        hooks = hooks or {}
        for modname, path, name in targets:
            owner = importlib.import_module(modname)
            parts = path.split(".")
            for p in parts[:-1]:
                owner = getattr(owner, p)
            attr = parts[-1]
            raw = inspect.getattr_static(owner, attr)
            is_static = isinstance(raw, staticmethod)
            fn = raw.__func__ if is_static else raw
            wrapped = self._wrap(fn, name, *hooks.get(name, (None, None)))
            self._saved.append((owner, attr, raw))
            setattr(owner, attr, staticmethod(wrapped) if is_static else wrapped)

    def uninstall(self) -> None:
        for owner, attr, raw in reversed(self._saved):
            setattr(owner, attr, raw)
        self._saved.clear()

    def _wrap(self, fn: Callable, name: str, before: Optional[Callable],
              after: Optional[Callable]):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            pre = before(args) if before is not None else None
            with tracer.span(name) as s:
                result = fn(*args, **kwargs)
            if after is not None:
                after(s, args, result, pre)
            return result

        return wrapper

    # -- read-back --------------------------------------------------------
    def spark_counts(self) -> dict[int, tuple[int, int]]:
        """(jobs, tasks) each span launched itself, from the status
        tracker. Read once at the end, outside every timed region."""
        st = self.sc.statusTracker()
        out = {}
        for s in self.spans:
            jobs = st.getJobIdsForGroup(s.group)
            tasks = 0
            for j in jobs:
                info = st.getJobInfo(j)
                for sid in (info.stageIds if info else []):
                    si = st.getStageInfo(sid)
                    tasks += si.numTasks if si else 0
            out[s.idx] = (len(jobs), tasks)
        return out

    def dump(self, path: str, counts: dict[int, tuple[int, int]]) -> None:
        base = self.spans[0].t0 if self.spans else 0.0
        with open(path, "w") as fh:
            for s in self.spans:
                jobs, tasks = counts.get(s.idx, (0, 0))
                fh.write(json.dumps({
                    "idx": s.idx, "name": s.name, "op": s.op,
                    "parent": s.parent, "start_s": round(s.t0 - base, 6),
                    "end_s": round(s.t1 - base, 6),
                    "self_s": round(s.self_s, 6), "spark_jobs": jobs,
                    "spark_tasks": tasks, "driver_rss_mib": round(s.rss, 1),
                    "counters": s.counters}) + "\n")
