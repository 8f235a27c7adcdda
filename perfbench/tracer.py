"""Span tracer for the benchmark: wraps the public functions of each
prclz_spark module from outside, runs every call in its own Spark job
group, and reads the group's task time, shuffle, spill, GC and failed
tasks from Spark's status store after the traced iteration ends.

Spans live in memory (``Tracer.spans``) and are written out once, at the
end of a run. Nothing here touches the program's code: wrappers replace
module attributes while installed and are removed again by ``uninstall``.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import time
from dataclasses import dataclass, field

# (layer, module, attribute): the public calls the traced run wraps.
# Cover builders live in operators.assign but do the functions.cells work
# (quadtree polyfill + interior classification), so they report as cells.
WRAPPED = (
    ("tablestore", "prclz_spark.sources.tablestore", "TableStore.commit"),
    ("tablestore", "prclz_spark.sources.tablestore", "TableStore.read"),
    ("cells", "prclz_spark.operators.assign", "block_cover_pdf"),
    ("cells", "prclz_spark.operators.assign", "compact_cover_pdf"),
    ("assign", "prclz_spark.operators.assign", "assign_points_to_blocks"),
    ("assign", "prclz_spark.operators.assign", "assign_points_to_blocks_compact"),
    ("complexity", "prclz_spark.operators.complexity", "k_complexity"),
    ("parcel", "prclz_spark.operators.parcel", "parcelize"),
    ("reblock", "prclz_spark.operators.reblock", "reblock"),
    ("curation", "prclz_spark.operators.curation", "training_manifest"),
    ("tiles", "prclz_spark.operators.tiles", "tile_membership_rect"),
    ("rangejoin", "prclz_spark.operators.rangejoin", "nearest_segment_join_distributed"),
    ("knn", "prclz_spark.operators.knn", "parcel_assign"),
)

# TableStore.commit's ``stage`` argument names the operator whose lazy plan
# the commit's write executes.
COMMIT_STAGE_LAYER = {
    "assign": "assign",
    "complexity": "complexity",
    "parcels": "parcel",
    "reblock_all": "reblock",
    "reblock_summary": "reblock",
    "reblock_edges": "reblock",
    "reblock_terminals": "reblock",
    "manifest": "curation",
}


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    # filled by Tracer.resolve from the status store
    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    task_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    stage_ids: list = field(default_factory=list)

    @property
    def wall(self) -> float:
        return self.end - self.start


@dataclass
class StageStats:
    tasks: int = 0
    failed_tasks: int = 0
    task_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


class Tracer:
    """One per run. ``span`` is a context manager; nested spans form a
    tree through ``parent`` and every Spark job runs in the group of the
    innermost open span."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._originals: list[tuple[object, str, object]] = []
        self.self_s = 0.0  # time spent in the tracer's own bookkeeping

    # -- spans -------------------------------------------------------------
    def _group(self, sid: int) -> str:
        return f"perfbench-{id(self)}-{sid}"

    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(self._group(span.sid), span.name)

    def open(self, name: str, layer: str) -> Span:
        t = time.perf_counter()
        parent = self._stack[-1].sid if self._stack else None
        span = Span(len(self.spans), name, layer, parent, 0.0)
        self.spans.append(span)
        self._stack.append(span)
        self._set_group(span)
        span.start = time.perf_counter()
        self.self_s += span.start - t
        return span

    def close(self, span: Span) -> None:
        span.end = time.perf_counter()
        if not self._stack or self._stack[-1] is not span:
            raise RuntimeError(f"span {span.name} closed out of order")
        self._stack.pop()
        self._set_group(self._stack[-1] if self._stack else None)
        self.self_s += time.perf_counter() - span.end

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        s = self.open(name, layer)
        try:
            yield s
        finally:
            self.close(s)

    # -- wrapping ----------------------------------------------------------
    def install(self) -> None:
        """Replace each WRAPPED attribute with a span-opening wrapper."""
        if self._originals:
            return
        for layer, modname, attr in WRAPPED:
            owner = importlib.import_module(modname)
            *path, fname = attr.split(".")
            for p in path:
                owner = getattr(owner, p)
            orig = owner.__dict__[fname] if isinstance(owner, type) else getattr(owner, fname)
            setattr(owner, fname, self._wrap(layer, attr, orig))
            self._originals.append((owner, fname, orig))

    def uninstall(self) -> None:
        for owner, fname, orig in reversed(self._originals):
            setattr(owner, fname, orig)
        self._originals.clear()

    def _wrap(self, layer: str, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            span = tracer.open(name, layer)
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer.close(span)
            t = time.perf_counter()
            tracer._annotate(span, name, args, kwargs, out)
            tracer.self_s += time.perf_counter() - t
            return out

        return wrapper

    @staticmethod
    def _annotate(span: Span, name: str, args, kwargs, out) -> None:
        if name == "TableStore.commit":
            store, table = args[0], args[2] if len(args) > 2 else kwargs["table"]
            stage = kwargs.get("stage") or (args[4] if len(args) > 4 else None) or table
            span.attrs["stage"] = stage
            # the store records the write's own wall time per lineage row;
            # the rest of the commit is the store's bookkeeping
            lineage = store.read_lineage(table)
            new = [r for r in lineage if r.get("stage") == stage]
            span.attrs["write_s"] = (new[-1]["wall_ms"] / 1000.0) if new else 0.0
        elif name in ("block_cover_pdf", "compact_cover_pdf"):
            span.attrs["rows"] = len(out)

    # -- status store ------------------------------------------------------
    def _store(self):
        return self.sc._jsc.sc().statusStore()

    def max_job_id(self) -> int:
        # jobsList is ordered newest first
        jobs = self._store().jobsList(None)
        return jobs.apply(0).jobId() if jobs.size() else -1

    def resolve(self, since_job_id: int) -> None:
        """Fill the job and stage figures of every span from the status
        store, for the jobs newer than ``since_job_id``. A job counts for
        the span whose group it ran in; jobs outside any span (the output
        checks' reads) count for none."""
        t = time.perf_counter()
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        store = self._store()
        by_group = {self._group(s.sid): s for s in self.spans}
        jobs = store.jobsList(None)
        seen_stages: set[int] = set()
        for i in range(jobs.size()):
            job = jobs.apply(i)
            if job.jobId() <= since_job_id:
                break  # newest first: the rest are older
            grp = job.jobGroup()
            span = by_group.get(grp.get()) if grp.isDefined() else None
            if span is None:
                continue
            span.jobs += 1
            ids = job.stageIds()
            for k in range(ids.size()):
                sid = ids.apply(k)
                if sid in seen_stages:  # a stage shared by two jobs counts once
                    continue
                seen_stages.add(sid)
                st = self._stage(store, sid)
                span.tasks += st.tasks
                span.failed_tasks += st.failed_tasks
                span.task_ms += st.task_ms
                span.gc_ms += st.gc_ms
                span.shuffle_write_bytes += st.shuffle_write_bytes
                span.spill_bytes += st.spill_bytes
                span.stage_ids.append(sid)
        self.self_s += time.perf_counter() - t

    @staticmethod
    def _stage(store, sid: int) -> StageStats:
        try:
            sd = store.lastStageAttempt(sid)
        except Exception:  # a stage that never ran (skipped) has no attempt
            return StageStats()
        return StageStats(
            tasks=sd.numCompleteTasks(),
            failed_tasks=sd.numFailedTasks(),
            task_ms=float(sd.executorRunTime()),
            gc_ms=float(sd.jvmGcTime()),
            shuffle_write_bytes=int(sd.shuffleWriteBytes()),
            spill_bytes=int(sd.diskBytesSpilled()),
        )

    def task_skew(self, span: Span) -> float:
        """max / median task run time over the non-empty tasks of the
        span's heaviest stage — the straggler ratio of a per-block kernel."""
        t = time.perf_counter()
        store = self._store()
        best, best_ms = None, -1.0
        for sid in span.stage_ids:
            st = self._stage(store, sid)
            if st.task_ms > best_ms:
                best, best_ms = sid, st.task_ms
        ratio = 0.0
        if best is not None:
            sd = store.lastStageAttempt(best)
            tl = store.taskList(best, sd.attemptId(), 1 << 30)
            times = []
            for i in range(tl.size()):
                td = tl.apply(i)
                m = td.taskMetrics()
                if not m.isDefined():
                    continue
                m = m.get()
                sr = m.shuffleReadMetrics()
                if sr.recordsRead() > 0 or m.inputMetrics().recordsRead() > 0:
                    times.append(float(m.executorRunTime()))
            times.sort()
            if times and times[len(times) // 2] > 0:
                ratio = times[-1] / times[len(times) // 2]
        self.self_s += time.perf_counter() - t
        return ratio

    # -- output ------------------------------------------------------------
    def dump(self) -> list[dict]:
        return [
            {
                "id": s.sid, "name": s.name, "layer": s.layer, "parent": s.parent,
                "start": s.start, "end": s.end, "jobs": s.jobs, "tasks": s.tasks,
                "failed_tasks": s.failed_tasks, "task_ms": s.task_ms,
                "gc_ms": s.gc_ms, "shuffle_write_bytes": s.shuffle_write_bytes,
                "spill_bytes": s.spill_bytes, **s.attrs,
            }
            for s in self.spans
        ]
