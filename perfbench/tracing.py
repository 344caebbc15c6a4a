"""Traced-run instrumentation, installed from outside the engine.

Two instruments, both used only by ``run.py --trace 1``:

- :class:`Tracer` wraps public entry points of engine modules (and the
  harness's own op calls) in spans: name, start, end, parent span and the
  run id. Spans stay in memory and are written out once, at exit.
  :meth:`Tracer.uninstall` restores every patched attribute, so untraced
  passes inside a traced run execute the engine's own functions.
- :class:`StatusStore` reads Spark's JVM status store (it exists even
  with ``spark.ui.enabled=false``) for the jobs and stages an op
  started, by id range. A stage id inside the range that the store no
  longer holds means the retention limits evicted it, and the read fails
  loudly instead of undercounting.
"""

from __future__ import annotations

import functools
import importlib
import json
import statistics
import sys
import threading
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

PKG = "data_mastery_pipeline_spark"


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._local = threading.local()
        self._main_stack: list[int] = []
        self._main = threading.main_thread()
        self._patches: list[tuple[object, str, object]] = []
        self.installs = 0  # attributes patched over the tracer's life

    def _stack(self) -> list[int]:
        if threading.current_thread() is self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _parent(self, stack: list[int]) -> int | None:
        if stack:
            return stack[-1]
        # a worker thread's first span hangs under the driver's open span
        return self._main_stack[-1] if self._main_stack else None

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._parent(stack),
            "run_id": self.run_id,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    # -- patching -------------------------------------------------------

    def _wrapper(self, fn, name: str, on_result=None, attrs=None):
        tracer = self

        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            extra = attrs(args, kwargs) if attrs else {}
            with tracer.span(name, **extra) as rec:
                out = fn(*args, **kwargs)
                if on_result is not None:
                    on_result(rec, args, kwargs, out)
                return out

        wrapped.__perfbench_original__ = fn
        return wrapped

    def _set(self, owner, attr: str, value) -> None:
        self._patches.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, value)
        self.installs += 1

    def patch_function(self, module: str, attr: str, name: str, **kw) -> None:
        """Wrap ``module.attr`` and every ``from module import attr``
        alias already bound in the engine's loaded modules."""
        mod = importlib.import_module(module)
        orig = getattr(mod, attr)
        wrapped = self._wrapper(orig, name, **kw)
        for mname, m in list(sys.modules.items()):
            if m is None or not (mname == PKG or mname.startswith(PKG + ".")):
                continue
            for k, v in list(vars(m).items()):
                if v is orig:
                    self._set(m, k, wrapped)

    def patch_method(self, cls, attr: str, name: str, **kw) -> None:
        raw = cls.__dict__[attr]
        if isinstance(raw, classmethod):
            wrapped = classmethod(self._wrapper(raw.__func__, name, **kw))
        elif isinstance(raw, staticmethod):
            wrapped = staticmethod(self._wrapper(raw.__func__, name, **kw))
        else:
            wrapped = self._wrapper(raw, name, **kw)
        self._set(cls, attr, wrapped)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


def installed_wrappers() -> list[str]:
    """Every engine attribute currently replaced by a perfbench wrapper;
    run.py refuses to report a result while any remain."""
    found = []
    for mname, m in list(sys.modules.items()):
        if m is None or not (mname == PKG or mname.startswith(PKG + ".")):
            continue
        for k, v in list(vars(m).items()):
            targets = [v]
            if isinstance(v, type):
                targets = [
                    getattr(x, "__func__", x) for x in vars(v).values()
                ]
            if any(hasattr(t, "__perfbench_original__") for t in targets):
                found.append(f"{mname}.{k}")
    return found


def install_layers(tracer: Tracer, counters: dict) -> None:
    """Wrap the engine layers the per-layer metrics attribute time to.
    ``counters`` accumulates values read off call results."""
    from data_mastery_pipeline_spark import mv, search
    from data_mastery_pipeline_spark.sources import txlog

    def on_commit(rec, args, kwargs, out):
        adds = kwargs.get("adds", args[2] if len(args) > 2 else [])
        counters["txlog.commits"] = counters.get("txlog.commits", 0) + 1
        counters["txlog.files_written"] = counters.get("txlog.files_written", 0) + len(adds)
        counters["txlog.bytes_written"] = counters.get("txlog.bytes_written", 0) + sum(
            a.get("size", 0) for a in adds
        )

    tracer.patch_method(txlog.TxTable, "_commit", "txlog.commit", on_result=on_commit)
    for m in (
        "create", "append", "append_stream_batch", "delete_where",
        "update_where", "replace_where", "merge_upsert", "optimize",
        "purge_deletes",
    ):
        if m in txlog.TxTable.__dict__:
            tracer.patch_method(txlog.TxTable, m, "txlog.write", attrs=lambda a, k, m=m: {"method": m})
    tracer.patch_method(mv.Navigator, "answer", "mv.answer")
    tracer.patch_method(mv.SumCountView, "refresh", "mv.refresh")
    tracer.patch_method(mv.JoinAggView, "refresh", "mv.refresh")
    tracer.patch_function(
        f"{PKG}.sources.runlog", "run_stage", "pipeline.stage",
        attrs=lambda a, k: {"stage": k.get("stage", a[2] if len(a) > 2 else None)},
    )
    tracer.patch_method(search.SearchIndex, "query", "search.query")

    tracer.patch_function(f"{PKG}.streaming.core", "run_available_now", "streaming.drain")
    from pyspark.sql.streaming.query import StreamingQuery

    def on_await(rec, args, kwargs, out):
        counters["streaming.batches"] = counters.get("streaming.batches", 0) + len(
            args[0].recentProgress
        )

    tracer.patch_method(StreamingQuery, "awaitTermination", "streaming.await", on_result=on_await)
    tracer.patch_function(f"{PKG}.checkpointing", "truncate_lineage", "checkpointing.truncate_lineage")
    tracer.patch_function(f"{PKG}.dedup.components", "connected_components", "dedup.cc")
    tracer.patch_function(f"{PKG}.similarity.pq", "ivfpq_topk", "similarity.ivfpq_topk")


def layer_seconds(spans: list[dict], name: str) -> float:
    """Wall seconds in outermost spans called ``name`` (a nested span of
    the same name is not counted twice)."""
    by_id = {s["id"]: s for s in spans}

    def nested(s) -> bool:
        p = by_id.get(s["parent"])
        while p is not None:
            if p["name"] == name:
                return True
            p = by_id.get(p["parent"])
        return False

    return sum(
        s["end"] - s["start"]
        for s in spans
        if s["name"] == name and s["end"] is not None and not nested(s)
    )


# ---------------------------------------------------------------- status


class StageEvicted(RuntimeError):
    pass


_EVICTED = (
    "{} is missing from the status store: the retention limits "
    "(spark.ui.retainedJobs/retainedStages) evicted it"
)


class StatusStore:
    """Job/stage metrics for an id range, read from Spark's status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        gw = self.sc._gateway
        self._q = gw.new_array(gw.jvm.double, 2)
        self._q[0], self._q[1] = 0.5, 1.0

    def mark(self) -> tuple[int, int]:
        """(next job id, next stage id) — the start of a range."""
        self.jsc.listenerBus().waitUntilEmpty()
        dag = self.jsc.dagScheduler()
        ids = dag.nextJobId(), dag.nextStageId()
        # plain ints on some Spark builds, AtomicIntegers on others
        return tuple(i if isinstance(i, int) else i.get() for i in ids)

    @staticmethod
    def _ms(opt) -> float | None:
        return opt.get().getTime() / 1000.0 if opt.isDefined() else None

    def read(self, start: tuple[int, int], end: tuple[int, int]) -> dict:
        self.jsc.listenerBus().waitUntilEmpty()
        store = self.jsc.statusStore()
        jobs = []
        for jid in range(start[0], end[0]):
            try:
                j = store.job(jid)
            except Py4JJavaError as ex:  # NoSuchElementException
                raise StageEvicted(_EVICTED.format(f"job {jid}")) from ex
            desc = j.description()
            jobs.append({
                "id": jid,
                "submit": self._ms(j.submissionTime()),
                "end": self._ms(j.completionTime()),
                "desc": desc.get() if desc.isDefined() else "",
            })
        stages = []
        for sid in range(start[1], end[1]):
            try:
                found = store.stageData(sid, False, None, True, self._q)
            except Py4JJavaError as ex:  # NoSuchElementException
                raise StageEvicted(_EVICTED.format(f"stage {sid}")) from ex
            if found.size() == 0:
                raise StageEvicted(_EVICTED.format(f"stage {sid}"))
            for i in range(found.size()):
                s = found.apply(i)
                rec = {
                    "id": sid,
                    "status": s.status().toString(),
                    "tasks": s.numCompleteTasks() + s.numFailedTasks(),
                    "run_ms": s.executorRunTime(),
                    "cpu_ns": s.executorCpuTime(),
                    "in_bytes": s.inputBytes(),
                    "in_rows": s.inputRecords(),
                    "sh_read": s.shuffleReadBytes(),
                    "sh_write": s.shuffleWriteBytes(),
                    "spill": s.memoryBytesSpilled() + s.diskBytesSpilled(),
                    "task_p50_ms": None,
                    "task_max_ms": None,
                }
                dist = s.taskMetricsDistributions()
                if dist.isDefined() and rec["tasks"] > 0:
                    d = dist.get().duration()
                    rec["task_p50_ms"], rec["task_max_ms"] = d.apply(0), d.apply(1)
                stages.append(rec)
        return {"jobs": jobs, "stages": stages}


def summarize(reads: list[dict], wall_s: float, cores: int) -> dict:
    """Fold the status-store reads of one pass into the spark.* and
    tables.* layer metrics."""
    jobs = [j for r in reads for j in r["jobs"]]
    stages = [s for r in reads for s in r["stages"]]
    ran = [s for s in stages if s["tasks"] > 0]
    cpu_s = sum(s["cpu_ns"] for s in stages) / 1e9
    run_s = sum(s["run_ms"] for s in stages) / 1e3
    busy = busy_seconds(jobs)
    p50s = [s["task_p50_ms"] for s in ran if s["task_p50_ms"] is not None]
    maxes = [s["task_max_ms"] for s in ran if s["task_max_ms"] is not None]
    p50 = statistics.median(p50s) if p50s else 0.0
    return {
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.tasks": sum(s["tasks"] for s in stages),
        "spark.job_gap_s": max(0.0, wall_s - busy),
        "spark.cpu_util": cpu_s / (wall_s * cores) if wall_s > 0 else 0.0,
        "spark.executor_cpu_s": cpu_s,
        "spark.executor_run_s": run_s,
        "spark.shuffle_read_bytes": sum(s["sh_read"] for s in stages),
        "spark.shuffle_write_bytes": sum(s["sh_write"] for s in stages),
        "spark.task_p50_ms": p50,
        "spark.task_max_over_p50": (max(maxes) / p50) if maxes and p50 > 0 else 0.0,
        "spark.spill_bytes": sum(s["spill"] for s in stages),
        "tables.scan_bytes": sum(s["in_bytes"] for s in stages),
        "tables.scan_rows": sum(s["in_rows"] for s in stages),
    }


def busy_seconds(jobs: list[dict]) -> float:
    """Wall seconds during which at least one of ``jobs`` ran."""
    intervals = sorted(
        (j["submit"], j["end"]) for j in jobs
        if j["submit"] is not None and j["end"] is not None
    )
    busy, cur = 0.0, None
    for a, b in intervals:
        if cur is None or a > cur[1]:
            if cur is not None:
                busy += cur[1] - cur[0]
            cur = [a, b]
        else:
            cur[1] = max(cur[1], b)
    if cur is not None:
        busy += cur[1] - cur[0]
    return busy
