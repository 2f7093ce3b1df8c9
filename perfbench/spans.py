"""Span tracing for the traced run, recorded from outside the package.

`Tracer.install()` replaces the public entry points of each package layer
with wrappers that record a span (name, start, end, parent, Spark job
diff) around every call. Spans stay in memory; `Tracer.layer_metrics()`
folds them into per-layer self time, call and job counts, and
`Tracer.dump()` writes them out when the run ends. Nothing is installed
in an untraced run, so the untraced run pays nothing.

Self time is a span's duration minus the part of it that its child spans
cover. A span's parent is the innermost open span of the same thread;
for the first span on a thread (a streaming `foreachBatch` callback
thread) it is the innermost open span of the thread that installed the
tracer, which is the call that started the stream.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import threading
import time
from dataclasses import dataclass, field

# (module path, attribute owner, attribute, span name). The owner is a
# dotted path inside the module: "" for a module-level function,
# "SnapshotTable" for a method. A name imported into another module is
# patched where it is looked up (bronze_silver's `dedup_latest`).
PKG = "emr_apache_iceberg_workshop_spark"
ENTRY_POINTS = [
    ("pipelines", "", "run_raw_bronze", "pipelines.raw_bronze"),
    ("pipelines", "", "run_bronze_silver", "pipelines.bronze_silver"),
    ("sources.incremental_files", "IncrementalFileSource", "get_new_files",
     "sources.discover"),
    ("sources.checkpoints", "CheckpointStore", "load", "sources.checkpoint"),
    ("sources.checkpoints", "CheckpointStore", "save", "sources.checkpoint"),
    ("pipelines.bronze_silver", "", "dedup_latest", "operators.dedup_latest"),
    ("tables", "SnapshotTable", "write", "tables.write"),
    ("tables", "SnapshotTable", "merge", "tables.merge"),
    ("tables", "SnapshotTable", "delete_keys", "tables.delete_keys"),
    ("tables", "SnapshotTable", "maintain", "tables.maintain"),
    ("tables", "SnapshotTable", "expire_snapshots", "tables.expire"),
    ("tables", "SnapshotTable", "scan", "tables.scan"),
    ("tables", "SnapshotTable", "scan_incremental", "tables.scan_incremental"),
    ("tables", "SnapshotTable", "history", "tables.history"),
    ("plans.dedup", "", "fold_batch_clusters", "plans.dedup.fold_batch_clusters"),
    ("plans.dedup", "", "retract_batch_clusters", "plans.dedup.retract_batch_clusters"),
    ("plans.dedup", "", "apply_cdc_batch_clusters",
     "plans.dedup.apply_cdc_batch_clusters"),
]

# spans whose end leaves a new table commit behind
COMMIT_SPANS = {
    "tables.write", "tables.merge", "tables.delete_keys", "tables.maintain",
    "tables.expire",
}

# spans reported as <name>_s (self time), <name>_calls and <name>_jobs;
# driver-only layers (file listing, checkpoint JSON, lazy plan building)
# run no Spark job, so they have no _jobs figure
TIMED_LAYERS = list(dict.fromkeys(name for *_, name in ENTRY_POINTS))
NO_JOBS = {"sources.discover", "sources.checkpoint", "operators.dedup_latest"}


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    jobs: int = 0
    thread: str = ""
    children: list[int] = field(default_factory=list)


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    """Records spans around package entry points for one run."""

    def __init__(self, spark=None):
        self.spark = spark
        self.spans: list[Span] = []
        self.lock = threading.Lock()
        self.local = threading.local()
        self.root_thread = threading.get_ident()
        self.root_stack: list[int] = []
        self.on = False
        self.cost_s = 0.0  # time spent in the tracer's own bookkeeping
        self.patched: list[tuple[object, str, object]] = []
        # table root -> (seen file keys, bytes written, meta bytes samples)
        self.tables: dict[str, dict] = {}
        self.microbatches: list[dict] = []
        self.files_listed = 0

    # -- span recording ----------------------------------------------------
    def _stack(self) -> list[int]:
        if threading.get_ident() == self.root_thread:
            return self.root_stack
        st = getattr(self.local, "stack", None)
        if st is None:
            st = self.local.stack = []
        return st

    def _next_job_id(self) -> int:
        if self.spark is None:
            return 0
        jid = self.spark.sparkContext._jsc.sc().dagScheduler().nextJobId()
        return jid if isinstance(jid, int) else jid.get()

    def begin(self, name: str) -> int:
        c0 = time.perf_counter()
        stack = self._stack()
        if stack:
            parent = stack[-1]
        elif self.root_stack:
            parent = self.root_stack[-1]
        else:
            parent = None
        jobs0 = self._next_job_id()
        with self.lock:
            idx = len(self.spans)
            self.spans.append(Span(name, 0.0, parent=parent, jobs=jobs0,
                                   thread=threading.current_thread().name))
            if parent is not None:
                self.spans[parent].children.append(idx)
        stack.append(idx)
        now = time.perf_counter()
        self.spans[idx].start = now
        self.cost_s += now - c0
        return idx

    def end(self, idx: int, table_root: str | None = None) -> None:
        now = time.perf_counter()
        sp = self.spans[idx]
        sp.end = now
        sp.jobs = self._next_job_id() - sp.jobs
        stack = self._stack()
        if stack and stack[-1] == idx:
            stack.pop()
        if table_root is not None and sp.name in COMMIT_SPANS:
            self._after_commit(table_root)
        self.cost_s += time.perf_counter() - now

    # -- table state -------------------------------------------------------
    def _after_commit(self, root: str) -> None:
        """Bytes the commit added under the table root (new files only) and
        the size of `_meta.json` after it."""
        st = self.tables.setdefault(root, {"seen": set(), "written": 0, "meta": []})
        for dirpath, _dirs, files in os.walk(root):
            for fn in files:
                p = os.path.join(dirpath, fn)
                try:
                    s = os.stat(p)
                except FileNotFoundError:
                    continue
                key = (p, s.st_ino, s.st_mtime_ns)
                if key not in st["seen"]:
                    st["seen"].add(key)
                    st["written"] += s.st_size
        try:
            st["meta"].append(os.path.getsize(os.path.join(root, "_meta.json")))
        except FileNotFoundError:
            pass

    # -- installation ------------------------------------------------------
    def _wrap(self, fn, name: str, is_method: bool):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.on:
                return fn(*args, **kwargs)
            idx = tracer.begin(name)
            try:
                return fn(*args, **kwargs)
            finally:
                root = getattr(args[0], "root", None) if is_method and args else None
                tracer.end(idx, table_root=root)

        return wrapper

    def install(self) -> None:
        import importlib

        for mod_name, owner, attr, name in ENTRY_POINTS:
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            target = getattr(mod, owner) if owner else mod
            orig = getattr(target, attr)
            self.patched.append((target, attr, orig))
            setattr(target, attr, self._wrap(orig, name, is_method=bool(owner)))

        # sources.files_listed: every object the discovery listing yields
        lister = importlib.import_module(f"{PKG}.sources.incremental_files").LocalFSLister
        orig_list = lister.list
        tracer = self

        @functools.wraps(orig_list)
        def counting_list(self_):
            for item in orig_list(self_):
                if tracer.on:
                    tracer.files_listed += 1
                yield item

        self.patched.append((lister, "list", orig_list))
        lister.list = counting_list

    def uninstall(self) -> None:
        for target, attr, orig in reversed(self.patched):
            setattr(target, attr, orig)
        self.patched.clear()
        self.on = False

    # -- reporting ---------------------------------------------------------
    def self_times(self) -> list[tuple[Span, float, int]]:
        out = []
        for sp in self.spans:
            kids = [self.spans[i] for i in sp.children]
            covered = _union_len(
                [(max(k.start, sp.start), min(k.end, sp.end)) for k in kids
                 if k.end > sp.start and k.start < sp.end]
            )
            jobs = sp.jobs - sum(k.jobs for k in kids)
            out.append((sp, (sp.end - sp.start) - covered, max(jobs, 0)))
        return out

    def layer_metrics(self, units: int, plan_spans: list[str]) -> dict[str, tuple[float, str]]:
        """Per-layer self time, calls and Spark jobs per workload unit, the
        drain queries' inclusive time and jobs, and the streaming figures.
        Every metric is present; a layer the workload never entered reads
        0, which is the prediction for it on that workload."""
        units = max(units, 1)
        agg: dict[str, list[float]] = {}
        incl: dict[str, list[float]] = {}
        for sp, self_s, jobs in self.self_times():
            a = agg.setdefault(sp.name, [0.0, 0, 0])
            a[0] += self_s
            a[1] += 1
            a[2] += jobs
            i = incl.setdefault(sp.name, [0.0, 0])
            i[0] += sp.end - sp.start
            i[1] += sp.jobs
        m: dict[str, tuple[float, str]] = {}
        # once per run, not per unit
        s, _calls, _jobs = agg.get("session.build", [0.0, 0, 0])
        m["session.build_s"] = (s, "s")
        for span_name in TIMED_LAYERS:
            s, calls, jobs = agg.get(span_name, [0.0, 0, 0])
            m[f"{span_name}_s"] = (s / units, "s")
            m[f"{span_name}_calls"] = (calls / units, "count")
            if span_name not in NO_JOBS:
                m[f"{span_name}_jobs"] = (jobs / units, "count")
        m["sources.files_listed"] = (self.files_listed / units, "count")
        for name in plan_spans:
            s, jobs = incl.get(name, [0.0, 0])
            m[f"{name}.s"] = (s / units, "s")
            m[f"{name}.jobs"] = (jobs / units, "count")
        mbs = self.microbatches
        trig = [b["trigger_ms"] / 1000 for b in mbs]
        m["streaming.microbatches"] = (len(mbs) / units, "count")
        m["streaming.batch_p50_s"] = (statistics.median(trig) if trig else 0.0, "s")
        m["streaming.overhead_s"] = (
            sum((b["trigger_ms"] - b["add_batch_ms"]) / 1000 for b in mbs) / units, "s")
        # every Spark job of the timed phase: the sum over root spans
        root_jobs = sum(sp.jobs for sp in self.spans
                        if sp.parent is None and sp.name != "session.build")
        m["spark.jobs"] = (root_jobs / units, "count")
        return m

    def table_metrics(self, spark, user_bytes: int) -> dict[str, tuple[float, str]]:
        """State of the tables the run committed to, at run end: the
        largest `_meta.json` and its mean growth per commit, live data and
        delete files and snapshots (summed over tables), and bytes the
        table layer wrote per byte of user input."""
        from importlib import import_module

        SnapshotTable = import_module(f"{PKG}.tables").SnapshotTable
        meta_last, meta_growth = 0, 0.0
        live = deletes = snaps = 0
        for root, t in self.tables.items():
            if t["meta"]:
                meta_last = max(meta_last, t["meta"][-1])
            if len(t["meta"]) > 1:
                meta_growth = max(meta_growth,
                                  (t["meta"][-1] - t["meta"][0]) / (len(t["meta"]) - 1))
            if SnapshotTable.exists(root):
                table = SnapshotTable(spark, root)
                content = [r[0] for r in table.files_table().select("content").collect()]
                live += content.count(0)
                deletes += content.count(2)
                snaps += len(table.snapshots())
        written = sum(t["written"] for t in self.tables.values())
        return {
            "tables.meta_bytes": (float(meta_last), "bytes"),
            "tables.meta_bytes_per_commit": (meta_growth, "bytes"),
            "tables.live_files": (float(live), "count"),
            "tables.delete_files": (float(deletes), "count"),
            "tables.snapshots": (float(snaps), "count"),
            "tables.bytes_written_per_user_byte": (
                written / user_bytes if user_bytes else 0.0, "ratio"),
        }

    def dump(self, path: str) -> None:
        recs = [
            {"id": i, "name": sp.name, "start": sp.start, "end": sp.end,
             "parent": sp.parent, "jobs": sp.jobs, "thread": sp.thread}
            for i, sp in enumerate(self.spans)
        ]
        with open(path, "w") as f:
            json.dump({"spans": recs, "microbatches": self.microbatches}, f)


def progress_listener(spark, records: list[dict]):
    """Register a StreamingQueryListener that appends one record per
    micro-batch: Spark's own trigger execution time, the time inside
    `addBatch` (the foreachBatch function) and the input rows. Returns the
    listener; `flush_progress` waits until every posted event arrived."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            d = event.progress.durationMs or {}
            records.append({
                "trigger_ms": int(d.get("triggerExecution", 0)),
                "add_batch_ms": int(d.get("addBatch", 0)),
                "rows": int(event.progress.numInputRows or 0),
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = _Listener()
    spark.streams.addListener(listener)
    return listener


def flush_progress(spark) -> None:
    """Block until the listener bus has delivered every queued event."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
