"""Spans and per-layer counters for the traced run.

Wrappers are installed from here, around the public functions of each
layer module, at the name the caller looks up: a name bound with
``from module import f`` is patched in the importing module, a name
looked up as ``module.f`` at call time is patched in ``module``.  Spans
are kept in memory; Spark and drain counters are read after each
operation, outside its timed region.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import threading
import time

from py4j.protocol import Py4JJavaError

#: (module, attribute, span name).  The span name's prefix before the
#: first "." is the layer; ``run.span_metric`` names the metric it feeds.
PATCHES = [
    ("flatterer_spark.flatten", "flatten_dataframes", "flatten_api.build"),
    ("flatterer_spark.flatten", "compute_metadata", "flatten_api.metadata"),
    ("flatterer_spark.flatten_api", "build_metadata", "flatten_api.metadata"),
    ("flatterer_spark.flatten_api", "ordinal_guard_ok",
     "flatten_api.ordinal_guard"),
    ("flatterer_spark.flatten_api", "read_json_source", "sources.read"),
    ("flatterer_spark.sources.json_input", "schema_guard_ok", "sources.guard"),
    ("flatterer_spark.flatten_api", "derive_plan", "plans.derive"),
    ("flatterer_spark.sinks.writers", "write_csv_exact", "sinks.csv_exact"),
    ("flatterer_spark.sinks.writers", "write_csv_exact_merged",
     "sinks.csv_merged"),
    ("flatterer_spark.sinks.writers", "write_parquet", "sinks.parquet"),
    ("flatterer_spark.sinks.writers", "write_sqlite", "sinks.sqlite"),
    ("flatterer_spark.sinks.writers", "write_xlsx", "sinks.xlsx"),
    ("flatterer_spark.sinks.writers", "write_metadata_csvs", "sinks.meta"),
    ("flatterer_spark.sinks.writers", "write_datapackage", "sinks.meta"),
    ("flatterer_spark.sinks.writers", "write_sql_scripts", "sinks.meta"),
    ("flatterer_spark.streaming.stream_flatten", "run_available_now",
     "streaming.drain"),
    ("flatterer_spark.streaming.stream_flatten", "minhash_band_probe_stream",
     "streaming.drain"),
]

#: Operator modules whose public functions (oracle builders excepted) are
#: wrapped as ``operators.<name>`` spans.
OPERATOR_MODULES = [
    "flatterer_spark.operators.kmeans",
    "flatterer_spark.operators.semantic",
    "flatterer_spark.operators.pca",
    "flatterer_spark.operators.graph",
    "flatterer_spark.operators.dedup",
    "flatterer_spark.operators.multimodal",
    "flatterer_spark.operators.bucketing",
    "flatterer_spark.operators.skew",
]


class Tracer:
    """In-memory span recorder.  A span opened on a thread with no open
    span of its own (the flatten CSV writer pool) takes as parent the
    innermost span open on the thread that runs operations."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.enabled = False
        self.op_id: str | None = None
        self._local = threading.local()
        self._main_stack: list[int] = []
        self._main_thread = threading.get_ident()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if threading.get_ident() == self._main_thread:
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, name: str) -> int:
        stack = self._stack()
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None
        )
        span = {"name": name, "start": time.perf_counter(), "end": None,
                "parent": parent, "op": self.op_id}
        with self._lock:
            self.spans.append(span)
            sid = len(self.spans) - 1
        stack.append(sid)
        return sid

    def end(self, sid: int) -> None:
        self.spans[sid]["end"] = time.perf_counter()
        stack = self._stack()
        if stack and stack[-1] == sid:
            stack.pop()

    def run_as_main(self, fn):
        """Run ``fn`` with the calling thread as the operation thread."""
        self._main_thread = threading.get_ident()
        self._main_stack = []
        return fn()

    @contextlib.contextmanager
    def span(self, name: str):
        sid = self.begin(name)
        try:
            yield sid
        finally:
            self.end(sid)

    def wrap(self, name: str, fn, on_result=None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(name) as sid:
                result = fn(*args, **kwargs)
            if on_result is not None:
                on_result(sid, result)
            return result

        return traced

    def op_spans(self, op_id: str) -> dict[int, dict]:
        return {i: s for i, s in enumerate(self.spans)
                if s["op"] == op_id and s["end"] is not None}


def install(tracer: Tracer) -> list[tuple]:
    """Patch every layer entry point; return (module, attr, original)
    triples so ``uninstall`` can restore them."""
    import importlib

    def count_tables(sid, plans):
        tracer.spans[sid]["tables"] = len(plans)

    undo = []
    for mod_name, attr, span in PATCHES:
        mod = importlib.import_module(mod_name)
        orig = getattr(mod, attr)
        hook = count_tables if span == "plans.derive" else None
        setattr(mod, attr, tracer.wrap(span, orig, hook))
        undo.append((mod, attr, orig))
    for mod_name in OPERATOR_MODULES:
        mod = importlib.import_module(mod_name)
        for attr, obj in list(vars(mod).items()):
            if (
                inspect.isfunction(obj)
                and obj.__module__ == mod_name
                and not attr.startswith(("_", "oracle_"))
            ):
                setattr(mod, attr, tracer.wrap(f"operators.{attr}", obj))
                undo.append((mod, attr, obj))
    return undo


def uninstall(undo: list[tuple]) -> None:
    for mod, attr, orig in reversed(undo):
        setattr(mod, attr, orig)


def attribute(spans: dict[int, dict], op_start: float, op_end: float) -> dict:
    """Split one operation's wall time over its spans (``{span id: span}``,
    parents given by id).  Each instant goes to the innermost spans open
    at that instant, shared equally when several run concurrently, and to
    "unattributed" when none is open.  A span with no concurrent children
    therefore gets exactly its self time (its duration minus the union of
    its children's intervals), and the shares add up to the operation's
    wall time."""
    live = {i: s for i, s in spans.items() if s["end"] > s["start"]}
    bounds = sorted({op_start, op_end} | {
        t for s in live.values() for t in (s["start"], s["end"])
        if op_start <= t <= op_end
    })
    share: dict[str, float] = {}
    for lo, hi in zip(bounds, bounds[1:]):
        active = {i for i, s in live.items() if s["start"] <= lo and s["end"] >= hi}
        leaves = [i for i in active
                  if not any(live[j]["parent"] == i for j in active)]
        if not leaves:
            share["unattributed"] = share.get("unattributed", 0.0) + (hi - lo)
        for i in leaves:
            name = live[i]["name"]
            share[name] = share.get(name, 0.0) + (hi - lo) / len(leaves)
    return share


# ---------------------------------------------------------------------------
# Spark status store and drain progress, read outside the timed region

def last_job_id(spark) -> int:
    """Highest job id submitted so far (the engine sets no job group), or
    -1 before the first job."""
    return max(spark.sparkContext.statusTracker().getJobIdsForGroup(None),
               default=-1)


def spark_job_metrics(spark, after_job: int) -> dict:
    """Sum the stage metrics of every job with id > ``after_job``, the
    highest id seen just before the operation started.  Job ids come from
    ``statusTracker().getJobIdsForGroup`` and stage metrics from the
    status store, which keeps them with the UI off.  Operations run one at
    a time, so the jobs submitted since that read belong to this
    operation, including those submitted from the engine's own worker
    threads."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    job_ids = [j for j in sc.statusTracker().getJobIdsForGroup(None)
               if j > after_job]
    m = {"jobs": len(job_ids), "tasks": 0, "run_s": 0.0, "cpu_s": 0.0,
         "gc_s": 0.0, "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0,
         "spill_mb": 0.0}
    stage_ids = set()
    for jid in job_ids:
        ids = store.job(jid).stageIds()
        stage_ids.update(ids.apply(k) for k in range(ids.length()))
    for sid in stage_ids:
        try:
            st = store.lastStageAttempt(sid)
        except Py4JJavaError:  # skipped stages have no attempt in the store
            continue
        m["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
        m["run_s"] += st.executorRunTime() / 1e3
        m["cpu_s"] += st.executorCpuTime() / 1e9
        m["gc_s"] += st.jvmGcTime() / 1e3
        m["shuffle_read_mb"] += (st.shuffleLocalBytesRead()
                                 + st.shuffleRemoteBytesRead()) / 2**20
        m["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
        m["spill_mb"] += (st.memoryBytesSpilled()
                          + st.diskBytesSpilled()) / 2**20
    return m


def persisted_rdd_ids(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keys()}


def cached_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


def drain_metrics(progress_lists: list[list[dict]]) -> dict:
    """Fold the per-batch progress records of the drains one operation
    ran (``stream_flatten.DRAIN_PROGRESS`` entries)."""
    m = {"batches": 0, "input_rows": 0, "add_batch_s": 0.0, "planning_s": 0.0,
         "wal_s": 0.0, "state_commit_s": 0.0, "state_rows_peak": 0,
         "state_mem_peak_mb": 0.0, "state_partitions": 0}
    for progs in progress_lists:
        for p in progs:
            d = p.get("durationMs", {})
            m["batches"] += 1
            m["input_rows"] += p.get("numInputRows", 0)
            m["add_batch_s"] += d.get("addBatch", 0) / 1e3
            m["planning_s"] += d.get("queryPlanning", 0) / 1e3
            m["wal_s"] += (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1e3
            ops = p.get("stateOperators", [])
            m["state_commit_s"] += sum(o.get("commitTimeMs", 0) for o in ops) / 1e3
            m["state_rows_peak"] = max(
                m["state_rows_peak"], sum(o.get("numRowsTotal", 0) for o in ops))
            m["state_mem_peak_mb"] = max(
                m["state_mem_peak_mb"],
                sum(o.get("memoryUsedBytes", 0) for o in ops) / 2**20)
            m["state_partitions"] = max(
                [m["state_partitions"]]
                + [o.get("numShufflePartitions", 0) for o in ops])
    return m
