"""Run one benchmark workload against the engine and print its metrics.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root.  One process: a Spark session on
``local[$(nproc)]`` and one closed-loop client that runs the workload's
operations back to back.  The process sets up (session, generated
inputs, warm-up), runs a first pass over the operations in the fresh
session, then repeats steady passes until ``--seconds`` have elapsed.
Outputs are checked against counts recorded by the input generator
(flatten workloads) or expectations pinned in ``expected.json`` (query
workloads).

``--trace 0`` times only the engine's entry points and prints the
end-to-end metrics.  ``--trace 1`` wraps each layer's public functions,
alternates traced and untraced steady passes, and prints the per-layer
metrics and the tracing overhead.  The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed``, ``metrics``.
The line before it is a JSON detail record (provenance, per-operation
times, failures, exclusions).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import resource
import shutil
import signal
import subprocess
import sys
import threading
import time
import traceback

T_PROCESS = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import datagen  # noqa: E402
import stats  # noqa: E402

#: The query workload reads the project's fixed sf0.01 test tables, kept
#: in the benchmark's directory, so its expected outputs can be pinned
#: once; ``--seed`` seeds the flatten corpora.
QUERY_SF_DIR = os.path.join(HERE, "data", "sf0.01")
SETUP_REPS = 3
#: Steady passes per run, untraced and traced, whatever ``--seconds`` is:
#: the first steady pass still runs measurably warmer than the later ones,
#: so a median needs three; the traced run needs two traced and two
#: untraced passes for the overhead.
MIN_STEADY_PASSES = {False: 3, True: 4}
OP_TIMEOUT_S = 90.0
#: A run stops starting passes this long after process start, so it
#: ends well inside the 180 s a run may take.  A run that has not
#: finished MIN_STEADY_PASSES steady passes by then prints no result and
#: exits with code 1.
RUN_DEADLINE_S = 150.0

RELATIONAL = [
    ("tpch_queries", "q47_pricing_summary"),
    ("tpch_queries", "q51_market_share"),
    ("queries", "q09_window_rank"),
    ("queries", "q17_range_join"),
]
STAGED = [
    ("ext_queries", "mm_phash_dedup"),  # phash view, multimodal operator
    # shingle view, minhash join, connected components; its label cache
    # is cleared first, so it times clustering, not a cache read
    ("curation", "dedup_cluster"),
]
STREAMS = [
    ("gate_queries", "stream_ewma"),       # Python state store drain
]

FLATTEN_OPS = {
    # NDJSON above EXACT_CSV_MAX_ROWS: executor-side parse and the merged
    # CSV writer, default options
    "flatten_bulk": {"objects": 105_000, "array": False, "sinks": {}},
    # the reference's test scale as one JSON-array document, written to
    # every local sink: driver-side spool parse and driver-exact writers
    "flatten_small_sinks": {"objects": 5_000, "array": True,
                            "sinks": {"parquet": True, "sqlite": True,
                                      "xlsx": True, "sql_scripts": True}},
}

WORKLOADS = {
    "flatten": {"kind": "flatten", "ops": FLATTEN_OPS},
    "query_batch": {"kind": "query", "ops": RELATIONAL + STAGED + STREAMS},
}

EXCLUDED = {
    "q19_flatten_child": "reads the reference golden fixture, which is absent",
    "q20_flatten_fields": "reads the reference golden fixture, which is absent",
    "stream_flatten_child": "reads the reference golden fixture, which is absent",
}

MODULES = {
    "queries": ("flatterer_spark.queries", "CORE_QUERIES"),
    "tpch_queries": ("flatterer_spark.tpch_queries", "TPCH_QUERIES"),
    "ext_queries": ("flatterer_spark.ext_queries", "EXT_QUERIES"),
    "curation": ("flatterer_spark.curation", "CURATION_QUERIES"),
    "gate_queries": ("flatterer_spark.streaming.gate_queries",
                     "STREAM_GATE_QUERIES"),
}

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_PROCESS:7.2f}s] {msg}",
          file=sys.stderr, flush=True)


def work_dir(workload: str) -> str:
    return os.path.join(ROOT, ".perfbench_work", f"{workload}-{os.getpid()}")


def remove_work_dir(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))  # only when no other run uses it
    except OSError:
        pass


def confine_scratch(work: str) -> None:
    """Point every scratch location the engine, Spark and the JVM use at
    ``work``: Python tempfiles, Spark local dirs, java.io.tmpdir and the
    drain checkpoint base.  Must run before pyspark starts the JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["FLATTERER_CKPT_BASE"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = tmp


def load_queries(ops: list[tuple[str, str]]) -> dict:
    """Resolve (module, name) pairs from the per-module query dicts."""
    import importlib

    out = {}
    for mod_key, name in ops:
        mod_name, dict_name = MODULES[mod_key]
        out[name] = getattr(importlib.import_module(mod_name), dict_name)[name]
    return out


def start_spark():
    from flatterer_spark.session import get_spark

    spark = get_spark(app_name="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except (OSError, AttributeError):
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the host's CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def jvm_retained_mb(spark) -> float:
    """Driver JVM heap still in use after a full collection: what the
    session keeps (cached staged views, broadcast and model state).
    Spark's ContextCleaner drops the broadcast and shuffle blocks of
    collected plans on its own thread after a collection, so the heap is
    collected and read three times with pauses between, and the lowest
    reading kept."""
    import gc

    gc.collect()  # lets py4j release the JVM objects Python no longer holds
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    readings = []
    for _ in range(3):
        jvm.java.lang.System.gc()
        readings.append(bean.getHeapMemoryUsage().getUsed() / 2**20)
        time.sleep(0.3)
    return min(readings)


def call_with_timeout(fn, timeout: float):
    """Run ``fn`` on a worker thread; raise TimeoutError if it has not
    returned after ``timeout`` seconds (its Spark jobs are cancelled)."""
    box: dict = {}

    def target():
        try:
            box["value"] = fn()
        except BaseException as e:  # handed back to the caller below
            box["error"] = e

    t = threading.Thread(target=target, daemon=True)
    t.start()
    t.join(timeout)
    if t.is_alive():
        from pyspark import SparkContext

        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.cancelAllJobs()
        raise TimeoutError(f"operation exceeded {timeout:.0f}s")
    if "error" in box:
        raise box["error"]
    return box.get("value")


class Runner:
    """Set-up, passes and checks of one workload."""

    def __init__(self, args, tracer=None):
        self.args = args
        self.spec = WORKLOADS[args.workload]
        self.tracer = tracer
        self.work = work_dir(args.workload)
        self.records: list[dict] = []
        self.controls: dict[str, list[float]] = {"q47": [], "q49": []}
        self.spark = None
        self.expected = None

    # -- set-up ------------------------------------------------------------

    def setup(self) -> dict:
        t0 = time.perf_counter()
        self.spark = start_spark()
        session_s = time.perf_counter() - t0
        log(f"session started in {session_s:.2f}s")
        reps = []
        for rep in range(SETUP_REPS):
            t = time.perf_counter()
            if self.spec["kind"] == "flatten":
                self._setup_flatten(rep)
            else:
                self._setup_query(rep)
            reps.append(time.perf_counter() - t)
        log("set-up reps " + ", ".join(f"{r:.2f}s" for r in reps))
        if self.tracer is not None and self.spec["kind"] == "flatten":
            # the ambient controls need the query tables
            self.sf_dir = QUERY_SF_DIR
            self.ctrl_fns = load_queries([("tpch_queries", "q47_pricing_summary"),
                                          ("tpch_queries", "q49_forecast_revenue")])
        return {"session_s": session_s, "reps_s": reps,
                "setup_s": session_s + stats.median(reps)}

    def _setup_flatten(self, rep: int) -> None:
        from flatterer_spark.flatten import flatten

        self.inputs = {}
        for i, (op, spec) in enumerate(self.spec["ops"].items()):
            d = os.path.join(self.work, op)
            os.makedirs(d, exist_ok=True)
            src = os.path.join(d, "input.json" if spec["array"] else "input.ndjson")
            counts = datagen.write_flatten_corpus(
                src, spec["objects"], self.args.seed * 10 + i,
                as_array=spec["array"])
            self.inputs[op] = {"src": src, "counts": counts,
                               "bytes": os.path.getsize(src),
                               "out": os.path.join(d, "out")}
        warm = os.path.join(self.work, "warm.ndjson")
        datagen.write_flatten_corpus(warm, 200, self.args.seed + 1 + rep)
        out = os.path.join(self.work, "warm_out")
        shutil.rmtree(out, ignore_errors=True)
        flatten(warm, out, spark=self.spark, ndjson=True)
        self.fns = {"flatten": flatten}

    def _flatten_kwargs(self, op: str) -> dict:
        spec = self.spec["ops"][op]
        kw = dict(spec["sinks"])
        if kw.get("sqlite"):
            kw["sqlite_path"] = os.path.join(self.inputs[op]["out"], "sqlite.db")
        if not spec["array"]:
            kw["ndjson"] = True
        return kw

    def _setup_query(self, rep: int) -> None:
        sf_dir = self.sf_dir = QUERY_SF_DIR
        if rep == 0:
            # the learned-model oracles are built from this directory when
            # ext_queries is imported
            os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = sf_dir
            from flatterer_spark.streaming import gate_queries

            # the gates prefer /dev/shm for staged chunk files; keep them
            # in the run's own scratch directory
            gate_queries._scratch_base = lambda need=0: None
        warm = load_queries([("queries", "q06_groupby_agg")])["q06_groupby_agg"]
        warm(self.spark, sf_dir).write.format("noop").mode("overwrite").save()
        from flatterer_spark.queries import T

        for t in TABLES:
            T(self.spark, sf_dir, t).count()
        if rep == 0:
            self.fns = load_queries(self.spec["ops"])
            self.modules = {name: mod for mod, name in self.spec["ops"]}
            self.ctrl_fns = load_queries([("tpch_queries", "q47_pricing_summary"),
                                          ("tpch_queries", "q49_forecast_revenue")])
            with open(os.path.join(HERE, "expected.json")) as f:
                self.expected = json.load(f)

    # -- operations -------------------------------------------------------

    def op_names(self) -> list[str]:
        if self.spec["kind"] == "flatten":
            return list(self.spec["ops"])
        return [name for _mod, name in self.spec["ops"]]

    def run_op(self, name: str, pass_no: int, traced: bool) -> dict:
        rec = {"op": name, "pass": pass_no, "traced": traced, "ok": False}
        tr = self.tracer
        span = tr.span if traced else (lambda _name: contextlib.nullcontext())
        op_id = f"{pass_no}:{name}"
        if self.spec["kind"] == "flatten":
            inp = self.inputs[name]
            shutil.rmtree(inp["out"], ignore_errors=True)
            kwargs = self._flatten_kwargs(name)

            def body():
                return self.fns["flatten"](inp["src"], inp["out"],
                                           spark=self.spark, **kwargs)
        else:
            fn = self.fns[name]
            module = self.modules[name]
            if name == "dedup_cluster":
                from flatterer_spark.curation import clear_label_cache

                clear_label_cache()

            def body():
                with span(f"{module}.plan"):
                    df = fn(self.spark, self.sf_dir)
                with span(f"{module}.exec"):
                    df.write.format("noop").mode("overwrite").save()
                return df

        pre = self._pre_trace(op_id) if traced else None
        start = time.perf_counter()
        try:
            if traced:
                result = call_with_timeout(lambda: tr.run_as_main(body),
                                           OP_TIMEOUT_S)
            else:
                result = call_with_timeout(body, OP_TIMEOUT_S)
            rec["wall"] = time.perf_counter() - start
            rec["ok"] = True
        except Exception as e:  # one failing operation must not end the run
            rec["wall"] = time.perf_counter() - start
            rec["error"] = f"{type(e).__name__}: {e}"[:500]
            log(f"{name} failed: {rec['error']}")
            traceback.print_exc(file=sys.stderr)
            result = None
        finally:
            if traced:
                tr.enabled = False
        if traced:
            self._post_trace(rec, op_id, start, start + rec["wall"], pre)
        rec["_result"] = result
        return rec

    def _pre_trace(self, op_id: str) -> dict:
        from flatterer_spark.streaming import stream_flatten
        import tracing as tr_mod

        pre = {
            # jobs of the control queries and of untraced operations are
            # not this operation's
            "last_job": tr_mod.last_job_id(self.spark),
            "rdds": tr_mod.persisted_rdd_ids(self.spark),
            "drains": {k: id(v) for k, v in stream_flatten.DRAIN_PROGRESS.items()},
        }
        self.tracer.op_id = op_id
        self.tracer.enabled = True
        return pre

    def _post_trace(self, rec, op_id, start, end, pre) -> None:
        from flatterer_spark.streaming import stream_flatten
        import tracing as tr_mod

        spans = self.tracer.op_spans(op_id)
        rec["layers"] = tr_mod.attribute(spans, start, end)
        rec["tables"] = sum(s.get("tables", 0) for s in spans.values())
        rec["read_calls"] = sum(1 for s in spans.values()
                                if s["name"] == "sources.read")
        rec["spark"] = tr_mod.spark_job_metrics(self.spark, pre["last_job"])
        rec["stage_builds"] = len(tr_mod.persisted_rdd_ids(self.spark)
                                  - pre["rdds"])
        rec["cached_mb"] = tr_mod.cached_mb(self.spark)
        new = [v for k, v in stream_flatten.DRAIN_PROGRESS.items()
               if pre["drains"].get(k) != id(v)]
        rec["drain"] = tr_mod.drain_metrics(new)

    def check(self, rec: dict) -> None:
        """Check one operation's output; a mismatch fails the operation."""
        if not rec["ok"]:
            return
        try:
            if self.spec["kind"] == "flatten":
                inp = self.inputs[rec["op"]]
                problems = check.check_flatten_output(
                    inp["out"], inp["counts"], datagen.FLATTEN_HEADERS,
                    sqlite_path=self._flatten_kwargs(rec["op"]).get("sqlite_path"))
                rec["out_bytes"] = check.dir_bytes(inp["out"])
            else:
                df = rec["_result"]
                want = self.expected["queries"][rec["op"]]
                rows = df.collect()
                n, h = check.row_digest(
                    check.sorted_columns_rows(df.columns, rows))
                problems = []
                if (n, h) != (want["rows"], want["hash"]):
                    problems.append(f"got rows={n} hash={h}, pinned "
                                    f"rows={want['rows']} hash={want['hash']}")
        except Exception as e:  # a check that cannot run fails the op
            problems = [f"check raised {type(e).__name__}: {e}"]
        rec["checked"] = True
        if problems:
            rec["ok"] = False
            rec["error"] = "output check: " + "; ".join(problems)[:500]
            log(f"{rec['op']} {rec['error']}")

    def run_pass(self, pass_no: int, traced: bool, check_now: bool) -> list[dict]:
        recs = []
        for name in self.op_names():
            rec = self.run_op(name, pass_no, traced)
            if check_now:
                self.check(rec)
            recs.append(rec)
        self.records.extend(recs)
        return recs

    def run_control(self) -> None:
        for key, name in (("q47", "q47_pricing_summary"),
                          ("q49", "q49_forecast_revenue")):
            t = time.perf_counter()
            self.ctrl_fns[name](self.spark, self.sf_dir).write.format(
                "noop").mode("overwrite").save()
            self.controls[key].append(time.perf_counter() - t)

    # -- the run ------------------------------------------------------------

    def run(self) -> dict | None:
        """Set up and run the passes; None when too few steady passes fit
        before the deadline for the figures to mean anything."""
        traced = self.tracer is not None
        ticks0 = cpu_ticks()
        setup = self.setup()
        # flatten outputs are overwritten by the next call, so they are
        # checked at once; query results are checked after the first pass
        # and on the last steady pass, outside the measured window
        check_now = self.spec["kind"] == "flatten"
        first = self.run_pass(0, traced, check_now=True)
        log(f"first pass {sum(r['wall'] for r in first):.2f}s")
        steady: list[list[dict]] = []
        t_window = time.perf_counter()
        pass_no = 1
        last: list[dict] = []
        while True:
            elapsed = time.perf_counter() - t_window
            enough = (elapsed >= self.args.seconds
                      and len(steady) >= MIN_STEADY_PASSES[traced])
            if enough or time.perf_counter() - T_PROCESS > RUN_DEADLINE_S:
                break
            if traced:
                self.run_control()
            # traced runs order steady passes traced, untraced, untraced,
            # traced (and repeat), so a drift over the run cancels out of
            # the tracing overhead
            pass_traced = traced and pass_no % 4 in (0, 1)
            last = self.run_pass(pass_no, pass_traced, check_now)
            steady.append(last)
            pass_no += 1
        if len(steady) < MIN_STEADY_PASSES[traced]:
            log(f"only {len(steady)} steady passes finished within "
                f"{RUN_DEADLINE_S:.0f}s of process start, "
                f"{MIN_STEADY_PASSES[traced]} needed: no result")
            return None
        for rec in last:
            if not rec.get("checked"):
                self.check(rec)
        ticks1 = cpu_ticks()
        return {"setup": setup, "first": first, "steady": steady,
                "host_steal_share": ((ticks1[0] - ticks0[0])
                                     / max(1, ticks1[1] - ticks0[1])),
                "jvm_peak_rss_mb": jvm_peak_rss_mb(self.spark),
                "jvm_retained_mb": jvm_retained_mb(self.spark)}


# ---------------------------------------------------------------------------
# metrics

def pass_time(recs: list[dict]) -> float:
    return sum(r["wall"] for r in recs)


def steady_pass_time(passes: list[list[dict]]) -> float:
    """Sum over operations of each operation's median steady wall, so one
    slow operation in one pass does not move the figure."""
    walls: dict[str, list[float]] = {}
    for p in passes:
        for r in p:
            walls.setdefault(r["op"], []).append(r["wall"])
    return sum(stats.median(w) for w in walls.values())


def end_to_end(runner: Runner, res: dict) -> tuple[dict, dict]:
    steady = [p for p in res["steady"] if p]
    if runner.tracer is not None:
        steady = [p for p in steady if not p[0]["traced"]]
    op_walls = [r["wall"] for p in steady for r in p]
    m = {
        "setup_s": (res["setup"]["setup_s"], "s"),
        "first_pass_s": (pass_time(res["first"]), "s"),
        "wall_s": (steady_pass_time(steady), "s"),
        "jvm_retained_mb": (res["jvm_retained_mb"], "MB"),
        "py_peak_rss_mb": (
            resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0, "MB"),
    }
    extra = {"op_p50_s": stats.median(op_walls),
             "op_tail_s": stats.tail(op_walls),
             "host_steal_share": res["host_steal_share"],
             "jvm_peak_rss_mb": res["jvm_peak_rss_mb"]}
    if extra["op_tail_s"] is None:
        extra["op_tail_s"] = (f"omitted: {len(op_walls)} steady operations "
                              "leave no percentile with 10 samples beyond it")
    if runner.spec["kind"] == "flatten":
        for op, spec in runner.spec["ops"].items():
            walls = [r["wall"] for p in steady for r in p if r["op"] == op]
            outs = [r["out_bytes"] for p in steady for r in p
                    if r["op"] == op and "out_bytes" in r]
            extra[op] = {
                "objs_per_s": spec["objects"] / stats.median(walls),
                "out_bytes_per_in_byte": (stats.median(outs)
                                          / runner.inputs[op]["bytes"]
                                          if outs else None),
            }
    return m, extra


LAYER_METRICS = [
    ("session.start_s", "s"),
    ("sources.read_s", "s"), ("sources.read_calls", "count"),
    ("sources.guard_s", "s"),
    ("plans.derive_s", "s"), ("plans.tables", "count"),
    ("flatten_api.build_s", "s"), ("flatten_api.metadata_s", "s"),
    ("flatten_api.ordinal_guard_s", "s"),
    ("sinks.csv_merged_s", "s"), ("sinks.csv_exact_s", "s"),
    ("sinks.parquet_s", "s"), ("sinks.sqlite_s", "s"), ("sinks.xlsx_s", "s"),
    ("sinks.meta_s", "s"), ("sinks.out_mb", "MB"),
    ("queries.plan_s", "s"), ("queries.exec_s", "s"),
    ("tpch_queries.plan_s", "s"), ("tpch_queries.exec_s", "s"),
    ("ext_queries.plan_s", "s"), ("ext_queries.exec_s", "s"),
    ("curation.plan_s", "s"), ("curation.exec_s", "s"),
    ("gate_queries.exec_s", "s"),
    ("ext_queries.cached_mb", "MB"), ("ext_queries.stage_builds", "count"),
    ("ext_queries.first_pass_builds", "count"),
    ("ext_queries.stage_hit_ratio", "ratio"),
    ("operators.self_s", "s"),
    ("streaming.drain_s", "s"), ("streaming.stage_s", "s"),
    ("streaming.batches", "count"), ("streaming.input_rows", "count"),
    ("streaming.add_batch_s", "s"), ("streaming.planning_s", "s"),
    ("streaming.wal_s", "s"), ("streaming.state_commit_s", "s"),
    ("streaming.state_rows_peak", "count"),
    ("streaming.state_mem_peak_mb", "MB"),
    ("streaming.state_partitions", "count"),
    ("spark.jobs", "count"), ("spark.tasks", "count"), ("spark.run_s", "s"),
    ("spark.cpu_s", "s"), ("spark.gc_s", "s"),
    ("spark.shuffle_read_mb", "MB"), ("spark.shuffle_write_mb", "MB"),
    ("spark.spill_mb", "MB"),
    ("driver.unattributed_s", "s"), ("driver.unattributed_share", "ratio"),
    ("control.q47_s", "s"), ("control.q49_s", "s"),
    ("trace.overhead_s", "s"),
]

def span_metric(span_name: str) -> str:
    """Layer metric fed by a span's attributed time: ``<span>_s`` (for a
    query, ``<module>.plan_s`` is its callable and ``<module>.exec_s`` its
    noop write), except that every operator function feeds
    ``operators.self_s``, a stream gate's time outside its drain feeds
    ``streaming.stage_s``, and time under no span feeds
    ``driver.unattributed_s``."""
    if span_name.startswith("operators."):
        return "operators.self_s"
    return {"gate_queries.plan": "streaming.stage_s",
            "unattributed": "driver.unattributed_s"}.get(span_name,
                                                         span_name + "_s")


def per_layer(runner: Runner, res: dict) -> tuple[dict, dict]:
    traced = [p for p in res["steady"] if p and p[0]["traced"]]
    untraced = [p for p in res["steady"] if p and not p[0]["traced"]]
    n = len(traced)
    vals = {k: 0.0 for k, _ in LAYER_METRICS}
    staged_ops = staged_hits = 0
    residuals = []
    for p in traced:
        for r in p:
            if "layers" not in r:
                continue
            for span, secs in r["layers"].items():
                vals[span_metric(span)] += secs / n
            residuals.append(abs(sum(r["layers"].values()) - r["wall"]))
            vals["plans.tables"] += r["tables"] / n
            vals["sources.read_calls"] += r["read_calls"] / n
            for k, v in r["spark"].items():
                vals[f"spark.{k}"] += v / n
            d = r["drain"]
            for k in ("batches", "input_rows", "add_batch_s", "planning_s",
                      "wal_s", "state_commit_s"):
                vals[f"streaming.{k}"] += d[k] / n
            for k in ("state_rows_peak", "state_mem_peak_mb", "state_partitions"):
                vals[f"streaming.{k}"] = max(vals[f"streaming.{k}"], d[k])
            if runner.spec["kind"] == "query" and runner.modules[r["op"]] in (
                    "ext_queries", "curation"):
                staged_ops += 1
                staged_hits += r["stage_builds"] == 0
                vals["ext_queries.stage_builds"] += r["stage_builds"] / n
            vals["ext_queries.cached_mb"] = max(vals["ext_queries.cached_mb"],
                                                r["cached_mb"])
            if "out_bytes" in r:
                vals["sinks.out_mb"] = max(vals["sinks.out_mb"],
                                           r["out_bytes"] / 2**20)
    vals["ext_queries.first_pass_builds"] = sum(
        r.get("stage_builds", 0) for r in res["first"])
    vals["ext_queries.stage_hit_ratio"] = (
        staged_hits / staged_ops if staged_ops else 0.0)
    walls = sum(pass_time(p) for p in traced) / n
    vals["driver.unattributed_share"] = vals["driver.unattributed_s"] / walls
    vals["session.start_s"] = res["setup"]["session_s"]
    vals["control.q47_s"] = stats.median(runner.controls["q47"])
    vals["control.q49_s"] = stats.median(runner.controls["q49"])
    traced_wall = steady_pass_time(traced)
    untraced_wall = steady_pass_time(untraced)
    vals["trace.overhead_s"] = traced_wall - untraced_wall
    units = dict(LAYER_METRICS)
    metrics = {k: (vals[k], units[k]) for k, _ in LAYER_METRICS}
    extra = {
        "traced_wall_s": traced_wall, "untraced_wall_s": untraced_wall,
        "traced_passes": n, "untraced_passes": len(untraced),
        "max_attribution_residual_s": max(residuals, default=0.0),
    }
    return metrics, extra


def provenance(args, sf_dir: str | None) -> dict:
    import pyspark

    try:
        out = subprocess.run(["java", "-version"], capture_output=True,
                             text=True, timeout=30).stderr.splitlines()
        java = next(line for line in out if "version" in line)
    except (OSError, StopIteration, subprocess.TimeoutExpired):
        java = "unknown"
    return {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "SPARK_DRIVER_MEM": os.environ.get("SPARK_DRIVER_MEM",
                                           "unset (engine default)"),
        "spark": pyspark.__version__, "java": java,
        "python": platform.python_version(),
        "sf_dir": os.path.relpath(sf_dir, ROOT) if sf_dir else None,
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    # a terminated run still stops its JVM and removes its scratch
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = work_dir(args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    confine_scratch(work)
    sys.path.insert(0, ROOT)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    try:
        import flatterer_spark  # noqa: F401  the engine must be importable
    except ImportError as e:
        log(f"cannot import the engine: {e}")
        remove_work_dir(work)
        return 2

    tracer = None
    undo = []
    if args.trace:
        import tracing as tr_mod

        tracer = tr_mod.Tracer()
    runner = Runner(args, tracer)
    try:
        if tracer is not None:
            undo = tr_mod.install(tracer)
        res = runner.run()
        if res is None:
            return 1
        m, extra = end_to_end(runner, res)
        if tracer is not None:
            lm, lextra = per_layer(runner, res)
            extra.update(lextra)
            m = lm
        records = runner.records
        attempted = len(records)
        failed = sum(1 for r in records if not r["ok"])
        detail = {
            "provenance": provenance(args, getattr(runner, "sf_dir", None)),
            "client": "closed loop, 1 client, operations back to back",
            "setup": res["setup"],
            "passes": {"first": 1, "steady": len(res["steady"])},
            "steady_pass_s": [pass_time(p) for p in res["steady"]],
            "fail_frac": stats.fail_frac(failed, attempted),
            "failures": [{"op": r["op"], "pass": r["pass"], "error": r["error"]}
                         for r in records if not r["ok"]],
            "excluded": EXCLUDED,
            "ops": {r["op"]: {
                "first_s": r["wall"],
                "steady_p50_s": stats.median(
                    [s["wall"] for p in res["steady"] for s in p
                     if s["op"] == r["op"] and not s["traced"]]),
            } for r in res["first"]},
            **extra,
        }
        if tracer is not None:
            # spans outlive the run directory, next to it
            spans = os.path.join(os.path.dirname(work),
                                 f"spans-{args.workload}-seed{args.seed}.json")
            with open(spans, "w") as f:
                json.dump(tracer.spans, f)
            detail["spans_file"] = os.path.relpath(spans, ROOT)
        print(json.dumps(detail, default=str))
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in m.items()},
        }))
        return 0
    finally:
        if undo:
            tr_mod.uninstall(undo)
        if runner.spark is not None:
            stop_spark(runner.spark)
        remove_work_dir(work)


if __name__ == "__main__":
    sys.exit(main())
