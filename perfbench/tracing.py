"""Traced mode: spans around the calls into each layer, plus Spark counters.

Installed only by ``run.py --trace 1``; an untraced run never imports it.
``Tracer.install`` replaces, from outside the program:

* the functions ``plans/pipeline.py`` imported into its own namespace
  (``read_json``, ``flatten``, ``write_partitioned``, ...) and
  ``pipeline.run_batch`` itself;
* every public function of every ``operators/*`` module, wherever a
  module of the program (or ``__spark_entry__``) holds a reference to it;
* ``streaming.ingest.run_to_memory``;
* ``DataFrame.persist``/``cache``/``checkpoint``/``localCheckpoint``
  (call counters) and ``SparkSession.sql`` (counted inside catalog
  spans).

Each span records name, layer, start, end, parent and the run id. Spans
of the ETL stages, gates and streaming drains also tag their Spark jobs
with ``setJobGroup``. Jobs, stages and task metrics come from the
uncompressed event log of the session (``spark.eventLog.*`` set through
``get_spark(extra_conf=...)``); a job belongs to the innermost span open
when it was submitted, which one client running one call at a time
makes exact. A span's self time is its duration minus the time its
child spans cover.
"""

from __future__ import annotations

import bisect
import contextlib
import functools
import glob
import importlib
import inspect
import json
import os
import statistics
import sys
import time
import uuid
from collections import defaultdict

PKG = (
    "aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_"
    "lambda_with_cloud_watch_logs_spark"
)
# pipeline-namespace name -> layer
PIPELINE_LAYERS = {
    "read_json": "readers.read_json",
    "read_parquet_merged": "readers.read_parquet_merged",
    "flatten": "flatten.flatten",
    "with_ingest_columns": "derive.with_ingest_columns",
    "write_partitioned": "writers.write_partitioned",
    "sync_catalog": "catalog.sync",
    "sync_catalog_incremental": "catalog.sync",
    "archive_files": "archive.archive_files",
}
# Spans whose jobs get their own job group (the coarse layers).
GROUPED = {
    "pipeline.run_batch", "gates.plan", "gates.exec",
    "streaming.run_to_memory", *PIPELINE_LAYERS.values(),
}
# The operators modules the query_mix gates call into; each gets
# operators.<module>.self_s and operators.<module>.jobs.
OPERATOR_MODULES = (
    "bpe", "dedup", "governance", "mixing", "packing", "similarity", "text",
)
TASK_FIELDS = ("tasks", "shuffle_read_bytes", "shuffle_write_bytes",
               "spill_bytes", "gc_ms", "executor_cpu_s", "output_bytes")


class Span:
    __slots__ = ("id", "name", "layer", "parent", "start", "end",
                 "wall_start", "wall_end", "attrs", "children")

    def __init__(self, sid, name, layer, parent):
        self.id, self.name, self.layer, self.parent = sid, name, layer, parent
        self.start = self.end = self.wall_start = self.wall_end = 0.0
        self.attrs: dict = {}
        self.children: list[Span] = []

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur - sum(c.dur for c in self.children)


class Traced:
    """A traced stand-in for a module-level function.

    Pickles as a reference to the original function, so Spark can ship
    closures that call it to Python workers, which run untraced."""

    def __init__(self, tracer, fn, name, layer, on_result=None):
        functools.update_wrapper(self, fn)
        self._tracer, self._fn = tracer, fn
        self._name, self._layer, self._on_result = name, layer, on_result

    def __call__(self, *args, **kwargs):
        span = self._tracer.enter(self._name, self._layer)
        try:
            out = self._fn(*args, **kwargs)
            if self._on_result is not None:
                self._on_result(span, out)
            return out
        finally:
            self._tracer.exit(span)

    def __reduce__(self):
        return getattr, (sys.modules[self._fn.__module__], self._fn.__name__)


class Tracer:
    def __init__(self, get_spark_s: float):
        self.get_spark_s = get_spark_s
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.overhead_s = 0.0
        self.sc = None
        self.patched: list[tuple] = []
        self.counts = defaultdict(int)   # (pass index, counter) -> n
        self.pass_index = 0
        self.ticks: list[dict] = []
        self.baseline = (0, 0.0)
        self.end_state = (0, 0.0)
        self.jobs: list[dict] = []

    # -- spans -----------------------------------------------------------
    def enter(self, name: str, layer: str) -> Span:
        t0 = time.perf_counter()
        parent = self.stack[-1] if self.stack else None
        span = Span(len(self.spans), name, layer, parent.id if parent else None)
        self.spans.append(span)
        if parent is not None:
            parent.children.append(span)
        self.stack.append(span)
        if layer in GROUPED:
            self.sc.setJobGroup(f"perfbench-{self.run_id}-{span.id}", name)
        span.wall_start = time.time()
        span.start = time.perf_counter()
        self.overhead_s += span.start - t0
        return span

    def exit(self, span: Span) -> None:
        span.end = time.perf_counter()
        span.wall_end = time.time()
        self.stack.pop()
        if span.layer in GROUPED:
            outer = next((s for s in reversed(self.stack) if s.layer in GROUPED), None)
            if outer is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            else:
                self.sc.setJobGroup(f"perfbench-{self.run_id}-{outer.id}", outer.name)
        self.overhead_s += time.perf_counter() - span.end

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        span = self.enter(name, layer)
        try:
            yield span
        finally:
            self.exit(span)

    def count(self, key: str) -> None:
        self.counts[(self.pass_index, key)] += 1

    # -- installation ----------------------------------------------------
    def _patch(self, owner, attr, new):
        self.patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def install(self, spark) -> None:
        self.sc = spark.sparkContext
        self.baseline = self.storage_state()
        pipeline = importlib.import_module(f"{PKG}.plans.pipeline")
        for name, layer in PIPELINE_LAYERS.items():
            on_result = None
            if name == "flatten":
                on_result = self._note_columns
            elif name == "archive_files":
                on_result = self._note_moved
            self._patch(pipeline, name, Traced(
                self, getattr(pipeline, name), layer, layer, on_result))
        self._patch(pipeline, "run_batch", Traced(
            self, pipeline.run_batch, "pipeline.run_batch", "pipeline.run_batch"))

        holders = [m for n, m in list(sys.modules.items())
                   if m is not None and (n.startswith(PKG) or n == "__spark_entry__")]
        replace = {}
        for mod_name in OPERATOR_MODULES:
            mod = importlib.import_module(f"{PKG}.operators.{mod_name}")
            for attr, fn in vars(mod).items():
                if (inspect.isfunction(fn) and not attr.startswith("_")
                        and fn.__module__ == mod.__name__
                        and not hasattr(fn, "evalType")):
                    replace[fn] = Traced(self, fn, f"operators.{mod_name}.{attr}",
                                         f"operators.{mod_name}")
        ingest = importlib.import_module(f"{PKG}.streaming.ingest")
        replace[ingest.run_to_memory] = Traced(
            self, ingest.run_to_memory, "streaming.run_to_memory",
            "streaming.run_to_memory")
        for mod in holders:
            for attr, value in list(vars(mod).items()):
                if inspect.isfunction(value) and value in replace:
                    self._patch(mod, attr, replace[value])

        tracer = self

        def counted(method, key):
            @functools.wraps(method)
            def wrapper(*args, **kwargs):
                tracer.count(key)
                return method(*args, **kwargs)
            return wrapper

        df_cls = type(spark.range(1))
        for meth, key in (("persist", "persist_calls"), ("cache", "persist_calls"),
                          ("checkpoint", "checkpoint_calls"),
                          ("localCheckpoint", "checkpoint_calls")):
            self._patch(df_cls, meth, counted(getattr(df_cls, meth), key))
        sql = type(spark).sql

        @functools.wraps(sql)
        def sql_counted(session, *args, **kwargs):
            if any(s.layer == "catalog.sync" for s in tracer.stack):
                tracer.stack[-1].attrs["sql"] = tracer.stack[-1].attrs.get("sql", 0) + 1
            return sql(session, *args, **kwargs)
        self._patch(type(spark), "sql", sql_counted)

    def uninstall(self) -> None:
        for owner, attr, old in reversed(self.patched):
            setattr(owner, attr, old)
        self.patched.clear()

    def _note_columns(self, span, df) -> None:
        span.attrs["columns_out"] = len(df.columns)

    def _note_moved(self, span, moved) -> None:
        span.attrs["files_moved"] = len(moved)

    # -- hooks called by the workloads, outside their timed regions -------
    def end_pass(self) -> None:
        self.pass_index += 1

    def begin_tick(self, config) -> None:
        self._tick_before = _sink_state(config.sink_path)

    def end_tick(self, config) -> None:
        files0, parts0 = self._tick_before
        files1, parts1 = _sink_state(config.sink_path)
        run_batch = next(s for s in reversed(self.spans) if s.layer == "pipeline.run_batch")
        self.ticks.append({
            "span": run_batch.id, "pass": self.pass_index,
            "files_written": files1 - files0,
            "partitions_added": parts1 - parts0,
        })

    # -- end of run --------------------------------------------------------
    def storage_state(self) -> tuple[int, float]:
        """(persisted RDDs, MB held in storage) of the live session."""
        jsc = self.sc._jsc.sc()
        infos = jsc.getRDDStorageInfo()
        held = sum(i.memSize() + i.diskSize() for i in infos)
        return jsc.getPersistentRDDs().size(), held / 2**20

    def finish(self, run) -> None:
        """Snapshot the session, stop it to flush the event log, parse it."""
        self.end_state = self.storage_state()
        self.uninstall()
        run.spark.stop()
        logs = sorted(glob.glob(os.path.join(run.dir, "events", "*")),
                      key=os.path.getmtime)
        self._parse_event_log(logs[-1])

    def _parse_event_log(self, path: str) -> None:
        files = sorted(glob.glob(os.path.join(path, "events_*"))) if os.path.isdir(path) else [path]
        jobs, stage_job = {}, {}
        for f in files:
            with open(f) as fh:
                for line in fh:
                    ev = json.loads(line)
                    kind = ev["Event"]
                    if kind == "SparkListenerJobStart":
                        job = {"id": ev["Job ID"], "t": ev["Submission Time"] / 1000.0,
                               "group": ev.get("Properties", {}).get("spark.jobGroup.id"),
                               "stages": 0}
                        job.update({k: 0 for k in TASK_FIELDS})
                        jobs[job["id"]] = job
                        for sid in ev["Stage IDs"]:
                            stage_job.setdefault(sid, job["id"])
                    elif kind == "SparkListenerStageCompleted":
                        job = jobs.get(stage_job.get(ev["Stage Info"]["Stage ID"]))
                        if job is not None:
                            job["stages"] += 1
                    elif kind == "SparkListenerTaskEnd":
                        job = jobs.get(stage_job.get(ev["Stage ID"]))
                        m = ev.get("Task Metrics")
                        if job is None or m is None:
                            continue
                        sr, sw = m["Shuffle Read Metrics"], m["Shuffle Write Metrics"]
                        job["tasks"] += 1
                        job["shuffle_read_bytes"] += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
                        job["shuffle_write_bytes"] += sw["Shuffle Bytes Written"]
                        job["spill_bytes"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
                        job["gc_ms"] += m["JVM GC Time"]
                        job["executor_cpu_s"] += m["Executor CPU Time"] / 1e9
                        job["output_bytes"] += m["Output Metrics"]["Bytes Written"]
        self.jobs = sorted(jobs.values(), key=lambda j: j["id"])
        # Attribute each job to the innermost span open at its submission.
        order = sorted(self.spans, key=lambda s: s.wall_start)
        starts = [s.wall_start for s in order]
        for s in self.spans:
            s.attrs.update({"self_jobs": 0, "self_stages": 0,
                            **{f"self_{k}": 0 for k in TASK_FIELDS}})
        for job in self.jobs:
            t = job["t"] + 0.0005  # the log keeps milliseconds
            i = bisect.bisect_right(starts, t) - 1
            span = order[i] if i >= 0 else None
            while span is not None and span.wall_end < t - 0.001:
                span = self.spans[span.parent] if span.parent is not None else None
            job["span"] = span.id if span is not None else None
            if span is None:
                continue
            span.attrs["self_jobs"] += 1
            span.attrs["self_stages"] += job["stages"]
            for k in TASK_FIELDS:
                span.attrs[f"self_{k}"] += job[k]

    # -- report --------------------------------------------------------------
    def inclusive(self, span: Span, key: str) -> float:
        return span.attrs.get(f"self_{key}", 0) + sum(
            self.inclusive(c, key) for c in span.children)

    def _subtree(self, span: Span):
        yield span
        for c in span.children:
            yield from self._subtree(c)

    def report(self, result) -> dict[str, tuple[float, str]]:
        """Every per-layer metric by name: (value, unit). A layer the
        workload never calls reads 0."""
        out: dict[str, tuple[float, str]] = {}
        etl = self._etl_layers(result)
        gates = self._gate_layers()
        out["session.get_spark_s"] = (self.get_spark_s, "s")
        out.update(etl)
        out.update(gates)
        persist = [self.counts.get((p, "persist_calls"), 0) for p in range(self.pass_index)]
        ckpt = [self.counts.get((p, "checkpoint_calls"), 0) for p in range(self.pass_index)]
        out["spark.persist_calls"] = (_median(persist), "count")
        out["spark.checkpoint_calls"] = (_median(ckpt), "count")
        out["session.persisted_rdds_end"] = (
            self.end_state[0] - self.baseline[0], "count")
        out["session.storage_mb_end"] = (self.end_state[1] - self.baseline[1], "MB")
        out["trace.pass_s"] = (_median(result.pass_s), "s")
        out["trace.overhead_s"] = (self.overhead_s / max(1, self.pass_index), "s")
        return out

    def _etl_layers(self, result) -> dict[str, tuple[float, str]]:
        ticks = []
        for tick in self.ticks:
            root = self.spans[tick["span"]]
            row = {"tick_s": root.dur, "self_s": root.self_s, **tick}
            by_layer = defaultdict(list)
            for s in self._subtree(root):
                by_layer[s.layer].append(s)
            for layer, spans in by_layer.items():
                row[f"{layer}.s"] = sum(s.dur for s in spans)
                row[f"{layer}.jobs"] = sum(self.inclusive(s, "jobs") for s in spans)
                row[f"{layer}.tasks"] = sum(self.inclusive(s, "tasks") for s in spans)
                row[f"{layer}.shuffle_write_bytes"] = sum(
                    self.inclusive(s, "shuffle_write_bytes") for s in spans)
                row[f"{layer}.output_bytes"] = sum(
                    self.inclusive(s, "output_bytes") for s in spans)
                row[f"{layer}.sql"] = sum(s.attrs.get("sql", 0) for s in spans)
                for attr in ("columns_out", "files_moved"):
                    if any(attr in s.attrs for s in spans):
                        row[attr] = sum(s.attrs.get(attr, 0) for s in spans)
            for key in ("jobs", "stages", "tasks", "gc_ms"):
                row[f"tick.{key}"] = self.inclusive(root, key)
            ticks.append(row)

        def med(key):
            return _median([t.get(key, 0) for t in ticks])

        growth = []
        for p in sorted({t["pass"] for t in ticks}):
            syncs = [t["catalog.sync.s"] for t in ticks
                     if t["pass"] == p and "catalog.sync.s" in t][1:]
            if len(syncs) >= 2:
                q = max(1, len(syncs) // 4)
                growth.append(statistics.median(syncs[-q:]) / statistics.median(syncs[:q]))
        per_pass = getattr(result, "episodes", [])
        return {
            "pipeline.run_batch.self_s": (med("self_s"), "s"),
            "readers.read_json.s": (med("readers.read_json.s"), "s"),
            "readers.read_json.jobs": (med("readers.read_json.jobs"), "count"),
            "readers.read_parquet_merged.s": (med("readers.read_parquet_merged.s"), "s"),
            "flatten.flatten.s": (med("flatten.flatten.s"), "s"),
            "flatten.columns_out": (med("columns_out"), "count"),
            "derive.with_ingest_columns.s": (med("derive.with_ingest_columns.s"), "s"),
            "writers.write_partitioned.s": (med("writers.write_partitioned.s"), "s"),
            "writers.write_partitioned.jobs": (med("writers.write_partitioned.jobs"), "count"),
            "writers.write_partitioned.tasks": (med("writers.write_partitioned.tasks"), "count"),
            "writers.shuffle_write_bytes": (
                med("writers.write_partitioned.shuffle_write_bytes"), "bytes"),
            "writers.output_bytes": (med("writers.write_partitioned.output_bytes"), "bytes"),
            "writers.files_written": (med("files_written"), "count"),
            "writers.sink_bytes_per_input_byte": (_median([
                ep.sink_bytes / ep.input_bytes for ep in per_pass if ep.input_bytes
            ]), "ratio"),
            "catalog.sync.s": (med("catalog.sync.s"), "s"),
            "catalog.sync.jobs": (med("catalog.sync.jobs"), "count"),
            "catalog.sql_statements": (med("catalog.sync.sql"), "count"),
            "catalog.partitions_added": (med("partitions_added"), "count"),
            "catalog.sync.growth": (_median(growth), "ratio"),
            "archive.archive_files.s": (med("archive.archive_files.s"), "s"),
            "archive.files_moved": (med("files_moved"), "count"),
            "spark.tick.jobs": (med("tick.jobs"), "count"),
            "spark.tick.stages": (med("tick.stages"), "count"),
            "spark.tick.tasks": (med("tick.tasks"), "count"),
            "spark.tick.gc_ms": (med("tick.gc_ms"), "ms"),
            "etl.ingest_records_per_s": (_median([
                ep.input_records / sum(ep.tick_s) for ep in per_pass if ep.tick_s
            ]), "1/s"),
        }

    def _gate_layers(self) -> dict[str, tuple[float, str]]:
        n = max(1, self.pass_index)
        plan = [s for s in self.spans if s.layer == "gates.plan"]
        execs = [s for s in self.spans if s.layer == "gates.exec"]
        gates = plan + execs

        def total(spans, key):
            return sum(self.inclusive(s, key) for s in spans) / n

        out = {
            "gates.plan_s": (sum(s.dur for s in plan) / n, "s"),
            "gates.eager_jobs": (total(plan, "jobs"), "count"),
            "gates.exec_s": (sum(s.dur for s in execs) / n, "s"),
            "gates.jobs": (total(gates, "jobs"), "count"),
            "gates.stages": (total(gates, "stages"), "count"),
            "gates.tasks": (total(gates, "tasks"), "count"),
            "gates.shuffle_read_bytes": (total(gates, "shuffle_read_bytes"), "bytes"),
            "gates.shuffle_write_bytes": (total(gates, "shuffle_write_bytes"), "bytes"),
            "gates.spill_bytes": (total(gates, "spill_bytes"), "bytes"),
            "gates.gc_ms": (total(gates, "gc_ms"), "ms"),
            "gates.executor_cpu_s": (total(gates, "executor_cpu_s"), "s"),
        }
        for mod in OPERATOR_MODULES:
            spans = [s for s in self.spans if s.layer == f"operators.{mod}"]
            out[f"operators.{mod}.self_s"] = (sum(s.self_s for s in spans) / n, "s")
            out[f"operators.{mod}.jobs"] = (
                sum(s.attrs.get("self_jobs", 0) for s in spans) / n, "count")
        drains = [s for s in self.spans if s.layer == "streaming.run_to_memory"]
        out["streaming.run_to_memory.s"] = (sum(s.dur for s in drains) / n, "s")
        out["streaming.run_to_memory.jobs"] = (total(drains, "jobs"), "count")
        return out

    def write(self, path: str, meta: dict, layers: dict) -> None:
        os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
        doc = {
            "run_id": self.run_id,
            "meta": meta,
            "layers": {k: {"value": v, "unit": u} for k, (v, u) in layers.items()},
            "spans": [{
                "id": s.id, "name": s.name, "layer": s.layer, "parent": s.parent,
                "start": s.wall_start, "end": s.wall_end, "run_id": self.run_id,
                **{k: v for k, v in s.attrs.items() if v},
            } for s in self.spans],
            "jobs": self.jobs,
        }
        with open(path, "w") as fh:
            json.dump(doc, fh)

    @staticmethod
    def table(layers: dict) -> str:
        width = max(len(k) for k in layers)
        lines = [f"{'layer metric':<{width}}  {'value':>14}  unit"]
        for k, (v, u) in layers.items():
            lines.append(f"{k:<{width}}  {v:>14.4f}  {u}")
        return "\n".join(lines)


def _median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def _sink_state(sink: str) -> tuple[int, int]:
    """(parquet files, ledger partitions) of a sink."""
    files = sum(
        n.endswith(".parquet") for _, _, names in os.walk(sink) for n in names
    )
    parts = 0
    ledger = os.path.join(sink, "_catalog_state.json")
    if os.path.exists(ledger):
        with open(ledger) as fh:
            parts = len(json.load(fh).get("partitions", []))
    return files, parts
