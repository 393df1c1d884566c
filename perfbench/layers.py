"""Layer spans and counters for a traced benchmark run.

Everything here observes the engine from outside: the public functions
of ``io``, ``streaming.core`` and ``api.MapReduceJob`` are wrapped
before the operator modules import (and so bind) them, Spark job groups
tag each phase of an operator run, a ``StreamingQueryListener`` collects
micro-batch progress, and task metrics come from Spark's own event log.
Spans stay in memory until the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import importlib.util
import json
import os
import statistics
import sys
import time

#: Keys of one span record, in the order they are written out.
SPAN_KEYS = ("name", "start", "end", "parent", "op")
#: Span name of each phase of an operator run.
PHASE_SPANS = {
    "build": "operators.build",
    "plan": "catalyst.plan",
    "exec": "exec.run",
}

IO_FUNCS = (
    "load_table",
    "partitioned_table",
    "read_back",
    "stable_scratch",
    "table_row_count",
)
STREAMING_FUNCS = ("read_stream", "replay_dir", "drain")

#: SQL metrics of the Python-worker plan nodes (MapInPandas,
#: FlatMapGroupsInPandas, ArrowEvalPython, ...) by metric name. The row
#: count has the generic name, so metrics are matched on plan nodes.
PYWORKER_METRICS = {
    "data sent to Python workers": "pyworker.bytes_sent",
    "data returned from Python workers": "pyworker.bytes_received",
    "number of output rows": "pyworker.rows_received",
}
_SQL_PLAN_EVENTS = (
    "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
    "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
)


def _python_node_metrics(plan: dict, out: dict[int, str]) -> None:
    name = plan.get("nodeName", "")
    if "Python" in name or "Pandas" in name or "Arrow" in name:
        for m in plan.get("metrics", []):
            key = PYWORKER_METRICS.get(m.get("name"))
            if key:
                out[m["accumulatorId"]] = key
    for child in plan.get("children", []):
        _python_node_metrics(child, out)


class Tracer:
    """Collects spans and counters while ``op`` names a traced run."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._open: list[int] = []
        self.op: str | None = None
        self.load_calls = 0
        self.load_hits = 0
        self.run_op: dict[str, str | None] = {}
        self.finished: set[str] = set()
        self.progress: list[dict] = []
        self.notes: dict[str, dict[str, float]] = {}

    def note(self, key: str, value: float) -> None:
        """Add ``value`` to the current traced run's ``key`` counter."""
        if self.op is not None:
            acc = self.notes.setdefault(self.op, {})
            acc[key] = acc.get(key, 0.0) + value

    @contextlib.contextmanager
    def span(self, name: str):
        if self.op is None:
            yield None
            return
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._open[-1] if self._open else None,
            "op": self.op,
        }
        self._open.append(len(self.spans))
        self.spans.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def _wrap_load_table(self, fn, table_cache: dict):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if self.op is None:
                return fn(*args, **kwargs)
            before = len(table_cache)
            with self.span("io.load_table"):
                out = fn(*args, **kwargs)
            # a miss is exactly the call that adds its table to the cache
            self.load_calls += 1
            self.load_hits += len(table_cache) == before
            return out

        return traced

    def import_engine(self) -> None:
        """Import ``pymapreduce_spark`` with its layer functions wrapped.

        The package ``__init__`` imports every operator module, and those
        bind ``io``/``streaming.core`` functions by name at import time, so
        the wrappers must be in place before the package body runs: the
        package module is created empty, the layer modules are imported
        and wrapped, and only then is the package body executed."""
        spec = importlib.util.find_spec("pymapreduce_spark")
        if spec is None or spec.loader is None:
            raise ModuleNotFoundError("pymapreduce_spark")
        pkg = importlib.util.module_from_spec(spec)
        sys.modules["pymapreduce_spark"] = pkg
        try:
            io = importlib.import_module("pymapreduce_spark.io")
            for name in IO_FUNCS:
                fn = getattr(io, name)
                if name == "load_table":
                    wrapped = self._wrap_load_table(fn, io._TABLE_CACHE)
                else:
                    wrapped = self._wrap(fn, f"io.{name}")
                setattr(io, name, wrapped)
            core = importlib.import_module("pymapreduce_spark.streaming.core")
            for name in STREAMING_FUNCS:
                setattr(core, name, self._wrap(getattr(core, name),
                                               f"streaming.{name}"))
            api = importlib.import_module("pymapreduce_spark.api")
            cls = api.MapReduceJob
            for name, raw in list(vars(cls).items()):
                if name.startswith("_"):
                    continue
                if isinstance(raw, classmethod):
                    setattr(cls, name, classmethod(
                        self._wrap(raw.__func__, f"api.{name}")))
                elif callable(raw):
                    setattr(cls, name, self._wrap(raw, f"api.{name}"))
            spec.loader.exec_module(pkg)
        except BaseException:
            sys.modules.pop("pymapreduce_spark", None)
            raise

    def listener(self):
        """A StreamingQueryListener that files each query's progress
        under the operator run that started it."""
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                # called synchronously from start(): self.op is current
                tracer.run_op[str(event.runId)] = tracer.op

            def onQueryProgress(self, event):
                p = event.progress
                op = tracer.run_op.get(str(p.runId))
                if op is None:
                    return
                ops = list(p.stateOperators or [])
                tracer.progress.append({
                    "op": op,
                    "batch_ms": (p.durationMs or {}).get("triggerExecution", 0),
                    "input_rows": p.numInputRows,
                    "state_rows": sum(o.numRowsTotal for o in ops),
                    "update_ms": sum(o.allUpdatesTimeMs for o in ops),
                    "commit_ms": sum(o.commitTimeMs for o in ops),
                })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                tracer.finished.add(str(event.runId))

        return _Listener()

    def wait_streams(self, timeout: float = 30.0) -> None:
        """Block until every stream started by a traced run has posted
        its termination (progress events are delivered before it)."""
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            pending = [r for r, op in self.run_op.items()
                       if op is not None and r not in self.finished]
            if not pending:
                return
            time.sleep(0.01)

    def write_spans(self, path: str) -> None:
        with open(path, "w") as fh:
            for i, rec in enumerate(self.spans):
                fh.write(json.dumps({"id": i, **{k: rec[k] for k in SPAN_KEYS}})
                         + "\n")


def read_event_log(log_dir: str) -> tuple[dict, dict, dict]:
    """Parse Spark event-log files under ``log_dir``.

    Returns ``(job_group, stage_job, stage_stats)``: the job group of each
    job, the job that first listed each stage, and per-stage task counts,
    task-metric sums and final SQL-metric accumulables."""
    job_group: dict[int, str | None] = {}
    stage_job: dict[int, int] = {}
    stats: dict[int, dict] = {}
    py_acc: dict[int, str] = {}
    stage_accs: list[tuple[int, list]] = []
    files = []
    for base, _dirs, names in os.walk(log_dir):
        files += [os.path.join(base, n) for n in names
                  if not n.startswith(".") and not n.endswith(".crc")]
    for path in sorted(files):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    job_group[jid] = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id")
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerTaskEnd":
                    s = stats.setdefault(ev["Stage ID"], _empty_stage())
                    m = ev.get("Task Metrics") or {}
                    s["tasks"] += 1
                    s["run_ms"] += m.get("Executor Run Time", 0)
                    s["cpu_ns"] += m.get("Executor CPU Time", 0)
                    s["spill"] += (m.get("Memory Bytes Spilled", 0)
                                   + m.get("Disk Bytes Spilled", 0))
                    sr = m.get("Shuffle Read Metrics") or {}
                    s["shuffle_read"] += (sr.get("Remote Bytes Read", 0)
                                          + sr.get("Local Bytes Read", 0))
                    sw = m.get("Shuffle Write Metrics") or {}
                    s["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                    im = m.get("Input Metrics") or {}
                    s["in_bytes"] += im.get("Bytes Read", 0)
                    s["in_records"] += im.get("Records Read", 0)
                    om = m.get("Output Metrics") or {}
                    s["out_bytes"] += om.get("Bytes Written", 0)
                    s["out_records"] += om.get("Records Written", 0)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    stage_accs.append((info["Stage ID"],
                                       info.get("Accumulables", [])))
                elif kind in _SQL_PLAN_EVENTS:
                    _python_node_metrics(ev.get("sparkPlanInfo", {}), py_acc)
    for sid, accs in stage_accs:
        s = stats.setdefault(sid, _empty_stage())
        for acc in accs:
            key = py_acc.get(acc.get("ID"))
            if key:
                s["py"][key] = s["py"].get(key, 0) + int(acc.get("Value") or 0)
    return job_group, stage_job, stats


def _empty_stage() -> dict:
    return {"tasks": 0, "run_ms": 0, "cpu_ns": 0, "spill": 0,
            "shuffle_read": 0, "shuffle_write": 0, "in_bytes": 0,
            "in_records": 0, "out_bytes": 0, "out_records": 0, "py": {}}


def layer_metrics(tracer: Tracer, op_phase: dict, log_dir: str,
                  n_passes: int) -> dict[str, float]:
    """Per-pass layer metrics of the traced passes.

    ``op_phase`` maps each job group the benchmark set to ``(op, phase)``;
    stream micro-batch jobs carry their query's runId as job group and are
    billed to the build phase of the run that started the query. Times
    are per-pass medians over the traced passes; counts, bytes and rows
    are per-pass means (exact when every pass repeats the same work)."""
    job_group, stage_job, stats = read_event_log(log_dir)
    group_phase = dict(op_phase)
    for run_id, op in tracer.run_op.items():
        if op is not None:
            group_phase[run_id] = (op, "build")

    per_phase = {ph: {"jobs": 0, "stages": 0, "tasks": 0} for ph in
                 ("build", "plan", "exec")}
    exec_m = _empty_stage()
    all_m = _empty_stage()
    for jid, group in job_group.items():
        if group in group_phase:
            per_phase[group_phase[group][1]]["jobs"] += 1
    for sid, s in stats.items():
        jid = stage_job.get(sid)
        hit = group_phase.get(job_group.get(jid)) if jid is not None else None
        if hit is None or s["tasks"] == 0:
            continue
        phase = hit[1]
        per_phase[phase]["stages"] += 1
        per_phase[phase]["tasks"] += s["tasks"]
        for acc in ((exec_m, all_m) if phase == "exec" else (all_m,)):
            for k, v in s.items():
                if k == "py":
                    for pk, pv in v.items():
                        acc["py"][pk] = acc["py"].get(pk, 0) + pv
                else:
                    acc[k] += v

    by_op: dict[str, dict[str, float]] = {}
    for i, sp in enumerate(tracer.spans):
        d = sp["end"] - sp["start"]
        acc = by_op.setdefault(sp["op"], {})
        acc[sp["name"]] = acc.get(sp["name"], 0.0) + d
        if sp["name"] == "operators.build":
            child = sum(c["end"] - c["start"] for c in tracer.spans
                        if c["parent"] == i)
            acc["build_self"] = acc.get("build_self", 0.0) + d - child
    for op_id, notes in tracer.notes.items():
        acc = by_op.setdefault(op_id, {})
        for k, v in notes.items():
            acc[k] = acc.get(k, 0.0) + v
    per_pass: dict[str, dict[str, float]] = {}
    for op_id, acc in by_op.items():
        pass_id = op_id.split(":", 1)[0]
        tot = per_pass.setdefault(pass_id, {})
        for k, v in acc.items():
            tot[k] = tot.get(k, 0.0) + v

    def med(key: str) -> float:
        vals = [p.get(key, 0.0) for p in per_pass.values()]
        return statistics.median(vals) if vals else 0.0

    n = max(1, n_passes)

    def total(key: str) -> float:
        return sum(v.get(key, 0.0) for v in tracer.notes.values()) / n

    batch_ms = sorted(p["batch_ms"] for p in tracer.progress)
    streaming_runs = {}
    for p in tracer.progress:
        # state at the last trigger of each run
        streaming_runs[p["op"]] = p["state_rows"]
    cpu_ms = exec_m["cpu_ns"] / 1e6
    return {
        "operators.build_s": med("operators.build"),
        "operators.build_self_s": med("build_self"),
        "operators.build_jobs": per_phase["build"]["jobs"] / n,
        "operators.build_tasks": per_phase["build"]["tasks"] / n,
        "catalyst.plan_s": med("catalyst.plan"),
        "catalyst.analysis_ms": med("catalyst.analysis_ms"),
        "catalyst.optimization_ms": med("catalyst.optimization_ms"),
        "catalyst.planning_ms": med("catalyst.planning_ms"),
        "exec.run_s": med("exec.run"),
        "exec.jobs": per_phase["exec"]["jobs"] / n,
        "exec.stages": per_phase["exec"]["stages"] / n,
        "exec.tasks": per_phase["exec"]["tasks"] / n,
        "exec.executor_run_ms": exec_m["run_ms"] / n,
        "exec.executor_cpu_ms": cpu_ms / n,
        "exec.cpu_ratio": cpu_ms / exec_m["run_ms"] if exec_m["run_ms"] else 0.0,
        "exec.shuffle_read_bytes": exec_m["shuffle_read"] / n,
        "exec.shuffle_write_bytes": exec_m["shuffle_write"] / n,
        "exec.spill_bytes": exec_m["spill"] / n,
        "io.load_table_calls": tracer.load_calls / n,
        "io.table_cache_hit_ratio": (tracer.load_hits / tracer.load_calls
                                     if tracer.load_calls else 0.0),
        "io.load_table_s": med("io.load_table"),
        "io.input_bytes": all_m["in_bytes"] / n,
        "io.input_records": all_m["in_records"] / n,
        "io.output_bytes": all_m["out_bytes"] / n,
        "io.output_records": all_m["out_records"] / n,
        "fetch.rows": total("fetch.rows"),
        "fetch.arrow_bytes": total("fetch.arrow_bytes"),
        "pyworker.bytes_sent": all_m["py"].get("pyworker.bytes_sent", 0) / n,
        "pyworker.bytes_received":
            all_m["py"].get("pyworker.bytes_received", 0) / n,
        "pyworker.rows_received":
            all_m["py"].get("pyworker.rows_received", 0) / n,
        "api.calls": sum(1 for s in tracer.spans
                         if s["name"].startswith("api.")) / n,
        "streaming.drain_s": med("streaming.drain"),
        "streaming.triggers": len(tracer.progress) / n,
        "streaming.input_rows": sum(p["input_rows"]
                                    for p in tracer.progress) / n,
        "streaming.batch_ms.p50": _pct(batch_ms, 0.5),
        "streaming.batch_ms.p90": _pct(batch_ms, 0.9),
        "streaming.state_rows": sum(streaming_runs.values()) / n,
        "streaming.state_update_ms": sum(p["update_ms"]
                                         for p in tracer.progress) / n,
        "streaming.state_commit_ms": sum(p["commit_ms"]
                                         for p in tracer.progress) / n,
    }


def _pct(sorted_vals: list, q: float) -> float:
    if not sorted_vals:
        return 0.0
    return float(sorted_vals[min(len(sorted_vals) - 1,
                                 int(q * len(sorted_vals)))])
