#!/usr/bin/env python3
"""Closed-loop benchmark of the engine's registry operators.

    python3 perfbench/run.py --workload mr_jobs --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. One run generates the
workload's inputs from ``--seed`` (``datagen.py``), starts one Spark app
on ``local[4]`` and sets it up; then a single client runs the workload's
registry operators back to back for ``--seconds``, in pass order
permuted by the seed. Each operator run builds a fresh plan
(``QUERIES[op](spark, sf_dir)``) and fetches the whole result with
``toArrow()`` (``collect()`` when Arrow cannot carry it). Every fetched
result is compared with the operator's DuckDB oracle once the timed
window is over.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics of ``BENCHMARK.json``
with ``--trace 0``, its per-layer metrics with ``--trace 1``. The line
before it carries the run's details (per-op medians, host steal, versions).

``--trace 1`` enables Spark's event log, wraps the engine's layer
functions (``layers.py``) and interleaves untraced and traced passes, so
the tracing overhead is measured within the run.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import sys
import time
from contextlib import nullcontext
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import datagen  # noqa: E402
import layers  # noqa: E402

#: One Spark app on local[CPUS]: the reference host has 4 cores.
CPUS = 4
MASTER = f"local[{CPUS}]"
#: Input scale factor (fixture ratios; sf=1 ≈ 6 M lineitem rows).
DEFAULT_SF = 0.1
#: Warm-up passes before the measured window: the first runs cold (it
#: builds the derived caches), and the JIT keeps speeding passes up for
#: over a minute, longer than a run can wait, so a fixed count makes
#: every run measure the same point of that curve. One warm pass after
#: the cold one leaves the time for a longer window, whose medians
#: absorb the rest of the slope.
WARMUP_PASSES = 2

#: Workload name → the registry ops one pass runs. BENCHMARK.json lists
#: the workloads the benchmark is judged on, with why each was chosen.
WORKLOADS: dict[str, tuple[str, ...]] = {
    # User Python mappers/reducers (api.MapReduceJob), the declarative
    # twin of the same wordcount, and a write-and-read-back job.
    "mr_jobs": (
        "api_wordcount",
        "mr_wordcount",
        "sink_parquet",
    ),
    # streaming.core: file replay, triggers, a watermark and the
    # dedup state it evicts.
    "streaming": (
        "stream_dedup",
    ),
}


def _proc_start_epoch() -> float:
    """Wall-clock time this process started (from /proc)."""
    try:
        with open("/proc/self/stat") as fh:
            ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/stat") as fh:
            btime = next(int(line.split()[1]) for line in fh
                         if line.startswith("btime"))
        return btime + ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, StopIteration, IndexError):
        return time.time()


def _cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs from /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:9]]
    return vals[7], sum(vals)


def _children(pid: int) -> list[int]:
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        if ppid == pid:
            out.append(int(entry))
    return out


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        kids = _children(todo.pop())
        out += kids
        todo += kids
    return out


def _vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class Run:
    """One benchmark run: its Spark session, inputs and samples."""

    def __init__(self, workload: str, seed: int, sf: float, trace: bool):
        self.workload = workload
        self.ops = WORKLOADS[workload]
        self.seed = seed
        self.sf = sf
        self.tracer = layers.Tracer() if trace else None
        self.work = HERE / ".work" / f"{workload}-s{seed}-{os.getpid()}"
        self.tag = f"pb-{workload}-s{seed}-{os.getpid()}"
        self.spark = None
        self.sf_dir = ""
        self.expected: dict[str, tuple | None] = {}
        #: op -> a fetched result already found equal to its oracle
        self.verified: dict[str, object] = {}
        self.op_phase: dict[str, tuple[str, str]] = {}
        self.pass_no = 0
        self.jvm_stopped = False

    # -- environment and session --------------------------------------

    def prepare_env(self) -> None:
        """Keep every file Spark, Python and the JVM write inside the
        checkout, and pin the engine to local[CPUS]."""
        tmp = self.work / "tmp"
        tmp.mkdir(parents=True, exist_ok=True)
        (self.work / "spark-local").mkdir(exist_ok=True)
        os.environ["TMPDIR"] = str(tmp)
        os.environ["SPARK_LOCAL_DIRS"] = str(self.work / "spark-local")
        os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
        import tempfile

        tempfile.tempdir = str(tmp)
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
        }
        if self.tracer is not None:
            log_dir = self.work / "eventlog"
            log_dir.mkdir(exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": log_dir.as_uri(),
                "spark.eventLog.compress": "false",
            })
        # -XX:-UsePerfData: HotSpot would otherwise keep a perf-data file
        # under /tmp for every JVM, whatever java.io.tmpdir says.
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        args = [f"--conf {k}={v}" for k, v in conf.items()]
        args.append(f"--driver-java-options "
                    f"'-Djava.io.tmpdir={tmp} -XX:-UsePerfData'")
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args) + " pyspark-shell"

    def import_engine(self) -> None:
        sys.path.insert(0, str(ROOT))
        if self.tracer is not None:
            self.tracer.import_engine()
        else:
            import pymapreduce_spark  # noqa: F401

    def start_session(self) -> float:
        from pymapreduce_spark.session import get_spark

        t = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", master=MASTER)
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.tracer is not None:
            self.spark.streams.addListener(self.tracer.listener())
        return time.perf_counter() - t

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    # -- inputs ---------------------------------------------------------

    def artifacts_dir(self) -> Path:
        """Where the engine keeps derived caches of this run's inputs
        (keyed by the input directory's name, which is unique per run,
        so every run starts with none)."""
        return ROOT / ".artifacts" / self.tag

    def new_inputs(self) -> float:
        """Write the seed's input tables; returns the seconds it took."""
        t = time.perf_counter()
        self.sf_dir = str(self.work / "data" / self.tag)
        datagen.generate(self.sf_dir, self.seed, self.sf)
        return time.perf_counter() - t

    def drop_caches(self) -> None:
        shutil.rmtree(self.artifacts_dir(), ignore_errors=True)

    def load_oracles(self) -> None:
        from pymapreduce_spark import registry, testing

        con = testing.make_duckdb(self.sf_dir)
        try:
            for op in self.ops:
                try:
                    tbl = con.execute(registry.ORACLES[op]).fetch_arrow_table()
                except Exception as exc:  # noqa: BLE001 - counted as failures
                    print(f"oracle {op} failed: {exc!r}", file=sys.stderr)
                    self.expected[op] = None
                    continue
                if tbl.num_rows == 0:
                    # as testing.compare_frames(min_rows=1): an empty
                    # oracle result cannot tell a right answer from a
                    # wrong one, so every run of the op counts as failed
                    print(f"oracle {op} returned no rows", file=sys.stderr)
                    self.expected[op] = None
                    continue
                self.expected[op] = _canon(tbl)
        finally:
            con.close()

    # -- operator runs --------------------------------------------------

    def run_op(self, op: str, traced: bool):
        """Build, plan and fetch one op; returns (latency_s, result)."""
        from pymapreduce_spark import registry

        tr = self.tracer if traced else None
        sc = self.spark.sparkContext
        op_id = f"{self.pass_no}:{op}"

        def phase(name: str):
            if tr is None:
                return nullcontext()
            group = f"pb|{op_id}|{name}"
            self.op_phase[group] = (op_id, name)
            sc.setJobGroup(group, group)
            return tr.span(layers.PHASE_SPANS[name])

        if tr is not None:
            tr.op = op_id
        t0 = time.perf_counter()
        try:
            with tr.span("op") if tr else nullcontext():
                with phase("build"):
                    df = registry.QUERIES[op](self.spark, self.sf_dir)
                if tr is not None:
                    with phase("plan"):
                        qe = df._jdf.queryExecution()
                        qe.executedPlan()
                with phase("exec"):
                    result = fetch(df)
            latency = time.perf_counter() - t0
        except Exception as exc:  # noqa: BLE001 - a failed op is counted
            latency = time.perf_counter() - t0
            result = exc
        finally:
            if tr is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)
        if tr is not None:
            if not isinstance(result, Exception):
                for name, ms in _catalyst_phases(qe).items():
                    tr.note(f"catalyst.{name}_ms", ms)
                tr.note("fetch.rows", _rows_of(result))
                tr.note("fetch.arrow_bytes", _bytes_of(result))
            tr.wait_streams()
            tr.op = None
        return latency, result

    def check(self, op: str, result) -> bool:
        if isinstance(result, Exception):
            print(f"{op} raised {result!r}", file=sys.stderr)
            return False
        if _same_result(result, self.verified.get(op)):
            return True
        expected = self.expected.get(op)
        ok = expected is not None and _canon(result) == expected
        if ok:
            self.verified[op] = result
        else:
            print(f"{op}: result differs from its oracle", file=sys.stderr)
        return ok

    def check_passes(self, passes: list[dict]) -> None:
        """Check the results the passes kept, once the timed window is
        over, and count the failed op runs of each pass."""
        for p in passes:
            p["failed"] += sum(not self.check(op, result)
                               for op, result in p.pop("results"))

    def one_pass(self, traced: bool = False, checked: bool = True,
                 deadline: float | None = None) -> dict:
        """Run every op once in a seed-permuted order; with ``deadline``,
        start no op after it (the pass is then incomplete). With
        ``checked``, the pass keeps its results for ``check_passes``."""
        order = list(self.ops)
        random.Random(self.seed * 7919 + self.pass_no).shuffle(order)
        steal0, total0 = _cpu_times()
        lat: dict[str, float] = {}
        results = []
        for op in order:
            if deadline is not None and time.perf_counter() >= deadline:
                break
            lat[op], result = self.run_op(op, traced)
            if checked:
                results.append((op, result))
        steal1, total1 = _cpu_times()
        self.pass_no += 1
        return {
            "traced": traced,
            "complete": len(lat) == len(order),
            "latency": lat,
            "pass_s": sum(lat.values()),
            "results": results,
            "failed": 0,
            "steal_frac": (steal1 - steal0) / max(1, total1 - total0),
        }


def fetch(df):
    """Force execution and transfer the full result to this process."""
    try:
        return df.toArrow()
    except Exception:  # noqa: BLE001 - Arrow-incompatible result type
        return (df.columns, df.collect())


def _same_result(result, verified) -> bool:
    """Whether ``result`` is identical, row order included, to a result
    that already matched the oracle (so it matches too)."""
    if verified is None or type(result) is not type(verified):
        return False
    if isinstance(result, tuple):
        return result == verified
    return result.equals(verified)


def _rows(result) -> tuple[list[str], list[tuple]]:
    if isinstance(result, tuple):
        cols, rows = result
        return list(cols), [tuple(r) for r in rows]
    cols = result.column_names
    return cols, [tuple(d[c] for c in cols) for d in result.to_pylist()]


def _rows_of(result) -> int:
    return len(result[1]) if isinstance(result, tuple) else result.num_rows


def _bytes_of(result) -> int:
    return 0 if isinstance(result, tuple) else result.nbytes


def _canon(result) -> tuple:
    """Order-insensitive canonical form, as the engine's differential
    tests compare results (``testing.canon_cell``/``_canon_rows``)."""
    from pymapreduce_spark.testing import _canon_rows

    cols, rows = _rows(result)
    return sorted(cols), _canon_rows(cols, rows)


def _catalyst_phases(qe) -> dict[str, float]:
    out = {}
    try:
        phases = qe.tracker().phases()
        for name in ("analysis", "optimization", "planning"):
            opt = phases.get(name)
            if opt.isDefined():
                out[name] = float(opt.get().durationMs())
    except Exception:  # noqa: BLE001 - tracker API differs across builds
        pass
    return out


def _stop_processes(pids: list[int], timeout: float = 60.0) -> None:
    deadline = time.monotonic() + timeout
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")
                 and not _is_zombie(p)]
        if alive:
            time.sleep(0.05)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] == "Z"
    except (OSError, IndexError):
        return False


def shutdown_spark(run: Run) -> None:
    """Stop the Spark app and the JVM (and its Python workers), and wait
    until every process this run started has ended."""
    if run.jvm_stopped or "pyspark" not in sys.modules:
        return
    run.jvm_stopped = True
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    pids = _descendants(os.getpid())
    run.stop_session()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - kill below
            proc.kill()
            proc.wait()
    _stop_processes(pids)


def measure(run: Run, seconds: float) -> dict:
    """Set up, then run ops for ``seconds``."""
    info: dict = {}
    t_proc = _proc_start_epoch()
    run.prepare_env()
    run.import_engine()
    # Writing the inputs and evaluating the oracles is harness work, not
    # set-up; both run before the session starts, so neither disturbs
    # the JVM between the warm-up and the measured passes.
    info["datagen_s"] = run.new_inputs()
    t = time.perf_counter()
    run.load_oracles()
    info["oracle_s"] = time.perf_counter() - t
    info["session.get_spark_s"] = run.start_session()
    info["derived_caches_at_start"] = run.artifacts_dir().exists()
    warm = [run.one_pass(checked=False) for _ in range(WARMUP_PASSES)]
    setup_s = time.time() - t_proc - info["datagen_s"] - info["oracle_s"]
    info["warmup_pass_s"] = [p["pass_s"] for p in warm]
    info["cold_op_s"] = warm[0]["latency"]

    # A traced run orders its passes untraced, traced, traced, untraced
    # (repeating), so the passes still speeding up as the JIT warms do
    # not bias the overhead estimate, and it ends only after whole groups.
    trace = run.tracer is not None
    group = 4 if trace else 1
    done: list[dict] = []
    t0 = time.perf_counter()
    while True:
        if done and len(done) % group == 0 and (
                time.perf_counter() - t0 >= seconds):
            break
        # once a whole pass is in, start no op after the window closes
        deadline = t0 + seconds if not trace and done else None
        done.append(run.one_pass(traced=trace and len(done) % 4 in (1, 2),
                                 deadline=deadline))
    info["window_s"] = time.perf_counter() - t0
    run.check_passes(done)
    from pyspark import SparkContext

    jvm = SparkContext._gateway.proc.pid
    info["peak_rss_mb"] = _vm_hwm_mb(os.getpid()) + _vm_hwm_mb(jvm)
    if trace:
        sys.path.insert(0, str(ROOT))
        import bench

        info["host.calib_s"] = bench.calibrate(run.spark)
    return {"setup_s": setup_s, "passes": done, "info": info}


def summarize(run: Run, m: dict) -> tuple[dict, dict]:
    """End-to-end metrics (untraced passes) and run details."""
    plain = [p for p in m["passes"] if not p["traced"]]
    per_op = _per_op_median(plain, run.ops)
    metrics = {
        "setup_s": (m["setup_s"], "s"),
        "pass_s": (sum(per_op.values()), "s"),
    }
    attempted = sum(len(p["latency"]) for p in m["passes"])
    failed = sum(p["failed"] for p in m["passes"])
    import duckdb
    import pyspark

    details = {
        "workload": run.workload,
        "seed": run.seed,
        "sf": run.sf,
        "master": MASTER,
        "nproc": os.cpu_count(),
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "passes": len(plain),
        "op_samples": sum(len(p["latency"]) for p in plain),
        "failed_frac": failed / max(1, attempted),
        "host.steal_frac": statistics.median(
            p["steal_frac"] for p in m["passes"]),
        "op_s.median_by_op": per_op,
        "pass_s_each": [p["pass_s"] for p in plain if p["complete"]],
        "pass_latency": [p["latency"] for p in plain],
        **m["info"],
    }
    e2e = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    details["end_to_end"] = e2e
    return (
        {"correct": failed == 0, "attempted": attempted, "failed": failed,
         "metrics": e2e},
        details,
    )


def _per_op_median(passes: list[dict], ops) -> dict[str, float]:
    """Median latency of each op over the given passes."""
    return {op: statistics.median(p["latency"][op] for p in passes
                                  if op in p["latency"])
            for op in ops}


def layer_summary(run: Run, m: dict) -> dict:
    traced = [p for p in m["passes"] if p["traced"]]
    plain = [p for p in m["passes"] if not p["traced"]]
    tr = run.tracer
    out = layers.layer_metrics(
        tr, run.op_phase, str(run.work / "eventlog"), len(traced))
    out["session.get_spark_s"] = m["info"]["session.get_spark_s"]
    out["peak_rss_mb"] = m["info"]["peak_rss_mb"]
    out["host.steal_frac"] = statistics.median(
        p["steal_frac"] for p in m["passes"])
    out["host.calib_s"] = m["info"]["host.calib_s"]
    out["trace.overhead_frac"] = (
        sum(_per_op_median(traced, run.ops).values())
        / sum(_per_op_median(plain, run.ops).values()) - 1.0)
    return out


def load_units() -> dict[str, str]:
    with open(ROOT / "BENCHMARK.json") as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer"]}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=DEFAULT_SF)
    args = ap.parse_args(argv)

    if not (ROOT / "pymapreduce_spark" / "__init__.py").is_file():
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    run = Run(args.workload, args.seed, args.sf, bool(args.trace))
    try:
        m = measure(run, args.seconds)
        result, details = summarize(run, m)
        if run.tracer is not None:
            shutdown_spark(run)
            units = load_units()
            per_layer = layer_summary(run, m)
            result["metrics"] = {k: {"value": per_layer[k], "unit": u}
                                 for k, u in units.items()}
            out_dir = HERE / ".out"
            out_dir.mkdir(exist_ok=True)
            run.tracer.write_spans(str(
                out_dir / f"spans-{args.workload}-s{args.seed}.jsonl"))
    finally:
        try:
            shutdown_spark(run)
        finally:
            run.drop_caches()
            shutil.rmtree(run.work, ignore_errors=True)
    print(json.dumps(details, default=float))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
