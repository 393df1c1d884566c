"""Self-test of the benchmark: one traced run per workload at sf0.001,
and the generated inputs against the engine's fixture tables.

    python3 -m pytest perfbench/test_perfbench.py -q

Each run must print every end-to-end metric of BENCHMARK.json with its
unit (in the details line) and every per-layer metric (in the result
line), fail no operator, and write span records of the pinned schema.
Takes a few minutes: every workload starts its own Spark app.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pyarrow.parquet as pq
import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import datagen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
PHASES = set(layers.PHASE_SPANS.values())
SPAN_NAMES = (
    {"op"} | PHASES
    | {f"io.{f}" for f in layers.IO_FUNCS}
    | {f"streaming.{f}" for f in layers.STREAMING_FUNCS}
)


#: Arrow schemas of the fixture tables the engine's tests read (the
#: timestamps are stored as microseconds without a time zone).
FIXTURE_SCHEMAS = {
    "region": {"r_regionkey": "int32", "r_name": "string"},
    "nation": {"n_nationkey": "int32", "n_name": "string",
               "n_regionkey": "int32"},
    "customer": {"c_custkey": "int64", "c_name": "string",
                 "c_nationkey": "int32", "c_acctbal": "double",
                 "c_mktsegment": "string"},
    "supplier": {"s_suppkey": "int64", "s_name": "string",
                 "s_nationkey": "int32", "s_acctbal": "double"},
    "part": {"p_partkey": "int64", "p_name": "string", "p_brand": "string",
             "p_type": "string", "p_size": "int32",
             "p_retailprice": "double"},
    "orders": {"o_orderkey": "int64", "o_custkey": "int64",
               "o_orderstatus": "string", "o_totalprice": "double",
               "o_orderdate": "timestamp[us]", "o_orderpriority": "string"},
    "lineitem": {"l_orderkey": "int64", "l_partkey": "int64",
                 "l_suppkey": "int64", "l_linenumber": "int32",
                 "l_quantity": "double", "l_extendedprice": "double",
                 "l_discount": "double", "l_tax": "double",
                 "l_returnflag": "string", "l_linestatus": "string",
                 "l_shipdate": "timestamp[us]"},
    "events": {"event_id": "int64", "ts": "timestamp[us]",
               "user_id": "int64", "event_type": "string",
               "value": "double", "props": "string"},
    "documents": {"doc_id": "int64", "text": "string", "lang": "string",
                  "source": "string", "n_chars": "int64"},
    "embeddings": {"vec_id": "int64", "embedding": "list<element: float>",
                   "label": "int32"},
}
#: Fixture row counts at sf0.001 / sf0.01 / sf0.1 (FIXTURES.md).
FIXTURE_ROWS = {
    "region": (5, 5, 5),
    "nation": (25, 25, 25),
    "customer": (150, 1_500, 15_000),
    "supplier": (10, 100, 1_000),
    "part": (200, 2_000, 20_000),
    "orders": (1_500, 15_000, 150_000),
    "lineitem": (6_000, 60_000, 600_000),
    "events": (1_000, 10_000, 100_000),
    "documents": (500, 500, 5_000),
    "embeddings": (500, 500, 2_000),
}


def test_row_counts_match_fixtures() -> None:
    for i, sf in enumerate((0.001, 0.01, 0.1)):
        want = {t: rows[i] for t, rows in FIXTURE_ROWS.items()}
        assert datagen.row_counts(sf) == want, sf


@pytest.mark.parametrize("sf", [0.001, 0.1])
def test_inputs_match_fixtures(sf: float, tmp_path: Path) -> None:
    datagen.generate(str(tmp_path), seed=3, sf=sf)
    tables = {t: pq.read_table(tmp_path / f"{t}.parquet")
              for t in FIXTURE_SCHEMAS}
    for name, tbl in tables.items():
        got = {f.name: str(f.type) for f in tbl.schema}
        assert got == FIXTURE_SCHEMAS[name], name
        assert tbl.num_rows == datagen.row_counts(sf)[name], name
    ts = pq.ParquetFile(tmp_path / "events.parquet").schema.column(1)
    assert "isAdjustedToUTC=false" in str(ts.logical_type)

    users = tables["events"].column("user_id").unique()
    assert len(users) == round(15_000 * sf)

    # dedup structure: exact-duplicate pairs only from sf0.1 on (8 there),
    # and n/20 near-duplicates, each another document's text + " dup"
    texts = tables["documents"].column("text").to_pylist()
    counts: dict[str, int] = {}
    for t in texts:
        counts[t] = counts.get(t, 0) + 1
    dups = [c for c in counts.values() if c > 1]
    assert dups == [2] * (8 if sf == 0.1 else 0)
    distinct = set(texts)
    near = [t for t in distinct if t.endswith(" dup") and t[:-4] in distinct]
    assert len(near) >= 0.95 * (len(texts) // 20)


def _bench(*args: str, cwd: Path = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def _check_spans(path: Path, ops: tuple[str, ...]) -> None:
    recs = [json.loads(line) for line in path.read_text().splitlines()]
    assert recs
    by_id = {}
    for r in recs:
        assert set(r) == {"id", *layers.SPAN_KEYS}
        assert isinstance(r["name"], str) and isinstance(r["op"], str)
        assert r["name"] in SPAN_NAMES or r["name"].startswith("api."), r
        assert r["start"] <= r["end"]
        if r["parent"] is not None:
            parent = by_id[r["parent"]]
            assert parent["op"] == r["op"]
            assert parent["start"] <= r["start"] and r["end"] <= parent["end"]
        by_id[r["id"]] = r
    roots = [r for r in recs if r["name"] == "op"]
    assert sorted(r["op"].split(":", 1)[1] for r in roots) == sorted(ops)
    for root in roots:
        kids = [r for r in recs if r["parent"] == root["id"]]
        assert {k["name"] for k in kids} == PHASES
        covered = sum(k["end"] - k["start"] for k in kids)
        # build + plan + exec account for the op's latency
        assert covered >= 0.9 * (root["end"] - root["start"])


def test_workloads_are_the_benchmarks() -> None:
    assert sorted(run.WORKLOADS) == sorted(w["name"]
                                           for w in SPEC["workloads"])


@pytest.mark.parametrize("workload", sorted(run.WORKLOADS))
def test_one_traced_run(workload: str) -> None:
    # --seconds 0 ends a traced run after its first group of four passes
    # (untraced, traced, traced, untraced)
    proc = _bench("--workload", workload, "--seed", "1", "--seconds", "0",
                  "--trace", "1", "--sf", "0.001")
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result, details = json.loads(lines[-1]), json.loads(lines[-2])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] == 4 * len(run.WORKLOADS[workload])
    assert details["failed_frac"] == 0

    for spec_key, got in (("end_to_end", details["end_to_end"]),
                          ("per_layer", result["metrics"])):
        want = {m["name"]: m["unit"] for m in SPEC[spec_key]}
        assert {k: v["unit"] for k, v in got.items()} == want
        assert all(isinstance(v["value"], (int, float)) for v in got.values())
    assert result["metrics"]["fetch.rows"]["value"] > 0

    # two traced passes
    _check_spans(HERE / ".out" / f"spans-{workload}-s1.jsonl",
                 run.WORKLOADS[workload] * 2)


def test_fails_without_engine(tmp_path: Path) -> None:
    """In a directory holding only the benchmark, the run must fail
    without printing a result."""
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", ".out",
                                                  "__pycache__"))
    proc = _bench("--workload", SPEC["workloads"][0]["name"], "--seed", "1",
                  "--seconds", "1", "--trace", "0", cwd=tmp_path)
    assert proc.returncode != 0
    assert "correct" not in proc.stdout
    assert not os.path.exists(tmp_path / ".artifacts")
