"""Self-check of the benchmark: one short run per workload, untraced and
traced, plus fast unit checks of the output checks themselves.

    python3 -m pytest perfbench/tests -q

The run tests start Spark four times (about five minutes on 4 cores).
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
from collections import Counter

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)

# Span names the traced run must emit at least once, per workload: one
# per layer the workload exercises.
LAYER_SPANS = {
    "analytics": ("setup", "functions.register", "catalog.register",
                  "chsql.translate", "spark.sql", "action", "operators.build",
                  "panel", "operator"),
    "ingest_query": ("setup", "functions.register", "engine.init",
                     "engine.ch_sql", "action", "batch", "refresh", "query",
                     "job:pipeline.process_batch", "job:writer.append_events",
                     "job:writer.append_dlq"),
}


def _run(workload: str, trace: int) -> tuple[dict, list[str]]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    assert proc.returncode == 0, proc.stdout[-3000:] + proc.stderr[-3000:]
    return json.loads(lines[-1]), lines[:-1]


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_untraced_run_prints_every_end_to_end_metric(workload):
    result, lines = _run(workload, 0)
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(v["value"] > 0 for v in result["metrics"].values())
    printed = {}
    for ln in lines:
        m = re.match(r"^# metric (\S+) = (\S+) (\S+)$", ln)
        if m:
            printed[m.group(1)] = m.group(3)
    for name, unit in want.items():
        assert printed[name] == unit
    assert printed["failed_frac"] == "ratio"


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_traced_run_gives_layers_and_spans(workload):
    result, lines = _run(workload, 1)
    assert result["correct"] and result["failed"] == 0
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    spans_file = os.path.join(ROOT, ".perfbench", "results", f"spans-{workload}-seed7.json")
    with open(spans_file) as f:
        spans = json.load(f)["spans"]
    names = Counter(s["name"] for s in spans)
    for name in LAYER_SPANS[workload]:
        assert names[name] >= 1, f"no {name} span in {sorted(names)}"
    assert any(ln.startswith("# layer tracing.overhead_s") for ln in lines)


def test_fingerprint_is_order_insensitive_and_value_sensitive():
    from checks import fingerprint

    a = [(1, "x", 0.1 + 0.2), (2, "y", None)]
    assert fingerprint(a) == fingerprint(list(reversed(a)))
    assert fingerprint(a) != fingerprint([(1, "x", 0.3), (3, "y", None)])
    assert fingerprint([(1.0000000001,)]) == fingerprint([(1.0,)])


def test_ingest_checks_catch_a_lost_row():
    import datagen
    from workloads import check_ingest_query

    exp = datagen.Expected()
    exp.per_table.update({t: 2 for t in datagen.SUBJECT_TABLE.values()})
    exp.dlq.update({"decode_error": 1})
    rows = [{"tbl": t, "n": 2} for t in datagen.SUBJECT_TABLE.values()]
    rows.append({"tbl": "dlq:decode_error", "n": 1})
    assert check_ingest_query("rows_by_table", rows, exp, {}) is None
    rows[0] = {"tbl": rows[0]["tbl"], "n": 1}
    assert check_ingest_query("rows_by_table", rows, exp, {}) is not None


def test_generated_inputs_depend_only_on_the_seed(tmp_path):
    import numpy as np

    import datagen

    a = datagen.write_wire_batch(str(tmp_path / "a"), np.random.default_rng(3), 500, 0)
    b = datagen.write_wire_batch(str(tmp_path / "b"), np.random.default_rng(3), 500, 0)
    c = datagen.write_wire_batch(str(tmp_path / "c"), np.random.default_rng(4), 500, 0)
    assert (tmp_path / "a").read_bytes() == (tmp_path / "b").read_bytes()
    assert (tmp_path / "a").read_bytes() != (tmp_path / "c").read_bytes()
    assert a.expected == b.expected
    assert sum(a.expected.per_table.values()) + sum(a.expected.dlq.values()) == 500
