"""Turn a run's raw record into metrics, printed lines and the result JSON."""

from __future__ import annotations

import json
import os
import statistics

HERE = os.path.dirname(os.path.abspath(__file__))
QUERY_KINDS = ("panel", "operator", "query")


def _bench_metrics(section: str) -> list[dict]:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)[section]


def layer_table() -> list[dict]:
    with open(os.path.join(HERE, "layers.json")) as f:
        return json.load(f)["metrics"]


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def _p90(xs) -> float | None:
    """p90, only when at least 10 samples lie beyond it."""
    xs = sorted(xs)
    return float(statistics.quantiles(xs, n=10)[-1]) if len(xs) >= 100 else None


def end_to_end(record: dict) -> dict[str, tuple[float, str]]:
    """Every end-to-end metric that applies to the record's workload."""
    ops = record["ops"]
    passes = record["passes"]
    untraced = [p["wall_s"] for p in passes if not p["traced"]]
    lat = [o["latency_ms"] for o in ops if o["kind"] in QUERY_KINDS]
    m = {
        "setup_s": (record["setup_s"], "s"),
        "pass_s": (_median(untraced or [p["wall_s"] for p in passes]), "s"),
        "query_p50_ms": (_median(lat), "ms"),
        "warm_setup_s": (_median(record["warm_setups"]), "s"),
    }
    p90 = _p90(lat)
    if p90 is not None:
        m["query_p90_ms"] = (p90, "ms")
    failed = sum(1 for o in ops if o["error"])
    m["failed_frac"] = (failed / max(1, len(ops)), "ratio")
    batches = [o for o in ops if o["kind"] == "batch"]
    if batches:
        bl = [o["latency_ms"] for o in batches]
        m["batch_p50_ms"] = (_median(bl), "ms")
        p90 = _p90(bl)
        if p90 is not None:
            m["batch_p90_ms"] = (p90, "ms")
        else:
            m["batch_max_ms"] = (max(bl), "ms")
        m["ingest_rows_per_s"] = (
            sum(o["rows_in"] for o in batches) / (sum(bl) / 1000.0), "rows/s")
        m["stored_bytes_per_input_byte"] = (
            _median(p["stored_ratio"] for p in passes), "ratio")
    return m


def per_layer(record: dict) -> dict[str, float]:
    """The layers.json metrics from a traced record (0 where the workload
    does not exercise the layer)."""
    traced_passes = [p["pass_no"] for p in record["passes"] if p["traced"]]
    n = max(1, len(traced_passes))
    # failed operations are counted in the result, not in the layers
    ops = [o for o in record["ops"] if o["pass_no"] in traced_passes and not o["error"]]
    groups = {f"p{o['pass_no']}:{o['op']}": o for o in ops}
    jobs = [j for j in record["jobs"] if j["op"] in groups]
    spans = record["spans"]
    cores = int(record["host"]["spark_graft_cpus"] or 1)

    def span_ms(name):
        return [(s["end"] - s["start"]) * 1000.0 for s in spans
                if s["name"] == name and s["end"] is not None]

    def per_pass(xs):
        return sum(xs) / n

    def kind(k):
        return [o for o in ops if o["kind"] == k]

    def job_ms(j):
        if j["submit_ms"] is None or j["end_ms"] is None:
            return 0.0
        return j["end_ms"] - j["submit_ms"]

    panels = kind("panel")
    batches = kind("batch")
    queries = kind("query")
    # one batch per pass into a fresh warehouse: the rows_by_table
    # read-back is what that batch wrote
    counts = [o for o in queries if o["op"] == "rows_by_table"]
    def cold_ms(name):  # the first span of a name is the cold set-up's
        xs = span_ms(name)
        return xs[0] if xs else 0.0

    phases = [o.get("phases", {}) for o in ops]
    job_wall = sum(job_ms(j) for j in jobs)
    batch_groups = {f"p{o['pass_no']}:{o['op']}" for o in batches}
    batch_jobs = [j for j in jobs if j["op"] in batch_groups]

    def batch_fn_ms(fn):
        out = []
        for o in batches:
            g = f"p{o['pass_no']}:{o['op']}"
            out.append(sum(job_ms(j) for j in batch_jobs if j["op"] == g and j["fn"] == fn))
        return _median(out)

    overhead = 0.0
    untraced = [p["wall_s"] for p in record["passes"] if not p["traced"]]
    traced_walls = [p["wall_s"] for p in record["passes"] if p["traced"]]
    if untraced and traced_walls:
        overhead = _median(traced_walls) - _median(untraced)
    v = {
        "session.start_s": record["session_s"],
        "functions.register_ms": cold_ms("functions.register"),
        "catalog.register_ms": cold_ms("catalog.register"),
        "engine.init_ms": cold_ms("engine.init"),
        "chsql.translate_ms_p50": _median(o["translate_ms"] for o in panels),
        "chsql.translate_ms_per_pass": per_pass(o["translate_ms"] for o in panels),
        "chsql.calls_per_translate": (
            sum(o["calls"] for o in panels) / len(panels) if panels else 0.0),
        "engine.ch_sql_ms_p50": _median(o["ch_sql_ms"] for o in queries),
        "engine.refresh_views_ms_p50": _median(o["latency_ms"] for o in kind("refresh")),
        "spark.analysis_ms": per_pass(p.get("analysis", 0) + p.get("parsing", 0) for p in phases),
        "spark.optimization_ms": per_pass(p.get("optimization", 0) for p in phases),
        "spark.planning_ms": per_pass(p.get("planning", 0) for p in phases),
        "operators.build_ms": per_pass(span_ms("operators.build")),
        "spark.build_jobs": per_pass(o.get("build_jobs", 0) for o in kind("operator")),
        "spark.exec_ms": per_pass(span_ms("action")),
        "spark.jobs": per_pass(1 for _ in jobs),
        "spark.stages": per_pass(j["stages"] for j in jobs),
        "spark.tasks": per_pass(j["tasks"] for j in jobs),
        "spark.core_busy_frac": (
            sum(j["run_ms"] for j in jobs) / (job_wall * cores) if job_wall else 0.0),
        "spark.gc_s": per_pass(j["gc_ms"] for j in jobs) / 1000.0,
        "spark.shuffle_write_bytes": per_pass(j["shuffle_write_bytes"] for j in jobs),
        "spark.shuffle_read_bytes": per_pass(j["shuffle_read_bytes"] for j in jobs),
        "spark.spill_bytes": per_pass(j["spill_bytes"] for j in jobs),
        "spark.input_bytes": per_pass(
            j["input_bytes"] for j in jobs
            if groups[j["op"]]["kind"] in QUERY_KINDS),
        "spark.files_read": per_pass(o.get("files_read", 0) for o in ops),
        "spark.python_ms": per_pass(o.get("python_ms", 0.0) for o in ops),
        "cache.pinned_bytes": max([o.get("pinned_bytes", 0) for o in ops] or [0]),
        "pipeline.route_ms": batch_fn_ms("pipeline.process_batch"),
        "pipeline.jobs_per_batch": len(batch_jobs) / len(batches) if batches else 0.0,
        "writer.append_events_ms": batch_fn_ms("writer.append_events"),
        "writer.append_dlq_ms": batch_fn_ms("writer.append_dlq"),
        "writer.files_per_batch": _median(o["files_written"] for o in batches),
        "writer.bytes_per_batch": _median(o["bytes_written"] for o in batches),
        "pipeline.rows_written": per_pass(o["table_rows"] for o in counts),
        "pipeline.dlq_decode_error_rows": per_pass(
            o["dlq_rows"].get("decode_error", 0) for o in counts),
        "pipeline.dlq_unroutable_rows": per_pass(
            o["dlq_rows"].get("unroutable_subject", 0) for o in counts),
        "tracing.overhead_s": overhead,
    }
    return v


def summarize(record: dict) -> tuple[dict, list[str]]:
    """(result JSON object, printed lines) for one run."""
    ops = record["ops"]
    failed = [o for o in ops if o["error"]]
    lines = [f"# host {json.dumps(record['host'])}",
             f"# timeline_s {json.dumps({k: round(v, 2) for k, v in record['timeline'].items()})}",
             f"# workload {record['workload']} seed {record['seed']} "
             f"passes {len(record['passes'])} operations {len(ops)}"]
    for o in failed[:20]:
        lines.append(f"# FAILED {o['kind']} {o['op']} (pass {o['pass_no']}): {o['error']}")
    for o in record["warmup_failed"][:20]:
        lines.append(f"# FAILED in warm-up {o['kind']} {o['op']}: {o['error']}")
    e2e = end_to_end(record)
    for name, (val, unit) in e2e.items():
        lines.append(f"# metric {name} = {val:.6g} {unit}")
    if record["trace"]:
        units = {m["name"]: m["unit"] for m in layer_table()}
        layer_vals = per_layer(record)
        for name, val in layer_vals.items():
            lines.append(f"# layer {name} = {val:.6g} {units[name]}")
        wanted = _bench_metrics("per_layer")
        metrics = {m["name"]: {"value": layer_vals[m["name"]], "unit": m["unit"]}
                   for m in wanted}
    else:
        wanted = _bench_metrics("end_to_end")
        metrics = {m["name"]: {"value": e2e[m["name"]][0], "unit": m["unit"]}
                   for m in wanted}
    # warm-up operations are checked too and count as attempted
    n_failed = len(failed) + len(record["warmup_failed"])
    result = {
        "correct": n_failed == 0,
        "attempted": len(ops) + record["warmup_attempted"],
        "failed": n_failed,
        "metrics": metrics,
    }
    return result, lines
