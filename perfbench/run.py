"""Benchmark entry point.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 14 --trace 0

Run from the root of a checkout of the repository. The run generates its
inputs from ``--seed`` under ``.perfbench/`` in the checkout, sets up the
engine, runs one untimed warm-up pass, then the measured passes that
``--seconds`` buys at the workload's nominal pass time, checking every
operation's output. It prints
each metric as ``# metric <name> = <value> <unit>`` and, as the last line
of standard output, one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones (BENCHMARK.json
``end_to_end``); with ``--trace 1`` a traced run reports the per-layer
ones and writes the spans and layer results to ``.perfbench/results/``.
The exit code is 0 only when every output check passed.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# At least two measured passes, so the median query latency rests on two
# samples of each operation rather than one (single samples vary ~10% on
# a shared host).
MIN_PASSES = 2


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def host_state() -> dict:
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "pyspark": pyspark.__version__,
        "python": sys.version.split()[0],
    }


def _prepare_env(work: str) -> dict:
    """Keep every file the run writes inside ``work`` and size Spark for
    the host: ``local[nproc / 2]`` unless SPARK_GRAFT_CPUS is already set.
    The inputs are small, so two task threads keep up with four; the
    other cores are left to the Python process, the JVM's JIT and GC
    threads and the host's other tenants, which on a shared 4-core host
    makes passes both faster and steadier than ``local[nproc]``."""
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(max(1, len(os.sched_getaffinity(0)) // 2)))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    return {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        # The heap starts at its maximum size. Growing it from the JVM's
        # default start size made every pass slower, and each one by a
        # different amount, for the whole run: a warm ingest pass took
        # 9-11 s and was still falling after eight passes; with the full
        # heap from the start it takes 6.1 s from the third pass on.
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']}",
        "spark.ui.showConsoleProgress": "false",
    }


def _stop(spark) -> None:
    """Stop Spark and wait for its JVM (and with it the Python workers
    the JVM started) to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Context:
    """What a workload needs from the run: session, paths, recordings."""

    def __init__(self, work_dir: str, data_dir: str, recorded: dict):
        self.work_dir = work_dir
        self.data_dir = data_dir
        self.recorded = recorded
        self.spark = None


def _error(e: Exception) -> str:
    return f"{type(e).__name__}: {str(e).strip().splitlines()[0][:300]}"


def run_op(tr, group: str, op_id: str, kind: str, fn, pass_no: int) -> dict:
    """Run one operation; its latency excludes the tracer's harvesting.
    An operation that raises, or whose tracing fails, counts as failed."""
    facts, latency, attrs = {"error": None}, 0.0, {}
    try:
        with tr.operation(group, kind) as attrs:
            t0 = time.perf_counter()
            try:
                facts = fn(tr)
            except Exception as e:
                facts = {"error": _error(e)}
            latency = (time.perf_counter() - t0) * 1000.0
    except Exception as e:
        facts["error"] = facts["error"] or f"tracing: {_error(e)}"
    facts.pop("rows", None)
    facts.update(op=op_id, kind=kind, pass_no=pass_no, latency_ms=latency,
                 python_ms=attrs.get("python_ms", 0.0))
    return facts


def run_workload(args, work: str, trace_dir: str) -> dict:
    """Set up, warm up and measure one workload; return the raw record."""
    import numpy as np

    import datagen
    import workloads
    from checks import load_fingerprints

    conf = _prepare_env(work)
    data_dir = os.path.join(work, "data")
    g0 = time.perf_counter()
    if args.workload == "analytics":
        datagen.write_tables(data_dir)
    gen_s = time.perf_counter() - g0
    ctx = Context(work, data_dir, load_fingerprints())
    wl = workloads.WORKLOADS[args.workload](ctx)
    rng = np.random.default_rng(args.seed)

    from ed_clickhouse_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=conf)
    session_s = time.perf_counter() - t
    ctx.spark = spark
    try:
        return _measure(args, wl, rng, spark, session_s, gen_s, trace_dir)
    finally:
        _stop(spark)


def _measure(args, wl, rng, spark, session_s: float, gen_s: float, trace_dir: str) -> dict:
    import datagen
    from tracing import Tracer

    # setup_s: process start until the first operation can run (session,
    # SQL functions, views or Engine.init), less the input generation.
    # It happens once per process. Each pass then sets up again, warm.
    tr = Tracer(spark, enabled=False)
    traced = Tracer(spark, enabled=bool(args.trace))
    with traced.span("setup"):
        wl.setup(spark, traced)
    setup_s = time.perf_counter() - PROCESS_START - gen_s
    timeline = {"generated": gen_s, "set_up": setup_s + gen_s}

    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "sf": datagen.SF, "setup_s": setup_s,
              "session_s": session_s, "warm_setups": [], "timeline": timeline,
              "passes": [], "ops": []}

    def one_pass(pass_no: int, tracer) -> tuple[dict, list[dict]]:
        with traced.span("setup"):
            record["warm_setups"].append(wl.start_pass(spark, traced))
        ops = list(wl.operations(rng))
        tracer.activate()
        p0 = time.perf_counter()
        out = [run_op(tracer, f"p{pass_no}:{op_id}", op_id, kind, fn, pass_no)
               for op_id, kind, fn in ops]
        info = {"pass_no": pass_no, "wall_s": time.perf_counter() - p0,
                "traced": tracer.enabled}
        wl.end_pass(info)
        return info, out

    # Warm-up: JIT, codegen and Python worker start-up; checked, untimed.
    _, warm_ops = one_pass(0, tr)
    record["warmup_attempted"] = len(warm_ops)
    record["warmup_failed"] = [o for o in warm_ops if o["error"]]
    timeline["warmed_up"] = time.perf_counter() - PROCESS_START
    # Measured passes: as many as --seconds buys at the workload's nominal
    # pass time, not by the clock, so every run does the same work
    # whatever the host's speed. A traced run adds two untraced passes,
    # the first and the last, to measure the tracing overhead in the same
    # run: passes still get faster after the warm-up, and bracketing the
    # traced passes cancels that trend.
    need = max(MIN_PASSES, round(args.seconds / wl.PASS_S)) + 2 * args.trace
    for pass_no in range(1, need + 1):
        tracer = traced if (args.trace and 1 < pass_no < need) else tr
        info, ops = one_pass(pass_no, tracer)
        record["passes"].append(info)
        record["ops"].extend(ops)
    timeline["measured"] = time.perf_counter() - PROCESS_START
    if args.trace:
        traced.dump(os.path.join(trace_dir, f"spans-{args.workload}-seed{args.seed}.json"))
    record["jobs"] = traced.jobs
    record["spans"] = traced.spans
    return record


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "ed_clickhouse_spark")):
        print(f"perfbench: no ed_clickhouse_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import report
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"{args.workload}-{os.getpid()}")
    results = os.path.join(base, "results")
    os.makedirs(results, exist_ok=True)
    host = host_state()
    host["loadavg_before"] = os.getloadavg()
    try:
        # the program's own prints must not land after the result line
        with contextlib.redirect_stdout(sys.stderr):
            record = run_workload(args, work, results)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    host["loadavg_after"] = os.getloadavg()
    host["spark_graft_cpus"] = os.environ.get("SPARK_GRAFT_CPUS")
    record["host"] = host
    result, lines = report.summarize(record)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(results, name), "w") as f:
        json.dump({"result": result, "host": host, "lines": lines,
                   "record": {k: v for k, v in record.items()
                              if k not in ("jobs", "spans")}},
                  f, default=str)
    if args.trace:
        # per-layer numbers as named metrics with units, beside the span
        # dump, with the layer -> end-to-end metric map they are read by
        layers = [dict(m, value=result["metrics"][m["name"]]["value"])
                  for m in report.layer_table()]
        with open(os.path.join(results, f"layers-{args.workload}-seed{args.seed}.json"),
                  "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed, "host": host,
                       "layers": layers}, f, indent=1)
    for line in lines:
        print(line)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
