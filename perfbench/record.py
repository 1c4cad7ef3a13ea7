"""Record the result fingerprints the ``analytics`` checks compare against.

    python3 perfbench/record.py .perfbench/rec1.json      # one recording
    python3 perfbench/record.py .perfbench/rec2.json      # an independent one
    python3 perfbench/record.py --merge .perfbench/rec1.json .perfbench/rec2.json

Each recording runs every analytics panel under every time-picker window
and every operator panel once, in a fresh process, on the generated
tables. ``--merge`` writes ``fingerprints.json``, keeping a result hash
only where both recordings agree (elsewhere the check is on rows only).
Re-record only when the generator or the panel set changes, never to
make a failing check pass.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def record(out: str) -> None:
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import datagen
    import run
    import workloads
    from checks import fingerprint
    from tracing import Tracer

    work = os.path.join(ROOT, ".perfbench", f"record-{os.getpid()}")
    try:
        conf = run._prepare_env(work)
        ctx = run.Context(work, os.path.join(work, "data"), {})
        datagen.write_tables(ctx.data_dir)
        from ed_clickhouse_spark.session import get_spark

        ctx.spark = get_spark("perfbench-record", extra_conf=conf)
        wl = workloads.Analytics(ctx)
        tr = Tracer(ctx.spark, enabled=False)
        wl.setup(ctx.spark, tr)
        fps = {}
        for offset in range(workloads.WINDOWS):
            for p, sql in wl.panels.items():
                key = workloads.panel_key(p, sql, offset)
                if key not in fps:
                    fps[key] = fingerprint(wl._panel(tr, p, sql, offset)["rows"])
        for q in workloads.OPERATOR_QUERIES:
            fps[q] = fingerprint(wl._operator(tr, q)["rows"])
        ctx.spark.stop()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(out, "w") as f:
        json.dump(fps, f, indent=1, sort_keys=True)


def merge(a: str, b: str) -> None:
    with open(a) as f:
        ra = json.load(f)
    with open(b) as f:
        rb = json.load(f)
    merged = {}
    for key, fa in ra.items():
        fb = rb[key]
        if fa["rows"] != fb["rows"]:
            raise SystemExit(f"{key}: row count differs between recordings")
        merged[key] = fa if fa == fb else {"rows": fa["rows"]}
    with open(os.path.join(HERE, "fingerprints.json"), "w") as f:
        json.dump(merged, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    if sys.argv[1] == "--merge":
        merge(sys.argv[2], sys.argv[3])
    else:
        record(sys.argv[1])
