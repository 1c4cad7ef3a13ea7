"""The benchmark's workloads. Each has one closed-loop client: an
operation starts only after the previous one returned.

* ``analytics`` — a dashboard refresh over the query tables: saved
  ClickHouse-dialect panels (``chsql.translate`` -> ``spark.sql`` ->
  ``collect``) under a seeded time picker, plus LLM-data operator panels
  built by the suite's ``QUERIES`` functions. No ingest.
* ``ingest_query`` — micro-batches of wire rows through
  ``streaming.pipeline.process_batch``, ``Engine.refresh_views`` and a
  fixed set of dialect read-back queries through ``Engine.ch_sql``, on a
  fresh warehouse per pass.

Every operation's output is checked; a failed check or an exception
counts the operation as failed.
"""

from __future__ import annotations

import os
import re
import shutil
import time
from collections import Counter
from datetime import datetime, timedelta, timezone

import numpy as np

import datagen
from checks import check_fingerprint, fingerprint

HERE = os.path.dirname(os.path.abspath(__file__))

# -- analytics -------------------------------------------------------------

# dashboard.sql holds the panels of examples/dashboard.sql that one
# refresh runs, under their numbers there. The subset spans the dialect's
# rewrite families — time buckets under now(), windowFunnel and a timed
# sequence NFA, JSON extraction, zipped ARRAY JOIN (panel 30), a
# pandas-UDF string distance and bitmap algebra — and keeps a refresh
# short enough that a run fits the benchmark's time budget on 4 cores.
_PANEL_HEADER = re.compile(r"^-- (\d+)\. ")
# Operator panels: a 5-way star join (five table reads at build time) and
# IVF ANN (driver-side training jobs at build time, an Arrow kernel).
OPERATOR_QUERIES = ("q20_star_join_revenue", "q87_ann_ivf")
VIEWS = ("events", "documents", "orders", "customer", "lineitem")
# Time picker: a 21-day window whose first day the seed picks among the
# first WINDOWS days of the 30-day events table.
WINDOWS = 10
WINDOW_DAYS = 21
_FROM_EVENTS = re.compile(
    r"\bFROM events\b(?=\s*(WHERE|GROUP|ORDER|PREWHERE|LIMIT|WINDOW|\)|$))"
)


def load_panels() -> dict[int, str]:
    """Panel number -> statement text of dashboard.sql; a ``-- <n>.``
    comment line starts panel n."""
    panels: dict[int, list[str]] = {}
    with open(os.path.join(HERE, "dashboard.sql")) as f:
        for ln in f.read().splitlines():
            m = _PANEL_HEADER.match(ln)
            if m:
                lines = panels[int(m.group(1))] = []
            elif panels and not ln.strip().startswith("--"):
                lines.append(ln)
    return {p: "\n".join(ls).strip().rstrip(";").strip() for p, ls in panels.items()}


def window(offset: int) -> tuple[str, str]:
    start = datetime(2024, 1, 1, tzinfo=timezone.utc) + timedelta(days=offset)
    end = start + timedelta(days=WINDOW_DAYS)
    fmt = "%Y-%m-%d %H:%M:%S"
    return start.strftime(fmt), end.strftime(fmt)


def with_time_picker(sql: str, offset: int) -> str:
    """Apply the dashboard time picker: every unaliased ``FROM events``
    reads only the picked window, and ``now()`` is the window's end."""
    lo, hi = window(offset)
    picked = (
        f"FROM (SELECT * FROM events WHERE ts >= toDateTime('{lo}')"
        f" AND ts < toDateTime('{hi}'))"
    )
    return _FROM_EVENTS.sub(picked, sql).replace("now()", f"toDateTime('{hi}')")


def panel_key(panel: int, sql: str, offset: int) -> str:
    """Fingerprint key: the window only matters to time-picked panels."""
    return f"panel{panel}@{offset}" if with_time_picker(sql, offset) != sql else f"panel{panel}"


class Analytics:
    # PASS_S: a refresh after the warm-up pass, with its re-set-up, on 2
    # of 4 cores, in seconds; it sets how many passes --seconds buys.
    PASS_S = 4.5

    def __init__(self, ctx):
        self.ctx = ctx
        self.panels = load_panels()
        self.specs: dict[str, list[str]] = {}

    def setup(self, spark, tr) -> None:
        """Register the dialect's SQL functions and the table views."""
        from ed_clickhouse_spark.catalog import read_table
        from ed_clickhouse_spark.functions.clickhouse import register_sql_aliases

        with tr.span("functions.register"):
            register_sql_aliases(spark)
        with tr.span("catalog.register"):
            for name in VIEWS:
                df = read_table(spark, self.ctx.data_dir, name)
                df.createOrReplaceTempView(name)
                self.specs[name] = df.columns

    def start_pass(self, spark, tr) -> float:
        """Re-register the views (a dashboard reload); returns its time,
        a warm set-up sample."""
        t0 = time.perf_counter()
        self.setup(spark, tr)
        return time.perf_counter() - t0

    def end_pass(self, info: dict) -> None:
        pass

    def operations(self, rng: np.random.Generator):
        """One dashboard refresh: panels under one time-picker window,
        then the operator panels."""
        offset = int(rng.integers(0, WINDOWS))
        for p, sql in self.panels.items():
            yield (f"panel{p}", "panel",
                   lambda tr, p=p, sql=sql: self._panel(tr, p, sql, offset))
        for q in OPERATOR_QUERIES:
            yield (q, "operator", lambda tr, q=q: self._operator(tr, q))

    def _panel(self, tr, p: int, sql: str, offset: int) -> dict:
        from ed_clickhouse_spark.chsql import translate

        spark = self.ctx.spark
        text = with_time_picker(sql, offset)
        t0 = time.perf_counter()
        tsql = translate(text, self.specs).sql
        t1 = time.perf_counter()
        with tr.span("spark.sql"):
            df = spark.sql(tsql)
        with tr.span("action"):
            rows = df.collect()
        facts = {"translate_ms": (t1 - t0) * 1000.0}
        tr.add_span("chsql.translate", t0, t1)
        if tr.enabled:
            facts["calls"] = tr.count_calls(translate, text, self.specs)
            facts["phases"] = tr.phases(df)
            facts["files_read"] = tr.files_read(df)
        key = panel_key(p, sql, offset)
        facts["key"] = key
        facts["error"] = check_fingerprint(self.ctx.recorded, key, fingerprint(rows))
        facts["rows"] = rows
        return facts

    def _operator(self, tr, name: str) -> dict:
        from ed_clickhouse_spark.suite import QUERIES

        spark = self.ctx.spark
        with tr.span("operators.build"):
            df = QUERIES[name](spark, self.ctx.data_dir)
        build_jobs = tr.jobs_so_far()
        with tr.span("action"):
            rows = df.collect()
        facts = {"build_jobs": build_jobs}
        if tr.enabled:
            facts["phases"] = tr.phases(df)
            facts["files_read"] = tr.files_read(df)
            facts["pinned_bytes"] = tr.pinned_bytes()
        spark.catalog.clearCache()
        facts["key"] = name
        facts["error"] = check_fingerprint(self.ctx.recorded, name, fingerprint(rows))
        facts["rows"] = rows
        return facts


# -- ingest_query ------------------------------------------------------------

# Rows per micro-batch. The reference flushes at 100k rows; on 4 cores a
# batch that size alone outlasts a run's time budget. Per-family job
# overhead dominates a batch's time up to ~20k rows (5k rows: ~5.5 s,
# 20k: ~8 s), so 10k keeps both the overhead and the row work visible.
BATCH_ROWS = 10_000
WIRE_SCHEMA = "subject STRING, payload STRING"
TABLES = tuple(datagen.SUBJECT_TABLE.values())

# The read-back panel set, in the ClickHouse dialect. {t0:DateTime} and
# {t1:DateTime} come from the seed each cycle.
INGEST_QUERIES = {
    "rows_by_table": " UNION ALL ".join(
        f"SELECT '{t}' AS tbl, count() AS n FROM {t}" for t in TABLES
    ) + " UNION ALL SELECT concat('dlq:', reason) AS tbl, count() AS n FROM dlq"
        " GROUP BY reason",
    "watch_range": (
        "SELECT count() AS n, sum(video_duration) AS watched FROM angulak_watch_events"
        " PREWHERE timestamp >= {t0:DateTime} AND timestamp < {t1:DateTime}"
    ),
    "login_dau": (
        "SELECT toDate(timestamp) AS d, uniq(user_id) AS users, count() AS n"
        " FROM login_events GROUP BY d ORDER BY d"
    ),
    "genre_reach": (
        "SELECT g AS genre, count() AS n FROM shahre_farang_item_events"
        " ARRAY JOIN genres AS g GROUP BY genre ORDER BY n DESC, genre"
    ),
    "watch_cdn": (
        "SELECT JSONExtractString(event_details, 'cdn') AS cdn, count() AS n,"
        " avg(JSONExtractInt(event_details, 'bitrate')) AS avg_bitrate"
        " FROM angulak_watch_events GROUP BY cdn ORDER BY cdn"
    ),
}


def _dir_bytes(path: str) -> tuple[int, int]:
    """(data files, bytes) of the parquet files under ``path``."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


def check_ingest_query(name: str, rows, exp: datagen.Expected, params: dict) -> str | None:
    """Compare a read-back query with what the generator sent so far."""
    if name == "rows_by_table":
        got = {r["tbl"]: r["n"] for r in rows}
        want = {t: exp.per_table[t] for t in TABLES}
        want.update({f"dlq:{k}": v for k, v in exp.dlq.items()})
        return None if got == want else f"rows_by_table {got} != expected {want}"
    if name == "watch_range":
        lo = int(params["_t0"]) // 3600
        hi = int(params["_t1"]) // 3600
        n = sum(c for h, c in exp.watch_hour.items() if lo <= h < hi)
        return None if rows[0]["n"] == n else f"watch_range {rows[0]['n']} != {n}"
    if name == "login_dau":
        got = {str(r["d"]): r["n"] for r in rows}
        users = Counter(day for day, _ in exp.login_user_day)
        # uniq is approximate (HyperLogLog++, 5% relative standard error):
        # allow four standard errors around the exact distinct count
        bad = {str(r["d"]): r["users"] for r in rows
               if abs(r["users"] - users[str(r["d"])]) > 0.2 * users[str(r["d"])]}
        if got != dict(exp.login_day) or bad:
            return (f"login_dau rows {got} != expected {dict(exp.login_day)},"
                    f" or users {bad} off the exact {dict(users)}")
        return None
    if name == "genre_reach":
        got = {r["genre"]: r["n"] for r in rows}
        return None if got == dict(exp.genres) else f"genre_reach {got} != {dict(exp.genres)}"
    if name == "watch_cdn":
        got = {r["cdn"]: r["n"] for r in rows}
        return None if got == dict(exp.cdn) else f"watch_cdn {got} != {dict(exp.cdn)}"
    return f"unknown query {name}"


class IngestQuery:
    # PASS_S: a cycle after the warm-up pass, with its warehouse reset, on
    # 2 of 4 cores, in seconds.
    PASS_S = 7.5

    def __init__(self, ctx):
        self.ctx = ctx
        self.engine = None
        self.template = None
        self.expected = datagen.Expected()
        self.next_id = 0
        self.input_bytes = 0
        self.n_wh = 0

    def fresh_warehouse(self) -> str:
        self.n_wh += 1
        return os.path.join(self.ctx.work_dir, f"wh{self.n_wh}")

    def setup(self, spark, tr) -> None:
        """``Engine(<fresh warehouse>).init()``; a copy of the empty
        warehouse it made is kept as the template of every pass's."""
        from ed_clickhouse_spark.engine import Engine
        from ed_clickhouse_spark.functions.clickhouse import register_sql_aliases

        wh = self.fresh_warehouse()
        with tr.span("functions.register"):  # Engine() would do it first thing
            register_sql_aliases(spark)
        with tr.span("engine.init"):
            self.engine = Engine(wh, spark)
            self.engine.init()
        self.template = os.path.join(self.ctx.work_dir, "wh-empty")
        shutil.copytree(wh, self.template)

    def start_pass(self, spark, tr) -> float:
        """Every pass ingests into a fresh, empty warehouse, so every
        pass does the same work. The warehouse is a copy of the template
        (``Engine.init`` skips tables that exist, and only registers the
        views); returns the ``Engine(...).init()`` time, a warm set-up
        sample."""
        from ed_clickhouse_spark.engine import Engine

        old = self.engine.warehouse
        wh = self.fresh_warehouse()
        shutil.copytree(self.template, wh)
        t0 = time.perf_counter()
        self.engine = Engine(wh, spark)
        self.engine.init()
        took = time.perf_counter() - t0
        shutil.rmtree(old, ignore_errors=True)
        self.expected = datagen.Expected()
        self.input_bytes = 0
        return took

    def end_pass(self, info: dict) -> None:
        info["stored_ratio"] = (
            _dir_bytes(self.engine.warehouse)[1] / max(1, self.input_bytes))

    def operations(self, rng: np.random.Generator):
        """One ingest cycle: a seeded wire batch through process_batch,
        refresh_views, then the read-back queries with seeded time
        parameters."""
        path = os.path.join(self.ctx.work_dir, f"batch{self.next_id}.jsonl")
        wb = datagen.write_wire_batch(path, rng, BATCH_ROWS, self.next_id)
        self.next_id += BATCH_ROWS
        yield ("batch", "batch", lambda tr: self._batch(tr, wb))
        yield ("refresh", "refresh", lambda tr: self._refresh(tr))
        day = int(rng.integers(0, datagen.INGEST_DAYS))
        hour = int(rng.integers(0, 18))
        t0 = datagen.INGEST_START + day * 86_400 + hour * 3600
        params = {"t0": _fmt(t0), "t1": _fmt(t0 + 6 * 3600),
                  "_t0": t0, "_t1": t0 + 6 * 3600}
        for q in INGEST_QUERIES:
            yield (q, "query", lambda tr, q=q: self._query(tr, q, params))

    def _batch(self, tr, wb: datagen.WireBatch) -> dict:
        from ed_clickhouse_spark.streaming.pipeline import process_batch

        spark = self.ctx.spark
        before = _dir_bytes(self.engine.warehouse) if tr.enabled else (0, 0)
        df = spark.read.schema(WIRE_SCHEMA).json(wb.path)
        with tr.span("action"):
            process_batch(df, self.engine.warehouse)
        os.remove(wb.path)
        self.expected.add(wb.expected)
        self.input_bytes += wb.wire_bytes
        facts = {"rows_in": wb.rows, "error": None}
        if tr.enabled:
            after = _dir_bytes(self.engine.warehouse)
            facts["files_written"] = after[0] - before[0]
            facts["bytes_written"] = after[1] - before[1]
        return facts

    def _refresh(self, tr) -> dict:
        self.engine.refresh_views()
        return {"error": None}

    def _query(self, tr, name: str, params: dict) -> dict:
        t0 = time.perf_counter()
        df = self.engine.ch_sql(INGEST_QUERIES[name],
                                {k: v for k, v in params.items() if k[0] != "_"})
        t1 = time.perf_counter()
        with tr.span("action"):
            rows = df.collect()
        facts = {"ch_sql_ms": (t1 - t0) * 1000.0}
        tr.add_span("engine.ch_sql", t0, t1)
        if tr.enabled:
            facts["phases"] = tr.phases(df)
            facts["files_read"] = tr.files_read(df)
        if name == "rows_by_table":  # what the warehouse holds, per class
            facts["table_rows"] = sum(r["n"] for r in rows if r["tbl"] in TABLES)
            facts["dlq_rows"] = {r["tbl"][4:]: r["n"] for r in rows
                                 if r["tbl"].startswith("dlq:")}
        facts["error"] = check_ingest_query(name, rows, self.expected, params)
        return facts


def _fmt(unix_s: int) -> str:
    return datetime.fromtimestamp(unix_s, tz=timezone.utc).strftime("%Y-%m-%d %H:%M:%S")


WORKLOADS = {"analytics": Analytics, "ingest_query": IngestQuery}
