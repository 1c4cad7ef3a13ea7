"""Engine facade — the surface a user of the reference stack switches to.

The reference gives its users three things (SURVEY.md §0): an ingestion
service (NATS -> nine ClickHouse tables), DDL for those tables
(``migrations/*.sql``), and a ClickHouse SQL endpoint to query them.
:class:`Engine` packages the Spark-native equivalents of all three:

    eng = Engine(warehouse="/data/wh")
    eng.init()                        # ≙ running the migrations (EP3)
    q = eng.ingest(source_dir)        # ≙ the NATS->ClickHouse service (EP1)
    eng.sql("SELECT toStartOfDay(timestamp) d, count(*) FROM "
            "angulak_watch_events GROUP BY 1")          # ≙ EP2
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ed_clickhouse_spark.functions import register_sql_aliases
from ed_clickhouse_spark.session import get_spark
from ed_clickhouse_spark.sources.registry import DLQ_TABLE, FAMILIES, BY_TABLE
from ed_clickhouse_spark.streaming.pipeline import fan_out, start_ingest


class _ToTableMV:
    """A ``CREATE MATERIALIZED VIEW mv TO target AS SELECT ...``
    insert trigger: per inserted batch, the body (typically -State
    aggregates) re-runs through the CLICKHOUSE dialect against the
    batch and appends into the TARGET table under its write policy —
    the classic MV → AggregatingMergeTree rollup pair. Reads then hit
    the target's own merged view with the -Merge spellings, exactly
    ClickHouse's TO semantics (the MV itself stores nothing).

    Duck-types the ddl.MatView trigger surface (``spec.source``,
    ``on_batch``) so both ch_sql INSERTs and the streaming ingest
    hook fire it."""

    @staticmethod
    def _depth0_ctes(sql: str) -> dict:
        """Depth-0 ``WITH name AS ( body )`` declarations → name→body.
        Scalar WITH forms (``WITH 1 AS x``) stop the scan — they don't
        introduce table names a FROM could target."""
        import re as _re

        from ed_clickhouse_spark.chsql import _call_end, _find_top

        out: dict = {}
        m = _find_top(sql, r"^\s*WITH\b")
        if not m:
            return out
        pos = m.end()
        rx = _re.compile(r"\s*`?(\w+)`?\s+AS\s*\(", _re.I)
        while True:
            mm = rx.match(sql, pos)
            if not mm:
                break
            open1 = sql.index("(", mm.end() - 1)
            close1 = _call_end(sql, open1)
            out[mm.group(1)] = sql[open1 + 1: close1]
            pos = close1 + 1
            sep = _re.match(r"\s*,", sql[pos:])
            if not sep:
                break
            pos += sep.end()
        return out

    def __init__(self, engine: "Engine", name: str, to_table: str,
                 body: str):
        from types import SimpleNamespace

        from ed_clickhouse_spark.chsql import _find_top

        # the SOURCE is the outer query's main FROM table — a depth-0
        # match, so a scalar subquery in the SELECT list (e.g.
        # SELECT (SELECT max(x) FROM other) ... FROM src) can't hijack
        # the binding (ADVICE r8)
        fm = _find_top(body, r"\bFROM\s+`?(\w+)`?")
        if not fm:
            # derived-table body (FROM (SELECT ...)): the leftmost
            # textual table reference is the feeding source
            import re as _re
            fm = _re.search(r"\bFROM\s+`?(\w+)`?", body, _re.I)
        if not fm:
            raise ValueError(
                "materialized view body must read FROM a source table"
            )
        source = fm.group(1)
        # ... but when the depth-0 FROM target is a CTE declared in
        # the body's own WITH clause (WITH x AS (SELECT ... FROM src)
        # SELECT ... FROM x), the REAL feeding table is the CTE's
        # source — resolve through the chain so the insert trigger
        # fires on inserts into src, not never (ADVICE r9)
        cte_map = self._depth0_ctes(body)
        seen: set = set()
        while source in cte_map and source not in seen:
            seen.add(source)
            sub = cte_map[source]
            sfm = _find_top(sub, r"\bFROM\s+`?(\w+)`?")
            if not sfm:
                import re as _re
                sfm = _re.search(r"\bFROM\s+`?(\w+)`?", sub, _re.I)
            if not sfm:
                break  # table-less CTE (SELECT 1): keep the CTE name
            source = sfm.group(1)
            # a nested WITH inside the CTE body scopes its own names
            cte_map = {**cte_map, **self._depth0_ctes(sub)}
        self.engine = engine
        self.to_table = to_table
        self.body = body
        self.spec = SimpleNamespace(name=name, source=source)

    def on_batch(self, batch: DataFrame, epoch_id=None) -> None:
        import re as _re

        from ed_clickhouse_spark import ddl as _ddl
        from ed_clickhouse_spark.chsql import translate as _tr

        view = f"__mv_batch_{self.spec.name}"
        batch.createOrReplaceTempView(view)
        # the trigger sees ONLY the inserted batch (CH semantics), so
        # the body's FROM <source> rebinds to the batch view — the
        # outer query's MAIN FROM only (depth-0, not a scalar subquery
        # that happens to appear first textually): ClickHouse feeds the
        # inserted block to the leftmost main-FROM table, while a
        # self-join's other references read the stored table
        from ed_clickhouse_spark.chsql import _find_top as _ft

        fm = _ft(self.body, rf"\bFROM\s+`?{self.spec.source}`?\b")
        if fm is None:
            # derived-table body: same fallback __init__ took
            fm = _re.search(
                rf"\bFROM\s+`?{self.spec.source}`?\b", self.body, _re.I
            )
        if fm is None:  # unreachable: __init__ anchored the same match
            raise ValueError(
                f"MV {self.spec.name}: source {self.spec.source!r} not"
                " found at the top level of the body"
            )
        body = (
            self.body[: fm.start()] + f"FROM {view}"
            + self.body[fm.end():]
        )
        out = self.engine.spark.sql(
            _tr(body, self.engine.table_specs).sql
        )
        spec = self.engine.table_specs[self.to_table]
        # align to the target's declared columns (positional SELECT
        # aliases must already match, like a CH INSERT SELECT)
        out = out.select(*[f.name for f in spec.schema.fields])
        _ddl.append_rows(out, spec, self.engine.warehouse)
        _ddl.register_view(
            self.engine.spark, spec, self.engine.warehouse
        )

    # ClickHouse TO semantics: the MV name is an alias of the target
    # table (the MV stores nothing itself) — both read surfaces serve
    # the target's merged view, and -Merge queries read it directly
    def read(self, keys=None) -> DataFrame:
        return self.engine.spark.table(self.to_table)

    def states(self) -> DataFrame:
        return self.engine.spark.table(self.to_table)


class Engine:
    """One warehouse of the nine event tables + DLQ, with the ClickHouse
    SQL vocabulary registered."""

    def __init__(self, warehouse: str, spark: SparkSession | None = None):
        self.warehouse = warehouse
        self.spark = spark or get_spark("ed_clickhouse_spark")
        # per-engine ingestion defaults; Engine.from_config overrides
        # these from the [batcher] section (≙ reference config/default.toml)
        self.ingest_defaults: dict = {}
        self.table_specs: dict = {}
        self.matviews: dict = {}  # name -> ddl.MatView (insert triggers)
        self._detached: dict = {}  # name -> TableSpec (DETACH TABLE)
        self._query_log: list = []
        register_sql_aliases(self.spark)

    @classmethod
    def from_config(cls, path: str) -> "Engine":
        """Build an Engine from one TOML file — parity with the
        reference's end-to-end TOML surface (src/config.rs:4-118,
        config/default.toml). Sections:

          [warehouse] path                   (required)
          [batcher]   max_rows, max_bytes, flush_interval_ms
                        (≙ config/default.toml:41-43; become the ingest
                         defaults: rows cap, bytes cap, trigger interval)
          [spark]     shuffle_partitions, broadcast_threshold, and any
                        literal conf keys under [spark.conf]
          [kafka]     bootstrap_servers, topics
                        (≙ the [nats] connection block; used by
                         ingest_kafka when no explicit args are given)

        Note Spark session semantics: get_spark getOrCreate-s, so [spark]
        settings apply to a NEW session; an already-running session keeps
        its conf (set runtime confs on it directly instead)."""
        import tomllib

        with open(path, "rb") as f:
            cfg = tomllib.load(f)
        wh = cfg["warehouse"]["path"]
        sp = cfg.get("spark", {})
        extra = {str(k): str(v) for k, v in sp.get("conf", {}).items()}
        if "broadcast_threshold" in sp:
            extra["spark.sql.autoBroadcastJoinThreshold"] = str(sp["broadcast_threshold"])
        spark = get_spark(
            sp.get("app_name", "ed_clickhouse_spark"),
            shuffle_partitions=sp.get("shuffle_partitions"),
            extra_conf=extra,
        )
        eng = cls(wh, spark)
        b = cfg.get("batcher", {})
        if "max_rows" in b:
            eng.ingest_defaults["max_rows"] = int(b["max_rows"])
        if "max_bytes" in b:
            eng.ingest_defaults["bytes_per_trigger"] = int(b["max_bytes"])
        if "flush_interval_ms" in b:
            eng.ingest_defaults["trigger_interval_ms"] = int(b["flush_interval_ms"])
        k = cfg.get("kafka", {})
        if k:
            eng.ingest_defaults["kafka"] = {
                "bootstrap_servers": k.get("bootstrap_servers", "localhost:9092"),
                "topics": list(k.get("topics", [])),
            }
        n = cfg.get("nats", {})
        if n:
            # the reference's [nats] block verbatim (config/default.toml:
            # 10-28): host/ports + auth + stream/consumer identity
            eng.ingest_defaults["nats"] = {
                "url": "nats://{}:{}".format(
                    n.get("host", "localhost"), n.get("client_port", 4222)
                ),
                "subjects": list(n.get("subjects", [])),
                "durable": n.get("consumer_name", "click-consumer"),
                "stream": n.get("stream_config", {}).get(
                    "name", "ClickHouseConsumer"
                ),
            }
        return eng

    # -- EP3: provisioning ------------------------------------------------
    def init(self) -> None:
        """Idempotently create all event tables (empty parquet layout) and
        register them as views — ≙ `CREATE TABLE IF NOT EXISTS` migrations
        (reference migrations/002..011)."""
        os.makedirs(self.warehouse, exist_ok=True)
        for fam in FAMILIES:
            path = os.path.join(self.warehouse, fam.table)
            if not os.path.exists(path):
                empty = self.spark.createDataFrame([], fam.table_schema)
                empty.write.mode("overwrite").parquet(path)
        self.refresh_views()

    def _register_mv(self, mv) -> None:
        """Register both read surfaces of a materialized view: the MV
        name reads MERGED (final values — the default a Spark user
        wants), and ``<name>_state`` exposes the raw mergeable partials
        so saved ClickHouse ``-Merge`` queries (countMerge/sumMerge/
        uniqMerge) run verbatim through ch_sql."""
        mv.read().createOrReplaceTempView(mv.spec.name)
        mv.states().createOrReplaceTempView(f"{mv.spec.name}_state")

    def refresh_views(self) -> None:
        """(Re)register every existing table as a temp view, the ten
        reads (schema + file listing each) concurrently."""
        views = {f.table: f.table for f in FAMILIES} | {DLQ_TABLE: "dlq"}

        def register(table):
            path = os.path.join(self.warehouse, table)
            self.spark.read.parquet(path).createOrReplaceTempView(views[table])

        fan_out(
            self.spark,
            register,
            [t for t in views if os.path.exists(os.path.join(self.warehouse, t))],
        )

    def migrate(self, migrations_dir: str):
        """Apply a directory of ClickHouse ``*.up.sql`` migrations —
        the reference's own provisioning path (migrations/002..011): each
        CREATE TABLE is translated (ddl.py) to a Spark schema + write
        policy and provisioned idempotently.  A user can point their
        existing ClickHouse migrations here unchanged.  Returns the
        parsed TableSpecs."""
        from ed_clickhouse_spark import ddl

        os.makedirs(self.warehouse, exist_ok=True)
        specs = ddl.migrate(self.spark, migrations_dir, self.warehouse)
        self.table_specs = {s.name: s for s in specs}
        # CREATE MATERIALIZED VIEW statements: ClickHouse insert triggers.
        # Provisioned as MatView wrappers — ch_sql INSERTs and the ingest
        # pipeline (views= hook) both fire them per batch.
        import re as _re

        for fn in sorted(os.listdir(migrations_dir)):
            if not fn.endswith(".up.sql"):
                continue
            with open(os.path.join(migrations_dir, fn)) as f:
                for stmt in ddl._split_top(f.read(), ";"):
                    if _re.search(r"CREATE\s+MATERIALIZED\s+VIEW", stmt, _re.I):
                        mspec = ddl.parse_materialized_view(stmt)
                        self.matviews[mspec.name] = ddl.MatView(
                            self.spark, mspec, self.warehouse
                        )
        return specs

    # -- EP1: ingestion ---------------------------------------------------
    def ingest(self, source_dir: str, checkpoint: str | None = None, **kw):
        """Start the streaming ingestion into this warehouse; returns the
        StreamingQuery (stop() for graceful shutdown ≙ ctrl-c drain).
        Config-file batcher settings apply unless overridden in ``kw``."""
        ckpt = checkpoint or os.path.join(self.warehouse, "_checkpoints", "ingest")
        for key in ("bytes_per_trigger", "trigger_interval_ms"):
            if key in self.ingest_defaults:
                kw.setdefault(key, self.ingest_defaults[key])
        if self.matviews:
            views = dict(kw.get("views") or {})
            for mv in self.matviews.values():
                views.setdefault(mv.spec.source, []).append(mv)
            kw["views"] = views
        return start_ingest(self.spark, source_dir, self.warehouse, ckpt, **kw)

    def ingest_kafka(
        self,
        bootstrap_servers: str | None = None,
        topics: list[str] | None = None,
        checkpoint: str | None = None,
        **kw,
    ):
        """Kafka-mode ingestion (production path; ≙ the reference's NATS
        consumer). Connection defaults come from the [kafka] config
        section; the [batcher] rows cap maps to maxOffsetsPerTrigger."""
        from ed_clickhouse_spark.streaming.pipeline import start_ingest_kafka

        kcfg = self.ingest_defaults.get("kafka", {})
        ddl_src = self._kafka_ddl_source()
        servers = bootstrap_servers or kcfg.get("bootstrap_servers") or ddl_src[0]
        tops = topics or kcfg.get("topics") or ddl_src[1]
        if not servers or not tops:
            raise ValueError("kafka mode needs bootstrap_servers and topics "
                             "(args or [kafka] config section)")
        ckpt = checkpoint or os.path.join(self.warehouse, "_checkpoints", "ingest_kafka")
        if "max_rows" in self.ingest_defaults:
            kw.setdefault("max_offsets_per_trigger", self.ingest_defaults["max_rows"])
        if "trigger_interval_ms" in self.ingest_defaults:
            kw.setdefault("trigger_interval_ms", self.ingest_defaults["trigger_interval_ms"])
        return start_ingest_kafka(
            self.spark, servers, tops, self.warehouse, ckpt, **kw
        )

    def ingest_nats(
        self,
        client=None,
        spool_dir: str | None = None,
        checkpoint: str | None = None,
        **kw,
    ):
        """NATS-mode ingestion (the reference's literal stack,
        src/nats.rs:63-83): a JetStream fetch/ack ``client`` drives a
        :class:`~ed_clickhouse_spark.sources.nats.NatsBridge` spool and
        the checkpointed file ingest consumes it.  Without an explicit
        client, one is connected from the [nats] config section via the
        public nats-py package (raises with the bridge recipe when the
        package is absent).  Returns ``(query, bridge)`` — the caller
        pumps the bridge on its own cadence."""
        from ed_clickhouse_spark.sources.nats import (
            NatsBridge,
            connect_nats,
            start_ingest_nats,
        )

        if client is None:
            ncfg = self.ingest_defaults.get("nats")
            if not ncfg:
                raise ValueError(
                    "nats mode needs a client or a [nats] config section"
                )
            client = connect_nats(
                ncfg["url"], ncfg["stream"], ncfg["durable"], ncfg["subjects"]
            )
        spool = spool_dir or os.path.join(self.warehouse, "_nats_spool")
        ckpt = checkpoint or os.path.join(
            self.warehouse, "_checkpoints", "ingest_nats"
        )
        if "max_rows" in self.ingest_defaults:
            kw.setdefault("max_files_per_trigger", 100)
        if "trigger_interval_ms" in self.ingest_defaults:
            kw.setdefault(
                "trigger_interval_ms", self.ingest_defaults["trigger_interval_ms"]
            )
        bridge = NatsBridge(
            client, spool, max_msgs=self.ingest_defaults.get("max_rows", 100_000)
        )
        query = start_ingest_nats(self.spark, bridge, self.warehouse, ckpt, **kw)
        return query, bridge

    def _kafka_ddl_source(self) -> tuple[str | None, list[str] | None]:
        """Connection details declared by an ``ENGINE = Kafka`` table in
        the migrations (``kafka_broker_list`` / ``kafka_topic_list``
        SETTINGS — the ClickHouse Kafka-engine spelling). Lowest-
        precedence default for :meth:`ingest_kafka`."""
        for spec in self.table_specs.values():
            if spec.engine.lower() == "kafka":
                s = spec.settings
                topics = s.get("kafka_topic_list")
                return (
                    s.get("kafka_broker_list"),
                    [t.strip() for t in topics.split(",")] if topics else None,
                )
        return (None, None)

    # -- EP2: query -------------------------------------------------------
    def sql(self, query: str) -> DataFrame:
        """Spark SQL over the event tables (ClickHouse spellings like
        toStartOfDay/JSONExtractString registered). Every call is
        recorded in :meth:`query_log` (≙ ``system.query_log``)."""
        import time as _time

        t0 = _time.time()
        df = self.spark.sql(query)
        self._query_log.append(
            (t0, "spark", query, round((_time.time() - t0) * 1000, 3))
        )
        return df

    def query_log(self) -> DataFrame:
        """≙ ClickHouse ``system.query_log``: one row per sql()/ch_sql()
        call — epoch seconds, dialect, query text, PLANNING milliseconds
        (execution is lazy in Spark, so run time lands on the action;
        the log captures what the server-side log's `query` + parse
        columns capture). Driver-side list; bounded by session life."""
        return self.spark.createDataFrame(
            self._query_log or [(0.0, "spark", "", 0.0)],
            "event_time double, dialect string, query string, plan_ms double",
        ).filter(F.col("query") != "")

    def ch_sql(self, query: str, params: dict | None = None) -> DataFrame:
        """Run a CLICKHOUSE-dialect query: the clause-level syntax the
        reference's users write (PREWHERE, FINAL, SAMPLE, ARRAY JOIN,
        LIMIT BY, WITH TOTALS, FORMAT, SETTINGS) is rewritten to Spark
        SQL (chsql.translate) against the migrated views; the function
        spellings are already registered. ``params`` fills
        clickhouse-client ``{name:Type}`` placeholders with typed
        literals before any parsing. A requested FORMAT name is
        recorded on the result as ``df.ch_format``."""
        import time as _time

        from ed_clickhouse_spark.chsql import substitute_params, translate

        t0 = _time.time()
        if params:
            query = substitute_params(query, params)
        meta = self._maybe_meta(query)
        if meta is not None:
            self._query_log.append(
                (t0, "clickhouse", query, round((_time.time() - t0) * 1000, 3))
            )
            return meta
        ins = self._maybe_insert(query)
        if ins is not None:
            self._query_log.append(
                (t0, "clickhouse", query.split("\n", 1)[0],
                 round((_time.time() - t0) * 1000, 3))
            )
            return ins
        mut = self._maybe_mutation(query)
        if mut is not None:
            self._query_log.append(
                (t0, "clickhouse", query, round((_time.time() - t0) * 1000, 3))
            )
            return mut
        tr = translate(query, self.table_specs)
        if "system_" in tr.sql:
            self._refresh_system_views()
        sql = self._route_projection(tr.sql)
        df = self.spark.sql(sql)
        df.ch_format = tr.format
        self._query_log.append(
            (t0, "clickhouse", query, round((_time.time() - t0) * 1000, 3))
        )
        return df

    def _maybe_meta(self, query: str):
        """ClickHouse metadata statements: ``SHOW CREATE TABLE t``
        (canonical DDL reconstructed from the migrated spec — parse
        round-trip pinned in test_ddl) and ``EXISTS TABLE t``. Other
        SHOW/DESCRIBE forms pass through — Spark's own SHOW TABLES /
        DESCRIBE TABLE accept the same spelling."""
        import re as _re

        q0 = query.strip().rstrip(";").strip()
        if _re.match(r"^SHOW\s+PROCESSLIST$", q0, _re.I):
            self._refresh_system_views()
            return self.spark.table("system_processes")
        if _re.match(r"^SHOW\s+DICTIONARIES$", q0, _re.I):
            self._refresh_system_views()
            return self.spark.table("system_dictionaries").select("name")
        m = _re.match(
            r"^SHOW\s+SETTINGS(?:\s+(?:I?LIKE)\s+'([^']*)')?$", q0, _re.I
        )
        if m:
            self._refresh_system_views()
            df = self.spark.table("system_settings")
            if m.group(1):
                df = df.where(F.col("name").like(m.group(1)))
            return df
        m = _re.match(
            r"^SHOW\s+(?:TEMPORARY\s+)?TABLES\s+(NOT\s+)?(I?LIKE)"
            r"\s+'([^']*)'$", q0, _re.I
        )
        if m:
            # Spark's own SHOW TABLES LIKE takes a GLOB, not SQL LIKE
            # (batch-84: LIKE 't%' silently matched nothing) — filter
            # Spark's listing with the real LIKE/ILIKE/NOT semantics
            df = self.spark.sql("SHOW TABLES")
            col = F.col("tableName")
            cond = (
                col.ilike(m.group(3))
                if m.group(2).upper() == "ILIKE" else col.like(m.group(3))
            )
            if m.group(1):
                cond = ~cond
            return df.where(cond)
        if _re.match(r"^SHOW\s+GRANTS\b", q0, _re.I):
            # single-tenant: the session user owns everything
            return self.spark.createDataFrame(
                [(f"GRANT ALL ON *.* TO {os.environ.get('USER', 'default')}"
                  " WITH GRANT OPTION",)],
                "grants string",
            )
        if _re.match(r"^(GRANT|REVOKE)\b", q0, _re.I):
            raise ValueError(
                "GRANT/REVOKE are not implemented — this engine is"
                " single-tenant (no access-control store); enforce"
                " permissions at the lakehouse/catalog layer"
            )
        m = _re.match(r"^\s*SHOW\s+CREATE\s+TABLE\s+(\w+)\s*;?\s*$", query, _re.I)
        if m:
            from ed_clickhouse_spark.ddl import show_create

            spec = self.table_specs.get(m.group(1))
            if spec is None:
                raise KeyError(f"unknown table {m.group(1)!r}; run migrate() first")
            return self.spark.createDataFrame(
                [(show_create(spec),)], "statement string"
            )
        # the TABLE keyword is optional in clickhouse-client
        m = _re.match(
            r"^\s*EXISTS\s+(?:TABLE\s+)?(\w+)\s*;?\s*$", query, _re.I
        )
        if m:
            name = m.group(1)
            # a table exists if migrations declared it OR the engine
            # provisioned/registered it (event families, CTAS views)
            known = (
                name in self.table_specs
                or self.spark.catalog.tableExists(name)
                or os.path.exists(os.path.join(self.warehouse, name))
            )
            return self.spark.createDataFrame(
                [(1 if known else 0,)], "result int"
            )
        if _re.match(r"^KILL\s+QUERY\b", q0, _re.I):
            # single-process engine: ch_sql calls are synchronous, so
            # by the time KILL parses there is nothing in-flight —
            # SHOW PROCESSLIST is empty for the same reason. CH's
            # response shape: one row per matched query, so none.
            # (KILL MUTATION keeps its status-row handler below.)
            return self.spark.createDataFrame(
                [], "query_id string, result string"
            )
        m = _re.match(
            r"^\s*EXPLAIN\s+(SYNTAX|AST|PIPELINE|PLAN|ESTIMATE)?\s*(.+)$",
            query,
            _re.I | _re.S,
        )
        if m:
            # ClickHouse EXPLAIN SELECT ... -> Spark's plan for the
            # TRANSLATED query (including projection routing), so users
            # see what actually executes. Variants (r8 batch 50):
            # SYNTAX/AST -> the translated SQL itself (CH returns the
            # rewritten query — ours IS the rewrite output);
            # PIPELINE -> the formatted physical plan; ESTIMATE ->
            # per-table rows/parts/bytes from the warehouse metadata
            # (the same numbers system.parts serves); PLAN/default ->
            # Spark's EXPLAIN.
            from ed_clickhouse_spark.chsql import translate as _tr

            kind = (m.group(1) or "PLAN").upper()
            inner = self._route_projection(
                _tr(m.group(2), self.table_specs).sql
            )
            if kind in ("SYNTAX", "AST"):
                return self.spark.createDataFrame(
                    [(inner,)], "explain string"
                )
            if kind == "ESTIMATE":
                # CH shape: (table, parts, rows, bytes) per scanned
                # table. parts/bytes come from the warehouse metadata;
                # rows is a parquet-footer count (metadata-only scan)
                self._refresh_system_views()
                tables = [
                    t for t in self.table_specs
                    if _re.search(rf"\b{t}\b", inner)
                ]
                meta = {
                    r["name"]: (r["n_files"], r["bytes"])
                    for r in self.spark.table("system_parts")
                    .where(F.col("name").isin(tables)).collect()
                }
                rows = [
                    (
                        t,
                        int(meta.get(t, (0, 0))[0]),
                        self.spark.table(t).count(),
                        int(meta.get(t, (0, 0))[1]),
                    )
                    for t in tables
                ]
                return self.spark.createDataFrame(
                    rows,
                    "table string, parts long, rows long, bytes long",
                )
            if kind == "PIPELINE":
                return self.spark.sql(f"EXPLAIN FORMATTED {inner}")
            return self.spark.sql(f"EXPLAIN {inner}")
        return None

    def _route_projection(self, sql: str) -> str:
        """ClickHouse-style automatic projection selection, for the safe
        subset: a single-table ``SELECT dims+aggs FROM t [WHERE on dims]
        GROUP BY dims [HAVING/ORDER BY/LIMIT]`` whose aggregates are all
        derivable from one projection's partial states is rewritten to
        scan ``t__proj_<name>_parts`` (one row per insert batch × dims)
        instead of the fact table, re-aggregating the mergeable partials
        (sum/count re-sum, min/max re-min/max, avg = sum/count).  GROUP BY
        any SUBSET of the projection dims works — exactly the rollups the
        projection exists to serve.  Anything that doesn't validate falls
        through untouched (fail-open): joins, subqueries, non-dim
        predicates, aggregates the projection doesn't carry."""
        import re as _re

        if _re.search(r"\b(JOIN|UNION|WITH|DISTINCT|OVER)\b", sql, _re.I):
            return sql
        m = _re.search(r"\bFROM\s+(\w+)\b", sql, _re.I)
        if not m or sql[: m.start()].count("(") != sql[: m.start()].count(")"):
            return sql
        table = m.group(1)
        spec = self.table_specs.get(table)
        if spec is None or not spec.projections:
            return sql
        base_cols = {f.name for f in spec.schema.fields}
        for proj in spec.projections:
            if not proj.is_aggregate:
                continue
            new = sql
            ok = True
            for func, col, alias in proj.aggs:
                if func == "count":
                    pat = r"\bcount\s*\(\s*\*?\s*\)"
                    rep = f"sum(__cnt_{alias})"
                elif func == "avg":
                    pat = rf"\bavg\s*\(\s*`?{_re.escape(col)}`?\s*\)"
                    rep = f"(sum(__sum_{alias}) / sum(__cnt_{alias}))"
                elif func == "sum":
                    pat = rf"\bsum\s*\(\s*`?{_re.escape(col)}`?\s*\)"
                    rep = f"sum(__sum_{alias})"
                else:
                    pat = rf"\b{func}\s*\(\s*`?{_re.escape(col)}`?\s*\)"
                    rep = f"{func}(__{func}_{alias})"
                new = _re.sub(pat, rep, new, flags=_re.I)
            # any aggregate the projection can't serve -> fall through
            # (identify leftover agg calls not over partial __ columns)
            for am in _re.finditer(r"\b(sum|min|max|avg|count)\s*\(\s*([^)]*)\)", new, _re.I):
                if not am.group(2).strip().startswith("__"):
                    ok = False
                    break
            if ok:
                # every base-table column still referenced must be a dim
                ids = set(_re.findall(r"[A-Za-z_]\w*", new))
                if (ids & base_cols) - set(proj.dims):
                    ok = False
            if ok:
                return _re.sub(
                    rf"\bFROM\s+{table}\b",
                    f"FROM {table}__proj_{proj.name}_parts",
                    new,
                    flags=_re.I,
                )
        return sql

    def _maybe_mutation(self, query: str):
        """ClickHouse operational statements, routed onto the mutation /
        compaction operators (operators/mutate.py) so the spellings a
        reference user runs work verbatim:

          ALTER TABLE t DELETE WHERE <pred>
          ALTER TABLE t UPDATE a = <expr>[, ...] WHERE <pred>
          ALTER TABLE t DROP PARTITION <value>
          OPTIMIZE TABLE t [PARTITION <value>] [FINAL]
          TRUNCATE TABLE t

        Expressions go through F.expr with the ClickHouse SQL spellings
        registered, so ``toDate(ts) = '2024-01-01'`` works.  All paths
        are partition-selective (never a full-table rewrite unless every
        partition matches); views are re-registered afterwards.  Returns
        a 1-row status DataFrame, or None when not a mutation."""
        import re as _re

        from ed_clickhouse_spark.operators import mutate as _mut

        def _table(name: str):
            spec = self.table_specs.get(name)
            path = os.path.join(self.warehouse, name)
            if not os.path.isdir(path):
                raise KeyError(f"unknown table {name!r}")
            return spec, path

        def _mutation_read_args(spec):
            # rename-aware rewrite args (both column spellings read and
            # canonicalized); path-only tables fall back to mergeSchema
            # inside the mutation helpers
            if spec is None:
                return None, None
            from ed_clickhouse_spark import ddl as _ddl

            return _ddl.mutation_read_args(spec)

        def _done(table: str, op: str, n) -> DataFrame:
            spec = self.table_specs.get(table)
            if spec is not None:
                from ed_clickhouse_spark import ddl as _ddl

                _ddl.register_view(self.spark, spec, self.warehouse)
            else:
                self.refresh_views()
            return self.spark.createDataFrame(
                [(table, op, int(n))], "table string, op string, affected long"
            )

        def _rebuild_projections(table: str) -> None:
            # Mutations invalidate insert-time partial states; like
            # ClickHouse (which rebuilds or drops projection parts on
            # mutations), rebuild each projection from the current base —
            # one pass over the mutated table, not the history.
            spec = self.table_specs.get(table)
            if spec is None or not spec.projections:
                return
            from ed_clickhouse_spark import ddl as _ddl

            base = self.spark.read.parquet(os.path.join(self.warehouse, table))
            for proj in spec.projections:
                _ddl.projection_batch(base, proj).write.mode("overwrite").parquet(
                    _ddl.projection_path(self.warehouse, table, proj.name)
                )

        q = query.strip().rstrip(";").strip()
        m = _re.match(
            r"^CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?(\w+)\s*(.*?)\s*"
            r"\bAS\s+(SELECT\b.+)$",
            q,
            _re.I | _re.S,
        )
        if m:
            return self._create_table_as(m.group(1), m.group(2), m.group(3))
        m = _re.match(
            r"^CREATE\s+(OR\s+REPLACE\s+)?TABLE\s+(IF\s+NOT\s+EXISTS\s+)?"
            r"`?(\w+)`?\s+AS\s+`?(\w+)`?\s*(?:ENGINE\s*=.*)?$",
            q,
            _re.I | _re.S,
        )
        if m:
            # structure clone (CREATE TABLE a AS b): same spec, empty data
            from dataclasses import replace as _replace

            from ed_clickhouse_spark import ddl as _ddl

            src_spec, _sp = _table(m.group(4))
            if src_spec is None:
                raise KeyError(f"no spec for table {m.group(4)!r}")
            name = m.group(3)
            if name in self.table_specs:
                if m.group(2):
                    return _done(name, "create_table", 0)
                if not m.group(1):
                    raise ValueError(f"table {name!r} already exists")
                self._maybe_mutation(f"DROP TABLE {name}")
            spec = _replace(src_spec, name=name, projections=[])
            _ddl.provision_table(self.spark, spec, self.warehouse)
            self.table_specs[name] = spec
            return _done(name, "create_table", 1)
        m = _re.match(
            r"^CREATE\s+(OR\s+REPLACE\s+)?TABLE\s+(IF\s+NOT\s+EXISTS\s+)?"
            r"`?(\w+)`?\s*\(",
            q,
            _re.I | _re.S,
        )
        if m:
            # ad-hoc CREATE TABLE through ch_sql — the same ddl.py
            # parse/provision path migrate() runs, so a reference
            # user's interactive DDL works without a migration file
            from ed_clickhouse_spark import ddl as _ddl

            name = m.group(3)
            if name in self.table_specs:
                if m.group(2):
                    return _done(name, "create_table", 0)
                if not m.group(1):
                    raise ValueError(
                        f"table {name!r} already exists — use"
                        " CREATE OR REPLACE TABLE or IF NOT EXISTS"
                    )
                self._maybe_mutation(f"DROP TABLE {name}")
            stmt = _re.sub(
                r"^CREATE\s+OR\s+REPLACE\s+TABLE",
                "CREATE TABLE",
                q,
                flags=_re.I,
            )
            spec = _ddl.parse_clickhouse_ddl(stmt)
            _ddl.provision_table(self.spark, spec, self.warehouse)
            self.table_specs[spec.name] = spec
            return _done(spec.name, "create_table", 1)
        m = _re.match(r"^CREATE\s+MATERIALIZED\s+VIEW\b", q, _re.I)
        if m:
            # interactive MV creation; POPULATE backfills from the
            # source's current contents (CH semantics: without it the
            # MV only sees future inserts)
            from ed_clickhouse_spark import ddl as _ddl

            populate = bool(_re.search(r"\bPOPULATE\b", q, _re.I))
            stmt = _re.sub(r"\bPOPULATE\b", "", q, flags=_re.I)
            tm = _re.match(
                r"^CREATE\s+MATERIALIZED\s+VIEW\s+"
                r"(?:IF\s+NOT\s+EXISTS\s+)?`?(\w+)`?\s+TO\s+`?(\w+)`?"
                r"\s+AS\s+((?:SELECT|WITH)\b.+)$",
                stmt,
                _re.I | _re.S,
            )
            if tm:
                # the TO form: partials land in the NAMED table (the
                # classic MV -> AggregatingMergeTree rollup pair). The
                # body — typically -State aggregates — re-runs through
                # the dialect per inserted batch and appends under the
                # target's write policy; reads then hit the target
                # table's own merged view with -Merge spellings.
                mv = _ToTableMV(self, tm.group(1), tm.group(2),
                                tm.group(3))
                if mv.to_table not in self.table_specs:
                    raise KeyError(
                        f"TO table {mv.to_table!r} does not exist —"
                        " CREATE it first (ClickHouse requires the"
                        " same)"
                    )
                if populate:
                    # ClickHouse rejects POPULATE with the TO clause
                    # ("POPULATE is not supported with TO [db].[table]")
                    # — match it; backfill with an explicit
                    # INSERT INTO target SELECT ... instead
                    raise ValueError(
                        "POPULATE is not allowed with"
                        " CREATE MATERIALIZED VIEW ... TO (ClickHouse"
                        " rejects it too) — backfill the target with"
                        " INSERT INTO ... SELECT"
                    )
                self.matviews[mv.spec.name] = mv
                return _done(tm.group(1), "create_materialized_view", 0)
            mspec = _ddl.parse_materialized_view(stmt)
            mv = _ddl.MatView(self.spark, mspec, self.warehouse)
            self.matviews[mspec.name] = mv
            if populate:
                mv.on_batch(self.spark.table(mspec.source))
            return _done(mspec.name, "create_materialized_view",
                         1 if populate else 0)
        m = _re.match(
            r"^CREATE\s+(?:OR\s+REPLACE\s+)?VIEW\s+(?:IF\s+NOT\s+EXISTS\s+)?"
            r"`?(\w+)`?\s+AS\s+(.+)$",
            q,
            _re.I | _re.S,
        )
        if m:
            # plain views: the body is CLICKHOUSE dialect — translate
            # it once and register the Spark SQL as a temp view
            from ed_clickhouse_spark.chsql import translate as _tr

            body = _tr(m.group(2), self.table_specs).sql
            self.spark.sql(
                f"CREATE OR REPLACE TEMPORARY VIEW {m.group(1)} AS {body}"
            )
            return _done(m.group(1), "create_view", 1)
        m = _re.match(
            r"^DROP\s+VIEW\s+(?:IF\s+EXISTS\s+)?`?(\w+)`?\s*$", q, _re.I
        )
        if m:
            existed = self.spark.catalog.dropTempView(m.group(1))
            return _done(m.group(1), "drop_view", 1 if existed else 0)
        m = _re.match(
            r"^EXCHANGE\s+TABLES\s+`?(\w+)`?\s+AND\s+`?(\w+)`?\s*$", q, _re.I
        )
        if m:
            # atomic name swap: three directory renames + spec swap
            from dataclasses import replace as _replace

            from ed_clickhouse_spark import ddl as _ddl

            a, b = m.group(1), m.group(2)
            sa, pa = _table(a)
            sb, pb = _table(b)
            if sa is None or sb is None:
                raise KeyError(f"EXCHANGE TABLES: no spec for {a!r}/{b!r}")
            tmp = pa + ".__xchg"
            os.rename(pa, tmp)
            os.rename(pb, pa)
            os.rename(tmp, pb)
            na, nb = _replace(sb, name=a), _replace(sa, name=b)
            self.table_specs[a], self.table_specs[b] = na, nb
            _ddl.register_view(self.spark, na, self.warehouse)
            _ddl.register_view(self.spark, nb, self.warehouse)
            return _done(a, f"exchange_tables:{b}", 2)
        m = _re.match(
            r"^DETACH\s+TABLE\s+(?:IF\s+EXISTS\s+)?`?(\w+)`?"
            r"(?:\s+PERMANENTLY)?\s*$",
            q,
            _re.I,
        )
        if m:
            # metadata-only: the files stay, the name stops resolving
            name = m.group(1)
            spec = self.table_specs.pop(name, None)
            if spec is None:
                return _done(name, "detach_table", 0)
            self._detached[name] = spec
            self.spark.catalog.dropTempView(name)
            self.spark.catalog.dropTempView(f"{name}_raw")
            return self.spark.createDataFrame(
                [(name, "detach_table", 1)],
                "table string, op string, affected long",
            )
        m = _re.match(
            r"^ATTACH\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?`?(\w+)`?\s*$",
            q,
            _re.I,
        )
        if m:
            from ed_clickhouse_spark import ddl as _ddl

            name = m.group(1)
            spec = self._detached.pop(name, None)
            if spec is None:
                raise KeyError(
                    f"table {name!r} is not detached — ATTACH"
                    " re-registers a DETACHed table's files"
                )
            self.table_specs[name] = spec
            _ddl.register_view(self.spark, spec, self.warehouse)
            return _done(name, "attach_table", 1)
        m = _re.match(
            r"^ALTER\s+TABLE\s+(\w+)\s+FREEZE"
            r"(?:\s+WITH\s+NAME\s+'(\w+)')?\s*$",
            q,
            _re.I,
        )
        if m:
            # snapshot via hardlinks under <warehouse>/shadow/<label>/,
            # exactly ClickHouse's FREEZE mechanism (copy2 fallback for
            # filesystems without link support)
            spec, path = _table(m.group(1))
            if spec is None and not os.path.isdir(path):
                raise KeyError(f"no table {m.group(1)!r}")
            shadow_root = os.path.join(self.warehouse, "shadow")
            os.makedirs(shadow_root, exist_ok=True)
            label = m.group(2) or str(len(os.listdir(shadow_root)) + 1)
            dest_root = os.path.join(shadow_root, label, m.group(1))
            n = 0
            for root, _dirs, files in os.walk(path):
                rel = os.path.relpath(root, path)
                dest = os.path.join(dest_root, rel)
                os.makedirs(dest, exist_ok=True)
                for fn in files:
                    dst = os.path.join(dest, fn)
                    if os.path.exists(dst):
                        continue
                    try:
                        os.link(os.path.join(root, fn), dst)
                    except OSError:
                        import shutil as _shutil

                        _shutil.copy2(os.path.join(root, fn), dst)
                    n += 1
            return _done(m.group(1), f"freeze:{label}", n)
        m = _re.match(
            r"^ALTER\s+TABLE\s+(\w+)\s+MODIFY\s+COMMENT\s+'.*'\s*$",
            q,
            _re.I | _re.S,
        )
        if m:
            # table comments are metadata-only, like COMMENT COLUMN
            return _done(m.group(1), "modify_comment", 1)
        m = _re.match(
            r"^ALTER\s+TABLE\s+(\w+)\s+MATERIALIZE\s+COLUMN\s+`?(\w+)`?\s*$",
            q,
            _re.I,
        )
        if m:
            # MATERIALIZED/DEFAULT expressions are computed on READ here
            # (the served view), so a file backfill is semantically a
            # no-op — accepted so CH maintenance scripts run unchanged
            return _done(m.group(1), f"materialize_column:{m.group(2)}", 0)
        if _re.match(
            r"^ALTER\s+TABLE\s+\w+\s+(ATTACH|DETACH)\s+PARTITION\b",
            q, _re.I,
        ):
            raise ValueError(
                "ALTER ... ATTACH/DETACH PARTITION is not implemented —"
                " there is no detached-parts store here; use ALTER"
                " TABLE t DROP PARTITION to remove data and INSERT /"
                " sources/io.py to add it"
            )
        if _re.match(r"^ALTER\s+TABLE\s+\w+\s+CLEAR\s+COLUMN\b", q, _re.I):
            raise ValueError(
                "ALTER ... CLEAR COLUMN is not implemented — run"
                " ALTER TABLE t UPDATE col = <default> WHERE"
                " <partition predicate> (the same rewrite ClickHouse"
                " executes)"
            )
        m = _re.match(
            r"^DELETE\s+FROM\s+(\w+)\s+WHERE\s+(.+)$", q, _re.I | _re.S
        )
        if m:
            # lightweight DELETE: identical end state to ALTER DELETE
            # here (no mask column — mutations are synchronous)
            _spec, path = _table(m.group(1))
            rs, cf = _mutation_read_args(_spec)
            n = _mut.delete_where(
                self.spark, path, F.expr(m.group(2)),
                read_schema=rs, conform=cf,
            )
            _rebuild_projections(m.group(1))
            return _done(m.group(1), "delete", n)
        if _re.match(r"^KILL\s+MUTATION\b", q, _re.I):
            # mutations run synchronously inside ch_sql — there is
            # never a pending mutation to kill
            return self.spark.createDataFrame(
                [("", "kill_mutation", 0)],
                "table string, op string, affected long",
            )
        m = _re.match(
            r"^SYSTEM\s+(STOP|START)\s+MERGES(?:\s+`?(\w+)`?)?\s*$",
            q,
            _re.I,
        )
        if m:
            # merges happen only inside OPTIMIZE here — no background
            # scheduler to pause
            return self.spark.createDataFrame(
                [(m.group(2) or "", f"{m.group(1).lower()}_merges", 0)],
                "table string, op string, affected long",
            )
        if _re.match(r"^SYSTEM\s+FLUSH\s+LOGS\s*$", q, _re.I):
            # the query log is in-memory and always current
            return self.spark.createDataFrame(
                [("", "flush_logs", len(self._query_log))],
                "table string, op string, affected long",
            )
        m = _re.match(
            r"^SYSTEM\s+RELOAD\s+DICTIONAR(?:Y\s+`?(\w+)`?|IES)\s*$",
            q,
            _re.I,
        )
        if m:
            # dictionaries snapshot their source at CREATE; re-running
            # CREATE DICTIONARY is the refresh (LIFETIME stance)
            from ed_clickhouse_spark.operators import dictionary as _dic

            return self.spark.createDataFrame(
                [(m.group(1) or "", "reload_dictionaries",
                  len(_dic._DICTS))],
                "table string, op string, affected long",
            )
        if _re.match(r"^SYSTEM\s+DROP\s+\w+\s+CACHE\s*$", q, _re.I):
            self.spark.catalog.clearCache()
            return self.spark.createDataFrame(
                [("", "drop_cache", 1)],
                "table string, op string, affected long",
            )
        if _re.match(r"^UNDROP\s+TABLE\b", q, _re.I):
            raise ValueError(
                "UNDROP TABLE is not implemented — DROP TABLE deletes"
                " files immediately here (no detached-parts retention);"
                " restore from an ALTER TABLE ... FREEZE snapshot under"
                " <warehouse>/shadow/"
            )
        m = _re.match(r"^CHECK\s+TABLE\s+`?(\w+)`?\s*$", q, _re.I)
        if m:
            # readability pass over every file (the role CH's checksum
            # verification plays); raises on a corrupt footer
            _spec, path = _table(m.group(1))
            self.spark.read.parquet(path).count()
            return self.spark.createDataFrame(
                [(m.group(1), "check_table", 1)],
                "table string, op string, affected long",
            )
        m = _re.match(r"^DROP\s+TABLE\s+(?:IF\s+EXISTS\s+)?(\w+)\s*$", q, _re.I)
        if m:
            name = m.group(1)
            path = os.path.join(self.warehouse, name)
            existed = os.path.isdir(path)
            if existed:
                import shutil as _shutil

                _shutil.rmtree(path)
            dropped = self.table_specs.pop(name, None)
            self.spark.catalog.dropTempView(name)
            self.spark.catalog.dropTempView(f"{name}_raw")
            for proj in (dropped.projections if dropped else []):
                from ed_clickhouse_spark import ddl as _ddl

                ppath = _ddl.projection_path(self.warehouse, name, proj.name)
                if os.path.isdir(ppath):
                    import shutil as _shutil

                    _shutil.rmtree(ppath)
                self.spark.catalog.dropTempView(f"{name}__proj_{proj.name}")
                self.spark.catalog.dropTempView(f"{name}__proj_{proj.name}_parts")
            return self.spark.createDataFrame(
                [(name, "drop_table", 1 if existed else 0)],
                "table string, op string, affected long",
            )
        m = _re.match(r"^RENAME\s+TABLE\s+(\w+)\s+TO\s+(\w+)\s*$", q, _re.I)
        if m:
            from dataclasses import replace as _replace

            old, new = m.group(1), m.group(2)
            spec, path = _table(old)
            os.rename(path, os.path.join(self.warehouse, new))
            self.spark.catalog.dropTempView(old)
            self.spark.catalog.dropTempView(f"{old}_raw")
            self.table_specs.pop(old, None)
            if spec is not None:
                spec = _replace(spec, name=new)
                self.table_specs[new] = spec
            return _done(new, "rename_table", 1)
        m = _re.match(
            r"^ALTER\s+TABLE\s+(\w+)\s+(ADD|DROP|RENAME|MODIFY)\s+COLUMN\b.*$",
            q,
            _re.I | _re.S,
        )
        if m:
            from ed_clickhouse_spark import ddl as _ddl

            spec = _ddl.apply_alter(self.spark, q, self.table_specs, self.warehouse)
            self.table_specs[spec.name] = spec
            return _done(spec.name, f"{m.group(2).lower()}_column", 1)
        m = _re.match(
            r"^ALTER\s+TABLE\s+(\w+)\s+ADD\s+(PROJECTION\s+.+)$", q, _re.I | _re.S
        )
        if m:
            from ed_clickhouse_spark import ddl as _ddl

            spec, path = _table(m.group(1))
            if spec is None:
                raise KeyError(f"no spec for table {m.group(1)!r}")
            proj = _ddl._parse_projection(m.group(2))
            if any(p.name == proj.name for p in spec.projections):
                raise ValueError(f"projection {proj.name!r} already exists")
            spec.projections.append(proj)
            # backfill (≙ MATERIALIZE PROJECTION): one pass over the
            # existing table builds the initial partial states; later
            # inserts maintain them incrementally
            base = self.spark.read.parquet(path)
            _ddl.projection_batch(base, proj).write.mode("overwrite").parquet(
                _ddl.projection_path(self.warehouse, spec.name, proj.name)
            )
            return _done(m.group(1), f"add_projection:{proj.name}", 1)
        m = _re.match(
            r"^ALTER\s+TABLE\s+(\w+)\s+DROP\s+PROJECTION\s+`?(\w+)`?\s*$", q, _re.I
        )
        if m:
            from ed_clickhouse_spark import ddl as _ddl

            spec, _path = _table(m.group(1))
            if spec is None:
                raise KeyError(f"no spec for table {m.group(1)!r}")
            keep = [p for p in spec.projections if p.name != m.group(2)]
            existed = len(keep) != len(spec.projections)
            spec.projections[:] = keep
            ppath = _ddl.projection_path(self.warehouse, m.group(1), m.group(2))
            if os.path.isdir(ppath):
                import shutil as _shutil

                _shutil.rmtree(ppath)
            self.spark.catalog.dropTempView(f"{m.group(1)}__proj_{m.group(2)}")
            self.spark.catalog.dropTempView(f"{m.group(1)}__proj_{m.group(2)}_parts")
            return _done(m.group(1), f"drop_projection:{m.group(2)}", 1 if existed else 0)
        # mutation predicates CAST to BOOLEAN (batch-85): CH treats any
        # nonzero numeric as true (ALTER ... WHERE 1), where Spark's
        # ANSI filter demands a boolean — the cast is a no-op on real
        # predicates and CH-exact on numerics. The optional
        # `IN PARTITION 'v'` clause folds into the predicate as a
        # partition-column equality, which _affected_partitions prunes
        # on — the metadata-speed path CH users expect.
        def _mut_pred(where: str, path: str, part):
            pred = F.expr(where).cast("boolean")
            if part is not None:
                pc = _mut._partition_col(self.spark, path)
                if pc is None:
                    raise ValueError(
                        "IN PARTITION on an unpartitioned table"
                    )
                pred = pred & (F.col(pc) == part)
            return pred

        m = _re.match(
            r"^ALTER\s+TABLE\s+(\w+)\s+DELETE\s+"
            r"(?:IN\s+PARTITION\s+'?([^'\s]+)'?\s+)?WHERE\s+(.+)$",
            q, _re.I | _re.S,
        )
        if m:
            _spec, path = _table(m.group(1))
            rs, cf = _mutation_read_args(_spec)
            n = _mut.delete_where(
                self.spark, path,
                _mut_pred(m.group(3), path, m.group(2)),
                read_schema=rs, conform=cf,
            )
            _rebuild_projections(m.group(1))
            return _done(m.group(1), "delete", n)
        m = _re.match(
            r"^ALTER\s+TABLE\s+(\w+)\s+UPDATE\s+(.+?)\s+"
            r"(?:IN\s+PARTITION\s+'?([^'\s]+)'?\s+)?WHERE\s+(.+)$",
            q, _re.I | _re.S,
        )
        if m:
            from ed_clickhouse_spark.ddl import _split_top

            _spec, path = _table(m.group(1))
            assignments = {}
            for part in _split_top(m.group(2)):
                col, expr = part.split("=", 1)
                assignments[col.strip().strip("`")] = F.expr(expr.strip())
            rs, cf = _mutation_read_args(_spec)
            n = _mut.update_where(
                self.spark,
                path,
                _mut_pred(m.group(4), path, m.group(3)),
                assignments,
                read_schema=rs,
                conform=cf,
            )
            _rebuild_projections(m.group(1))
            return _done(m.group(1), "update", n)
        m = _re.match(
            r"^ALTER\s+TABLE\s+(\w+)\s+DROP\s+PARTITION\s+'?([^'\s;]+)'?\s*$", q, _re.I
        )
        if m:
            _spec, path = _table(m.group(1))
            ok = _mut.drop_partition(self.spark, path, m.group(2))
            _rebuild_projections(m.group(1))
            return _done(m.group(1), "drop_partition", 1 if ok else 0)
        m = _re.match(
            r"^ALTER\s+TABLE\s+(\w+)\s+MODIFY\s+TTL\s+(\w+)\s*\+\s*"
            r"(?:INTERVAL\s+)?(\d+)\s*(SECOND|MINUTE|HOUR|DAY|WEEK|MONTH|YEAR)S?\s*$",
            q,
            _re.I,
        )
        if m:
            # update the eviction policy; enforcement stays on-demand
            # (apply_ttl), exactly like the CREATE-time TTL clause
            from dataclasses import replace as _replace2

            spec, _path = _table(m.group(1))
            if spec is None:
                raise KeyError(f"no spec for table {m.group(1)!r}")
            spec = _replace2(
                spec,
                ttl=(m.group(2), int(m.group(3)), m.group(4).upper()),
            )
            self.table_specs[spec.name] = spec
            return _done(spec.name, "modify_ttl", 1)
        m = _re.match(
            r"^ALTER\s+TABLE\s+(\w+)\s+COMMENT\s+COLUMN\s+`?(\w+)`?\s+'.*'\s*$",
            q,
            _re.I | _re.S,
        )
        if m:
            # column comments are metadata-only in ClickHouse; accepted
            # as a no-op so migration scripts run unchanged
            return _done(m.group(1), "comment_column", 1)
        m = _re.match(
            r"^OPTIMIZE\s+TABLE\s+(\w+)(?:\s+PARTITION\s+'?([^'\s;]+)'?)?"
            r"(?:\s+FINAL)?(?:\s+(DEDUPLICATE)(?:\s+BY\s+(.+?))?)?\s*$",
            q,
            _re.I,
        )
        if m:
            spec, path = _table(m.group(1))
            sort_cols = [c for c in (spec.order_by if spec else []) if c]
            dedup_cols = None
            if m.group(4):
                dedup_cols = [
                    c.strip().strip("`")
                    for c in m.group(4).strip().strip("()").split(",")
                    if c.strip()
                ]
            rs, cf = _mutation_read_args(spec)
            n = _mut.compact_partitions(
                self.spark,
                path,
                sort_cols=sort_cols or None,
                partitions=[m.group(2)] if m.group(2) else None,
                dedup=bool(m.group(3)),
                dedup_cols=dedup_cols,
                read_schema=rs,
                conform=cf,
            )
            # OPTIMIZE also merges projection partial states down to one
            # row per dims (ClickHouse's background merges do the same
            # for projection parts)
            if spec is not None:
                from ed_clickhouse_spark import ddl as _ddl

                for proj in spec.projections:
                    _ddl.compact_projection(self.spark, spec, proj, self.warehouse)
            return _done(m.group(1), "optimize", n)
        m = _re.match(
            r"^CREATE\s+DICTIONARY\s+(?:IF\s+NOT\s+EXISTS\s+)?`?(\w+)`?\s*"
            r"\((.*?)\)\s*PRIMARY\s+KEY\s+`?(\w+)`?\s*"
            r".*?SOURCE\s*\(\s*CLICKHOUSE\s*\(\s*TABLE\s+'(\w+)'\s*\)\s*\)",
            q,
            _re.I | _re.S,
        )
        if m:
            # ClickHouse external dictionary over a warehouse table.
            # LAYOUT(...) is parsed-and-ignored — every layout maps to
            # the broadcast lookup (operators/dictionary.py, size-
            # guarded); LIFETIME refresh = re-running CREATE DICTIONARY.
            from ed_clickhouse_spark.ddl import _split_top
            from ed_clickhouse_spark.operators.dictionary import register_dict

            name, cols_txt, key, src = m.groups()
            cols = [
                c.strip().split()[0].strip("`")
                for c in _split_top(cols_txt)
                if c.strip()
            ]
            df = self.spark.table(src).select(*cols)
            register_dict(name, df, key)
            return self.spark.createDataFrame(
                [(name, "create_dictionary", len(cols))],
                "table string, op string, affected long",
            )
        m = _re.match(r"^DROP\s+DICTIONARY\s+(?:IF\s+EXISTS\s+)?`?(\w+)`?\s*$", q, _re.I)
        if m:
            from ed_clickhouse_spark.operators import dictionary as _dic

            existed = m.group(1) in _dic._DICTS
            _dic._DICTS.pop(m.group(1), None)
            _dic._SIZE_OK.discard(m.group(1))
            self.spark.catalog.dropTempView(f"dict_{m.group(1)}")
            return self.spark.createDataFrame(
                [(m.group(1), "drop_dictionary", 1 if existed else 0)],
                "table string, op string, affected long",
            )
        m = _re.match(r"^TRUNCATE\s+TABLE\s+(?:IF\s+EXISTS\s+)?(\w+)\s*$", q, _re.I)
        if m:
            spec, path = _table(m.group(1))
            schema = self.spark.read.parquet(path).schema
            import shutil as _shutil

            _shutil.rmtree(path, ignore_errors=True)
            self.spark.createDataFrame([], schema).write.mode("overwrite").parquet(path)
            _rebuild_projections(m.group(1))
            return _done(m.group(1), "truncate", 0)
        return None

    def _maybe_insert(self, query: str):
        """Handle the ClickHouse CLI ingestion idiom
        ``INSERT INTO <table> FORMAT JSONEachRow\\n{json}\\n{json}...``:
        the inline payload decodes against the migrated table's DECLARED
        schema (from_json — malformed rows become NULL columns exactly
        like the streaming decode path) and appends under the table's
        MergeTree-equivalent write policy (partition dirs + ORDER BY
        sort). Returns a 1-row (table, rows_inserted) DataFrame, or
        None when the statement is not an INSERT."""
        import re as _re

        fm = _re.match(
            r"^\s*INSERT\s+INTO\s+(\w+)\s+FORMAT\s+"
            r"(CSVWithNames|CSV|TSVWithNames|TSV|TabSeparatedWithNames|"
            r"TabSeparated|JSONCompactEachRow|TSKV|Values)\s*[\n ](.*)$",
            query,
            _re.I | _re.S,
        )
        if fm:
            return self._insert_format(
                fm.group(1), fm.group(2), fm.group(3)
            )
        m = _re.match(
            r"^\s*INSERT\s+INTO\s+(\w+)\s+FORMAT\s+(JSONEachRow)\s*\n(.*)$",
            query,
            _re.I | _re.S,
        )
        if not m:
            sm = _re.match(
                r"^\s*INSERT\s+INTO\s+(\w+)\s*(\([^)]*\))?\s*"
                r"(SELECT\b.*)$",
                query, _re.I | _re.S,
            )
            if sm:
                return self._insert_select(
                    sm.group(1), sm.group(3), sm.group(2)
                )
            vm = _re.match(
                r"^\s*INSERT\s+INTO\s+(\w+)\s*(\([^)]*\))?\s*VALUES\s*(.+)$",
                query,
                _re.I | _re.S,
            )
            if vm:
                return self._insert_values(
                    vm.group(1), vm.group(2), vm.group(3)
                )
            if _re.match(r"^\s*INSERT\b", query, _re.I):
                raise ValueError(
                    "only INSERT INTO <table> FORMAT JSONEachRow with an "
                    "inline payload or INSERT INTO <table> SELECT ... is "
                    "supported; use DataFrame writes or the ingest "
                    "pipeline for other paths"
                )
            return None
        from ed_clickhouse_spark import ddl

        table, payload = m.group(1), m.group(3)
        spec = self.table_specs.get(table)
        if spec is None:
            raise KeyError(f"unknown table {table!r}; run migrate() first")
        lines = [ln for ln in payload.splitlines() if ln.strip()]
        raw = self.spark.createDataFrame([(ln,) for ln in lines], "j string")
        decoded = raw.select(
            F.from_json("j", spec.schema).alias("r")
        ).select("r.*")
        written = ddl.append_rows(decoded, spec, self.warehouse)
        ddl.register_view(self.spark, spec, self.warehouse)
        # fire materialized-view insert triggers on the written batch
        # (DEFAULT/MATERIALIZED applied) and re-register their merged
        # read views (parquet file listings are snapshotted per plan, so
        # stale views would miss new states)
        for mv in self.matviews.values():
            if mv.spec.source == table:
                mv.on_batch(written)
                self._register_mv(mv)
        return self.spark.createDataFrame(
            [(table, len(lines))], "table string, rows_inserted long"
        )

    def _insert_format(self, table: str, fmt: str, payload: str):
        """The clickhouse-client inline-payload formats beyond
        JSONEachRow (r8 probe batch 51): CSV[WithNames],
        TSV/TabSeparated[WithNames], JSONCompactEachRow (positional
        JSON arrays), TSKV (key=value pairs) and the Values form
        (delegates to the VALUES literal parser). Text rows decode
        against the declared schema positionally (WithNames headers
        reorder by name), then append under the table's write policy —
        the same path as JSONEachRow. RowBinary/Native stay refused:
        binary wire formats belong to the streaming decode path."""
        import json as _json

        from ed_clickhouse_spark import ddl

        spec = self.table_specs.get(table)
        if spec is None:
            raise KeyError(f"unknown table {table!r}; run migrate() first")
        f = fmt.lower()
        if f == "values":
            return self._insert_values(table, None, payload)
        declared = [fl.name for fl in spec.schema.fields]
        header: list[str] | None = None
        # rows hold str (literal value) or None (NULL); the per-format
        # branches own the NULL spelling — quoted "" in CSV and a bare
        # empty TSV/JSON field are empty STRINGS, not NULLs (they were
        # conflated before; ADVICE r8)
        rows: list[list] = []

        def _ch_unescape(v: str) -> str | None:
            # clickhouse-client TSV escapes: \t \n \r \\ \0 \b \f \' \"
            # and the \N NULL marker
            if v == r"\N":
                return None
            if "\\" not in v:
                return v
            out, i = [], 0
            sub = {"t": "\t", "n": "\n", "r": "\r", "\\": "\\", "0": "\0",
                   "b": "\b", "f": "\f", "'": "'", '"': '"'}
            while i < len(v):
                if v[i] == "\\" and i + 1 < len(v):
                    out.append(sub.get(v[i + 1], v[i + 1]))
                    i += 2
                else:
                    out.append(v[i])
                    i += 1
            return "".join(out)

        if f in ("csv", "csvwithnames"):
            # quoted fields may span lines — a hand-rolled RFC-4180
            # splitter that reports per-field quoting. A quoted empty
            # field ("") is an empty STRING; an unquoted empty field
            # (or \N) is NULL. csv.reader erases the quoting, and the
            # old textual "" pre-pass couldn't tell an escaped double-
            # quote INSIDE a quoted field from a quoted-empty field
            # between delimiters ('1,"x,"",z"' corrupted — ADVICE r9),
            # so the splitter tracks quote state directly.
            def _csv_rows(raw: str):
                out_rows: list[list[tuple[str, bool]]] = []
                row: list[tuple[str, bool]] = []
                buf: list[str] = []
                in_q = False       # inside a quoted field now
                was_q = False      # current field started quoted
                started = False    # current field has content/quoting
                i, n = 0, len(raw)
                while i < n:
                    c = raw[i]
                    if in_q:
                        if c == '"':
                            if i + 1 < n and raw[i + 1] == '"':
                                buf.append('"')
                                i += 2
                                continue
                            in_q = False
                            i += 1
                            continue
                        buf.append(c)
                        i += 1
                        continue
                    if c == '"' and not buf:
                        in_q = was_q = started = True
                        i += 1
                        continue
                    if c == ",":
                        row.append(("".join(buf), was_q))
                        buf, was_q, started = [], False, False
                        i += 1
                        continue
                    if c in "\r\n":
                        if row or buf or started:
                            row.append(("".join(buf), was_q))
                            out_rows.append(row)
                        row, buf, was_q, started = [], [], False, False
                        i += 2 if c == "\r" and raw[i:i + 2] == "\r\n" else 1
                        continue
                    buf.append(c)
                    started = True
                    i += 1
                if in_q:
                    raise ValueError(
                        "unterminated quoted CSV field in inline INSERT"
                    )
                if row or buf or started:
                    row.append(("".join(buf), was_q))
                    out_rows.append(row)
                return out_rows

            parsed_q = _csv_rows(payload.lstrip("\r\n"))
            if f == "csvwithnames":
                header = [v for v, _ in parsed_q[0]]
                parsed_q = parsed_q[1:]
            rows = [
                [
                    v if q
                    else None if v in ("", r"\N")
                    else v
                    for v, q in r
                ]
                for r in parsed_q
            ]
        elif f in ("tsv", "tabseparated", "tsvwithnames",
                   "tabseparatedwithnames"):
            # real newlines separate rows (embedded ones are escaped \n)
            lines = [ln for ln in payload.splitlines() if ln.strip()]
            parsed = [
                [_ch_unescape(v) for v in ln.split("\t")] for ln in lines
            ]
            if f.endswith("withnames"):
                header, parsed = [str(h) for h in parsed[0]], parsed[1:]
            rows = parsed
        elif f == "jsoncompacteachrow":
            lines = [ln for ln in payload.splitlines() if ln.strip()]
            rows = [_json.loads(ln) for ln in lines]
        elif f == "tskv":
            lines = [ln for ln in payload.splitlines() if ln.strip()]
            dicts = []
            for ln in lines:
                d = dict(
                    kv.split("=", 1) for kv in ln.split("\t") if "=" in kv
                )
                dicts.append([
                    _ch_unescape(d[c]) if c in d else None
                    for c in declared
                ])
            rows = dicts
        if header is not None:
            order = [header.index(c) for c in declared if c in header]
            if len(order) != len(declared):
                raise ValueError(
                    f"FORMAT {fmt}: header {header} does not cover the"
                    f" declared columns {declared}"
                )
            rows = [[r[i] for i in order] for r in rows]
        bad = [r for r in rows if len(r) != len(declared)]
        if bad:
            raise ValueError(
                f"FORMAT {fmt}: row arity {len(bad[0])} !="
                f" {len(declared)} declared columns: {bad[0]!r}"
            )
        # all-string rows -> declared types via the same cast path a
        # from_json decode takes (try-cast semantics stay loud: a bad
        # literal fails the job, like clickhouse-client)
        str_df = self.spark.createDataFrame(
            [[None if v is None else str(v) for v in r] for r in rows],
            ", ".join(f"{c} string" for c in declared),
        )
        decoded = str_df.select(
            *[
                F.col(fl.name).cast(fl.dataType).alias(fl.name)
                for fl in spec.schema.fields
            ]
        )
        written = ddl.append_rows(decoded, spec, self.warehouse)
        ddl.register_view(self.spark, spec, self.warehouse)
        for mv in self.matviews.values():
            if mv.spec.source == table:
                mv.on_batch(written)
                self._register_mv(mv)
        return self.spark.createDataFrame(
            [(table, len(rows))], "table string, rows_inserted long"
        )

    def _insert_values(self, table: str, col_list: str | None, values: str) -> DataFrame:
        """``INSERT INTO t [(cols)] VALUES (..), (..)`` — the clickhouse-
        client literal form.  Tuples parse at paren/quote depth (string
        literals may contain commas/parens), values resolve as one
        SELECT over a VALUES clause so expressions (now(), arithmetic)
        work, then the batch appends through the normal insert path,
        firing MV triggers."""
        from ed_clickhouse_spark import ddl
        from ed_clickhouse_spark.ddl import _split_top

        spec = self.table_specs.get(table)
        if spec is None:
            raise KeyError(f"unknown table {table!r}; run migrate() first")
        cols = (
            [c.strip().strip("`") for c in _split_top(col_list.strip("() "))]
            if col_list
            else [f.name for f in spec.schema.fields]
        )
        tuples = [t.strip() for t in _split_top(values) if t.strip()]
        bad = [t for t in tuples if not (t.startswith("(") and t.endswith(")"))]
        if bad:
            raise ValueError(f"malformed VALUES tuple(s): {bad[:3]}")
        sql = " UNION ALL ".join(
            "SELECT " + ", ".join(
                f"{expr.strip()} AS `{c}`"
                for c, expr in zip(cols, _split_top(t[1:-1]))
            )
            for t in tuples
        )
        result = self.spark.sql(sql)
        for f in spec.schema.fields:
            if f.name in result.columns:
                result = result.withColumn(f.name, F.col(f.name).cast(f.dataType))
            else:
                # omitted columns: NULL unless a DEFAULT/MATERIALIZED
                # expression fills them in append_rows
                result = result.withColumn(f.name, F.lit(None).cast(f.dataType))
        written = ddl.append_rows(result, spec, self.warehouse)
        ddl.register_view(self.spark, spec, self.warehouse)
        for mv in self.matviews.values():
            if mv.spec.source == table:
                mv.on_batch(written)
                self._register_mv(mv)
        return self.spark.createDataFrame(
            [(table, len(tuples))], "table string, rows_inserted long"
        )

    def _create_table_as(self, name: str, head: str, select_sql: str) -> DataFrame:
        """``CREATE TABLE t [ENGINE = ...] [ORDER BY ...] [PARTITION BY
        ...] AS SELECT ...``: the result schema is inverse-mapped to
        ClickHouse column types and assembled into canonical DDL, so CTAS
        reuses the exact provisioning path migrations take (engine merge
        semantics, write policy, views).  The SELECT then appends through
        the normal insert path (one job; MV triggers don't apply — the
        new table has none)."""
        import re

        from ed_clickhouse_spark import ddl
        from ed_clickhouse_spark.chsql import translate

        if name in self.table_specs:
            raise ValueError(f"table {name!r} already exists")
        result = self.spark.sql(translate(select_sql, self.table_specs).sql)
        cols = ",\n  ".join(
            f"`{f.name}` {ddl.spark_type_to_ch(f.dataType)}"
            for f in result.schema.fields
        )
        head = head.strip()
        if not re.search(r"\bENGINE\s*=", head, re.I):
            head = f"ENGINE = MergeTree()\n{head}" if head else "ENGINE = MergeTree()"
        synthesized = f"CREATE TABLE {name} (\n  {cols}\n) {head}"
        spec = ddl.parse_clickhouse_ddl(synthesized)
        ddl.provision_table(self.spark, spec, self.warehouse)
        self.table_specs[name] = spec
        return self._insert_select(name, select_sql)

    def _insert_select(
        self, table: str, select_sql: str, cols: str | None = None
    ) -> DataFrame:
        """``INSERT INTO t [(cols)] SELECT ...`` — the translated
        SELECT runs as one Catalyst job whose result appends under the
        table's write policy (partition dirs + ORDER BY sort), firing
        MV triggers. With an explicit column list (batch-84) the
        SELECT output maps POSITIONALLY onto the listed columns —
        ClickHouse's rule — and unlisted columns fill from
        DEFAULT/MATERIALIZED. Without one, columns match by NAME when
        every declared name is present (robust to reordered SELECTs);
        otherwise, when the arity matches the declared arity, by
        POSITION — which the common computed-expression idiom
        (SELECT a + 100, b) depends on. Arity mismatch (beyond
        DEFAULT/MATERIALIZED backfill) stays fail-loud. The row count
        comes from an Observation on the append job — no second
        scan."""
        from pyspark.sql import Observation

        from ed_clickhouse_spark import ddl
        from ed_clickhouse_spark.chsql import translate

        spec = self.table_specs.get(table)
        if spec is None:
            raise KeyError(f"unknown table {table!r}; run migrate() first")
        result = self.spark.sql(translate(select_sql, self.table_specs).sql)
        if cols:
            listed = [c.strip().strip('`"') for c in
                      cols.strip()[1:-1].split(",") if c.strip()]
            declared_all = [f.name for f in spec.schema.fields]
            unknown = [c for c in listed if c not in declared_all]
            if unknown:
                raise ValueError(
                    f"INSERT INTO {table} (...) names unknown columns"
                    f" {unknown}"
                )
            if len(result.columns) != len(listed):
                raise ValueError(
                    f"INSERT INTO {table} ({', '.join(listed)}) expects"
                    f" {len(listed)} SELECT columns,"
                    f" got {len(result.columns)}"
                )
            result = result.toDF(*listed)
        declared = [f.name for f in spec.schema.fields]
        # positional mapping (r8): ClickHouse matches INSERT SELECT
        # columns by POSITION, and the common idiom projects computed
        # expressions (SELECT a + 100, b) whose generated names match
        # nothing. When the arity equals the declared arity but the
        # NAMES don't all line up, rename by position — exactly what
        # CH executes. When every name lines up, keep the name map
        # (robust to a reordered SELECT); arity mismatch stays the
        # fail-loud path below.
        if (
            len(result.columns) == len(declared)
            and set(result.columns) != set(declared)
        ):
            result = result.toDF(*declared)
        missing = [c for c in declared if c not in result.columns]
        computed = {
            c for c, (kind, _e) in spec.col_exprs.items() if kind == "MATERIALIZED"
        } | {c for c, (kind, _e) in spec.col_exprs.items() if kind == "DEFAULT"}
        hard_missing = [c for c in missing if c not in computed]
        if hard_missing:
            raise ValueError(
                f"INSERT SELECT into {table!r} is missing columns "
                f"{hard_missing} (no DEFAULT/MATERIALIZED to fill them)"
            )
        for f in spec.schema.fields:
            if f.name in result.columns:
                result = result.withColumn(f.name, F.col(f.name).cast(f.dataType))
        obs = Observation(f"ins_{table}")
        result = result.observe(obs, F.count(F.lit(1)).alias("n"))
        written = ddl.append_rows(result, spec, self.warehouse)
        ddl.register_view(self.spark, spec, self.warehouse)
        n = int(obs.get["n"])
        for mv in self.matviews.values():
            if mv.spec.source == table:
                # fire on the written batch (lazy — re-runs the SELECT,
                # one more job over the input, never the whole table;
                # non-deterministic SELECTs should materialize first)
                mv.on_batch(written)
                self._register_mv(mv)
        return self.spark.createDataFrame(
            [(table, n)], "table string, rows_inserted long"
        )

    def table(self, name: str) -> DataFrame:
        if name != "dlq" and name not in BY_TABLE:
            raise KeyError(f"unknown table {name!r}; known: {sorted(BY_TABLE)} + ['dlq']")
        path = os.path.join(self.warehouse, DLQ_TABLE if name == "dlq" else name)
        return self.spark.read.parquet(path)

    def rollup(self, table: str, dest: str, dims: list[str], aggs: dict[str, str]):
        """Materialized daily rollup over one event table (≙ a ClickHouse
        materialized view): returns an IncrementalRollup; call .refresh()
        after ingests. Only new/changed day partitions re-aggregate."""
        from ed_clickhouse_spark.operators.rollup import IncrementalRollup

        if table not in BY_TABLE:
            raise KeyError(f"unknown table {table!r}")
        return IncrementalRollup(
            self.spark,
            os.path.join(self.warehouse, table),
            os.path.join(self.warehouse, dest),
            dims=dims,
            aggs=aggs,
        )

    def matview(
        self,
        name: str,
        table: str,
        dims: list[str],
        **spec,
    ):
        """Streaming materialized view over one event table — ClickHouse
        ``CREATE MATERIALIZED VIEW ... ENGINE = AggregatingMergeTree``
        (streaming/matview.py). Pass the result in ``views={table:
        [mv]}`` to :meth:`ingest` so every ingested micro-batch appends
        its partial states at insert time; query with ``mv.read()``."""
        from ed_clickhouse_spark.streaming.matview import StreamingMatView

        if table not in BY_TABLE:
            raise KeyError(f"unknown table {table!r}")
        return StreamingMatView(
            self.spark,
            os.path.join(self.warehouse, "_views", name),
            dims=dims,
            **spec,
        )

    def replay_dlq(self, reasons: list[str] | None = None) -> int:
        """Re-ingest dead-letter rows after a fix (new family registered,
        decoder bug patched): routes each retained (subject, payload) back
        through process_batch.  Rows that fail AGAIN land back in the DLQ
        via the normal classifier, so replay is safe to iterate.  The
        reference has no equivalent — it Terms bad messages forever
        (src/main.rs:70, src/handler.rs:130); a queryable, replayable DLQ
        is the strict upgrade.  Returns rows replayed.

        ``reasons`` restricts the replay (e.g. just "unroutable_subject"
        after adding a family); the rest stay in the DLQ untouched."""
        from pyspark.sql import functions as F

        from ed_clickhouse_spark.streaming.pipeline import process_batch

        dlq_path = os.path.join(self.warehouse, DLQ_TABLE)
        if not os.path.exists(dlq_path):
            return 0
        dlq = self.spark.read.parquet(dlq_path)
        to_replay = dlq if reasons is None else dlq.filter(F.col("reason").isin(reasons))
        n = to_replay.count()
        if n == 0:
            return 0
        keep = (
            dlq.filter(~F.col("reason").isin(reasons)) if reasons is not None else None
        )
        batch = to_replay.select("subject", F.col("raw_payload").alias("payload"))
        # Detach BOTH frames from the _dlq file scan before touching the
        # directory: a cache is not enough — writing to a path invalidates
        # every cached plan that scans it, so the replay batch would
        # silently recompute against the truncated DLQ (observed: 0 rows
        # replayed). localCheckpoint materializes to executor-local blocks
        # with no file lineage.
        batch = batch.localCheckpoint(eager=True)
        staged = keep.localCheckpoint(eager=True) if keep is not None else None
        import shutil

        shutil.rmtree(dlq_path)
        if staged is not None:
            staged.write.mode("append").parquet(dlq_path)
        process_batch(batch, self.warehouse)
        self.refresh_views()
        return n

    def parts(self) -> DataFrame:
        """≙ ClickHouse ``system.parts``: one row per (table, partition
        directory) with file count and bytes — the operational view that
        drives OPTIMIZE decisions (operators/mutate.py:compact_partitions).
        Driver-side Hadoop-FS listing only; no data read."""
        jvm = self.spark._jvm
        conf = self.spark._jsc.hadoopConfiguration()
        rows = []
        root = jvm.org.apache.hadoop.fs.Path(self.warehouse)
        fs = root.getFileSystem(conf)
        if fs.exists(root):
            for tdir in fs.listStatus(root):
                if not tdir.isDirectory():
                    continue
                table = tdir.getPath().getName()
                if table.startswith(("_", ".")):
                    continue
                parts = [p for p in fs.listStatus(tdir.getPath()) if p.isDirectory()
                         and "=" in p.getPath().getName()]
                groups = parts if parts else [tdir]
                for g in groups:
                    pname = g.getPath().getName() if parts else ""
                    n, nbytes = 0, 0
                    for f in fs.listStatus(g.getPath()):
                        fn = f.getPath().getName()
                        if f.isFile() and not fn.startswith(("_", ".")):
                            n += 1
                            nbytes += f.getLen()
                    rows.append((table, pname, n, nbytes))
        return self.spark.createDataFrame(
            rows, "table string, partition string, n_files long, bytes long"
        )

    def system_tables(self) -> DataFrame:
        """≙ ClickHouse ``system.tables``: one row per provisioned table
        with its engine, partition/sorting keys and on-disk size.

        Metadata-only: bytes come from a driver-side Hadoop-FS listing
        (never a data scan) and row counts from parquet footers (local
        warehouses; NULL where footers aren't reachable without a job —
        at 100 TB a `SELECT total_rows` must not cost a table scan)."""
        sizes = {
            r["table"]: (r["files"], r["bytes"])
            for r in self.parts()
            .groupBy("table")
            .agg(F.sum("n_files").alias("files"), F.sum("bytes").alias("bytes"))
            .collect()
        }
        rows = []
        for name, spec in sorted(self.table_specs.items()):
            n_files, nbytes = sizes.get(name, (0, 0))
            rows.append(
                (
                    "default",
                    name,
                    spec.engine,
                    spec.partition_by or "",
                    ", ".join(spec.order_by),
                    nbytes,
                    self._footer_rows(os.path.join(self.warehouse, name)),
                    n_files,
                )
            )
        return self.spark.createDataFrame(
            rows,
            "database string, name string, engine string, "
            "partition_key string, sorting_key string, total_bytes long, "
            "total_rows long, parts long",
        )

    def system_columns(self) -> DataFrame:
        """≙ ClickHouse ``system.columns``: one row per (table, column)
        with the declared ClickHouse type and key membership flags."""
        rows = []
        for name, spec in sorted(self.table_specs.items()):
            pcol = spec.partition_column()
            pkey = {pcol[0]} if pcol else set()
            for pos, f in enumerate(spec.schema.fields, start=1):
                rows.append(
                    (
                        name,
                        f.name,
                        spec.ch_types.get(f.name, f.dataType.simpleString()),
                        pos,
                        f.name in spec.key_cols,
                        f.name in pkey or f.name == (spec.partition_by or ""),
                    )
                )
        return self.spark.createDataFrame(
            rows,
            "table string, name string, type string, position long, "
            "is_in_sorting_key boolean, is_in_partition_key boolean",
        )

    def system_functions(self) -> DataFrame:
        """≙ ClickHouse ``system.functions``: one row per ClickHouse
        spelling the dialect front-end translates, with the mechanism
        that implements it. Introspection only — the list is assembled
        from the translation tables, so it can't drift from reality."""
        from ed_clickhouse_spark import chsql
        from ed_clickhouse_spark.functions.clickhouse import (
            _SQL_SCALAR_ALIASES,
        )

        rows: list[tuple[str, str]] = []
        rows += [(n, "sql_alias") for n in _SQL_SCALAR_ALIASES]
        rows += [(n, "rename") for n in chsql._SCALAR_RENAMES]
        rows += [(n, "rewrite") for n in chsql._ARRAY_SPLICE]
        rows += [(n, "rewrite") for n in chsql._IDENTITY_FNS]
        rows += [(n, "aggregate") for n in chsql._AGG_NAME_MAP]
        rows += [(n, "aggregate") for n in chsql._AGG_IF_BASES]
        rows += [(n, "rewrite") for n in chsql._HOF_SWAP]
        rows += [(n, "rewrite") for n in chsql._TUPLE_VECTOR_OPS]
        rows += [
            (n, "rewrite")
            for n in (
                "untuple", "tupleConcat", "tupleNegate",
                "tupleHammingDistance", "pointInPolygon",
            )
        ]
        rows += [
            (f"{b}{suffix}", "aggregate")
            for b in ("sum", "min", "max", "avg", "count")
            for suffix in ("ForEach", "ForEachIf")
        ]
        rows += [
            (n, "aggregate")
            for n in (
                "uniqArray", "uniqExactArray", "groupArrayArray",
                "groupUniqArrayArray", "groupArraySample",
                "sumMappedArrays", "minMappedArrays", "maxMappedArrays",
            )
        ]
        seen: dict[str, str] = {}
        for name, origin in rows:
            seen.setdefault(name, origin)
        return self.spark.createDataFrame(
            sorted(seen.items()), "name string, origin string"
        )

    @staticmethod
    def _footer_rows(path: str):
        """Row count from parquet footers (no Spark job). Local paths
        only; returns None elsewhere rather than paying a scan."""
        if not os.path.isdir(path):
            return None
        try:
            import pyarrow.parquet as pq

            total = 0
            for dirpath, _dirs, files in os.walk(path):
                for fn in files:
                    if fn.endswith(".parquet"):
                        total += pq.ParquetFile(
                            os.path.join(dirpath, fn)
                        ).metadata.num_rows
            return total
        except Exception:
            return None

    def _refresh_system_views(self) -> None:
        """Register the ``system_*`` introspection views a translated
        ``system.<name>`` query reads (chsql rewrites the dot form)."""
        self.system_tables().createOrReplaceTempView("system_tables")
        self.system_columns().createOrReplaceTempView("system_columns")
        # keep BOTH spellings: CH's system.parts has `table` (the
        # owning table) and `name` (the part); filters on either work
        self.parts().withColumn("name", F.col("table")).createOrReplaceTempView(
            "system_parts"
        )
        self.query_log().createOrReplaceTempView("system_query_log")
        self.system_functions().createOrReplaceTempView("system_functions")
        # single-tenant / synchronous-engine introspection (round-7
        # batch 41): databases is the one namespace; mutations and
        # merges are always-empty (mutations run synchronously inside
        # ch_sql, merges only inside OPTIMIZE); processes shows no
        # concurrent queries; replicas is single-replica-empty;
        # dictionaries/disks/settings carry real values
        import shutil as _shutil

        spark = self.spark
        spark.createDataFrame(
            [("default", "Atomic")], "name string, engine string"
        ).createOrReplaceTempView("system_databases")
        spark.createDataFrame(
            [],
            "database string, table string, mutation_id string,"
            " command string, is_done int",
        ).createOrReplaceTempView("system_mutations")
        spark.createDataFrame(
            [],
            "query_id string, user string, query string,"
            " elapsed double",
        ).createOrReplaceTempView("system_processes")
        spark.createDataFrame(
            [],
            "database string, table string, progress double,"
            " is_mutation int",
        ).createOrReplaceTempView("system_merges")
        spark.createDataFrame(
            [],
            "database string, table string, is_leader int,"
            " absolute_delay long",
        ).createOrReplaceTempView("system_replicas")
        from ed_clickhouse_spark.operators import dictionary as _dic

        spark.createDataFrame(
            [(n, "LOADED") for n in sorted(_dic._DICTS)] or [],
            "name string, status string",
        ).createOrReplaceTempView("system_dictionaries")
        du = _shutil.disk_usage(
            self.warehouse if os.path.isdir(self.warehouse) else "/"
        )
        spark.createDataFrame(
            [("default", os.path.abspath(self.warehouse),
              du.free, du.total)],
            "name string, path string, free_space long,"
            " total_space long",
        ).createOrReplaceTempView("system_disks")
        confs = sorted(
            (k, v) for k, v in
            ((k, spark.conf.get(k, None)) for k in (
                "spark.sql.shuffle.partitions",
                "spark.sql.adaptive.enabled",
                "spark.sql.ansi.enabled",
                "spark.sql.session.timeZone",
                "spark.sql.files.maxPartitionBytes",
                "spark.sql.autoBroadcastJoinThreshold",
            )) if v is not None
        )
        spark.createDataFrame(
            confs, "name string, value string"
        ).createOrReplaceTempView("system_settings")

    def ping(self) -> bool:
        """≙ the reference's ClickHouse /ping startup check
        (src/click_house.rs:46-59)."""
        return self.spark.sql("SELECT 1").collect()[0][0] == 1
