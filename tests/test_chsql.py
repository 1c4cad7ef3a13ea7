"""ClickHouse-dialect SQL front-end: each clause rewrite is checked
end-to-end — the translated query runs on Spark and matches the result
of the idiomatic Spark formulation."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ed_clickhouse_spark.chsql import translate
from ed_clickhouse_spark.ddl import TableSpec, parse_clickhouse_ddl


@pytest.fixture(scope="module")
def views(spark, sf_dir):
    from ed_clickhouse_spark.catalog import read_table
    from ed_clickhouse_spark.functions.clickhouse import register_sql_aliases

    register_sql_aliases(spark)

    for name in ("events", "documents", "orders", "lineitem", "customer"):
        read_table(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark


def test_format_and_settings_stripped():
    tr = translate(
        "SELECT 1 AS x SETTINGS max_threads = 4 FORMAT JSONEachRow"
    )
    assert tr.sql == "SELECT 1 AS x"
    assert tr.format == "JSONEachRow"


def test_prewhere_merges_into_where(views):
    got = views.sql(
        translate(
            "SELECT count(*) AS n FROM events PREWHERE value > 100 "
            "WHERE event_type = 'click'"
        ).sql
    ).first()["n"]
    want = views.sql(
        "SELECT count(*) AS n FROM events "
        "WHERE value > 100 AND event_type = 'click'"
    ).first()["n"]
    assert got == want > 0


def test_prewhere_alone(views):
    tr = translate("SELECT count(*) AS n FROM events PREWHERE value > 300")
    assert "WHERE" in tr.sql and "PREWHERE" not in tr.sql.upper()
    assert views.sql(tr.sql).first()["n"] > 0


def test_array_join(views):
    got = views.sql(
        translate(
            "SELECT tok, count(*) AS c FROM documents "
            "ARRAY JOIN splitByChar(' ', text) AS tok "
            "GROUP BY tok ORDER BY c DESC, tok LIMIT 5"
        ).sql
    ).collect()
    want = views.sql(
        "SELECT tok, count(*) AS c FROM documents "
        "LATERAL VIEW explode(split(text, ' ')) _t AS tok "
        "GROUP BY tok ORDER BY c DESC, tok LIMIT 5"
    ).collect()
    assert got == want and len(got) == 5


def test_limit_by(views):
    rows = views.sql(
        translate(
            "SELECT event_type, user_id, value FROM events "
            "ORDER BY value DESC, user_id LIMIT 2 BY event_type LIMIT 6"
        ).sql
    ).collect()
    assert len(rows) == 6
    per_type = {}
    for r in rows:
        per_type.setdefault(r["event_type"], []).append(r["value"])
    assert all(len(v) <= 2 for v in per_type.values())
    # the kept rows are each type's top-2 values
    top = views.sql(
        "SELECT event_type, value, row_number() OVER "
        "(PARTITION BY event_type ORDER BY value DESC, user_id) rn "
        "FROM events"
    ).where("rn <= 2").groupBy("event_type").agg(
        F.max("value").alias("mx")
    ).collect()
    want_max = {r["event_type"]: r["mx"] for r in top}
    for et, vals in per_type.items():
        assert max(vals) == want_max[et]


def test_with_totals(views):
    rows = views.sql(
        translate(
            "SELECT event_type, count(*) AS n FROM events "
            "GROUP BY event_type WITH TOTALS"
        ).sql
    ).collect()
    by_type = {r["event_type"]: r["n"] for r in rows}
    assert None in by_type  # the TOTALS row
    assert by_type[None] == sum(v for k, v in by_type.items() if k is not None)


def test_final_keyword_drops(views):
    tr = translate("SELECT count(*) AS n FROM events FINAL WHERE value > 0")
    assert "FINAL" not in tr.sql.upper()
    assert views.sql(tr.sql).first()["n"] > 0


def test_sample_predicate(views):
    spec = parse_clickhouse_ddl(
        "CREATE TABLE events (event_id Int64, user_id Int64, value Float64)"
        " ENGINE = MergeTree() ORDER BY event_id SAMPLE BY user_id"
    )
    tr = translate(
        "SELECT count(DISTINCT user_id) AS u FROM events SAMPLE 0.2",
        {"events": spec},
    )
    n_all = views.sql("SELECT count(DISTINCT user_id) AS u FROM events").first()["u"]
    n_s = views.sql(tr.sql).first()["u"]
    assert 0 < n_s < n_all
    # consistent subset: same sample on every run
    assert views.sql(tr.sql).first()["u"] == n_s


def test_sample_requires_spec():
    with pytest.raises(ValueError, match="SAMPLE BY"):
        translate("SELECT 1 FROM events SAMPLE 0.5", {})


def test_global_stripped(views):
    tr = translate(
        "SELECT count(*) AS n FROM orders o GLOBAL LEFT JOIN lineitem l "
        "ON o.o_orderkey = l.l_orderkey"
    )
    assert "GLOBAL" not in tr.sql.upper()
    assert views.sql(tr.sql).first()["n"] > 0


def test_keywords_inside_strings_untouched():
    tr = translate("SELECT 'FORMAT JSONEachRow' AS s, 'x PREWHERE y' AS p")
    assert tr.format is None
    assert "'FORMAT JSONEachRow'" in tr.sql and "'x PREWHERE y'" in tr.sql


def test_engine_query_log(spark, tmp_path):
    from ed_clickhouse_spark.engine import Engine

    eng = Engine(str(tmp_path), spark)
    eng.sql("SELECT 1 AS one").collect()
    eng.ch_sql("SELECT 2 AS two FORMAT JSONEachRow").collect()
    log = eng.query_log().collect()
    assert [r["dialect"] for r in log] == ["spark", "clickhouse"]
    assert "FORMAT JSONEachRow" in log[1]["query"]
    assert all(r["plan_ms"] >= 0 for r in log)


def test_ch_sql_insert_jsoneachrow(spark, tmp_path):
    from ed_clickhouse_spark.ddl import parse_clickhouse_ddl, provision_table
    from ed_clickhouse_spark.engine import Engine

    eng = Engine(str(tmp_path), spark)
    spec = parse_clickhouse_ddl(
        "CREATE TABLE gadgets (id Int64, name String, price Float64, ts DateTime)"
        " ENGINE = MergeTree() ORDER BY (ts, id)"
    )
    eng.table_specs["gadgets"] = spec
    provision_table(spark, spec, eng.warehouse)
    res = eng.ch_sql(
        'INSERT INTO gadgets FORMAT JSONEachRow\n'
        '{"id": 1, "name": "a", "price": 9.5, "ts": "2024-01-01 00:00:00"}\n'
        '{"id": 2, "name": "b", "price": 1.25, "ts": "2024-01-02 00:00:00"}'
    ).first()
    assert (res["table"], res["rows_inserted"]) == ("gadgets", 2)
    got = eng.ch_sql("SELECT id, name, price FROM gadgets ORDER BY id").collect()
    assert [(r["id"], r["name"], r["price"]) for r in got] == [
        (1, "a", 9.5), (2, "b", 1.25)
    ]
    # VALUES inserts are also supported (same append path)
    res2 = eng.ch_sql(
        "INSERT INTO gadgets VALUES (3, 'c', 2.0, '2024-01-03 00:00:00')"
    ).first()
    assert (res2["table"], res2["rows_inserted"]) == ("gadgets", 1)
    assert eng.ch_sql("SELECT count(*) AS n FROM gadgets").first()["n"] == 3


def test_with_fill_numeric(views):
    rows = views.sql(
        translate(
            "SELECT user_id % 7 AS bucket, count(*) AS n FROM events "
            "WHERE user_id % 7 IN (1, 4) GROUP BY bucket "
            "ORDER BY bucket WITH FILL FROM 0 TO 7"
        ).sql
    ).collect()
    assert [r["bucket"] for r in rows] == list(range(7))
    by = {r["bucket"]: r["n"] for r in rows}
    assert by[0] == 0 and by[2] == 0  # filled with 0, not NULL
    assert by[1] > 0 and by[4] > 0


def test_with_fill_dates(views):
    rows = views.sql(
        translate(
            "SELECT toDate(ts) AS d, count(*) AS n FROM events "
            "WHERE toDate(ts) = '2024-01-03' GROUP BY d "
            "ORDER BY d WITH FILL FROM '2024-01-01' TO '2024-01-05' "
            "STEP INTERVAL 1 DAY"
        ).sql
    ).collect()
    assert len(rows) == 4  # TO is exclusive
    filled = {str(r["d"]): r["n"] for r in rows}
    assert filled["2024-01-01"] == 0 and filled["2024-01-03"] > 0


def test_sample_and_final_with_alias(views):
    from ed_clickhouse_spark.ddl import parse_clickhouse_ddl

    spec = parse_clickhouse_ddl(
        "CREATE TABLE events (event_id Int64, user_id Int64, value Float64)"
        " ENGINE = MergeTree() ORDER BY event_id SAMPLE BY user_id"
    )
    tr = translate(
        "SELECT e.user_id, count(*) AS n FROM events AS e FINAL SAMPLE 0.5 "
        "GROUP BY e.user_id",
        {"events": spec},
    )
    assert "FINAL" not in tr.sql.upper().replace("__FINAL", "")
    rows = views.sql(tr.sql).collect()
    assert 0 < len(rows) < 1500
    tr2 = translate("SELECT e.value FROM events e FINAL WHERE e.value > 0")
    assert "FINAL" not in tr2.sql.upper()
    assert views.sql(tr2.sql).count() > 0


def test_numbers_table_function(views):
    r = views.sql(
        translate("SELECT sum(number) AS s, count(*) AS n FROM numbers(100)").sql
    ).first()
    assert (r["s"], r["n"]) == (4950, 100)
    r2 = views.sql(
        translate("SELECT min(number) AS lo, max(number) AS hi FROM numbers(10, 5)").sql
    ).first()
    assert (r2["lo"], r2["hi"]) == (10, 14)


def test_show_create_and_exists_via_ch_sql(spark, tmp_path):
    from ed_clickhouse_spark.ddl import parse_clickhouse_ddl
    from ed_clickhouse_spark.engine import Engine

    eng = Engine(str(tmp_path), spark)
    eng.table_specs["gadgets"] = parse_clickhouse_ddl(
        "CREATE TABLE gadgets (id Int64, name String)"
        " ENGINE = MergeTree() ORDER BY id"
    )
    stmt = eng.ch_sql("SHOW CREATE TABLE gadgets").first()["statement"]
    assert stmt.startswith("CREATE TABLE gadgets")
    assert parse_clickhouse_ddl(stmt).order_by == ["id"]
    assert eng.ch_sql("EXISTS TABLE gadgets").first()["result"] == 1
    assert eng.ch_sql("EXISTS TABLE nope").first()["result"] == 0


def test_run_ch_sql_tool(spark, sf_dir):
    import json
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    import run_ch_sql

    rows, cols, fmt = run_ch_sql.run(
        "SELECT source, count(*) AS n FROM documents "
        "GROUP BY source ORDER BY n DESC, source LIMIT 3 FORMAT JSONEachRow",
        sf_dir,
        spark,
    )
    assert fmt == "JSONEachRow" and cols == ["source", "n"] and len(rows) == 3
    out = run_ch_sql.render(rows, cols, fmt)
    first = json.loads(out.splitlines()[0])
    assert set(first) == {"source", "n"} and first["n"] > 0
    csv = run_ch_sql.render(rows, cols, "CSVWithNames")
    assert csv.splitlines()[0] == "source,n"
    pretty = run_ch_sql.render(rows, cols, "Pretty")
    assert pretty.count("+") >= 8


def test_any_join_rewrite(views):
    spec = parse_clickhouse_ddl(
        "CREATE TABLE customer (c_custkey Int64, c_name String,"
        " c_nationkey Int64, c_acctbal Float64, c_mktsegment String)"
        " ENGINE = MergeTree() ORDER BY c_custkey"
    )
    tr = translate(
        "SELECT count(*) AS n FROM customer ANY LEFT JOIN customer AS c2 "
        "USING (c_custkey)",
        {"customer": spec},
    )
    assert "ANY" not in tr.sql.upper().replace("__ANY_RN", "")
    assert "row_number()" in tr.sql
    # one row per key on the right => no fan-out: count == customer count
    n = views.sql(tr.sql).first()["n"]
    assert n == views.sql("SELECT count(*) AS n FROM customer").first()["n"]


def test_any_join_without_spec_orders_by_key(views):
    tr = translate(
        "SELECT count(*) AS n FROM orders ANY INNER JOIN orders AS o2 "
        "USING (o_orderkey)"
    )
    assert "PARTITION BY o_orderkey ORDER BY o_orderkey" in tr.sql
    assert views.sql(tr.sql).first()["n"] > 0


def test_any_join_rejects_untranslatable_forms():
    with pytest.raises(ValueError, match="RIGHT ANY"):
        translate("SELECT 1 FROM a RIGHT ANY JOIN b USING (k)")
    with pytest.raises(ValueError, match="any_join"):
        translate("SELECT 1 FROM a ANY LEFT JOIN b ON a.k = b.k")


def test_global_any_join_translates(views):
    tr = translate(
        "SELECT count(*) AS n FROM orders GLOBAL ANY LEFT JOIN lineitem AS l "
        "USING (l_orderkey)"
    )
    # GLOBAL strips, ANY still rewrites (regression: GLOBAL used to eat ANY)
    assert "row_number()" in tr.sql and "GLOBAL" not in tr.sql.upper()


def test_agg_spellings_rewrite():
    tr = translate(
        "SELECT uniq(a) AS u, uniqExact(b) AS e, argMax(c, t) AS am, "
        "countIf(x > 1) AS ci, sumIf(x, y) AS si, any(z) AS a1, "
        "anyLast(z) AS a2, count() AS n, median(x) AS m FROM t"
    )
    s = tr.sql
    assert "approx_count_distinct(a)" in s
    assert "count(DISTINCT b)" in s
    assert "max_by(c, t)" in s
    assert "count_if(x > 1)" in s
    assert "sum(if(y, x, NULL))" in s
    # CH's any/anyLast skip NULLs — the ignoreNulls flag rides along
    # (batch-72)
    assert "any_value(z, true)" in s
    assert "last(z, true)" in s
    assert "count(*)" in s
    assert "approx_percentile(x, 0.5)" in s


def test_parametric_quantiles_rewrite():
    s = translate(
        "SELECT quantile(0.9)(v) AS a, quantileExact(0.5)(v) AS b, "
        "quantilesExact(0.25, 0.75)(v) AS c, quantileTDigest(0.99)(v) AS d "
        "FROM t"
    ).sql
    assert "approx_percentile(v, 0.9)" in s
    assert "percentile(v, 0.5)" in s
    assert "percentile(v, array(0.25, 0.75))" in s
    assert "approx_percentile(v, 0.99)" in s


def test_agg_spellings_leave_strings_alone(views):
    s = translate("SELECT 'uniq(x) quantile(0.5)(y)' AS lit, uniq(user_id) AS u FROM events").sql
    assert "'uniq(x) quantile(0.5)(y)'" in s
    assert "approx_count_distinct(user_id)" in s
    assert views.sql(s).first()["u"] > 0


def test_agg_spellings_end_to_end(views):
    got = views.sql(
        translate(
            "SELECT event_type, countIf(value > 100) AS n_big, "
            "uniqExact(user_id) AS users FROM events "
            "GROUP BY event_type ORDER BY event_type"
        ).sql
    ).collect()
    want = views.sql(
        "SELECT event_type, count_if(value > 100) AS n_big, "
        "count(DISTINCT user_id) AS users FROM events "
        "GROUP BY event_type ORDER BY event_type"
    ).collect()
    assert got == want and len(got) > 0


def test_to_start_of_interval_rewrite():
    s = translate(
        "SELECT toStartOfInterval(ts, INTERVAL 5 minute) AS b FROM events"
    ).sql
    assert "floor(unix_timestamp(ts) / 300) * 300" in s
    s = translate(
        "SELECT toStartOfInterval(ts, INTERVAL 1 month) AS b FROM events"
    ).sql
    assert "date_trunc('MONTH', ts)" in s
    with pytest.raises(ValueError, match="variable-length"):
        translate("SELECT toStartOfInterval(ts, INTERVAL 2 month) FROM e")


def test_new_scalar_spellings(views):
    r = views.sql(
        "SELECT lengthUTF8('héllo') AS l, countSubstrings('abcabcab', 'ab') AS c, "
        "splitByString('||', 'a||b') AS sp, "
        "multiSearchAny('hello world', array('xyz', 'wor')) AS ms, "
        "bitShiftLeft(3, 2) AS bsl, "
        "hex(SHA256('abc')) AS sha"
    ).first()
    assert r["l"] == 5 and r["c"] == 3 and r["sp"] == ["a", "b"]
    assert r["ms"] is True and r["bsl"] == 12
    # the well-known SHA-256 of 'abc'
    assert r["sha"].lower().startswith("ba7816bf8f01cfea")


def test_array_join_function_form(views):
    got = views.sql(
        translate(
            "SELECT arrayJoin(splitByChar(' ', text)) AS tok, count() AS n "
            "FROM documents WHERE n_chars > 200 "
            "GROUP BY tok ORDER BY n DESC, tok LIMIT 5"
        ).sql
    ).collect()
    want = views.sql(
        "SELECT tok, count(*) AS n FROM documents "
        "LATERAL VIEW explode(split(text, ' ')) _t AS tok "
        "WHERE n_chars > 200 GROUP BY tok ORDER BY n DESC, tok LIMIT 5"
    ).collect()
    assert got == want and len(got) == 5


def test_array_join_function_form_no_alias(views):
    rows = views.sql(
        translate("SELECT arrayJoin(array(1, 2, 3)) FROM documents LIMIT 4").sql
    ).collect()
    assert len(rows) == 4


def test_query_parameters(views):
    from ed_clickhouse_spark.chsql import substitute_params

    tr = translate(
        "SELECT count(*) AS n FROM events "
        "WHERE event_type = {et:String} AND value > {v:Float64}",
        params={"et": "click", "v": 100.0},
    )
    got = views.sql(tr.sql).first()["n"]
    want = views.sql(
        "SELECT count(*) AS n FROM events "
        "WHERE event_type = 'click' AND value > 100.0"
    ).first()["n"]
    assert got == want > 0
    # injection attempt stays a literal
    s = substitute_params(
        "SELECT * FROM t WHERE name = {n:String}", {"n": "x'; DROP TABLE t--"}
    )
    assert "DROP TABLE" in s and s.count("'") >= 2 and "\\'" in s
    with pytest.raises(ValueError, match="missing query parameter"):
        substitute_params("SELECT {a:UInt64}", {})
    with pytest.raises(ValueError, match="invalid identifier"):
        substitute_params("SELECT * FROM {t:Identifier}", {"t": "x; drop"})
    # array + identifier + date forms
    s = substitute_params(
        "SELECT * FROM {t:Identifier} WHERE d = {d:Date} AND k IN {ks:Array(Int64)}",
        {"t": "events", "d": "2024-01-02", "ks": [1, 2]},
    )
    assert "FROM events" in s and "DATE '2024-01-02'" in s and "array(1, 2)" in s


def test_engine_ch_sql_params(spark, tmp_path):
    from ed_clickhouse_spark.engine import Engine

    eng = Engine(str(tmp_path), spark)
    r = eng.ch_sql(
        "SELECT {a:UInt64} + 1 AS x, {s:String} AS s", params={"a": 41, "s": "hi"}
    ).first()
    assert r["x"] == 42 and r["s"] == "hi"


def test_asof_join_clear_error():
    with pytest.raises(ValueError, match="asof_join"):
        translate("SELECT * FROM a ASOF LEFT JOIN b ON a.k = b.k AND a.ts >= b.ts")


def test_agg_spellings_tricky_nesting():
    """Paren/string edge cases the token scanner must survive: nested
    calls with parens inside string literals, multi-arg forms, and \\b
    guards against substring names."""
    cases = {
        "SELECT argMax(concat(a, ')'), greatest(b, c)) AS am FROM t":
            "max_by(concat(a, ')'), greatest(b, c))",
        "SELECT sumIf(x * (y + 1), (a > 1) AND (b < 2)) AS s FROM t":
            "sum(if((a > 1) AND (b < 2), x * (y + 1), NULL))",
        "SELECT uniq(a, b) AS u FROM t":
            "approx_count_distinct(a, b)",
        "SELECT quantilesExact(0.1, 0.9)(x + y) AS q FROM t":
            "percentile(x + y, array(0.1, 0.9))",
        "SELECT countIf(x IN ('uniq(', 'argMax(')) AS c FROM t":
            "count_if(x IN ('uniq(', 'argMax('))",
        "SELECT company(x) AS c, many(y) AS m FROM t":
            "company(x)",
    }
    for src, want in cases.items():
        assert want in translate(src).sql, src


def test_array_and_distinct_combinators(views):
    r = views.sql(
        translate(
            "SELECT sumArray(a) AS s, avgArray(a) AS av, minArray(a) AS mn, "
            "maxArray(a) AS mx, countArray(a) AS c, sumDistinct(k) AS sd "
            "FROM (SELECT 1 AS k, array(1.0, 2.0) AS a "
            "      UNION ALL SELECT 2, array(3.0) "
            "      UNION ALL SELECT 2, array())"
        ).sql
    ).first()
    assert (r["s"], r["mn"], r["mx"], r["c"], r["sd"]) == (6.0, 1.0, 3.0, 3, 3)
    # CH semantics: avgArray is element-count weighted, not row-mean avg
    assert r["av"] == 2.0


def test_limit_offset_form(views):
    rows = views.sql(
        translate(
            "SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 5, 3"
        ).sql
    ).collect()
    want = views.sql(
        "SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 3 OFFSET 5"
    ).collect()
    assert rows == want and len(rows) == 3


def test_param_nullable_and_uuid():
    from ed_clickhouse_spark.chsql import substitute_params

    s = substitute_params(
        "SELECT {a:Nullable(Int64)} AS a, {b:Nullable(String)} AS b, "
        "{u:UUID} AS u",
        {"a": None, "b": "x", "u": "f47ac10b-58cc-4372-a567-0e02b2c3d479"},
    )
    assert "NULL AS a" in s and "'x' AS b" in s
    assert "'f47ac10b-58cc-4372-a567-0e02b2c3d479' AS u" in s


def test_generalized_if_combinators(views):
    tr = translate(
        "SELECT uniqIf(user_id, value > 100) AS u, "
        "argMaxIf(event_type, ts, value > 0) AS am, "
        "groupArrayIf(event_type, value > 10000) AS empty_g, "
        "uniqExactIf(user_id, value > 100) AS ue, "
        "medianIf(value, value > 0) AS md FROM events"
    )
    s = tr.sql
    assert "approx_count_distinct(if(value > 100, user_id, NULL))" in s
    assert "max_by(if(value > 0, event_type, NULL), if(value > 0, ts, NULL))" in s
    assert "count(DISTINCT if(value > 100, user_id, NULL))" in s
    r = views.sql(s).first()
    assert r["u"] > 0 and r["ue"] > 0 and r["empty_g"] == []
    # uniqExactIf == exact filtered distinct
    want = views.sql(
        "SELECT count(DISTINCT user_id) AS n FROM events WHERE value > 100"
    ).first()["n"]
    assert r["ue"] == want


def test_lambda_first_array_hofs(views):
    r = views.sql(
        translate(
            "SELECT arrayMap(x -> x * 2, array(1, 2)) AS m, "
            "arrayMap((x, y) -> x + y, array(1, 2), array(10, 20)) AS z, "
            "arrayFilter(x -> x > 1, array(1, 2, 3)) AS f, "
            "arrayExists(x -> x = 2, array(1, 2)) AS e, "
            "arrayAll(x -> x > 0, array(1, 2)) AS al, "
            "arrayCount(x -> x > 1, array(1, 2, 3)) AS c, "
            "arrayFirst(x -> x > 1, array(1, 2, 3)) AS fi"
        ).sql
    ).first()
    assert r["m"] == [2, 4] and r["z"] == [11, 22] and r["f"] == [2, 3]
    assert r["e"] is True and r["al"] is True and r["c"] == 2 and r["fi"] == 2


def test_global_in_stripped(views):
    tr = translate(
        "SELECT count(*) AS n FROM events WHERE user_id GLOBAL IN "
        "(SELECT user_id FROM events WHERE value > 100)"
    )
    assert "GLOBAL" not in tr.sql.upper()
    assert views.sql(tr.sql).first()["n"] > 0


def test_scalar_with_and_tuple(views):
    r = views.sql(
        translate(
            "WITH 100 AS thresh SELECT count(*) AS n, tuple(1, 'a') AS t "
            "FROM events WHERE value > thresh"
        ).sql
    ).first()
    want = views.sql(
        "SELECT count(*) AS n FROM events WHERE value > 100"
    ).first()["n"]
    assert r["n"] == want > 0 and tuple(r["t"]) == (1, "a")
    # mixed scalar + CTE WITH
    r2 = views.sql(
        translate(
            "WITH big AS (SELECT 1 AS x), 5 AS k SELECT x + k AS v FROM big"
        ).sql
    ).first()
    assert r2["v"] == 6
    # literal untouched
    assert "'tuple(x)'" in translate("SELECT 'tuple(x)' AS s").sql


def test_scalar_with_backslash_and_count_literal():
    s = translate(
        r"WITH '\d+' AS pat SELECT 'count()' AS lit, count() AS n, pat FROM t"
    ).sql
    assert r"('\d+')" in s and "'count()'" in s and "count(*)" in s


def test_ch_type_names_in_casts(views):
    # CAST(x AS <ClickHouse type>) / x::<Type> / accurateCast[OrNull]
    tr = translate(
        "SELECT CAST(o_totalprice AS Float64) AS f, o_custkey::UInt32 AS k, "
        "CAST(o_orderdate AS Nullable(String)) AS s, "
        "accurateCastOrNull('12x', 'Int64') AS bad, "
        "accurateCast('12', 'Int64') AS good "
        "FROM orders LIMIT 1"
    ).sql
    assert "AS DOUBLE" in tr and "::BIGINT" in tr
    assert "TRY_CAST('12x' AS BIGINT)" in tr and "CAST('12' AS BIGINT)" in tr
    r = views.sql(tr).first()
    assert r["bad"] is None and r["good"] == 12
    assert isinstance(r["f"], float)
    # Spark-native CAST targets and quoted '::' pass through untouched
    assert translate("SELECT CAST(a AS INT) FROM t").sql == "SELECT CAST(a AS INT) FROM t"
    assert "'a::Float64'" in translate("SELECT 'a::Float64' AS s").sql
    # ClickHouse's comma form CAST(x, 'Type')
    assert translate("SELECT CAST(x, 'Int64') FROM t").sql == "SELECT CAST(x AS BIGINT) FROM t"


def test_parametric_topk(views):
    # exact most-frequent-k; ties break by value asc (oracle-stable)
    r = views.sql(
        translate(
            "SELECT o_orderstatus AS st, topK(2)(o_orderpriority) AS t "
            "FROM orders GROUP BY st ORDER BY st"
        ).sql
    ).collect()
    for row in r:
        assert len(row["t"]) == 2
    # cross-check the top-1 against a plain count ranking
    top1 = {row["st"]: row["t"][0] for row in r}
    exact = views.sql(
        "SELECT o_orderstatus AS st, o_orderpriority AS p, count(*) AS c "
        "FROM orders GROUP BY st, p"
    ).collect()
    import collections
    best: dict = {}
    for row in exact:
        key = row["st"]
        cand = (-row["c"], row["p"])
        if key not in best or cand < best[key]:
            best[key] = cand
    assert {k: v[1] for k, v in best.items()} == top1


def test_battery_spellings_execute(views):
    # the round-3 dashboard battery: every spelling runs end-to-end
    r = views.sql("SELECT bar(7.5, 0, 10, 10) AS b").first()
    assert r["b"] == "███████▌"  # 7 full blocks + a half block
    r = views.sql(
        "SELECT match('purchase', '^pur') AS m, match('purchase', '^xyz') AS n, "
        "dateName('month', TIMESTAMP'2024-03-05 00:00:00') AS mo, "
        "age('month', TIMESTAMP'2024-01-15 00:00:00', TIMESTAMP'2024-03-14 00:00:00') AS am, "
        "halfMD5('abc') AS h, "
        "formatReadableQuantity(1234567.0) AS q, "
        "toMonday(TIMESTAMP'2024-03-07 10:00:00') AS mon, "
        "visitParamExtractString('{\"a\": \"x\"}', 'a') AS vp, "
        "intDivOrZero(5, 0) AS dz, moduloOrZero(5, 0) AS mz, "
        "fromUnixTimestamp(0) AS ts0, "
        "toInt8('7') AS i8, toUInt16('300') AS u16"
    ).first()
    assert r["m"] is True and r["n"] is False
    assert r["mo"] == "March"
    assert r["am"] == 1  # one COMPLETE month elapsed (age != dateDiff)
    # first 8 bytes of md5('abc') = 900150983cd24fb0, as signed 64-bit
    assert r["h"] == -8070080442485551184
    assert r["q"] == "1.23 million"
    assert str(r["mon"]) == "2024-03-04"  # Monday of that week
    assert r["vp"] == "x" and r["dz"] == 0 and r["mz"] == 0
    assert r["i8"] == 7 and r["u16"] == 300


def test_event_analytics_aggregates_via_sql(views, sf_dir):
    """retention / windowFunnel / sequenceMatch run verbatim through
    ch_sql and agree with the batch operators. Bare windowFunnel is
    ClickHouse-exact since r6 and pairs with funnel_exact; the greedy
    funnel() can only differ downward (a chain it anchors too early)."""
    from ed_clickhouse_spark.catalog import read_table
    from ed_clickhouse_spark.operators.windows import (
        funnel,
        funnel_exact,
        sequence_match,
    )

    d = read_table(views, sf_dir, "events")
    d.createOrReplaceTempView("events")

    fun = views.sql(
        translate(
            "SELECT user_id, windowFunnel(86400)(ts, event_type = 'signup', "
            "event_type = 'click', event_type = 'purchase') AS depth "
            "FROM events GROUP BY user_id"
        ).sql
    )
    op = funnel_exact(
        d, "user_id", "ts", "event_type",
        ["signup", "click", "purchase"], 86400,
    )
    assert (
        fun.join(op, "user_id")
        .where(F.col("depth") != F.col("funnel_steps"))
        .count()
        == 0
    ) and fun.count() == op.count()
    greedy = funnel(
        d, "user_id", "ts", "event_type",
        ["signup", "click", "purchase"], window_seconds=86400,
    ).withColumnRenamed("funnel_steps", "greedy_steps")
    assert (
        fun.join(greedy, "user_id")
        .where(F.col("depth") < F.col("greedy_steps"))
        .count()
        == 0
    )

    seq = views.sql(
        translate(
            "SELECT user_id, sequenceMatch('(?1).*(?2).*(?3)')(ts, "
            "event_type = 'signup', event_type = 'click', "
            "event_type = 'purchase') AS m FROM events GROUP BY user_id"
        ).sql
    )
    op2 = sequence_match(
        d, "user_id", "ts", "event_type", ["signup", "click", "purchase"]
    )
    assert (
        seq.join(op2, "user_id").where(F.col("m") != F.col("matched")).count() == 0
    ) and seq.count() == op2.count()

    ret = views.sql(
        translate(
            "SELECT user_id, retention(event_type = 'signup', "
            "event_type = 'purchase') AS r FROM events GROUP BY user_id"
        ).sql
    )
    twin = views.sql(
        "SELECT user_id, array(max(if(event_type = 'signup', 1, 0)), "
        "max(if(event_type = 'signup', 1, 0)) * "
        "max(if(event_type = 'purchase', 1, 0))) AS r "
        "FROM events GROUP BY user_id"
    )
    assert ret.exceptAll(twin).count() == 0 and twin.exceptAll(ret).count() == 0

    # time conditions translate now (nested-exists re-anchoring); truly
    # non-sequential patterns (branching) still refuse loudly
    assert "exists" in translate(
        "SELECT sequenceMatch('(?1)(?t>3600)(?2)')(ts, a, b) FROM e"
    ).sql
    with pytest.raises(ValueError, match="sequential"):
        translate("SELECT sequenceMatch('(?1)|(?2)')(ts, a, b) FROM e")
    # mode strings translate now (test_window_funnel_modes_in_dialect);
    # unknown ones still refuse loudly
    assert "aggregate" in translate(
        "SELECT windowFunnel(10, 'strict_order')(ts, a, b) FROM e"
    ).sql
    with pytest.raises(ValueError, match="unknown mode"):
        translate("SELECT windowFunnel(10, 'bogus')(ts, a, b) FROM e")


def test_wave2_polymorphic_rewrites(views):
    """Translate-time rewrites for polymorphic spellings a typed SQL-UDF
    alias can't cover: renames, identity wrappers, multiIf, comma-form
    extract, range, tupleElement, parametric collectors, sumMap."""
    r = views.sql(
        translate(
            "SELECT range(5) AS r0, range(0) AS r1, range(2, 5) AS r2, "
            "range(0, 10, 3) AS r3, "
            "arrayElement(array(1, 2, 3), -1) AS el, "
            "tupleElement(tuple(7, 'a'), 1) AS te, "
            "multiIf(1 > 2, 'a', 2 > 1, 'b', 'c') AS mi, "
            "extract('ab12cd', '([0-9]+)') AS ex, "
            "replaceRegexpAll('a1b2', '[0-9]', '') AS rr, "
            "concatWithSeparator('-', 'a', 'b') AS cw, "
            "roundBankers(2.5) AS rb, "
            "toNullable(assumeNotNull(9)) AS idf, "
            "countEqual(array('1', '2', '1'), '1') AS ce, "
            "formatReadableTimeDelta(90061) AS td"
        ).sql
    ).first()
    assert r["r0"] == [0, 1, 2, 3, 4] and r["r1"] == [] and r["r2"] == [2, 3, 4]
    assert r["r3"] == [0, 3, 6, 9]
    assert r["el"] == 3 and r["te"] == 7 and r["mi"] == "b" and r["ex"] == "12"
    assert r["rr"] == "ab" and r["cw"] == "a-b" and r["rb"] == 2.0
    assert r["idf"] == 9 and r["ce"] == 2
    assert r["td"] == "1 day, 1 hour, 1 minute, 1 second"
    # EXTRACT(unit FROM ts) is untouched (no top-level comma)
    assert "EXTRACT(YEAR FROM d)" in translate("SELECT EXTRACT(YEAR FROM d) FROM t").sql


def test_wave2_parametric_aggregates(views):
    r = views.sql(
        translate(
            "SELECT groupArray(5)(event_type) AS g5, "
            "uniqUpTo(2)(event_type) AS u2, "
            "uniqUpTo(100)(event_type) AS u100, "
            "quantileIf(0.5)(value, value IS NOT NULL) AS qi, "
            "sumMap(map(event_type, 1)) AS sm "
            "FROM events"
        ).sql
    ).first()
    assert len(r["g5"]) == 5
    assert r["u2"] == 3  # clamped at n+1
    n_types = views.sql("SELECT count(DISTINCT event_type) AS c FROM events").first()["c"]
    assert r["u100"] == n_types
    assert r["qi"] is not None
    # sumMap sums per key: equals the per-type row counts
    counts = {
        row["event_type"]: row["c"]
        for row in views.sql(
            "SELECT event_type, count(*) AS c FROM events GROUP BY 1"
        ).collect()
    }
    assert {k: int(v) for k, v in r["sm"].items()} == counts


def test_wave3_rewrites(views):
    """lagInFrame/leadInFrame, groupArraySorted(k)(x), FROM-less
    arrayJoin, and DISTINCT ON (≡ LIMIT 1 BY)."""
    r = views.sql(translate("SELECT arrayJoin(range(3)) AS n").sql).collect()
    assert [row["n"] for row in r] == [0, 1, 2]
    r = views.sql(
        translate(
            "SELECT user_id, value - lagInFrame(value, 1, 0.0) "
            "OVER (PARTITION BY user_id ORDER BY ts) AS d "
            "FROM events LIMIT 2"
        ).sql
    ).collect()
    assert len(r) == 2
    got = views.sql(
        translate(
            "SELECT DISTINCT ON (o_orderstatus) o_orderstatus, o_orderkey "
            "FROM orders ORDER BY o_orderstatus, o_orderkey"
        ).sql
    ).collect()
    twin = views.sql(
        "SELECT o_orderstatus, min(o_orderkey) AS o_orderkey "
        "FROM orders GROUP BY 1"
    ).collect()
    assert sorted((x["o_orderstatus"], x["o_orderkey"]) for x in got) == sorted(
        (x["o_orderstatus"], x["o_orderkey"]) for x in twin
    )
    g = views.sql(
        translate("SELECT groupArraySorted(3)(o_totalprice) AS g FROM orders").sql
    ).first()["g"]
    t3 = views.sql(
        "SELECT slice(array_sort(collect_list(o_totalprice)), 1, 3) AS g FROM orders"
    ).first()["g"]
    assert g == t3


def test_with_fill_bare(views):
    """Bare ORDER BY d WITH FILL (no FROM/TO): bounds derive from the
    result's own min/max, both inclusive, gaps zero-filled."""
    got = views.sql(
        translate(
            "SELECT o_orderkey AS k, count() AS n FROM orders "
            "WHERE o_orderkey IN (1, 3, 7) GROUP BY k ORDER BY k WITH FILL"
        ).sql
    ).collect()
    assert [(r["k"], r["n"]) for r in got] == [
        (1, 1), (2, 0), (3, 1), (4, 0), (5, 0), (6, 0), (7, 1),
    ]


def test_bracket_syntax_and_intervals(views):
    """ClickHouse bracket syntax: [1,2,3] literals, 1-BASED subscripts
    (negative from the back, maps by key), IN [..] membership, and the
    toIntervalX(n) constructors."""
    r = views.sql(
        translate(
            "SELECT [1, 2, 3] AS lit, "
            "[10, 20, 30][1] AS first, "
            "[10, 20, 30][-1] AS last, "
            "[[1], [2, 3]][2] AS nested, "
            "map('k', 7)['k'] AS by_key, "
            "splitByChar(',', 'a,b,c')[2] AS tok, "
            "arrayMap(x -> x[1], [[1, 2], [3, 4]]) AS hof, "
            "'literal [1] stays' AS s"
        ).sql
    ).first()
    assert r["lit"] == [1, 2, 3]
    assert r["first"] == 10 and r["last"] == 30  # 1-based, CH semantics
    assert r["nested"] == [2, 3] and r["by_key"] == 7 and r["tok"] == "b"
    assert r["hof"] == [1, 3] and r["s"] == "literal [1] stays"
    assert views.sql(
        translate("SELECT count(*) AS n FROM orders WHERE o_orderkey IN [1, 3]").sql
    ).first()["n"] == 2
    d = views.sql(
        translate(
            "SELECT date_format(TIMESTAMP'2024-01-01 00:00:00'"
            " + toIntervalWeek(2), 'yyyy-MM-dd') AS d"
        ).sql
    ).first()["d"]
    assert d == "2024-01-15"


def test_tail_spellings_and_rand_semantics(views):
    """Long-tail spellings + the rand() range contract: ClickHouse
    rand() is UInt32, so `rand() % 100` must be uniform-ish, not 0."""
    r = views.sql(
        translate(
            "SELECT addWeeks(TIMESTAMP'2024-01-01 00:00:00', 2) AS aw, "
            "subtractMonths(DATE'2024-03-15', 1) AS sm, "
            "toISOWeek(TIMESTAMP'2024-01-04 00:00:00') AS w, "
            "trimLeft('  x') AS tl, base64Decode(base64Encode('abc')) AS b64, "
            "splitByWhitespace('a  b\tc') AS sw, "
            "toYYYYMMDDhhmmss(TIMESTAMP'2024-01-02 03:04:05') AS ymd"
        ).sql
    ).first()
    assert str(r["aw"]).startswith("2024-01-15")
    assert str(r["sm"]).startswith("2024-02-15")
    assert r["w"] == 1 and r["tl"] == "x" and r["b64"] == "abc"
    assert r["sw"] == ["a", "b", "c"] and r["ymd"] == 20240102030405
    rows = views.sql(
        translate("SELECT rand() % 100 AS r FROM numbers(200)").sql
    ).collect()
    vals = {row["r"] for row in rows}
    assert all(0 <= v < 100 for v in vals) and len(vals) > 20
    # quantileExact hits the exact percentile; the Low/High variants
    # are ORDER STATISTICS since r10 (lower/upper middle element —
    # see test_probe_batch72_agg_combinator_tails)
    assert "percentile(" in translate("SELECT quantileExact(0.5)(x) FROM t").sql
    assert "array_sort(collect_list" in translate(
        "SELECT quantileExactLow(0.5)(x) FROM t").sql
    assert "ceil(" in translate(
        "SELECT quantileExactHigh(0.5)(x) FROM t").sql


def test_clause_rewrites_inside_subqueries(views):
    """Clause-level dialect (PREWHERE, LIMIT BY, ARRAY JOIN, WITH
    TOTALS, SAMPLE, LIMIT off,n, numbers()) now translates inside
    derived tables and CTE bodies — innermost-out recursion."""
    n = views.sql(
        translate(
            "SELECT count() AS n FROM (SELECT * FROM events PREWHERE value > 100)"
        ).sql
    ).first()["n"]
    want = views.sql(
        "SELECT count(*) AS n FROM events WHERE value > 100"
    ).first()["n"]
    assert n == want > 0
    s = views.sql(
        translate(
            "SELECT sum(c) AS s FROM (SELECT event_type, count() AS c "
            "FROM events GROUP BY event_type "
            "ORDER BY c DESC LIMIT 2 BY event_type)"
        ).sql
    ).first()["s"]
    assert s is not None
    k = views.sql(
        translate(
            "WITH x AS (SELECT event_type, count() AS c FROM events "
            "GROUP BY event_type WITH TOTALS) SELECT count() AS k FROM x"
        ).sql
    ).first()["k"]
    n_types = views.sql(
        "SELECT count(DISTINCT event_type) AS c FROM events"
    ).first()["c"]
    assert k == n_types + 1  # the TOTALS row counts too
    rows = views.sql(
        translate(
            "SELECT tok FROM (SELECT tok FROM documents "
            "ARRAY JOIN splitByChar(' ', text) AS tok) LIMIT 3"
        ).sql
    ).collect()
    assert len(rows) == 3
    s10 = views.sql(
        translate("SELECT s FROM (SELECT sum(number) AS s FROM numbers(10))").sql
    ).first()["s"]
    assert s10 == 45


def test_clause_rewrites_per_union_branch(views):
    """Each UNION branch is its own SELECT: clause rewrites (PREWHERE,
    WITH TOTALS) apply per branch."""
    rows = views.sql(
        translate(
            "SELECT count() AS n FROM events PREWHERE value > 100 "
            "UNION ALL SELECT count() FROM events PREWHERE value <= 100"
        ).sql
    ).collect()
    total = views.sql(
        "SELECT count(*) AS n FROM events WHERE value IS NOT NULL"
    ).first()["n"]
    assert sum(r["n"] for r in rows) == total


def test_generated_lambdas_do_not_shadow_columns(views):
    """range()/topK()/sumMap() rewrites emit lambdas; their variables
    must not capture user columns literally named x/v/y/e/k/s."""
    r = views.sql(
        translate(
            "SELECT x, range(0, x) AS r FROM (SELECT 3 AS x)"
        ).sql
    ).first()
    assert r["r"] == [0, 1, 2]  # with shadowing this is [] (x < x)
    r = views.sql(
        translate(
            "SELECT topK(1)(v) AS t FROM (SELECT 'a' AS v "
            "UNION ALL SELECT 'a' UNION ALL SELECT 'b')"
        ).sql
    ).first()
    assert r["t"] == ["a"]
    r = views.sql(
        translate(
            "SELECT sumMap(map(k, e)) AS m FROM "
            "(SELECT 'x' AS k, 2.0 AS e UNION ALL SELECT 'x', 3.0)"
        ).sql
    ).first()
    assert dict(r["m"]) == {"x": 5.0}


def test_extract_capture_group_detection(views):
    """Group index comes from counting real capturing groups in a
    literal pattern: escaped parens and (?:...) are not captures, and a
    computed pattern refuses to translate instead of guessing."""
    r = views.sql(
        translate(
            # \\( in SQL text -> \( in the regex: an escaped paren, not
            # a capture group
            r"SELECT extract('a(b', 'a\\(b') AS esc, "
            "extract('abc', '(?:ab)(c)') AS cap, "
            "extract('abc', '(?:ab)c') AS noncap"
        ).sql
    ).first()
    assert r["esc"] == "a(b" and r["cap"] == "c" and r["noncap"] == "abc"
    with pytest.raises(ValueError):
        translate("SELECT extract(s, concat('a', 'b')) FROM t")


def test_distinct_on_with_offset_limit_forms(views):
    """DISTINCT ON dedups BEFORE the trailing limit for every limit
    spelling (LIMIT n, LIMIT n OFFSET m, LIMIT off, n)."""
    base = (
        "SELECT DISTINCT ON (event_type) event_type, user_id FROM events "
        "ORDER BY event_type, user_id "
    )
    full = views.sql(translate(base + "LIMIT 100").sql).collect()
    off = views.sql(translate(base + "LIMIT 2 OFFSET 1").sql).collect()
    comma = views.sql(translate(base + "LIMIT 1, 2").sql).collect()
    assert [r["event_type"] for r in off] == [
        r["event_type"] for r in full[1:3]
    ]
    assert [tuple(r) for r in comma] == [tuple(r) for r in off]


def test_week_and_iso_year_boundaries(views):
    r = views.sql(
        "SELECT toISOYear(TIMESTAMP'2024-12-30 00:00:00') AS a, "
        "toISOYear(TIMESTAMP'2021-01-01 00:00:00') AS b, "
        "toWeek(TIMESTAMP'2024-01-01 00:00:00') AS w0, "
        "toWeek(TIMESTAMP'2024-01-07 00:00:00') AS w1, "
        "toWeek(TIMESTAMP'2023-01-01 00:00:00') AS sun1"
    ).first()
    # ISO year of a year-boundary week = year of its Thursday
    assert r["a"] == 2025 and r["b"] == 2020
    # mode-0 weeks are Sunday-based: days before the first Sunday are 0
    assert r["w0"] == 0 and r["w1"] == 1 and r["sun1"] == 1


def test_window_funnel_modes_in_dialect(views):
    """windowFunnel mode strings run ClickHouse's EXACT event loop (r7):
    strict_order ends the scan when a no-condition event follows a
    started chain or a step arrives out of order; strict_deduplication
    ends it at the level of a repeated already-matched condition (level
    1 repeats refresh the anchor instead — the level-1 branch precedes
    both checks, so A,B,A,C reaches 3 under every mode);
    strict_increase requires the previous level's LAST event time
    strictly earlier."""
    base = (
        "WITH ev AS ("
        "  SELECT * FROM VALUES "
        "    ('u1', 1, 'A'), ('u1', 2, 'B'), ('u1', 3, 'C'),"
        "    ('u2', 1, 'A'), ('u2', 2, 'X'), ('u2', 3, 'B'), ('u2', 4, 'C'),"
        "    ('u3', 1, 'A'), ('u3', 2, 'B'), ('u3', 3, 'A'), ('u3', 4, 'C'),"
        "    ('u4', 1, 'A'), ('u4', 2, 'B'), ('u4', 3, 'B'), ('u4', 4, 'C'),"
        "    ('u5', 1, 'A'), ('u5', 3, 'C'), ('u5', 4, 'B'), ('u5', 5, 'C')"
        "  AS t(u, ts, e))"
        " SELECT u, windowFunnel(100{modes})("
        "   CAST(ts AS TIMESTAMP), e = 'A', e = 'B', e = 'C') AS d"
        " FROM ev GROUP BY u ORDER BY u"
    )

    def run(modes: str) -> dict:
        q = translate(base.format(modes=modes)).sql
        return {r["u"]: r["d"] for r in views.sql(q).collect()}

    assert run("") == {"u1": 3, "u2": 3, "u3": 3, "u4": 3, "u5": 3}
    # u2: X after the chain started -> scan ends at depth 1; u3: the
    # repeated A refreshes the anchor (no interruption), C completes;
    # u5: C arrives before B (out of order) -> ends at the filled prefix
    assert run(", 'strict_order'") == {
        "u1": 3, "u2": 1, "u3": 3, "u4": 3, "u5": 1,
    }
    # u4: second B repeats a matched condition -> scan ends returning 2;
    # u3: level-1 repeat never triggers dedup; u5: first C is ignored
    # (level 2 empty), so no repeat when the second C lands
    assert run(", 'strict_deduplication'") == {
        "u1": 3, "u2": 3, "u3": 3, "u4": 2, "u5": 3,
    }
    assert run(", 'strict_increase'") == {
        "u1": 3, "u2": 3, "u3": 3, "u4": 3, "u5": 3,
    }
    # modes compose with the same else-if precedence ClickHouse uses
    assert run(", 'strict_order', 'strict_deduplication'") == {
        "u1": 3, "u2": 1, "u3": 3, "u4": 2, "u5": 1,
    }
    with pytest.raises(ValueError, match="unknown mode"):
        translate(base.format(modes=", 'bogus'"))


def test_sequence_match_time_conditions(views):
    """(?t op n) gaps translate to the nested-exists exact search: the
    re-anchoring case (first A too early, second A qualifies) matches
    where a greedy fold would miss."""
    q = translate(
        "WITH ev AS (SELECT * FROM VALUES "
        "  ('u1', 0, 'A'), ('u1', 100, 'A'), ('u1', 105, 'B'),"
        "  ('u2', 0, 'A'), ('u2', 100, 'B') AS t(u, ts, e))"
        " SELECT u, sequenceMatch('(?1)(?t<=10)(?2)')("
        "   CAST(ts AS TIMESTAMP), e = 'A', e = 'B') AS m"
        " FROM ev GROUP BY u ORDER BY u"
    ).sql
    assert {r["u"]: r["m"] for r in views.sql(q).collect()} == {
        "u1": True,  # via the re-anchored second A
        "u2": False,  # gap 100 > 10
    }
    # malformed time-condition placements refuse loudly
    for bad in (
        "'(?t<=5)(?1)'",
        "'(?1)(?t<=5)'",
        "'(?1)(?t<=5)(?t<=6)(?2)'",
    ):
        with pytest.raises(ValueError, match="sequential"):
            translate(f"SELECT sequenceMatch({bad})(ts, a, b) FROM e")


def test_sequence_match_adjacency(views):
    """ClickHouse '(?1)(?2)' (nothing between the refs) means the
    matched events are CONSECUTIVE among events matching any listed
    condition — the docs' example: with a third condition matching an
    intermediate event, the adjacent form returns 0 while '.*' matches."""
    base = (
        "WITH ev AS (SELECT * FROM VALUES "
        "  ('u1', 1, 1), ('u1', 2, 3), ('u1', 3, 2) AS t(u, ts, n))"
        " SELECT u, sequenceMatch({pat})("
        "   CAST(ts AS TIMESTAMP), n = 1, n = 2, n = 3) AS m"
        " FROM ev GROUP BY u"
    )
    loose = views.sql(translate(base.format(pat="'(?1).*(?2)'")).sql).collect()
    assert loose[0]["m"] is True
    strict = views.sql(translate(base.format(pat="'(?1)(?2)'")).sql).collect()
    assert strict[0]["m"] is False  # the n=3 event sits between
    # without an intermediate matching event, adjacency holds even
    # across non-matching rows (n=4 is not a listed condition)
    base2 = (
        "WITH ev AS (SELECT * FROM VALUES "
        "  ('u1', 1, 1), ('u1', 2, 4), ('u1', 3, 2) AS t(u, ts, n))"
        " SELECT u, sequenceMatch('(?1)(?2)')("
        "   CAST(ts AS TIMESTAMP), n = 1, n = 2, n = 3) AS m"
        " FROM ev GROUP BY u"
    )
    assert views.sql(translate(base2).sql).collect()[0]["m"] is True
    # re-anchoring composes with adjacency: A@0 (stale) then A@2 B@3
    base3 = (
        "WITH ev AS (SELECT * FROM VALUES "
        "  ('u1', 0, 1), ('u1', 2, 1), ('u1', 3, 2) AS t(u, ts, n))"
        " SELECT u, sequenceMatch('(?1)(?2)')("
        "   CAST(ts AS TIMESTAMP), n = 1, n = 2) AS m"
        " FROM ev GROUP BY u"
    )
    assert views.sql(translate(base3).sql).collect()[0]["m"] is True


def test_sequence_count_adjacency_exact(views):
    """ClickHouse adjacency in sequenceCount counts exactly: an
    intervening event matching ANY listed condition breaks the adjacent
    run (the docs' third-condition example), including the 3-ref,
    repeated-ref, and mixed shapes the pre-r6 fold refused or — for
    all-referenced 3-ref patterns — silently over-counted."""
    # (?t op n) gaps translate via the timed NFA; (?t == n) takes the
    # bounded multi-slot branch (r7 — it used to raise)
    assert translate(
        "SELECT sequenceCount('(?1)(?t>10)(?2)')(ts, a, b) FROM e"
    ).sql
    assert translate(
        "SELECT sequenceCount('(?1)(?t==5)(?2)')(ts, a, b) FROM e"
    ).sql

    def run(pattern, conds, events):
        rows = ", ".join(f"('u', {i + 1}, '{e}')" for i, e in enumerate(events))
        q = translate(
            f"WITH ev AS (SELECT * FROM VALUES {rows} AS t(u, ts, e))"
            f" SELECT u, sequenceCount('{pattern}')("
            f"   CAST(ts AS TIMESTAMP), {conds}) AS c"
            " FROM ev GROUP BY u"
        ).sql
        return views.sql(q).first()["c"]

    abc = "e = 'A', e = 'B', e = 'C'"
    # docs example: C matches the (unreferenced) third condition and sits
    # between A and B -> adjacency broken
    assert run("(?1)(?2)", abc, "ACB") == 0
    assert run("(?1)(?2)", abc, "ABC") == 1
    # 3-ref all-referenced: the pre-r6 fold returned 1 here (the second
    # A intervenes between B and C among listed events -> CH counts 0)
    assert run("(?1)(?2)(?3)", abc, "ABAC") == 0
    assert run("(?1)(?2)(?3)", abc, "ABC") == 1
    # break + immediate re-entry: the breaking A re-anchors, ABC at 3..5
    assert run("(?1)(?2)(?3)", abc, "ABABC") == 1
    # repeated ref, non-overlapping greedy restart
    assert run("(?1)(?2)(?1)", "e = 'A', e = 'B'", "ABAABA") == 2
    # mixed .*-then-adjacent: fallback keeps the anchor, re-enters on B
    assert run("(?1).*(?2)(?3)", abc, "ABBC") == 1


def test_sequence_count_in_dialect(views):
    """sequenceCount('(?1)(?2)') counts greedy non-overlapping chains:
    A B A B -> 2, A A B B -> 1 (second B finds the matcher reset and no
    new A yet... re-armed by nothing), A B B A B -> 2."""
    q = translate(
        "WITH ev AS (SELECT * FROM VALUES "
        "  ('u1', 1, 'A'), ('u1', 2, 'B'), ('u1', 3, 'A'), ('u1', 4, 'B'),"
        "  ('u2', 1, 'A'), ('u2', 2, 'A'), ('u2', 3, 'B'), ('u2', 4, 'B'),"
        "  ('u3', 1, 'A'), ('u3', 2, 'B'), ('u3', 3, 'B'), ('u3', 4, 'A'),"
        "  ('u3', 5, 'B')"
        " AS t(u, ts, e))"
        " SELECT u, sequenceCount('(?1)(?2)')("
        "   CAST(ts AS TIMESTAMP), e = 'A', e = 'B') AS c"
        " FROM ev GROUP BY u ORDER BY u"
    ).sql
    assert {r["u"]: r["c"] for r in views.sql(q).collect()} == {
        "u1": 2,
        "u2": 1,
        "u3": 2,
    }
    # agrees with the operator's lag formulation on real data
    from ed_clickhouse_spark.operators.stats import sequence_count

    got = views.sql(
        translate(
            "SELECT user_id, sequenceCount('(?1)(?2)')("
            "  ts, event_type = 'view', event_type = 'purchase') AS matches"
            " FROM events GROUP BY user_id"
        ).sql
    ).where("matches > 0")
    want = sequence_count(
        views.table("events"),
        "ts",
        F.col("event_type") == "view",
        F.col("event_type") == "purchase",
        "user_id",
    )
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_with_fill_interpolate(views):
    """INTERPOLATE carries the previous present value into filled rows
    (bare form = every measure); leading filled rows get the 0 default;
    non-identity expressions and INTERPOLATE without WITH FILL refuse."""
    q = translate(
        "SELECT d, v FROM (SELECT * FROM VALUES (1, 10.0), (3, 30.0)"
        " AS t(d, v)) ORDER BY d WITH FILL FROM 0 TO 6 INTERPOLATE (v)"
    ).sql
    got = [(r["d"], float(r["v"])) for r in views.sql(q).collect()]
    assert got == [
        (0, 0.0),   # before the first present row: default fill
        (1, 10.0),
        (2, 10.0),  # carried forward
        (3, 30.0),
        (4, 30.0),
        (5, 30.0),  # TO is exclusive
    ]
    bare = translate(
        "SELECT d, v FROM (SELECT * FROM VALUES (1, 10.0), (3, 30.0)"
        " AS t(d, v)) ORDER BY d WITH FILL FROM 0 TO 5 INTERPOLATE"
    ).sql
    assert len(views.sql(bare).collect()) == 5
    with pytest.raises(ValueError, match="non-identity"):
        translate(
            "SELECT d, v FROM t ORDER BY d WITH FILL FROM 0 TO 5"
            " INTERPOLATE (v AS v + 1)"
        )
    with pytest.raises(ValueError, match="requires ORDER BY"):
        translate("SELECT d, v FROM t ORDER BY d INTERPOLATE (v)")


def test_sample_ratio_and_offset_forms(views):
    """SAMPLE accepts ClickHouse's ratio spelling (1/10) and OFFSET in
    either form; disjoint offsets partition the key's hash space exactly
    (the parallel-panel idiom: SAMPLE 1/4 OFFSET k/4 for k = 0..3)."""
    spec = parse_clickhouse_ddl(
        "CREATE TABLE events (event_id Int64, user_id Int64, value Float64)"
        " ENGINE = MergeTree() ORDER BY event_id SAMPLE BY user_id"
    )

    def u(q):
        return views.sql(translate(q, {"events": spec}).sql).first()["u"]

    full = views.sql("SELECT count(DISTINCT user_id) AS u FROM events").first()["u"]
    assert u("SELECT count(DISTINCT user_id) AS u FROM events SAMPLE 1/10") == u(
        "SELECT count(DISTINCT user_id) AS u FROM events SAMPLE 0.1"
    )
    quarters = [
        u(
            "SELECT count(DISTINCT user_id) AS u FROM events"
            f" SAMPLE 1/4 OFFSET {k}/4"
        )
        for k in range(4)
    ]
    assert sum(quarters) == full
    assert all(q > 0 for q in quarters)
    with pytest.raises(ValueError, match="OFFSET"):
        translate(
            "SELECT 1 FROM events SAMPLE 0.1 OFFSET 1.5", {"events": spec}
        )


def test_with_fill_subday_and_month_steps(views):
    """STEP INTERVAL generalizes beyond DAY: hourly spines over
    timestamps (TO exclusive at second granularity), monthly spines
    over dates, and composition with INTERPOLATE."""
    q = (
        "SELECT h, n FROM (SELECT TIMESTAMP'2024-01-01 03:00:00' AS h,"
        " 5 AS n) ORDER BY h WITH FILL FROM '2024-01-01 00:00:00'"
        " TO '2024-01-01 06:00:00' STEP INTERVAL 1 HOUR"
    )
    rows = views.sql(translate(q).sql).collect()
    assert len(rows) == 6 and rows[3]["n"] == 5
    q2 = (
        "SELECT m, n FROM (SELECT DATE'2024-03-01' AS m, 7 AS n)"
        " ORDER BY m WITH FILL FROM '2024-01-01' TO '2024-07-01'"
        " STEP INTERVAL 1 MONTH"
    )
    rows = views.sql(translate(q2).sql).collect()
    assert [str(r["m"])[:7] for r in rows] == [
        "2024-01", "2024-02", "2024-03", "2024-04", "2024-05", "2024-06"
    ]
    q3 = (
        "SELECT h, n FROM (SELECT TIMESTAMP'2024-01-01 02:00:00' AS h,"
        " 5 AS n) ORDER BY h WITH FILL FROM '2024-01-01 00:00:00'"
        " TO '2024-01-01 05:00:00' STEP INTERVAL 1 HOUR INTERPOLATE (n)"
    )
    assert [r["n"] for r in views.sql(translate(q3).sql).collect()] == [
        0, 0, 5, 5, 5
    ]


def test_position_argument_order(views):
    """ClickHouse position(haystack, needle[, start]) is the OPPOSITE of
    Spark's — the comma form flips to locate(); the SQL-standard
    position(x IN y) and string literals stay untouched."""
    r = views.sql(
        translate(
            "SELECT position('hello world', 'world') AS a, "
            "position('hello world', 'o', 6) AS b, "
            "position('w' IN 'hello world') AS c, "
            "'position(a, b)' AS lit"
        ).sql
    ).first()
    assert (r["a"], r["b"], r["c"], r["lit"]) == (7, 8, 7, "position(a, b)")


def test_format_datetime_percent_specifiers(views):
    """formatDateTime's %-format converts to the Java pattern (literal
    runs quoted, %% a literal percent, %i minutes vs %M month name per
    modern ClickHouse); unsupported specifiers refuse loudly."""
    r = views.sql(
        translate(
            "SELECT formatDateTime(TIMESTAMP'2024-03-05 07:08:09',"
            " '%Y-%m-%d %H:%i:%S') AS a,"
            " formatDateTime(TIMESTAMP'2024-03-05 07:08:09', '%F %T') AS b,"
            " formatDateTime(TIMESTAMP'2024-03-05 07:08:09',"
            " '%M %d, %Y') AS c,"
            " formatDateTime(TIMESTAMP'2024-03-05 07:08:09',"
            " 'at %H o''clock') AS d,"
            " formatDateTime(TIMESTAMP'2024-03-05 07:08:09', '100%% %p') AS e"
        ).sql
    ).first()
    assert r["a"] == "2024-03-05 07:08:09"
    assert r["b"] == "2024-03-05 07:08:09"
    assert r["c"] == "March 05, 2024"
    assert r["d"] == "at 07 o'clock"
    assert r["e"] == "100% AM"
    with pytest.raises(ValueError, match="no Spark pattern"):
        translate("SELECT formatDateTime(ts, '%u') FROM t")


def test_parse_datetime_value_transform_array_compact(views):
    """Round-4 polymorphic batch: parseDateTime[OrNull] with %-formats,
    numeric-epoch toDateTime, ClickHouse's value-mapping 3/4-arg
    transform vs Spark's 2-arg HOF, and type-preserving arrayCompact."""
    r = views.sql(
        translate(
            "SELECT parseDateTime('2024-03-05', '%Y-%m-%d') AS a,"
            " parseDateTimeOrNull('bogus', '%Y-%m-%d') AS b,"
            " toDateTime(1700000000) AS c,"
            " transform(2, [1, 2], ['a', 'b'], 'z') AS d,"
            " transform(9, [1, 2], [10, 20]) AS e,"
            " transform([1, 2, 3], y -> y * 2) AS f,"
            " arrayCompact([1, 1, 2, 2, 1]) AS g"
        ).sql
    ).first()
    assert str(r["a"]) == "2024-03-05 00:00:00" and r["b"] is None
    assert str(r["c"]) == "2023-11-14 22:13:20"
    assert r["d"] == "b" and r["e"] == 9
    assert r["f"] == [2, 4, 6]
    assert r["g"] == [1, 2, 1]  # ints, not stringified


def test_array_sort_reduce_forms(views):
    """arraySort/arrayReverseSort preserve element types and accept
    ClickHouse's lambda-first key form; arrayReduce maps literal
    aggregate names onto the JVM array builtins."""
    r = views.sql(
        translate(
            "SELECT arraySort([3, 1, 2]) AS a,"
            " arraySort(x -> -x, [3, 1, 2]) AS b,"
            " arrayReverseSort([3, 1, 2]) AS c,"
            " arrayReverse([1, 2, 3]) AS d,"
            " arrayReduce('max', [1, 5, 3]) AS e,"
            " arrayReduce('sum', [1, 2, 3]) AS f,"
            " arrayReduce('uniqExact', [1, 1, 2]) AS g"
        ).sql
    ).first()
    assert r["a"] == [1, 2, 3] and r["b"] == [3, 2, 1]
    assert r["c"] == [3, 2, 1] and r["d"] == [3, 2, 1]
    assert r["e"] == 5 and r["f"] == 6.0 and r["g"] == 2
    with pytest.raises(ValueError, match="not supported"):
        translate("SELECT arrayReduce('median', a) FROM t")


def test_array_splice_type_preservation(views):
    """The ClickHouse array-edit family rewrites generically instead of
    through stringifying ARRAY<STRING> aliases: slices, push/pop,
    resize, withConstant, difference/cumSum keep numeric elements
    numeric; the 2-arg arraySlice runs to the end."""
    r = views.sql(
        translate(
            "SELECT arraySlice([1,2,3,4,5], 2, 2) AS a,"
            " arraySlice([1,2,3,4,5], -2) AS b,"
            " arrayPushFront(arrayPushBack([2], 3), 1) AS c,"
            " arrayPopBack(arrayPopFront([1,2,3,4])) AS d,"
            " arrayResize([1,2], 4, 0) AS e,"
            " arrayWithConstant(2, 7) AS f,"
            " arrayDifference([1.5, 4.0, 9.0]) AS g,"
            " arrayCumSum([1, 2, 3]) AS h,"
            " arrayIntersect([3,1,2], [2,3,9]) AS i"
        ).sql
    ).first()
    assert r["a"] == [2, 3] and r["b"] == [4, 5]
    assert r["c"] == [1, 2, 3] and r["d"] == [2, 3]
    assert r["e"] == [1, 2, 0, 0] and r["f"] == [7, 7]
    assert r["g"] == [0.0, 2.5, 5.0]      # doubles, not bigint-truncated
    assert r["h"] == [1.0, 3.0, 6.0]      # double fold, documented
    assert r["i"] == [2, 3]


def test_map_accessors_ornull_and_minmax_map(views):
    """mapKeys/mapValues/mapContains rename to the JVM builtins;
    -OrNull combinators ARE Spark's empty-set behavior; minMap/maxMap
    merge per key like sumMap with a seeded fold."""
    r = views.sql(
        translate(
            "SELECT mapKeys(map('a', 1, 'b', 2)) AS ks,"
            " mapContains(map('a', 1), 'a') AS c,"
            " sumOrNull(x) AS so, maxOrNull(x) AS mo"
            " FROM (SELECT 1 AS x WHERE FALSE)"
        ).sql
    ).first()
    assert r["ks"] == ["a", "b"] and r["c"] is True
    assert r["so"] is None and r["mo"] is None
    r = views.sql(
        translate(
            "SELECT minMap(map(k, v)) AS lo, maxMap(map(k, v)) AS hi,"
            " sumMap(map(k, v)) AS s FROM"
            " (SELECT 'a' AS k, 3 AS v UNION ALL SELECT 'a', 1)"
        ).sql
    ).first()
    assert dict(r["lo"]) == {"a": 1.0}
    assert dict(r["hi"]) == {"a": 3.0}
    assert dict(r["s"]) == {"a": 4.0}


def test_limit_with_ties(views):
    """LIMIT n WITH TIES keeps the full tie group of the n-th sort key,
    via a scalar-subquery threshold over the distributed top-n (no
    global rank window); multi-key or orderless forms refuse."""
    base = "SELECT * FROM VALUES ('a', 3), ('b', 2), ('c', 2), ('d', 1) AS t(k, v) "
    rows = views.sql(
        translate(base + "ORDER BY v DESC LIMIT 2 WITH TIES").sql
    ).collect()
    assert [(r["k"], r["v"]) for r in rows] == [("a", 3), ("b", 2), ("c", 2)]
    rows = views.sql(
        translate(base + "ORDER BY v LIMIT 1 WITH TIES").sql
    ).collect()
    assert [(r["k"], r["v"]) for r in rows] == [("d", 1)]
    with pytest.raises(ValueError, match="single ORDER BY key"):
        translate("SELECT k, v FROM t ORDER BY k, v LIMIT 2 WITH TIES")
    with pytest.raises(ValueError, match="needs an ORDER BY"):
        translate("SELECT k FROM t LIMIT 2 WITH TIES")


def test_array_join_zips_parallel_items(views):
    """Multiple ARRAY JOIN items are PARALLEL arrays in ClickHouse —
    they zip positionally, they don't cross-product; the enumerate
    idiom rides along, and LEFT keeps empty-array rows."""
    got = views.sql(
        translate(
            "SELECT k, x, y FROM (SELECT 'a' AS k, array(1, 2) AS xs,"
            " array(10, 20) AS ys) ARRAY JOIN xs AS x, ys AS y"
        ).sql
    ).collect()
    assert [tuple(r) for r in got] == [("a", 1, 10), ("a", 2, 20)]
    got = views.sql(
        translate(
            "SELECT k, x, i FROM (SELECT 'a' AS k, array(7, 8) AS xs)"
            " ARRAY JOIN xs AS x, arrayEnumerate(xs) AS i"
        ).sql
    ).collect()
    assert [tuple(r) for r in got] == [("a", 7, 1), ("a", 8, 2)]
    got = views.sql(
        translate(
            "SELECT k, x FROM (SELECT 'a' AS k, array(1) AS xs"
            " UNION ALL SELECT 'b', array())"
            " LEFT ARRAY JOIN xs AS x ORDER BY k"
        ).sql
    ).collect()
    assert [tuple(r) for r in got] == [("a", 1), ("b", None)]


def test_long_tail_string_spellings(views):
    """Late round-4 long tail: toFixedString (lenient prefix),
    reverseUTF8, tryBase64Decode (NULL on invalid input)."""
    r = views.sql(
        translate(
            "SELECT toFixedString('ab', 4) AS a,"
            " reverseUTF8('olleh') AS b,"
            " tryBase64Decode('YWJj') AS c,"
            " tryBase64Decode('!!bad!!') AS d"
        ).sql
    ).first()
    assert (r["a"], r["b"], r["c"], r["d"]) == ("ab", "hello", "abc", None)


def test_moving_and_bit_aggregates(views):
    """groupArrayMovingSum/Avg(n)(x) fold windowed sums over the
    collected sequence (Avg divides by the full n, like ClickHouse);
    groupBit* map to Spark's bit aggregates."""
    r = views.sql(
        translate(
            "SELECT groupArrayMovingSum(2)(v) AS ms,"
            " groupArrayMovingAvg(2)(v) AS ma FROM"
            " (SELECT v FROM (SELECT 1 AS v, 1 AS o UNION ALL SELECT 2, 2"
            "  UNION ALL SELECT 3, 3) ORDER BY o)"
        ).sql
    ).first()
    assert r["ms"] == [1.0, 3.0, 5.0]
    assert r["ma"] == [0.5, 1.5, 2.5]
    r = views.sql(
        translate(
            "SELECT groupBitAnd(v) AS a, groupBitOr(v) AS o,"
            " groupBitXor(v) AS x FROM (SELECT 6 AS v UNION ALL SELECT 3)"
        ).sql
    ).first()
    assert (r["a"], r["o"], r["x"]) == (2, 7, 5)


def test_to_start_of_week_modes(views):
    """toStartOfWeek default mode 0 is SUNDAY-anchored (toMonday is the
    Monday one); even modes Sunday, odd modes Monday."""
    r = views.sql(
        translate(
            "SELECT toStartOfWeek(TIMESTAMP'2024-03-07 10:00:00') AS d0,"
            " toStartOfWeek(TIMESTAMP'2024-03-07 10:00:00', 1) AS d1,"
            " toStartOfWeek(TIMESTAMP'2024-03-07 10:00:00', 0) AS d0b,"
            " toMonday(TIMESTAMP'2024-03-07 10:00:00') AS mon"
        ).sql
    ).first()
    assert str(r["d0"]) == "2024-03-03"   # Thursday -> preceding Sunday
    assert str(r["d0b"]) == "2024-03-03"
    assert str(r["d1"]) == "2024-03-04"   # Monday mode
    assert str(r["mon"]) == "2024-03-04"


def test_array_first_last_index_family(views):
    """arrayFirst/arrayLast and their *Index forms: ANSI-safe on no
    match (NULL / ClickHouse's 0), lambda-first arg order, last-index
    correct across duplicated values."""
    r = views.sql(
        translate(
            "SELECT arrayFirst(y -> y > 1, [1, 2, 3]) AS a,"
            " arrayFirst(y -> y > 9, [1, 2]) AS an,"
            " arrayLast(y -> y > 1, [3, 1, 2]) AS b,"
            " arrayFirstIndex(y -> y > 1, [1, 2, 3]) AS fi,"
            " arrayLastIndex(y -> y > 1, [2, 1, 2]) AS li,"
            " arrayFirstIndex(y -> y > 9, [1, 2]) AS fz,"
            " arrayLastIndex(y -> y > 9, [1, 2]) AS lz,"
            " farmHash64('abc') IS NOT NULL AS h,"
            " toValidUTF8('ok') AS u"
        ).sql
    ).first()
    assert (r["a"], r["an"], r["b"]) == (2, None, 2)
    assert (r["fi"], r["li"], r["fz"], r["lz"]) == (2, 3, 0, 0)
    assert r["h"] is True and r["u"] == "ok"


def test_subscripts_ansi_safe_out_of_bounds(views):
    """ClickHouse returns the type default past the array bounds; ANSI
    element_at would THROW there — subscripts and arrayElement go
    through try_element_at (NULL, the Spark idiom for no value)."""
    r = views.sql(
        translate(
            "SELECT [1,2,3][2] AS a, [1,2,3][9] AS oob,"
            " [1,2,3][-1] AS neg, arrayElement([5,6], 9) AS ae"
        ).sql
    ).first()
    assert (r["a"], r["oob"], r["neg"], r["ae"]) == (2, None, 3, None)


def test_or_null_or_zero_conversions(views):
    """The to*OrNull/to*OrZero conversion family: unparseable input maps
    to NULL / 0 instead of the ANSI cast error the plain to* raises
    (matching ClickHouse's throw-vs-default split)."""
    r = views.sql(
        translate(
            "SELECT toInt32OrNull('abc') AS a, toInt32OrNull('42') AS b,"
            " toInt64OrZero('x') AS c, toUInt16OrZero('7') AS d,"
            " toDateOrNull('bogus') AS e,"
            " toFloat64OrNull('2.5') AS f"
        ).sql
    ).first()
    assert (r["a"], r["b"], r["c"], r["d"], r["e"], r["f"]) == (
        None, 42, 0, 7, None, 2.5
    )


def test_simple_json_family(views):
    """simpleJSON* (ClickHouse's flat-key fast scanner) answers like the
    JSONExtract* family on flat keys; JSONExtractArrayRaw splits a
    scalar json array into raw element strings."""
    j = '{"arr": [1, 2], "s": "x", "n": 7}'
    r = views.sql(
        translate(
            f"SELECT simpleJSONExtractString('{j}', 's') AS a,"
            f" simpleJSONExtractInt('{j}', 'n') AS b,"
            f" simpleJSONHas('{j}', 'n') AS c,"
            f" simpleJSONHas('{j}', 'zzz') AS d,"
            f" JSONExtractArrayRaw('{j}', 'arr') AS e"
        ).sql
    ).first()
    assert (r["a"], r["b"], r["c"], r["d"]) == ("x", 7, True, False)
    assert r["e"] == ["1", "2"]


def test_polymorphic_length_empty_over_arrays(views):
    """ClickHouse length/empty/notEmpty work on arrays too; the
    syntactically-evident array arguments route to size() while string
    arguments keep Spark's length, and 1-arg arrayStringConcat joins
    with the empty separator."""
    r = views.sql(
        translate(
            "SELECT length([1, 2, 3]) AS a, length('abc') AS b,"
            " length(splitByChar(',', 'a,b')) AS c,"
            " empty(CAST(array() AS ARRAY<INT>)) AS d, empty('') AS e,"
            " empty([1]) AS f, notEmpty(splitByChar(',', 'a,b')) AS g,"
            " arrayStringConcat(['a', 'b']) AS h"
        ).sql
    ).first()
    assert (r["a"], r["b"], r["c"]) == (3, 3, 2)
    assert (r["d"], r["e"], r["f"], r["g"]) == (True, True, False, True)
    assert r["h"] == "ab"
    # reverse is string-polymorphic in BOTH engines: length(reverse(s))
    # must stay Spark's string length (size(reverse(s)) fails analysis),
    # while reverse of an evident array still routes to size()
    r2 = views.sql(
        translate(
            "SELECT length(reverse('abc')) AS s,"
            " length(reverse([1, 2, 3])) AS a"
        ).sql
    ).first()
    assert (r2["s"], r2["a"]) == (3, 3)


def test_search_and_float_classifiers(views):
    """Late round-4 batch: countMatches, contiguous-subsequence
    hasSubstr, multiSearchFirstPosition (0 when nothing hits),
    splitByNonAlpha, and the isFinite/isInfinite/isNaN classifiers."""
    r = views.sql(
        translate(
            "SELECT countMatches('a1b2c3', '[0-9]') AS a,"
            " hasSubstr([1,2,3,4], [2,3]) AS b,"
            " hasSubstr([1,2,3,4], [2,4]) AS c,"
            " multiSearchFirstPosition('hello world', ['xx', 'wor']) AS d,"
            " multiSearchFirstPosition('hello', ['xx']) AS e,"
            " splitByNonAlpha('a1b c') AS f,"
            " isFinite(2.5) AS g, isInfinite(double('inf')) AS h,"
            " isNaN(double('nan')) AS i"
        ).sql
    ).first()
    assert (r["a"], r["b"], r["c"], r["d"], r["e"]) == (3, True, False, 7, 0)
    assert r["f"] == ["a", "b", "c"]
    assert (r["g"], r["h"], r["i"]) == (True, True, True)


def test_string_math_hash_random_battery(views):
    """Round-4 probe batch 1: string helpers, number theory, rounding,
    bitmask decomposition, and the literal-format rewrite."""
    r = views.sql(
        translate(
            "SELECT appendTrailingCharIfAbsent('dir', '/') AS a,"
            " appendTrailingCharIfAbsent('dir/', '/') AS b,"
            " positionCaseInsensitive('Hello', 'he') AS c,"
            " editDistance('abc', 'axc') AS d,"
            " firstLine('one\\ntwo') AS e,"
            " tokens('a-1 b!') AS f, alphaTokens('ab12cd') AS g,"
            " ngrams('abcd', 2) AS h, ngrams('a', 3) AS i,"
            " gcd(12, 18) AS j, lcm(4, 6) AS k, gcd(0, 7) AS l,"
            " roundDown(7.7, [1.0, 5.0, 10.0]) AS m,"
            " roundDown(0.5, [1.0, 5.0]) AS n,"
            " roundToExp2(17) AS o,"
            " bitmaskToList(10) AS p, bitmaskToArray(6) AS q,"
            " monthName(toDate('2024-03-05')) AS r,"
            " toLastDayOfMonth(toDate('2024-02-05')) AS s,"
            " format('{} and {0}!', 'x') AS t,"
            " char(72, 105) AS u,"
            " normalizeQuery(\"SELECT 12 FROM t WHERE s = 'ab'\") AS v"
        ).sql
    ).first()
    assert (r["a"], r["b"]) == ("dir/", "dir/")
    assert (r["c"], r["d"]) == (1, 1)
    assert r["e"] == "one"
    assert (r["f"], r["g"]) == (["a", "1", "b"], ["ab", "cd"])
    assert (r["h"], r["i"]) == (["ab", "bc", "cd"], [])
    assert (r["j"], r["k"], r["l"]) == (6, 12, 7)
    assert (r["m"], r["n"], r["o"]) == (5.0, 1.0, 16)
    assert (r["p"], r["q"]) == ("2,8", [2, 4])
    assert (r["r"], str(r["s"])) == ("March", "2024-02-29")
    assert (r["t"], r["u"]) == ("x and x!", "Hi")
    assert r["v"] == "SELECT ? FROM t WHERE s = ?"


def test_array_edit_rotate_shift_fold(views):
    """Round-4 probe batch 2: rotate/shift/resize with element-type
    zeros, fold, partial sort, splitByRegexp arg order."""
    r = views.sql(
        translate(
            "SELECT arrayRotateLeft([1,2,3,4], 1) AS a,"
            " arrayRotateLeft([1,2,3,4], -1) AS b,"
            " arrayRotateRight([1,2,3,4], 1) AS c,"
            " arrayShiftLeft([1,2,3], 1) AS d,"
            " arrayShiftLeft([1,2,3], -1) AS e,"
            " arrayShiftRight([1,2,3], 1, 9) AS f,"
            " arrayResize([1,2,3], 2) AS g, arrayResize([1,2], 4) AS h,"
            " arrayFold((acc, x) -> acc * 10 + x, [1,2,3], 0) AS i,"
            " arrayPartialSort(2, [3,1,2]) AS j,"
            " splitByRegexp('[0-9]+', 'a12b3c') AS k,"
            " arrayRotateLeft(CAST(array() AS ARRAY<INT>), 2) AS l"
        ).sql
    ).first()
    assert (r["a"], r["b"], r["c"]) == ([2, 3, 4, 1], [4, 1, 2, 3], [4, 1, 2, 3])
    assert (r["d"], r["e"], r["f"]) == ([2, 3, 0], [0, 1, 2], [9, 1, 2])
    assert (r["g"], r["h"]) == ([1, 2], [1, 2, 0, 0])
    assert r["i"] == 123
    assert r["j"] == [1, 2, 3]
    assert r["k"] == ["a", "b", "c"]
    assert r["l"] == []


def test_map_hofs_and_variadic_rewrites(views):
    """Round-4 probe batch 3: map HOFs (ClickHouse lambda-first order),
    map arithmetic, caseWithExpression, pointInEllipses."""
    r = views.sql(
        translate(
            "SELECT mapFilter((k, v) -> v > 1, map(1, 1, 2, 2)) AS a,"
            " mapApply((k, v) -> (k, v * 2), map(1, 3)) AS b,"
            " mapAdd(map('a', 1), map('a', 2, 'b', 5)) AS c,"
            " mapSubtract(map('a', 3), map('a', 1)) AS d,"
            " mapFromArrays([1, 2], ['x', 'y']) AS e,"
            " caseWithExpression(2, 1, 'a', 2, 'b', 'z') AS f,"
            " caseWithExpression(9, 1, 'a', 'z') AS g,"
            " pointInEllipses(1.0, 1.0, 0.0, 0.0, 2.0, 2.0) AS h,"
            " pointInEllipses(5.0, 5.0, 0.0, 0.0, 1.0, 1.0,"
            "                 5.0, 5.0, 1.0, 1.0) AS i"
        ).sql
    ).first()
    assert dict(r["a"]) == {2: 2}
    assert dict(r["b"]) == {1: 6}
    assert dict(r["c"]) == {"a": 3, "b": 5}
    assert dict(r["d"]) == {"a": 2}
    assert dict(r["e"]) == {1: "x", 2: "y"}
    assert (r["f"], r["g"]) == ("b", "z")
    assert (r["h"], r["i"]) == (True, True)


def test_geo_vector_ip_json_families(views):
    """Round-4 probe batch 4: haversine distances, Lp norms, IP/URL
    classifiers, JSON introspection, typed empty arrays, stats scalars."""
    r = views.sql(
        translate(
            "SELECT round(greatCircleDistance(0.0, 0.0, 0.0, 1.0) / 1000) AS a,"
            " LinfDistance([0.0, 0.0], [3.0, 4.0]) AS b,"
            " L2SquaredDistance([0.0, 0.0], [3.0, 4.0]) AS c,"
            " L1Norm([3.0, -4.0]) AS d, LinfNorm([3.0, -4.0]) AS e,"
            " L2Normalize([3.0, 4.0]) AS f,"
            " isIPv4String('1.2.3.4') AS g, isIPv4String('1.2.3.400') AS h,"
            " isIPv6String('2001:db8::1') AS i,"
            " domainWithoutWWW('https://www.ex.com/p') AS j,"
            " JSONLength('[1,2,3]') AS k, JSONLength('{\"a\":1,\"b\":2}') AS l,"
            " JSONType('[1]') AS m, JSONType('{\"a\":1}') AS n,"
            " JSONType('12') AS o, JSONType('1.5') AS p,"
            " emptyArrayInt32() AS q, emptyArrayString() AS s,"
            " round(erf(0.5), 6) AS t, round(normalQuantile(0.975), 4) AS u,"
            " round((proportionsZTest(10.0, 11.0, 100.0, 101.0, 0.95,"
            "        'unpooled')).p_value, 4) AS v"
        ).sql
    ).first()
    assert r["a"] == 111.0
    assert (r["b"], r["c"], r["d"], r["e"]) == (4.0, 25.0, 7.0, 4.0)
    assert r["f"] == [0.6, 0.8]
    assert (r["g"], r["h"], r["i"]) == (True, False, True)
    assert r["j"] == "ex.com"
    assert (r["k"], r["l"]) == (3, 2)
    assert (r["m"], r["n"], r["o"], r["p"]) == ("Array", "Object", "Int64", "Double")
    assert (r["q"], r["s"]) == ([], [])
    assert r["t"] == 0.5205
    assert r["u"] == 1.96
    assert r["v"] == 0.8363


def test_char_type_position_untouched():
    """`cast(x as char(10))` is a TYPE — the variadic char() rewrite
    must leave it alone (and 1-arg char stays the Spark builtin)."""
    out = translate("SELECT cast('ab' as char(10)) AS a, char(66) AS b").sql
    assert "char(10)" in out and "chr(10)" not in out
    assert "char(66)" in out


def test_detect_language_matches_operator(views):
    """The detectLanguage SQL alias is generated from the SAME stopword
    lists as operators.text.language_id — assert they agree row-for-row
    on real documents."""
    from ed_clickhouse_spark.operators.text import language_id

    docs = views.table("documents").limit(200).select("doc_id", "text")
    via_op = docs.select("doc_id", language_id("text").alias("lang"))
    docs.createOrReplaceTempView("__dl_docs")
    via_sql = views.sql(
        translate(
            "SELECT doc_id, detectLanguage(text) AS lang FROM __dl_docs"
        ).sql
    )
    diff = via_op.exceptAll(via_sql).count() + via_sql.exceptAll(via_op).count()
    assert diff == 0
    assert views.sql(
        translate("SELECT detectLanguage('the cat sat of the mat and it') AS r").sql
    ).first()["r"] == "en"
    assert views.sql(
        translate("SELECT detectLanguage('zzz qqq') AS r").sql
    ).first()["r"] == "und"


def test_aggregate_spellings_probe_batch(views):
    """Round-4 aggregate probe: stable-variant renames, medianExact,
    sumCount, countDistinct, sample moments, weighted/bounded folds,
    interval aggregates, delta sums, entropy, t-tests."""
    views.createDataFrame(
        [(i % 5, float(i), f"u{i % 7}", i % 2 == 0) for i in range(100)],
        "k int, v double, u string, flag boolean",
    ).createOrReplaceTempView("__agg_t")
    r = views.sql(
        translate(
            "SELECT medianExact(v) AS a, sumCount(v) AS b,"
            " countDistinct(u) AS c, stddevPopStable(v) AS d,"
            " sumWithOverflow(k) AS e,"
            " skewPop(v) AS f, kurtPop(v) AS g,"
            " skewSamp(v) AS h, kurtSamp(v) AS i,"
            " avgWeighted(v, k) AS j,"
            " boundingRatio(v, v * 2) AS l,"
            " simpleLinearRegression(v, v * 2 + 1) AS m,"
            " singleValueOrNull(k) AS n, singleValueOrNull(1) AS o,"
            " groupBitmap(u) AS p,"
            " entropy(flag) AS q"
            " FROM __agg_t"
        ).sql
    ).first()
    assert r["a"] == 49.5
    assert (r["b"]["sum"], r["b"]["count"]) == (4950.0, 100)
    assert (r["c"], r["e"]) == (7, 200)
    assert abs(r["d"] - 28.86607004772212) < 1e-9
    assert abs(r["f"]) < 1e-9  # uniform 0..99 is symmetric
    assert abs(r["g"] - 1.7997599759976) < 1e-6  # uniform kurtosis -> 1.8
    assert abs(r["h"]) < 1e-9
    assert abs(r["j"] - 50.5) < 1e-9  # sum(v*k)/sum(k) = 10100/200
    assert abs(r["l"] - 2.0) < 1e-9
    assert abs(r["m"]["k"] - 2.0) < 1e-9 and abs(r["m"]["b"] - 1.0) < 1e-9
    assert r["n"] is None and r["o"] == 1
    assert r["p"] == 7
    assert abs(r["q"] - 1.0) < 1e-12  # 50/50 boolean -> 1 bit


def test_aggregate_interval_and_delta_families(views):
    """intervalLengthSum / maxIntersections(Position) sweep folds and
    the deltaSum family over ordered sequences."""
    views.createDataFrame(
        [(1.0, 3.0), (2.0, 5.0), (7.0, 8.0)], "s double, e double"
    ).createOrReplaceTempView("__iv_t")
    r = views.sql(
        translate(
            "SELECT intervalLengthSum(s, e) AS a,"
            " maxIntersections(s, e) AS b,"
            " maxIntersectionsPosition(s, e) AS c FROM __iv_t"
        ).sql
    ).first()
    assert r["a"] == 5.0  # [1,5) U [7,8) = 4 + 1
    assert r["b"] == 2 and r["c"] == 2.0
    views.createDataFrame(
        [(1, 10.0), (2, 7.0), (3, 12.0), (4, 12.0)], "t int, v double"
    ).createOrReplaceTempView("__ds_t")
    r2 = views.sql(
        translate(
            "SELECT deltaSumTimestamp(v, t) AS a FROM __ds_t"
        ).sql
    ).first()
    assert r2["a"] == 5.0  # +0 (10->7 ignored), 7->12 = +5, 12->12 = 0
    r3 = views.sql(
        translate(
            "SELECT deltaSum(v) AS a FROM"
            " (SELECT v FROM __ds_t ORDER BY t)"
        ).sql
    ).first()
    assert r3["a"] == 5.0


def test_parametric_weighted_quantiles_and_folds(views):
    """quantileExactWeighted / quantileGK / quantileDeterministic,
    groupArrayLast, groupConcat, topKWeighted, t-tests."""
    views.createDataFrame(
        [(float(i), i % 3 + 1, i % 2) for i in range(1, 11)],
        "v double, w int, idx int",
    ).createOrReplaceTempView("__pw_t")
    r = views.sql(
        translate(
            "SELECT quantileExactWeighted(0.5)(v, w) AS a,"
            " quantileGK(100, 0.5)(v) AS b,"
            " quantileDeterministic(0.5)(v, w) AS c,"
            " quantileInterpolatedWeighted(0.5)(v, 1) AS d,"
            " groupConcat(',')(CAST(v AS INT)) AS e,"
            " groupConcat(CAST(idx AS STRING)) AS f,"
            " welchTTest(v, idx) AS g"
            " FROM (SELECT * FROM __pw_t ORDER BY v)"
        ).sql
    ).first()
    assert 5.0 <= r["a"] <= 6.0
    assert 5.0 <= r["b"] <= 6.0 and 5.0 <= r["c"] <= 6.0
    assert r["d"] == 5.5
    assert r["e"] == "1,2,3,4,5,6,7,8,9,10"
    assert r["f"] == "1010101010"
    # idx0 = evens (mean 6), idx1 = odds (mean 5), var_samp = 10 each:
    # t = (6-5)/sqrt(10/5 + 10/5) = 0.5
    assert abs(r["g"]["t_statistic"] - 0.5) < 1e-9
    assert 0.6 < r["g"]["p_value"] < 0.7  # 2*(1-Phi(0.5)) = 0.617
    r2 = views.sql(
        translate(
            "SELECT groupArrayLast(3)(v) AS a,"
            " topKWeighted(2)(CAST(v AS INT) % 2, w) AS b"
            " FROM (SELECT v, w FROM __pw_t ORDER BY v)"
        ).sql
    ).first()
    assert r2["a"] == [8.0, 9.0, 10.0]
    assert len(r2["b"]) == 2
    import pytest as _pytest
    with _pytest.raises(ValueError, match="mann_whitney_u"):
        translate("SELECT mannWhitneyUTest(v, idx) FROM __pw_t")
    with _pytest.raises(ValueError, match="lttb_downsample"):
        translate("SELECT largestTriangleThreeBuckets(4)(v, w) FROM __pw_t")


def test_qualify_and_window_dialect(views):
    """QUALIFY wrapper, lagInFrame frame-strip, nonNegativeDerivative
    as a window expression, generate_series / system.numbers TVFs."""
    views.createDataFrame(
        [(i, float(i * i)) for i in range(10)], "k int, v double"
    ).createOrReplaceTempView("__qw_t")
    rows = views.sql(
        translate(
            "SELECT k, sum(v) OVER (ORDER BY k) AS s FROM __qw_t"
            " QUALIFY s > 5 ORDER BY k LIMIT 3"
        ).sql
    ).collect()
    assert [r["k"] for r in rows] == [3, 4, 5]  # cumsum(k^2) > 5
    assert "__ch_qualify" not in rows[0].asDict()
    r = views.sql(
        translate(
            "SELECT k, lagInFrame(v) OVER (ORDER BY k ROWS BETWEEN"
            " UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS p"
            " FROM __qw_t ORDER BY k"
        ).sql
    ).collect()
    assert r[0]["p"] is None and r[2]["p"] == 1.0
    d = views.sql(
        translate(
            "SELECT nonNegativeDerivative(v, k) OVER (ORDER BY k) AS d"
            " FROM __qw_t ORDER BY k"
        ).sql
    ).collect()
    # v = k^2: derivative (k^2-(k-1)^2)/1 = 2k-1; first row NULL
    assert d[0]["d"] is None and d[3]["d"] == 5.0
    assert views.sql(
        translate("SELECT count() AS n FROM generate_series(1, 5)").sql
    ).first()["n"] == 5
    assert views.sql(
        translate(
            "SELECT max(number) AS m FROM"
            " (SELECT number FROM system.numbers LIMIT 4)"
        ).sql
    ).first()["m"] == 3
    import pytest as _pytest
    with _pytest.raises(ValueError, match="COLLATE"):
        translate("SELECT k FROM __qw_t ORDER BY k COLLATE 'en'")
    with _pytest.raises(ValueError, match="lead"):
        translate("SELECT neighbor(v, 1) FROM __qw_t")


def test_distinct_if_and_topk_if(views):
    """sumDistinctIf/avgDistinctIf template bases and topKIf."""
    views.createDataFrame(
        [(i % 4, i % 2 == 0) for i in range(12)], "k int, flag boolean"
    ).createOrReplaceTempView("__di_t")
    r = views.sql(
        translate(
            "SELECT sumDistinctIf(k, flag) AS a,"
            " avgDistinctIf(k, flag) AS b,"
            " topKIf(1)(CAST(k AS STRING), flag) AS c FROM __di_t"
        ).sql
    ).first()
    assert r["a"] == 2  # flag rows have k in {0, 2}
    assert r["b"] == 1.0
    assert r["c"] in (["0"], ["2"])  # both appear 3x; tie -> value asc
    assert r["c"] == ["0"]


def test_probe_batch5_date_corner_forms(views):
    """Round-5 probe batch: date arithmetic corner modes — quarter
    add/subtract, the unit-form date_sub Spark lacks, ClickHouse's
    interval overloads of date_add/timestamp_add, ISO-year start,
    days-since-year-zero, and Modified Julian Day round-trips."""
    r = views.sql(
        translate(
            "SELECT addQuarters(toDate('2024-01-01'), 1) AS a,"
            " date_sub(MONTH, 1, toDate('2024-03-31')) AS b,"
            " date_add(toDate('2024-01-01'), INTERVAL 2 DAY) AS c,"
            " timestamp_sub(toDate('2024-01-05'), INTERVAL 2 DAY) AS d,"
            " date_add(DAY, 3, toDate('2024-01-01')) AS e,"
            " date_sub(toDate('2024-01-10'), 3) AS f,"
            " toStartOfISOYear(toDate('2024-12-30')) AS g,"
            " toStartOfISOYear(toDate('2024-06-15')) AS h,"
            " toDaysSinceYearZero(toDate('1970-01-01')) AS i,"
            " toModifiedJulianDay('2024-01-01') AS j,"
            " fromModifiedJulianDay(60310) AS k"
        ).sql
    ).first()
    import datetime as dt

    assert r["a"] == dt.datetime(2024, 4, 1)
    assert r["b"] == dt.datetime(2024, 2, 29)  # month-end clamp
    assert r["c"] == dt.date(2024, 1, 3)
    assert r["d"] == dt.date(2024, 1, 3)
    assert r["e"] == dt.datetime(2024, 1, 4)   # native 3-arg add survives
    assert r["f"] == dt.date(2024, 1, 7)       # native 2-arg days survives
    # 2024-12-30 opens ISO year 2025; mid-2024 anchors at 2024-01-01
    assert r["g"] == dt.date(2024, 12, 30)
    assert r["h"] == dt.date(2024, 1, 1)
    assert r["i"] == 719528                    # CH's year-zero day count
    assert r["j"] == 60310 and r["k"] == dt.date(2024, 1, 1)


def test_probe_batch5_tuple_algebra(views):
    """Round-5 probe batch: tuple algebra over literal tuples —
    positional .N access, untuple expansion, concat, element-wise
    vector arithmetic, and Hamming distance. Non-literal arguments
    raise with the struct-field spelling to use."""
    r = views.sql(
        translate(
            "SELECT tuple(1, 2).1 AS a,"
            " tupleElement(tuple(7, 8), 2) AS b,"
            " tupleConcat(tuple(1), tuple(2, 3)) AS c,"
            " tuplePlus(tuple(1, 2), tuple(3, 4)) AS d,"
            " tupleMinus(tuple(5, 6), tuple(1, 2)) AS e,"
            " tupleMultiply(tuple(2, 3), tuple(4, 5)) AS f,"
            " tupleIntDiv(tuple(7, 9), tuple(2, 4)) AS g,"
            " tupleModulo(tuple(7, 9), tuple(2, 4)) AS h,"
            " tupleNegate(tuple(1, -2)) AS i,"
            " tupleHammingDistance(tuple(1, 2, 3), tuple(1, 9, 3)) AS j"
        ).sql
    ).first()
    assert r["a"] == 1 and r["b"] == 8
    assert tuple(r["c"]) == (1, 2, 3)
    assert tuple(r["d"]) == (4, 6) and tuple(r["e"]) == (4, 4)
    assert tuple(r["f"]) == (8, 15)
    assert tuple(r["g"]) == (3, 2) and tuple(r["h"]) == (1, 1)
    assert tuple(r["i"]) == (-1, 2)
    assert r["j"] == 1
    # untuple expands into the select list
    u = views.sql(translate("SELECT untuple(tuple(4, 5))").sql).first()
    assert (u[0], u[1]) == (4, 5)
    # arity unknowable from text -> loud refusal, not silent mistranslation
    import pytest as _pytest

    with _pytest.raises(ValueError, match="literal"):
        translate("SELECT tuplePlus(t, u) FROM x")


def test_probe_batch5_combinator_stacking(views):
    """Round-5 probe batch: stacked aggregate combinators — -ArrayIf,
    uniqArray family, groupArrayArray flattening, position-wise
    -ForEach (+If), and parameterized groupArraySample."""
    views.sql(
        "CREATE OR REPLACE TEMP VIEW __cb AS SELECT * FROM VALUES"
        " (1, 'a', array(1, 2, 3), true),"
        " (2, 'b', array(4, 5), false),"
        " (3, 'a', array(6), true) AS t(id, g, arr, flag)"
    )
    r = views.sql(
        translate(
            "SELECT uniqArray(arr) AS a, uniqArrayIf(arr, flag) AS b,"
            " sumArrayIf(arr, flag) AS c, avgArrayIf(arr, flag) AS d,"
            " sort_array(groupArrayArray(arr)) AS e,"
            " sort_array(groupUniqArrayArray(arr)) AS f,"
            " sumForEach(arr) AS g, maxForEach(arr) AS h,"
            " countForEach(arr) AS i, sumForEachIf(arr, flag) AS j"
            " FROM __cb"
        ).sql
    ).first()
    assert r["a"] == 6 and r["b"] == 4
    assert r["c"] == 12.0 and r["d"] == 3.0
    assert r["e"] == [1, 2, 3, 4, 5, 6] and r["f"] == [1, 2, 3, 4, 5, 6]
    # position-wise: [1+4+6, 2+5, 3]
    assert r["g"] == [11.0, 7.0, 3.0]
    assert r["h"] == [6, 5, 3] and r["i"] == [3, 2, 1]
    assert r["j"] == [7.0, 2.0, 3.0]  # rows 1 and 3 only
    s = views.sql(
        translate("SELECT groupArraySample(2)(g) AS s FROM __cb").sql
    ).first()["s"]
    assert len(s) == 2 and set(s) <= {"a", "b"}
    # seed parameter accepted (determinism comes from the md5 key)
    s2 = views.sql(
        translate("SELECT groupArraySample(2, 42)(g) AS s FROM __cb").sql
    ).first()["s"]
    assert s2 == s


def test_probe_batch6_map_hash_math(views):
    """Round-5 probe batch 6: map algebra (update/sort/populate-series/
    predicate HOFs), variadic bit probes, substringIndex, consistent-
    hash API shapes, intExp10, and the Lanczos lgamma/tgamma pair
    (checked against Python's libm to 9-10 digits, reflection branch
    included)."""
    import math

    r = views.sql(
        translate(
            "SELECT mapUpdate(map('a', 1), map('a', 9, 'b', 2)) AS a,"
            " mapExists((k, v) -> v > 1, map('a', 1, 'b', 2)) AS b,"
            " mapAll((k, v) -> v > 1, map('a', 1, 'b', 2)) AS c,"
            " mapSort(map('b', 2, 'a', 1)) AS d,"
            " mapPopulateSeries(map(1, 10, 4, 40)) AS e,"
            " mapPopulateSeries(map(1, 10, 3, 30), 5) AS f,"
            " substringIndex('www.example.com', '.', 2) AS g,"
            " bitTestAll(7, 0, 1) AS h, bitTestAll(5, 0, 1) AS i,"
            " bitTestAny(4, 0, 1) AS j, bitTestAny(5, 0, 1) AS k,"
            " intExp10(3) AS l,"
            " jumpConsistentHash(42, 8) AS m,"
            " round(lgamma(3.5), 10) AS n,"
            " round(tgamma(4.0), 9) AS o,"
            " round(tgamma(-0.5), 9) AS p,"
            " lgamma(-1.0) AS q,"
            " normalizedQueryHash('SELECT 1')"
            "   = normalizedQueryHash('SELECT 2') AS r"
        ).sql
    ).first()
    assert r["a"] == {"a": 9, "b": 2}
    assert r["b"] is True and r["c"] is False
    assert r["d"] == {"a": 1, "b": 2}
    assert r["e"] == {1: 10, 2: 0, 3: 0, 4: 40}
    assert r["f"] == {1: 10, 2: 0, 3: 30, 4: 0, 5: 0}
    assert r["g"] == "www.example"
    assert (r["h"], r["i"], r["j"], r["k"]) == (1, 0, 0, 1)
    assert r["l"] == 1000
    assert 0 <= r["m"] < 8
    assert r["n"] == round(math.lgamma(3.5), 10)
    assert r["o"] == 6.0
    assert r["p"] == round(math.gamma(-0.5), 9)
    assert r["q"] is None  # pole
    assert r["r"] is True  # literals normalize to the same shape


def test_probe_batch7_aggregate_corners(views):
    """Round-5 probe batch 7: the aggregate corner spellings —
    <agg>MappedArrays (the (keys, values) two-array form of sumMap),
    N x N moment matrices (corrMatrix/covar*Matrix), and
    groupArrayIntersect; categoricalInformationValue raises with the
    operator path."""
    views.sql(
        "CREATE OR REPLACE TEMP VIEW __b7 AS SELECT * FROM VALUES"
        " (1, 'a', 10.0, array(1, 2, 3)), (2, 'b', 20.0, array(2, 3, 4)),"
        " (3, 'a', 30.0, array(2, 3)) AS t(id, g, v, arr)"
    )
    r = views.sql(
        translate(
            "SELECT sumMappedArrays([g], [v]) AS a,"
            " maxMappedArrays([g], [v]) AS b,"
            " corrMatrix(id, v) AS c,"
            " covarSampMatrix(id, v) AS d,"
            " groupArrayIntersect(arr) AS e"
            " FROM __b7"
        ).sql
    ).first()
    assert r["a"] == {"a": 40.0, "b": 20.0}
    assert r["b"] == {"a": 30.0, "b": 20.0}
    assert r["c"] == [[1.0, 1.0], [1.0, 1.0]]
    assert r["d"] == [[1.0, 10.0], [10.0, 100.0]]
    assert sorted(r["e"]) == [2, 3]
    with pytest.raises(ValueError, match="contingency"):
        translate("SELECT categoricalInformationValue(a, b) FROM t")


def test_probe_batch8_array_string_corners(views):
    """Round-5 probe batch 8: array geometry/sampling corners and the
    UTF8-suffixed string spellings (Spark's builtins are already
    codepoint-aware, so those are renames)."""
    r = views.sql(
        translate(
            "SELECT arrayShingles([1, 2, 3, 4], 2) AS a,"
            " arrayDotProduct([1, 2, 3], [4, 5, 6]) AS b,"
            " arrayAUC([0.1, 0.4, 0.35, 0.8], [0, 0, 1, 1]) AS c,"
            " size(arrayRandomSample([1, 2, 3, 4], 2)) AS d,"
            " editDistanceUTF8('kitten', 'sitting') AS e,"
            " startsWithUTF8('abc', 'ab') AS f,"
            " translateUTF8('abc', 'ab', 'xy') AS g,"
            " regexpExtract('a1b2', '[0-9]', 0) AS h,"
            " countSubstringsCaseInsensitive('AbaB', 'ab') AS i,"
            " isValidUTF8('abc') AS j,"
            " round(stringJaccardIndex('apple', 'applet'), 4) AS k,"
            " round(ngramDistance('hello', 'hello'), 4) AS l,"
            " round(ngramSearch('hello world', 'world'), 4) AS m"
        ).sql
    ).first()
    assert r["a"] == [[1, 2], [2, 3], [3, 4]]
    assert r["b"] == 32.0
    assert r["c"] == 0.75  # the ClickHouse docs' own example value
    assert r["d"] == 2
    assert r["e"] == 3
    assert r["f"] is True and r["g"] == "xyc" and r["h"] == "1"
    assert r["i"] == 2 and r["j"] is True
    assert r["k"] == 0.8
    assert r["l"] == 0.0 and r["m"] == 1.0


def test_probe_batch9_json_url_ip_uuid(views):
    """Round-5 probe batch 9: JSON multi-key paths + element typing,
    the URL cut/extract tails, IPv4 OrNull/CIDR forms, and UUID
    binary round-trips."""
    r = views.sql(
        translate(
            "SELECT JSONType('{\"b\": {\"x\": 2}}', 'b') AS a,"
            " JSONType('{\"s\": \"y\"}', 's') AS b,"
            " JSONExtractInt('{\"b\": {\"c\": 7}}', 'b', 'c') AS c,"
            " JSONHas('{\"b\": {\"c\": 1}}', 'b', 'c') AS d,"
            " JSONExtractKeys('{\"a\": 1, \"b\": 2}') AS e,"
            " isValidJSON('nope') AS f,"
            " JSONArrayLength('[1, 2, 3]') AS g,"
            " cutQueryStringAndFragment('http://x.com/p?a=1#f') AS h,"
            " cutWWW('http://www.x.com') AS i,"
            " netloc('http://user@x.com:8080/p') AS j,"
            " firstSignificantSubdomain('http://news.yandex.com.tr/p') AS k,"
            " extractURLParameterNames('http://x.com/p?a=1&b=2') AS l,"
            " encodeURLComponent('a b') AS m,"
            " IPv4StringToNumOrNull('bad') AS n,"
            " toIPv4('1.2.3.4') AS o,"
            " IPv4CIDRToRange(toIPv4('192.168.5.2'), 16).lo AS p,"
            " UUIDNumToString(UUIDStringToNum("
            "   '61f0c404-5cb3-11e7-907b-a6006ad3dba0')) AS q"
        ).sql
    ).first()
    assert r["a"] == "Object" and r["b"] == "String"
    assert r["c"] == 7 and r["d"] is True
    assert r["e"] == ["a", "b"]
    assert r["f"] is False and r["g"] == 3
    assert r["h"] == "http://x.com/p" and r["i"] == "http://x.com"
    assert r["j"] == "user@x.com:8080" and r["k"] == "yandex"
    assert r["l"] == ["a", "b"] and r["m"] == "a%20b"
    assert r["n"] is None and r["o"] == 16909060
    assert r["p"] == 3232235520  # 192.168.0.0
    assert r["q"] == "61f0c404-5cb3-11e7-907b-a6006ad3dba0"


def test_probe_batch10_round_geo_time_tails(views):
    """Round-5 probe batch 10: the rounding buckets, readable decimal
    sizes, central-angle geo, OrNull element access, parameterized
    decimal casts, make_date spellings, time-slot spines, and
    ray-casting pointInPolygon over literal vertex lists."""
    import datetime as dt

    r = views.sql(
        translate(
            "SELECT roundAge(20) AS a, roundDuration(250) AS b,"
            " formatReadableDecimalSize(1234567) AS c,"
            " round(greatCircleAngle(0.0, 0.0, 10.0, 0.0), 2) AS d,"
            " arrayElementOrNull([1, 2], 0) AS e,"
            " arrayElementOrNull([1, 2], -1) AS f,"
            " CAST(toDecimal64('3.14159', 2) AS DOUBLE) AS g,"
            " makeDate(2024, 2, 29) AS h,"
            " makeDateTime(2024, 1, 2, 3, 4, 5) AS i,"
            " size(timeSlots(toDateTime('2024-03-05 06:00:00'), 3600)) AS j,"
            " pointInPolygon((0.5, 0.5),"
            "   [(0, 0), (1, 0), (1, 1), (0, 1)]) AS k,"
            " pointInPolygon((2.5, 0.5),"
            "   [(0, 0), (1, 0), (1, 1), (0, 1)]) AS l,"
            " parseDateTime64BestEffort('2024-01-02 03:04:05') AS m"
        ).sql
    ).first()
    assert r["a"] == 18 and r["b"] == 240
    assert r["c"] == "1.23 MB"
    assert r["d"] == 10.0  # self-consistent haversine round-trip
    assert r["e"] is None and r["f"] == 2
    assert r["g"] == 3.14
    assert r["h"] == dt.date(2024, 2, 29)
    assert r["i"] == dt.datetime(2024, 1, 2, 3, 4, 5)
    assert r["j"] == 3
    assert r["k"] is True and r["l"] is False
    assert r["m"] == dt.datetime(2024, 1, 2, 3, 4, 5)


def test_probe_batch11_array_hof_tails(views):
    """Round-5 probe batch 11: fill-forward/backward over predicate
    stretches, OrNull first/last, dense enumeration, unaligned zip,
    insert/symmetric-difference/union, variadic intersect, and the
    deterministic shuffle family."""
    r = views.sql(
        translate(
            "SELECT arrayFill(x -> x IS NOT NULL, [1, NULL, NULL, 4]) AS a,"
            " arrayReverseFill(x -> x IS NOT NULL, [1, NULL, NULL, 4]) AS b,"
            " arrayFirstOrNull(x -> x > 9, [1, 2, 3]) AS c,"
            " arrayLastOrNull(x -> x > 1, [1, 2, 3]) AS d,"
            " arrayEnumerateDense([10, 20, 10]) AS e,"
            " arrayInsert([1, 2], 2, 9) AS f,"
            " arraySymmetricDifference([1, 2], [2, 3]) AS g,"
            " arrayUnion([1, 2], [2, 3]) AS h,"
            " arrayIntersect([1, 2, 3], [2, 3, 4], [3]) AS i,"
            " sort_array(arrayShuffle([3, 1, 2])) AS j,"
            " size(arrayZipUnaligned([1, 2], ['a'])) AS k"
        ).sql
    ).first()
    assert r["a"] == [1, 1, 1, 4]
    assert r["b"] == [1, 4, 4, 4]
    assert r["c"] is None and r["d"] == 3
    assert r["e"] == [1, 2, 1]
    assert r["f"] == [1, 9, 2]
    assert r["g"] == [1, 3]
    assert sorted(r["h"]) == [1, 2, 3]
    assert r["i"] == [3]
    assert r["j"] == [1, 2, 3]
    assert r["k"] == 2  # NULL-padded to the longer side


def test_probe_batch12_generalized_if_combinator(views):
    """Round-5 probe batch 12: the -If combinator now composes with
    EVERY aggregate spelling — renamed builtins, same-name builtins,
    splice-composed aggregates (deltaSum/entropy/avgWeighted/moment
    corrections), the sumMap family, -OrNull, and Kahan."""
    views.sql(
        "CREATE OR REPLACE TEMP VIEW __b12 AS SELECT * FROM VALUES"
        " (1, 'a', 10.0, true), (2, 'b', 20.0, false),"
        " (3, 'a', 30.0, true) AS t(id, g, v, flag)"
    )
    r = views.sql(
        translate(
            "SELECT uniqCombinedIf(g, flag) AS a,"
            " stddevPopIf(v, flag) AS b,"
            " corrIf(id, v, flag) AS c,"
            " groupBitOrIf(id, flag) AS d,"
            " sumKahanIf(v, flag) AS e,"
            " deltaSumIf(v, flag) AS f,"
            " round(entropyIf(g, flag), 6) AS g,"
            " CAST(avgWeightedIf(v, id, flag) AS DOUBLE) AS h,"
            " sumMapIf(map(g, v), flag) AS i,"
            " sumMappedArraysIf([g], [v], flag) AS j,"
            " sumOrNullIf(v, id > 99) AS k,"
            " kurtPopIf(v, flag) AS l"
            " FROM __b12"
        ).sql
    ).first()
    assert r["a"] == 1
    assert r["b"] == 10.0      # pop stddev of {10, 30}
    assert r["c"] == 1.0
    assert r["d"] == 3         # 1 | 3
    assert float(r["e"]) == 40.0
    assert r["f"] == 20.0      # 10 -> 30 positive delta
    assert r["g"] == 0.0       # single symbol among matching rows
    assert r["h"] == 25.0      # (10*1 + 30*3) / 4
    assert r["i"] == {"a": 40.0} and r["j"] == {"a": 40.0}
    assert r["k"] is None      # OrNull over an empty matching set
    assert r["l"] == 1.0       # two equidistant points


def test_probe_batch13_timezone_week_tails(views):
    """Round-5 probe batch 13: timezone introspection/conversion under
    the pinned-UTC session, sub-second truncation, mode-parameterized
    toDayOfWeek, last-day-of-week, and MySQL-style toYearWeek (week-0
    days belong to the previous year's final week — 2023-12-31 is a
    Sunday, so 2024-01-01 sits in week 53 of 2023)."""
    import datetime as dt

    r = views.sql(
        translate(
            "SELECT timeZone() AS a,"
            " toTimeZone(toDateTime('2024-01-02 03:22:05'),"
            "   'America/New_York') AS b,"
            " toMillisecond(toDateTime64('2024-01-02 03:04:05.123', 3)) AS c,"
            " toLastDayOfWeek(toDate('2024-03-05')) AS d,"
            " toDayOfWeek(toDate('2024-03-05')) AS e,"
            " toDayOfWeek(toDate('2024-03-05'), 1) AS f,"
            " toDayOfWeek(toDate('2024-03-05'), 2) AS g,"
            " toYearWeek(toDate('2024-01-01')) AS h,"
            " toYearWeek(toDate('2024-03-05')) AS i,"
            " toUTCTimestamp(toDateTime('2024-01-02 03:04:05'),"
            "   'Asia/Shanghai') AS j"
        ).sql
    ).first()
    assert r["a"] == "UTC"
    assert r["b"] == dt.datetime(2024, 1, 1, 22, 22, 5)
    assert r["c"] == 123
    assert r["d"] == dt.date(2024, 3, 9)  # Saturday of the Sunday week
    assert (r["e"], r["f"], r["g"]) == (2, 1, 3)  # Tue in three modes
    assert r["h"] == 202353 and r["i"] == 202409
    assert r["j"] == dt.datetime(2024, 1, 1, 19, 4, 5)


def test_probe_batch14_star_replace_modifier(views):
    """Round-5 probe batch 14: the SELECT-list star modifiers —
    * REPLACE rewrites schema-free onto Spark's native * EXCEPT
    (replaced columns move to the end, a name-invisible position
    deviation); APPLY/COLUMNS need schema and refuse loudly."""
    views.sql(
        "CREATE OR REPLACE TEMP VIEW __b14 AS"
        " SELECT * FROM VALUES (1, 2.0, 'x') AS t(id, aa, s)"
    )
    r = views.sql(
        translate("SELECT * REPLACE (id * 10 AS id) FROM __b14").sql
    ).first().asDict()
    assert r["id"] == 10 and r["s"] == "x"
    r2 = views.sql(
        translate(
            "SELECT * EXCEPT (s) REPLACE (id + 1 AS id) FROM __b14"
        ).sql
    ).first().asDict()
    assert r2["id"] == 2 and "s" not in r2
    # without a registered schema the star modifiers still refuse loudly
    with pytest.raises(ValueError, match="APPLY"):
        translate("SELECT * APPLY (max) FROM t")
    with pytest.raises(ValueError, match="COLUMNS"):
        translate("SELECT COLUMNS('^a') FROM t")


def test_star_apply_columns_expand_with_schema(views):
    """* APPLY (f) and COLUMNS('re') expand against the registered
    table schema (r6): output columns keep ClickHouse's literal names
    (`max(col)`), EXCEPT composes on either side of APPLY, APPLY
    chains nest, parametric fns route through the agg-spelling pass,
    and unknown tables / joins / lambdas keep the loud refusal."""
    views.sql(
        "CREATE OR REPLACE TEMP VIEW __sapp AS"
        " SELECT * FROM VALUES (1, 2.0, 'x'), (3, 4.0, 'y') AS t(id, val, s)"
    )
    specs = {"__sapp": ["id", "val", "s"]}
    r = views.sql(
        translate(
            "SELECT * EXCEPT (s) APPLY (max) FROM __sapp", specs
        ).sql
    ).first().asDict()
    assert r == {"max(id)": 3, "max(val)": 4.0}
    r2 = views.sql(
        translate(
            "SELECT s, COLUMNS('^(id|val)$') APPLY (sum) FROM __sapp"
            " GROUP BY s ORDER BY s",
            specs,
        ).sql
    ).first().asDict()
    assert r2 == {"s": "x", "sum(id)": 1, "sum(val)": 2.0}
    # plain COLUMNS projection, no APPLY
    assert views.sql(
        translate("SELECT COLUMNS('^id$') FROM __sapp", specs).sql
    ).columns == ["id"]
    # APPLY chain nests outermost-last
    r3 = views.sql(
        translate(
            "SELECT * EXCEPT (id, s) APPLY (max) APPLY (toString)"
            " FROM __sapp",
            specs,
        ).sql
    ).first().asDict()
    assert r3 == {"toString(max(val))": "4.0"}
    # refusals survive: unknown table, join ambiguity, lambda
    with pytest.raises(ValueError, match="APPLY"):
        translate("SELECT * APPLY (max) FROM elsewhere", specs)
    with pytest.raises(ValueError, match="APPLY"):
        translate(
            "SELECT * APPLY (max) FROM __sapp a JOIN __sapp b ON a.id = b.id",
            specs,
        )
    with pytest.raises(ValueError, match="lambda"):
        translate("SELECT * APPLY (x -> round(x, 2)) FROM __sapp", specs)
    with pytest.raises(ValueError, match="no column"):
        translate("SELECT COLUMNS('zzz') FROM __sapp", specs)
    # aliased comma join: `FROM a x, b y` is a multi-table FROM even
    # though no comma directly follows the first table token — must
    # refuse, not silently expand against the first table only
    specs2 = dict(specs, __other=["oid"])
    for sql in (
        "SELECT * APPLY (max) FROM __sapp a, __other b",
        "SELECT * APPLY (max) FROM __sapp, __other",
        "SELECT COLUMNS('^id$') APPLY (max) FROM __sapp a, __other b",
    ):
        with pytest.raises(ValueError, match="APPLY|COLUMNS"):
            translate(sql, specs2)
    # ...but commas later in the statement (IN lists, ORDER BY) don't
    # trip the comma-join guard
    assert "max(id)" in translate(
        "SELECT * APPLY (max) FROM __sapp WHERE id IN (1, 2, 3)", specs
    ).sql


def test_star_apply_tablespec_hides_computed_columns():
    """Through the engine path (specs = ddl.TableSpec) the star set
    matches ClickHouse's: MATERIALIZED and ALIAS columns are excluded
    from * expansion."""
    from ed_clickhouse_spark.ddl import parse_clickhouse_ddl

    spec = parse_clickhouse_ddl(
        """
        CREATE TABLE docs (
            id UInt64,
            title String,
            title_upper String MATERIALIZED upper(title),
            n_chars Int64 ALIAS length(title)
        ) ENGINE = MergeTree ORDER BY id
        """
    )
    out = translate("SELECT * APPLY (max) FROM docs", {"docs": spec}).sql
    assert "max(id)" in out and "max(title)" in out
    assert "title_upper" not in out and "n_chars" not in out


def test_probe_batch15_nullable_bit_misc(views):
    """Round-5 probe batch 15: finite/zero-null guards, the named
    bitwise family (incl. 64-bit rotates and Hamming distances over
    ints and byte strings), case-insensitive match counting, and
    printable-random generation."""
    r = views.sql(
        translate(
            "SELECT ifNotFinite(double('nan'), 9.0) AS a,"
            " isZeroOrNull(0) AS b,"
            " bitAnd(12, 10) AS c, bitXor(12, 10) AS d,"
            " bitRotateLeft(1, 1) AS e, bitRotateRight(2, 1) AS f,"
            " bitHammingDistance(5, 3) AS g,"
            " byteHammingDistance('abc', 'abd') AS h,"
            " byteHammingDistance('abc', 'ab') AS i,"
            " countMatchesCaseInsensitive('AbAb', 'ab') AS j,"
            " length(randomPrintableASCII(5)) AS k,"
            " isNotDistinctFrom(NULL, NULL) AS l"
        ).sql
    ).first()
    assert r["a"] == 9.0 and r["b"] is True
    assert (r["c"], r["d"]) == (8, 6)
    assert (r["e"], r["f"]) == (2, 1)
    assert r["g"] == 2
    assert (r["h"], r["i"]) == (1, 1)  # padded tail counts as a diff
    assert r["j"] == 2 and r["k"] == 5
    assert r["l"] is True


def test_probe_batch16_identity_introspection(views):
    """Round-5 probe batch 16: encoding/no-op identities
    (toLowCardinality/identity/ignore), session introspection renames,
    and the 128/256-bit integer spellings on DECIMAL(38,0)."""
    r = views.sql(
        translate(
            "SELECT toLowCardinality('x') AS a, identity(7) AS b,"
            " ignore(1, 2) AS c, currentDatabase() AS d,"
            " CAST(toInt128('123456789012345678901234567890')"
            "   AS STRING) AS e,"
            " CAST(toUInt256('5') AS INT) AS f"
        ).sql
    ).first()
    assert r["a"] == "x" and r["b"] == 7 and r["c"] == 0
    assert r["d"] == "default"
    assert r["e"] == "123456789012345678901234567890"
    assert r["f"] == 5


def test_probe_batch17_string_token_tails(views):
    """Round-5 probe batch 17: UTF8-suffixed pad/slice renames,
    injective-concat alias, word-boundary hasToken membership, and the
    multiSearch position/case-insensitive forms."""
    r = views.sql(
        translate(
            "SELECT leftPadUTF8('x', 3, '_') AS a,"
            " rightUTF8('hello', 2) AS b,"
            " mid('hello', 2, 3) AS c,"
            " hasToken('a bb c', 'bb') AS d,"
            " hasToken('abbc', 'bb') AS e,"
            " hasTokenCaseInsensitive('a BB c', 'bb') AS f,"
            " multiSearchAllPositions('hello', ['l', 'he', 'zz']) AS g,"
            " multiSearchAnyCaseInsensitive('Hello', ['HEL']) AS h,"
            " concatWithSeparatorAssumeInjective('-', 'a', 'b') AS i"
        ).sql
    ).first()
    assert r["a"] == "__x" and r["b"] == "lo" and r["c"] == "ell"
    assert r["d"] is True and r["e"] is False and r["f"] is True
    assert r["g"] == [3, 1, 0]  # 0 = not found, CH convention
    assert r["h"] is True and r["i"] == "a-b"


def test_probe_batch18_runtime_tails(views):
    """Round-6 execution probe: spellings that TRANSLATED but died at
    run time with UNRESOLVED_ROUTINE (the probe ran every candidate
    end-to-end, not just through translate). 64-bit epoch spellings,
    addInterval, toDecimalString, extractAllGroups*, 2-D Morton
    round-trip, UUIDv7 shape — plus the per-row-DP string metrics and
    time-decayed aggregates now refusing loudly with pointers."""
    import re as _re

    views.sql(
        "SELECT CAST('2024-03-05 10:22:33' AS TIMESTAMP) AS ts,"
        " 0.5 AS w, 3 AS x, 5 AS y"
    ).createOrReplaceTempView("__b18")

    def run(expr):
        return views.sql(
            translate(f"SELECT {expr} AS r FROM __b18").sql
        ).first()["r"]

    assert run("toUnixTimestamp64Milli(ts)") == 1709634153000
    assert run("toUnixTimestamp64Nano(ts)") == 1709634153000000000
    assert str(run("fromUnixTimestamp64Milli(toInt64(1709634153000))")) \
        == "2024-03-05 10:22:33"
    assert str(run("addInterval(ts, INTERVAL 1 DAY)")).startswith("2024-03-06")
    assert run("toDecimalString(w, 3)") == "0.500"
    assert run("extractAllGroupsVertical('a1 b2', '([a-z])(\\\\d)')") \
        == [["a", "1"], ["b", "2"]]
    assert run("extractAllGroupsHorizontal('a1 b2', '([a-z])(\\\\d)')") \
        == [["a", "b"], ["1", "2"]]
    # '(' inside a character class is a literal, not a capturing group —
    # the group counter must skip bracket expressions or it emits an
    # out-of-range regexp_extract_all group index that dies at run time
    assert run("extractAllGroupsVertical('(a (b', '[(](\\\\w)')") \
        == [["a"], ["b"]]
    assert run("extractAllGroupsHorizontal('x=1;y=2', '([a-z])[=](\\\\d)')") \
        == [["x", "y"], ["1", "2"]]
    assert run("mortonEncode(toUInt32(x), toUInt32(y))") == 39
    assert run("mortonDecode(2, 39).col1") == 3
    assert run("mortonDecode(2, 39).col2") == 5
    u = run("generateUUIDv7()")
    assert _re.fullmatch(
        r"[0-9a-f]{8}-[0-9a-f]{4}-7[0-9a-f]{3}-[89ab][0-9a-f]{3}-[0-9a-f]{12}",
        u,
    )
    # damerau/jaro/base58 graduated from refusals to registered pandas
    # UDFs (functions/strdist.py) — the rename is pinned here, execution
    # in tests/test_strdist.py
    assert "ch_damerau_levenshtein(" in translate(
        "SELECT damerauLevenshteinDistance(a, b) FROM t"
    ).sql
    assert "ch_jaro_winkler(" in translate(
        "SELECT jaroWinklerSimilarity(a, b) FROM t"
    ).sql
    assert "ch_base58_encode(" in translate(
        "SELECT base58Encode('x') FROM t"
    ).sql
    # loud refusals with pointers (previously UNRESOLVED_ROUTINE/parse)
    for bad, hint in [
        ("exponentialTimeDecayedAvg(10)(w, ts)", "exponential_moving_average"),
        ("mortonDecode(3, x)", "2 dimensions"),
        ("toDecimalString(w, y)", "literal scale"),
        ("extractAllGroupsVertical(s, concat(a, b))", "literal pattern"),
    ]:
        with pytest.raises(ValueError, match=hint):
            translate(f"SELECT {bad} FROM t")


def test_probe_batch19_runtime_tails(views):
    """Round-6 execution probe, batch 19 (~117 spellings end-to-end):
    2-arg pads, first-occurrence replaces, numeric trunc, clamped
    cumsum, max2/min2, intHash32/64, hostName, timestampDiff (quoted
    and unquoted units), significant-subdomain family, and interval
    arithmetic via toIntervalDay."""
    views.sql(
        "SELECT 7 AS x, 3 AS y,"
        " CAST('2024-03-05 10:22:33' AS TIMESTAMP) AS ts,"
        " 'hello world' AS s"
    ).createOrReplaceTempView("__b19")

    def run(expr):
        return views.sql(
            translate(f"SELECT {expr} AS r FROM __b19").sql
        ).first()["r"]

    assert run("arrayCumSumNonNegative([1,-2,3])") == [1.0, 0.0, 3.0]
    assert run("rightPad(s, 13)") == "hello world  "
    assert run("leftPad(s, 13)") == "  hello world"
    assert run("replaceOne('ababab', 'ab', 'X')") == "Xabab"
    assert run("replaceRegexpOne('a11b22', '[0-9]+', '#')") == "a#b22"
    assert run("trunc(-2.7)") == -2.0 and run("trunc(2.7)") == 2.0
    assert run("max2(x, y)") == 7.0 and run("min2(x, y)") == 3.0
    assert 0 <= run("intHash32(x)") < 2**32
    assert run("intHash64(x)") is not None
    assert len(run("hostName()")) > 0
    assert run("timestampDiff(hour, ts, addHours(ts, 5))") == 5
    assert run("timestampDiff('hour', ts, addHours(ts, 5))") == 5
    assert run(
        "firstSignificantSubdomain('https://news.example.com/x')"
    ) == "example"
    assert run(
        "cutToFirstSignificantSubdomain('https://news.example.com/x')"
    ) == "example.com"
    assert run("ts + toIntervalDay(2) > ts") is True
    # first-match splice limits refuse loudly
    with pytest.raises(ValueError, match="context"):
        translate("SELECT replaceRegexpOne(s, '^a', 'X') FROM t")
    with pytest.raises(ValueError, match="literal"):
        translate("SELECT replaceRegexpOne(s, p, 'X') FROM t")
    with pytest.raises(ValueError, match="backreference"):
        translate("SELECT replaceRegexpOne(s, 'a', '\\\\1') FROM t")


def test_probe_batch20_vector_and_id_tails(views):
    """Round-6 execution probe, batch 20: vector normalization, the
    snowflake-ID pairs (legacy Twitter epoch + new explicit-epoch
    forms, round-tripped), toXOrDefault try-casts, toJSONString, and
    days-since-year-zero inversion. byteSize/bitSlice/
    tupleToNameValuePairs refuse loudly."""
    import datetime as _dt

    views.sql(
        "SELECT CAST('2024-03-05 10:22:33' AS TIMESTAMP) AS ts,"
        " array(3.0, 4.0) AS v"
    ).createOrReplaceTempView("__b20")

    def run(expr):
        return views.sql(
            translate(f"SELECT {expr} AS r FROM __b20").sql
        ).first()["r"]

    assert run("normalizeL2(v)") == [0.6, 0.8]
    assert run("normalizeLinf(v)") == [0.75, 1.0]
    assert run("fromDaysSinceYearZero(toDaysSinceYearZero(ts))") == _dt.date(2024, 3, 5)
    want_ts = _dt.datetime(2024, 3, 5, 10, 22, 33)
    assert run("snowflakeToDateTime(dateTimeToSnowflake(ts))") == want_ts
    assert run("snowflakeIDToDateTime(dateTimeToSnowflakeID(ts))") == want_ts
    assert run(
        "snowflakeIDToDateTime(dateTimeToSnowflakeID(ts, 1000), 1000)"
    ) == want_ts
    assert run("toInt64OrDefault('bad', toInt64(9))") == 9
    assert run("toInt64OrDefault('42', toInt64(9))") == 42
    assert run("toJSONString(map('a', 1))") == '{"a":1}'
    assert run("length(randomString(5))") == 5
    # bitSlice graduated to the ch_bit_slice pandas UDF in r7
    # (tests/test_strdist.py); the remaining two still refuse
    for bad in ["byteSize(v)",
                "tupleToNameValuePairs(tuple(1, 2))"]:
        with pytest.raises(ValueError, match="not SQL-translatable"):
            translate(f"SELECT {bad} FROM t")


def test_probe_batch21_aggregate_tails(views):
    """Round-6 execution probe, batch 21 (~60 aggregate spellings):
    countDistinctIf, the parametric approx_top_* aliases of the topK
    family (Spark's own 2-arg approx_top_k passes through untouched),
    and the camel window-function aliases."""
    views.sql(
        "SELECT * FROM VALUES (1, 2.0, 'a'), (2, 3.0, 'b'),"
        " (3, 5.0, 'a') AS t(x, w, s)"
    ).createOrReplaceTempView("__b21")

    def run(expr, tail=""):
        return views.sql(
            translate(f"SELECT {expr} AS r FROM __b21{tail}").sql
        ).first()["r"]

    assert run("countDistinctIf(s, x > 1)") == 2
    assert run("approx_top_k(2)(s)") == ["a", "b"]
    assert run("approx_top_sum(1)(s, w)") == ["a"]
    assert run("approx_top_k(s, 2) IS NOT NULL") is True
    assert run("denseRank() OVER (ORDER BY x)", " LIMIT 1") == 1
    assert run("percentRank() OVER (ORDER BY x)", " LIMIT 1") == 0.0


def test_probe_batch23_conversion_tails(views):
    """Round-6 execution probe, batch 23: date-number conversions,
    OrZero/BestEffortOrNull parse forms, arrayDistinct, and throwIf."""
    import datetime as _dt

    views.sql("SELECT 7 AS x").createOrReplaceTempView("__b23")

    def run(expr):
        return views.sql(
            translate(f"SELECT {expr} AS r FROM __b23").sql
        ).first()["r"]

    assert run("toBool('true')") is True
    assert run("YYYYMMDDToDate(20240305)") == _dt.date(2024, 3, 5)
    assert run("YYYYMMDDhhmmssToDateTime(20240305102233)") == \
        _dt.datetime(2024, 3, 5, 10, 22, 33)
    assert run("toDateTimeOrZero('bad')") == _dt.datetime(1970, 1, 1)
    assert run("parseDateTimeBestEffortOrNull('garbage')") is None
    assert run("arrayDistinct([1,1,2])") == [1, 2]
    assert run("throwIf(x = 99, 'boom')") == 0
    with pytest.raises(Exception, match="boom"):
        views.sql(
            translate("SELECT throwIf(x = 7, 'boom') AS r FROM __b23").sql
        ).collect()


def test_probe_batch24_runtime_tails(views):
    """Round-7 execution probe, batch 24: spellings that translated
    untouched and died at run time (UNRESOLVED_ROUTINE). Pure-SQL twins
    for date/string/search/size helpers, ULID generation/decode, server
    introspection stand-ins; algorithmic codecs (punycode/idna/sqids)
    and rank-based Gini refuse loudly with pointers."""
    views.sql(
        "SELECT 'hello world' AS s, 'abc' AS s2, 7 AS x,"
        " CAST('2024-03-05 10:22:33' AS TIMESTAMP) AS ts,"
        " CAST(array(1, 2, 3) AS ARRAY<DOUBLE>) AS arr"
    ).createOrReplaceTempView("__b24")

    def run(expr):
        return views.sql(
            translate(f"SELECT {expr} AS r FROM __b24").sql
        ).first()["r"]

    assert str(run("toFirstDayOfMonth(ts)")) == "2024-03-01"
    assert run("timeDiff(ts, ts + INTERVAL 90 SECONDS)") == 90
    assert run("stringCompare(s, s2)") == 1
    assert run("stringCompare(s, s)") == 0
    assert run("scalarProduct(arr, arr)") == 14.0
    assert run("positionCaseInsensitiveUTF8(s, 'WORLD')") == 7
    assert run("hasSubsequence(s, 'hwd')") is True
    assert run("hasSubsequence(s, 'dwh')") is False
    assert run("hasSubsequence(s, '')") is True
    assert run("hasSubsequenceCaseInsensitive(s, 'HWD')") is True
    assert run("hasSubsequenceUTF8(s, 'hwd')") is True
    assert run("hasTokenOrNull(s, 'hello')") is True
    assert run("hasTokenOrNull(s, 'hel lo')") is None
    assert run("hasTokenCaseInsensitiveOrNull(s, 'HELLO')") is True
    # leftmost occurrence wins, not array order; 0 when absent
    assert run("multiSearchFirstIndex(s, ['world', 'hello'])") == 2
    assert run("multiSearchFirstIndex(s, ['zz'])") == 0
    assert run(
        "multiSearchFirstIndexCaseInsensitive(s, ['WORLD', 'zz'])"
    ) == 1
    # readable sizes: decimal powers of 1000, binary powers of 1024,
    # ceiling — the documented ClickHouse example 1.11 KiB -> 1137
    assert run("parseReadableSize('1 KiB')") == 1024
    assert run("parseReadableSize('1.11 KiB')") == 1137
    assert run("parseReadableSize('23 MB')") == 23_000_000
    assert run("parseReadableSize('5 GiB')") == 5 * 1024**3
    assert run("parseReadableSizeOrNull('bad')") is None
    assert run("parseReadableSizeOrZero('bad')") == 0
    with pytest.raises(Exception, match="cannot parse"):
        run("parseReadableSize('bad')")
    # ULID: 26 Crockford chars, decode round-trips the time part
    import re as _re

    u = run("generateULID()")
    assert _re.fullmatch(r"[0-9A-HJKMNP-TV-Z]{26}", u)
    assert (
        str(run("ULIDStringToDateTime('01GNB2S2FGN2P93QPXDNB4EN2R')"))
        == "2022-12-28 00:40:37.616000"
    )
    got_ms = views.sql(
        translate(
            "SELECT unix_millis(ULIDStringToDateTime(generateULID()))"
            " AS r FROM __b24"
        ).sql
    ).first()["r"]
    import time as _time

    assert abs(got_ms / 1000.0 - _time.time()) < 600
    assert _re.fullmatch(r"[0-9a-f-]{36}", run("serverUUID()"))
    assert run("displayName()") == run("hostName()")
    assert run("uptime()") >= 0
    # punycode/idna graduated to registered pandas UDFs (r7,
    # tests/test_strdist.py runs them); sqids/gini still refuse
    assert "ch_punycode_encode(" in translate(
        "SELECT punycodeEncode(s) FROM t"
    ).sql
    assert "ch_idna_encode(" in translate("SELECT idnaEncode(s) FROM t").sql
    for bad, hint in [
        ("sqidEncode(x)", "sqids"),
        ("arrayNormalizedGini(arr, arr)", "auc"),
    ]:
        with pytest.raises(ValueError, match=hint):
            translate(f"SELECT {bad} FROM t")


def test_probe_batch25_aggregate_tails(views):
    """Round-7 execution probe, batch 25 (aggregate spellings): weighted
    approximate quantiles (Timing/BFloat16/TDigest Weighted) map to the
    exact weighted percentile, quantileDD drops the DDSketch accuracy
    knob, sumMapFiltered filters the parallel arrays before the sumMap
    fold, and the t-tests accept a BOOLEAN population index (CH's UInt8
    0/1 convention). aggThrow / analysisOfVariance refuse loudly."""
    views.sql(
        "SELECT * FROM VALUES"
        " (1, CAST(1.5 AS DOUBLE)), (2, CAST(2.5 AS DOUBLE)),"
        " (3, CAST(3.5 AS DOUBLE)), (4, CAST(4.5 AS DOUBLE)),"
        " (5, CAST(5.5 AS DOUBLE)), (6, CAST(6.5 AS DOUBLE))"
        " AS t(x, w)"
    ).createOrReplaceTempView("__b25")

    def run(expr):
        return views.sql(
            translate(f"SELECT {expr} AS r FROM __b25").sql
        ).first()["r"]

    # weighted median via Spark's frequency-expanded percentile
    # (weights 1..6 expand to 21 elements; the (n-1)*p = 10th element
    # is 5.5 for w, 5 for x) — interpolated semantics, same documented
    # mapping quantileExactWeighted uses
    assert run("quantileBFloat16Weighted(0.5)(w, x)") == 5.5
    assert run("quantileTimingWeighted(0.5)(x, x)") == 5.0
    assert run("quantileTDigestWeighted(0.5)(w, x)") == 5.5
    assert run("medianBFloat16Weighted(w, x)") == 5.5
    assert run("quantileDD(0.01, 0.5)(w)") == 3.5
    assert run("medianDD(w)") == 3.5
    assert [float(v) for v in run("quantilesDD(0.01, 0.25, 0.75)(w)")] \
        == [2.5, 5.5]
    # boolean population index: group 0 = {1.5,2.5,3.5} (mean 2.5),
    # group 1 = {4.5,5.5,6.5} (mean 5.5); t = (m0-m1)/se < 0
    r = run("welchTTest(w, x > 3)")
    assert round(r["t_statistic"], 4) == -3.6742
    r2 = run("studentTTest(w, x > 3)")
    assert round(r2["t_statistic"], 4) == -3.6742
    # per-row arrays filtered by key membership, then per-key sums
    assert run("sumMapFiltered([1, 2])([x, x + 1], [w, w])") \
        == {1: 1.5, 2: 4.0}
    assert run("sumMapFilteredWithOverflow([2])([x], [w])") == {2: 2.5}
    for bad, hint in [
        ("aggThrow(0.5)(x)", "testing"),
        ("analysisOfVariance(w, x)", "welch_ttest"),
        ("anovaTest(w, x)", "welch_ttest"),
        ("sumMapFiltered([1])(x)", "keys, values"),
    ]:
        with pytest.raises(ValueError, match=hint):
            translate(f"SELECT {bad} FROM __b25")


def test_probe_batch26_conversion_tails(views):
    """Round-7 execution probe, batch 26 (conversions / date / string):
    OrNull/OrZero decimal casts (+ Decimal256 at Spark's 38-digit
    ceiling), toIntervalX emitting ANSI intervals (day-time side
    collectable; arithmetic everywhere), parseDateTime64BestEffort
    OrNull/OrZero, toModifiedJulianDayOrNull, the missing toRelative*
    family members, toUnixTimestamp64Second, regexpQuoteMeta,
    countDigits, extractGroups (first-match groups, [] on no match),
    defaultValueOfTypeName (literal type names), and little-endian
    reinterpretAs{UIntN,String}."""
    views.sql(
        "SELECT 'hello world' AS s, CAST(3.75 AS DOUBLE) AS w,"
        " CAST('2024-03-05 10:22:33' AS TIMESTAMP) AS ts"
    ).createOrReplaceTempView("__b26")

    def run(expr):
        return views.sql(
            translate(f"SELECT {expr} AS r FROM __b26").sql
        ).first()["r"]

    from decimal import Decimal

    assert run("toDecimal32OrNull('bad', 2)") is None
    assert run("toDecimal64OrZero('bad', 2)") == Decimal("0.00")
    assert run("toDecimal128OrNull('2.5', 3)") == Decimal("2.500")
    assert run("toDecimal256(w, 4)") == Decimal("3.7500")
    import datetime

    assert run("toIntervalSecond(5)") == datetime.timedelta(seconds=5)
    assert run("toIntervalWeek(2)") == datetime.timedelta(days=14)
    assert str(run("ts + toIntervalDay(1)")).startswith("2024-03-06")
    assert str(run("ts + toIntervalMonth(1)")).startswith("2024-04-05")
    assert str(run("ts + toIntervalQuarter(1)")).startswith("2024-06-05")
    assert run("parseDateTime64BestEffortOrNull('bad')") is None
    assert str(run("parseDateTime64BestEffortOrZero('bad')")).startswith(
        "1970-01-01"
    )
    assert run("toModifiedJulianDayOrNull('2024-03-05')") == 60374
    assert run("toModifiedJulianDayOrNull('bad')") is None
    assert run("toRelativeYearNum(ts)") == 2024
    assert run("toRelativeMonthNum(ts)") == 2024 * 12 + 2
    assert run("toRelativeQuarterNum(ts)") == 2024 * 4
    assert run("toRelativeSecondNum(ts)") == 1709634153
    assert run("toUnixTimestamp64Second(ts)") == 1709634153
    # quoted pattern matches its own literal and nothing else
    assert run(
        "s RLIKE concat('^', regexpQuoteMeta(s), '$')"
    ) is True
    assert run("regexpQuoteMeta('a.b(x)')") == "a\\.b\\(x\\)"
    assert run("countDigits(12345)") == 5
    assert run("countDigits(0)") == 1
    assert run("countDigits(-12.25)") == 4
    assert run("extractGroups(s, '(h\\\\w+) (w\\\\w+)')") == [
        "hello", "world",
    ]
    assert run("extractGroups(s, '(zz)(qq)')") == []
    assert run("defaultValueOfTypeName('Int64')") == 0
    assert run("defaultValueOfTypeName('String')") == ""
    assert run("defaultValueOfTypeName('Nullable(Float64)')") is None
    assert str(run("defaultValueOfTypeName('Date')")) == "1970-01-01"
    assert run("reinterpretAsUInt32('abcd')") == 1684234849
    assert run("reinterpretAsUInt8('abcd')") == 97
    assert run("reinterpretAsString(97)") == "a"
    assert run("reinterpretAsString(CAST(1684234849 AS BIGINT))") == "abcd"
    for bad, hint in [
        ("isDecimalOverflow(w)", "countDigits"),
        ("extractGroups(s, concat(s, s))", "literal pattern"),
        ("defaultValueOfTypeName('Tuple(Int8)')", "unmapped type"),
    ]:
        with pytest.raises(ValueError, match=hint):
            translate(f"SELECT {bad} FROM __b26")


def test_probe_batch27_clause_tails(views):
    """Round-7 execution probe, batch 27 (clause level): numbers_mt /
    zeros table functions, SELECT-alias references in WHERE inlined
    with ClickHouse's alias-over-column preference, and PASTE JOIN
    refusing loudly (Spark would silently parse `t PASTE JOIN u` as an
    aliased inner join)."""
    views.sql(
        "SELECT * FROM VALUES ('a', 1, 10.0), ('b', 2, 20.0),"
        " ('a', 3, 30.0) AS t(k, x, v)"
    ).createOrReplaceTempView("__b27")

    def rows(q):
        return sorted(r[0] for r in views.sql(translate(q).sql).collect())

    assert rows("SELECT count() FROM numbers_mt(10)") == [10]
    assert rows("SELECT zero FROM zeros(3)") == [0, 0, 0]
    assert rows("SELECT count() FROM zeros_mt(4)") == [4]
    # alias in WHERE: resolved to the SELECT expression (CH preference)
    assert rows("SELECT x + 1 AS y FROM __b27 WHERE y > 2") == [3, 4]
    assert rows(
        "SELECT upper(k) AS ku FROM __b27 WHERE ku = 'A'"
    ) == ["A", "A"]
    # PREWHERE conditions get the same alias treatment
    assert rows(
        "SELECT x * 10 AS xx FROM __b27 PREWHERE xx >= 20"
    ) == [20, 30]
    # qualified references keep column resolution; subqueries in WHERE
    # keep their own scope
    assert rows("SELECT v AS x FROM __b27 WHERE __b27.x > 1") \
        == [20.0, 30.0]
    with pytest.raises(ValueError, match="row_number"):
        translate("SELECT k FROM t PASTE JOIN u")


def test_time_decayed_window_family(views):
    """exponentialTimeDecayed{Sum,Count,Max,Avg}(x)(...) OVER — the r7
    max-anchored window rewrite: values vs a Python reference, named
    WINDOW resolution, and the loud paths (no OVER, non-literal decay,
    wrong arity)."""
    import math

    views.sql(
        "SELECT * FROM VALUES ('a', 1.0, 10.0), ('a', 3.0, 20.0),"
        " ('a', 7.0, 5.0), ('b', 2.0, 4.0) AS t(g, ts, v)"
    ).createOrReplaceTempView("__etd")
    spec = ("PARTITION BY g ORDER BY ts"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW")
    q = (
        "SELECT g, ts,"
        f" exponentialTimeDecayedSum(5)(v, ts) OVER ({spec}) AS s,"
        f" exponentialTimeDecayedCount(5)(ts) OVER ({spec}) AS c,"
        f" exponentialTimeDecayedMax(5)(v, ts) OVER ({spec}) AS mx,"
        f" exponentialTimeDecayedAvg(5)(v, ts) OVER ({spec}) AS av"
        " FROM __etd"
    )
    got = {
        (r["g"], r["ts"]): (r["s"], r["c"], r["mx"], r["av"])
        for r in views.sql(translate(q).sql).collect()
    }
    series = {"a": [(1.0, 10.0), (3.0, 20.0), (7.0, 5.0)], "b": [(2.0, 4.0)]}
    for g, pts in series.items():
        for i in range(len(pts)):
            frame = pts[: i + 1]
            T = max(t_ for t_, _ in frame)
            ws = [(v * math.exp((t_ - T) / 5.0), math.exp((t_ - T) / 5.0))
                  for t_, v in frame]
            s = sum(x for x, _ in ws)
            c = sum(w for _, w in ws)
            want = (s, c, max(x for x, _ in ws), s / c)
            have = got[(g, pts[i][0])]
            assert have == pytest.approx(want, rel=1e-12), (g, i)
    # named WINDOW resolves; result matches the inline-spec spelling
    qn = (
        "SELECT g, ts, exponentialTimeDecayedSum(5)(v, ts) OVER w AS s"
        f" FROM __etd WINDOW w AS ({spec})"
    )
    got_named = {
        (r["g"], r["ts"]): r["s"]
        for r in views.sql(translate(qn).sql).collect()
    }
    assert got_named == {k: v[0] for k, v in got.items()}
    for bad, hint in [
        ("exponentialTimeDecayedSum(5)(v, ts)", "OVER"),
        ("exponentialTimeDecayedAvg(x)(v, ts) OVER (ORDER BY ts)",
         "literal numeric decay"),
        ("exponentialTimeDecayedCount(5)(v, ts) OVER (ORDER BY ts)",
         "1 argument"),
        ("exponentialTimeDecayedSum(5)(ts) OVER (ORDER BY ts)",
         "2 argument"),
        ("exponentialTimeDecayedSum(5)(v, ts) OVER nope FROM __etd",
         "no WINDOW"),
    ]:
        with pytest.raises(ValueError, match=hint):
            translate(f"SELECT {bad} FROM __etd")


def test_probe_batch28_url_ip_array_tails(views):
    """Round-7 execution probe, batch 28 (~120 spellings end-to-end;
    102 already passed — this pins the 15 newly closed ones): URL
    hierarchy/form-encoding/query+fragment, stdlib-ipaddress-exact
    CIDR checks and IPv6 normalization, arrayEnumerateUniq, unbin,
    extractKeyValuePairs, array Levenshtein, concat renames — plus the
    three deliberate loud refusals (byteSwap's width is type-derived,
    Hilbert's rotation convention has no verifiable vectors here)."""
    from ed_clickhouse_spark.functions.strdist import register_strdist

    register_strdist(views)
    views.sql(
        "SELECT 'https://ab.example.co.uk/browse/CONV-6788?q=1&r=2#frag'"
        " AS url, array(3, 1, 3, 1, 1) AS arr, map('a', 1) AS m"
    ).createOrReplaceTempView("__b28")

    def run(expr):
        return views.sql(
            translate(f"SELECT {expr} AS r FROM __b28").sql
        ).first()["r"]

    assert run("queryStringAndFragment(url)") == "q=1&r=2#frag"
    assert run("queryStringAndFragment('http://x/p')") == ""
    assert run("URLPathHierarchy(url)") == [
        "/browse/", "/browse/CONV-6788",
    ]
    assert run("URLHierarchy(url)") == [
        "https://ab.example.co.uk/",
        "https://ab.example.co.uk/browse/",
        "https://ab.example.co.uk/browse/CONV-6788",
    ]
    assert run("encodeURLFormComponent('a b+c')") == "a+b%2Bc"
    assert run("decodeURLFormComponent('a+b%2Bc')") == "a b+c"
    assert run("arrayEnumerateUniq(['a', 'b', 'a'])") == [1, 1, 2]
    assert run("arrayEnumerateUniq(arr)") == [1, 1, 2, 2, 3]
    assert run("unbin('0100100001101001')") == "Hi"
    assert run("unbin('101')") == "\x05"  # left-padded to a byte
    assert run("extractKeyValuePairs('a:1, b:2;c:3')") == {
        "a": "1", "b": "2", "c": "3",
    }
    assert run("isIPAddressInRange('192.168.1.5', '192.168.0.0/16')") == 1
    assert run("isIPAddressInRange('10.0.0.1', '192.168.0.0/16')") == 0
    assert run("isIPAddressInRange('::1', '192.168.0.0/16')") == 0
    assert run("toIPv6('2001:0db8:0000::0001')") == "2001:db8::1"
    assert run("toIPv6('192.168.1.5')") == "::ffff:192.168.1.5"
    r6 = run("IPv6CIDRToRange(toIPv6('2001:db8::1'), 32)")
    assert (r6["col1"], r6["col2"]) == (
        "2001:db8::",
        "2001:db8:ffff:ffff:ffff:ffff:ffff:ffff",
    )
    assert run("arrayLevenshteinDistance([1, 2, 3], [2, 3, 4])") == 2
    assert run("arrayLevenshteinDistance(['a'], ['a'])") == 0
    assert run("concatAssumeInjective('a', 'b')") == "ab"
    assert run("mapConcat(m, map('c', 3))") == {"a": 1, "c": 3}
    assert run("randBernoulli(1.0)") == 1 and run("randBernoulli(0.0)") == 0
    for bad, hint in [
        ("byteSwap(7)", "fixed width"),
        ("hilbertEncode(3, 4)", "mortonEncode"),
        ("hilbertDecode(2, 31)", "mortonDecode"),
    ]:
        with pytest.raises(ValueError, match=hint):
            translate(f"SELECT {bad} FROM __b28")


def test_probe_batch29_agg_and_date_tails(views):
    """Round-7 execution probe, batch 29 (~90 spellings; 75 already
    passed): the -Resample combinator (generic textual expansion onto
    -If spellings), the parametric groupArrayInsertAt form (whose
    bare-template collision emitted unparseable SQL before this round
    — a real translator bug), one-sample t-test, legacy 'strict'
    funnel mode, sumMapWithOverflow, Joda-syntax date spellings,
    UUID Or-forms, JSONExtractKeysAndValues, boundingRatio's
    zero-extent guard, and camel arithmetic renames."""
    views.sql(
        "SELECT * FROM VALUES (1, 2.0), (3, 4.0), (7, 9.0), (12, 1.0)"
        " AS t(k, v)"
    ).createOrReplaceTempView("__b29")

    def run(expr, src="__b29"):
        return views.sql(
            translate(f"SELECT {expr} AS r FROM {src}").sql
        ).first()["r"]

    # -Resample: buckets [0,5) [5,10) [10,15) over key k
    assert run("sumResample(0, 15, 5)(v, k)") == [6.0, 9.0, 1.0]
    assert run("countResample(0, 15, 5)(k)") == [2, 1, 1]
    assert run("avgResample(0, 10, 5)(v, k)") == [3.0, 9.0]
    # empty bucket: sum family -> 0 like CH, avg keeps NULL
    assert run("sumResample(20, 30, 5)(v, k)") == [0, 0]
    assert run("avgResample(20, 30, 5)(v, k)") == [None, None]
    with pytest.raises(ValueError, match="bucket"):
        translate("SELECT sumResample(0, 100000, 1)(v, k) FROM __b29")
    # groupArrayInsertAt: bare and parametric forms
    assert run("groupArrayInsertAt(v, k)", "__b29 WHERE k < 4") \
        == [None, 2.0, None, 4.0]
    assert run("groupArrayInsertAt(0.0, 3)(v, k)", "__b29 WHERE k < 4") \
        == [0.0, 2.0, 0.0]
    # one-sample t-test: x=[2,4,9,1], mean 4, s^2 = 38/3, mu=2
    r = run("studentTTestOneSample(2.0)(v)")
    import math

    s = math.sqrt(38.0 / 3.0)
    want_t = (4.0 - 2.0) / (s / 2.0)
    assert r["t_statistic"] == pytest.approx(want_t, rel=1e-12)
    assert 0.0 < r["p_value"] < 1.0
    # legacy 'strict' mode = strict_deduplication
    views.sql(
        "SELECT * FROM VALUES ('u', TIMESTAMP '2024-01-01 00:00:01', 'a'),"
        " ('u', TIMESTAMP '2024-01-01 00:00:02', 'a'),"
        " ('u', TIMESTAMP '2024-01-01 00:00:03', 'b')"
        " AS t(u, ts, e)"
    ).createOrReplaceTempView("__b29f")
    q = (
        "SELECT windowFunnel(10, '{m}')(ts, e = 'a', e = 'b') AS r"
        " FROM __b29f GROUP BY u"
    )
    assert (
        views.sql(translate(q.format(m="strict")).sql).first()["r"]
        == views.sql(
            translate(q.format(m="strict_deduplication")).sql
        ).first()["r"]
    )
    # sumMapWithOverflow == sumMap fold
    assert run("sumMapWithOverflow(map('a', v))") == {"a": 16.0}
    # Joda-syntax spellings are the native JDK-pattern builtins
    assert run(
        "formatDateTimeInJodaSyntax(TIMESTAMP '2024-03-05 10:20:30',"
        " 'yyyy-MM-dd')"
    ) == "2024-03-05"
    assert str(run(
        "parseDateTimeInJodaSyntax('2024-03-05', 'yyyy-MM-dd')"
    )).startswith("2024-03-05")
    # UUID Or-forms
    u = "612f3c40-5d3b-217e-707b-6a546a3d7b29"
    assert run(f"toUUIDOrNull('{u.upper()}')") == u
    assert run("toUUIDOrNull('nope')") is None
    assert run("toUUIDOrZero('nope')") \
        == "00000000-0000-0000-0000-000000000000"
    # typed keys-and-values over JSON text (CH tuple -> col1/col2)
    kv = run("""JSONExtractKeysAndValues('{"a": 3, "b": 7}', 'Int64')""")
    assert [(e["col1"], e["col2"]) for e in kv] == [("a", 3), ("b", 7)]
    with pytest.raises(ValueError, match="literal type"):
        translate("SELECT JSONExtractKeysAndValues(j, x) FROM t")
    # zero-extent boundingRatio -> NULL, not an ANSI error
    assert run("boundingRatio(k, v)", "__b29 WHERE k = 1") is None
    assert run("boundingRatio(k, v)") == pytest.approx(-1.0 / 11.0)
    assert run("positiveModulo(-7, 3)") == 2
    assert run("negate(k)", "__b29 WHERE k = 3") == -3
    # loud refusal keeps the pointer
    with pytest.raises(ValueError, match="sequence_match_times"):
        translate("SELECT sequenceMatchEvents('(?1)')(ts, e='a') FROM t")


def test_probe_batch30_xml_series_introspection_tails(views):
    """Round-7 execution probe, batch 30 (~75 spellings; 53 already
    passed): XML entity codec (full-Unicode numeric entities via
    Character.toString — Spark's char() wraps mod 256), Tukey-fence
    series outliers, argMin/MaxOrNull renames, now64(precision),
    arrayPartialReverseSort, and the introspection stand-in family —
    plus nine new loud refusals for model/DSP-backed functions."""
    views.sql(
        "SELECT * FROM VALUES (1, 'a', 2.5), (3, 'b', 9.0)"
        " AS t(x, ev, f)"
    ).createOrReplaceTempView("__b30")

    def run(expr, src="__b30"):
        return views.sql(
            translate(f"SELECT {expr} AS r FROM {src}").sql
        ).first()["r"]

    assert run("encodeXMLComponent('<a & \"b\">')") \
        == "&lt;a &amp; &quot;b&quot;&gt;"
    assert run("decodeXMLComponent('&lt;a &amp; b&gt;')") == "<a & b>"
    # numeric entities, decimal + hex, full Unicode codepoints
    assert run("decodeXMLComponent('&#72;&#x69;')") == "Hi"
    assert run("decodeXMLComponent('&#955;')") == "λ"
    assert run(
        "decodeXMLComponent(encodeXMLComponent('x < y & \"z\"'))"
    ) == 'x < y & "z"'
    # Tukey fences: the 50.0 point is the only outlier
    assert run(
        "seriesOutliersDetectTukey([2.0, 2.1, 50.0, 2.2, 2.0])"
    ) == [0.0, 0.0, 1.0, 0.0, 0.0]
    assert run("seriesOutliersDetectTukey([1.0, 2.0])") is None  # <4 pts
    assert run("argMaxOrNull(ev, f)") == "b"
    assert run("argMinOrNull(ev, f)") == "a"
    assert run("arrayPartialReverseSort(2, [3, 1, 2])") == [3, 2, 1]
    # now64 precision digit resolves to the same µs clock
    assert str(run("now64(3)")).startswith("20")
    # introspection stand-ins execute and type correctly
    assert len(run("buildId()")) == 32
    assert run("tcpPort()") == 9000
    assert isinstance(run("getOSKernelVersion()"), str)
    assert run("sleep(0.1)") == 0 and run("sleepEachRow(0)") == 0
    assert run("indexHint(x > 0)") == 1
    for bad, hint in [
        ("kolmogorovSmirnovTest(f, x)", "kolmogorov_smirnov"),
        ("decodeHTMLComponent(ev)", "decodeXMLComponent"),
        ("seriesDecomposeSTL([1.0], 2)", "loess|offline"),
        ("seriesPeriodDetectFFT([1.0])", "FFT"),
        ("stem('en', ev)", "text.py"),
        ("detectCharset(ev)", "detectLanguage"),
        ("toIntervalNanosecond(5)", "microsecond"),
        ("isConstant(x)", "Catalyst"),
    ]:
        with pytest.raises(ValueError, match=hint):
            translate(f"SELECT {bad} FROM __b30")


def test_tukey_outliers_match_python_reference(views):
    """The hand-spliced quartile-interpolation SQL in
    seriesOutliersDetectTukey equals a NumPy type-7 reference on random
    arrays (the alias body is the most interpolation-heavy SQL in the
    repo — worth a property, not just vectors)."""
    import random

    import numpy as np

    rng = random.Random(31)
    for trial in range(12):
        n = rng.randint(4, 20)
        arr = [round(rng.uniform(-50, 50), 3) for _ in range(n)]
        if trial % 3 == 0:
            arr[rng.randrange(n)] = 500.0  # guaranteed outlier
        lit = ", ".join(f"CAST({x} AS DOUBLE)" for x in arr)
        got = views.sql(
            translate(
                f"SELECT seriesOutliersDetectTukey(array({lit})) AS r"
            ).sql
        ).first()["r"]
        q1, q3 = np.quantile(np.array(arr), [0.25, 0.75])  # type 7
        lo, hi = q1 - 1.5 * (q3 - q1), q3 + 1.5 * (q3 - q1)
        want = [1.0 if (x < lo or x > hi) else 0.0 for x in arr]
        assert got == pytest.approx(want), (arr, got, want)


def test_xml_codec_roundtrip_property(views):
    """decode(encode(s)) == s for strings mixing specials, quotes and
    non-ASCII — one batched Spark evaluation over all cases."""
    import random

    rng = random.Random(7)
    alphabet = list("ab<>&\"'λ;# x&#38;")
    cases = [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 14)))
        for _ in range(60)
    ]
    rows = ", ".join(
        "(" + "'" + c.replace("'", "''") + "')" for c in cases
    )
    views.sql(
        f"SELECT * FROM VALUES {rows} AS t(s)"
    ).createOrReplaceTempView("__xmlrt")
    got = views.sql(
        translate(
            "SELECT s, decodeXMLComponent(encodeXMLComponent(s)) AS rt"
            " FROM __xmlrt"
        ).sql
    ).collect()
    for r in got:
        assert r["rt"] == r["s"], r["s"]


def test_probe_batch31_regex_sets_and_format_row(views):
    """Round-7 execution probe, batch 31 (~50 spellings; 32 already
    passed incl. tuple-IN, GLOBAL IN, extractGroups, bitmask helpers,
    UTF8 strings, URL domains): multiMatchAny/AnyIndex over literal
    pattern arrays (first-match index pinned), formatRow for
    CSV/TSV/JSONEachRow, bitPositionsToArray, port(), RESPECT NULLS
    spellings — plus ten loud refusals (dictionary reads are joins,
    shingle hashes live in dedup, hyperscan/Join-engine internals)."""
    views.sql(
        "SELECT * FROM VALUES (1, 'hello world', NULL),"
        " (2, 'abc', 'v') AS t(x, s, nv)"
    ).createOrReplaceTempView("__b31")

    def run(expr, src="__b31 WHERE x = 1"):
        return views.sql(
            translate(f"SELECT {expr} AS r FROM {src}").sql
        ).first()["r"]

    assert run("multiMatchAny(s, ['hel+o', 'xyz'])") == 1
    assert run("multiMatchAny(s, ['^z', 'q'])") == 0
    assert run("multiMatchAnyIndex(s, ['xyz', 'world', 'hello'])") == 2
    assert run("multiMatchAnyIndex(s, ['no', 'nope'])") == 0
    with pytest.raises(ValueError, match="literal pattern"):
        translate("SELECT multiMatchAny(s, pats) FROM t")
    assert run("formatRow('CSV', x, s)") == "1,hello world\n"
    assert run("formatRowNoNewline('TSV', x, s)") == "1\thello world"
    assert run("formatRowNoNewline('JSONEachRow', x, s)") \
        == '{"x":1,"s":"hello world"}'
    with pytest.raises(ValueError, match="CSV, TSV"):
        translate("SELECT formatRow('Parquet', x) FROM t")
    assert run("bitPositionsToArray(10)") == [1, 3]
    assert run("bitPositionsToArray(0)") == []
    assert run("port('https://h.example.com:8443/p')") == 8443
    assert run("port('https://h.example.com/p')") == 0
    assert run("countSubstringsCaseInsensitiveUTF8(s, 'L')") == 3
    # RESPECT NULLS: first_value keeps the NULL that any() would skip
    rows = views.sql(
        translate(
            "SELECT any_respect_nulls(nv) AS a FROM"
            " (SELECT nv FROM __b31 ORDER BY x) "
        ).sql
    ).collect()
    assert rows[0]["a"] is None
    for bad, hint in [
        ("dictGet('d', 'a', x)", "dict_get"),
        ("joinGet('t', 'v', x)", "broadcast left join"),
        ("wordShingleMinHash(s)", "minhash"),
        ("runningConcurrency(x, x)", "interval"),
        ("getSetting('mt')", "spark.conf"),
        ("arrayEnumerateUniqRanked([[1]])", "nesting level"),
    ]:
        with pytest.raises(ValueError, match=hint):
            translate(f"SELECT {bad} FROM __b31")


def test_probe_batch32_partition_keys_and_hash_tails(views):
    """Round-7 execution probe, batch 32 (~48 spellings; 36 already
    passed — the toYYYYMM* partition-key helpers, toRelative*Num
    family, week modes, timezone scalars, and most of the hash family
    were already live): closes timeZoneOffset, the 64-bit hash
    stand-ins farmFingerprint64/gccMurmurHash (xxhash64 role-
    equivalents per the documented cityHash64 convention), the
    128-bit sipHash128/murmurHash3_128 (16 raw bytes), and the
    access-control introspection stand-ins."""
    views.sql(
        "SELECT TIMESTAMP '2024-03-05 10:20:30' AS ts, 'hello' AS s"
    ).createOrReplaceTempView("__b32")

    def run(expr):
        return views.sql(
            translate(f"SELECT {expr} AS r FROM __b32").sql
        ).first()["r"]

    assert run("toYYYYMM(ts)") == 202403
    assert run("toYYYYMMDD(ts)") == 20240305
    assert run("toYYYYMMDDhhmmss(ts)") == 20240305102030
    # relative-number family is monotone day arithmetic
    assert run("toRelativeDayNum(ts)") - run(
        "toRelativeDayNum(ts - INTERVAL 3 DAY)"
    ) == 3
    assert run("toRelativeHourNum(ts)") % 24 == 10
    assert run("timeZoneOffset(ts)") == 0  # pinned-UTC session
    assert isinstance(run("farmFingerprint64(s)"), int)
    assert run("farmFingerprint64(s)") == run("cityHash64(s)")  # role twin
    assert len(run("sipHash128(s)")) == 16
    assert len(run("murmurHash3_128(s)")) == 16
    assert run("currentRoles()") == [run("currentUser()")]
    assert run("currentProfiles()") == ["default"]
    assert str(run("initialQueryStartTime()")).startswith("20")
    for bad, hint in [
        ("lemmatize('en', s)", "text.py"),
        ("hasColumnInTable('d', 't', 'c')", "listColumns"),
    ]:
        with pytest.raises(ValueError, match=hint):
            translate(f"SELECT {bad} FROM __b32")


def test_probe_batch33_array_split_and_topology_tails(views):
    """Round-7 execution probe, batch 33 (~38 spellings; 29 already
    passed — arrayFill/ReverseFill, arrayFirst/Last/Index, anyHeavy,
    the *Stable variance renames, roundToExp2/Duration/Age, toMonday,
    timeSlots, topKWeighted, nth_value/ntile were live): closes
    arraySplit/arrayReverseSplit (segmenting at flagged positions, the
    ClickHouse doc vectors verbatim), the parametric uniqCombined
    precision form, and the single-node topology stand-ins."""
    views.sql("SELECT 1 AS x, 'a' AS s").createOrReplaceTempView("__b33")

    def run(expr):
        return views.sql(
            translate(f"SELECT {expr} AS r FROM __b33").sql
        ).first()["r"]

    # ClickHouse doc examples: Split cuts BEFORE flagged, Reverse AFTER
    assert run(
        "arraySplit((x, y) -> y, [1, 2, 3, 4, 5], [1, 0, 0, 1, 0])"
    ) == [[1, 2, 3], [4, 5]]
    assert run(
        "arrayReverseSplit((x, y) -> y, [1, 2, 3, 4, 5], [1, 0, 0, 1, 0])"
    ) == [[1], [2, 3, 4], [5]]
    # 1-array lambda form; flag on position 1 / last are no-ops
    assert run("arraySplit(v -> v < 0, [1, -2, 3, -4])") \
        == [[1], [-2, 3], [-4]]
    assert run("arrayReverseSplit(v -> v < 0, [-1, 2, -3, 4])") \
        == [[-1], [2, -3], [4]]
    assert run("arraySplit(v -> v > 0, [7])") == [[7]]
    assert run("arraySplit(v -> v > 0, CAST(array() AS ARRAY<INT>))") == []
    # parametric uniqCombined strips the precision knob
    assert run("uniqCombined(15)('a')") == 1
    assert run("uniqCombined64(15)('a')") == 1
    assert run("shardNum()") == 1 and run("shardCount()") == 1
    assert run("FQDN()") == run("hostName()")
    with pytest.raises(ValueError, match="probit"):
        translate("SELECT minSampleSizeConversion(0.2, 0.01, 0.8, 0.05)")


def test_probe_batch34_argminmax_combinators_and_io_refusals(views):
    """Round-7 execution probe, batch 34: the -ArgMin/-ArgMax
    combinator family — agg(x) over ALL rows whose key attains the
    group extreme (min_by/max_by would drop key ties), type-preserving
    for min/max/any — and loud refusals for the remote-IO table
    functions (file/s3/remote/... previously died on Spark's opaque
    unresolved-TVF error; now they name sources/io.py)."""
    views.sql(
        "SELECT * FROM VALUES (1, 'a', 2.5, 10), (1, 'b', 9.0, 5),"
        " (1, 'z', 4.0, 5), (2, 'c', 1.0, 7) AS t(g, s, v, k)"
    ).createOrReplaceTempView("__b34")

    def run(expr):
        return {
            r["g"]: r["r"]
            for r in views.sql(
                translate(
                    f"SELECT g, {expr} AS r FROM __b34 GROUP BY g"
                ).sql
            ).collect()
        }

    # g=1: key-min 5 is attained by ('b', 9.0) AND ('z', 4.0)
    assert run("sumArgMin(v, k)") == {1: 13.0, 2: 1.0}
    assert run("countArgMin(k)") == {1: 2, 2: 1}
    assert run("avgArgMax(v, k)") == {1: 2.5, 2: 1.0}
    assert float(run("maxArgMin(v, k)")[1]) == 9.0
    assert run("minArgMin(s, k)") == {1: "b", 2: "c"}  # type-preserving
    assert run("anyArgMin(s, k)")[2] == "c"
    with pytest.raises(ValueError, match="x, key"):
        translate("SELECT sumArgMin(v) FROM t GROUP BY g")
    for tf in ["file('x.csv')", "s3('s3://b/k', 'CSV')",
               "remote('h', 'db.t')", "mysql('h:9004', 'd', 't', 'u', 'p')"]:
        with pytest.raises(ValueError, match="sources/io.py"):
            translate(f"SELECT * FROM {tf}")


def test_format_row_tsv_null_and_map_resample_guard(views):
    """Corner pins for the r7 rewrites: TSV NULLs render as \\N (bare
    concat_ws would silently drop the column and shift the row), and
    the -Resample empty-bucket zero-coalesce applies to the SCALAR sum
    family only (a map-typed sumMapResample cell must stay a map)."""
    views.sql(
        "SELECT 1 AS x, CAST(NULL AS STRING) AS s, 'z' AS z,"
        " map('a', 2.0) AS m, 5 AS k"
    ).createOrReplaceTempView("__b35")
    r = views.sql(
        translate(
            "SELECT formatRowNoNewline('TSV', x, s, z) AS r FROM __b35"
        ).sql
    ).first()["r"]
    assert r == "1\t\\N\tz"
    rows = views.sql(
        translate(
            "SELECT x, sumMapResample(0, 10, 5)(m, k) AS r"
            " FROM __b35 GROUP BY x"
        ).sql
    ).first()["r"]
    # empty bucket -> empty map (the fold's own empty value, like CH)
    assert rows[0] == {} and rows[1] == {"a": 2.0}


def test_probe_batch35_state_merge_combinators(views):
    """Round-7 execution probe, batch 35: the -State / -SimpleState /
    -MergeState write side of AggregatingMergeTree-role partials in
    ad-hoc SQL (the -Merge read side predates this batch; the matview
    layer writes the same shapes from DataFrame code). uniq states are
    the mergeable HLL sketches uniqMerge unions + estimates; simple
    states ARE the partial value; avg states are the (s, c) struct
    avgMerge reads; uniqExact states are exact element sets."""
    views.sql(
        "SELECT * FROM VALUES (1, 'a', 10.0), (1, 'b', 20.0),"
        " (1, 'a', 30.0), (2, 'c', 40.0), (2, NULL, 50.0) AS t(g, s, f)"
    ).createOrReplaceTempView("__b35s")

    def run(q):
        return views.sql(translate(q).sql).collect()

    r = run(
        "SELECT uniqMerge(us) AS u, sumMerge(ss) AS sm,"
        " avgMerge(avs) AS av, countMerge(cs) AS c,"
        " minMerge(mns) AS mn, maxMerge(mxs) AS mx,"
        " uniqExactMerge(ues) AS ue"
        " FROM (SELECT g, uniqState(s) AS us, sumState(f) AS ss,"
        "   avgState(f) AS avs, countState() AS cs,"
        "   minState(f) AS mns, maxState(f) AS mxs,"
        "   uniqExactState(s) AS ues FROM __b35s GROUP BY g)"
    )[0]
    assert r["u"] == 3 and float(r["sm"]) == 150.0
    assert abs(float(r["av"]) - 30.0) < 1e-9 and r["c"] == 5
    assert float(r["mn"]) == 10.0 and float(r["mx"]) == 50.0
    assert r["ue"] == 3
    # -SimpleState == the plain aggregated value
    r = run("SELECT sumSimpleState(f) AS s, maxSimpleState(f) AS m"
            " FROM __b35s")[0]
    assert float(r["s"]) == 150.0 and float(r["m"]) == 50.0
    # -StateIf stacking (If wraps the argument, the state agg skips
    # NULLs) and the avgState splice under -If
    assert run(
        "SELECT uniqMerge(us) AS u FROM (SELECT g,"
        " uniqStateIf(s, f < 25) AS us FROM __b35s GROUP BY g)"
    )[0]["u"] == 2
    assert abs(float(run(
        "SELECT avgMerge(a) AS av FROM (SELECT g,"
        " avgStateIf(f, f > 15) AS a FROM __b35s GROUP BY g)"
    )[0]["av"]) - 35.0) < 1e-9
    # -MergeState relay: merge partials WITHOUT finalizing, then merge
    # again (a three-level rollup tree)
    assert run(
        "SELECT uniqMerge(us2) AS u FROM (SELECT uniqMergeState(us)"
        " AS us2 FROM (SELECT g, uniqState(s) AS us FROM __b35s"
        " GROUP BY g) GROUP BY 'all')"
    )[0]["u"] == 3
    # groupArray states merge by concatenation
    assert run(
        "SELECT sort_array(groupArrayMerge(ga)) AS a FROM"
        " (SELECT g, groupArray(s) AS ga FROM __b35s GROUP BY g)"
    )[0]["a"] == ["a", "a", "b", "c"]
    # ad-hoc quantileState refuses to the matview sketch path
    with pytest.raises(ValueError, match="matview"):
        translate("SELECT quantileState(0.5)(f) FROM t GROUP BY g")
    for fn in ("finalizeAggregation(x)", "initializeAggregation('s', 1)",
               "runningAccumulate(x)"):
        with pytest.raises(ValueError, match="not SQL-translatable"):
            translate(f"SELECT {fn} FROM t")


def test_probe_batch35_encrypt_lp_rand_tails(views):
    """Round-7 execution probe, batch 35 (scalar tails): AES-ECB
    encrypt/decrypt byte-exact vs the NIST AESAVS vector, Minkowski
    LpNorm/LpDistance, YYYYMMDDToDate32, numpy-backed parametric
    random distributions (moment-checked), and windowed moment
    aggregates (kurtPop(x) OVER (...) — valid ClickHouse — previously
    emitted unparseable SQL)."""

    def run(q):
        return views.sql(translate(q).sql).collect()

    # NIST SP 800-38A F.1.1 AES-128-ECB block 1: the first ciphertext
    # block must match exactly (PKCS adds one more padding block)
    h = run(
        "SELECT hex(encrypt('aes-128-ecb',"
        " unhex('6bc1bee22e409f96e93d7e117393172a'),"
        " unhex('2b7e151628aed2a6abf7158809cf4f3c'))) AS h"
    )[0]["h"]
    assert h.upper().startswith("3AD77BB40D7A3660A89ECAF32466EF97")
    r = run(
        "SELECT decrypt('aes-128-ecb', encrypt('aes-128-ecb',"
        " 'secret', '0123456789abcdef'), '0123456789abcdef') AS d,"
        " tryDecrypt('aes-128-ecb',"
        " unhex('00112233445566778899aabbccddeeff'),"
        " '0123456789abcdef') AS t,"
        " aes_decrypt_mysql('aes-128-ecb', aes_encrypt_mysql("
        " 'aes-128-ecb', 'abc', '0123456789abcdef'),"
        " '0123456789abcdef') AS m"
    )[0]
    assert r["d"] == "secret" and r["t"] is None and r["m"] == "abc"
    with pytest.raises(ValueError, match="ecb"):
        translate("SELECT encrypt('aes-128-cbc', 'x', 'k', 'iv')")
    with pytest.raises(ValueError, match="ecb"):
        translate("SELECT encrypt('aes-256-gcm', 'x', 'k')")
    r = run(
        "SELECT LpNorm([3.0, 4.0], 2) AS n2,"
        " LpDistance([1.0, 2.0], [4.0, 6.0], 2) AS d2,"
        " YYYYMMDDToDate32(20240305) AS d"
    )[0]
    assert abs(r["n2"] - 5.0) < 1e-9 and abs(r["d2"] - 5.0) < 1e-9
    assert str(r["d"]) == "2024-03-05"
    # parametric samplers: mean within 6 sigma of the standard error
    # over 8k draws (poisson 5: se ~0.025; binomial(10,.5): se ~0.018)
    views.range(8000).createOrReplaceTempView("__b35r")
    m = run(
        "SELECT avg(p) AS mp, avg(b) AS mb, avg(c) AS mc, avg(t) AS mt,"
        " avg(l) AS ml, avg(nb) AS mn, avg(ff) AS mf FROM"
        " (SELECT randPoisson(5) AS p, randBinomial(10, 0.5) AS b,"
        " randChiSquared(3.0) AS c, randStudentT(10.0) AS t,"
        " randLogNormal(0, 0.5) AS l, randNegativeBinomial(10, 0.5)"
        " AS nb, randFisherF(10.0, 10.0) AS ff FROM __b35r)"
    )[0]
    assert abs(m["mp"] - 5) < 0.4 and abs(m["mb"] - 5) < 0.4
    assert abs(m["mc"] - 3) < 0.4 and abs(m["mt"]) < 0.3
    assert abs(m["ml"] - 1.1331) < 0.2 and abs(m["mn"] - 10) < 1.0
    assert abs(m["mf"] - 1.25) < 0.4
    # NULL parameter -> NULL draw
    r = run("SELECT randPoisson(CAST(NULL AS DOUBLE)) AS p,"
            " randChiSquared(CAST(NULL AS DOUBLE)) AS c")[0]
    assert r["p"] is None and r["c"] is None
    # windowed moments agree with the grouped spelling
    views.sql(
        "SELECT * FROM VALUES (1, 10.0), (1, 20.0), (1, 30.0),"
        " (2, 40.0), (2, 50.0) AS t(g, f)"
    ).createOrReplaceTempView("__b35w")
    w = run("SELECT g, kurtPop(f) OVER (PARTITION BY g) AS k,"
            " skewSamp(f) OVER (PARTITION BY g) AS sk,"
            " kurtSamp(f) OVER (PARTITION BY g) AS ks,"
            " avgWeighted(f, g) OVER (PARTITION BY g) AS aw"
            " FROM __b35w ORDER BY g, f")
    ggrp = run("SELECT g, kurtPop(f) AS k, skewSamp(f) AS sk,"
               " kurtSamp(f) AS ks, avgWeighted(f, g) AS aw"
               " FROM __b35w GROUP BY g ORDER BY g")
    for col in ("k", "sk", "ks", "aw"):
        assert abs(float(w[0][col]) - float(ggrp[0][col])) < 1e-9, col
    for fn in ("sequenceNextNode('forward', 'first_match')(ts, s,"
               " s = 'a', s = 'b')",
               "flattenTuple((1, 2))", "formatQuery('select 1')"):
        with pytest.raises(ValueError, match="not SQL-translatable"):
            translate(f"SELECT {fn} FROM t")


def test_probe_batch36_windows_hashes_prauc(views):
    """Round-7 execution probe, batch 36: window-view tumble family
    (epoch-floor bounds; the (start, end) tuple indexes with .1/.2),
    origin-anchored toStartOfInterval, arrayPRAUC (pinned to the
    ClickHouse doc vector) + the arrayROCAUC rename, keyed/extra hash
    stand-ins under the documented role conventions, UTF8 jaccard,
    query-id stand-ins, and loud refusals for the hop family (a record
    belongs to several hop windows — no scalar value outside a WINDOW
    VIEW) and the Dynamic/Variant introspection tails."""

    def run(q):
        return views.sql(translate(q).sql).collect()

    r = run(
        "SELECT tumbleStart(toDateTime('2024-03-05 10:23:30'),"
        " INTERVAL 5 MINUTE) AS s,"
        " tumbleEnd(toDateTime('2024-03-05 10:23:30'),"
        " INTERVAL 5 MINUTE) AS e,"
        " tumble(toDateTime('2024-03-05 10:23:30'),"
        " INTERVAL 5 MINUTE).2 AS t2,"
        " toStartOfInterval(toDateTime('2024-03-05 10:23:30'),"
        " INTERVAL 15 MINUTE, toDateTime('2024-01-01 00:10:00')) AS o"
    )[0]
    assert str(r["s"]) == "2024-03-05 10:20:00"
    assert str(r["e"]) == "2024-03-05 10:25:00" and r["t2"] == r["e"]
    # 15-min buckets anchored at :10 past the hour
    assert str(r["o"]) == "2024-03-05 10:10:00"
    # PR-AUC: the ClickHouse documentation vector; ROC rename agrees
    # with arrayAUC; all-positive and no-positive edges
    r = run(
        "SELECT arrayPRAUC([0.1, 0.4, 0.35, 0.8], [0, 0, 1, 1]) AS pr,"
        " arrayAUCPR([0.1, 0.4, 0.35, 0.8], [0, 0, 1, 1]) AS pr2,"
        " arrayROCAUC([0.1, 0.4, 0.35, 0.8], [0, 0, 1, 1]) AS roc,"
        " arrayPRAUC([0.3, 0.9], [1, 1]) AS allp,"
        " arrayPRAUC([0.3, 0.9], [0, 0]) AS nop"
    )[0]
    assert abs(r["pr"] - 0.8333333333333333) < 1e-12
    assert r["pr2"] == r["pr"] and abs(r["roc"] - 0.75) < 1e-12
    assert r["allp"] == 1.0 and r["nop"] == 0.0
    # keyed hashes: key participates (distinct keys -> distinct
    # streams), stable across calls; blake3 stand-in = SHA-256 bytes
    r = run(
        "SELECT sipHash64Keyed((toUInt64(1), toUInt64(2)), 'x') AS a,"
        " sipHash64Keyed((toUInt64(1), toUInt64(3)), 'x') AS b,"
        " sipHash64Keyed((toUInt64(1), toUInt64(2)), 'x') AS c,"
        " hex(sipHash128Keyed((toUInt64(1), toUInt64(2)), 'x')) AS d,"
        " hex(blake3('abc')) AS bl, kafkaMurmurHash('abc') AS k,"
        " stringJaccardIndexUTF8('hello', 'world') AS j,"
        " length(queryID()) AS q"
    )[0]
    assert r["a"] != r["b"] and r["a"] == r["c"] and len(r["d"]) == 32
    assert r["bl"] == (
        "BA7816BF8F01CFEA414140DE5DAE2223B00361A396177A9CB410FF61F20015AD"
    )
    assert r["k"] >= 0 and abs(r["j"] - 2.0 / 7.0) < 1e-12
    assert r["q"] == 36
    # (hop/hopStart/hopEnd left this refusal list in r8 — they
    # translate to Spark's sliding window(); see
    # test_hop_windows_multi_assign)
    for fn, alt in (
        ("geohashesInBox(-1.0, -1.0, 1.0, 1.0, 3)", "geohashEncode"),
        ("sparseGrams(s)", "ngrams"),
        ("dynamicType(x)", "toTypeName"),
        ("estimateCompressionRatio('lz4')(s)", "storage-codec"),
    ):
        with pytest.raises(ValueError, match=alt):
            translate(f"SELECT {fn} FROM t")
    with pytest.raises(ValueError, match="fixed-length"):
        translate("SELECT tumble(ts, INTERVAL 1 MONTH) FROM t")


def test_probe_batch37_map_combinators_and_state_tails(views):
    """Round-7 execution probe, batch 37: the -Map combinator extends
    to avg/count/uniq (per-key aggregation of map columns), the uniq
    VARIANT -State/-Merge spellings ride the same HLL sketch family as
    uniqState, argMax/argMin states carry (value, key) structs that
    re-merge exactly, the generic toInterval('Unit') resolves literal
    units, quantileExactWeightedInterpolated joins the weighted-exact
    family, and the h3/s2/polygon/WKT/PromQL-grid tails refuse loudly
    with pointers."""
    views.sql(
        "SELECT * FROM VALUES (1, 'a', 10.0, map('x', 1, 'y', 2)),"
        " (1, 'b', 20.0, map('x', 3)), (2, 'c', 40.0, map('y', 5))"
        " AS t(g, s, f, m)"
    ).createOrReplaceTempView("__b37")

    def run(q):
        return views.sql(translate(q).sql).collect()

    r = run(
        "SELECT avgMap(m) AS a, countMap(m) AS c, uniqMap(m) AS u"
        " FROM __b37"
    )[0]
    assert r["a"] == {"x": 2.0, "y": 3.5}
    assert r["c"] == {"x": 2, "y": 2} and r["u"] == {"x": 2, "y": 2}
    # uniq variant states merge through the same sketch family
    assert run(
        "SELECT uniqCombinedMerge(st) AS u FROM (SELECT g,"
        " uniqCombinedState(s) AS st FROM __b37 GROUP BY g)"
    )[0]["u"] == 3
    assert run(
        "SELECT uniqThetaMerge(st) AS u FROM (SELECT g,"
        " uniqHLL12State(s) AS st FROM __b37 GROUP BY g)"
    )[0]["u"] == 3
    # argMax state/merge roundtrip equals the direct aggregate
    r = run(
        "SELECT argMaxMerge(st) AS v FROM (SELECT g,"
        " argMaxState(s, f) AS st FROM __b37 GROUP BY g)"
    )[0]
    direct = run("SELECT argMax(s, f) AS v FROM __b37")[0]
    assert r["v"] == direct["v"] == "c"
    r = run(
        "SELECT argMinMerge(st) AS v FROM (SELECT g,"
        " argMinState(s, f) AS st FROM __b37 GROUP BY g)"
    )[0]
    assert r["v"] == "a"
    # groupArray state relays
    assert sorted(run(
        "SELECT groupArrayMerge(st) AS a FROM (SELECT g,"
        " groupArrayState(s) AS st FROM __b37 GROUP BY g)"
    )[0]["a"]) == ["a", "b", "c"]
    # weighted-interpolated quantile joins the exact-weighted family
    assert run(
        "SELECT quantileExactWeightedInterpolated(0.5)(f, g) AS q"
        " FROM __b37"
    )[0]["q"] is not None
    # generic toInterval with a literal unit
    r = run(
        "SELECT toDateTime('2024-03-05 10:00:00')"
        " + toInterval(90, 'Minute') AS t"
    )[0]
    assert str(r["t"]) == "2024-03-05 11:30:00"
    with pytest.raises(ValueError, match="literal unit"):
        translate("SELECT toInterval(1, s) FROM t")
    for fn, alt in (
        ("geoToH3(37.79, 55.71, 15)", "h3 lib"),
        ("polygonAreaSpherical([[(0., 0.)]])", "Cartesian"),
        ("polygonsUnionCartesian([[(0., 0.)]])", "pointInPolygon"),
        ("regionHierarchy(1)", "dict_get"),
        ("evalMLMethod(f)", "MLlib"),
        ("topKState(2)(s)", "topK"),
        ("icebergTruncate(3, s)", "substring"),
    ):
        with pytest.raises(ValueError, match=alt):
            translate(f"SELECT {fn} FROM t")


def test_probe_batch38_inline_tvfs_and_statement_tails(views):
    """Round-7 execution probe, batch 38: ClickHouse's literal-schema
    values() TVF — which previously ran through Spark's same-named TVF
    and silently returned ONE row of garbage (the worst failure class:
    no error, wrong data) — now expands to a typed inline VALUES
    subquery; null('schema') is a typed zero-row relation; view(...)
    unwraps; ANSI OFFSET/FETCH becomes LIMIT/OFFSET; and
    WATCH/EXISTS TABLE/INTO OUTFILE/generateRandom/input/loop refuse
    loudly. Spark's own FROM VALUES shapes stay untouched."""

    def run(q):
        return views.sql(translate(q).sql).collect()

    r = run("SELECT * FROM values('x UInt8', 1, 2, 3) ORDER BY x")
    assert [row["x"] for row in r] == [1, 2, 3]
    r = run("SELECT s FROM values('a UInt8, s String', (1, 'p'),"
            " (2, 'q')) ORDER BY a")
    assert [row["s"] for row in r] == ["p", "q"]
    assert run("SELECT * FROM values('x UInt8')") == []
    assert run("SELECT count(*) AS c FROM null('x UInt8, s String')"
               )[0]["c"] == 0
    # Spark-native VALUES forms must pass through untouched — even
    # with a spacey string first element
    r = run("SELECT * FROM VALUES ('x y', 1) AS t(a, b)")
    assert r[0]["a"] == "x y"
    r = run("SELECT * FROM view(SELECT 1 AS x UNION ALL SELECT 2)"
            " ORDER BY x")
    assert [row["x"] for row in r] == [1, 2]
    r = run("SELECT x FROM (SELECT 1 AS x UNION ALL SELECT 2"
            " UNION ALL SELECT 3) ORDER BY x"
            " OFFSET 1 ROW FETCH FIRST 1 ROWS ONLY")
    assert [row["x"] for row in r] == [2]
    for stmt, alt in (
        ("WATCH lv", "streaming/pipeline"),
        ("EXISTS TABLE t", "tableExists"),
        ("SELECT x FROM t INTO OUTFILE '/tmp/o.csv'", "df.write"),
        ("SELECT * FROM generateRandom('x UInt8')", "randNormal"),
        ("SELECT * FROM input('x UInt8')", "Engine.insert"),
        ("SELECT * FROM loop(numbers(3))", "numbers"),
        ("SELECT x FROM t ORDER BY x FETCH FIRST 2 ROWS WITH TIES",
         "WITH TIES"),
    ):
        with pytest.raises(ValueError, match=alt):
            translate(stmt)


def test_probe_batch39_mac_formats_and_introspection_tails(views):
    """Round-7 execution probe, batch 39: MAC address codecs
    (48-bit-exact, roundtrip-pinned), the 2-arg %-format
    fromUnixTimestamp (+ Joda spelling), now('tz') zone rendering,
    add/subtractTupleOfIntervals chaining, filesystem/role
    introspection stand-ins, and loud refusals for the block-
    introspection family (no deterministic block structure in a
    distributed plan) and the partition/transaction/schema-codegen
    tails."""

    def run(q):
        return views.sql(translate(q).sql).collect()

    r = run(
        "SELECT MACNumToString(MACStringToNum('4A:8F:3C:88:5B:78'))"
        " AS rt, MACNumToString(1) AS one,"
        " MACStringToOUI('4A:8F:3C:88:5B:78') AS oui,"
        " fromUnixTimestamp(1709633630, '%Y-%m-%d') AS f,"
        " fromUnixTimestampInJodaSyntax(1709633630, 'yyyy-MM-dd') AS j,"
        " addTupleOfIntervals(toDate('2024-01-01'),"
        " (toIntervalDay(1), toIntervalMonth(1))) AS a,"
        " subtractTupleOfIntervals(toDate('2024-01-01'),"
        " (toIntervalDay(1),)) AS s,"
        " filesystemCapacity() AS fc, enabledRoles() AS er,"
        " substringIndexUTF8('a.b.c', '.', 2) AS si,"
        " length(currentQueryID()) AS cq"
    )[0]
    assert r["rt"] == "4A:8F:3C:88:5B:78"
    assert r["one"] == "00:00:00:00:00:01"
    assert r["oui"] == int("4A8F3C", 16)
    assert r["f"] == "2024-03-05" and r["j"] == "2024-03-05"
    assert str(r["a"]).startswith("2024-02-02")
    assert str(r["s"]).startswith("2023-12-31")
    assert r["fc"] > 0 and r["er"] == ["root"] and r["si"] == "a.b"
    assert r["cq"] == 36
    # now('tz') renders the instant in the named zone: the NY wall
    # clock differs from UTC by 4-5 hours
    r = run("SELECT hour(now('America/New_York')) AS ny,"
            " hour(now()) AS utc")[0]
    assert r["ny"] != r["utc"]
    for fn, alt in (
        ("blockSize()", "count"),
        ("rowNumberInAllBlocks()", "row_number"),
        ("partitionID(ts)", "partition column"),
        ("getMacro('replica')", "spark.conf"),
        ("structureToProtobufSchema('x UInt8')", "protodesc"),
    ):
        with pytest.raises(ValueError, match=alt):
            translate(f"SELECT {fn} FROM t")


def test_probe_batch44_unicode_and_html_tails(views):
    """Round-7 execution probe, batch 44: ~28 candidates (bit shifts/
    rotates, roundBankers/roundDown, arrayProduct/Count/Uniq,
    indexOfAssumeSorted, UTF8 string forms, alphaTokens, UUIDv4/v7,
    emptyArray*/arrayWithConstant, bar already executed —
    value-verified). Closed: the **normalizeUTF8NFC/NFD/NFKC/NFKD**
    family (stdlib unicodedata — exact) and **extractTextFromHTML**
    (the HTML-corpus-cleaning primitive: CDATA kept verbatim,
    script/style/comments removed whole, tags dropped, whitespace
    collapsed)."""

    def run(q):
        return views.sql(translate(q).sql).collect()[0]

    r = run(
        "SELECT normalizeUTF8NFC('é') AS nfc,"
        " normalizeUTF8NFD('é') AS nfd,"
        " normalizeUTF8NFKC('①') AS nfkc,"
        " normalizeUTF8NFKD('ﬁ') AS nfkd"
    )
    assert r["nfc"] == "é" and r["nfd"] == "é"
    assert r["nfkc"] == "1" and r["nfkd"] == "fi"
    r = run(
        "SELECT extractTextFromHTML('<html><script>var x=1;</script>"
        "<body><p>Hello <b>world</b></p><!-- gone --></body></html>')"
        " AS t,"
        " extractTextFromHTML('a <![CDATA[kept <raw>]]> b') AS cd,"
        " extractTextFromHTML('plain') AS p"
    )
    assert r["t"] == "Hello world"
    assert r["cd"] == "a kept <raw> b" and r["p"] == "plain"


def test_probe_batch45_ordefault_and_argmin_if_stacking(views):
    """Round-7 execution probe, batch 45: the -OrDefault aggregate
    combinator (the return type's DEFAULT over an empty set — 0 for
    the numeric-returning bases; the type-polymorphic min/max/any
    forms refuse naming the explicit COALESCE), its -If stacking, and
    -ArgMin/-ArgMax stacking with -If (the condition NULLs the whole
    (v, k) struct out, so non-matching rows never enter the
    extreme-key search)."""
    views.sql(
        "SELECT * FROM VALUES (1, 'a', 10.0, 5), (1, 'b', 9.0, 5),"
        " (1, 'c', 4.0, 7), (2, 'd', 1.0, 3) AS t(g, s, v, k)"
    ).createOrReplaceTempView("__b45")

    def run(q):
        return views.sql(translate(q).sql).collect()

    r = run(
        "SELECT sumOrDefault(v) AS s, countOrDefault() AS c,"
        " avgOrDefault(v) AS a, uniqOrDefault(s) AS u,"
        " uniqExactOrDefault(s) AS ue FROM __b45 WHERE g > 9"
    )[0]
    assert float(r["s"]) == 0 and r["c"] == 0 and r["a"] == 0.0
    assert r["u"] == 0 and r["ue"] == 0
    assert float(run("SELECT sumOrDefaultIf(v, k > 10) AS s"
                     " FROM __b45")[0]["s"]) == 0
    # g=1, cond k<=5: keys {5, 5}; min key 5 ties rows a(10) + b(9)
    r = run(
        "SELECT g, sumArgMinIf(v, k, k <= 5) AS s,"
        " countArgMaxIf(k, k <= 5) AS c,"
        " minArgMinIf(s, k, v < 10) AS mn"
        " FROM __b45 GROUP BY g ORDER BY g"
    )
    assert r[0]["s"] == 19.0 and r[0]["c"] == 2 and r[0]["mn"] == "b"
    assert r[1]["s"] == 1.0 and r[1]["c"] == 1 and r[1]["mn"] == "d"
    for fn in ("minOrDefault(v)", "maxOrDefault(v)", "anyOrDefault(s)"):
        with pytest.raises(ValueError, match="coalesce"):
            translate(f"SELECT {fn} FROM t")


def test_probe_batch46_foreach_and_array_resample(views):
    """Round-7 probe batch 46: the deep stacking corners all execute —
    -ForEach × -If (per-position aggregation restricted by the
    condition), -Array × -Resample. One real fix: sumArrayResample's
    empty buckets now coalesce to 0 like the scalar sum family (CH's
    sumArray default; the NULLed-array -If rewrite yielded NULL)."""
    views.sql(
        "SELECT * FROM VALUES (1, array(1, 2), 5), (1, array(3, 4), 9),"
        " (2, array(10, 20), 5) AS t(g, arr, k)"
    ).createOrReplaceTempView("__b46")

    def run(q):
        return views.sql(translate(q).sql).collect()

    r = run("SELECT g, sumForEachIf(arr, k < 7) AS fe,"
            " sumArrayResample(0, 10, 5)(arr, k) AS rs,"
            " countArrayResample(0, 10, 5)(arr, k) AS cr"
            " FROM __b46 GROUP BY g ORDER BY g")
    assert r[0]["fe"] == [1.0, 2.0] and r[1]["fe"] == [10.0, 20.0]
    assert r[0]["rs"] == [0.0, 10.0] and r[1]["rs"] == [0.0, 30.0]
    assert r[0]["cr"][0] == 0 and r[0]["cr"][1] == 4


def test_argminmax_if_zero_match_groups(views):
    """ADVICE r7: groups where NO row satisfies the stacked -If
    condition must yield NULL, not crash — the any base raised
    INVALID_ARRAY_INDEX_IN_ELEMENT_AT (element_at on the then-empty
    filtered array under ANSI mode) and the avg base raised
    DIVIDE_BY_ZERO (division by size 0). ClickHouse returns the
    default / nan; we emit NULL (the boundingRatio nullif stance)."""
    views.sql(
        "SELECT * FROM VALUES (1, 5, 1), (1, 7, 2), (2, 200, 3)"
        " AS t(k, v, o)"
    ).createOrReplaceTempView("__zm")
    r = views.sql(translate(
        "SELECT k, anyArgMinIf(v, o, v > 100) AS a,"
        " anyArgMaxIf(v, o, v > 100) AS a2,"
        " avgArgMinIf(v, o, v > 100) AS b,"
        " avgArgMaxIf(v, o, v > 100) AS b2"
        " FROM __zm GROUP BY k ORDER BY k").sql).collect()
    assert r[0]["a"] is None and r[0]["a2"] is None
    assert r[0]["b"] is None and r[0]["b2"] is None
    assert r[1]["a"] == 200 and r[1]["b2"] == 200.0


def test_from_unix_timestamp_string_literal_guard(views):
    """ADVICE r7: the 2-arg fromUnixTimestamp rewrite must skip
    matches inside string literals (like the neighboring multiMatch/
    formatRow passes) — the token in a quoted literal was spliced
    into formatDateTime, corrupting the literal."""
    r = views.sql(translate(
        "SELECT 'fromUnixTimestamp(1, 2)' AS lit,"
        " fromUnixTimestamp(0, '%F') AS d").sql).collect()[0]
    assert r["lit"] == "fromUnixTimestamp(1, 2)"
    assert r["d"] == "1970-01-01"


def test_ch_values_after_spark_values_same_statement(views):
    """ADVICE r7: a Spark-native FROM VALUES earlier in the statement
    must not stop the scan — a later ClickHouse-form values('x T',…)
    in the SAME statement still translates (the old `break` left it
    as an unresolved/mis-parsed TVF)."""
    sql = translate(
        "SELECT a.c1 AS x, __ch_values.n AS y"
        " FROM VALUES (1), (2) AS a(c1)"
        " JOIN values('n UInt8', 1, 2) ON a.c1 = __ch_values.n").sql
    assert "__ch_vrows" in sql  # the CH form was rewritten
    rows = views.sql(sql).collect()
    assert sorted((r["x"], r["y"]) for r in rows) == [(1, 1), (2, 2)]
    # and a CH-form null() after a Spark VALUES also still translates
    sql2 = translate(
        "SELECT count(*) AS c FROM VALUES (1) AS a(c1)"
        " CROSS JOIN null('z Int64')").sql
    assert views.sql(sql2).collect()[0]["c"] == 0


def test_time_decayed_running_route_matches_hof_fold(views):
    """Round 8 (verdict #4): the segmented O(1)-per-row routing for
    unbounded exponentialTimeDecayed* frames must agree with the
    exact O(frame) HOF fold. The bounded spelling ROWS BETWEEN 100000
    PRECEDING AND CURRENT ROW is NOT routable (it keeps the HOF fold)
    but covers every row of this small grid — same frames, two
    plans. Grid spans multiple 600x-wide segments (x=60 -> 36000 s
    per segment; events spread over ~5 segments) so the cross-segment
    carry and the >=2-segments-back truncation both exercise. Agree
    to 6 dp (association differs by ~1e-12 relative)."""
    views.sql(
        "SELECT id, CAST(k AS STRING) AS g,"
        " timestamp_seconds(1700000000 + id * 7919 % 180000) AS ts,"
        " CAST(sin(id) * 100 AS DOUBLE) AS v"
        " FROM range(300) JOIN (SELECT explode(array(0, 1)) AS k)"
    ).createOrReplaceTempView("__td")

    def both(fn, args):
        unb = ("ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW",)
        bnd = ("ROWS BETWEEN 100000 PRECEDING AND CURRENT ROW",)
        out = []
        for frame, in (unb, bnd):
            q = translate(
                f"SELECT g, id, round({fn}(60)({args}) OVER"
                f" (PARTITION BY g ORDER BY ts, id {frame}), 6) AS r"
                " FROM __td"
            ).sql
            out.append(q)
        return out

    for fn, args in [
        ("exponentialTimeDecayedSum", "v, ts"),
        ("exponentialTimeDecayedCount", "ts"),
        ("exponentialTimeDecayedMax", "v, ts"),
        ("exponentialTimeDecayedAvg", "v, ts"),
    ]:
        routed_sql, hof_sql = both(fn, args)
        assert "collect_list" not in routed_sql, fn
        assert "collect_list" in hof_sql, fn
        routed = {(r["g"], r["id"]): r["r"]
                  for r in views.sql(routed_sql).collect()}
        hof = {(r["g"], r["id"]): r["r"]
               for r in views.sql(hof_sql).collect()}
        assert routed.keys() == hof.keys()
        bad = [(k, routed[k], hof[k]) for k in routed
               if abs((routed[k] or 0) - (hof[k] or 0)) > 1e-6]
        assert not bad, (fn, bad[:5])


def test_probe_batch47_bin_datetime64_uuid7(views):
    """Round-8 execution probe, batch 47 (~100 spellings swept; the
    rest already execute or refuse loudly). Real fixes: bin() over
    strings crashed (Spark's bin casts to BIGINT — now every hex
    nibble renders as 4 bits, CH-exact for strings, and unbin stays
    its inverse); the bare no-precision CAST(x AS DateTime64) was
    unsupported (only the parameterized spelling mapped); and
    UUIDv7ToDateTime (unix-ms in the first 48 bits). flameGraph
    refuses loudly naming the supported path (sparkbar and the
    JSONAllPaths family translate since r9 — see test_sparkbar and
    test_json_all_paths)."""
    from ed_clickhouse_spark.functions.clickhouse import register_sql_aliases

    register_sql_aliases(views)
    r = views.sql(translate(
        "SELECT bin('AB') AS b, unbin(bin('hello')) AS ub,"
        " bin(5) AS bn,"
        " CAST(timestamp'2024-01-01' AS DateTime64) AS dt,"
        " UUIDv7ToDateTime('01900000-0000-7000-8000-000000000000')"
        " AS u7").sql).collect()[0]
    assert r["b"] == "0100000101000010"
    assert r["ub"] == "hello"
    assert r["bn"] == "0101"  # Spark hex width; CH pads to type width
    assert str(r["dt"]).startswith("2024-01-01")
    assert str(r["u7"]).startswith("2024-06-10")
    for fn in ("flameGraph(g)",):
        with pytest.raises(ValueError, match="not SQL-translatable"):
            translate(f"SELECT {fn} FROM t")


def test_probe_batch48_week_modes_visitparam(views):
    """Round-8 execution probe, batch 48 (~50 spellings swept:
    numbers()/zeros() TVFs, set ops, WITH RECURSIVE, SETTINGS,
    GLOBAL IN, URL/IP tails — all already execute). Real fixes: the
    MySQL-style week MODES (toWeek/toYearWeek 2- and 3-arg: mode 0 =
    Sunday-first with week 0, mode 3 = ISO, mode 1 = ISO clamped to
    the calendar year; others raise at runtime naming the set), and
    the legacy visitParam* spellings of the simpleJSON* fast-scanner
    family incl. the new simpleJSONExtractRaw (strings re-quoted via
    to_json's own escaping; missing key -> '' like CH)."""
    from ed_clickhouse_spark.functions.clickhouse import register_sql_aliases

    register_sql_aliases(views)
    r = views.sql(translate(
        "SELECT toWeek(timestamp'2024-03-15', 0) AS w0,"
        " toWeek(timestamp'2024-03-15', 1) AS w1,"
        " toWeek(timestamp'2024-03-15', 3) AS w3,"
        " toWeek(timestamp'2024-12-30', 1) AS we1,"
        " toWeek(timestamp'2024-12-30', 3) AS we3,"
        " toWeek(timestamp'2024-01-02', 1) AS wb1,"
        " toYearWeek(timestamp'2024-12-30', 1) AS yw1,"
        " toYearWeek(timestamp'2024-12-30', 0) AS yw0,"
        " visitParamExtractRaw('{\"a\":\"x\",\"b\":2}', 'a') AS rs,"
        " visitParamExtractRaw('{\"a\":\"x\",\"b\":2}', 'b') AS rn,"
        " visitParamExtractRaw('{\"a\":1}', 'zz') AS rmiss,"
        " visitParamHas('{\"a\":1}', 'a') AS h,"
        " visitParamExtractInt('{\"a\":7}', 'a') AS i,"
        " visitParamExtractUInt('{\"a\":7}', 'a') AS u,"
        " visitParamExtractUInt('{\"a\":-7}', 'a') AS uneg,"
        " visitParamExtractUInt('{\"a\":7}', 'zz') AS umiss,"
        # 2023-12-31 17:00 UTC = 2024-01-01 02:00 Tokyo: the 3-arg tz
        # form must evaluate the week in the named zone (ISO week 1)
        " toWeek(timestamp'2023-12-31 17:00:00', 3, 'Asia/Tokyo') AS wtz,"
        " toWeek(timestamp'2023-12-31 17:00:00', 3, 'UTC') AS wutc,"
        " toYearWeek(timestamp'2023-12-31 17:00:00', 1, 'Asia/Tokyo')"
        "   AS ywtz").sql
    ).collect()[0]
    # 2024-03-15: Sunday-mode week 10, ISO week 11
    assert (r["w0"], r["w1"], r["w3"]) == (10, 11, 11)
    # 2024-12-30 is ISO week 1 of 2025: mode 1 clamps to 53
    assert (r["we1"], r["we3"]) == (53, 1)
    assert r["wb1"] == 1
    assert (r["yw1"], r["yw0"]) == (202501, 202452)
    assert r["rs"] == '"x"' and r["rn"] == "2" and r["rmiss"] == ""
    assert r["h"] is True and r["i"] == 7
    # UInt: negative and missing both clamp to 0 (CH readUIntText semantics)
    assert (r["u"], r["uneg"], r["umiss"]) == (7, 0, 0)
    assert (r["wtz"], r["wutc"], r["ywtz"]) == (1, 52, 202401)
    import pytest as _pt
    with _pt.raises(Exception, match="not supported"):
        views.sql(translate(
            "SELECT toWeek(timestamp'2024-03-15', 5) AS w").sql
        ).collect()


def test_hop_windows_multi_assign(views):
    """Round 8: hop/hopStart/hopEnd translate (previously a loud
    refusal) — ClickHouse hop(t, hop_interval, window_interval) is
    Spark's sliding window(t, size, slide), which multi-assigns each
    record to every containing window in a batch GROUP BY. 10 events
    a minute apart, 2-minute windows hopping by 1 minute: every event
    lands in exactly 2 windows; hopStart/hopEnd project the struct
    (including the 1-arg window-struct spelling CH uses in WINDOW
    VIEWs). A hop longer than the window refuses."""
    views.sql(
        "SELECT timestamp_seconds(1700000000 + i * 60) AS ts, i AS v"
        " FROM (SELECT explode(sequence(0, 9)) AS i)"
    ).createOrReplaceTempView("__hop")
    rows = views.sql(translate(
        "SELECT hopStart(hop(ts, INTERVAL 1 MINUTE, INTERVAL 2 MINUTE))"
        " AS ws, hopEnd(hop(ts, INTERVAL 1 MINUTE, INTERVAL 2 MINUTE))"
        " AS we, count(*) AS c FROM __hop"
        " GROUP BY hop(ts, INTERVAL 1 MINUTE, INTERVAL 2 MINUTE)"
        " ORDER BY ws").sql).collect()
    assert len(rows) == 11  # 10 minutes of events, 11 overlapping wins
    assert sum(r["c"] for r in rows) == 20  # each event in exactly 2
    for r in rows:
        assert (r["we"] - r["ws"]).total_seconds() == 120
    with pytest.raises(ValueError, match="must not exceed"):
        translate("SELECT count(*) FROM t GROUP BY"
                  " hop(ts, INTERVAL 3 MINUTE, INTERVAL 2 MINUTE)")


def test_probe_batch49_bitmap_family(views):
    """Round-8 execution probe, batch 49: the scalar bitmap family,
    modeled as sorted distinct arrays (bitmapToArray's ascending-order
    contract makes the representation the readback). Every set
    operation is a pure-JVM array builtin; the mergeable
    groupBitmap*State aggregates stay refused toward
    operators/sketch.py."""
    r = views.sql(translate(
        "SELECT bitmapCardinality(bitmapBuild(array(1,2,2,3))) AS c,"
        " bitmapToArray(bitmapAnd(bitmapBuild(array(1,2,3)),"
        "   bitmapBuild(array(2,3,4)))) AS a,"
        " bitmapToArray(bitmapXor(bitmapBuild(array(1,2)),"
        "   bitmapBuild(array(2,3)))) AS x,"
        " bitmapOrCardinality(bitmapBuild(array(1,2)),"
        "   bitmapBuild(array(2,3))) AS oc,"
        " bitmapAndnotCardinality(bitmapBuild(array(1,2)),"
        "   bitmapBuild(array(2))) AS nc,"
        " bitmapContains(bitmapBuild(array(1,2)), 2) AS ct,"
        " bitmapHasAny(bitmapBuild(array(1,2)),"
        "   bitmapBuild(array(9))) AS ha,"
        " bitmapHasAll(bitmapBuild(array(1,2,3)),"
        "   bitmapBuild(array(2,3))) AS hl,"
        " bitmapMin(bitmapBuild(array(3,1))) AS mn,"
        " bitmapMax(bitmapBuild(array(3,1))) AS mx,"
        " bitmapToArray(bitmapSubsetInRange(bitmapBuild("
        "   array(1,5,9)), 2, 9)) AS sr,"
        " bitmapToArray(bitmapSubsetLimit(bitmapBuild("
        "   array(1,5,9,11)), 5, 2)) AS sl,"
        " bitmapToArray(subBitmap(bitmapBuild("
        "   array(10,20,30,40)), 1, 2)) AS sb").sql).collect()[0]
    assert r["c"] == 3 and r["a"] == [2, 3] and r["x"] == [1, 3]
    assert r["oc"] == 3 and r["nc"] == 1
    assert r["ct"] is True and r["ha"] is False and r["hl"] is True
    assert (r["mn"], r["mx"]) == (1, 3)
    assert r["sr"] == [5] and r["sl"] == [5, 9] and r["sb"] == [20, 30]


def test_probe_batch53_math_tail(views):
    """Round-8 execution probe, batch 53 (~30 math/bit/rounding
    spellings swept — the family was already essentially complete).
    Additions: canonicalRand (uppercase RAND() so the CH rand->UInt32
    rewrite doesn't re-map it back), nanOrNull/infOrNull constants;
    polygon geometry + randConstant refuse loudly (r9: the CARTESIAN
    area/perimeter + readWKT*/wkt family is implemented — see
    test_polygon_algebra — so only polygonArea's bare spelling and
    randConstant stay pinned here)."""
    r = views.sql(translate(
        "SELECT canonicalRand() AS c, nanOrNull() AS na,"
        " infOrNull() AS inf").sql).collect()[0]
    assert 0 <= r["c"] < 1
    import math
    assert math.isnan(r["na"]) and math.isinf(r["inf"])
    for fn in ("polygonArea([[0.0]])",):
        with pytest.raises(ValueError, match="polygonAreaCartesian"):
            translate(f"SELECT {fn}")
    for fn in ("randConstant()",):
        with pytest.raises(ValueError, match="not SQL-translatable"):
            translate(f"SELECT {fn}")


def test_probe_batch54_datetime_tail(views):
    """Round-8 execution probe, batch 54 (~34 date/time spellings —
    the family was already nearly complete). Real fixes:
    parseDateTimeBestEffort returned NULL for month-name shapes like
    '15 Mar 2024' (format chain widened; RFC-1123 handled by stripping
    the weekday — Spark's new parser rejects 'EEE'); the OrNull/OrZero
    variants now share the whole chain; changeYear..changeSecond via
    timestampadd deltas (subseconds preserved); addMilliseconds/
    addMicroseconds + subtract twins; 2-arg makeDate(year, doy);
    3-arg snake date_diff; toDate32OrNull/OrZero."""
    from ed_clickhouse_spark.functions.clickhouse import register_sql_aliases

    register_sql_aliases(views)
    r = views.sql(translate(
        "SELECT parseDateTimeBestEffort('15 Mar 2024') AS a,"
        " parseDateTimeBestEffortOrNull('garbage') AS b,"
        " parseDateTimeBestEffortOrZero('garbage') AS z,"
        " parseDateTimeBestEffort('Fri, 15 Mar 2024 10:00:00') AS rfc,"
        " changeYear(timestamp'2024-03-15 10:37:23.25', 2030) AS cy,"
        " changeMinute(timestamp'2024-03-15 10:37:23', 59) AS cmin,"
        " addMilliseconds(timestamp'2024-03-15 10:37:23', 500) AS ams,"
        " subtractMicroseconds(timestamp'2024-03-15 10:37:23.25',"
        " 250000) AS sus,"
        " makeDate(2024, 75) AS md2, makeDate(2024, 3, 15) AS md3,"
        " date_diff('hour', timestamp'2024-03-15',"
        " timestamp'2024-03-16') AS dd3,"
        " toDate32OrNull('2024-03-15') AS d32,"
        " toDate32OrZero('x') AS d32z").sql).collect()[0]
    import datetime as dt
    assert r["a"] == dt.datetime(2024, 3, 15)
    assert r["b"] is None and r["z"] == dt.datetime(1970, 1, 1)
    assert r["rfc"] == dt.datetime(2024, 3, 15, 10)
    assert r["cy"] == dt.datetime(2030, 3, 15, 10, 37, 23, 250000)
    assert r["cmin"].minute == 59 and r["cmin"].second == 23
    assert r["ams"].microsecond == 500000
    assert r["sus"] == dt.datetime(2024, 3, 15, 10, 37, 23)
    assert r["md2"] == r["md3"] == dt.date(2024, 3, 15)
    assert r["dd3"] == 24
    assert r["d32"] == dt.date(2024, 3, 15)
    assert r["d32z"] == dt.date(1970, 1, 1)


def test_bucketed_bitmap_matches_flat(views):
    """q248 (bucketed bitmap retention) must return exactly q239's rows:
    bucket-wise AND/OR/ANDNOT over an id-space PARTITION is exact, and
    per-bucket cardinalities sum to the flat answer."""
    from ed_clickhouse_spark.suite.q_dialect import (
        q239_bitmap_retention,
        q248_bitmap_retention_bucketed,
    )

    sf = "/root/testdata/sf0.001"
    flat = {r["day"]: (r["dau"], r["retained"], r["either_day"],
                       r["new_next_day"])
            for r in q239_bitmap_retention(views, sf).collect()}
    bucketed = {r["day"]: (r["dau"], r["retained"], r["either_day"],
                           r["new_next_day"])
                for r in q248_bitmap_retention_bucketed(views, sf).collect()}
    assert flat == bucketed and len(flat) > 0


def test_group_bitmap_aggregates(views):
    """r9: groupBitmapAnd/Or/Xor fold the sorted-distinct-array bitmap
    model per group (previously refused). AND intersects, OR unions,
    XOR keeps ids present in an odd number of bitmaps."""
    views.sql("""
      SELECT * FROM VALUES
        ('a', array(1L,2L,3L)), ('a', array(2L,3L,4L)),
        ('a', array(3L,4L,5L)), ('b', array(1L,2L))
      AS t(k, bm)
    """).createOrReplaceTempView("gb_bms")
    rows = views.sql(translate(
        "SELECT k, groupBitmapAnd(bm) AS a, groupBitmapOr(bm) AS o,"
        " groupBitmapXor(bm) AS x FROM gb_bms GROUP BY k ORDER BY k"
    ).sql).collect()
    assert [(r["k"], r["a"], r["o"], r["x"]) for r in rows] == [
        ("a", 1, 5, 3), ("b", 2, 2, 2)]


def test_polygon_algebra(views):
    """r9: the Cartesian polygon family (previously refused). Model:
    Point = STRUCT<x,y>, Ring = ARRAY<Point>, Polygon = ARRAY<Ring>
    (outer ring first, holes after). Shoelace area subtracts holes;
    perimeter sums every ring boundary; readWKT* parse the standard
    text forms; wkt round-trips the polygon model."""
    r = views.sql(translate(
        "SELECT polygonAreaCartesian(readWKTPolygon("
        "'POLYGON ((0 0, 4 0, 4 3, 0 3, 0 0),"
        " (0.5 0.25, 1 0.25, 1 0.75, 0.5 0.75, 0.5 0.25))')) AS a,"
        " polygonPerimeterCartesian(readWKTPolygon("
        "'POLYGON ((0 0, 4 0, 4 3, 0 3, 0 0),"
        " (0.5 0.25, 1 0.25, 1 0.75, 0.5 0.75, 0.5 0.25))')) AS p,"
        " readWKTPoint('POINT (1.5 -2)').y AS py,"
        " size(readWKTLineString('LINESTRING (1 1, 2 2, 3 3)')) AS nls,"
        " size(readWKTRing('POLYGON ((1 1, 2 2, 3 3, 1 1))')) AS nr,"
        " size(readWKTMultiLineString("
        "'MULTILINESTRING ((1 1, 2 2), (3 3, 4 4, 5 5))')) AS nmls,"
        " polygonAreaCartesian(element_at(readWKTMultiPolygon("
        "'MULTIPOLYGON (((0 0, 2 0, 2 2, 0 2, 0 0)),"
        " ((10 10, 14 10, 14 13, 10 13, 10 10)))'), 2)) AS a2,"
        " wkt(readWKTPolygon('POLYGON ((0 0, 4 0, 4 3, 0 3, 0 0))'))"
        " AS w").sql).collect()[0]
    # 4x3 rect minus the 0.5x0.5 hole; perimeter includes the hole ring
    assert r["a"] == 11.75 and r["p"] == 16.0
    assert r["py"] == -2.0 and r["nls"] == 3 and r["nr"] == 4
    assert r["nmls"] == 2 and r["a2"] == 12.0
    assert r["w"] == "POLYGON ((0 0, 4 0, 4 3, 0 3, 0 0))"


def test_sparkbar(views):
    """r9: the sparkbar(width[, min, max])(x, y) parametric aggregate
    (previously refused) — equal-width buckets, per-bucket y sums,
    heights scaled to the 8 bar glyphs; empty bucket renders a space;
    explicit bounds skip out-of-range points."""
    views.sql(
        "SELECT * FROM VALUES (1, 9, 8.0), (1, 10, 2.0), (1, 12, 4.0),"
        " (1, 13, 8.0), (2, 1, 1.0) AS t(g, x, y)"
    ).createOrReplaceTempView("sb")
    r = views.sql(translate(
        "SELECT g, sparkbar(4)(x, y) AS s,"
        " sparkbar(4, 9, 13)(x, y) AS sb FROM sb GROUP BY g ORDER BY g"
    ).sql).collect()
    # g=1: range 9..13, 4 buckets of width 1 -> [9,10),[10,11),[11,12),
    # [12,13] sums (8, 2, 0, 12) -> levels ceil(h*8/12) = (6, 2, _, 8)
    assert r[0]["s"] == "▆▂ █"
    assert r[0]["sb"] == "▆▂ █"
    # g=2: a single point fills bucket 0 at full height
    assert r[1]["s"] == "█   "


def test_sparkbar_degenerate_shapes(views):
    """r10 (VERDICT r9 #5): sparkbar edge shapes — min(x) == max(x)
    (all mass in the first bucket), zero-total heights (all spaces,
    no divide-by-zero), and the single-point group."""
    views.sql(
        "SELECT * FROM VALUES (1, 5, 10.0), (1, 5, 20.0),"
        " (2, 1, 0.0), (2, 2, 0.0), (2, 3, 0.0),"
        " (3, 7, 3.0) AS t(g, x, y)"
    ).createOrReplaceTempView("sbd")
    r = views.sql(translate(
        "SELECT g, sparkbar(8)(x, y) AS s FROM sbd GROUP BY g"
        " ORDER BY g").sql).collect()
    assert r[0]["s"] == "█       "  # min==max: one full first bucket
    assert r[1]["s"] == "        "  # zero heights render all-empty
    assert r[2]["s"] == "█       "  # single point


def test_probe_batch55_encoding_geobase_tails(views):
    """Round-9 execution probe, batch 55 (~105 spellings swept across
    rounding / bit / multi-search / tuple-vector / encoding / string /
    math / datetime tails — 93 already executed). Real fixes: the
    RFC 4648 base32 family (stdlib codec, pandas-UDF like base58),
    toStartOfNanosecond (identity at Spark's microsecond storage),
    the 24.x toTimeWithFixedDate rename, and loud refusals for the
    Yandex-geobase region* family (the hierarchy files CH loads from
    disk are not a Spark concept — dict_get over a region table is)."""
    from ed_clickhouse_spark.functions.clickhouse import register_sql_aliases

    register_sql_aliases(views)
    r = views.sql(translate(
        "SELECT base32Encode('hi') AS e,"
        " base32Decode('NBUQ====') AS d,"
        " tryBase32Decode('%%%') AS bad,"
        " toStartOfNanosecond(timestamp'2024-03-15 10:30:45.123456')"
        "   AS ns,"
        " toTimeWithFixedDate(timestamp'2024-03-15 10:30:45') AS tf,"
        " roundBankers(2.5) AS rb,"
        " bitTestAll(7, 0, 1) AS bt,"
        " multiSearchFirstIndex('abc def', ['def', 'abc']) AS msi,"
        " tupleElement((1, 'a'), 2) AS te,"
        " hypot(3, 4) AS hy").sql).collect()[0]
    assert r["e"] == "NBUQ====" and r["d"] == "hi" and r["bad"] is None
    assert str(r["ns"]).endswith("45.123456")
    assert str(r["tf"]) == "1970-01-02 10:30:45"
    assert r["rb"] == 2.0 and r["bt"] is True or r["bt"] == 1
    assert r["msi"] == 2 and r["te"] == "a" and r["hy"] == 5.0
    import pytest as _pt
    with _pt.raises(ValueError, match="dict_get"):
        translate("SELECT regionToCountry(213)")


def test_probe_batch56_agg_array_tails(views):
    """Round-9 execution probe, batch 56 (~68 aggregate/array spellings
    swept — 62 already executed; meanZTest/LTTB/aggThrow/
    arrayNormalizedGini/flattenTuple refuse loudly by design). Real
    fix: groupConcatDistinct (the -Distinct combinator composing with
    the parametric groupConcat rewrite)."""
    views.sql("SELECT * FROM VALUES ('b'), ('a'), ('b') AS t(s)"
              ).createOrReplaceTempView("gcd_t")
    r = views.sql(translate(
        "SELECT groupConcat(s) AS g, groupConcatDistinct(s) AS d,"
        " groupConcat(',')(s) AS gs FROM gcd_t").sql).collect()[0]
    assert r["g"] == "bab" and r["d"] == "ba" and r["gs"] == "b,a,b"


def test_timeseries_grid_family(views):
    """r9: the 25.x PromQL-compatible timeSeries*ToGrid family
    (previously refused toward -Resample). Values pinned against a
    hand-computed PromQL reference over a counter with one reset at
    t=500 (samples (100,10)..(620,15)): grid 0/300/600, window 300.
    Covers staleness resample, idelta, counter-reset irate, gauge
    delta with edge extrapolation, and rate with the reset correction
    + counter-zero clamp + window division."""
    views.sql(
        "SELECT * FROM VALUES (1, 100.0, 10.0), (1, 200.0, 20.0),"
        " (1, 300.0, 30.0), (1, 420.0, 45.0), (1, 500.0, 5.0),"
        " (1, 620.0, 15.0) AS t(g, ts, v)"
    ).createOrReplaceTempView("tsg_m")
    r = views.sql(translate(
        "SELECT g,"
        " timeSeriesResampleToGridWithStaleness(0, 600, 300, 300)(ts, v)"
        "   AS rs,"
        " timeSeriesInstantDeltaToGrid(0, 600, 300, 300)(ts, v) AS idl,"
        " timeSeriesInstantRateToGrid(0, 600, 300, 300)(ts, v) AS irt,"
        " timeSeriesDeltaToGrid(0, 600, 300, 300)(ts, v) AS dl,"
        " timeSeriesRateToGrid(0, 600, 300, 300)(ts, v) AS rt"
        " FROM tsg_m GROUP BY g").sql).collect()[0]
    assert r["rs"] == [None, 30.0, 5.0]
    assert r["idl"] == [None, 10.0, -40.0]
    assert r["irt"] == [None, 0.1, 0.0625]
    assert r["dl"] == [None, 30.0, -80.0]
    # reset-corrected increase (45-10)+45=80 over [320,620]... the
    # 600-grid window (300,600] holds (420,45),(500,5): inc=5-45+45=5,
    # clamped start extrapolation, /300 window
    assert r["rt"] == [None, 0.1, pytest.approx(0.0333333333)]


def test_timeseries_grid_span_bounded(views):
    """r10 (verdict r9 #1): the per-group collect is bounded to the
    grid span (start - window, end] inside the aggregate itself —
    out-of-span samples are nulled before collection (collect_list
    skips NULL inputs), so per-group state scales with the requested
    grid, not the raw series length. Out-of-span rows must not change
    any grid value, and the rewritten SQL must carry the guard inside
    the collect (the plan-shape pin)."""
    views.sql(
        "SELECT * FROM VALUES (1, 100.0, 10.0), (1, 200.0, 20.0),"
        " (1, 300.0, 30.0), (1, 420.0, 45.0), (1, 500.0, 5.0),"
        " (1, 620.0, 15.0),"
        # all outside (start - window, end] = (-300, 600]; the two
        # boundary rows sit exactly ON the open/just-past-closed edges
        " (1, -5000.0, 999.0), (1, 7000.0, -999.0),"
        " (1, 600.5, 1e9), (1, -300.0, 1e9)"
        " AS t(g, ts, v)"
    ).createOrReplaceTempView("tsg_b")
    sql = translate(
        "SELECT g,"
        " timeSeriesResampleToGridWithStaleness(0, 600, 300, 300)(ts, v)"
        "   AS rs,"
        " timeSeriesRateToGrid(0, 600, 300, 300)(ts, v) AS rt"
        " FROM tsg_b GROUP BY g").sql
    assert "collect_list(IF(" in sql
    r = views.sql(sql).collect()[0]
    assert r["rs"] == [None, 30.0, 5.0]
    assert r["rt"] == [None, 0.1, pytest.approx(0.0333333333)]


def test_probe_batch57_url_cast_id_tails(views):
    """Round-9 execution probe, batch 57 (~63 spellings swept across
    kv-extraction / ULID+snowflake / formatReadable / URL surgery /
    accurateCast tails — 55 already executed). Real fixes:
    accurateCastOrDefault (TRY_CAST coalesced onto the default, or the
    type's zero default), domainRFC/portRFC twins,
    extractKeyValuePairsWithEscaping, generateSnowflakeID (round-trips
    through snowflakeIDToDateTime), and cutURLParameter with CH's
    separator-keeping rules."""
    from ed_clickhouse_spark.functions.clickhouse import register_sql_aliases

    register_sql_aliases(views)
    r = views.sql(translate(
        "SELECT accurateCastOrDefault('zz', 'Int64') AS d0,"
        " accurateCastOrDefault('zz', 'Int64', 42) AS d1,"
        " domainRFC('http://a.b.com/p') AS dr,"
        " portRFC('http://a.b.com:8080/p') AS pr,"
        " mapValues(extractKeyValuePairsWithEscaping('a:1,b:2')) AS kv,"
        " snowflakeIDToDateTime(generateSnowflakeID()) >"
        "   timestamp'2026-01-01' AS sf,"
        " cutURLParameter('http://x/?a=1&b=2&c=3', 'b') AS c1,"
        " cutURLParameter('http://x/?a=1&b=2', 'b') AS c2,"
        " cutURLParameter('http://x/?b=2#f', 'b') AS c3,"
        " cutURLParameter('http://x/?ab=1&b=2', 'b') AS c4").sql
    ).collect()[0]
    assert r["d0"] == 0 and r["d1"] == 42
    assert r["dr"] == "a.b.com" and r["pr"] == 8080
    assert r["kv"] == ["1", "2"] and r["sf"] is True
    assert r["c1"] == "http://x/?a=1&c=3"
    assert r["c2"] == "http://x/?a=1"
    assert r["c3"] == "http://x/?#f"
    assert r["c4"] == "http://x/?ab=1"


def test_probe_batch58_json_tails(views):
    """Round-9 execution probe, batch 58 (~57 JSON/datetime/misc
    spellings — 49 already executed). Real fixes: multi-key JSONLength,
    typed JSONExtract (scalars TRY_CAST, Array(T) via from_json), the
    SQL/JSON standard trio JSON_EXISTS/JSON_VALUE/JSON_QUERY (CH's
    one-element-array render), JSONExtractKeysAndValuesRaw (strings
    re-quoted), timestamp_diff/timestampDiff aliases; reverseBits /
    defaultValueOfArgumentType refuse loudly (type-width invisible
    post-translation, the byteSwap stance)."""
    from ed_clickhouse_spark.functions.clickhouse import register_sql_aliases

    register_sql_aliases(views)
    r = views.sql(translate(
        "SELECT JSONLength('{\"a\": {\"b\": [1,2,3]}}', 'a', 'b') AS l2,"
        " JSONExtract('{\"n\": 5.5}', 'n', 'Float64') AS tf,"
        " JSONExtract('{\"a\": [1,2,3]}', 'a', 'Array(Int64)') AS ta,"
        " JSON_EXISTS('{\"a\": 1}', '$.a') AS je,"
        " JSON_VALUE('{\"s\": \"x\"}', '$.s') AS jv,"
        " JSON_VALUE('{\"s\": {\"t\": 1}}', '$.s') AS jvc,"
        " JSON_QUERY('{\"s\": \"x\"}', '$.s') AS jq,"
        " JSONExtractKeysAndValuesRaw('{\"a\": 1, \"s\": \"x\"}') AS kv,"
        " timestamp_diff('hour', timestamp'2024-01-01 00:00:00',"
        "   timestamp'2024-01-01 03:30:00') AS td").sql).collect()[0]
    assert r["l2"] == 3 and r["tf"] == 5.5 and r["ta"] == [1, 2, 3]
    assert r["je"] is True and r["jv"] == "x" and r["jvc"] == ""
    assert r["jq"] == '["x"]'
    assert [(e["key"], e["value"]) for e in r["kv"]] == [
        ("a", "1"), ("s", '"x"')]
    assert r["td"] == 3
    with pytest.raises(ValueError, match="bit fold"):
        translate("SELECT reverseBits(1)")
    with pytest.raises(ValueError, match="Array\\(scalar\\)"):
        translate("SELECT JSONExtract('{}', 'a', 'Tuple(Int64)')")


def test_probe_batch68_tuple_map_ip_tails(views):
    """Round-10 execution probe, batch 68 (~120 spellings swept across
    tuple/array/map HOF tails, morton/geohash/geo-distance, datetime
    name/slot/snowflake, string search/token, consistent hashing,
    sample-size stats, series outliers, quantile tails — ~100 already
    executed). Real fixes: mapExtractKeyLike/mapContainsKeyLike
    (map_filter/exists folds), the IPv6 string<->num family +
    toIPv4/6OrZero/OrNull (stdlib-ipaddress pandas UDFs like toIPv6),
    cutIPv6, snowflake DateTime64 twins, and UInt64-literal keys in
    kostik/yandexConsistentHash (BIGINT param overflowed); nested()
    refuses loudly toward arrays_zip."""
    from ed_clickhouse_spark.functions.clickhouse import register_sql_aliases

    register_sql_aliases(views)
    r = views.sql(translate(
        "SELECT mapValues(mapExtractKeyLike(map('abc', 1, 'xyz', 2),"
        "   'ab%')) AS mk,"
        " mapContainsKeyLike(map('abc', 1), 'ab%') AS mc,"
        " toIPv4OrZero('zz') AS i4z,"
        " toIPv4OrZero('1.2.3.4') AS i4,"
        " toIPv6OrNull('nope') AS i6n,"
        " toIPv6OrZero('nope') AS i6z,"
        " hex(IPv6StringToNum('::1')) AS n6,"
        " IPv6StringToNumOrNull('zz') AS n6n,"
        " IPv6NumToString(IPv6StringToNum('2001:db8::1')) AS rt6,"
        " IPv6NumToString(IPv6StringToNum('1.2.3.4')) AS rt4,"
        " cutIPv6(toIPv6('2001:db8:1:2:3:4:5:6'), 8, 0) AS cut6,"
        " cutIPv6(toIPv6('1.2.3.4'), 8, 1) AS cut4,"
        " snowflakeToDateTime64(dateTime64ToSnowflake("
        "   timestamp'2024-01-01 00:00:00')) AS sf,"
        " kostikConsistentHash(16045690984833335023, 2) AS kh,"
        " yandexConsistentHash(1, 16) AS yh").sql).collect()[0]
    assert r["mk"] == [1] and r["mc"] is True
    assert r["i4z"] == 0 and r["i4"] == 16909060
    assert r["i6n"] is None and r["i6z"] == "::"
    assert r["n6"] == "0000000000000000" + "0000000000000001".upper() \
        or r["n6"].lower().endswith("01")
    assert r["n6n"] is None
    assert r["rt6"] == "2001:db8::1" and r["rt4"] == "::ffff:1.2.3.4"
    assert r["cut6"] == "2001:db8:1:2::"
    assert r["cut4"] == "::ffff:1.2.3.0"
    import datetime
    assert r["sf"] == datetime.datetime(2024, 1, 1, 0, 0)
    assert r["kh"] in (0, 1) and r["yh"] in range(16)
    with pytest.raises(ValueError, match="arrays_zip"):
        translate("SELECT nested(['a'], [1])")


def test_probe_batch69_vector_date_url_tails(views):
    """Round-10 execution probe, batch 69 (~70 spellings swept across
    Lp norms/distances, widthBucket, Julian/YYYYMMDD dates, URL
    encode/decode, bitmask expansion, reinterpretAs*, ULID,
    corr/covar matrices, moving-average combinators — ~52 already
    executed). Real fixes: parseTimeDelta (CH unit table incl. 30.5-day
    months, NULL on unknown units), addDate/subDate as the +/- interval
    operators, indexHint folding to constant 1 with the argument still
    analyzed; runningDifferenceStartingWithFirstValue refuses loudly
    (block order is undefined in a distributed scan)."""
    from ed_clickhouse_spark.functions.clickhouse import register_sql_aliases

    register_sql_aliases(views)
    r = views.sql(translate(
        "SELECT parseTimeDelta('1 hour 30 minutes') AS td,"
        " parseTimeDelta('1.5h') AS td2,"
        " parseTimeDelta('3 bogus') AS tdn,"
        " addDate(toDate('2024-01-10'), INTERVAL 3 DAY) AS ad,"
        " subDate(toDate('2024-01-10'), INTERVAL 3 DAY) AS sd,"
        " indexHint(1 = 1) AS ih,"
        " widthBucket(10.15, 0, 20, 10) AS wb,"
        " toModifiedJulianDay('2024-01-01') AS mjd,"
        " bitPositionsToArray(50) AS bp,"
        " reinterpretAsUInt32('abcd') AS ri,"
        " L2Distance([0.0, 0.0], [3.0, 4.0]) AS l2").sql).collect()[0]
    import datetime
    assert r["td"] == 5400.0 and r["td2"] == 5400.0 and r["tdn"] is None
    assert r["ad"] == datetime.date(2024, 1, 13)
    assert r["sd"] == datetime.date(2024, 1, 7)
    assert r["ih"] == 1 and r["wb"] == 6 and r["mjd"] == 60310
    assert r["bp"] == [1, 4, 5] and r["ri"] == 1684234849
    assert r["l2"] == 5.0
    with pytest.raises(ValueError, match="block order"):
        translate("SELECT runningDifferenceStartingWithFirstValue(x)")


def test_probe_batch70_statement_shapes(views):
    """Round-10 execution probe, batch 70 (~33 statement-level dialect
    shapes: * EXCEPT/REPLACE, numbers()/generateSeries, PREWHERE,
    GLOBAL IN, multi-array arrayMap, ARRAY JOIN literal forms,
    SETTINGS/FORMAT tails, GROUP BY ALL, WITH TOTALS, <=> spellings,
    arrayFill/Split families — ~24 already executed). Real fixes:
    GROUP BY () folds to the global aggregate, topLevelDomainRFC; the
    close-paren tuple access (t).1 was already supported (bare t.1
    stays a documented ambiguity corner)."""
    from ed_clickhouse_spark.functions.clickhouse import register_sql_aliases

    register_sql_aliases(views)
    views.sql(
        "SELECT explode(sequence(1, 5)) AS x"
    ).createOrReplaceTempView("b70")
    r = views.sql(translate(
        "SELECT sum(x) AS s FROM b70 GROUP BY ()").sql).collect()
    assert len(r) == 1 and r[0]["s"] == 15
    r = views.sql(translate(
        "SELECT (t).1 AS f, (t).2 AS sec, "
        "topLevelDomainRFC('http://a.b.co.uk/x') AS tld"
        " FROM (SELECT (3, 'y') AS t)").sql).collect()[0]
    assert r["f"] == 3 and r["sec"] == "y" and r["tld"] == "uk"


def test_probe_batch71_window_string_int_tails(views):
    """Round-10 execution probe, batch 71 (~45 spellings: RANGE frames,
    WINDOW clause, WITH FILL STEP, split/token/extract families,
    overlay/locate/instr, bit rotates, array has*/last/first tails —
    ~37 already executed; EXPLAIN variants are engine-level and covered
    by test_ddl). Real fixes: overlayUTF8 rename, Or(Null|Zero)
    variants of the 128/256-bit integer spellings, and a LOUD error
    for an unfilled {name:Type} query parameter (was an opaque Spark
    parse error; the params= path already rendered them)."""
    from ed_clickhouse_spark.functions.clickhouse import register_sql_aliases

    register_sql_aliases(views)
    r = views.sql(translate(
        "SELECT overlayUTF8('hello', 'XX', 2, 2) AS o,"
        " toUInt256OrZero('zz') AS z,"
        " toInt128OrNull('abc') AS n").sql).collect()[0]
    assert r["o"] == "hXXlo" and int(r["z"]) == 0 and r["n"] is None
    r = views.sql(translate(
        "SELECT {p:Int64} + 1 AS r", params={"p": 41}).sql).collect()[0]
    assert r["r"] == 42
    with pytest.raises(ValueError, match="has no value"):
        translate("SELECT {p:Int64} + 1")


def test_probe_batch72_agg_combinator_tails(views):
    """Round-10 execution probe, batch 72 (~30 combinator compositions
    over the newer aggregates: quantileGKIf, sumKahanIf, uniqThetaIf,
    avgWeightedIf, argM*If, entropyIf, sumMapFiltered, groupArrayArray,
    simpleLinearRegression, corr/covar/skew If forms — most already
    executed). Real fixes: the any FAMILY now carries Spark's
    ignoreNulls flag (CH any/anyLast skip NULLs; the bare rename
    returned NULL whenever the first row was NULL — and the -If wrap
    ALWAYS introduces NULLs, so anyIf over a late-matching condition
    was silently NULL); quantileExactLow/High are order statistics
    (lower/upper median), not the interpolated percentile; leftover
    parametric <agg>If(params)(...) shapes refuse loudly instead of
    surfacing Spark unresolved-routine errors."""
    views.sql(
        "SELECT explode(sequence(1, 10)) AS x"
    ).createOrReplaceTempView("b72")
    views.sql(
        "SELECT * FROM VALUES (NULL), (3), (NULL), (7) AS t(v)"
    ).createOrReplaceTempView("b72n")
    r = views.sql(translate(
        "SELECT anyIf(x, x > 8) AS ai, anyLastIf(x, x > 8) AS ali,"
        " quantileExactLow(0.5)(x) AS ql,"
        " quantileExactHigh(0.5)(x) AS qh,"
        " quantileExactLow(x) AS qlb,"
        " quantilesExactHigh(0.5, 0.75)(x) AS qhs FROM b72").sql
    ).collect()[0]
    assert r["ai"] == 9 and r["ali"] == 10
    assert r["ql"] == 5 and r["qh"] == 6 and r["qlb"] == 5
    assert r["qhs"] == [6, 8]
    r = views.sql(translate(
        "SELECT any(v) AS a, anyLast(v) AS al, anyHeavy(v) AS ah"
        " FROM b72n").sql).collect()[0]
    assert r["a"] == 3 and r["al"] == 7 and r["ah"] is not None
    with pytest.raises(ValueError, match="no parametric"):
        translate("SELECT topKWeightedIf(2)(x, x, x > 3) FROM b72")
    with pytest.raises(ValueError, match="no parametric"):
        translate("SELECT histogramIf(3)(x, x > 1) FROM b72")


def test_probe_batch73_datetime_math_tails(views):
    """Round-10 execution probe, batch 73 (~56 spellings: timezone
    introspection, DateTime64 unix converters, Date32/makeDate32,
    MAC codecs, addTupleOfIntervals, positiveModulo/moduloOrZero,
    countDigits, arrayProduct/CumSumNonNegative, format/char/ascii,
    gcd/lcm/erf/erfc/cbrt/tgamma, FQDN/hostName — ~49 already
    executed). Real fixes: CH's bare nan/inf float literals,
    toDateTime64OrZero/OrNull, and digamma (6-step recurrence + the
    asymptotic series, |err| ~ 1e-9). Division by zero stays the
    ANSI error (CH float division yields inf — documented deviation;
    intDivOrZero/moduloOrZero are the safe spellings)."""
    from ed_clickhouse_spark.functions.clickhouse import register_sql_aliases

    register_sql_aliases(views)
    import datetime

    r = views.sql(translate(
        "SELECT isNaN(nan) AS a, isInfinite(inf) AS b,"
        " ifNotFinite(inf, -1) AS c, isNaN(-inf) AS d,"
        " digamma(1.0) AS dg, digamma(-1.0) AS dgn,"
        " toDateTime64OrZero('zz', 3) AS z,"
        " toDateTime64OrNull('2024-01-01 00:00:00.123', 3) AS n").sql
    ).collect()[0]
    assert r["a"] is True and r["b"] is True and r["c"] == -1.0
    assert r["d"] is False
    assert abs(r["dg"] - (-0.5772156649015329)) < 1e-8
    assert r["dgn"] is None
    assert r["z"] == datetime.datetime(1970, 1, 1, 0, 0)
    assert r["n"] == datetime.datetime(2024, 1, 1, 0, 0, 0, 123000)


def test_probe_batch74_setops_table_functions(views):
    """Round-10 execution probe, batch 74 (~43 statement shapes:
    UNION/EXCEPT/INTERSECT DISTINCT|ALL, values()/null()/zeros[_mt](),
    scalar/CTE WITH forms, QUALIFY, tuple IN, NOT BETWEEN, the hash
    menagerie, ORDER BY NULLS placement — ~33 already executed,
    remote/cluster/merge/input/INTO OUTFILE refuse as designed). Real
    additions: the format(Format, 'payload') inline table function
    (JSONEachRow / JSONCompactEachRow parse at translate time into a
    typed VALUES with inferred per-column types; other formats refuse
    toward the engine INSERT path), and a loud viewIfPermitted
    refusal."""
    r = views.sql(translate(
        "SELECT * FROM format(JSONEachRow,"
        " '{\"a\": 1, \"s\": \"x\"}\n{\"a\": 2, \"b\": 3.5}')"
        " ORDER BY a").sql).collect()
    assert [(x["a"], x["s"], x["b"]) for x in r] == [
        (1, "x", None), (2, None, 3.5)]
    r = views.sql(translate(
        "SELECT c1 + c2 AS t FROM"
        " format(JSONCompactEachRow, '[1, 2]\n[3, 4]') ORDER BY t").sql
    ).collect()
    assert [x["t"] for x in r] == [3, 7]
    with pytest.raises(ValueError, match="INSERT ... FORMAT"):
        translate("SELECT * FROM format(CSV, '1,2')")
    with pytest.raises(ValueError, match="viewIfPermitted"):
        translate(
            "SELECT * FROM viewIfPermitted(SELECT 1 ELSE null('x Int64'))"
        )


def test_probe_batch75_string_format_tails(views):
    """Round-10 execution probe, batch 75 (~48 spellings: formatDateTime
    specifiers, negative array/substr indexing, trim/pad/split
    families, extractAllGroups orientations, mapPopulateSeries, bar,
    formatReadable*, pointInPolygon, sleep/throwIf no-ops, visitParam
    raw — ~45 already executed). Real fixes: splitByChar's 3-arg
    max_substrings form (CH default DISCARDS the remainder — a slice,
    not Spark's keep-the-tail limit) and mapPopulateSeries' 3-arg
    (keys, values, max) array-pair form."""
    from ed_clickhouse_spark.functions.clickhouse import register_sql_aliases

    register_sql_aliases(views)
    r = views.sql(translate(
        "SELECT splitByChar(',', 'a,b,c', 2) AS s3,"
        " splitByChar(',', 'a,b,c') AS s2,"
        " mapPopulateSeries([1, 4], [10, 40], 5) AS mp").sql
    ).collect()[0]
    assert r["s3"] == ["a", "b"] and r["s2"] == ["a", "b", "c"]
    assert r["mp"] == {1: 10, 2: 0, 3: 0, 4: 40, 5: 0}


def test_probe_batch76_bitmap_base64url_tails(views):
    """Round-10 post-close probe, batch 76 (~43 spellings: the bitmap
    subset family, string-distance leftovers, query-context
    introspection, array set ops, map arithmetic — ~33 already
    executed). Real fixes: the URL-safe base64 family (unpadded
    encode; the pre-25.1 Url spellings resolve case-insensitively —
    registering them as separate aliases whose body calls the URL form
    OVERWRITES it and self-recurses to the analyzer iteration cap),
    bitmapTransform as an element remap, and the lambda-first
    arrayMin/Max/Sum/Avg(func, arr) forms."""
    from ed_clickhouse_spark.functions.clickhouse import register_sql_aliases

    register_sql_aliases(views)
    r = views.sql(translate(
        "SELECT base64URLEncode('https://a.b/c?d=1') AS e,"
        " base64UrlDecode(base64UrlEncode('https://a.b/c?d=1')) AS rt,"
        " tryBase64URLDecode('###') AS bad,"
        " bitmapToArray(bitmapTransform(bitmapBuild([1, 2, 3]),"
        "   [2], [20])) AS bt,"
        " arrayMin(x -> -x, [1, 2, 3]) AS am,"
        " arraySum(x -> x * 2, [1, 2]) AS asum,"
        " arrayAvg(x -> x * 2, [1, 2]) AS aavg,"
        " arrayMin([4, 2]) AS am1,"
        " bitmapToArray(bitmapSubsetInRange(bitmapBuild([1, 5, 10, 20]),"
        "   5, 15)) AS sr,"
        " bitmapMin(bitmapBuild([3, 1])) AS bmin").sql).collect()[0]
    assert r["e"] == "aHR0cHM6Ly9hLmIvYz9kPTE"
    assert r["rt"] == "https://a.b/c?d=1" and r["bad"] is None
    assert r["bt"] == [1, 3, 20]
    assert r["am"] == -3 and r["asum"] == 6.0 and r["aavg"] == 3.0
    assert r["am1"] == 2.0
    assert r["sr"] == [5, 10] and r["bmin"] == 1


def test_probe_batch77_exclusive_percentile(views):
    """Round-10 post-close, batch 77: quantileExactExclusive is Excel
    PERCENTILE.EXC (h = q*(n+1), interpolated, end-clamped) — it
    previously fell through to Spark's INCLUSIVE percentile (3.25
    where CH says 2.75 at q=0.25 over 1..10). ExactInclusive stays
    PERCENTILE.INC == Spark percentile."""
    views.sql(
        "SELECT explode(sequence(1, 10)) AS x"
    ).createOrReplaceTempView("b77")
    r = views.sql(translate(
        "SELECT quantileExactExclusive(0.25)(x) AS e25,"
        " quantilesExactExclusive(0.25, 0.5, 0.75)(x) AS es,"
        " quantileExactInclusive(0.25)(x) AS i25,"
        " quantileExactExclusive(0.01)(x) AS lo,"
        " quantileExactExclusive(0.99)(x) AS hi FROM b77").sql
    ).collect()[0]
    assert r["e25"] == 2.75 and r["es"] == [2.75, 5.5, 8.25]
    assert r["i25"] == 3.25
    assert r["lo"] == 1.0 and r["hi"] == 10.0


def test_probe_batch78_combinator_breadth(views):
    """Round-10 post-close, batch 78 (~28 combinator stackings:
    -Resample over new aggs, -ForEach breadth, -Map breadth, -Array
    parametrics, FILTER clause, Stable spellings — most already
    executed). Real fixes: anyForEach/anyLastForEach/uniq[Exact]
    ForEach position-wise folds, uniqExactMap, groupArrayConcat
    (flatten of collect_list), and the parametric -Array stackings
    quantile*Array(p...)(arr) (inclusive interpolation over the
    flattened sorted elements) + topKArray(k)(arr) (frequency fold,
    value-ascending tiebreak)."""
    views.sql(
        "SELECT * FROM VALUES (array(1, 2)), (array(3, 4)),"
        " (array(3)) AS t(arr)"
    ).createOrReplaceTempView("b78")
    r = views.sql(translate(
        "SELECT anyForEach(arr) AS af, anyLastForEach(arr) AS alf,"
        " uniqForEach(arr) AS uf,"
        " groupArrayConcat(arr) AS gc,"
        " quantileArray(0.5)(arr) AS q,"
        " quantilesArray(0.25, 0.75)(arr) AS qs,"
        " topKArray(2)(arr) AS tk FROM b78").sql).collect()[0]
    assert r["af"] == [1, 2] and r["alf"] == [3, 4]
    assert r["uf"] == [2, 2]
    assert sorted(r["gc"]) == [1, 2, 3, 3, 4]
    assert r["q"] == 3.0 and r["qs"] == [2.0, 3.0]
    assert r["tk"] == [3, 1]  # 3 occurs twice; then value-asc
    r = views.sql(translate(
        "SELECT uniqExactMap(m) AS um FROM VALUES (map('a', 1.0)),"
        " (map('a', 2.0, 'b', 3.0)) AS t(m)").sql).collect()[0]
    assert r["um"] == {"a": 2, "b": 1}


def test_advice_r9_json_value_string_scalars(views):
    """ADVICE r10 batch: string scalars whose TEXT looks like a
    number/bool/container must classify as strings. JSON_VALUE
    returns the unquoted text (not '' / raw), JSON_QUERY quotes them
    inside its one-element array, JSONExtractKeysAndValuesRaw renders
    them re-quoted. Classification rides variant_get's exact JSON
    rendering for plain key/index paths; wildcard paths (which
    variant_get rejects) keep the prefix heuristic."""
    from ed_clickhouse_spark.functions.clickhouse import register_sql_aliases

    register_sql_aliases(views)
    r = views.sql(translate(
        "SELECT JSON_VALUE('{\"s\": \"123\"}', '$.s') AS v1,"
        " JSON_VALUE('{\"s\": \"[x]\"}', '$.s') AS v2,"
        " JSON_VALUE('{\"s\": \"true\"}', '$.s') AS v3,"
        " JSON_VALUE('{\"s\": 5.5}', '$.s') AS v4,"
        " JSON_VALUE('{\"s\": [1]}', '$.s') AS v5,"
        " JSON_VALUE('{\"a\": {\"b\": 7}}', '$.a.b') AS v6,"
        " JSON_QUERY('{\"s\": \"123\"}', '$.s') AS q1,"
        " JSON_QUERY('{\"s\": \"[x]\"}', '$.s') AS q2,"
        " JSON_QUERY('{\"s\": 5}', '$.s') AS q3,"
        " JSONExtractKeysAndValuesRaw("
        "   '{\"a\": 1, \"s\": \"123\", \"t\": \"[x]\", \"o\": {\"b\": 2}}')"
        "   AS kv,"
        # wildcard path: variant_get can't, heuristic branch answers
        " JSON_VALUE('{\"a\": [1, 2]}', '$.a[*]') AS w1").sql
    ).collect()[0]
    assert r["v1"] == "123" and r["v2"] == "[x]" and r["v3"] == "true"
    assert r["v4"] == "5.5" and r["v5"] == "" and r["v6"] == "7"
    assert r["q1"] == '["123"]' and r["q2"] == '["[x]"]'
    assert r["q3"] == "[5]"
    assert [(e["key"], e["value"]) for e in r["kv"]] == [
        ("a", "1"), ("s", '"123"'), ("t", '"[x]"'), ("o", '{"b":2}')]
    assert r["w1"] in ("", "1")  # heuristic, not an error


def test_advice_r9_parametric_grouparrayif_after_plain(views):
    """ADVICE r10 batch: a NON-parametric groupArrayIf earlier in the
    statement must not stop the scan before a later parametric
    groupArrayIf(n)(x, c) — the fold now advances past it."""
    views.sql(
        "SELECT * FROM VALUES (1), (2), (3), (4), (5) AS t(x)"
    ).createOrReplaceTempView("gaif_t")
    r = views.sql(translate(
        "SELECT groupArrayIf(x, x > 3) AS plain,"
        " groupArrayIf(2)(x, x > 1) AS capped FROM gaif_t").sql
    ).collect()[0]
    assert sorted(r["plain"]) == [4, 5]
    assert r["capped"] == [2, 3]


def test_advice_r9_accurate_cast_default_temporal(views):
    """ADVICE r10 batch: accurateCastOrDefault with the default
    OMITTED must synthesize the type's zero value for Date/DateTime/
    Bool targets (CAST(0 AS DATE) fails Spark analysis; CH returns
    1970-01-01 / false)."""
    import datetime

    r = views.sql(translate(
        "SELECT accurateCastOrDefault('zz', 'Date') AS d,"
        " accurateCastOrDefault('zz', 'DateTime') AS dt,"
        " accurateCastOrDefault('zz', 'Bool') AS b,"
        " accurateCastOrDefault('2024-02-03', 'Date') AS ok").sql
    ).collect()[0]
    assert r["d"] == datetime.date(1970, 1, 1)
    assert r["dt"] == datetime.datetime(1970, 1, 1, 0, 0)
    assert r["b"] is False
    assert r["ok"] == datetime.date(2024, 2, 3)


def test_probe_batch59_hash_map_tails(views):
    """Round-9 execution probe, batch 59 (~60 hash/map spellings —
    43 already executed). Real fixes: SHA224/384/512 (exact sha2
    digests), CRC32IEEE (bit-exact Spark crc32), xxHash32 (masked
    low word of the 64-bit role hash), xxh3/CRC64/javaHashUTF16LE
    riding the documented 64-bit role convention, URLHash (role hash
    of the trailing-symbol-trimmed URL); loud refusals for the
    SimHash/MinHash CaseInsensitive spellings (operators/dedup.py),
    lowCardinality introspection, mapPartialSort, SHA512_256, MD4."""
    from ed_clickhouse_spark.functions.clickhouse import register_sql_aliases

    register_sql_aliases(views)
    r = views.sql(translate(
        "SELECT hex(SHA224('abc')) AS s224,"
        " CRC32IEEE('abc') AS crc,"
        " xxHash32('abc') >= 0 AND xxHash32('abc') <= 4294967295 AS x32,"
        " URLHash('http://x/p/') = URLHash('http://x/p') AS uh").sql
    ).collect()[0]
    assert r["s224"] == (
        "23097D223405D8228642A477BDA255B32AADBCE4BDA0B3F7E36C9DA7")
    assert r["crc"] == 891568578  # 0x352441C2, the IEEE test vector
    assert r["x32"] is True and r["uh"] is True
    for fn in ("SHA512_256('a')", "MD4('a')", "lowCardinalityKeys('a')",
               "ngramSimHashCaseInsensitive('a')"):
        with pytest.raises(ValueError, match="not SQL-translatable"):
            translate(f"SELECT {fn}")


def test_json_all_paths(views):
    """r9: the JSON path-enumeration family (previously refused) —
    depth-3 leaf paths in dotted notation; every path is 'dynamic' in
    this engine (no shared-data storage split), and the WithTypes
    variant classifies each leaf with the inlined JSONType logic."""
    from ed_clickhouse_spark.functions.clickhouse import register_sql_aliases

    register_sql_aliases(views)
    j = '{"a": {"b": {"c": 1, "d": [1,2]}, "e": "x"}, "f": 5}'
    r = views.sql(translate(
        f"SELECT JSONAllPaths('{j}') AS p,"
        f" JSONDynamicPaths('{j}') AS dp,"
        f" JSONSharedDataPaths('{j}') AS sp,"
        f" JSONAllPathsWithTypes('{j}') AS pt").sql).collect()[0]
    assert r["p"] == ["a.b.c", "a.b.d", "a.e", "f"]
    assert r["dp"] == r["p"] and r["sp"] == []
    assert dict(r["pt"]) == {
        "a.b.c": "Int64", "a.b.d": "Array", "a.e": "String",
        "f": "Int64"}


def test_probe_batch60_clause_tails(views):
    """Round-9 execution probe, batch 60 (~28 clause-level shapes —
    QUALIFY, named WINDOW, DISTINCT ON, tuple IN, WITH CUBE/ROLLUP,
    view()/values() TVFs, FORMAT Null etc. already execute; COLLATE /
    ASOF-ON / PASTE JOIN / INTO OUTFILE refuse loudly by design).
    Real fixes: LIMIT n OFFSET m BY (and the MySQL-style comma form
    LIMIT m, n BY — offset first) now rewrite to the offset-banded
    row_number window, and DISTINCT ON keeps ORDER BY columns the
    select list dropped (appended to the window subquery and
    EXCEPTed back out)."""
    views.sql(
        "SELECT * FROM VALUES (1, 'a', 10.0), (2, 'a', 20.0),"
        " (3, 'b', 30.0), (4, 'b', 5.0) AS t(id, g, v)"
    ).createOrReplaceTempView("lb_t")
    r1 = views.sql(translate(
        "SELECT g, id FROM lb_t ORDER BY g, id LIMIT 1 OFFSET 1 BY g"
    ).sql).collect()
    assert [(r["g"], r["id"]) for r in r1] == [("a", 2), ("b", 4)]
    r2 = views.sql(translate(
        "SELECT g, id FROM lb_t ORDER BY g, id LIMIT 1, 1 BY g"
    ).sql).collect()
    assert [(r["g"], r["id"]) for r in r2] == [("a", 2), ("b", 4)]
    # DISTINCT ON ordered by an UNSELECTED column: top-v row per group
    r3 = views.sql(translate(
        "SELECT DISTINCT ON (g) g, id FROM lb_t ORDER BY g, v DESC"
    ).sql).collect()
    assert [(r["g"], r["id"]) for r in r3] == [("a", 2), ("b", 3)]


def test_probe_batch61_statement_interval_tails(views):
    """Round-9 execution probe, batch 61 (~27 engine statements + the
    toStartOfInterval third-argument forms — SHOW/DESCRIBE/EXISTS/
    TRUNCATE/RENAME/CHECK/DETACH/ATTACH/ALTER/OPTIMIZE/SET/SETTINGS/
    SYSTEM all already execute). Real fixes: the bare ``EXISTS t``
    spelling (TABLE keyword optional, engine-side — pinned in
    test_ddl-adjacent engine suites) and toStartOfInterval's
    POLYMORPHIC third argument: a timezone STRING buckets in that
    zone's wall clock, anything else stays the origin anchor."""
    r = views.sql(translate(
        "SELECT toStartOfInterval(timestamp'2024-03-15 10:37:45',"
        " INTERVAL 2 HOUR, 'Asia/Tokyo') AS tz,"
        " toStartOfInterval(timestamp'2024-03-15 10:37:45',"
        " INTERVAL 15 MINUTE, timestamp'2024-01-01 00:03:00') AS org"
    ).sql).collect()[0]
    # 10:37 UTC = 19:37 Tokyo -> 2h floor 18:00 wall clock
    assert str(r["tz"]) == "2024-03-15 18:00:00"
    assert str(r["org"]) == "2024-03-15 10:33:00"


def test_probe_batch62_quantiles_array_tails(views):
    """Round-9 execution probe, batch 62 (~59 spellings: the plural
    quantiles* family, *Stable aggregate variants, arrayReduce tails,
    formatRow — 57 already executed). Real fixes: the camelCase
    firstValueRespectNulls/lastValueRespectNulls renames and
    arrayReduceInRanges (one reduce per (index, length) tuple via
    slice + the literal-name arrayReduce pass)."""
    r = views.sql(translate(
        "SELECT arrayReduceInRanges('sum', [(1, 2), (2, 2)],"
        " [10, 20, 30]) AS v,"
        " arrayReduceInRanges('max', [(1, 3)], [7, 2, 9]) AS mx,"
        " firstValueRespectNulls('a') AS f").sql).collect()[0]
    assert r["v"] == [30.0, 50.0] and r["mx"] == [9]
    assert r["f"] == "a"


def test_probe_batch64_parse_format_tails(views):
    """Round-9 execution probe, batch 64 (~60 datetime parse/format /
    decimal / geo / MySQL-alias spellings — 52 already executed).
    Real fixes: parseDateTimeOrZero (epoch fallback),
    parseDateTimeInJodaSyntaxOrNull/OrZero, L2SquaredNorm,
    addNanoseconds/subtractNanoseconds (microsecond-storage
    truncation, the toStartOfNanosecond stance), and the MySQL-compat
    WEEK() alias of toWeek."""
    from ed_clickhouse_spark.functions.clickhouse import register_sql_aliases

    register_sql_aliases(views)
    r = views.sql(translate(
        "SELECT parseDateTimeOrZero('zz', '%Y') AS pz,"
        " parseDateTimeInJodaSyntaxOrNull('zz', 'yyyy') AS jn,"
        " parseDateTimeInJodaSyntaxOrZero('zz', 'yyyy') AS jz,"
        " L2SquaredNorm([3.0, 4.0]) AS n2,"
        " addNanoseconds(timestamp'2024-01-01 00:00:00', 1500000) AS an,"
        " WEEK(timestamp'2024-03-15') AS w").sql).collect()[0]
    assert str(r["pz"]) == "1970-01-01 00:00:00" and r["jn"] is None
    assert str(r["jz"]) == "1970-01-01 00:00:00"
    assert r["n2"] == 25.0
    assert str(r["an"]) == "2024-01-01 00:00:00.001500"
    assert r["w"] == 10


def test_probe_batch65_operator_function_tails(views):
    """Round-9 execution probe, batch 65 (~57 string/regex/arith
    spellings — 52 already executed). Real fixes: extractAllGroups
    (CH documents it as the vertical form), the MySQL truncate(x[,n])
    digit-scaled truncation, toString(ts, tz) rendering in the named
    zone, and the notLike/notILike function spellings."""
    from ed_clickhouse_spark.functions.clickhouse import register_sql_aliases

    register_sql_aliases(views)
    r = views.sql(translate(
        "SELECT extractAllGroups('a1b2', '([a-z])([0-9])') AS eg,"
        " truncate(-7.55, 1) AS tn, truncate(7.55) AS t0,"
        " toString(timestamp'2024-03-15 10:30:45', 'Asia/Tokyo') AS s,"
        " notLike('abc', 'z%') AS nl,"
        " notILike('abc', 'A%') AS ni").sql).collect()[0]
    assert [list(g) for g in r["eg"]] == [["a", "1"], ["b", "2"]]
    assert r["tn"] == -7.5 and r["t0"] == 7.0
    assert r["s"] == "2024-03-15 19:30:45"
    assert r["nl"] is True and r["ni"] is False


def test_probe_batch66_combinator_stacking(views):
    """Round-9 execution probe, batch 66 (~41 combinator stackings —
    -ArrayIf, -DistinctIf, quantileIf, ForEach, stats-If variants all
    already execute). Real fixes: the redundant -If-OrNull /
    -Array-OrNull stackings strip (Spark's conditional aggregate is
    already NULL over an empty match set), and the parametric
    groupArray-family -If forms (groupArrayIf(n)(x, cond) etc.) fold
    the condition into the collected argument BEFORE the parametric
    pass; any other parametric -If refuses loudly naming the
    supported set."""
    views.sql(
        "SELECT * FROM VALUES (1, 2.0, array(1.0, 2.0), 'a'),"
        " (2, 3.0, array(3.0), 'b'), (3, 7.0, array(), 'a')"
        " AS t(g, f, arr, s)").createOrReplaceTempView("cb_t")
    r = views.sql(translate(
        "SELECT maxIfOrNull(f, g > 10) AS mn,"
        " sumIfOrNull(f, g > 1) AS si,"
        " avgArrayOrNull(arr) AS aa,"
        " groupArrayIf(2)(s, g > 1) AS ga,"
        " groupArrayLastIf(1)(s, g > 0) AS gl FROM cb_t").sql
    ).collect()[0]
    assert r["mn"] is None and r["si"] == 10.0 and r["aa"] == 2.0
    assert r["ga"] == ["b", "a"] and r["gl"] == ["a"]


def test_advice_r10_indexhint_boolean_and_timedelta_m(views):
    """ADVICE r10: indexHint must be BOOLEAN so the dominant spelling
    WHERE indexHint(cond) analyzes (it used to splice to an INT and
    die with FILTER_NOT_BOOLEAN); in SELECT position it renders true
    (== 1 numerically; CH renders UInt8 1 — documented deviation).
    parseTimeDelta accepts the bare 'm' minutes unit."""
    r = views.sql(translate(
        "SELECT count(*) AS c FROM events WHERE indexHint(user_id > 0)"
    ).sql).collect()[0]
    all_rows = views.sql("SELECT count(*) AS c FROM events").collect()[0]
    assert r["c"] == all_rows["c"]  # indexHint never filters
    r = views.sql(translate(
        "SELECT indexHint(1 = 1) AS ih,"
        " parseTimeDelta('5m 30s') AS td").sql).collect()[0]
    assert r["ih"] == 1 and r["td"] == 330.0


def test_advice_r10_arraysum_lambda_type_preserving(views):
    """ADVICE r10: the lambda-first arraySum keeps the mapped element
    type — integer lambdas return integers (CH: arraySum(x -> x,
    [1,2,3]) = 6, not 6.0), double lambdas stay double, and the empty
    array still sums to 0. arrayAvg stays Float64 (CH contract)."""
    r = views.sql(translate(
        "SELECT arraySum(x -> x, [1, 2, 3]) AS si,"
        " arraySum(x -> x / 2, [1.0, 2.0, 3.0]) AS sd,"
        " arraySum(x -> x * 1.5, [2, 4]) AS sl,"
        " arraySum(x -> x, CAST(array() AS ARRAY<BIGINT>)) AS se,"
        " arrayAvg(x -> x * 2, [1, 2]) AS av").sql).collect()[0]
    assert r["si"] == 6 and isinstance(r["si"], int)
    assert r["sd"] == 3.0 and isinstance(r["sd"], float)
    assert r["sl"] == 9.0 and isinstance(r["sl"], float)
    assert r["se"] == 0 and r["av"] == 3.0


def test_advice_r10_format_alias_forms(views):
    """ADVICE r10: the format() table function honors a user alias
    (AS t and bare t) instead of emitting a colliding synthetic one,
    and two format() calls in one statement get distinct synthetic
    aliases."""
    r = views.sql(translate(
        'SELECT t.a FROM format(JSONEachRow, \'{"a": 1}\') AS t'
    ).sql).collect()
    assert [x["a"] for x in r] == [1]
    r = views.sql(translate(
        'SELECT u.a + v.a AS s FROM format(JSONEachRow, \'{"a": 1}\') u'
        ' CROSS JOIN format(JSONEachRow, \'{"a": 2}\') v').sql
    ).collect()
    assert [x["s"] for x in r] == [3]
    r = views.sql(translate(
        'SELECT * FROM format(JSONEachRow, \'{"a": 1}\') WHERE a > 0'
    ).sql).collect()
    assert [x["a"] for x in r] == [1]


def test_advice_r10_quantile_array_variants(views):
    """ADVICE r10: quantile*Array routes through the same per-variant
    selectors as the scalar pass — ExactLow/High are order statistics
    (lower/upper median: 5/6 over 1..10, where the old catch-all
    interpolated to 5.5), ExactExclusive is PERCENTILE.EXC (2.75 at
    q=0.25 over 1..10 vs 3.25 inclusive), and the multi-array
    weighted/deterministic forms refuse loudly instead of dying with
    an opaque AnalysisException."""
    views.sql(
        "SELECT * FROM VALUES (array(1, 2, 3, 4, 5)),"
        " (array(6, 7, 8, 9, 10)) AS t(arr)"
    ).createOrReplaceTempView("qa_adv")
    r = views.sql(translate(
        "SELECT quantileExactLowArray(0.5)(arr) AS lo,"
        " quantileExactHighArray(0.5)(arr) AS hi,"
        " quantileExactExclusiveArray(0.25)(arr) AS ex,"
        " quantileArray(0.25)(arr) AS inc,"
        " quantilesExactLowArray(0.5, 0.9)(arr) AS los"
        " FROM qa_adv").sql).collect()[0]
    assert r["lo"] == 5 and r["hi"] == 6
    assert r["ex"] == 2.75 and r["inc"] == 3.25
    assert r["los"] == [5, 9]
    with pytest.raises(ValueError, match="exactly ONE array"):
        translate("SELECT quantileExactWeightedArray(0.5)(arr, w) FROM t")
    with pytest.raises(ValueError, match="exactly ONE array"):
        translate("SELECT quantileDeterministicArray(0.5)(arr, d) FROM t")


def test_probe_batch80_geo_tuple_misc_tails(views):
    """Round-11 execution probe, batch 80 (~89 spellings swept across
    geo, tuple algebra, array set-ops, string search, date bucketing,
    morton codes, map HOFs, URL tails and aggregate odds — 77 already
    executed; tupleToNameValuePairs/byteSize/anova/LTTB-as-agg refuse
    loudly as designed). Real fixes: clamp (24.5) as a type-preserving
    least/greatest splice; CH's bare parenthesized tuple literal
    (a, b) accepted by the tuple-algebra rewrites (only the tuple(...)
    spelling parsed before); tupleMultiplyByNumber/tupleDivideByNumber
    element-wise scaling; dotProduct's TUPLE form folding to the
    element-wise product sum (the array form stays on the zip_with
    alias); and the named divide() carrying CH's IEEE zero-divisor
    semantics (inf/-inf/nan) where the session's ANSI `/` operator
    throws — making ifNotFinite(divide(a, b), d) run verbatim."""
    from ed_clickhouse_spark.functions.clickhouse import register_sql_aliases

    register_sql_aliases(views)
    r = views.sql(translate(
        "SELECT clamp(7, 1, 5) AS cl,"
        " tuplePlus((1, 2), (2, 3)) AS tp,"
        " tupleMultiplyByNumber((1, 2), 3) AS tm,"
        " tupleHammingDistance((1, 2, 3), (3, 2, 1)) AS th,"
        " dotProduct((1, 2), (2, 3)) AS dpt,"
        " dotProduct([1.0, 2.0], [2.0, 3.0]) AS dpa,"
        " divide(1, 0) AS dz,"
        " divide(-1, 0) AS dnz,"
        " ifNotFinite(divide(1, 0), 42.0) AS inf42,"
        " geohashEncode(-5.60302734375, 42.593994140625, 6) AS gh,"
        " arrayJaccardIndex([1, 2], [2, 3]) AS aj,"
        " soundex('Robert') AS sx,"
        " mortonEncode(1, 2) AS me,"
        " monthName(toDateTime('2024-03-15 10:30:45')) AS mn,"
        " extractKeyValuePairs('name:neymar, age:31') AS kv").sql
    ).collect()[0]
    import math
    assert r["cl"] == 5 and isinstance(r["cl"], int)
    assert tuple(r["tp"]) == (3, 5) and tuple(r["tm"]) == (3, 6)
    assert r["th"] == 2
    assert r["dpt"] == 8 and r["dpa"] == 8.0
    assert math.isinf(r["dz"]) and r["dz"] > 0
    assert math.isinf(r["dnz"]) and r["dnz"] < 0
    assert r["inf42"] == 42.0
    assert r["gh"] == "ezs42d"
    assert abs(r["aj"] - 1 / 3) < 1e-9
    assert r["sx"] == "R163"
    assert r["me"] == 9
    assert r["mn"] == "March"
    assert r["kv"] == {"name": "neymar", "age": "31"}


def test_probe_batch81_statement_shape_tails(views):
    """Round-11 execution probe, batch 81 (~48 statement shapes:
    SELECT modifiers, GROUP/ORDER BY ALL, recursive CTEs, toInterval*
    constructors, scalar WITH forms, GLOBAL IN, SETTINGS tails,
    lagInFrame defaults, string/date tails — 38 already executed;
    APPLY/COLUMNS against subqueries and ON-clause ANY JOIN refuse as
    designed). Real fixes: CH's bare single-column `* EXCEPT col`;
    tupleElement/positional access on EXPRESSION tuples (tuple(a, b)
    now emits named_struct with canonical col1..colN names, so
    tupleElement(t, N) and (t).N work beyond literals); ranking
    window functions over UNORDERED windows (row_number() OVER (),
    rank() OVER (PARTITION BY g)) gain an ORDER BY 1 — every row a
    peer, any order being a valid CH answer; and the inline
    subexpression alias (expr AS name) with query-global references,
    the scalar-WITH substitution contract."""
    from ed_clickhouse_spark.functions.clickhouse import register_sql_aliases

    register_sql_aliases(views)
    views.sql(
        "SELECT * FROM VALUES (1, 2.5, 'x'), (2, 7.5, 'y'),"
        " (3, 1.0, 'x') AS t(i, f, s)"
    ).createOrReplaceTempView("b81")
    r = views.sql(translate(
        "SELECT * EXCEPT s FROM b81 ORDER BY i LIMIT 1").sql).collect()[0]
    assert sorted(r.asDict()) == ["f", "i"]
    r = views.sql(translate(
        "SELECT tupleElement(t, 1) AS te, (t).2 AS td FROM"
        " (SELECT tuple(i, s) AS t FROM b81 ORDER BY i LIMIT 1)"
    ).sql).collect()[0]
    assert r["te"] == 1 and r["td"] == "x"
    r = views.sql(translate(
        "SELECT count() AS n FROM (SELECT row_number() OVER () AS rn"
        " FROM b81) WHERE rn <= 2").sql).collect()[0]
    assert r["n"] == 2
    r = views.sql(translate(
        "SELECT sum(r) AS v FROM (SELECT rank() OVER (PARTITION BY s)"
        " AS r FROM b81)").sql).collect()[0]
    assert r["v"] == 3  # all-peers rank() is 1 per row
    r = views.sql(translate(
        "SELECT (i + 1 AS j) + 1 AS v, j * 2 AS w FROM b81"
        " WHERE j > 2 ORDER BY v").sql).collect()
    assert [(x["v"], x["w"]) for x in r] == [(4, 6), (5, 8)]
    # already-ordered windows, CASTs, strings, FROM parens untouched
    r = views.sql(translate(
        "SELECT max(rn) AS v FROM (SELECT row_number() OVER"
        " (ORDER BY f DESC) AS rn FROM b81)").sql).collect()[0]
    assert r["v"] == 3
    r = views.sql(translate(
        "SELECT CAST(i AS BIGINT) AS c, '(1 AS x)' AS lit FROM b81"
        " ORDER BY i LIMIT 1").sql).collect()[0]
    assert r["c"] == 1 and r["lit"] == "(1 AS x)"
    r = views.sql(translate(
        "WITH RECURSIVE r AS (SELECT 1 AS n UNION ALL SELECT n + 1"
        " FROM r WHERE n < 5) SELECT max(n) AS v FROM r").sql
    ).collect()[0]
    assert r["v"] == 5
    r = views.sql(translate(
        "SELECT s, count() AS n FROM b81 GROUP BY ALL ORDER BY s"
    ).sql).collect()
    assert [(x["s"], x["n"]) for x in r] == [("x", 2), ("y", 1)]


def test_probe_batch82_uuid_time64_introspection_tails(views):
    """Round-11 execution probe, batch 82 (~50 spellings: UUID/ULID
    generators and codecs, DateTime64 unix converters, toRelative*Num,
    type introspection (toTypeName/materialize/identity/ignore),
    string tails 2 (translate/regexpQuoteMeta/firstLine/XML codecs/
    normalizeQuery), skew/kurt, quantileGK, groupConcat — 44 already
    executed; wordShingleSimHash/sqidEncode/meanZTest/
    minSampleSizeConversion/sequenceNextNode refuse loudly as
    designed). Real fix: subtractInterval (the addInterval twin was
    the only direction implemented)."""
    from ed_clickhouse_spark.functions.clickhouse import register_sql_aliases

    register_sql_aliases(views)
    import datetime
    r = views.sql(translate(
        "SELECT subtractInterval(toDate('2024-01-10'), INTERVAL 3 DAY)"
        "   AS si,"
        " UUIDNumToString(UUIDStringToNum("
        "   '612f3c40-5d3b-217e-707b-6a546a3d7b29')) AS uu,"
        " toUnixTimestamp64Milli(toDateTime64("
        "   '2022-01-01 00:00:00.123', 3)) AS ms,"
        " toRelativeDayNum(toDate('2024-01-11'))"
        "   - toRelativeDayNum(toDate('2024-01-01')) AS rd,"
        " timeDiff(toDateTime('2024-01-01 00:00:00'),"
        "   toDateTime('2024-01-01 01:30:00')) AS td,"
        " firstLine('line1\\nline2') AS fl,"
        " normalizeQuery('SELECT 1 + 2') AS nq,"
        " groupConcat(',')(s) AS gc FROM"
        " (SELECT 'x' AS s UNION ALL SELECT 'y' ORDER BY s)").sql
    ).collect()[0]
    assert r["si"] == datetime.date(2024, 1, 7)
    assert r["uu"] == "612f3c40-5d3b-217e-707b-6a546a3d7b29"
    assert r["ms"] == 1640995200123
    assert r["rd"] == 10 and r["td"] == 5400
    assert r["fl"] == "line1"
    assert r["nq"] == "SELECT ? + ?"
    assert r["gc"] == "x,y"


def test_probe_batch82b_anyheavy_combinator_closure(views):
    """Round-11 follow-up to the anyHeavy mode rewrite: the combinator
    stackings now all route through the same deterministic-mode
    contract (count desc, value asc). -OrNull/-IfOrNull strip (mode is
    already NULL-on-empty), -SimpleState is the value, -Array is the
    head of the exact topKArray(1) fold over flattened elements,
    -ForEach is the position-wise mode, -Map is the per-key mode,
    -Distinct is min (every distinct value counts once, so the
    tie-break picks the lowest), and -State/-MergeState/-Merge carry
    per-value counts MAPS — mode-of-modes would be wrong under
    re-aggregation, the counts map is exact."""
    from ed_clickhouse_spark.functions.clickhouse import register_sql_aliases

    register_sql_aliases(views)
    views.sql(
        "SELECT * FROM VALUES (1, array(1, 2), map('a', 1)),"
        " (1, array(1, 3), map('a', 2)), (2, array(2), map('b', 3))"
        " AS t(g, arr, m)"
    ).createOrReplaceTempView("ahc")
    r = views.sql(translate(
        "SELECT anyHeavyOrNull(g) AS aon,"
        " anyHeavyIfOrNull(g, g > 5) AS aio,"
        " anyHeavyArray(arr) AS aa,"
        " anyHeavyForEach(arr) AS afe,"
        " anyHeavyMap(m) AS am,"
        " anyHeavyDistinct(g) AS ad,"
        " anyHeavySimpleState(g) AS ass FROM ahc").sql).collect()[0]
    assert r["aon"] == 1 and r["aio"] is None
    assert r["aa"] == 1  # flattened [1,2,1,3,2]: 1 and 2 tie -> lowest
    assert r["afe"] == [1, 2]  # pos1 [1,1,2]->1; pos2 [2,3] tie->2
    assert r["am"] == {"a": 1, "b": 3}  # key a: [1,2] tie -> 1
    assert r["ad"] == 1 and r["ass"] == 1
    # the counts-map state merges EXACTLY: per-partition states whose
    # local modes disagree with the global mode still merge right
    views.sql(
        "SELECT * FROM VALUES (0, 5), (0, 5), (0, 7), (1, 7), (1, 7),"
        " (1, 7), (2, 5), (2, 5) AS t(p, x)"
    ).createOrReplaceTempView("ahs")
    r = views.sql(translate(
        "SELECT anyHeavyMerge(s) AS v FROM"
        " (SELECT p, anyHeavyState(x) AS s FROM ahs GROUP BY p)"
    ).sql).collect()[0]
    assert r["v"] == 5  # global counts: 5 x4, 7 x4 -> tie -> lowest;
    # local modes are [5, 7, 5] -> a mode-of-modes would also give 5
    # here, so pin a case where they DIVERGE:
    views.sql(
        "SELECT * FROM VALUES (0, 9), (0, 9), (1, 9), (1, 9), (2, 3),"
        " (2, 3), (2, 3), (3, 3), (3, 3), (3, 3) AS t(p, x)"
    ).createOrReplaceTempView("ahs2")
    r = views.sql(translate(
        "SELECT anyHeavyMerge(ms) AS v FROM"
        " (SELECT anyHeavyMergeState(s) AS ms FROM"
        "  (SELECT p, anyHeavyState(x) AS s FROM ahs2 GROUP BY p))"
    ).sql).collect()[0]
    assert r["v"] == 3  # 3 x6 beats 9 x4 (mode-of-modes would tie)


def test_probe_batch83_join_system_misc_tails(views):
    """Round-11 execution probe, batch 83 (~47 shapes: join spellings
    incl. comma-CROSS/SEMI/ANTI/GLOBAL/multi-USING, system tables,
    IN-tuple variants, CASE forms, int/bit arithmetic, LIMIT n,m /
    LIMIT BY, string predicates, date bucketing — 39 already executed;
    ASOF-ON/PASTE JOIN/EXISTS TABLE refuse loudly as designed;
    system.tables/functions/databases resolve via the Engine-registered
    views). Real fix: system.one — the implicit FROM-less one-row
    table — inlines as a literal subquery, user alias honored."""
    r = views.sql(translate(
        "SELECT dummy AS v FROM system.one").sql).collect()
    assert [x["v"] for x in r] == [0]
    r = views.sql(translate(
        "SELECT t.dummy + 1 AS v FROM system.one AS t").sql).collect()
    assert [x["v"] for x in r] == [1]
    r = views.sql(translate(
        "SELECT k FROM (SELECT 1 AS k) LIMIT 1, 2").sql).collect()
    assert r == []  # offset 1 past the single row


def test_probe_batch86_window_hof_tails(views):
    """Round-11 execution probe, batch 86 (~35 shapes: window frames
    incl. RANGE INTERVAL / named windows / IGNORE NULLS, enumerate/
    index array functions, transform lookup forms, set-op modifiers,
    NULL-handling scalars, grouping() — 31 already executed;
    arrayEnumerateUniqRanked / INTO OUTFILE refuse by design). Real
    fixes: the TWO-ARRAY lambda HOFs — arrayFilter((x,y) -> y, a, b)
    keeps the first array's elements at truthy zipped positions (CH's
    contract; it refused before), arrayExists/arrayAll fold the
    zipped flag stream — and isNullable refuses loudly toward schema
    introspection instead of dying unresolved."""
    from ed_clickhouse_spark.functions.clickhouse import register_sql_aliases

    register_sql_aliases(views)
    r = views.sql(translate(
        "SELECT arrayFilter((x, y) -> y, [1, 2, 3], [1, 0, 1]) AS f2,"
        " arrayFilter((x, y) -> y > 1, ['a', 'b'], [1, 2]) AS f2b,"
        " arrayExists((x, y) -> x = y, [1, 2], [2, 2]) AS e2,"
        " arrayAll((x, y) -> x <= y, [1, 2], [2, 2]) AS a2,"
        " arrayMap((x, y) -> x + y, [1, 2], [10, 20]) AS m2,"
        " arrayFilter(x -> x > 1, [1, 2, 3]) AS f1").sql).collect()[0]
    assert r["f2"] == [1, 3] and r["f2b"] == ["b"]
    assert r["e2"] is True and r["a2"] is True
    assert r["m2"] == [11, 22] and r["f1"] == [2, 3]
    with pytest.raises(ValueError, match="isNullable"):
        translate("SELECT isNullable(x) FROM t")


def test_fuzz_r11_lambda_param_shadows_select_alias(views):
    """fuzz_compose r11: a SELECT alias named like a lambda parameter
    must NOT be inlined into the lambda (WHERE-alias inlining used to
    rewrite arrayExists(x -> x = ..., arr) into
    exists(arr, (10.75) -> ...) when the query had `10.75 AS x` —
    a parse error; chsql.py:_inline_select_aliases_in_where)."""
    views.sql("SELECT 1 AS i, array(1, 2) AS arr").createOrReplaceTempView(
        "fz_t")
    r = views.sql(translate(
        "SELECT 10.75 AS x, i AS v FROM fz_t"
        " WHERE arrayExists(x -> x = i, arr)").sql).collect()
    assert len(r) == 1 and r[0]["v"] == 1
    # alias still inlines when no lambda binds the name
    r = views.sql(translate(
        "SELECT i + 1 AS y FROM fz_t WHERE y = 2").sql).collect()
    assert len(r) == 1


def test_fuzz_r11_arith_spellings_preserve_int_type(views):
    """fuzz_compose r11: plus/minus/multiply splice to the native
    operators so Int64 args stay Int64 (CH contract); the typed DOUBLE
    SQL-UDF aliases silently widened (chsql.py _ARRAY_SPLICE)."""
    df = views.sql(translate(
        "SELECT plus(3, 4) AS p, minus(3, 4) AS m,"
        " multiply(3, 4) AS x, negate(5) AS n,"
        " multiply(1.5, 2) AS xf").sql)
    types = dict(df.dtypes)
    assert types["p"] == "int" and types["m"] == "int"
    assert types["x"] == "int" and types["n"] == "int"
    assert types["xf"] == "double"
    r = df.collect()[0]
    assert (r["p"], r["m"], r["x"], r["n"], r["xf"]) == (7, -1, 12, -5, 3.0)


def test_fuzz_r11_polymorphic_length_array_evidence(views):
    """fuzz_compose r11: length/empty over array-certain CH spellings
    that are RENAMED to string-polymorphic Spark builtins (arrayReverse
    -> reverse, arrayConcat -> concat) must route to size() — the pass
    now runs before _SCALAR_RENAMES; emptyArray*/identity-fn shells
    resolve too."""
    r = views.sql(translate(
        "SELECT length(arrayReverse([1, 2, 3])) AS lr,"
        " length(arrayReverse(arrayMap(x -> x, [1, 2]))) AS lrm,"
        " length(emptyArrayInt64()) AS le,"
        " empty(arrayConcat([1], [2])) AS ec,"
        " notEmpty(arrayDifference([5, 3])) AS ne,"
        " length(materialize([1, 2])) AS lm,"
        " length(reverse('abcd')) AS ls").sql).collect()[0]
    assert r["lr"] == 3 and r["lrm"] == 2 and r["le"] == 0
    assert r["ec"] is False and r["ne"] is True
    assert r["lm"] == 2 and r["ls"] == 4


def test_fuzz_r11_order_by_nulls_last_default(views):
    """fuzz_compose r11: CH sorts values, then NaN, then NULL (NULLS
    LAST) by default in BOTH directions; Spark's default is
    direction-coupled (ASC = NULLS FIRST). translate appends the
    explicit directive to every undirected ORDER BY key — top-level,
    subquery, and window OVER alike
    (chsql._rewrite_order_by_null_direction)."""
    views.sql(
        "SELECT * FROM VALUES (1), (CAST(NULL AS INT)), (3), (2) AS v(x)"
    ).createOrReplaceTempView("ord_t")
    r = views.sql(translate(
        "SELECT x FROM ord_t ORDER BY x LIMIT 2").sql).collect()
    assert [row["x"] for row in r] == [1, 2]  # not [NULL, 1]
    r = views.sql(translate(
        "SELECT x FROM ord_t ORDER BY x DESC LIMIT 2").sql).collect()
    assert [row["x"] for row in r] == [3, 2]
    r = views.sql(translate(
        "SELECT x, row_number() OVER (ORDER BY x) AS rn FROM ord_t"
    ).sql).collect()
    assert {row["x"]: row["rn"] for row in r}[None] == 4  # NULL ranks last
    # explicit directives are preserved
    r = views.sql(translate(
        "SELECT x FROM ord_t ORDER BY x NULLS FIRST LIMIT 1").sql
    ).collect()
    assert r[0]["x"] is None


def test_fuzz_r11_length_on_declared_array_column(views):
    """Specs-aware polymorphic length: a BARE column declared
    Array(...) in the DDL routes length/empty to size() — the
    reference's own tables carry Array(String) columns (its
    migrations/009 shahre_farang_item_events: genres, labels), so
    length(genres) through Engine.ch_sql must mean array length.
    Without specs (or on ambiguity) the string path is kept."""
    from ed_clickhouse_spark import ddl

    spec = ddl.parse_clickhouse_ddl("""
CREATE TABLE IF NOT EXISTS shahre_farang_item_events (
    event_id String,
    event_name String,
    timestamp DateTime,
    item_id String,
    item_title String,
    genres Array(String),
    labels Array(String)
) ENGINE = MergeTree()
ORDER BY (timestamp, event_name);
""")
    spec = spec[0] if isinstance(spec, list) else spec
    specs = {spec.name: spec}
    tr = translate(
        "SELECT length(genres) AS n, empty(labels) AS e,"
        " length(item_title) AS lt FROM shahre_farang_item_events",
        specs=specs)
    assert "size(genres)" in tr.sql and "size(labels)" in tr.sql
    assert "length(item_title)" in tr.sql
    # no specs -> unchanged (string path)
    assert "length(genres)" in translate(
        "SELECT length(genres) AS n FROM t").sql
    # execution shape: declared array column end-to-end
    views.sql("SELECT array('drama', 'sci-fi') AS genres,"
              " 'T' AS item_title").createOrReplaceTempView(
        "shahre_farang_item_events")
    r = views.sql(translate(
        "SELECT length(genres) AS n FROM shahre_farang_item_events",
        specs=specs).sql).collect()[0]
    assert r["n"] == 2


def test_fuzz_r11_keyword_named_aliases_in_order_and_group(views):
    """fuzz_compose r11 round 2: (1) sort keys ALIASED range/format
    must not be eaten as frame/clause keywords by the null-direction
    pass (frame terminators apply only inside OVER); (2) a GROUP BY
    reference to an alias named inf/nan must stay an alias reference —
    the bare-literal rewrite used to emit GROUP BY
    CAST('Infinity' AS DOUBLE), a MISSING_AGGREGATION error."""
    views.sql("SELECT 1 AS i, 2 AS j").createOrReplaceTempView("kw_t")
    r = views.sql(translate(
        "SELECT i AS y, j AS range FROM kw_t ORDER BY y, range LIMIT 5"
    ).sql).collect()[0]
    assert (r["y"], r["range"]) == (1, 2)
    r = views.sql(translate(
        "SELECT i AS y, j AS format FROM kw_t ORDER BY y, format"
    ).sql).collect()[0]
    assert (r["y"], r["format"]) == (1, 2)
    r = views.sql(translate(
        "SELECT i + 100 AS inf, count() AS x FROM kw_t GROUP BY inf"
    ).sql).collect()[0]
    assert (r["inf"], r["x"]) == (101, 1)
    # bare inf/nan literals still rewrite when no alias defines them
    r = views.sql(translate(
        "SELECT isInfinite(inf) AS ii, isNaN(nan) AS nn").sql
    ).collect()[0]
    assert r["ii"] is True and r["nn"] is True
    # frame keywords still terminate inside OVER
    r = views.sql(translate(
        "SELECT sum(j) OVER (ORDER BY i ROWS BETWEEN 1 PRECEDING AND"
        " CURRENT ROW) AS s FROM kw_t").sql).collect()[0]
    assert r["s"] == 2


def test_fuzz_r11_alias_inliner_scoping(views):
    """fuzz_compose r11 round 3: (1) an alias NAMED format/settings in
    WHERE must still inline (the clause-terminator list contained the
    long-stripped FORMAT/SETTINGS keywords and truncated the scanned
    segment); (2) lambda shadowing is PER-SPAN — the same name used as
    a lambda parameter inside one HOF and as an alias reference
    elsewhere in the WHERE resolves both ways, like ClickHouse."""
    views.sql("SELECT 1 AS i, true AS b, array(1, 2) AS arr"
              ).createOrReplaceTempView("sc_t")
    r = views.sql(translate(
        "SELECT (100 > 0) AS format FROM sc_t"
        " WHERE b AND format IS NOT NULL").sql).collect()
    assert len(r) == 1 and r[0]["format"] is True
    r = views.sql(translate(
        "SELECT reverse('ab') AS x FROM sc_t"
        " WHERE arrayExists(x -> x = 1, arr) AND x IS NOT NULL"
    ).sql).collect()
    assert len(r) == 1 and r[0]["x"] == "ba"


def test_fuzz_r11_bare_identifier_conditions(views):
    """fuzz_compose r11 round 3: Spark's parser rejects
    WHERE/HAVING (ident) — a lone parenthesized identifier parses as
    an assignment form (ASSIGNMENT_ARITY_MISMATCH). ClickHouse accepts
    it, and the PREWHERE merge used to synthesize exactly that shape
    for a bare-column condition. Both the merge and the user-spelled
    forms unwrap; (1) keeps CH truthiness."""
    views.sql("SELECT 1 AS i, true AS b, 1.5 AS f"
              ).createOrReplaceTempView("bi_t")
    assert views.sql(translate(
        "SELECT f AS v FROM bi_t PREWHERE b").sql).collect()[0]["v"] == 1.5
    assert views.sql(translate(
        "SELECT f AS v FROM bi_t WHERE (b)").sql).collect()[0]["v"] == 1.5
    assert views.sql(translate(
        "SELECT f AS v FROM bi_t WHERE (1)").sql).collect()[0]["v"] == 1.5
    r = views.sql(translate(
        "SELECT i AS g, count() AS n FROM bi_t WHERE (b)"
        " GROUP BY g HAVING (n)").sql).collect()[0]
    assert (r["g"], r["n"]) == (1, 1)
    assert len(views.sql(translate(
        "SELECT f AS v FROM bi_t PREWHERE (b) WHERE (b) AND (i > 0)"
    ).sql).collect()) == 1


def test_fuzz_r11_literal_todate_folds_for_grouping(views):
    """fuzz_compose r11: literal toDate/toDateTime calls constant-fold
    to native DATE/TIMESTAMP literals at translate time — Spark inlines
    SQL UDFs as projections, and a UDF call inside a GROUPING
    expression breaks aggregate extraction (MISSING_ATTRIBUTES on the
    UDF parameter; the documented grid-params pitfall class)."""
    tr = translate(
        "SELECT toDate('2024-02-29') AS a,"
        " toDateTime('2024-02-29 10:30:00') AS ts,"
        " toDateTime('2024-02-29') AS t0, toDate32('2024-01-02') AS b")
    assert "DATE '2024-02-29'" in tr.sql
    assert "TIMESTAMP '2024-02-29 10:30:00'" in tr.sql
    assert "TIMESTAMP '2024-02-29'" in tr.sql
    assert "DATE '2024-01-02'" in tr.sql
    views.sql("SELECT DATE '2024-01-01' AS d, 1 AS i"
              ).createOrReplaceTempView("df_t")
    r = views.sql(translate(
        "SELECT (d < toDate('2024-02-29')) AS k,"
        " max(least(toDate('2024-02-29'),"
        " toMonday(toDate('2024-02-29')))) AS m"
        " FROM df_t GROUP BY 1").sql).collect()[0]
    assert r["k"] is True and str(r["m"]) == "2024-02-26"
    # non-literal args splice to the CAST body (no UDF anywhere)
    assert "CAST((s) AS DATE)" in translate("SELECT toDate(s) FROM t").sql


def test_fuzz_r11_date_rollup_group_by_splices(views):
    """fuzz_compose r11: GROUP BY toMonday(d) (the standard CH rollup
    shape) with UDF-bearing aggregates used to die with
    MISSING_ATTRIBUTES — Spark can't extract aggregates past a SQL-UDF
    call in the grouping expression. The 1-arg date-part family now
    splices to builtin bodies, so no UDF remains in any position;
    2-arg mode forms still work (toDayOfWeek mode table)."""
    views.sql("SELECT DATE '2024-02-29' AS d, 1 AS i"
              ).createOrReplaceTempView("dr_t")
    r = views.sql(translate(
        "SELECT toMonday(d) AS wk, max(toStartOfMonth(toMonday(d))) AS m,"
        " count() AS n FROM dr_t GROUP BY 1").sql).collect()[0]
    assert str(r["wk"]) == "2024-02-26" and str(r["m"]) == "2024-02-01"
    r = views.sql(translate(
        "SELECT toYear(d) AS y, toYYYYMM(d) AS ym, toDayOfWeek(d) AS dw,"
        " toDayOfWeek(d, 1) AS dw1, toStartOfWeek(d) AS sw FROM dr_t"
    ).sql).collect()[0]
    assert (r["y"], r["ym"], r["dw"], r["dw1"]) == (2024, 202402, 4, 3)
    assert str(r["sw"]) == "2024-02-25"  # mode-0 week starts Sunday
    # no ch-alias UDF call survives in the translated rollup
    sql = translate("SELECT toMonday(d) AS wk FROM dr_t GROUP BY wk").sql
    assert "toMonday" not in sql
