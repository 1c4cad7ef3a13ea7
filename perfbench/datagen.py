"""Seeded input generation for the benchmark.

Two kinds of input:

* the query tables (TPC-H-ish star schema + ``events``, ``documents``,
  ``embeddings``), written as one parquet file each with the same schemas
  and value domains as the suite's fixture tables. They come from a FIXED
  table seed, so the recorded result fingerprints in ``fingerprints.json``
  stay valid whatever ``--seed`` a run gets;
* the ingest wire stream: micro-batches of ``(subject, payload)`` JSON
  lines over the nine event families, drawn from the run's ``--seed``.
  Each batch carries its exact per-class counts, which the output checks
  compare against what landed in the warehouse.
"""

from __future__ import annotations

import json
import os
from collections import Counter
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The query tables are fixed: one scale and one seed, for which the
# recorded fingerprints hold (lineitem ~6M x SF rows).
SF = 0.002
TABLE_SEED = 42
EVENT_TYPES = ("click", "signup", "error", "view", "purchase")
SEGMENTS = ("HOUSEHOLD", "MACHINERY", "AUTOMOBILE", "BUILDING", "FURNITURE")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM")
PART_ADJ = ("small", "red", "blue", "hot", "old", "cold", "new", "large")
PART_NOUN = ("ring", "widget", "bolt", "gear", "anvil", "rod", "plate", "gizmo")
WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
LANGS = ("en", "es", "fr", "zh", "de")
LANG_P = (0.44, 0.14, 0.13, 0.15, 0.14)
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

EVENTS_START = np.datetime64("2024-01-01T00:00:00", "us")
EVENTS_DAYS = 30


def _dates(rng, n, start="1995-01-01", days=2400):
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, days, n)).astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def table_sizes() -> dict[str, int]:
    """Row counts per table at scale factor ``SF`` (the fixture layout:
    lineitem ~6M x SF; documents/embeddings have a 500-row floor)."""
    return {
        "customer": max(150, int(150_000 * SF)),
        "supplier": max(10, int(10_000 * SF)),
        "part": max(200, int(200_000 * SF)),
        "orders": max(1_500, int(1_500_000 * SF)),
        "lineitem": max(6_000, int(6_000_000 * SF)),
        "events": max(1_000, int(1_000_000 * SF)),
        "documents": max(500, int(50_000 * SF)),
        "embeddings": max(500, int(20_000 * SF)),
    }


def make_tables() -> dict[str, pa.Table]:
    """Build every query table at scale ``SF`` from ``TABLE_SEED``."""
    rng = np.random.default_rng(TABLE_SEED)
    n = table_sizes()
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(REGIONS)}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc = n["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(nc, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": rng.choice(SEGMENTS, nc),
        }
    )
    ns = n["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(ns, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    npart = n["part"]
    adj = rng.choice(PART_ADJ, npart)
    noun = rng.choice(PART_NOUN, npart)
    t["part"] = pa.table(
        {
            "p_partkey": np.arange(npart, dtype=np.int64),
            "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
            "p_type": rng.choice(PART_TYPES, npart),
            "p_size": rng.integers(1, 51, npart).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(npart) % 1000) * 0.1, 2),
        }
    )
    no = n["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(no, dtype=np.int64),
            "o_custkey": rng.integers(0, nc, no).astype(np.int64),
            "o_orderstatus": rng.choice(("F", "O", "P"), no),
            "o_totalprice": _money(rng, 1000, 500_000, no),
            "o_orderdate": _dates(rng, no),
            "o_orderpriority": rng.choice(PRIORITIES, no),
        }
    )
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
            "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
            "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2100, nl), 2),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": rng.choice(("A", "N", "R"), nl),
            "l_linestatus": rng.choice(("F", "O"), nl),
            "l_shipdate": _dates(rng, nl, "1995-01-02", 2500),
        }
    )
    ne = n["events"]
    gaps = rng.exponential(EVENTS_DAYS * 86_400e6 / ne, ne).cumsum()
    gaps *= (EVENTS_DAYS * 86_400e6 - 1) / gaps[-1]
    t["events"] = pa.table(
        {
            "event_id": np.arange(ne, dtype=np.int64),
            "ts": EVENTS_START + gaps.astype("timedelta64[us]"),
            "user_id": rng.integers(0, nc // 10, ne).astype(np.int64),
            "event_type": rng.choice(EVENT_TYPES, ne),
            "value": np.round(rng.lognormal(3.3, 1.2, ne).clip(0.01, 490.02), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    nd = n["documents"]
    texts = []
    for i in range(nd):
        if i >= 20 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    t["documents"] = pa.table(
        {
            "doc_id": np.arange(nd, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, nd, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(nd)],
            "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
        }
    )
    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(0, 0.018, (10, 64))
    vecs = centers[labels] + rng.normal(0, 0.125, (nv, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(nv, dtype=np.int64),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": labels.astype(np.int32),
        }
    )
    return t


def write_tables(out_dir: str) -> dict[str, int]:
    """Write the query tables under ``out_dir``; return rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, tbl in make_tables().items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = tbl.num_rows
    return rows


# -- ingest wire stream ----------------------------------------------------

# ASSUMPTIONS. Neither the repository nor a public source gives the
# reference deployment's traffic, so every weight and rate below is
# invented. The subject weights skew the mix towards watch and login
# (sum 1); BAD_PRODUCERS of the nine families send BAD_ROW_RATE truncated
# payloads; UNROUTABLE_RATE of all rows carry an unknown subject. The
# ingest layer figures (route, append_events, append_dlq, files and
# bytes per batch) and batch and pass times depend on them.
BAD_PRODUCERS = 3
BAD_ROW_RATE = 0.03
UNROUTABLE_RATE = 0.005
USERS = 5000
SUBJECT_MIX = {
    "events.angulak.watch": 0.34,
    "events.login": 0.18,
    "events.session": 0.14,
    "events.shahrefarang.item": 0.10,
    "events.shahrefarang.play_info": 0.08,
    "events.angulak.like": 0.06,
    "events.sabte_ahval": 0.04,
    "events.angulak.comment": 0.03,
    "events.angulak.bookmark": 0.03,
}
GENRES = ("drama", "comedy", "action", "documentary", "kids", "thriller", "anime")
CATEGORIES = ("movie", "series", "live", "short")
LABELS = ("new", "hot", "top10", "classic")
TONGUES = ("fa", "en", "ar", "tr")
INGEST_START = 1_704_067_200  # 2024-01-01T00:00:00Z
INGEST_DAYS = 4
UNROUTABLE = ("events.unknown", "events.angulak.rating")

# The reference's nine subjects and their tables (migration spelling). The
# output checks use this map, not the program's own registry.
SUBJECT_TABLE = {
    "events.login": "login_events",
    "events.sabte_ahval": "sabte_ahval_events",
    "events.angulak.like": "angulak_like_events",
    "events.angulak.watch": "angulak_watch_events",
    "events.session": "session_events",
    "events.angulak.comment": "angulak_comment_events",
    "events.shahrefarang.item": "shahre_farang_item_events",
    "events.shahrefarang.play_info": "shahre_farang_play_info_events",
    "events.angulak.bookmark": "angulak_bookmark_events",
}


@dataclass
class Expected:
    """What the warehouse must hold after the batches ingested so far."""

    per_table: Counter = field(default_factory=Counter)
    dlq: Counter = field(default_factory=Counter)  # reason -> rows
    watch_hour: Counter = field(default_factory=Counter)  # unix hour -> rows
    login_day: Counter = field(default_factory=Counter)  # "YYYY-MM-DD" -> rows
    login_user_day: Counter = field(default_factory=Counter)  # (day, user) -> rows
    genres: Counter = field(default_factory=Counter)  # item-family genre -> rows
    cdn: Counter = field(default_factory=Counter)  # watch event_details cdn -> rows

    def add(self, other: "Expected") -> None:
        for name in ("per_table", "dlq", "watch_hour", "login_day", "login_user_day",
                     "genres", "cdn"):
            getattr(self, name).update(getattr(other, name))


@dataclass
class WireBatch:
    """One generated micro-batch file and its exact per-class counts."""

    path: str
    rows: int
    wire_bytes: int
    expected: Expected


def _event(rng, subject: str, i: int, ts: int, uid: int) -> dict:
    ev = {
        "event_id": f"ev-{i}",
        "event_name": subject.rsplit(".", 1)[-1],
        "user_id": f"u{uid}",
        "session_id": f"s{uid}-{ts // 1800}",
        "anonymous_id": f"a{uid % 997}",
        "timestamp": ts,
        "service_origin": "web" if uid % 3 else "app",
        "platform": ("android", "ios", "web")[uid % 3],
        "platform_version": f"{uid % 7}.{uid % 5}",
        "os_name": ("Android", "iOS", "Linux")[uid % 3],
        "os_version": f"{10 + uid % 5}",
        "browser_name": ("chrome", "safari", "firefox")[uid % 3],
        "browser_version": f"{100 + uid % 30}",
        "device_type": ("mobile", "tablet", "desktop")[uid % 3],
        "screen_resolution": ("1080x1920", "1536x2048", "1920x1080")[uid % 3],
        "user_agent": f"Mozilla/5.0 bench/{uid % 11}",
    }
    fam = subject
    if fam == "events.sabte_ahval":
        ev.update(profile_id=f"p{uid}", is_new_user=bool(i % 7 == 0))
    elif fam in ("events.angulak.like", "events.angulak.bookmark"):
        ev.update(play_info_id=f"pi{i % 500}", action=("add", "remove")[i % 2])
    elif fam == "events.angulak.comment":
        ev.update(play_info_id=f"pi{i % 500}")
    elif fam == "events.session":
        ev.update(is_ended=bool(i % 2))
    elif fam == "events.angulak.watch":
        dur = int(rng.integers(600, 7200))
        ev.update(
            state=("play", "pause", "seek", "stop")[i % 4],
            item_type=("movie", "episode")[i % 2],
            item_id=f"it{i % 800}",
            play_info_id=f"pi{i % 500}",
            season_number=int(i % 5),
            episode_number=int(i % 12),
            subtitle_language=TONGUES[i % 4],
            audio_language=TONGUES[(i + 1) % 4],
            video_position=int(rng.integers(0, dur)),
            video_duration=dur,
            player_version=f"3.{i % 9}",
            internet_connection_type=("wifi", "4g", "5g")[i % 3],
            region=("tehran", "isfahan", "shiraz", "tabriz")[uid % 4],
            ad_id=f"ad{i % 40}" if i % 5 == 0 else "",
            ad_type="preroll" if i % 5 == 0 else "",
            event_details=json.dumps(
                {"bitrate": int(rng.integers(300, 8000)),
                 "buffering_ms": int(rng.integers(0, 3000)),
                 "cdn": ("a", "b", "c")[i % 3]}
            ),
        )
    elif fam in ("events.shahrefarang.item", "events.shahrefarang.play_info"):
        g = list(rng.choice(GENRES, int(rng.integers(1, 4)), replace=False))
        c = list(rng.choice(CATEGORIES, int(rng.integers(1, 3)), replace=False))
        lab = list(rng.choice(LABELS, int(rng.integers(0, 3)), replace=False))
        common = dict(
            item_id=f"it{i % 800}", genres=g, categories=c, labels=lab,
            has_subtitle=bool(i % 2), is_dubbed=bool(i % 3 == 0),
            reach_method=("search", "home", "push")[i % 3],
        )
        if fam == "events.shahrefarang.item":
            common.update(
                play_info_id=f"pi{i % 500}", age_rating=int((0, 7, 13, 16, 18)[i % 5]),
                is_exclusive=bool(i % 4 == 0),
                languages=list(rng.choice(TONGUES, 2, replace=False)),
            )
        else:
            common.update(duration=int(rng.integers(600, 7200)))
        ev.update(common)
    return ev


def write_wire_batch(path: str, rng: np.random.Generator, n_rows: int, first_id: int) -> WireBatch:
    """Write one JSON-lines wire batch of ``n_rows`` rows to ``path``.

    ``BAD_PRODUCERS`` of the nine families (seeded) send some truncated,
    undecodable payloads; the other families decode cleanly. A few rows
    of any family carry an unroutable subject instead of their own. So
    one batch runs both the clean single-pass decode+append and the DLQ
    paths.
    Timestamps span ``INGEST_DAYS`` days, so every batch writes several
    ``event_date`` partitions."""
    subjects = list(SUBJECT_MIX)
    picks = rng.choice(len(subjects), n_rows, p=list(SUBJECT_MIX.values()))
    ts = INGEST_START + rng.integers(0, INGEST_DAYS * 86_400, n_rows)
    uids = rng.integers(0, USERS, n_rows)
    bad = rng.choice(len(subjects), BAD_PRODUCERS, replace=False)
    u = rng.random(n_rows)
    kind = np.zeros(n_rows, dtype=np.int8)  # 0 ok, 1 undecodable, 2 unroutable
    kind[np.isin(picks, bad) & (u < BAD_ROW_RATE)] = 1
    kind[u >= 1.0 - UNROUTABLE_RATE] = 2
    exp = Expected()
    wire_bytes = 0
    with open(path, "w") as f:
        for j in range(n_rows):
            i = first_id + j
            subject = subjects[picks[j]]
            ev = _event(rng, subject, i, int(ts[j]), int(uids[j]))
            payload = json.dumps(ev, separators=(",", ":"))
            if kind[j] == 1:
                payload = payload[: len(payload) // 2]  # truncated message
                exp.dlq["decode_error"] += 1
            elif kind[j] == 2:
                subject = UNROUTABLE[j % 2]
                exp.dlq["unroutable_subject"] += 1
            else:
                table = SUBJECT_TABLE[subject]
                exp.per_table[table] += 1
                if table == "angulak_watch_events":
                    exp.watch_hour[int(ts[j]) // 3600] += 1
                    exp.cdn[json.loads(ev["event_details"])["cdn"]] += 1
                elif table == "login_events":
                    day = str(np.datetime64(int(ts[j]), "s").astype("datetime64[D]"))
                    exp.login_day[day] += 1
                    exp.login_user_day[day, ev["user_id"]] += 1
                elif table == "shahre_farang_item_events":
                    exp.genres.update(ev["genres"])
            line = json.dumps({"subject": subject, "payload": payload}) + "\n"
            f.write(line)
            wire_bytes += len(line)
    return WireBatch(path, n_rows, wire_bytes, exp)
