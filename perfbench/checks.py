"""Output checks: result fingerprints and ingest conservation."""

from __future__ import annotations

import datetime
import decimal
import hashlib
import json
import os

HERE = os.path.dirname(os.path.abspath(__file__))
FINGERPRINTS = os.path.join(HERE, "fingerprints.json")


def _norm(v):
    """A canonical, float-drift-tolerant form of one result cell."""
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        return format(v, ".6g")
    if isinstance(v, decimal.Decimal):
        return format(float(v), ".6g")
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, dict):
        return sorted((repr(_norm(k)), _norm(x)) for k, x in v.items())
    if isinstance(v, (list, tuple)):  # pyspark Row is a tuple
        return [_norm(x) for x in v]
    return v


def fingerprint(rows) -> dict:
    """Row count plus an order-insensitive hash of the normalized rows."""
    acc = 0
    for r in rows:
        h = hashlib.sha1(repr(_norm(tuple(r))).encode()).digest()
        acc = (acc + int.from_bytes(h[:8], "big")) % (1 << 64)
    return {"rows": len(rows), "hash": f"{acc:016x}"}


def load_fingerprints() -> dict:
    with open(FINGERPRINTS) as f:
        return json.load(f)


def check_fingerprint(recorded: dict, key: str, got: dict) -> str | None:
    """None when ``got`` matches the recording for ``key``, else why not.
    A recording without ``hash`` (result not exact) checks rows only."""
    want = recorded.get(key)
    if want is None:
        return f"no recorded fingerprint for {key}"
    if got["rows"] != want["rows"]:
        return f"{key}: {got['rows']} rows, recorded {want['rows']}"
    if "hash" in want and got["hash"] != want["hash"]:
        return f"{key}: result hash {got['hash']} != recorded {want['hash']}"
    return None
