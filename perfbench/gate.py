"""Correctness gate: response shapes, DuckDB recomputation of sampled
serving responses, and order-insensitive digests for registry results.

Nothing here runs inside a timed region.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math

from workloads import NOW_MS

FLOAT_DP = 6
_TOL = 1.0000001 * 10.0 ** -FLOAT_DP

_TRUNC_UNIT = {"min": "minute", "hour": "hour", "day": "day", "month": "month"}


# ---------------------------------------------------------------------------
# order-insensitive digests
# ---------------------------------------------------------------------------


def canon(v) -> str:
    """Engine-independent text of one value: numbers by value (6 dp),
    timestamps as naive UTC ISO text, lists element-wise."""
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "b1" if v else "b0"
    if isinstance(v, (int, float, decimal.Decimal)):
        x = float(v)
        if math.isnan(x):
            return "nan"
        if math.isinf(x):
            return "inf" if x > 0 else "-inf"
        x = round(x, FLOAT_DP) + 0.0
        return str(int(x)) if x == int(x) else f"{x:.{FLOAT_DP}f}"
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (list, tuple)) or hasattr(v, "tolist"):
        seq = v.tolist() if hasattr(v, "tolist") else v
        return "[" + ",".join(canon(x) for x in seq) + "]"
    return repr(str(v))


def rows_digest(columns, rows) -> dict:
    """{'columns', 'rows', 'digest'} of a result set, rows in any order."""
    lines = sorted("\x1f".join(canon(x) for x in r) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\x1e")
    return {"columns": [c.lower() for c in columns], "rows": len(lines),
            "digest": h.hexdigest()}


# ---------------------------------------------------------------------------
# serving responses
# ---------------------------------------------------------------------------


def shape_error(req: dict, body) -> str | None:
    """Why a 200 body does not have the Message envelope shape, or None."""
    if not isinstance(body, dict) or set(body) != {"columns", "data", "metadata"}:
        return "envelope keys"
    key = "timestamp" if req["shape"] == "history" else "geohash"
    if body["columns"] != [key, req["aggregate"]]:
        return f"columns {body['columns']}"
    if body["metadata"] != {"metric_id": req["metric"]}:
        return "metadata"
    prec = int(req["params"]["gh_precision"])
    prev = None
    for row in body["data"]:
        if not isinstance(row, list) or len(row) != 2:
            return "row arity"
        k, v = row
        if req["shape"] == "history" and not isinstance(k, int):
            return "timestamp type"
        if req["shape"] == "snapshot" and not (isinstance(k, str) and len(k) == prec):
            return "geohash key"
        if prev is not None and not k > prev:
            return "key order"
        prev = k
        if req["aggregate"] == "count":
            if not isinstance(v, int) or v <= 0:
                return "count value"
        elif not isinstance(v, (int, float)) or isinstance(v, bool):
            return "aggregate value"
    return None


def _aggregate(agg: str, count: int, total: float):
    return {"count": count, "sum": total, "avg": total / count}[agg]


def expected_data(con, req: dict, spec) -> list[list]:
    """Recompute one snapshot/history answer from the raw events in DuckDB
    (table `events`), cells derived by `geohash_sql` over the synthetic
    positions. Cover geometry comes from the engine's pure planner helpers,
    the same way the registry oracles get it."""
    from explora_kafka_spark.functions import geo
    from explora_kafka_spark.functions.timeutil import (
        INTERVAL_TO_RES, interval_to_range, truncate_ts_ms)
    from explora_kafka_spark.plans import query as Q

    p = req["params"]
    prec = int(p["gh_precision"])
    gh = geo.geohash_sql(spec.lat_sql(), spec.lon_sql(), prec)
    if req["shape"] == "snapshot":
        res = p.get("res") or "min"
        n, w, s, e = (float(x) for x in p["bbox"].split(","))
        t = truncate_ts_ms(int(p["ts"]), res)
        rows = con.execute(
            f"SELECT gh, count(*), sum(value) FROM (SELECT {gh} AS gh, value "
            f"FROM events WHERE event_type = ? AND "
            f"date_trunc('{_TRUNC_UNIT[res]}', ts) = epoch_ms(?)) GROUP BY gh",
            [req["metric"], t]).fetchall()
        cp = Q.adaptive_cover_precision(n, w, s, e, prec)
        cover = set(geo.geohash_cover_bbox(n, w, s, e, cp))
        rows = sorted(r for r in rows if r[0][:cp] in cover)
    else:
        cells = p["geohashes"].split(",")
        if "res" in p:
            res, lo, hi = p["res"], int(p["from"]), int(p["to"])
        else:
            res = INTERVAL_TO_RES.get(p["interval"], "min")
            lo, hi = interval_to_range(NOW_MS, p["interval"])
        marks = ",".join("?" * len(cells))
        rows = con.execute(
            f"SELECT epoch_ms(date_trunc('{_TRUNC_UNIT[res]}', ts)) AS t, "
            f"count(*), sum(value) FROM events WHERE event_type = ? AND "
            f"{gh} IN ({marks}) GROUP BY t HAVING t >= ? AND t <= ? ORDER BY t",
            [req["metric"], *cells, lo, hi]).fetchall()
    return [[k, _aggregate(req["aggregate"], c, s)] for k, c, s in rows]


def data_matches(expected: list[list], got: list[list]) -> bool:
    if len(expected) != len(got):
        return False
    for (ek, ev), (gk, gv) in zip(expected, got):
        if ek != gk:
            return False
        if isinstance(ev, int) and not isinstance(ev, bool):
            if gv != ev:
                return False
        elif gv is None or abs(round(gv, FLOAT_DP) - round(ev, FLOAT_DP)) > _TOL:
            return False
    return True
