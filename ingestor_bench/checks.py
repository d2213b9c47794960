"""DuckDB checks of every operation a run executed.

Each check returns a list of failure strings, one per failed operation.
Values are normalized the way ``api._json_safe`` shapes a response
(datetimes as ISO strings, decimals as floats), so a DuckDB row and the
product's JSON row compare exactly.
"""

from __future__ import annotations

import datetime
import decimal
import math
from collections import Counter

import duckdb

TABLES = ("events", "customer", "nation", "documents", "embeddings")


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return 0.0 if v == 0.0 else v
    if isinstance(v, datetime.datetime) and v.tzinfo is not None:
        # Spark's instant timestamps read back zoned; the session runs in UTC
        return v.astimezone(datetime.timezone.utc).replace(tzinfo=None).isoformat()
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return norm(float(v))
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, dict):
        return tuple(sorted((k, norm(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    return v


def _row_key(d: dict) -> tuple:
    return tuple((k, norm(d[k])) for k in sorted(d))


def _fetch_dicts(con, sql: str, params=None) -> list[dict]:
    cur = con.execute(sql, params or [])
    cols = [c[0] for c in cur.description]
    return [dict(zip(cols, r)) for r in cur.fetchall()]


def connect(sf_dir: str):
    con = duckdb.connect()
    con.execute("SET threads = 4")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def check_catalog_jobs(con, oracles: dict, jobs: list[dict]) -> list[str]:
    """Every successful job's sampled rows must be a sub-multiset of the
    DuckDB twin's full result. ``jobs``: ``{"key", "result"}``."""
    failures, expected = [], {}
    for job in jobs:
        key, res = job["key"], job["result"]
        if not res or res.get("status") != "successful":
            failures.append(f"{key}: job {res and res.get('status')}: "
                            f"{res and res.get('message', '')[:200]}")
            continue
        if key not in expected:
            expected[key] = Counter(_row_key(r) for r in _fetch_dicts(con, oracles[key]))
        got = Counter(_row_key(r) for r in res["value"]["rows"])
        extra = got - expected[key]
        if extra:
            failures.append(f"{key}: {sum(extra.values())} sampled row(s) not in "
                            f"the oracle, e.g. {next(iter(extra))}")
    return failures


def items_page_sql(collection_dir: str, req: dict) -> tuple[str, list]:
    """DuckDB twin of one ``ProcessAPI.items`` keyset page."""
    where, params = ["TRUE"], []
    lo, hi = req.get("datetime_range") or (None, None)
    if lo is not None:
        where.append("ts >= CAST(? AS TIMESTAMP)")
        params.append(lo)
    if hi is not None:
        where.append("ts < CAST(? AS TIMESTAMP)")
        params.append(hi)
    if req.get("bbox"):
        w, s, e, n = req["bbox"]
        where.append("lon BETWEEN ? AND ? AND lat BETWEEN ? AND ?")
        params += [w, e, s, n]
    for k, v in (req.get("properties") or {}).items():
        where.append(f'"{k}" = ?')
        params.append(v)
    if req.get("after") is not None:
        where.append(f'"{req["sort_col"]}" > ?')
        params.append(req["after"])
    sql = (
        f"SELECT * FROM read_parquet('{collection_dir}/**/*.parquet', "
        f"hive_partitioning = true) WHERE {' AND '.join(where)} "
        f'ORDER BY "{req["sort_col"]}" LIMIT {int(req["limit"])}'
    )
    return sql, params


def check_items_pages(con, collection_dir: str, pages: list[dict]) -> list[str]:
    """Each page must equal DuckDB's page for the same filters and
    cursor, row for row, and carry the last row's key as its cursor.
    ``pages``: ``{"request", "response"}``."""
    failures, expected = [], {}
    for page in pages:
        req, resp = page["request"], page["response"]
        name = req["name"]
        if name not in expected:
            expected[name] = [_row_key(r) for r in
                              _fetch_dicts(con, *items_page_sql(collection_dir, req))]
        got = [_row_key(r) for r in resp["features"]]
        if got != expected[name]:
            failures.append(f"items {name}: page differs from DuckDB "
                            f"({len(got)} vs {len(expected[name])} rows)")
        elif got and resp.get("nextAfter") != resp["features"][-1][req["sort_col"]]:
            failures.append(f"items {name}: cursor {resp.get('nextAfter')!r} is not "
                            "the last row's key")
    return failures


def check_ingests(con, out_path: str, results: list, ts_col: str,
                  value_cols: list[str]) -> list[str]:
    """Each ingest's registered extents must equal a DuckDB aggregate over
    the parquet it wrote (every forced re-ingest writes the same grid)."""
    aggs = ["count(*) AS n_rows", f"min({ts_col}) AS ts_begin",
            f"max({ts_col}) AS ts_end"]
    aggs += [f"min({c}) AS {c}_min, max({c}) AS {c}_max" for c in value_cols]
    want = _fetch_dicts(
        con, f"SELECT {', '.join(aggs)} FROM read_parquet('{out_path}/**/*.parquet', "
        "hive_partitioning = true)")[0]
    want = {k: norm(v) for k, v in want.items()}
    failures = []
    for i, res in enumerate(results):
        if res.status != "OK":
            failures.append(f"ingest {i}: {res.status}: {res.message[:200]}")
        elif {k: norm(v) for k, v in (res.extents or {}).items()} != want:
            failures.append(f"ingest {i}: extents {res.extents} != DuckDB {want}")
    return failures


def check_stream(con, drop_dir: str, out_path: str, watermark: str) -> list[str]:
    """The collection's windows must equal DuckDB's one-hour tumbling
    windows over every landed file, for each window that closed at or
    before the final watermark, each exactly once."""
    want = _fetch_dicts(con, f"""
        SELECT window_start, window_start + INTERVAL 1 HOUR AS window_end,
               event_type, sum(value) AS total_value, count(*) AS n_events,
               avg(value) AS avg_value
        FROM (SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start, *
              FROM read_json('{drop_dir}/*.json', columns = {{
                  'event_id': 'BIGINT', 'ts': 'TIMESTAMP', 'user_id': 'BIGINT',
                  'event_type': 'VARCHAR', 'value': 'DOUBLE', 'props': 'VARCHAR'}}))
        WHERE window_start + INTERVAL 1 HOUR <= CAST(? AS TIMESTAMP)
        GROUP BY window_start, event_type""", [watermark])
    got = _fetch_dicts(con, f"""
        SELECT window_start, window_end, event_type, total_value, n_events, avg_value
        FROM read_parquet('{out_path}/**/*.parquet', hive_partitioning = true)""")
    a = Counter(_row_key(r) for r in got)
    b = Counter(_row_key(r) for r in want)
    if a == b:
        return []
    return [f"stream: {sum((a - b).values())} window row(s) not expected, "
            f"{sum((b - a).values())} expected row(s) missing (watermark {watermark})"]
