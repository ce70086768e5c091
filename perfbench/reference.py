"""Independent reference results and the comparison against the engine.

Exact distinct users per 1-minute window, computed by DuckDB from the
generated files.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime

import duckdb

Windows = dict[datetime, int]


@dataclass(frozen=True)
class Check:
    """Outcome of one comparison: ``errors`` counts windows (or parsed
    frames) that differ from the reference."""

    errors: int
    detail: str = ""


def compare_windows(actual: Windows, expected: Windows) -> Check:
    """Every window must carry exactly the reference count; a window
    missing on either side, or with another count, is one error."""
    good = sum(1 for w, n in actual.items() if expected.get(w) == n)
    errors = len(set(actual) | set(expected)) - good
    bad = sorted(
        (w for w in set(actual) | set(expected) if actual.get(w) != expected.get(w)),
    )[:3]
    detail = "; ".join(f"{w}: engine={actual.get(w)} reference={expected.get(w)}" for w in bad)
    return Check(errors, detail)


def _query(sql: str, params: list) -> Windows:
    con = duckdb.connect()
    try:
        return {w: n for w, n in con.execute(sql, params).fetchall()}
    finally:
        con.close()


def parquet_windows(paths: list[str]) -> Windows:
    """Exact per-window unique users over parquet event files."""
    return _query(
        "SELECT time_bucket(INTERVAL 1 minute, ts) AS w, count(DISTINCT user_id) "
        "FROM read_parquet(?) GROUP BY 1",
        [paths],
    )


# Log-frame values → per-window unique uids: event time from the payload
# ``ts`` (unix seconds); values that are not JSON, lack a numeric ts or carry
# no non-empty uid are dropped.  ``{values}`` yields (value, min_ts).
_FRAMES_SQL = """
    WITH v AS ({values}), frames AS (
        SELECT CASE WHEN json_valid(value)
                    THEN TRY_CAST(json_extract(value, '$.ts') AS BIGINT) END AS sec,
               CASE WHEN json_valid(value)
                    THEN json_extract_string(value, '$.uid') END AS uid,
               min_ts
        FROM v
    )
    SELECT time_bucket(INTERVAL 1 minute, make_timestamp(sec * 1000000)) AS w,
           count(DISTINCT uid)
    FROM frames
    WHERE sec IS NOT NULL AND sec >= min_ts AND uid IS NOT NULL AND uid <> ''
    GROUP BY 1
"""


def stream_windows(files: list[tuple[str, int]]) -> Windows:
    """Exact per-window unique uids over the processed JSON-lines stream
    files, excluding exactly the frames the generator placed beyond the
    watermark: those older than each file's own late cutoff (unix s)."""
    if not files:
        return {}
    values = (
        "SELECT l.value, c.min_ts FROM read_csv(?, columns = {value: 'VARCHAR'}, "
        "header = false, delim = '\t', quote = '', escape = '', filename = true) l "
        "JOIN (SELECT unnest(?::VARCHAR[]) AS f, unnest(?::BIGINT[]) AS min_ts) c "
        "ON l.filename = c.f"
    )
    paths = [p for p, _ in files]
    return _query(_FRAMES_SQL.format(values=values), [paths, paths, [c for _, c in files]])
