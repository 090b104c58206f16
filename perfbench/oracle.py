"""DuckDB oracles and order-insensitive result comparison.

Registry queries are checked against their own ``oracle`` SQL over the same
directory; the realtime workload is checked against the generator's truth
file. Both sides are reduced to canonical rows (columns in name order) and
compared as multisets; when they differ, both are sorted and compared value
by value, where doubles agree within ``FLOAT_TOL`` (relative or absolute):
one step in the sixth decimal plus float noise. Two engines sum the same
doubles in different orders, and a value rounded at an exact decimal tie can
then land one step apart in its last kept decimal (seen on
``pretrain_corpus_report``: DuckDB's multi-threaded average rounds to
0.712017 or 0.712018 from one run to the next, Spark's to 0.712018).
"""

from __future__ import annotations

import datetime as dt
import decimal
import math
from collections import Counter

import duckdb

CORPUS_TABLES = ("documents", "embeddings")
FLOAT_TOL = 2e-6


def _canon(v):
    t = type(v)
    if t is list or t is tuple:
        return tuple(_canon(x) for x in v)
    if t is decimal.Decimal:
        return float(v)
    if t is dict:
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    return v


def _sort_key(row: tuple) -> tuple:
    # Non-float columns first, then the floats, so that values within
    # tolerance of each other keep the order the other columns give them.
    exact = tuple((0, "") if v is None else (1, v) for v in row if not isinstance(v, float))
    return exact, tuple(v for v in row if isinstance(v, float))


def canon_rows(columns: list[str], rows) -> tuple[list[str], list[tuple]]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return [columns[i] for i in order], [tuple(_canon(r[i]) for i in order) for r in rows]


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return math.isclose(a, b, rel_tol=FLOAT_TOL, abs_tol=FLOAT_TOL)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b and type(a) is type(b)


def diff(got: tuple[list[str], list[tuple]], want: tuple[list[str], list[tuple]]) -> str | None:
    """``None`` when two canonical results agree, else what differs first."""
    (gc, gr), (wc, wr) = got, want
    if gc != wc:
        return f"columns {gc} vs {wc}"
    if len(gr) != len(wr):
        return f"{len(gr)} rows vs {len(wr)}"
    if Counter(gr) == Counter(wr):
        return None
    for g, w in zip(sorted(gr, key=_sort_key), sorted(wr, key=_sort_key)):
        if not _same(g, w):
            return f"row {g} vs {w}"
    return None


def spark_rows(columns: list[str], rows) -> tuple[list[str], list[tuple]]:
    """Canonical form of collected Spark ``Row`` objects."""
    return canon_rows(columns, [tuple(r) for r in rows])


def connect(data_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def query_rows(con: duckdb.DuckDBPyConnection, sql: str) -> tuple[list[str], list[tuple]]:
    cur = con.execute(sql)
    return canon_rows([d[0] for d in cur.description], cur.fetchall())


def registry_oracles(data_dir: str, tables, specs: dict) -> dict[str, tuple | str]:
    """Canonical oracle result of each registry query, or the error that
    stopped the oracle."""
    con = connect(data_dir, tables)
    out: dict[str, tuple | str] = {}
    try:
        for name, spec in specs.items():
            try:
                out[name] = query_rows(con, spec.oracle)
            except duckdb.Error as e:
                out[name] = f"oracle failed: {type(e).__name__}: {e}"
        return out
    finally:
        con.close()


# Expected lakehouse snapshot after cycles [0, n): the latest well-formed
# observation of each (station, train).
_LATEST = """
SELECT station7, CAST(train_num AS BIGINT) AS train_num,
       strptime('{day}', '%Y%m%d') + to_minutes(expected_min) AS expected_ts,
       status
FROM (SELECT *, row_number() OVER (PARTITION BY station7, train_num ORDER BY cycle DESC) AS rn
      FROM read_parquet('{truth}') WHERE cycle < {n})
WHERE rn = 1
"""

# Expected board: every scheduled stop of the day left-joined to its latest
# observation, aggregated per station like ``delay_stats``.
_BOARD = """
WITH active AS (
  SELECT service_id FROM read_csv('{gtfs}/calendar.txt', header=true, all_varchar=true)
  WHERE {weekday} = '1' AND start_date <= '{day}' AND end_date >= '{day}'
  EXCEPT SELECT service_id FROM read_csv('{gtfs}/calendar_dates.txt', header=true, all_varchar=true)
  WHERE date = '{day}' AND exception_type = '2'
), sched AS (
  SELECT st.stop_id AS station7,
         CAST(regexp_extract(st.trip_id, '([0-9]+)', 1) AS BIGINT) AS train_num,
         CAST(split_part(st.departure_time, ':', 1) AS INTEGER) * 60
           + CAST(split_part(st.departure_time, ':', 2) AS INTEGER) AS sched_min
  FROM read_csv('{gtfs}/stop_times.txt', header=true, all_varchar=true) st
  JOIN read_csv('{gtfs}/trips.txt', header=true, all_varchar=true) t USING (trip_id)
  JOIN active USING (service_id)
), obs AS ({latest}), board AS (
  SELECT s.station7,
         CAST(epoch(o.expected_ts) - epoch(strptime('{day}', '%Y%m%d')) - s.sched_min * 60 AS BIGINT) AS delay_s,
         coalesce(o.status, 'unobserved') AS status
  FROM sched s LEFT JOIN obs o USING (station7, train_num)
)
SELECT station7,
       count(*) AS n_passages,
       sum(CASE WHEN status = 'delayed' THEN 1 ELSE 0 END) AS n_delayed,
       sum(CASE WHEN status = 'cancelled' THEN 1 ELSE 0 END) AS n_cancelled,
       avg(delay_s) AS avg_delay_s,
       quantile_cont(delay_s, 0.5) AS median_delay_s,
       max(delay_s) AS max_delay_s
FROM board GROUP BY station7
"""


def realtime_truth(transit_dir: str, day: str, n_cycles: int) -> dict[str, tuple[list[str], list[tuple]]]:
    """Expected lakehouse snapshot and delay board, as canonical rows, once
    cycles ``[0, n_cycles)`` have been merged."""
    weekday = dt.datetime.strptime(day, "%Y%m%d").strftime("%A").lower()
    latest = _LATEST.format(day=day, truth=f"{transit_dir}/truth.parquet", n=n_cycles)
    con = duckdb.connect()
    try:
        return {
            "snapshot": query_rows(con, latest),
            "board": query_rows(
                con,
                _BOARD.format(gtfs=f"{transit_dir}/gtfs", day=day, weekday=weekday, latest=latest),
            ),
        }
    finally:
        con.close()
