"""Output checks, computed without Spark.

The published canonical table is compared with an independent DuckDB
computation over the generated parquet: the reference semantics (main
board only, non-null close, left joins to the limit and valuation
facts) restated in SQL. Both sides are reduced to a row count and an
order-independent digest, the sum of a per-row hash of the typed
values. Catalog queries are compared row for row with their DuckDB
oracle, the same canonical form the repo's sweep uses.
"""

from __future__ import annotations

import math

import duckdb

# (name, DuckDB type) in the engine's CANONICAL column order.
CANONICAL_COLUMNS = [
    ("code", "VARCHAR"), ("date", "DATE"),
    ("open", "DOUBLE"), ("high", "DOUBLE"), ("low", "DOUBLE"), ("close", "DOUBLE"),
    ("prev_close", "DOUBLE"), ("quote_rate", "DOUBLE"), ("volume", "DOUBLE"), ("turnover", "DOUBLE"),
    ("high_limit", "DOUBLE"), ("low_limit", "DOUBLE"),
    ("turnover_rate", "DOUBLE"), ("turnover_rate_f", "DOUBLE"), ("volume_ratio", "DOUBLE"),
    ("pe", "DOUBLE"), ("pe_ttm", "DOUBLE"), ("pb", "DOUBLE"), ("ps", "DOUBLE"), ("ps_ttm", "DOUBLE"),
    ("dv_ratio", "DOUBLE"), ("dv_ttm", "DOUBLE"),
    ("total_share", "DOUBLE"), ("float_share", "DOUBLE"), ("free_share", "DOUBLE"),
    ("total_mv", "DOUBLE"), ("circ_mv", "DOUBLE"),
    ("name", "VARCHAR"), ("area", "VARCHAR"), ("industry", "VARCHAR"), ("market", "VARCHAR"),
    ("exchange", "VARCHAR"), ("list_date", "DATE"),
]  # fmt: skip
_ROW_HASH = "hash(" + ", ".join(c for c, _ in CANONICAL_COLUMNS) + ")"

_EXPECTED_SQL = """
SELECT d.ts_code AS code, strptime(d.trade_date, '%Y%m%d')::DATE AS date,
       d.open, d.high, d.low, d.close, d.pre_close AS prev_close, d.pct_chg AS quote_rate,
       d.vol AS volume, d.amount AS turnover, l.up_limit AS high_limit, l.down_limit AS low_limit,
       b.turnover_rate, b.turnover_rate_f, b.volume_ratio, b.pe, b.pe_ttm, b.pb, b.ps, b.ps_ttm,
       b.dv_ratio, b.dv_ttm, b.total_share, b.float_share, b.free_share, b.total_mv, b.circ_mv,
       s.name, s.area, s.industry, s.market, s.exchange,
       strptime(s.list_date, '%Y%m%d')::DATE AS list_date
FROM read_parquet('{daily}') d
JOIN read_parquet('{stock_basic}') s ON s.ts_code = d.ts_code AND s.market = '主板'
LEFT JOIN read_parquet('{stk_limit}') l ON l.ts_code = d.ts_code AND l.trade_date = d.trade_date
LEFT JOIN read_parquet('{daily_basic}') b ON b.ts_code = d.ts_code AND b.trade_date = d.trade_date
WHERE d.close IS NOT NULL
"""


def expected_by_day(paths: dict[str, str]) -> list[tuple[str, int, int]]:
    """(yyyy-mm-dd, rows, digest) of the canonical table per trading day."""
    sql = _EXPECTED_SQL.format(**paths)
    with duckdb.connect() as con:
        rows = con.execute(
            f"SELECT date::VARCHAR, count(*), sum({_ROW_HASH})::HUGEINT FROM ({sql}) GROUP BY 1 ORDER BY 1"
        ).fetchall()
    return [(day, n, int(h)) for day, n, h in rows]


def expected_upto(by_day: list[tuple[str, int, int]], last_day: str) -> tuple[int, int]:
    """(rows, digest) of the canonical table up to and including a day."""
    rows = [(n, h) for day, n, h in by_day if day <= last_day]
    return sum(n for n, _ in rows), sum(h for _, h in rows)


def write_canonical_csv(paths: dict[str, str], last_day: str, out: str) -> None:
    """Write the canonical table up to a day as a published CSV, in the
    layout the engine's sinks write: header, ISO dates, empty nulls."""
    sql = _EXPECTED_SQL.format(**paths)
    with duckdb.connect() as con:
        con.execute(
            f"COPY (SELECT * FROM ({sql}) WHERE date <= DATE '{last_day}') "
            f"TO '{out}' (HEADER, DELIMITER ',', NULLSTR '')"
        )


def published_digest(csv_path: str) -> tuple[int, int]:
    """(rows, digest) of a published canonical CSV."""
    cols = "{" + ", ".join(f"'{c}': '{t}'" for c, t in CANONICAL_COLUMNS) + "}"
    with duckdb.connect() as con:
        n, h = con.execute(
            f"SELECT count(*), coalesce(sum({_ROW_HASH}), 0)::HUGEINT "
            f"FROM read_csv('{csv_path}', header = true, columns = {cols})"
        ).fetchone()
    return n, int(h)


def line_count(path: str) -> int:
    with open(path, "rb") as f:
        return sum(chunk.count(b"\n") for chunk in iter(lambda: f.read(1 << 20), b""))


_NULL = "\x00NULL"


def canon(v) -> str:
    """Value canonical form shared with the repo's sweep: floats compare
    by repr, which holds because every catalog query rounds its floats
    with DuckDB semantics on both engines."""
    if v is None:
        return _NULL
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def canonical_rows(cols: list[str], rows: list[tuple]) -> tuple[list[str], list[tuple]]:
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    return sorted(cols[i].lower() for i in order), sorted(tuple(canon(r[i]) for i in order) for r in rows)


class Oracle:
    """DuckDB over a directory of the catalog's parquet tables."""

    def __init__(self, sf_dir: str, tables: list[str]):
        self.con = duckdb.connect()
        for t in tables:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    def mismatch(self, sql: str, cols: list[str], rows: list[tuple]) -> str | None:
        cur = self.con.execute(sql)
        want = canonical_rows([d[0] for d in cur.description], cur.fetchall())
        got = canonical_rows(cols, rows)
        if got[0] != want[0]:
            return f"columns {got[0]} != oracle {want[0]}"
        if got[1] != want[1]:
            return f"{len(got[1])} rows differ from the oracle's {len(want[1])}"
        return None

    def close(self) -> None:
        self.con.close()
