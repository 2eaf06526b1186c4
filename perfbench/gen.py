"""Seeded, vectorized generator of Tushare-shaped source tables.

Writes ``stock_basic``, ``daily``, ``stk_limit``, ``daily_basic`` and
``trade_cal`` as parquet with the column layout of the engine's source
schemas (``a_share_data_pipeline_spark.schemas``). The edge cases of
FIXTURES.md section A are kept at every size:

- a few ``daily`` rows have a null ``close`` (suspended days);
- some (ts_code, trade_date) pairs of ``daily`` are missing from
  ``stk_limit`` and from ``daily_basic``;
- ``pe`` and ``pe_ttm`` are null for loss-making stocks;
- the universe mixes main-board and non-main-board stocks;
- the calendar is Mon-Fri minus holiday gaps.

The same seed gives the same bytes: numpy's PCG64 stream is fixed per
seed and the parquet writer is given fixed options.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

AREAS = np.array(["上海", "深圳", "北京", "广东", "浙江", "江苏", "四川"])
INDUSTRIES = np.array(["银行", "软件", "医药", "汽车", "钢铁", "白酒", "电力", "半导体"])
MARKETS = np.array(["主板", "创业板", "科创板"])
NAME_STEMS = np.array(["浦发", "万科", "茅台", "宁德", "中芯", "平安", "招商", "格力"])

# share of the universe per market; main board is the bulk of the listing
MARKET_P = [0.7, 0.2, 0.1]
NULL_CLOSE_P = 0.01
MISSING_PAIR_P = 0.03
LOSS_MAKING_P = 0.15

TABLES = ("stock_basic", "daily", "stk_limit", "daily_basic", "trade_cal")


def trade_days(rng: np.random.Generator, n_days: int, start: str = "2020-01-02") -> np.ndarray:
    """``n_days`` open days: weekdays from ``start`` minus random holiday
    gaps of 1-5 consecutive weekdays (about one gap per 20 weekdays)."""
    weekdays = np.arange(np.datetime64(start), np.datetime64(start) + 2 * n_days + 400)
    weekdays = weekdays[np.is_busday(weekdays)]
    closed = np.zeros(len(weekdays), dtype=bool)
    for s in np.flatnonzero(rng.random(len(weekdays)) < 0.05):
        closed[s : s + rng.integers(1, 6)] = True
    return weekdays[~closed][:n_days]


def _yyyymmdd(days: np.ndarray) -> np.ndarray:
    return np.char.replace(np.datetime_as_string(days, unit="D"), "-", "")


def generate(seed: int, n_stocks: int, n_days: int) -> dict[str, pa.Table]:
    """All five source tables for one seeded universe."""
    rng = np.random.default_rng(seed)
    days = _yyyymmdd(trade_days(rng, n_days))

    idx = np.arange(n_stocks)
    on_sh = rng.random(n_stocks) < 0.5
    market = rng.choice(MARKETS, n_stocks, p=MARKET_P)
    ts_code = np.char.add(
        np.char.zfill((np.where(on_sh, 600000, 0) + idx).astype(str), 6),
        np.where(on_sh, ".SH", ".SZ"),
    )
    list_date = _yyyymmdd(
        np.datetime64("2000-01-01") + rng.integers(0, 7000, n_stocks).astype("timedelta64[D]")
    )
    stock_basic = pa.table(
        {
            "ts_code": ts_code,
            "name": np.char.add(NAME_STEMS[idx % len(NAME_STEMS)], idx.astype(str)),
            "area": rng.choice(AREAS, n_stocks),
            "industry": rng.choice(INDUSTRIES, n_stocks),
            "market": market,
            "exchange": np.where(on_sh, "SSE", "SZSE"),
            "list_date": list_date,
        }
    )

    # one random-walk close series per stock: rows are stock-major
    n = n_stocks * n_days
    base = rng.uniform(5, 100, n_stocks)
    steps = 1 + rng.normal(0, 0.02, (n_stocks, n_days))
    close = np.round(base[:, None] * np.cumprod(steps, axis=1), 2).ravel()
    pre_close = np.round(
        np.concatenate([base[:, None], close.reshape(n_stocks, n_days)[:, :-1]], axis=1), 2
    ).ravel()
    code_col = np.repeat(ts_code, n_days)
    date_col = np.tile(days, n_stocks)
    close_nullable = pa.array(close, mask=rng.random(n) < NULL_CLOSE_P)
    daily = pa.table(
        {
            "ts_code": code_col,
            "trade_date": date_col,
            "open": np.round(pre_close * (1 + rng.normal(0, 0.005, n)), 2),
            "high": np.round(np.maximum(pre_close, close) * 1.01, 2),
            "low": np.round(np.minimum(pre_close, close) * 0.99, 2),
            "close": close_nullable,
            "pre_close": pre_close,
            "pct_chg": np.round((close - pre_close) / pre_close * 100, 4),
            "vol": rng.integers(1_000, 500_000, n).astype(np.float64),
            "amount": np.round(rng.uniform(1e3, 1e6, n), 3),
        }
    )

    keep = rng.random(n) >= MISSING_PAIR_P
    stk_limit = pa.table(
        {
            "ts_code": code_col[keep],
            "trade_date": date_col[keep],
            "up_limit": np.round(pre_close[keep] * 1.1, 2),
            "down_limit": np.round(pre_close[keep] * 0.9, 2),
        }
    )

    keep = rng.random(n) >= MISSING_PAIR_P
    m = int(keep.sum())
    loss_making = np.repeat(rng.random(n_stocks) < LOSS_MAKING_P, n_days)[keep]
    u = lambda lo, hi, dp: np.round(rng.uniform(lo, hi, m), dp)  # noqa: E731
    daily_basic = pa.table(
        {
            "ts_code": code_col[keep],
            "trade_date": date_col[keep],
            "turnover_rate": u(0.1, 5, 4),
            "turnover_rate_f": u(0.1, 5, 4),
            "volume_ratio": u(0.5, 3, 2),
            "pe": pa.array(u(5, 80, 4), mask=loss_making),
            "pe_ttm": pa.array(u(5, 80, 4), mask=loss_making),
            "pb": u(0.5, 10, 4),
            "ps": u(0.5, 20, 4),
            "ps_ttm": u(0.5, 20, 4),
            "dv_ratio": u(0, 5, 4),
            "dv_ttm": u(0, 5, 4),
            "total_share": u(1e4, 1e6, 4),
            "float_share": u(1e4, 1e6, 4),
            "free_share": u(1e4, 1e6, 4),
            "total_mv": u(1e5, 1e7, 4),
            "circ_mv": u(1e5, 1e7, 4),
        }
    )
    trade_cal = pa.table({"cal_date": days})
    return {
        "stock_basic": stock_basic,
        "daily": daily,
        "stk_limit": stk_limit,
        "daily_basic": daily_basic,
        "trade_cal": trade_cal,
    }


def write(tables: dict[str, pa.Table], out_dir: str) -> dict[str, str]:
    """One parquet file per table; returns name → path."""
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name, table in tables.items():
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, paths[name], compression="snappy", use_dictionary=True)
    return paths
