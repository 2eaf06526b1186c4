"""Watermark-driven incremental engine (T1-T3).

The reference hand-rolls incrementality: a `.last_update_date` text
file holding a yyyyMMdd high-water mark, a wall-clock day loop from
watermark+1 to today, per-day fetch/skip-if-empty, then
download→UNION ALL→overwrite→upload, and finally advance the watermark
(market/delta_non_fq_daily_kline.py:29-41, 63-108, 135-167).

Spark restatement (the cycle itself is `flows.delta_flow`; this module
holds its building blocks):
- the day loop becomes one date window, (watermark, end], filtered on
  each fact scan and optionally SEMI-joined with the trading calendar
  (the reference HAS the calendar but iterates wall-clock days and
  skips empties — `delta_flow` fixes that); at 100 TB the window
  prunes to exactly the new date partitions instead of touching the
  table. `delta_slice` is the same window over a timestamp column,
- merge modes: 'compat' reproduces the reference's UNION ALL (a crash
  rerun can duplicate (code,date) rows — documented semantics,
  SURVEY.md §2.4 U1); 'merge' is the idempotent upgrade, delta wins:
  the history is anti-joined against the broadcast delta keys and the
  delta appended, so the published table is never shuffled,
- `WatermarkStore` advances only after the sink succeeds, mirroring
  the reference's ordering (upload, then watermark).

Late data: in compat mode a row landing before the watermark is lost
forever, exactly like the reference (SURVEY.md §2.9); `delta_flow`'s
`slack_days` re-opens a trailing window to do strictly better when
merge mode is on.
"""

from __future__ import annotations

import os
from datetime import date, datetime
from functools import reduce
from operator import and_

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

WIRE_FMT = "%Y%m%d"  # yyyyMMdd, as the reference stores it


class WatermarkStore:
    """File-based high-water mark, wire-compatible with the reference's
    `.last_update_date` (one yyyyMMdd line)."""

    def __init__(self, path: str):
        self.path = path

    def read(self) -> date | None:
        if not os.path.exists(self.path):
            return None
        with open(self.path) as f:
            raw = f.read().strip()  # F5: reference strips whitespace
        return datetime.strptime(raw, WIRE_FMT).date() if raw else None

    def write(self, day: date) -> None:
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            f.write(day.strftime(WIRE_FMT))
        os.replace(tmp, self.path)  # atomic advance


def delta_slice(source: DataFrame, ts_col: str, watermark, end=None) -> DataFrame:
    """Partition-pruned incremental slice: rows with ts in (wm, end]."""
    out = source.filter(F.col(ts_col) > F.lit(watermark))
    if end is not None:
        out = out.filter(F.col(ts_col) <= F.lit(end))
    return out


def merge_increment(
    existing: DataFrame,
    delta: DataFrame,
    keys: list[str] | None = None,
    mode: str = "compat",
) -> DataFrame:
    """U1: 'compat' = bag UNION ALL (reference semantics, duplicates
    possible on rerun); 'merge' = idempotent, delta wins on key clash.

    Merge mode drops the existing rows whose key the delta carries
    (a left anti-join against the broadcast delta keys) and appends
    the delta. The delta is the small side — a date window — so the
    history is streamed once in its own partitioning: no shuffle, no
    sort, and its rows keep their order with the delta after them, as
    the reference's `pd.concat([existing, new])` does. Keys compare
    null-safely, so a null key clashes with a null key.

    Duplicates of one key WITHIN a side are not collapsed: existing
    duplicates (a history written in compat mode) pass through unless
    the delta carries their key, and delta duplicates all land."""
    if mode == "compat":
        return existing.unionByName(delta)
    if mode == "merge":
        if not keys:
            raise ValueError("merge mode requires keys")
        # the delta's key columns are renamed so the join condition
        # cannot resolve against `existing` when both share a lineage
        incoming = F.broadcast(delta.select(*[F.col(k).alias(f"__delta_{k}") for k in keys]))
        clash = reduce(and_, [F.col(k).eqNullSafe(F.col(f"__delta_{k}")) for k in keys])
        return existing.join(incoming, clash, "left_anti").unionByName(delta)
    raise ValueError(f"unknown mode: {mode}")
