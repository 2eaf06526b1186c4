"""Golden pipeline tests (SURVEY.md §5.1): the Spark engine vs pandas
goldens computed with the reference's own operations — covering J1/J2/J3
join semantics, P4/P5 filters, P3 renames, S9/S10 sink semantics, U1
rerun duplication, and T1 watermark advance/late-data drop."""

from __future__ import annotations

import datetime as dt
import uuid

import pandas as pd
import pytest

from a_share_data_pipeline_spark import flows
from a_share_data_pipeline_spark.operators import assembly
from a_share_data_pipeline_spark.schemas import (
    CANONICAL,
    DAILY,
    DAILY_BASIC,
    STK_LIMIT,
    STOCK_BASIC,
    TRADE_CAL,
)
from a_share_data_pipeline_spark.sources import sinks
from a_share_data_pipeline_spark.sources.readers import read_csv
from a_share_data_pipeline_spark.streaming.incremental import WatermarkStore, merge_increment

import fixtures_ashare as FX


@pytest.fixture(scope="module")
def fixture_pdfs():
    cal = FX.gen_trade_cal()
    basic = FX.gen_stock_basic()
    daily, limit, dbasic = FX.gen_facts(basic, cal)
    return {"cal": cal, "stock_basic": basic, "daily": daily, "limit": limit, "dbasic": dbasic}


@pytest.fixture(scope="module")
def fixture_sdfs(spark, fixture_pdfs):
    p = fixture_pdfs
    return {
        "cal": spark.createDataFrame(p["cal"], TRADE_CAL),
        "stock_basic": spark.createDataFrame(p["stock_basic"], STOCK_BASIC),
        "daily": spark.createDataFrame(p["daily"], DAILY),
        "limit": spark.createDataFrame(p["limit"], STK_LIMIT),
        "dbasic": spark.createDataFrame(p["dbasic"], DAILY_BASIC),
    }


def _norm(pdf: pd.DataFrame) -> pd.DataFrame:
    out = pdf.sort_values(["code", "date"]).reset_index(drop=True)
    return out[FX.CANONICAL_ORDER]


def assert_matches_golden(spark_df, golden: pd.DataFrame):
    got = _norm(spark_df.toPandas())
    want = _norm(golden)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_backfill_matches_reference_golden(fixture_sdfs, fixture_pdfs):
    """J1+J2+P4+P5+P3 chain ≡ the reference's per-stock pandas dataflow."""
    s = fixture_sdfs
    out = assembly.assemble_canonical(
        s["daily"], s["limit"], s["dbasic"], s["stock_basic"], mode="backfill"
    )
    golden = FX.golden_backfill(
        fixture_pdfs["daily"],
        fixture_pdfs["limit"],
        fixture_pdfs["dbasic"],
        fixture_pdfs["stock_basic"],
    )
    assert len(golden) > 0
    assert_matches_golden(out, golden)


def test_delta_matches_reference_golden(fixture_sdfs, fixture_pdfs):
    """Inner dim join doubles as main-board filter (J3)."""
    cal_days = list(fixture_pdfs["cal"]["cal_date"])
    after, until = cal_days[19], cal_days[-1]
    s = fixture_sdfs
    from pyspark.sql import functions as F

    rng = lambda df: df.filter(  # noqa: E731
        (F.col("trade_date") > after) & (F.col("trade_date") <= until)
    )
    out = assembly.assemble_canonical(
        rng(s["daily"]), rng(s["limit"]), rng(s["dbasic"]), s["stock_basic"], mode="delta"
    )
    golden = FX.golden_delta(
        fixture_pdfs["daily"],
        fixture_pdfs["limit"],
        fixture_pdfs["dbasic"],
        fixture_pdfs["stock_basic"],
        after,
        until,
    )
    assert len(golden) > 0
    assert_matches_golden(out, golden)


def test_nonmain_board_rows_excluded(fixture_sdfs):
    """P4: no 创业板/科创板 rows survive either mode."""
    s = fixture_sdfs
    for mode in ("backfill", "delta"):
        out = assembly.assemble_canonical(
            s["daily"], s["limit"], s["dbasic"], s["stock_basic"], mode=mode
        )
        assert out.filter(out.market != "主板").count() == 0


def test_csv_append_header_once(spark, fixture_sdfs, tmp_path):
    """S9: two appends → one header, sum of row counts."""
    out = assembly.assemble_canonical(
        fixture_sdfs["daily"],
        fixture_sdfs["limit"],
        fixture_sdfs["dbasic"],
        fixture_sdfs["stock_basic"],
    )
    n = out.count()
    path = str(tmp_path / "all-prices.csv")
    sinks.append_csv(out, path)
    sinks.append_csv(out, path)
    with open(path) as f:
        lines = f.readlines()
    header = ",".join(out.columns)
    assert lines[0].strip() == header
    assert sum(1 for ln in lines if ln.strip() == header) == 1
    assert len(lines) == 2 * n + 1
    # and it round-trips through the schema'd reader
    back = read_csv(spark, path, CANONICAL)
    assert back.count() == 2 * n


def test_backfill_flow_end_to_end(spark, fixture_sdfs, tmp_path):
    """Flow 1: append + publish + initial watermark (S9/S11/T1)."""
    pub = sinks.LocalDirPublisher(str(tmp_path / "hub"))
    wm = WatermarkStore(str(tmp_path / ".last_update_date"))
    end = dt.date(2024, 2, 9)
    s = fixture_sdfs
    out = flows.backfill_flow(
        spark,
        s["daily"],
        s["limit"],
        s["dbasic"],
        s["stock_basic"],
        str(tmp_path / "all-prices.csv"),
        publisher=pub,
        watermark=wm,
        end=end,
    )
    assert pub.exists(flows.PRICES_FILE)
    assert pub.exists(flows.WATERMARK_FILE)
    assert wm.read() == end
    published = read_csv(spark, pub.download(flows.PRICES_FILE), CANONICAL)
    assert published.count() == out.count()


def test_delta_flow_rerun_duplicates_in_compat_mode(spark, fixture_sdfs, fixture_pdfs, tmp_path):
    """A9/U1: running the same delta twice duplicates (code,date) rows in
    the published artifact — the reference's documented crash-rerun
    semantics (UNION ALL, no dedup)."""
    cal_days = list(fixture_pdfs["cal"]["cal_date"])
    wm_day = dt.datetime.strptime(cal_days[19], "%Y%m%d").date()
    end = dt.datetime.strptime(cal_days[-1], "%Y%m%d").date()
    pub = sinks.LocalDirPublisher(str(tmp_path / "hub"))
    s = fixture_sdfs

    def run(i: int):
        wm = WatermarkStore(str(tmp_path / f".wm{i}"))
        wm.write(wm_day)  # reset watermark → simulated rerun
        return flows.delta_flow(
            spark,
            s["daily"],
            s["limit"],
            s["dbasic"],
            s["stock_basic"],
            str(tmp_path / f"delta{i}.csv"),
            pub,
            wm,
            end,
            calendar=s["cal"],
        )

    d1 = run(1)
    n = d1.count()
    assert n > 0
    run(2)
    published = read_csv(spark, pub.download(flows.PRICES_FILE), CANONICAL)
    assert published.count() == 2 * n  # bag union kept both runs
    dup = published.groupBy("code", "date").count().filter("count > 1")
    assert dup.count() > 0


def test_delta_flow_drops_late_data_in_compat(spark, fixture_sdfs, fixture_pdfs, tmp_path):
    """§2.9: rows at/before the watermark never enter the delta — the
    reference loses them forever; compat mode reproduces that."""
    cal_days = list(fixture_pdfs["cal"]["cal_date"])
    wm_day = dt.datetime.strptime(cal_days[19], "%Y%m%d").date()
    end = dt.datetime.strptime(cal_days[-1], "%Y%m%d").date()
    pub = sinks.LocalDirPublisher(str(tmp_path / "hub"))
    wm = WatermarkStore(str(tmp_path / ".wm"))
    wm.write(wm_day)
    s = fixture_sdfs
    delta = flows.delta_flow(
        spark,
        s["daily"],
        s["limit"],
        s["dbasic"],
        s["stock_basic"],
        str(tmp_path / "delta.csv"),
        pub,
        wm,
        end,
        calendar=s["cal"],
    )
    late_cutoff = wm_day.isoformat()
    assert delta.filter(delta.date <= late_cutoff).count() == 0
    assert wm.read() == end  # advanced only after publish


def test_delta_flow_empty_range_no_publish_no_advance(spark, fixture_sdfs, tmp_path):
    """P6/T3: nothing pending → no artifact, watermark unchanged."""
    pub = sinks.LocalDirPublisher(str(tmp_path / "hub"))
    wm = WatermarkStore(str(tmp_path / ".wm"))
    frozen = dt.date(2030, 1, 1)
    wm.write(frozen)
    s = fixture_sdfs
    out = flows.delta_flow(
        spark,
        s["daily"],
        s["limit"],
        s["dbasic"],
        s["stock_basic"],
        str(tmp_path / "delta.csv"),
        pub,
        wm,
        dt.date(2030, 1, 5),
    )
    assert out is None
    assert not pub.exists(flows.PRICES_FILE)
    assert wm.read() == frozen


def test_calendar_flow_sorted(spark, fixture_sdfs, tmp_path):
    """Flow 3: published calendar is ascending dates (O1)."""
    pub = sinks.LocalDirPublisher(str(tmp_path / "hub"))
    cal = flows.calendar_flow(
        spark, fixture_sdfs["cal"], str(tmp_path / "calendar.csv"), publisher=pub
    )
    pdf = cal.toPandas()
    assert list(pdf["cal_date"]) == sorted(pdf["cal_date"])
    assert pub.exists(flows.CALENDAR_FILE)


def test_cjk_literals_survive_csv_and_parquet_roundtrip(spark, fixture_sdfs, tmp_path):
    """SURVEY §4: the 主板 predicate must keep working after the data
    round-trips both at-rest formats (UTF-8 in CSV, dictionary-encoded
    parquet)."""
    out = assembly.assemble_canonical(
        fixture_sdfs["daily"],
        fixture_sdfs["limit"],
        fixture_sdfs["dbasic"],
        fixture_sdfs["stock_basic"],
    )
    n = out.count()
    assert n > 0

    csv_path = str(tmp_path / "roundtrip.csv")
    sinks.overwrite_csv(out, csv_path)
    back_csv = read_csv(spark, csv_path, CANONICAL)
    assert back_csv.filter(back_csv.market == "主板").count() == n
    assert back_csv.filter(back_csv.market != "主板").count() == 0

    pq_path = str(tmp_path / "roundtrip_parquet")
    out.write.mode("overwrite").parquet(pq_path)
    back_pq = spark.read.parquet(pq_path)
    assert back_pq.filter(back_pq.market == "主板").count() == n
    # CJK name/area/industry values intact after both round-trips
    sample_csv = {r.name for r in back_csv.select("name").distinct().collect()}
    sample_pq = {r.name for r in back_pq.select("name").distinct().collect()}
    assert sample_csv == sample_pq
    assert any("银行" in s or "茅台" in s or "万科" in s for s in sample_pq)


def test_delta_flow_merge_mode_recovers_late_data_idempotently(
    spark, fixture_sdfs, fixture_pdfs, tmp_path
):
    """A8 upgrade path (§2.9): merge mode with watermark slack re-reads
    a trailing window, picks up a late backfilled row the reference
    would lose, and dedups on (code, date) — rerunning changes nothing."""
    import pandas as pd
    from pyspark.sql import functions as F

    cal_days = list(fixture_pdfs["cal"]["cal_date"])
    wm_day = dt.datetime.strptime(cal_days[19], "%Y%m%d").date()
    end = dt.datetime.strptime(cal_days[-1], "%Y%m%d").date()
    pub = sinks.LocalDirPublisher(str(tmp_path / "hub"))
    s = fixture_sdfs

    def run(i, mode, daily, slack=0):
        wm = WatermarkStore(str(tmp_path / f".wm{i}"))
        wm.write(wm_day)
        return flows.delta_flow(
            spark, daily, s["limit"], s["dbasic"], s["stock_basic"],
            str(tmp_path / f"delta{i}.csv"), pub, wm, end,
            calendar=s["cal"], mode=mode, slack_days=slack,
        )

    base = run(1, "compat", s["daily"])
    n_base = read_csv(spark, pub.download(flows.PRICES_FILE), CANONICAL).count()
    assert base.count() == n_base

    # a "late" row lands for a day INSIDE the already-processed window:
    # day 18 < watermark (day 20) — compat would lose it forever
    main_board_code = (
        fixture_pdfs["stock_basic"]
        .loc[lambda d: d["market"] == "主板", "ts_code"]
        .iloc[0]
    )
    late_day = cal_days[17]
    late = pd.DataFrame(
        [{
            "ts_code": main_board_code, "trade_date": late_day,
            "open": 10.0, "high": 11.0, "low": 9.0, "close": 10.5,
            "pre_close": 10.0, "pct_chg": 5.0, "vol": 1000.0, "amount": 10500.0,
        }]
    )
    # the late row must not already exist in daily for that (code, day)
    daily_with_late = s["daily"].filter(
        ~((F.col("ts_code") == main_board_code) & (F.col("trade_date") == late_day))
    ).unionByName(spark.createDataFrame(late, DAILY))

    # slack window re-opens back past day 18 (wm - 5 calendar days)
    slack = (wm_day - dt.datetime.strptime(late_day, "%Y%m%d").date()).days + 1
    run(2, "merge", daily_with_late, slack=slack)
    published = read_csv(spark, pub.download(flows.PRICES_FILE), CANONICAL)
    late_date_iso = dt.datetime.strptime(late_day, "%Y%m%d").date().isoformat()
    got_late = published.filter(
        (published.code == main_board_code) & (published.date == late_date_iso)
    )
    assert got_late.count() == 1
    assert abs(got_late.collect()[0].close - 10.5) < 1e-9
    # idempotent: no (code, date) duplicates anywhere after the merge
    assert published.groupBy("code", "date").count().filter("count > 1").count() == 0

    # rerun the SAME merge → nothing changes (fixed point)
    n_after = published.count()
    run(3, "merge", daily_with_late, slack=slack)
    again = read_csv(spark, pub.download(flows.PRICES_FILE), CANONICAL)
    assert again.count() == n_after
    assert again.groupBy("code", "date").count().filter("count > 1").count() == 0


def test_delta_skips_day_when_any_fact_empty(spark, fixture_sdfs, fixture_pdfs):
    """Reference parity (market/delta_non_fq_daily_kline.py:84): the
    per-day loop 'continue's when any of the three fetches is empty, so
    a date with zero stk_limit rows must vanish from the DELTA output
    entirely — while BACKFILL keeps it with null limit columns (the
    reference's outer concat does too)."""
    from pyspark.sql import functions as F

    s = fixture_sdfs
    drop_date = sorted(fixture_pdfs["limit"]["trade_date"].unique())[1]
    limit_missing_day = s["limit"].filter(F.col("trade_date") != drop_date)

    delta = assembly.assemble_canonical(
        s["daily"], limit_missing_day, s["dbasic"], s["stock_basic"], mode="delta"
    )
    gone = dt.datetime.strptime(drop_date, "%Y%m%d").date()
    assert delta.filter(F.col("date") == F.lit(gone)).count() == 0
    # other days unaffected
    assert delta.count() > 0

    backfill = assembly.assemble_canonical(
        s["daily"], limit_missing_day, s["dbasic"], s["stock_basic"], mode="backfill"
    )
    kept = backfill.filter(F.col("date") == F.lit(gone))
    assert kept.count() > 0
    assert kept.filter(F.col("high_limit").isNotNull()).count() == 0


class _FailingPublisher(sinks.LocalDirPublisher):
    """upload() raises — models a hub outage mid-publish."""

    def upload(self, local_path: str, repo_path: str) -> None:
        raise IOError("hub unavailable")


def test_publish_failure_does_not_advance_watermark(spark, fixture_sdfs, tmp_path):
    """T1 transactional ordering (the reference's one real guarantee,
    market/delta_non_fq_daily_kline.py:159-167): the watermark advances
    ONLY after publish success. A failing publisher must surface the
    error and leave the watermark untouched, so the next run re-covers
    the same window."""
    pub = _FailingPublisher(str(tmp_path / "hub"))
    wm = WatermarkStore(str(tmp_path / ".wm"))
    frozen = dt.date(2024, 1, 2)
    wm.write(frozen)
    s = fixture_sdfs
    with pytest.raises(IOError, match="hub unavailable"):
        flows.delta_flow(
            spark,
            s["daily"],
            s["limit"],
            s["dbasic"],
            s["stock_basic"],
            str(tmp_path / "delta.csv"),
            pub,
            wm,
            dt.date(2030, 1, 1),
        )
    assert wm.read() == frozen  # not advanced past the failed publish


def test_csv_append_to_empty_file_writes_header(spark, fixture_sdfs, tmp_path):
    """S9: a 0-byte target (an interrupted first write) is still a first
    write — without the header, a header=true read eats the first row."""
    rows = spark.createDataFrame(
        [("600000.SH", dt.date(2024, 1, 2)), ("600001.SH", dt.date(2024, 1, 3))],
        "code string, date date",
    )
    path = tmp_path / "all-prices.csv"
    path.write_text("")
    sinks.append_csv(rows, str(path))
    lines = path.read_text().splitlines()
    assert lines[0] == "code,date"
    assert len(lines) == 3
    back = spark.read.options(header="true").schema(rows.schema).csv(str(path))
    assert back.count() == 2


def _delta_day(spark, s, tmp_path, pub, name, wm_day, end, mode, slack=0):
    wm = WatermarkStore(str(tmp_path / f".wm-{name}"))
    wm.write(wm_day)
    return flows.delta_flow(
        spark, s["daily"], s["limit"], s["dbasic"], s["stock_basic"],
        str(tmp_path / f"{name}.csv"), pub, wm, end,
        calendar=s["cal"], mode=mode, slack_days=slack,
    )


def _cal_date(fixture_pdfs, i: int) -> dt.date:
    return dt.datetime.strptime(fixture_pdfs["cal"]["cal_date"].iloc[i], "%Y%m%d").date()


@pytest.mark.parametrize(
    "mode,slack", [("compat", 3), ("merge", -2)], ids=["compat-positive", "merge-negative"]
)
def test_delta_flow_rejects_slack_the_mode_cannot_honour(
    spark, fixture_sdfs, fixture_pdfs, tmp_path, mode, slack
):
    """Compat mode has no slack window, and a negative slack in merge
    mode would start the window past the watermark, skipping days while
    the watermark still advances. Both fail before any side effect."""
    pub = sinks.LocalDirPublisher(str(tmp_path / "hub"))
    wm_day = _cal_date(fixture_pdfs, 19)
    with pytest.raises(ValueError, match="slack_days"):
        _delta_day(spark, fixture_sdfs, tmp_path, pub, "d", wm_day,
                   _cal_date(fixture_pdfs, -1), mode, slack)
    assert not pub.exists(flows.PRICES_FILE)
    assert WatermarkStore(str(tmp_path / ".wm-d")).read() == wm_day


_KV = "k string, d string, v double"


def _rows(df) -> list[tuple]:
    return sorted(map(tuple, df.collect()), key=repr)


def test_merge_delta_wins_and_other_rows_pass_through(spark):
    """U1 merge: a clashing key takes the delta row; existing rows whose
    key the delta lacks come through unchanged; new keys are added."""
    existing = spark.createDataFrame(
        [("a", "1", 1.0), ("a", "2", 2.0), ("b", "1", 3.0)], _KV
    )
    delta = spark.createDataFrame([("a", "2", 20.0), ("c", "1", 5.0)], _KV)
    out = merge_increment(existing, delta, keys=["k", "d"], mode="merge")
    assert out.columns == existing.columns
    assert _rows(out) == _rows(
        spark.createDataFrame(
            [("a", "1", 1.0), ("a", "2", 20.0), ("b", "1", 3.0), ("c", "1", 5.0)], _KV
        )
    )


def test_merge_same_delta_twice_is_a_fixed_point(spark):
    existing = spark.createDataFrame([("a", "1", 1.0), ("b", "1", 3.0)], _KV)
    delta = spark.createDataFrame([("a", "1", 9.0), ("c", "1", 5.0)], _KV)
    once = merge_increment(existing, delta, keys=["k", "d"], mode="merge")
    twice = merge_increment(once, delta, keys=["k", "d"], mode="merge")
    assert _rows(twice) == _rows(once)
    # both sides sharing one lineage is the degenerate rerun
    assert _rows(merge_increment(delta, delta, keys=["k", "d"], mode="merge")) == _rows(delta)


def test_merge_null_keys_group_like_the_window(spark):
    """Keys compare null-safely, as `partitionBy` grouped them: a null
    key part clashes with a null in the same place and nothing else."""
    existing = spark.createDataFrame(
        [(None, "1", 1.0), ("a", None, 2.0), (None, None, 3.0), ("a", "1", 4.0)], _KV
    )
    delta = spark.createDataFrame([(None, "1", 10.0), (None, None, 30.0)], _KV)
    out = merge_increment(existing, delta, keys=["k", "d"], mode="merge")
    assert _rows(out) == _rows(
        spark.createDataFrame(
            [(None, "1", 10.0), ("a", None, 2.0), (None, None, 30.0), ("a", "1", 4.0)], _KV
        )
    )


def test_merge_plan_broadcasts_delta_keys_and_never_shuffles_history(spark, tmp_path):
    """The history is anti-joined against the broadcast delta keys: no
    window, no hash-partitioning exchange over the published table."""
    path = str(tmp_path / "history.csv")
    sinks.overwrite_csv(spark.createDataFrame([("a", "1", 1.0), ("b", "1", 3.0)], _KV), path)
    existing = spark.read.options(header="true").schema(_KV).csv(path)
    delta = spark.createDataFrame([("a", "1", 9.0)], _KV)
    merged = merge_increment(existing, delta, keys=["k", "d"], mode="merge")
    plan = merged._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
    assert "hashpartitioning" not in plan, plan
    assert any("BroadcastHashJoin" in ln and "LeftAnti" in ln for ln in plan.splitlines()), plan


def test_delta_flow_merge_keeps_published_order_then_appends_delta(
    spark, fixture_sdfs, fixture_pdfs, tmp_path
):
    """A merge-mode day with no key clash rewrites the published rows
    first, in their previous order, then the delta — the reference's
    `pd.concat([existing, new])`."""
    pub = sinks.LocalDirPublisher(str(tmp_path / "hub"))
    s = fixture_sdfs
    _delta_day(spark, s, tmp_path, pub, "history", _cal_date(fixture_pdfs, 9),
               _cal_date(fixture_pdfs, 19), "compat")
    with open(pub.download(flows.PRICES_FILE)) as f:
        before = f.read().splitlines()
    delta = _delta_day(spark, s, tmp_path, pub, "day", _cal_date(fixture_pdfs, 19),
                       _cal_date(fixture_pdfs, -1), "merge")
    with open(pub.download(flows.PRICES_FILE)) as f:
        after = f.read().splitlines()
    with open(tmp_path / "day.csv") as f:
        staged = f.read().splitlines()
    n_delta = delta.count()
    assert len(before) > 1 and n_delta > 0
    assert after[: len(before)] == before
    assert after[len(before):] == staged[1:]
    assert len(after) == len(before) + n_delta


# One merge-mode `delta_flow` day with AQE off. Pinning the delta once
# and merging by broadcast anti-join took this from 21 jobs to 11: the
# delta plan used to run for `isEmpty`, for the staging append and again
# inside the windowed merge. A second evaluation of the delta fails here.
_DELTA_FLOW_JOBS = 11


def test_delta_flow_merge_day_job_count(spark, fixture_sdfs, fixture_pdfs, tmp_path):
    pub = sinks.LocalDirPublisher(str(tmp_path / "hub"))
    s = fixture_sdfs
    _delta_day(spark, s, tmp_path, pub, "history", _cal_date(fixture_pdfs, 9),
               _cal_date(fixture_pdfs, 19), "compat")
    sc = spark.sparkContext
    group = f"{uuid.uuid4().hex}-delta_flow"
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        sc.setJobGroup(group, "delta_flow")
        try:
            _delta_day(spark, s, tmp_path, pub, "day", _cal_date(fixture_pdfs, 19),
                       _cal_date(fixture_pdfs, -1), "merge")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    # jobs reach the status tracker through the asynchronous listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == _DELTA_FLOW_JOBS
