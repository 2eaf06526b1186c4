"""Tests of the benchmark itself, run from the root of a checkout:

    python3 -m pytest perfbench/test_perfbench.py -q

The generator test needs no Spark; the counter test starts a session.
"""

from __future__ import annotations

import os
import sys

import pyarrow.compute as pc

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import gen  # noqa: E402


def _bytes(out_dir: str) -> dict[str, bytes]:
    return {t: open(os.path.join(out_dir, f"{t}.parquet"), "rb").read() for t in gen.TABLES}


def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path):
    a = gen.write(gen.generate(7, 40, 30), str(tmp_path / "a"))
    b = gen.write(gen.generate(7, 40, 30), str(tmp_path / "b"))
    c = gen.write(gen.generate(8, 40, 30), str(tmp_path / "c"))
    assert _bytes(os.path.dirname(a["daily"])) == _bytes(os.path.dirname(b["daily"]))
    other = _bytes(os.path.dirname(c["daily"]))
    assert all(other[t] != v for t, v in _bytes(os.path.dirname(a["daily"])).items())


def test_edge_cases_are_present():
    t = gen.generate(3, 200, 60)
    daily, basic, limit = t["daily"], t["daily_basic"], t["stk_limit"]
    assert daily["close"].null_count > 0
    assert limit.num_rows < daily.num_rows and basic.num_rows < daily.num_rows
    assert basic["pe"].null_count > 0 and basic["pe_ttm"].null_count == basic["pe"].null_count
    markets = set(t["stock_basic"]["market"].to_pylist())
    assert "主板" in markets and len(markets) > 1
    days = pc.strptime(t["trade_cal"]["cal_date"], format="%Y%m%d", unit="s").to_pylist()
    gaps = [(b - a).days for a, b in zip(days, days[1:])]
    assert max(gaps) > 3  # a holiday gap longer than a weekend


def test_span_counters_repeat(tmp_path):
    """A tiny backfill plus canonical_assembly at sf0.001, traced twice
    on one session: every span fires the same jobs and tasks."""
    import workloads
    from a_share_data_pipeline_spark import flows
    from a_share_data_pipeline_spark.plans import registry
    from a_share_data_pipeline_spark.session import get_spark
    from a_share_data_pipeline_spark.sources import sinks
    from spans import Tracer

    os.environ["TMPDIR"] = str(tmp_path)
    spark = get_spark("perfbench-test", extra_conf={"spark.ui.showConsoleProgress": "false"})
    tracer = Tracer("test")
    tracer.sc = spark.sparkContext
    workloads.install_spans(tracer)
    try:
        paths = gen.write(gen.generate(1, 30, 20), str(tmp_path / "in"))
        src = workloads.read_sources(spark, paths)
        query = registry()["canonical_assembly"].fn

        def config(k: int) -> list[tuple[str, int, int]]:
            out = tmp_path / f"out{k}"
            op = tracer.open("op")
            flows.backfill_flow(spark, src["daily"], src["stk_limit"], src["daily_basic"], src["stock_basic"],
                                str(out / flows.PRICES_FILE), publisher=sinks.LocalDirPublisher(str(out / "hub")))
            df = tracer.call("plans.canonical_assembly.build", query, spark, workloads.ANALYST_SF)
            tracer.call("plans.canonical_assembly.exec", workloads.evaluate, df)
            tracer.close(op)
            idx = tracer.spans.index(op)
            return [(tracer.spans[i].name, tracer.spans[i].jobs, tracer.spans[i].tasks) for i in tracer.subtree(idx)]

        first, second = config(0), config(1)
        assert first == second
        assert sum(jobs for _, jobs, _ in first) > 0
    finally:
        tracer.restore()
