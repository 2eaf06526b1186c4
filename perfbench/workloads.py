"""The benchmark's three workloads and the metrics they report.

``backfill``
    Repeated full passes of ``backfill_flow`` plus ``calendar_flow``
    into fresh output directories over one seeded universe. The
    three-way composite-key join and one large ``append_csv`` do the
    work; the published table is never re-read.
``nightly_delta``
    A published history, then consecutive trading days of
    ``delta_flow(mode="merge")``. Each day adds few rows but re-reads,
    key-merges and rewrites the whole published table.
``analyst_queries``
    Passes over fixed catalog queries in a seed-permuted order, each
    evaluated with a full xxhash64 pass, as ``bench.py`` does. The
    ``iterative`` class is dominated by fixed-point loops and driver
    round trips; ``single_pass`` by planning, scan, join and the
    Python/Arrow lane. No flow code runs here.

The workloads call only the engine's public functions; spans are
recorded from here (``install_spans``), never inside the package.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import statistics
import time
from collections import defaultdict
from datetime import date, datetime

import checks
import gen
from spans import Tracer, planning_seconds, read_event_log

HERE = os.path.dirname(os.path.abspath(__file__))
ANALYST_SF = os.path.join(HERE, "data", "sf0.001")

BACKFILL_STOCKS, BACKFILL_DAYS = 600, 250
DELTA_STOCKS, DELTA_HISTORY_DAYS, DELTA_SPARE_DAYS = 400, 120, 40
# Operations keep getting faster for a while as the JVM compiles their
# code paths; the warm-up brings them close to steady state.
DELTA_WARMUP_DAYS = 2
GEN_REPEATS = 3

ITERATIVE = ["dedup_components"]
SINGLE_PASS = ["canonical_assembly", "udf_grouped_map"]
CLASSES = {"iterative": ITERATIVE, "single_pass": SINGLE_PASS}
CLASS_OF = {q: cls for cls, qs in CLASSES.items() for q in qs}
ORACLE_TABLES = ["customer", "documents", "lineitem", "nation", "orders", "part", "supplier"]


# --------------------------------------------------------------------------- inputs


def prepare_inputs(run, n_stocks: int, n_days: int) -> dict[str, str]:
    """Generate the seeded universe ``GEN_REPEATS`` times (the median
    counts toward set-up) and return the parquet paths of the last."""
    times = []
    for _ in range(GEN_REPEATS):
        t0 = time.perf_counter()
        paths = gen.write(gen.generate(run.seed, n_stocks, n_days), os.path.join(run.work, "inputs"))
        times.append(time.perf_counter() - t0)
    run.setup_parts["inputs"] = statistics.median(times)
    return paths


def read_sources(spark, paths: dict[str, str]):
    from a_share_data_pipeline_spark import schemas

    schema = {"stock_basic": schemas.STOCK_BASIC, "daily": schemas.DAILY, "stk_limit": schemas.STK_LIMIT,
              "daily_basic": schemas.DAILY_BASIC, "trade_cal": schemas.TRADE_CAL}
    return {name: spark.read.schema(schema[name]).parquet(path) for name, path in paths.items()}


def calendar_days(paths: dict[str, str]) -> list[date]:
    import pyarrow.parquet as pq

    return [datetime.strptime(d, "%Y%m%d").date() for d in pq.read_table(paths["trade_cal"]).column("cal_date").to_pylist()]


def read_watermark(path: str) -> str | None:
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return f.read().strip()


# --------------------------------------------------------------------------- backfill


def backfill(run) -> dict[str, float]:
    from a_share_data_pipeline_spark import flows
    from a_share_data_pipeline_spark.sources import sinks
    from a_share_data_pipeline_spark.streaming.incremental import WatermarkStore

    run.start_session()
    paths = prepare_inputs(run, BACKFILL_STOCKS, BACKFILL_DAYS)
    src = read_sources(run.spark, paths)
    days = calendar_days(paths)
    end = days[-1]
    by_day = checks.expected_by_day(paths)
    rows, digest = checks.expected_upto(by_day, end.isoformat())

    def one_pass(i) -> str:
        out = os.path.join(run.work, f"pass{i}")
        pub = sinks.LocalDirPublisher(os.path.join(out, "hub"))
        wm = WatermarkStore(os.path.join(out, flows.WATERMARK_FILE))
        flows.backfill_flow(run.spark, src["daily"], src["stk_limit"], src["daily_basic"], src["stock_basic"],
                            os.path.join(out, flows.PRICES_FILE), publisher=pub, watermark=wm, end=end)
        flows.calendar_flow(run.spark, src["trade_cal"], os.path.join(out, flows.CALENDAR_FILE), publisher=pub)
        return out

    published: list[str] = []  # the last pass that passed its checks

    def check(i: int, out: str) -> str | None:
        hub = os.path.join(out, "hub")
        if checks.line_count(os.path.join(hub, flows.PRICES_FILE)) != rows + 1:
            return "published row count"
        if checks.line_count(os.path.join(hub, flows.CALENDAR_FILE)) != len(days) + 1:
            return "published calendar length"
        if read_watermark(os.path.join(hub, flows.WATERMARK_FILE)) != end.strftime("%Y%m%d"):
            return "published watermark"
        if published:
            shutil.rmtree(published.pop())
        published.append(out)
        return None

    shutil.rmtree(run.timed_setup("warmup", one_pass, "warmup"))
    run.measure(one_pass, check)
    if published and checks.published_digest(os.path.join(published[0], "hub", flows.PRICES_FILE)) != (rows, digest):
        run.fail("published table differs from the DuckDB computation")
    return {"rows": rows, "backfill_rows_per_s": rows / statistics.median(run.op_times) if run.op_times else 0.0}


# --------------------------------------------------------------------------- nightly delta


def nightly_delta(run) -> dict[str, float]:
    from a_share_data_pipeline_spark import flows
    from a_share_data_pipeline_spark.sources import sinks
    from a_share_data_pipeline_spark.streaming.incremental import WatermarkStore

    run.start_session()
    paths = prepare_inputs(run, DELTA_STOCKS, DELTA_HISTORY_DAYS + DELTA_SPARE_DAYS)
    src = read_sources(run.spark, paths)
    days = calendar_days(paths)
    by_day = checks.expected_by_day(paths)
    rows_upto = lambda d: checks.expected_upto(by_day, d.isoformat())  # noqa: E731

    pub = sinks.LocalDirPublisher(os.path.join(run.work, "hub"))
    wm = WatermarkStore(os.path.join(run.work, flows.WATERMARK_FILE))
    published = pub.download(flows.PRICES_FILE)
    history_end = days[DELTA_HISTORY_DAYS - 1]

    def publish_history() -> None:
        """The table earlier nights left behind, written without the
        engine: a nightly process starts from it and pays nothing for it."""
        checks.write_canonical_csv(paths, history_end.isoformat(), published)
        wm.write(history_end)
        pub.upload(wm.path, flows.WATERMARK_FILE)

    def day(k: int) -> None:
        """Delta day ``k`` after the history."""
        flows.delta_flow(run.spark, src["daily"], src["stk_limit"], src["daily_basic"], src["stock_basic"],
                         os.path.join(run.work, f"stage{k}.csv"), pub, wm, days[DELTA_HISTORY_DAYS + k],
                         calendar=src["trade_cal"], mode="merge")

    def check_day(k: int) -> str | None:
        d = days[DELTA_HISTORY_DAYS + k]
        for f in (f"stage{k}.csv", f"stage{k}.csv.published"):
            if not os.path.exists(os.path.join(run.work, f)):
                return f"{f} was not written"
            os.remove(os.path.join(run.work, f))
        if read_watermark(pub.download(flows.WATERMARK_FILE)) != d.strftime("%Y%m%d"):
            return "watermark did not advance"
        if checks.line_count(published) != rows_upto(d)[0] + 1:
            return "published row count"
        return None

    run.timed_setup("history", publish_history)
    for k in range(DELTA_WARMUP_DAYS):
        run.timed_setup("warmup", day, k)
        if problem := check_day(k):
            run.fail(f"warm-up day {k}: {problem}")
    read_amp = []

    def op(i: int) -> None:
        k = DELTA_WARMUP_DAYS + i
        day(k)
        before = rows_upto(days[DELTA_HISTORY_DAYS + k - 1])[0]
        read_amp.append(before / (rows_upto(days[DELTA_HISTORY_DAYS + k])[0] - before))

    run.measure(op, lambda i, _: check_day(DELTA_WARMUP_DAYS + i))
    last_k = DELTA_WARMUP_DAYS + len(run.op_times) + run.failed - 1
    last_day = days[DELTA_HISTORY_DAYS + last_k]
    want = rows_upto(last_day)
    if checks.published_digest(published) != want:
        run.fail("published table differs from the DuckDB computation")

    # Rerun the last day from the previous watermark: merge mode must
    # leave the published table and the watermark as they were.
    run.attempted += 1
    wm.write(days[DELTA_HISTORY_DAYS + last_k - 1])
    try:
        day(last_k)
        problem = check_day(last_k)
        if problem is None and checks.published_digest(published) != want:
            problem = "rerun changed the published table"
    except Exception as e:  # noqa: BLE001 — a rerun that raises is a failed operation
        problem = f"rerun raised {e!r}"
    if problem:
        run.failed += 1
        run.fail(f"rerun of the last day: {problem}")
    return {"rows": want[0], "days": len(run.op_times), "read_amp": statistics.median(read_amp) if read_amp else 0.0}


# --------------------------------------------------------------------------- analyst queries


def evaluate(df):
    """Full evaluation: xxhash64 over every output column, reduced to a
    row count and an order-independent digest (two 32-bit halves summed
    so the sums cannot overflow). Returns the digest and the evaluated
    DataFrame."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*[F.col(c) for c in df.columns]).alias("h")
    agg = df.select(h).agg(
        F.count("h"), F.coalesce(F.sum(F.col("h").bitwiseAND(0xFFFFFFFF)), F.lit(0)),
        F.coalesce(F.sum(F.shiftrightunsigned("h", 32)), F.lit(0)),
    )
    row = agg.collect()[0]
    return (row[0], row[1], row[2]), agg


def analyst_queries(run) -> dict[str, float]:
    from a_share_data_pipeline_spark.plans import registry

    run.start_session()
    reg = registry()
    order = ITERATIVE + SINGLE_PASS
    random.Random(run.seed).shuffle(order)
    tracer: Tracer | None = run.tracer
    class_times: list[dict[str, float]] = []  # per completed pass: class → seconds

    def run_query(q: str):
        t0 = time.perf_counter()
        if tracer is None:
            df = reg[q].fn(run.spark, ANALYST_SF)
            digest, _ = evaluate(df)
        else:
            df = tracer.call(f"plans.{q}.build", reg[q].fn, run.spark, ANALYST_SF)
            span = tracer.open(f"plans.{q}.exec")
            try:
                digest, evaluated = evaluate(df)
                span.counters["planning_s"] = planning_seconds(evaluated)
            finally:
                tracer.close(span)
        return df, digest, time.perf_counter() - t0

    def one_pass(i: int) -> dict[str, tuple]:
        digests, times = {}, dict.fromkeys(CLASSES, 0.0)
        for q in order:
            _, digests[q], elapsed = run_query(q)
            times[CLASS_OF[q]] += elapsed
        class_times.append(times)
        return digests

    # The warm-up pass also checks each query once against its DuckDB
    # oracle and records the digest every timed pass must match.
    oracle = checks.Oracle(ANALYST_SF, ORACLE_TABLES)
    reference: dict[str, tuple[int, int, int]] = {}
    for q in order:
        df, reference[q], elapsed = run_query(q)
        run.setup_parts["warmup"] = run.setup_parts.get("warmup", 0.0) + elapsed
        problem = oracle.mismatch(reg[q].oracle, df.columns, [tuple(r) for r in df.collect()])
        if problem:
            run.fail(f"{q}: {problem}")
    oracle.close()

    def check(i: int, digests) -> str | None:
        bad = [q for q in order if digests[q] != reference[q]]
        return f"digest differs for {bad}" if bad else None

    run.measure(one_pass, check)
    return {f"{cls}_pass_p50_s": statistics.median(t[cls] for t in class_times) for cls in CLASSES}


WORKLOADS = {"backfill": backfill, "nightly_delta": nightly_delta, "analyst_queries": analyst_queries}


# --------------------------------------------------------------------------- tracing


def install_spans(tracer: Tracer) -> None:
    """Wrap the engine's public functions at module level."""
    from a_share_data_pipeline_spark import flows
    from a_share_data_pipeline_spark.operators import assembly, graph
    from a_share_data_pipeline_spark.sources import readers, sinks
    from a_share_data_pipeline_spark.streaming import incremental

    for name in ("backfill_flow", "delta_flow", "calendar_flow"):
        tracer.wrap(flows, name, f"flows.{name}")
    tracer.wrap(assembly, "assemble_canonical", "operators.assembly.assemble_canonical")
    for name in ("append_csv", "overwrite_csv"):
        tracer.wrap(sinks, name, f"sources.sinks.{name}")
    tracer.wrap(sinks.LocalDirPublisher, "upload", "sources.sinks.upload",
                counters=lambda self, local_path, repo_path: {"bytes_copied": os.path.getsize(local_path)})
    tracer.wrap(readers, "read_csv", "sources.readers.read_csv")
    tracer.wrap(incremental, "merge_increment", "streaming.incremental.merge_increment")
    tracer.wrap(graph, "connected_components", "operators.graph.connected_components")


def layer_metrics(run, summary: dict[str, float]) -> dict[str, float]:
    """Per-layer metrics of a traced run. Each is the median, over the
    timed operations, of the operation's total for that layer, so a
    layer the workload never calls reads 0. Jobs and event-log totals
    of a span include those of its child spans."""
    tracer: Tracer = run.tracer
    spans = tracer.spans
    totals = read_event_log(run.event_log)

    def inclusive(idx: int, key: str) -> float:
        return sum(totals.get(spans[i].group, {}).get(key, 0.0) for i in tracer.subtree(idx))

    per_op = []
    for op in (i for i, s in enumerate(spans) if s.name == "op"):
        m: dict[str, float] = defaultdict(float)
        for i in tracer.subtree(op)[1:]:
            s, sub = spans[i], tracer.subtree(i)
            jobs = sum(spans[j].jobs for j in sub)
            if s.name.startswith("plans."):
                _, q, phase = s.name.split(".")
                cls = CLASS_OF[q]
                m[f"plans.{q}.{phase}_s"] += s.s
                m[f"plans.{q}.{phase}_jobs"] += jobs
                m[f"plans.{cls}.pass_s"] += s.s
                m[f"plans.{cls}.planning_s"] += s.counters.get("planning_s", 0.0)
                for field in ("exec_cpu_s", "gc_s", "exec_run_s", "spill_bytes", "tasks"):
                    m[f"plans.{cls}.{field}"] += inclusive(i, field)
                m[f"plans.{cls}.shuffle_bytes"] += inclusive(i, "shuffle_write_bytes")
                continue
            m[f"{s.name}.s"] += s.s
            m[f"{s.name}.self_s"] += tracer.self_time(i)
            m[f"{s.name}.jobs"] += jobs
            m[f"{s.name}.tasks"] += sum(spans[j].tasks for j in sub)
            for field in ("shuffle_write_bytes", "exec_cpu_s", "bytes_written"):
                m[f"{s.name}.{field}"] += inclusive(i, field)
            for key, value in s.counters.items():
                m[f"{s.name}.{key}"] += value
        for cls in CLASSES:
            run_s = m.pop(f"plans.{cls}.exec_run_s", 0.0)
            if m[f"plans.{cls}.pass_s"]:
                m[f"plans.{cls}.core_util"] = run_s / (m[f"plans.{cls}.pass_s"] * run.nproc)
        new_bytes = m["sources.sinks.append_csv.bytes_written"]
        if m["flows.delta_flow.s"] and new_bytes:
            # bytes a delta day writes (staging, rewrite, publish copy) per byte of new rows
            m["sources.sinks.delta_write_amp"] = (new_bytes + m["sources.sinks.overwrite_csv.bytes_written"]
                                                  + m["sources.sinks.upload.bytes_copied"]) / new_bytes
        m["trace.bookkeeping_s"] = spans[op].counters.get("trace_s", 0.0)
        per_op.append(m)

    out = {k: statistics.median(m.get(k, 0.0) for m in per_op) for k in set().union(*per_op)}
    out["sources.readers.read_amp"] = summary.get("read_amp", 0.0)
    out["session.get_spark.s"] = next(s.s for s in spans if s.name == "session.get_spark")
    out["scratch.leaked_mb"] = summary["leaked_scratch_mb"]
    out["process.peak_rss_mb"] = summary["peak_rss_mb"]
    return out


def contract_metrics(trace: bool, metrics: dict[str, float]) -> dict[str, dict]:
    """The metrics BENCHMARK.json lists for this mode, with their units;
    a listed layer the workload never reached reads 0."""
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    listed = spec["per_layer"] if trace else spec["end_to_end"]
    if trace:
        return {m["name"]: {"value": float(metrics.get(m["name"], 0.0)), "unit": m["unit"]} for m in listed}
    return {m["name"]: {"value": float(metrics[m["name"]]), "unit": m["unit"]} for m in listed}
