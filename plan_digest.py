#!/usr/bin/env python
"""Result and plan digests for catalog queries, to prove a refactor
changes neither.

Usage:  python plan_digest.py SF_DIR QUERY [QUERY ...] > digests.json

Run it from two checkouts and diff the outputs. Per query it records
the row count, a hash of the sorted collected rows, and hashes of the
optimized logical plan of the returned frame and of every frame the
query pins with an eager ``localCheckpoint`` while it is built (those
pins cut the returned plan, so the work behind them would otherwise
go unchecked). Expression ids and RDD ids are normalized out, since
they depend on what ran earlier in the session.
"""
import hashlib
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql.classic.dataframe import DataFrame  # noqa: E402

from a_share_data_pipeline_spark.plans.catalog import registry  # noqa: E402
from a_share_data_pipeline_spark.session import get_spark  # noqa: E402


def _sha(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()[:16]


def optimized_plan(df: DataFrame) -> str:
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    plan = re.sub(r"#\d+L?", "#", plan)
    return re.sub(r"\b(\w*RDD)\[\d+\]", r"\1[]", plan)


def main() -> None:
    sf_dir, names = sys.argv[1], sys.argv[2:]
    pinned: list[str] = []
    checkpoint = DataFrame.localCheckpoint

    def recording_checkpoint(self, *args, **kwargs):
        pinned.append(optimized_plan(self))
        return checkpoint(self, *args, **kwargs)

    DataFrame.localCheckpoint = recording_checkpoint
    spark = get_spark("plan-digest")
    queries = registry()
    out = {}
    for name in names:
        pinned.clear()
        df = queries[name].fn(spark, sf_dir)
        rows = sorted(repr(tuple(r)) for r in df.collect())
        out[name] = {
            "rows": len(rows),
            "rows_sha": _sha("\n".join(rows)),
            "plan_sha": _sha(optimized_plan(df)),
            "pinned_plan_shas": [_sha(p) for p in pinned],
        }
    json.dump(out, sys.stdout, indent=1)
    print()


if __name__ == "__main__":
    main()
