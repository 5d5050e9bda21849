"""Dump .explain('formatted') for headline queries into plans/r16/.

Usage: python scripts/dump_plans_r16.py <suffix> [query ...]
  suffix names the dump (e.g. "before" / "after"); files are
  plans/r16/<query>_<suffix>.txt under the checkout this script lives
  in. With no query names, dumps every headline row. Planning only
  (no noop write), though builders with eager checkpoints/memoized
  stores still execute those side steps.
"""
from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from bench import HEADLINE
from ds_mapreduce_spark.plans.registry import load_all
from ds_mapreduce_spark.session import get_spark


def main() -> None:
    suffix = sys.argv[1] if len(sys.argv) > 1 else "before"
    names = sys.argv[2:] or HEADLINE
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(ROOT, "plans", "r16")
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("plan-dump-r16")
    registry = load_all()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    for name in names:
        try:
            df = registry[name].fn(spark, sf_dir)
            text = df._jdf.queryExecution().explainString(mode)
        except Exception as exc:  # keep going; record the failure
            text = f"ERROR: {type(exc).__name__}: {exc}"
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(text)
        print(f"dumped {name} ({len(text)} chars)", flush=True)


if __name__ == "__main__":
    main()
