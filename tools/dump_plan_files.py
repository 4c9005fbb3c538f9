#!/usr/bin/env python
"""Dump .explain("formatted") for named queries into a directory.

Usage: python tools/dump_plan_files.py OUTDIR SUFFIX QUERY [QUERY ...]

Writes OUTDIR/<query>_<SUFFIX>.txt. Used by the optimization rounds to
commit before/after plan evidence (plans/r16/<query>_{before,after}.txt).
A query named in tools/dump_plans.LAZY_OVERRIDES is dumped in its lazy
shape (e.g. nation_trade_pagerank with iters=1, materialize=False),
since its registered form leaves a bare ExistingRDD plan.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.getcwd())


def main() -> int:
    if len(sys.argv) < 4:
        print("usage: python tools/dump_plan_files.py OUTDIR SUFFIX Q [...]")
        return 2
    outdir, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    os.makedirs(outdir, exist_ok=True)

    import __spark_entry__ as entry_mod
    from hrfco_data_pipeline_spark.session import get_spark
    from tools.dump_plans import LAZY_OVERRIDES

    spark = get_spark(app_name="dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    queries = entry_mod.queries()
    for name in names:
        df = LAZY_OVERRIDES.get(name, queries[name])(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print("wrote", path)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
