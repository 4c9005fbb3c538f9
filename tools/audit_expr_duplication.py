#!/usr/bin/env python
"""Registry-wide audit: does the optimizer DUPLICATE expensive
expressions?

For every ``__spark_entry__.queries()`` entry, count occurrences of
expensive expression kinds (timestamp parses, regexes, JSON parses,
formatters) in the ANALYZED plan (what the query author wrote) vs the
OPTIMIZED plan (what will execute). Optimized > analyzed means a
rewrite — usually PushDownPredicates substituting a derived column
into a pushed filter, or CollapseProject inlining a multi-use alias —
multiplied per-row work (see SCALE.md §Optimizer traps, r6). Plans are
only compiled, never executed, so the full registry audits in minutes.

A nonzero delta is a SMELL, not automatically a bug: the duplicate may
sit on a tiny side of a join, or the pushed copy may enable a real
partition prune on a STORED column. Triage top offenders by hand; fix
with functions/hints.no_pushdown only where the filter buys no I/O.

Usage: python tools/audit_expr_duplication.py [sf_dir] [query ...]
"""

from __future__ import annotations

import re
import sys

sys.path.insert(0, ".")

# token -> what it costs per evaluation
EXPENSIVE = [
    "ts_parse",       # timestamp parse (DateTimeFormatter)
    "date_format",    # timestamp render
    "rlike",          # regex match
    "regexp_",        # regex extract/replace
    "from_json",      # JSON parse
    "format_string",  # printf
    "get_json_object",
]


def counts(plan: str) -> dict[str, int]:
    # The optimized plan renders parses as gettimestamp(..., try_to_timestamp,
    # ...) while the analyzed plan shows try_to_timestamp(...)/to_timestamp(...)
    # — normalize both spellings to ONE ts_parse token, counting each parse
    # call once (gettimestamp's rendering embeds the function name as an
    # argument, which would otherwise double-count).
    plan = plan.replace(", try_to_timestamp,", ",")  # embedded fn-name arg
    plan = re.sub(r"(?:gettimestamp|(?:try_)?to_timestamp(?:_ntz|_ltz)?)\(",
                  "ts_parse(", plan)
    return {t: len(re.findall(t, plan, re.I)) for t in EXPENSIVE}


def main() -> int:
    from hrfco_data_pipeline_spark.session import get_spark
    import __spark_entry__ as entry_mod

    args = sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    spark = get_spark(app_name="audit-expr-dup")
    spark.sparkContext.setLogLevel("ERROR")

    flagged = []
    for name, fn in entry_mod.queries().items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, sf_dir)
            qe = df._jdf.queryExecution()
            a = counts(qe.analyzed().toString())
            o = counts(qe.optimizedPlan().toString())
        except Exception as e:  # driver-loop queries execute eagerly etc.
            print(f"{name:36s} SKIP ({type(e).__name__})")
            continue
        deltas = {t: o[t] - a[t] for t in EXPENSIVE if o[t] > a[t]}
        if deltas:
            flagged.append((sum(deltas.values()), name, deltas))
            print(f"{name:36s} DUP  {deltas}")
    print()
    if flagged:
        flagged.sort(reverse=True)
        print(f"{len(flagged)} queries with optimizer-duplicated "
              "expensive expressions; worst first:")
        for total, name, deltas in flagged[:15]:
            print(f"  {name:36s} +{total}  {deltas}")
    else:
        print("no optimizer-introduced duplication of expensive "
              "expressions anywhere in the registry")
    return 0


if __name__ == "__main__":
    sys.exit(main())
