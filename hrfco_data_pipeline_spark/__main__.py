"""Command-line entry point: run, list, or explain any registry query.

    python -m hrfco_data_pipeline_spark list [substr]
    python -m hrfco_data_pipeline_spark run <query> [--sf-dir DIR]
        [--limit N] [--json]
    python -m hrfco_data_pipeline_spark explain <query> [--sf-dir DIR]
    python -m hrfco_data_pipeline_spark census [substr] [--sf-dir DIR]

A user of the reference pipeline gets the same surface as a runnable
CLI: `run` executes a query against the parquet tables in --sf-dir and
prints the result (tabular or JSON lines), `explain` prints the
formatted physical plan Catalyst chose, runs the query into the noop
sink, and prints to stderr how many Spark jobs the build and the
execution ran and the JVM's JIT compile ms during each. `census` builds
every registered query whose name contains substr, in one session, and
prints per query the Spark jobs its build ran, then the totals.
"""

from __future__ import annotations

import argparse
import json
import sys


def _registry():
    # __spark_entry__ lives at the repo root (one level above this
    # package), so the CLI works from any cwd
    import os

    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if repo_root not in sys.path:
        sys.path.insert(0, repo_root)
    import __spark_entry__ as entry_mod

    return entry_mod.queries(), entry_mod.oracle_sql()


def _spark(app: str):
    from hrfco_data_pipeline_spark.session import get_spark

    s = get_spark(app_name=app)
    s.sparkContext.setLogLevel("ERROR")
    return s


def _jit_ms(spark) -> int:
    """The driver JVM's JIT compile ms so far (``CompilationMXBean``)."""
    return spark._jvm.java.lang.management.ManagementFactory.getCompilationMXBean().getTotalCompilationTime()


def _jobs(spark, group: str, fn):
    """(what ``fn()`` returns, the Spark jobs it ran), counted in the
    job group ``group`` once the listener bus has caught up with every
    job started."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _build_jobs(spark, name: str, build):
    """(the frame ``build()`` returns, the Spark jobs it ran), counted
    in the job group ``plan-build-<name>``."""
    return _jobs(spark, f"plan-build-{name}", build)


def _explain(spark, name: str, build) -> None:
    """Print the formatted physical plan of ``build()``, run it into the
    noop sink, and note on stderr the Spark jobs and the JVM's JIT
    compile ms of the build and of the execution."""
    jit = _jit_ms(spark)
    df, build_jobs = _build_jobs(spark, name, build)
    build_jit = _jit_ms(spark) - jit
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    print(df._jdf.queryExecution().explainString(mode))
    jit = _jit_ms(spark)
    _, run_jobs = _jobs(spark, f"run-{name}", lambda: df.write.format("noop").mode("overwrite").save())
    print(
        f"note: building the plan of {name} ran {build_jobs} Spark jobs, its execution {run_jobs}; "
        f"JIT compile ms: build {build_jit}, execution {_jit_ms(spark) - jit}",
        file=sys.stderr,
    )


def _census(spark, queries: dict, substr: str, sf_dir: str) -> None:
    total = built = jobless = 0
    for name, fn in queries.items():
        if substr not in name:
            continue
        try:
            _, jobs = _build_jobs(spark, name, lambda: fn(spark, sf_dir))
        except Exception as exc:  # noqa: BLE001 — report and go on
            print(f"{name}\terror {type(exc).__name__}")
            continue
        print(f"{name}\t{jobs}")
        total, built, jobless = total + jobs, built + 1, jobless + (jobs == 0)
    print(f"total\t{total} build jobs over {built} queries; {jobless} ran none")


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="hrfco_data_pipeline_spark")
    sub = p.add_subparsers(dest="cmd", required=True)
    p_list = sub.add_parser("list", help="list registered queries")
    p_list.add_argument("substr", nargs="?", default="")
    for name in ("run", "explain", "census"):
        sp = sub.add_parser(name)
        sp.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    sub.choices["census"].add_argument("substr", nargs="?", default="")
    for name in ("run", "explain"):
        sub.choices[name].add_argument("query")
    sub.choices["run"].add_argument("--limit", type=int, default=20)
    sub.choices["run"].add_argument("--json", action="store_true")
    args = p.parse_args(argv)

    queries, oracles = _registry()
    if args.cmd == "list":
        for name in queries:
            if args.substr in name:
                mark = "" if name in oracles else "  [rows-only]"
                print(f"{name}{mark}")
        return 0
    if args.cmd == "census":
        _census(_spark("cli-census"), queries, args.substr, args.sf_dir)
        return 0

    if args.query not in queries:
        close = [n for n in queries if args.query in n]
        hint = f" (did you mean: {', '.join(close[:5])}?)" if close else ""
        print(f"unknown query {args.query!r}{hint}", file=sys.stderr)
        return 2

    spark = _spark(f"cli-{args.cmd}-{args.query}")
    build = lambda: queries[args.query](spark, args.sf_dir)  # noqa: E731
    if args.cmd == "explain":
        _explain(spark, args.query, build)
        return 0
    # a query may run Spark jobs while its plan is built (collected
    # metadata, materialized intermediates); count them by job group
    df, _ = _build_jobs(spark, args.query, build)
    if args.json:
        for row in df.limit(args.limit).collect():
            print(json.dumps(row.asDict(), default=str))
    else:
        df.show(args.limit, truncate=False)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
