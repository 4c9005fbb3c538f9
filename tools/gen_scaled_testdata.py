#!/usr/bin/env python
"""Deterministic scaled-up PERF testdata (r16 verdict item 4).

The bench's sf0.1 leg no longer measures data-path work — 17/18 scaling
probes were <=1.02 and the 8-core full run beat the 32-core run (fixed
per-job costs dominate). This tool builds a LARGER dataset so a second,
scale-sensitive bench leg exists: it replicates the driver's sf0.1
tables K times with deterministic key shifts, preserving every
foreign-key relationship, and writes multi-split parquet (so scans plan
real parallelism, unlike the single-row-group driver files).

STRICTLY a measurement instrument:
  - never read by any declared query or by bench.py's sf0.1 contract
    (the output lives outside /root/testdata and is keyed by K);
  - no results are cached anywhere — tools/bench_subset.py recomputes
    every query from these parquet inputs per invocation;
  - correctness at scale is NOT claimed (dirt-case populations and
    duplicate-text rates shift under replication); the oracle gate
    stays at the driver SFs.

Key shifts per replica i (i = 0 keeps the original key values; with
K > 1 its document text still gets the " replica0" suffix, so no
replica repeats the sf0.1 rows bit for bit):
  orders.o_orderkey/lineitem.l_orderkey        += i * 10_000_000
  customer.c_custkey/orders.o_custkey          += i * 1_000_000
  part.p_partkey/lineitem.l_partkey            += i * 1_000_000
  supplier.s_suppkey/lineitem.l_suppkey        += i * 100_000
  events.event_id                              += i * 100_000_000
  events.user_id                               += i * 1_000_000
    (station code = user_id % 120 keeps its 0..119 domain: per-station
     volume grows K-fold, station cardinality stays fixed — the right
     scaling for the hydro pipeline)
  documents.doc_id                             += i * 10_000_000
    (text gets a per-replica suffix token so the corpus does not become
     K exact copies — near-dup clusters would otherwise grow K-fold
     dense and quadratically explode the pair graph)
  embeddings.vec_id                            += i * 10_000_000
    (vectors keep their values; ANN candidate structure repeats per
     replica rather than densifying one neighborhood)
  nation/region: fixed dimensions, copied once.

Usage: python tools/gen_scaled_testdata.py [K] [OUT_DIR]
       defaults: K=10, OUT_DIR=/tmp/testdata_sf1
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, ".")

SHIFTS = {
    "orders": {"o_orderkey": 10_000_000, "o_custkey": 1_000_000},
    "lineitem": {
        "l_orderkey": 10_000_000,
        "l_partkey": 1_000_000,
        "l_suppkey": 100_000,
    },
    "customer": {"c_custkey": 1_000_000},
    "part": {"p_partkey": 1_000_000},
    "supplier": {"s_suppkey": 100_000},
    "events": {"event_id": 100_000_000, "user_id": 1_000_000},
    "documents": {"doc_id": 10_000_000},
    "embeddings": {"vec_id": 10_000_000},
}


def main() -> int:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/testdata_sf1"
    src = "/root/testdata/sf0.1"

    from pyspark.sql import functions as F

    from hrfco_data_pipeline_spark.session import get_spark
    from hrfco_data_pipeline_spark.sources.tables import TABLES, load_table

    spark = get_spark(app_name="gen-scaled-testdata")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(out, exist_ok=True)

    for name in TABLES:
        df = load_table(spark, src, name)
        path = f"{out}/{name}.parquet"
        if name in ("nation", "region"):
            df.coalesce(1).write.mode("overwrite").parquet(path)
            print(f"{name}: copied once")
            continue
        shifts = SHIFTS[name]
        reps = []
        for i in range(k):
            r = df
            for col, step in shifts.items():
                r = r.withColumn(col, F.col(col) + F.lit(i * step))
            if name == "documents" and k > 1:
                # keep replicas near- but not exact-duplicates
                r = r.withColumn(
                    "text",
                    F.concat(F.col("text"), F.lit(f" replica{i}")),
                ).withColumn(
                    "n_chars",
                    F.col("n_chars") + F.lit(len(f" replica{i}")),
                )
            reps.append(r)
        scaled = reps[0]
        for r in reps[1:]:
            scaled = scaled.unionByName(r)
        # multi-split output: real scan parallelism at the bigger SF
        n_out = max(8, min(32, k * 2))
        scaled.repartition(n_out).write.mode("overwrite").parquet(path)
        print(f"{name}: x{k} -> {path}")

    print(f"done: {out} (K={k})")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
