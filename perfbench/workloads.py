"""The benchmark workloads, driven through the engine's public
functions only: ``session.get_spark``, ``streaming.pipeline.run_stream``,
``__spark_entry__.queries()`` and the ``sources`` / ``operators`` /
``sinks`` functions they call.

Each workload returns a ``Result``: end-to-end metrics (always
computed), per-layer metrics (traced runs only), operation counts and
the output check.
"""

from __future__ import annotations

import glob
import os
import random
import shutil
import statistics
import time
from collections import Counter
from dataclasses import dataclass, field

from perfbench import gen
from perfbench.stats import cpu_ticks, mix_median, peak_rss_mb, steal_pct, tail_percentile, tree_cpu_s
from perfbench.trace import Tracer, Work, merge, read_event_log, self_times

CORES = 4  # local[4]: fixed, so a bigger host still measures the same plans
RUN_LIMIT_S = 165  # a run must end within 180 s of its start; this leaves room to check and stop

# dashboard_reads: monitoring-layer requests over a generated events table
# the size of the engine's sf0.01 testdata, and the share of a dashboard's
# traffic each takes. A timed round issues every request once, in a seeded
# order; the weights apply when the per-request medians are combined.
DASHBOARD_MIX = {
    "hydro_alert_counts": 2,
    "hydro_recent_alerts_500": 1,
    "hydro_station_detail": 2,
    "hydro_alerts_filtered": 1,
    "hydro_fact_hourly_rollup": 1,
    "mon_status_counts": 1,
    "mon_summary": 1,
    "mon_error_bulletins": 1,
    "mon_type_pivot": 1,
}
DASHBOARD_EVENTS, DASHBOARD_USERS = 10_000, 150
DASHBOARD_ROUND_S = 6.5  # nominal round on a quiet 4-CPU box; sizes the timed phase
DASHBOARD_MIN_ROUNDS = 3  # each request's median needs three samples

# ingest
INGEST_STATIONS = 300
INGEST_WARM_BATCHES = 2  # the cold first batch and one more are set-up
NOMINAL_BATCH_S = 2.3  # nominal steady micro-batch on a quiet 4-CPU box; sizes the backlog
FILES_PER_BATCH = 4  # fixed by streaming.pipeline.observations_file_stream


@dataclass
class Result:
    e2e: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    mismatches: list = field(default_factory=list)
    detail: dict = field(default_factory=dict)

    @property
    def correct(self) -> bool:
        return self.failed == 0 and not self.mismatches


class Run:
    """One benchmark process: work directory, session, optional tracer."""

    def __init__(self, root: str, workload: str, seed: int, seconds: int, trace: bool,
                 t_start: float, t_wall: float):
        self.root, self.workload, self.seed = root, workload, seed
        self.seconds, self.trace = seconds, trace
        self.t_start, self.t_wall = t_start, t_wall  # process start: perf_counter and epoch
        self.work = os.path.join(root, ".perfbench", f"work-{workload}-{os.getpid()}")
        self.gen_s = self.gen_cpu_s = 0.0
        self.spark = None
        self.tracer: Tracer | None = None
        self.session_ms = 0.0
        self.anchors: list[float] = []
        self.ticks0 = cpu_ticks()  # machine CPU counters at the start of the timed phase

    # -- lifecycle -------------------------------------------------------

    def generate(self, fn, *args):
        """Run an input generator; its time and CPU are left out of set-up."""
        t, cpu = time.perf_counter(), tree_cpu_s()
        out = fn(*args)
        self.gen_s, self.gen_cpu_s = time.perf_counter() - t, tree_cpu_s() - cpu
        return out

    def start_session(self):
        from hrfco_data_pipeline_spark.session import get_spark

        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        conf = {
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }
        if self.trace:
            os.makedirs(os.path.join(self.work, "eventlog"), exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + os.path.join(self.work, "eventlog"),
                    "spark.eventLog.rolling.enabled": "false",
                    "spark.eventLog.compress": "false",
                }
            )
        t = time.perf_counter()
        self.spark = get_spark(app_name=f"perfbench-{self.workload}", master=f"local[{CORES}]",
                               shuffle_partitions=CORES, extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_ms = (time.perf_counter() - t) * 1000
        if self.trace:
            self.tracer = Tracer(self.spark.sparkContext)
            self._patch_engine()
        return self.spark

    def _patch_engine(self):
        """Wrap the engine's public layer functions in spans."""
        import importlib

        import __spark_entry__  # noqa: F401  (load every plan module before patching)

        mod = lambda name: importlib.import_module(f"hrfco_data_pipeline_spark.{name}")  # noqa: E731
        classify, writers = mod("operators.classify"), mod("sinks.writers")
        tables, pipeline = mod("sources.tables"), mod("streaming.pipeline")

        t = self.tracer
        t.patch(tables.load_table, "sources.load_table", group="load_table")
        t.patch(classify.process_observations, "operators.process_observations", new_request=True)
        t.patch(classify.build_alerts, "operators.build_alerts")
        for fn, name in ((writers.write_archive, "archive"), (writers.write_fact, "fact"),
                         (writers.write_dlq, "dlq")):
            t.patch(fn, f"sinks.{name}")
        t.patch(pipeline.run_stream, "streaming.run_stream")
        t.patch(pipeline.observations_file_stream, "streaming.observations_file_stream")

    def jvm_pid(self) -> int:
        return self.spark._jvm.java.lang.ProcessHandle.current().pid()

    def probe_anchor(self, n: int = 6):
        """Time a fixed engine-independent Spark query (a grouped sum over
        ``spark.range``) ``n`` times; its drift between runs is the box's.
        Traced runs only, after the timed phase."""
        for _ in range(n):
            t = time.perf_counter()
            self.spark.range(0, 2_000_000, 1, CORES).selectExpr("id % 1000 AS k", "id * 7 % 13 AS v") \
                .groupBy("k").sum("v").collect()
            self.anchors.append((time.perf_counter() - t) * 1000)

    def box_readings(self) -> dict:
        """Per-run process readings and the box anchor (traced runs)."""
        self.probe_anchor()
        jvm = self.spark._jvm
        gc_ms = sum(b.getCollectionTime() for b in jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans())
        jvm.java.lang.System.gc()
        heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage().getUsed()
        return {
            "proc.peak_rss_mb": peak_rss_mb(self.jvm_pid()),
            "proc.heap_live_mb": heap / 2**20,
            "proc.gc_ms": float(gc_ms),
            "box.anchor_ms": statistics.median(self.anchors),
            "box.steal_pct": steal_pct(self.ticks0),
        }

    def stop(self):
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def event_log(self):
        files = glob.glob(os.path.join(self.work, "eventlog", "*"))
        return read_event_log(files[0]) if files else ({}, [])

    def cleanup(self):
        shutil.rmtree(self.work, ignore_errors=True)

    def write_spans(self):
        if self.tracer is None:
            return
        import json

        out = os.path.join(self.root, ".perfbench", "traces")
        os.makedirs(out, exist_ok=True)
        with open(os.path.join(out, f"{self.workload}-seed{self.seed}.json"), "w") as f:
            json.dump(self.tracer.dump(), f)


# ---------------------------------------------------------------------------
# shared pieces
# ---------------------------------------------------------------------------


def _e2e(setup_cpu_s: float, setup_wall_s: float, wall_ms: list[tuple[str, float]],
         cpu_ms: list[tuple[str, float]], weights: dict[str, int] | None = None) -> dict:
    """End-to-end metrics from the set-up readings and per-operation
    (type, value) samples. ``setup_wall_s`` and ``latency_ms`` are wall
    times; the run reports them, and BENCHMARK.json does not gate them."""
    return {
        "setup_s": setup_cpu_s,
        "cpu_ms_per_op": mix_median(cpu_ms, weights),
        "setup_wall_s": setup_wall_s,
        "latency_ms": mix_median(wall_ms, weights),
    }


def _latency_detail(latencies_ms: list[float]) -> dict:
    from perfbench.stats import percentile

    n = len(latencies_ms)
    p = tail_percentile(n)
    d = {"samples": n, "tail_percentile": p}
    if p is not None:
        d[f"latency_p{p}_ms"] = percentile(latencies_ms, p)
    return d


def _oracle_connection(data_dir: str):
    import duckdb

    con = duckdb.connect(config={"memory_limit": "1GB", "threads": 2, "temp_directory": f"{data_dir}/.duckdb"})
    for path in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(path)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def oracle_mismatch(con, sql: str, columns: list[str], rows: list) -> str | None:
    """Compare Spark rows to the DuckDB oracle with the rule of
    tools/check_oracle.py: same column names, same row count, same
    order-insensitive multiset of normalized values."""
    from tools.check_oracle import row_key

    cur = con.execute(sql)
    dcols_raw = [d[0] for d in cur.description]
    drows = cur.fetchall()
    scols, dcols = sorted(columns), sorted(dcols_raw)
    if scols != dcols:
        return f"columns spark={scols} duckdb={dcols}"
    if len(rows) != len(drows):
        return f"rows spark={len(rows)} duckdb={len(drows)}"
    s = Counter(row_key(r, [columns.index(c) for c in scols]) for r in rows)
    d = Counter(row_key(r, [dcols_raw.index(c) for c in dcols]) for r in drows)
    if s != d:
        return f"values differ, e.g. missing in spark {list((d - s).items())[:2]}"
    return None


def _dashboard_layers(run: Run, res: Result, ops: list[str], spans_from: float, n: int):
    """Layer metrics of ``dashboard_reads`` per timed request (traced
    runs); ``ops`` are the request ids of the ``n`` timed requests."""
    t = run.tracer
    spans = [s for s in t.spans if s.start >= spans_from]
    selft = self_times(spans)

    def total(name, self_only=False):
        return sum(selft[s.sid] if self_only else s.end - s.start for s in spans if s.name == name) * 1000

    by_group, _ = run.event_log()
    opset = set(ops)

    def work(kind: str) -> Work:
        return merge(w for g, w in by_group.items() if g and g.rsplit("|", 1)[-1] == kind
                     and g.rsplit("|", 1)[0] in opset)

    build, load, exe = work("build"), work("load_table"), work("exec")
    res.layers.update(
        {
            "sources.load_table_calls": sum(1 for s in spans if s.name == "sources.load_table") / n,
            "sources.load_table_ms": total("sources.load_table") / n,
            "sources.load_table_jobs": load.jobs / n,
            "plans.build_ms": total("plans.build", self_only=True) / n,
            "plans.build_jobs": (build.jobs + load.jobs) / n,
            "plans.build_task_ms": (build.task_ms + load.task_ms) / n,
            "operators.process_observations_ms": total("operators.process_observations") / n,
            "operators.build_alerts_ms": total("operators.build_alerts") / n,
        }
    )
    res.layers.update(_exec_layers(exe, n))


def _exec_layers(w: Work, n: int) -> dict:
    return {
        "exec.jobs": w.jobs / n,
        "exec.stages": w.stages / n,
        "exec.tasks": w.tasks / n,
        "exec.task_ms": w.task_ms / n,
        "exec.task_skew": statistics.median(w.skews) if w.skews else 1.0,
        "exec.shuffle_write_mb": w.shuffle_write_b / 2**20 / n,
        "exec.shuffle_read_mb": w.shuffle_read_b / 2**20 / n,
        "exec.spill_mb": w.spill_b / 2**20 / n,
        "exec.gc_ms": w.gc_ms / n,
    }


def _catalyst(df) -> dict:
    """Analysis / optimization / planning ms of a DataFrame's query."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    it = phases.iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().endTimeMs() - kv._2().startTimeMs()
    return out


# ---------------------------------------------------------------------------
# dashboard_reads
# ---------------------------------------------------------------------------


def dashboard_reads(run: Run) -> Result:
    """One client in a closed loop fetching monitoring queries to the
    driver, as a dashboard does.

    One untimed warm pass collects every query (its rows are checked
    against the DuckDB oracle after the timed phase) and pays class
    loading, codegen and most JIT compilation. The timed phase then runs
    a fixed number of rounds, sized from ``--seconds`` and the round's
    nominal duration, so every run does the same requests whatever the
    box's speed; each round issues every request once, in a seeded
    order."""
    import __spark_entry__

    res = Result()
    data = os.path.join(run.work, "data")
    run.generate(gen.write_events, data, run.seed, DASHBOARD_EVENTS, DASHBOARD_USERS)

    spark = run.start_session()
    registry = __spark_entry__.queries()
    tracer = run.tracer

    def fetch(name: str, rid: str):
        """Build, then collect; returns (rows, columns, catalyst phases)."""
        if tracer is None:
            df = registry[name](spark, data)
            return df.collect(), df.columns, None
        tracer.request = rid
        with tracer.span("request", req=rid):
            with tracer.span("plans.build", group="build"):
                df = registry[name](spark, data)
            with tracer.span("exec", group="exec"):
                rows = df.collect()
        return rows, df.columns, _catalyst(df)

    def attempt(name: str, rid: str):
        res.attempted += 1
        try:
            return fetch(name, rid)
        except Exception as exc:  # noqa: BLE001 — counted as a failed operation
            res.failed += 1
            res.mismatches.append(f"{name}: {type(exc).__name__}: {str(exc)[:200]}")
            return None

    t_warm = time.perf_counter()
    warm = {name: out[:2] for name in DASHBOARD_MIX if (out := attempt(name, f"warm:{name}")) is not None}

    rng = random.Random(run.seed)
    n_rounds = max(DASHBOARD_MIN_ROUNDS, round(run.seconds / DASHBOARD_ROUND_S))
    wall_ms: list[tuple[str, float]] = []
    cpu_ms: list[tuple[str, float]] = []
    phases: list[dict] = []
    op_ids: list[str] = []
    t_phase, setup_cpu = time.perf_counter(), tree_cpu_s() - run.gen_cpu_s
    run.ticks0 = cpu_ticks()
    setup_wall = t_phase - run.t_start - run.gen_s
    for _ in range(n_rounds):
        order = list(DASHBOARD_MIX)
        rng.shuffle(order)
        for name in order:
            rid = f"r{len(op_ids)}:{name}"
            cpu, t = tree_cpu_s(), time.perf_counter()
            out = attempt(name, rid)
            if out is None:
                continue
            wall_ms.append((name, (time.perf_counter() - t) * 1000))
            cpu_ms.append((name, (tree_cpu_s() - cpu) * 1000))
            op_ids.append(rid)
            rows, _, ph = out
            if name in warm and len(rows) != len(warm[name][0]):
                res.failed += 1
                res.mismatches.append(f"{name}: {len(rows)} rows, warm pass had {len(warm[name][0])}")
            if ph is not None:
                phases.append(ph)
    wall = time.perf_counter() - t_phase
    ops = len(op_ids)
    res.e2e = _e2e(setup_cpu, setup_wall, wall_ms, cpu_ms, DASHBOARD_MIX)
    res.detail.update(_latency_detail([ms for _, ms in wall_ms]))
    res.detail["requests"] = [(rid, round(w), round(c)) for rid, (_, w), (_, c) in zip(op_ids, wall_ms, cpu_ms)]
    res.detail.update({"rounds": n_rounds, "timed_s": wall, "requests_per_s": ops / wall,
                       "steal_pct": steal_pct(run.ticks0),
                       "gen_s": run.gen_s, "warm_s": t_phase - t_warm})

    if tracer is not None:
        res.layers["session.start_ms"] = run.session_ms
        res.layers.update(run.box_readings())
        for key in ("analysis", "optimization", "planning"):
            res.layers[f"catalyst.{key}_ms"] = sum(p.get(key, 0) for p in phases) / ops
    run.stop()
    if tracer is not None:
        _dashboard_layers(run, res, op_ids, t_phase, ops)

    t_check = time.perf_counter()
    con = _oracle_connection(data)
    oracles = __spark_entry__.oracle_sql()
    for name, (rows, cols) in warm.items():
        msg = oracle_mismatch(con, oracles[name], cols, rows)
        if msg:
            res.mismatches.append(f"{name}: {msg}")
    con.close()
    res.detail["check_s"] = time.perf_counter() - t_check
    return res


# ---------------------------------------------------------------------------
# ingest
# ---------------------------------------------------------------------------

STREAM_KEYS = {
    "stream.add_batch_ms": "addBatch",
    "stream.query_planning_ms": "queryPlanning",
    "stream.latest_offset_ms": "latestOffset",
    "stream.wal_commit_ms": "walCommit",
    "stream.commit_offsets_ms": "commitOffsets",
}


def _epoch(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def check_sinks(out_dir: str, pred: gen.IngestPrediction) -> list[str]:
    """Compare every sink's contents to the generator's prediction."""
    import duckdb

    con = duckdb.connect(config={"memory_limit": "1GB", "threads": 2, "temp_directory": f"{out_dir}/.duckdb"})
    got = {
        "fact": con.execute(f"SELECT count(*) FROM read_parquet('{out_dir}/fact/**/*.parquet')").fetchone()[0],
        "dlq": con.execute(f"SELECT count(*) FROM read_parquet('{out_dir}/dlq/*.parquet')").fetchone()[0],
        "alerts": con.execute(f"SELECT count(*) FROM read_parquet('{out_dir}/alerts/*.parquet')").fetchone()[0],
    }
    archive_files = glob.glob(f"{out_dir}/archive/kind=*/obs_date=*/*.json")
    arch = Counter()
    for path in archive_files:
        kind = path.split("kind=")[1].split("/")[0]
        with open(path, encoding="utf-8") as f:
            arch[kind] += sum(1 for line in f if line.strip())
    got["archive"] = sum(arch.values())
    got["archive_anomalies"] = arch["anomalies"]
    for level, n in con.execute(
        f"SELECT warning_level, count(*) FROM read_parquet('{out_dir}/alerts/*.parquet') GROUP BY 1"
    ).fetchall():
        got[f"level.{level}"] = n
    con.close()
    want = pred.sink_counts()
    return [f"{k}: sink has {got.get(k, 0)}, generator predicts {v}" for k, v in want.items() if got.get(k, 0) != v] + [
        f"{k}: unexpected in sink" for k in got if k not in want
    ]


def ingest(run: Run) -> Result:
    from hrfco_data_pipeline_spark.sources import tables
    from hrfco_data_pipeline_spark.streaming import pipeline

    res = Result()
    n_steady = max(3, round(run.seconds / NOMINAL_BATCH_S))
    n_batches = INGEST_WARM_BATCHES + n_steady
    n_files = FILES_PER_BATCH * n_batches
    src, dim = os.path.join(run.work, "src"), os.path.join(run.work, "dim")
    out, ckpt = os.path.join(run.work, "out"), os.path.join(run.work, "ckpt")
    pred = run.generate(gen.write_ingest_backlog, src, dim, run.seed, n_files, INGEST_STATIONS)

    spark = run.start_session()
    stations = tables.load_table(spark, dim, "stations")
    query = pipeline.run_stream(spark, pipeline.observations_file_stream(spark, src), stations, out, ckpt)

    # The backlog may take ten times its nominal duration, plus a cold
    # first batch, before the stream counts as stuck; the run's own limit
    # caps that.
    deadline = min(time.perf_counter() + 60 + 10 * NOMINAL_BATCH_S * n_batches, run.t_start + RUN_LIMIT_S)
    cpu_at: dict[int, float] = {}  # CPU snapshot each time a batch reports progress
    while query.isActive and time.perf_counter() < deadline:
        last = query.lastProgress
        if last is not None and last["batchId"] not in cpu_at:
            cpu_at[last["batchId"]] = tree_cpu_s()
            if last["batchId"] == INGEST_WARM_BATCHES - 1:
                run.ticks0 = cpu_ticks()
        time.sleep(0.02)
    exc = query.exception() if not query.isActive else None
    if query.isActive:
        query.stop()
        exc = "not drained before the run's time limit"
    progress = [p for p in query.recentProgress if p["numInputRows"] > 0]
    res.attempted = max(len(progress), n_batches)
    if exc is not None:
        res.failed = res.attempted - len(progress)
        res.mismatches.append(f"stream failed: {exc}")
    if len(progress) <= INGEST_WARM_BATCHES:
        res.failed = max(res.failed, 1)
        res.mismatches.append("stream finished no micro-batch after its warm-up")
        run.stop()
        return res

    steady = progress[INGEST_WARM_BATCHES:]
    lat = [float(p["durationMs"]["triggerExecution"]) for p in steady]
    t_first = _epoch(steady[0]["timestamp"])
    t_last = _epoch(steady[-1]["timestamp"]) + steady[-1]["durationMs"]["triggerExecution"] / 1000
    setup_wall = t_first - run.t_wall - run.gen_s
    setup_cpu = cpu_at[INGEST_WARM_BATCHES - 1] - run.gen_cpu_s
    cpu = [(cpu_at[b] - cpu_at[b - 1]) * 1000 for b in (p["batchId"] for p in steady)
           if b in cpu_at and b - 1 in cpu_at]
    res.e2e = _e2e(setup_cpu, setup_wall, [("batch", x) for x in lat], [("batch", x) for x in cpu])
    res.detail.update(_latency_detail(lat))
    res.detail.update({
        "batch_ms": [p["durationMs"]["triggerExecution"] for p in progress],
        "rows_per_s": sum(p["numInputRows"] for p in steady) / (t_last - t_first),
        "steal_pct": steal_pct(run.ticks0),
        "gen_s": run.gen_s,
        "predicted": pred.sink_counts(),
    })

    if run.tracer is not None:
        n = len(steady)
        res.layers["session.start_ms"] = run.session_ms
        for k, key in STREAM_KEYS.items():
            res.layers[k] = sum(p["durationMs"].get(key, 0) for p in steady) / n
        res.layers["stream.overhead_ms"] = sum(
            p["durationMs"]["triggerExecution"] - p["durationMs"].get("addBatch", 0) for p in steady) / n
        res.layers["stream.first_batch_ms"] = float(progress[0]["durationMs"]["triggerExecution"])
        res.layers.update(run.box_readings())
    run.stop()
    res.mismatches.extend(check_sinks(out, pred))

    if run.tracer is not None:
        _ingest_layers(run, res, out, steady, len(progress))
    return res


def _ingest_layers(run: Run, res: Result, out: str, steady: list, n_all: int):
    """Layer metrics of ``ingest`` (traced runs): execution per steady
    micro-batch; sinks and operators per micro-batch over all of them."""
    n = len(steady)
    steady_ids = {str(p["batchId"]) for p in steady}
    by_group, sql = run.event_log()
    exe = merge(w for g, w in by_group.items() if g and g.startswith("streaming:") and g.split(":")[1] in steady_ids)
    res.layers.update(_exec_layers(exe, n))
    sink_ms = Counter()
    for plan, ms in sql:
        for sink in ("archive", "fact", "alerts", "dlq"):
            if f"{out}/{sink}" in plan and "InsertIntoHadoopFsRelationCommand" in plan:
                sink_ms[sink] += ms
    for sink in ("archive", "fact", "alerts", "dlq"):
        res.layers[f"sinks.{sink}_ms"] = sink_ms[sink] / n_all
    files = [p for p in glob.glob(f"{out}/**/*", recursive=True) if os.path.isfile(p) and not os.path.basename(p).startswith((".", "_"))]
    res.layers["sinks.files"] = len(files) / n_all
    res.layers["sinks.mb"] = sum(os.path.getsize(p) for p in files) / 2**20 / n_all

    spans = run.tracer.spans
    selft = self_times(spans)
    per_batch = lambda name: sum(selft[s.sid] for s in spans if s.name == name) * 1000 / n_all  # noqa: E731
    res.layers.update({
        "sources.load_table_calls": float(sum(1 for s in spans if s.name == "sources.load_table")),
        "sources.load_table_ms": sum((s.end - s.start) for s in spans if s.name == "sources.load_table") * 1000,
        "sources.load_table_jobs": float(sum(w.jobs for g, w in by_group.items() if g and g.endswith("|load_table"))),
        "operators.process_observations_ms": per_batch("operators.process_observations"),
        "operators.build_alerts_ms": per_batch("operators.build_alerts"),
    })


WORKLOADS = {"ingest": ingest, "dashboard_reads": dashboard_reads}
