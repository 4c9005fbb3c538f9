"""Seeded input generators for the benchmark workloads.

Everything here is pure Python/NumPy/PyArrow: the engine only ever sees
the files written. The same seed gives the same bytes.

- ``write_events`` writes the ``events`` table (the shape of the
  engine's testdata) that the monitoring-layer queries read.
- ``write_ingest_backlog`` writes a backlog of polling-cycle JSON-lines
  files and a stations dimension, and predicts what every sink of the
  streaming pipeline must hold after draining it.
"""

from __future__ import annotations

import json
import os
import re
from collections import Counter
from dataclasses import dataclass, field
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# events
# ---------------------------------------------------------------------------

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
EVENTS_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)


def write_events(out_dir: str, seed: int, n: int, n_users: int) -> None:
    """Write ``<out_dir>/events.parquet``: ``n`` events over one month,
    in time order, in one row group like the engine's testdata."""
    rng = np.random.default_rng([seed, 7])
    gaps = rng.integers(1, int(30 * 86400e6 / n) * 2, n)
    cols = {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n).tolist(),
        "value": rng.integers(1, 49_003, n) / 100.0,  # two-decimal doubles
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    }
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(pa.Table.from_pydict(cols, schema=EVENTS_SCHEMA), f"{out_dir}/events.parquet",
                   row_group_size=1 << 30)


# ---------------------------------------------------------------------------
# Ingest backlog: polling-cycle JSON lines + stations dimension
# ---------------------------------------------------------------------------

SLOT = timedelta(minutes=10)
LATE_PER_CYCLE = 3  # fixed share of late records in every cycle file
STATION_SCHEMA = pa.schema(
    [(c, pa.string()) for c in ("wlobscd", "obsnm", "addr", "attwl", "wrnwl", "almwl", "srswl")]
)
ALERT_LEVELS = ("NORMAL", "ATTENTION", "CAUTION", "WARNING", "CRITICAL", "ANOMALY")

_JAVA_DOUBLE = re.compile(r"^[+-]?(NaN|Infinity|(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?[dDfF]?)$")


def java_double(s: str | None) -> float | None:
    """The engine's wire coercion (functions/coercion.java_double) for the
    strings this generator emits: trim, blank -> null, Java
    ``Double.parseDouble`` grammar, anything else -> null."""
    if s is None:
        return None
    t = s.strip(" ")
    if not t or not _JAVA_DOUBLE.match(t):
        return None
    return float(t.rstrip("dDfF"))


def _present(s: str | None) -> bool:
    return s is not None and s.strip(" ") != ""


def _in_range(v: float | None, lo: float, hi: float) -> bool:
    # NaN fails the range check in the engine too (NaN sorts above +inf)
    return v is None or (v == v and lo <= v <= hi)


def alert_level(rec: dict, station: dict | None) -> str | None:
    """Published alert level of one wire record, or None when F1 drops it.

    Mirrors operators.classify: F1 drop, F2 range flag, C2 valid-tier
    count, C3 ladder, C4/C5 normalization."""
    wl_raw, fw_raw = rec.get("wl"), rec.get("fw")
    if not (_present(rec.get("wlobscd")) and _present(rec.get("ymdhm"))):
        return None
    if not (_present(wl_raw) or _present(fw_raw)):
        return None
    wl, fw = java_double(wl_raw), java_double(fw_raw)
    if not (_in_range(wl, -10.0, 50.0) and _in_range(fw, 0.0, 50000.0)):
        return "ANOMALY"
    if station is None:
        return "NORMAL"  # NO_THRESHOLD
    tiers = [java_double(station[c]) for c in ("attwl", "wrnwl", "almwl", "srswl")]
    valid = sum(1 for t in tiers if t is not None and t > 0)
    if wl is not None and valid <= 1:
        return "NORMAL"  # NO_THRESHOLD / PARTIAL_THRESHOLD
    if wl is None or all(t is None for t in tiers):
        return "NORMAL"
    att, wrn, alm, srs = tiers
    for tier, name in ((srs, "CRITICAL"), (alm, "WARNING"), (wrn, "CAUTION"), (att, "ATTENTION")):
        if tier is not None and wl >= tier:
            return name
    return "NORMAL"


@dataclass
class IngestPrediction:
    """What every sink must hold after the backlog is drained."""

    rows: int = 0  # wire lines in the backlog
    fact: int = 0
    archive: int = 0
    archive_anomalies: int = 0
    alerts: int = 0
    dlq: int = 0
    levels: Counter = field(default_factory=Counter)

    def sink_counts(self) -> dict:
        return {
            "fact": self.fact,
            "archive": self.archive,
            "archive_anomalies": self.archive_anomalies,
            "alerts": self.alerts,
            "dlq": self.dlq,
            **{f"level.{k}": self.levels.get(k, 0) for k in ALERT_LEVELS},
        }


def _cents_str(c: int) -> str:
    return f"{c // 100}.{c % 100:02d}"


def _stations(rng: np.random.Generator, codes: list[str]) -> list[dict]:
    """Stations dimension with the FIXTURES §2 threshold mix: four valid
    tiers, one valid tier, garbage tiers, all-null tiers and a two-tier
    mix with a negative rung; mixed string forms of the numbers."""
    rows = []
    for i, code in enumerate(codes):
        base = int(rng.integers(150, 450))  # attention level in cents
        kind = rng.choice(5, p=[0.6, 0.1, 0.1, 0.1, 0.1])
        t = [None, None, None, None]
        if kind == 0:
            t = [base, base + 150, base + 300, base + 450]
            t = [_cents_str(c) if j % 2 == 0 else str(c / 100) for j, c in enumerate(t)]
        elif kind == 1:  # PARTIAL_THRESHOLD: only the critical rung
            t[3] = _cents_str(base + 450)
        elif kind == 2:  # NO_THRESHOLD: every rung invalid
            t = ["0", "-1", rng.choice(["", " "]), "not_a_number"]
        elif kind == 4:  # two valid rungs plus a negative one
            t = [_cents_str(base), "-1", None, _cents_str(base + 450)]
        rows.append(
            {
                "wlobscd": code,
                "obsnm": None if i % 17 == 0 else f"관측소 {code}",
                "addr": None if i % 11 == 0 else f"Addr {i}",
                "attwl": t[0],
                "wrnwl": t[1],
                "almwl": t[2],
                "srswl": t[3],
            }
        )
    return rows


def _record(rng: np.random.Generator, code: str, when: datetime) -> dict | str:
    """One wire record with the FIXTURES §1 dirt mix; a str is a line
    that must land in the DLQ verbatim (truncated JSON)."""
    ymdhm = when.strftime("%Y%m%d%H%M")
    wl = _cents_str(int(rng.integers(0, 1300)))
    fw = _cents_str(int(rng.integers(0, 4_000_000)))
    rec: dict = {"wlobscd": code, "ymdhm": ymdhm, "wl": wl, "fw": fw}
    r = rng.random()
    if r < 0.02:
        rec["wlobscd"] = [None, "", "  "][int(rng.integers(0, 3))]
    elif r < 0.03:
        rec["ymdhm"] = [None, ""][int(rng.integers(0, 2))]
    elif r < 0.035:
        rec["ymdhm"] = ymdhm[:8]  # wrong length: passed through unparsed
    elif r < 0.045:
        rec["wl"], rec["fw"] = [(None, ""), ("", " "), (" ", None)][int(rng.integers(0, 3))]
    elif r < 0.065:
        rec["wl"] = ["abc", "NaN", "Infinity", "1.2d", "", " ", None][int(rng.integers(0, 7))]
    elif r < 0.085:
        rec["wl"] = ["55.0", "-15.0", "-10.0", "50.0"][int(rng.integers(0, 4))]
    elif r < 0.095:
        rec["fw"] = ["-1.0", "60000.0", "", None][int(rng.integers(0, 4))]
    if rng.random() < 0.1:
        rec["sttcd"] = str(int(rng.integers(0, 9)))
        rec["links"] = None
    for k in [k for k, v in rec.items() if v is None and rng.random() < 0.5]:
        del rec[k]  # a missing key and an explicit null must read the same
    line = json.dumps(rec, ensure_ascii=False)
    if rng.random() < 0.02:
        return line[: int(rng.integers(5, len(line) - 2))]
    return rec


def write_ingest_backlog(
    src_dir: str, dim_dir: str, seed: int, n_files: int, n_stations: int
) -> IngestPrediction:
    """Write ``n_files`` polling-cycle files (one record per station per
    10-minute slot, cycles in time order, plus ``LATE_PER_CYCLE`` late
    records each) and ``<dim_dir>/stations.parquet``; return the
    predicted sink contents."""
    rng = np.random.default_rng([seed, 11])
    os.makedirs(src_dir, exist_ok=True)
    os.makedirs(dim_dir, exist_ok=True)
    codes = [str(1_000_000 + 7 * i + int(rng.integers(0, 7))) for i in range(n_stations)]
    # ~5% of observed codes have no station row; a few stations are never observed
    dim_codes = [c for c in codes if rng.random() >= 0.05] + [
        str(2_000_000 + i) for i in range(n_stations // 20)
    ]
    stations = _stations(rng, dim_codes)
    pq.write_table(
        pa.Table.from_pylist(stations, schema=STATION_SCHEMA), f"{dim_dir}/stations.parquet"
    )
    by_code = {s["wlobscd"]: s for s in stations}

    start = datetime(2025, 1, 1, 6, 0) + timedelta(days=seed % 300)
    pred = IngestPrediction()
    mtime = 1_700_000_000
    for k in range(n_files):
        slot = start + k * SLOT
        recs = [_record(rng, c, slot) for c in codes]
        for _ in range(LATE_PER_CYCLE):
            late = slot - int(rng.integers(1, 37)) * SLOT
            recs.append(_record(rng, codes[int(rng.integers(0, len(codes)))], late))
        lines = []
        for rec in recs:
            pred.rows += 1
            if isinstance(rec, str):
                pred.dlq += 1
                lines.append(rec)
                continue
            lines.append(json.dumps(rec, ensure_ascii=False))
            level = alert_level(rec, by_code.get(rec.get("wlobscd")))
            if level is None:
                continue
            pred.fact += 1
            pred.archive += 1
            pred.alerts += 1
            pred.archive_anomalies += level == "ANOMALY"
            pred.levels[level] += 1
        path = f"{src_dir}/cycle-{k:05d}.json"
        with open(path, "w", encoding="utf-8") as f:
            f.write("\n".join(lines) + "\n")
        os.utime(path, (mtime + k, mtime + k))  # the file source orders by mtime
    return pred
