#!/usr/bin/env python
"""Generate docs/QUERIES.md (the user-facing catalog of every
registered query) and docs/EVIDENCE.md (the per-query driver-evidence
age ledger the rotation plan is written from). Regenerate after adding
queries or when a new CORRECTNESS_r*.json lands."""

from __future__ import annotations

import glob
import inspect
import json
import re
import sys

sys.path.insert(0, ".")

import __spark_entry__ as entry_mod  # noqa: E402


def first_sentence(doc: str | None) -> str:
    if not doc:
        return "(no docstring)"
    text = " ".join(doc.split())
    m = re.search(r"(.+?[.!?])(\s|$)", text)
    return (m.group(1) if m else text)[:300]


def driver_history(max_round: int | None = None) -> dict[str, dict]:
    """Per-query driver evidence from every CORRECTNESS_r*.json:
    last_green (newest round whose row was a full match), last_row
    (newest round the query appeared in any window), and whether the
    newest row was red. A green row is rows+schema+hash all true, or
    rows-only true when the query has no oracle (err == 'no_oracle'
    rows count only as appearances).

    ``max_round`` ignores CORRECTNESS files from later rounds — the
    freshness guard passes the committed ledger's own round stamp here
    so a new driver file landing AFTER round close (it always does)
    cannot retro-stale the ledger (VERDICT r12 'Next round' #2);
    ``tools/round_start.py`` still regenerates from the full history."""
    hist: dict[str, dict] = {}
    for path in sorted(
        glob.glob("CORRECTNESS_r*.json"),
        key=lambda p: int(re.search(r"r(\d+)", p).group(1)),
    ):
        rnd = int(re.search(r"r(\d+)", path).group(1))
        if max_round is not None and rnd > max_round:
            continue
        with open(path) as f:
            rows = json.load(f)
        for name, row in rows.items():
            h = hist.setdefault(
                name, {"last_green": None, "last_row": None, "last_red": None}
            )
            h["last_row"] = rnd
            green = (
                row.get("rows_match")
                and row.get("schema_match", True)
                and row.get("hash_match", True)
                and not row.get("err")
            )
            if green:
                h["last_green"] = rnd
            else:
                h["last_red"] = rnd
    return hist


def write_evidence_ledger(queries, oracles, hist) -> None:
    """docs/EVIDENCE.md: every query sorted oldest-evidence-first —
    the generated replacement for window-plan comment archaeology
    (VERDICT r10 'Next round' #6). Never-green queries lead, then
    ascending last-green round; current first-50 window membership is
    marked so rotation debt reads off the table."""
    names = list(queries)
    window = set(names[:50])

    def sort_key(n):
        h = hist.get(n, {})
        lg = h.get("last_green")
        return (0 if lg is None else 1, lg if lg is not None else 0, n)

    through = max(
        (h.get("last_row") or 0 for h in hist.values()), default=0
    )
    lines = [
        "# Driver-evidence age ledger",
        "",
        f"Generated from the `CORRECTNESS_r*.json` history through r{through}",
        "(the round stamp the freshness guard filters newer driver files",
        "against at round boundaries).",
        "",
        "Per-query driver-row history from `CORRECTNESS_r*.json`,",
        "oldest evidence first. `window` = inside the current first-50",
        "driver sampling window in `__spark_entry__.queries()`. The",
        "next round's window plan is written from the top of this",
        "table (never-green first, then oldest green). Generated by",
        "`tools/gen_query_docs.py` — do not edit.",
        "",
        "| Query | Oracle | Last green | Last red | Last sampled | In window |",
        "|-------|--------|------------|----------|--------------|-----------|",
    ]
    for n in sorted(names, key=sort_key):
        h = hist.get(n, {})
        fmt = lambda v: f"r{v}" if v else "—"
        oracle = "yes" if n in oracles else "rows-only"
        lines.append(
            f"| `{n}` | {oracle} | {fmt(h.get('last_green'))} "
            f"| {fmt(h.get('last_red'))} | {fmt(h.get('last_row'))} "
            f"| {'**yes**' if n in window else ''} |"
        )
    never = [n for n in names if hist.get(n, {}).get("last_green") is None]
    lines += [
        "",
        f"Totals: {len(names)} queries; "
        f"{len(names) - len(never)} have at least one driver green; "
        f"{len(never)} never green yet "
        f"({sum(1 for n in never if n in window)} of those in the "
        "current window).",
    ]
    with open("docs/EVIDENCE.md", "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote docs/EVIDENCE.md ({len(names)} queries)")


def main() -> None:
    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    hist = driver_history()
    write_evidence_ledger(queries, oracles, hist)
    with open("docs/QUERIES.md", "w") as f:
        f.write(query_catalog(queries, oracles))
    print(f"wrote docs/QUERIES.md ({len(queries)} queries)")


def query_catalog(queries, oracles) -> str:
    """The text of docs/QUERIES.md: one row per registered query, in
    registry order, with its implementation and first docstring
    sentence."""
    lines = [
        "# Query catalog",
        "",
        f"All {len(queries)} registered queries "
        f"({sum(1 for k in queries if k in oracles)} DuckDB-oracle-backed, "
        f"{sum(1 for k in queries if k not in oracles)} rows-only by "
        "design). Generated by tools/gen_query_docs.py — do not edit.",
        "",
        "| # | Query | Oracle | Implementation | What it computes |",
        "|---|-------|--------|----------------|------------------|",
    ]
    for i, (name, fn) in enumerate(queries.items(), 1):
        target = inspect.unwrap(fn)
        mod = target.__module__.replace("hrfco_data_pipeline_spark.", "")
        fname = target.__qualname__
        oracle = "yes" if name in oracles else "rows-only"
        desc = first_sentence(inspect.getdoc(target)).replace("|", "\\|")
        lines.append(
            f"| {i} | `{name}` | {oracle} | `{mod}.{fname}` | {desc} |"
        )
    return "\n".join(lines) + "\n"


if __name__ == "__main__":
    main()
