"""CLI surface: list/run/explain over the query registry."""
from __future__ import annotations

from hrfco_data_pipeline_spark.__main__ import main


def test_list_filters(capsys):
    assert main(["list", "benford"]) == 0
    out = capsys.readouterr().out
    assert "orders_benford_digits" in out


def test_unknown_query_suggests(capsys):
    assert main(["run", "benford"]) == 2
    err = capsys.readouterr().err
    assert "orders_benford_digits" in err


def test_run_json(spark, capsys):
    rc = main(
        [
            "run",
            "events_value_bands",
            "--sf-dir",
            "/root/testdata/sf0.001",
            "--json",
        ]
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert out.strip().startswith("{")


def test_explain_reports_build_time_jobs(spark, capsys):
    """``explain`` counts the Spark jobs a query runs while its plan is
    built; the median bisection collects its candidate bounds then."""
    rc = main(["explain", "events_median_bisect", "--sf-dir", "/root/testdata/sf0.001"])
    assert rc == 0
    err = capsys.readouterr().err
    assert "note: building the plan of events_median_bisect ran" in err
    assert int(err.split(" ran ")[1].split()[0]) > 0


def test_census_counts_build_jobs_per_query(spark, capsys):
    """``census`` builds each matching query and prints the Spark jobs
    its build ran: none for the hydro alert counts (a job-free table
    load, no spread below the size floor), some for the median
    bisection, which collects its bounds while building."""
    rc = main(["census", "hydro_alert_counts", "--sf-dir", "/root/testdata/sf0.001"])
    assert rc == 0
    assert capsys.readouterr().out.splitlines() == [
        "hydro_alert_counts\t0",
        "total\t0 build jobs over 1 queries; 1 ran none",
    ]
    assert main(["census", "events_median_bisect", "--sf-dir", "/root/testdata/sf0.001"]) == 0
    counts = dict(line.split("\t") for line in capsys.readouterr().out.splitlines())
    assert int(counts["events_median_bisect"]) > 0
