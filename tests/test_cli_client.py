"""End-to-end CLI lifecycle (sync -> query -> rules -> drift) and the
read-sink client helpers."""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq

from tests.conftest import SF_SMOKE


def test_cli_full_lifecycle(tmp_path, capsys):
    from cartography_spark.cli import main

    wh = str(tmp_path / "wh")
    states = str(tmp_path / "states")

    assert main(["sync", "--sf-dir", SF_SMOKE, "--warehouse", wh, "--update-tag", "100"]) == 0
    out = json.loads(capsys.readouterr().out.strip())
    assert out["update_tag"] == 100
    # every label's id is its source table's key, so counts equal row counts
    sources = {"Region": "region", "Nation": "nation", "Supplier": "supplier",
               "Customer": "customer", "Order": "orders"}
    assert out["nodes"] == {
        label: pq.ParquetFile(f"{SF_SMOKE}/{table}.parquet").metadata.num_rows
        for label, table in sources.items()
    }
    assert out["nodes"]["Region"] == 5

    assert main(["query", "--warehouse", wh, "--sql",
                 "SELECT count(*) AS n FROM n_Customer", "--limit", "5"]) == 0
    row = json.loads(capsys.readouterr().out.strip())
    assert row["n"] > 0

    assert main(["rules", "run", "--warehouse", wh, "--format", "json"]) == 0
    report = json.loads(capsys.readouterr().out)
    by_fact = {f["fact_id"]: f for rule in report for f in rule["facts"]}
    f = by_fact["flag-disabled-suppliers"]
    assert f["failing"] + f["passing"] == f["total"]
    assert any(rule["rule_frameworks"] for rule in report)

    # the whole ported corpus (--sf-dir): every fact's counters equal the
    # DuckDB oracles of the three rules registry queries over the same tables
    assert main(["rules", "run", "--warehouse", wh, "--sf-dir", SF_SMOKE,
                 "--format", "json"]) == 0
    corpus = json.loads(capsys.readouterr().out)
    got = {f["fact_id"]: (f["failing"], f["passing"], f["total"])
           for rule in corpus for f in rule["facts"]}
    assert len(got) == 36
    assert got == _rules_oracle(("rules_library_run", "rules_extended_run", "rules_corpus_run"))

    # text report carries the reference summary block
    assert main(["rules", "run", "--warehouse", wh, "--format", "text"]) == 0
    text = capsys.readouterr().out
    assert "OVERALL SUMMARY" in text and "Compliance:" in text

    # framework filtering + coverage listing
    assert main(["rules", "run", "--warehouse", wh, "--format", "json",
                 "--framework", "iso27001"]) == 0
    filtered = json.loads(capsys.readouterr().out)
    assert 0 < len(filtered) < len(report)
    assert main(["rules", "list", "--coverage"]) == 0
    cov = capsys.readouterr().out
    assert "iso27001" in cov and "<-" in cov

    # per-control compliance rollup (batched runner)
    assert main(["rules", "rollup", "--warehouse", wh]) == 0
    roll = capsys.readouterr().out
    assert "framework" in roll.splitlines()[0] and "iso27001" in roll

    # drift archive: register templates, sweep twice, detect via shortcut
    assert main(["drift", "init-query", "--state-dir", states, "--name", "cust",
                 "--sql", "SELECT id FROM n_Customer WHERE acctbal >= 0"]) == 0
    assert "template.json" in capsys.readouterr().out
    assert main(["drift", "get-state", "--warehouse", wh, "--state-dir", states]) == 0
    f1 = os.path.basename(capsys.readouterr().out.strip().splitlines()[-1])
    import time
    time.sleep(1.1)  # distinct timestamped filename
    assert main(["drift", "get-state", "--warehouse", wh, "--state-dir", states]) == 0
    capsys.readouterr()
    # same data both sweeps -> empty diff; 'most-recent' shortcut resolves
    assert main(["drift", "detect", "--state-dir", states, "--name", "cust",
                 "--start", f1, "--end", "most-recent"]) == 0
    assert capsys.readouterr().out.strip() == ""


def _rules_oracle(queries) -> dict[str, tuple[int, int, int]]:
    """fact_id -> (failing, passing, total) from the registry queries' DuckDB
    oracle SQL over the SF_SMOKE parquet tables."""
    import duckdb

    from cartography_spark.plans.registry import REGISTRY, all_queries

    all_queries()
    con = duckdb.connect()
    for f in os.listdir(SF_SMOKE):
        if f.endswith(".parquet"):
            con.sql(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{SF_SMOKE}/{f}'")
    want = {}
    for q in queries:
        for r in con.sql(REGISTRY[q].oracle).fetchdf().itertuples():
            want[r.fact_id] = (int(r.failing), int(r.passing), int(r.total))
    return want


def test_cli_sync_reports_failed_stage(tmp_path, capsys):
    """A stage whose source table is missing fails the sync with one
    stderr line naming the stage, exit code 1, and no warehouse write."""
    import shutil

    from cartography_spark.cli import main

    sf = tmp_path / "sf"
    sf.mkdir()
    for table in ("region", "nation"):
        shutil.copy(f"{SF_SMOKE}/{table}.parquet", sf / f"{table}.parquet")
    wh = tmp_path / "wh"

    assert main(["sync", "--sf-dir", str(sf), "--warehouse", str(wh)]) == 1
    err = capsys.readouterr().err
    assert "stage supplier failed: " in err
    assert "Traceback" not in err
    assert not wh.exists()


def test_client_read_sinks(spark):
    from cartography_spark import client

    df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string").orderBy("k")
    assert client.read_list_of_values(df) == [1, 2]
    assert client.read_single_value(df) == 1
    assert client.read_list_of_dicts(df) == [{"k": 1, "v": "a"}, {"k": 2, "v": "b"}]
    assert client.read_single_dict(df) == {"k": 1, "v": "a"}
    assert client.read_list_of_tuples(df) == [(1, "a"), (2, "b")]
    assert list(client.iterate_rows(df)) == [{"k": 1, "v": "a"}, {"k": 2, "v": "b"}]
    empty = df.filter("k > 5")
    assert client.read_single_value(empty) is None
    assert client.read_single_dict(empty) is None


def test_cli_inventory(capsys):
    from cartography_spark.cli import main
    from tests.conftest import SF_SMOKE

    assert main(["inventory", "list", "--tag", "multimodal"]) == 0
    names = [l.split("\t")[0] for l in capsys.readouterr().out.splitlines()]
    assert "multimodal_phash_near_dup" in names
    assert main(["inventory", "run", "projection", "--sf-dir", SF_SMOKE, "--limit", "2"]) == 0
    assert len(capsys.readouterr().out.splitlines()) == 2
    assert main(["inventory", "run", "no_such_query"]) == 2
