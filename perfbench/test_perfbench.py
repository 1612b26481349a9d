"""Tests of the benchmark itself (not of the engine).

    python -m pytest perfbench -q -p no:cacheprovider

The two ``test_run_prints_*`` tests start a real Spark session and take
about half a minute each.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import checks, inputs, run

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_crawl_plan_is_deterministic_per_seed():
    a = inputs.crawl_plan(3, rounds=3)
    b = inputs.crawl_plan(3, rounds=3)
    assert a == b
    c = inputs.crawl_plan(4, rounds=3)
    assert c.rounds[0].pages != a.rounds[0].pages
    assert c.rounds[1].drop_rows != a.rounds[1].drop_rows


def test_crawl_plan_has_the_promised_shape():
    plan = inputs.crawl_plan(5, rounds=3, n_domains=12)
    assert len(plan.domains) == 12
    first = plan.rounds[0]
    per_domain = [sum(u.startswith(f"https://{d}.") for u in first.new_urls)
                  for d in plan.domains]
    assert min(per_domain) < max(per_domain)  # uneven article counts
    for later in plan.rounds[1:]:
        assert later.relinked > 0
        assert later.failed_fetches > 0
        assert later.near_dups > 0
        # the drop repeats stored URLs and one of its own rows
        urls = [row[0] for row in later.drop_rows]
        assert len(set(urls)) < len(urls)
        assert later.drop_new < len(set(urls))


def test_star_tables_are_deterministic_per_seed():
    a = inputs.star_tables(1, inputs.CURATION_SIZES)
    b = inputs.star_tables(1, inputs.CURATION_SIZES)
    assert all(a[t].equals(b[t]) for t in a)
    c = inputs.star_tables(2, inputs.CURATION_SIZES)
    assert not a["lineitem"].equals(c["lineitem"])


def test_benchmark_json_names_exactly_the_runner_metrics():
    spec = _spec()
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == run.END_TO_END
    assert layers == run.per_layer_units()
    from perfbench.workloads import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)


def test_injected_wrong_result_raises_fail_ratio(tmp_path):
    from crawlingbigdatavisionaid_spark.plans import oracle_sql_map

    inputs.write_tables(inputs.star_tables(1, inputs.CURATION_SIZES), str(tmp_path))
    con = checks.oracle_connection(str(tmp_path))
    name = "q1_pricing_summary"
    sql = oracle_sql_map()[name]
    truth = con.sql(sql).df()
    cols = list(truth.columns)
    rows = list(truth.itertuples(index=False, name=None))

    tally = checks.Tally()
    tally.record(name, checks.check_query(con, name, sql, cols, rows, None))
    assert tally.fail_ratio == 0.0

    wrong = [tuple(r) for r in rows]
    i = cols.index("count_order")
    wrong[0] = wrong[0][:i] + (wrong[0][i] + 1,) + wrong[0][i + 1:]
    tally.record(name, checks.check_query(con, name, sql, cols, wrong, None))
    assert tally.failed == 1 and tally.fail_ratio == 0.5


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "star", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


def _run(trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "star", "--seed", "1",
         "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode == 0, p.stderr[-2000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace,key", [(0, "end_to_end"), (1, "per_layer")])
def test_run_prints_every_metric_with_its_unit(trace, key):
    result = _run(trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    printed = {k: v["unit"] for k, v in result["metrics"].items()}
    assert printed == {m["name"]: m["unit"] for m in _spec()[key]}
