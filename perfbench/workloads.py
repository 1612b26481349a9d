"""The three benchmark workloads.

Each workload is a closed loop with one client: one operation at a
time on one ``local[nproc]`` session. It runs a fixed amount of work: a
cold unit (the first pass over its queries, or the first crawl round)
and then ``WARM_PASSES`` / ``WARM_ROUNDS`` warm units, so every run's
statistics cover the same units. The run's time budget only caps this:
past it, no further warm unit starts once one has run. Outputs are
checked untimed: query results after the passes, crawl rounds as they
end.
"""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from . import checks, inputs
from .trace import Tracer, attribute

STAR_QUERIES = (
    "q1_pricing_summary q3_shipping_priority q5_local_supplier_volume "
    "q6_forecast_revenue q9_product_profit q21_sole_returned_supplier "
    "word_topk asof_click_purchase"
).split()
CURATION_QUERIES = (
    "dedup_ngram_jaccard winnow_fingerprint_pairs semdedup_threshold_sweep "
    "ann_brute_force_topk dedup_image_phash64"
).split()
ALL_QUERIES = STAR_QUERIES + CURATION_QUERIES

# star and llm_curation tables are fixed; the run seed sets query order
TABLE_SEED = 17
# JIT warm-up goes on for several passes, so the counts are fixed rather
# than filled to the budget: a faster host must not get warmer statistics.
# Crawl rounds are still warming after the first, hence one more.
WARM_PASSES = 2
WARM_ROUNDS = 3
SETUP_BUILDS = 3
CRAWL_NEW_PER_ROUND = 240
CRAWL_DROP_PER_ROUND = 120
# page loads per warm round; the cold round loads each panel once, for
# its check only, so latency percentiles are warm figures
SERVE_LOADS_PER_ROUND = 32
COMPACT_EVERY = 2


@dataclass
class Outcome:
    """What a workload hands back to the runner."""

    end_to_end: dict[str, float]
    layers: dict[str, float] = field(default_factory=dict)
    tally: checks.Tally = field(default_factory=checks.Tally)
    notes: dict = field(default_factory=dict)


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _pct(xs, q: float) -> float:
    return float(np.percentile(np.asarray(xs, dtype=float), q)) if len(xs) else 0.0


def timed_builds(tracer: Tracer, build, root: str) -> tuple[float, object]:
    """Run ``build(dir)`` SETUP_BUILDS times; median seconds, first result."""
    secs, first = [], None
    for i in range(SETUP_BUILDS):
        with tracer.span("sources.input_build") as sp:
            out = build(os.path.join(root, f"input{i}"))
        secs.append(sp.seconds)
        first = out if first is None else first
    return _median(secs), first


def _more_units(t0: float, budget: float, done: int, warm_units: int) -> bool:
    """Another unit runs until the cold one and ``warm_units`` warm ones
    are done; past the budget, only while no warm unit has run yet."""
    if done >= 1 + warm_units:
        return False
    return done < 2 or time.perf_counter() - t0 < budget


# ---------------------------------------------------------------------------
# query workloads: star and llm_curation
# ---------------------------------------------------------------------------
def run_queries(spark, tracer: Tracer, names: list[str], data_dir: str,
                seed: int, budget: float) -> Outcome:
    from crawlingbigdatavisionaid_spark.plans import oracle_sql_map, query_map

    from tools.verify_local import _spark_pandas_kinds

    qmap = query_map()
    rng = np.random.default_rng(seed)
    sc = spark.sparkContext
    tally = checks.Tally()
    pass_secs: list[float] = []
    per_query: dict[str, list[tuple[float, float]]] = {n: [] for n in names}
    results: dict[str, list] = {n: [] for n in names}
    retained_mb: list[float] = []
    t0 = time.perf_counter()
    p = 0
    while _more_units(t0, budget, len(pass_secs), WARM_PASSES):
        start = time.perf_counter()
        with tracer.span("pass", p=p):
            for name in rng.permutation(names):
                name = str(name)
                try:
                    with tracer.span("plans.construct", q=name, p=p) as c:
                        df = qmap[name](spark, data_dir)
                    with tracer.span("plans.execute", q=name, p=p) as e:
                        rows = [tuple(r) for r in df.collect()]
                except Exception as exc:  # noqa: BLE001 - a failed op is counted
                    tally.record(f"{name} pass {p}", [f"error: {exc}"[:300]])
                    continue
                per_query[name].append((c.seconds, e.seconds))
                results[name].append((df.columns, rows, _spark_pandas_kinds(df, rows)))
        pass_secs.append(time.perf_counter() - start)
        retained_mb.append(_retained_cache_mb(sc))
        p += 1

    # untimed: every distinct result of every query against its oracle
    omap = oracle_sql_map()
    con = checks.oracle_connection(data_dir)
    for name in names:
        verdicts: dict[str, list[str]] = {}
        for cols, rows, kinds in results[name]:
            key = repr((cols, sorted(map(repr, rows))))
            if key not in verdicts:
                verdicts[key] = checks.check_query(con, name, omap[name], cols, rows, kinds)
            tally.record(name, verdicts[key])
    con.close()

    layers = {"sources.retained_cache_mb": max(retained_mb)}
    for n in names:
        ws = per_query[n][1:]
        layers[f"q.{n}.warm_s"] = _median(c + e for c, e in ws)
        layers[f"q.{n}.construct_s"] = _median(c for c, _ in ws)
    # latency percentiles over the per-query warm medians: pooling raw
    # samples of unlike queries makes the percentile jump between them
    warm_lat = [layers[f"q.{n}.warm_s"] * 1000.0 for n in names]
    warm = pass_secs[1:]
    e2e = {
        "cold_s": pass_secs[0],
        "warm_s": _median(warm),
        "p50_ms": _pct(warm_lat, 50),
        "p90_ms": _pct(warm_lat, 90),
        "throughput_per_s": len(names) / _median(warm),
    }
    notes = {
        "passes": len(pass_secs),
        "pass_s": [round(x, 3) for x in pass_secs],
        "query_warm_s": {n: round(layers[f"q.{n}.warm_s"], 3) for n in names},
        "query_s": {n: [round(c + e, 4) for c, e in per_query[n]] for n in names},
    }
    if tracer.enabled:
        layers.update(_query_layers(spark, tracer, names, len(pass_secs)))
        layers.update({"trace.cold_s": e2e["cold_s"], "trace.warm_s": e2e["warm_s"]})
    return Outcome(e2e, layers, tally, notes)


# per-layer metric -> the SparkCost field it sums
COST_LAYERS = {
    "plans.tasks": "tasks",
    "plans.shuffle_write_bytes": "shuffle_write_bytes",
    "plans.spill_bytes": "spill_bytes",
    "sources.scan_bytes": "input_bytes",
    "sources.scan_time_s": "scan_time_s",
    "operators.py_bytes_sent": "py_bytes_sent",
    "operators.py_bytes_returned": "py_bytes_returned",
    "operators.py_rows": "py_rows",
    "operators.py_run_s": "py_run_s",
}


def _retained_cache_mb(sc) -> float:
    infos = sc._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


def _query_layers(spark, tracer, names, passes: int) -> dict[str, float]:
    """Per-layer figures per warm pass (median over the warm passes)."""
    cost = attribute(spark, tracer)

    def per_pass(span_name: str, fn) -> float:
        vals = []
        for p in range(1, passes):
            vals.append(sum(
                fn(i, sp) for i, sp in enumerate(tracer.spans)
                if sp.name == span_name and sp.tags.get("p") == p
            ))
        return _median(vals)

    def c(i, attr):
        return getattr(cost.get(i), attr, 0.0) if i in cost else 0.0

    out = {
        "plans.construct_s": per_pass("plans.construct", lambda i, s: s.self_seconds),
        "plans.construct_jobs": per_pass("plans.construct", lambda i, s: c(i, "jobs")),
        "plans.execute_s": per_pass("plans.execute", lambda i, s: s.self_seconds),
        "plans.execute_jobs": per_pass("plans.execute", lambda i, s: c(i, "jobs")),
    }
    both = ("plans.construct", "plans.execute")
    for key, attr in COST_LAYERS.items():
        out[key] = sum(per_pass(n, lambda i, s, a=attr: c(i, a)) for n in both)
    # compile: the cold execution minus the median warm one, per query
    compile_s = 0.0
    for n in names:
        cold = [s.seconds for s in tracer.find("plans.execute", q=n, p=0)]
        warm = [s.seconds for s in tracer.spans
                if s.name == "plans.execute" and s.tags.get("q") == n
                and s.tags.get("p", 0) > 0]
        if cold and warm:
            compile_s += cold[0] - _median(warm)
    out["plans.compile_s"] = compile_s
    return out


def query_workload(names: list[str], sizes: inputs.TableSizes):
    """A workload of registered queries over tables of ``sizes``."""

    def workload(spark, tracer, workdir, seed, budget) -> Outcome:
        build_s, nbytes = timed_builds(
            tracer,
            lambda d: inputs.write_tables(inputs.star_tables(TABLE_SEED, sizes), d),
            workdir,
        )
        data_dir = os.path.join(workdir, "input0")
        out = run_queries(spark, tracer, names, data_dir, seed, budget)
        out.layers["sources.replica_build_s"] = build_s
        out.notes["input_bytes"] = nbytes
        return out

    return workload


# ---------------------------------------------------------------------------
# crawl_ingest
# ---------------------------------------------------------------------------
_DROP_SCHEMA = pa.schema([(n, pa.string()) for n in
                          ("url", "source", "title", "content", "published_at")])


def _store_views(spark, store: str):
    from pyspark.sql import functions as F

    from crawlingbigdatavisionaid_spark.crawl.pipeline import read_store

    s = read_store(spark, store)
    docs = s.select(F.col("content").alias("text"), "source")
    events = s.select(
        F.regexp_extract("url", r"(\d+)$", 1).cast("bigint").alias("event_id"),
        F.col("published_at").cast("timestamp").alias("ts"),
    )
    return docs, events


def crawl_ingest(spark, tracer, workdir, seed, budget):
    from crawlingbigdatavisionaid_spark import dashboard
    from crawlingbigdatavisionaid_spark.crawl.pipeline import DictFetcher, crawl_batch
    from crawlingbigdatavisionaid_spark.extraction.html import extract_article
    from crawlingbigdatavisionaid_spark.plans import oracle_sql_map
    from crawlingbigdatavisionaid_spark.sources.maintenance import (
        compact, data_file_count, dir_bytes,
    )
    from crawlingbigdatavisionaid_spark.streaming.ingest import ingest_stream

    n_domains = max(12, 2 * len(os.sched_getaffinity(0)))
    build_s, plan = timed_builds(
        tracer,
        lambda d: inputs.crawl_plan(
            seed, 1 + WARM_ROUNDS, n_domains=n_domains,
            new_per_round=CRAWL_NEW_PER_ROUND, drop_per_round=CRAWL_DROP_PER_ROUND,
        ),
        workdir,
    )
    store = os.path.join(workdir, "store")
    gold = os.path.join(workdir, "gold")
    inbox = os.path.join(workdir, "inbox")
    staging = os.path.join(workdir, "staging")
    ckpt = os.path.join(workdir, "ckpt")
    os.makedirs(inbox)
    os.makedirs(staging)
    omap = oracle_sql_map()
    expected_sql = checks.gold_expectations(omap["word_topk"], omap["timeline_gapfill"], 5)
    rng = np.random.default_rng(seed + 1)
    tally = checks.Tally()

    round_secs: list[float] = []  # crawl + drain + refresh: the freshness
    landed: list[int] = []
    ingest_secs: list[float] = []
    serve_ms: list[float] = []
    store_files: list[int] = []
    bytes_written = 0  # appended files plus every compaction's rewrite
    counters: list[dict] = []
    doc_bytes = 0
    stored = 0
    t0 = time.perf_counter()
    r = 0
    while _more_units(t0, budget, len(round_secs), WARM_ROUNDS):
        rnd = plan.rounds[r]
        # the drop arrives between rounds: staged then renamed into place
        tmp = os.path.join(staging, f"r{r:03d}.parquet")
        pq.write_table(pa.Table.from_pylist(
            [dict(zip(_DROP_SCHEMA.names, row)) for row in rnd.drop_rows],
            schema=_DROP_SCHEMA), tmp)
        os.rename(tmp, os.path.join(inbox, f"r{r:03d}.parquet"))

        before = dir_bytes(store) if os.path.isdir(store) else 0
        start = time.perf_counter()
        with tracer.span("round", r=r):
            try:
                with tracer.span("crawl.round", r=r) as cr:
                    got = crawl_batch(spark, rnd.seeds, DictFetcher(rnd.pages), store)
                with tracer.span("streaming.drain", r=r) as dr:
                    batches = ingest_stream(spark, inbox, store, ckpt)
                store_files.append(data_file_count(store))
                with tracer.span("dashboard.refresh", r=r):
                    docs, events = _store_views(spark, store)
                    dashboard.refresh_gold(spark, docs, events, gold)
            except Exception as exc:  # noqa: BLE001
                tally.record(f"round {r}", [f"error: {exc}"[:300]])
                break
        round_secs.append(time.perf_counter() - start)
        ingest_secs.append(cr.seconds + dr.seconds)
        appended = sum(n for _, n in batches)
        landed.append(got["new_rows"] + appended)
        bytes_written += dir_bytes(store) - before

        panels: dict[str, tuple] = {}
        per_panel = SERVE_LOADS_PER_ROUND // len(dashboard.PANELS) if r else 1
        for panel in rng.permutation(np.repeat(dashboard.PANELS, per_panel)):
            panel = str(panel)
            with tracer.span("dashboard.serve", r=r, panel=panel) as sv:
                df = dashboard.serve(spark, gold, panel)
                rows = [tuple(x) for x in df.collect()]
            if r:
                serve_ms.append(sv.seconds * 1000.0)
            panels[panel] = (df.columns, rows)

        if r % COMPACT_EVERY == COMPACT_EVERY - 1:
            with tracer.span("sources.compact", r=r) as cp:
                compact(spark, store)
            ingest_secs[-1] += cp.seconds
            bytes_written += dir_bytes(store)

        # untimed checks: counters against the generator, gold against the store
        expect = len(rnd.new_urls)
        stored += expect + rnd.drop_new
        doc_bytes += rnd.doc_bytes
        counters.append({"new_rows": got["new_rows"], "appended": appended,
                         "batches": len(batches)})
        problems = []
        if got["new_rows"] != expect:
            problems.append(f"new_rows {got['new_rows']} != {expect}")
        if got["store_rows"] != stored - rnd.drop_new:
            problems.append(f"store_rows {got['store_rows']} != {stored - rnd.drop_new}")
        if appended != rnd.drop_new:
            problems.append(f"drained {appended} != {rnd.drop_new}")
        tally.record(f"round {r} counters", problems)
        con = checks.store_connection(store)
        for panel, sql in expected_sql.items():
            cols, rows = panels[panel]
            tally.record(f"round {r} {panel}", checks.check_query(con, panel, sql, cols, rows))
        con.close()
        r += 1

    with tracer.span("sources.compact", r=r) as cp:
        compact(spark, store)
    ingest_secs[-1] += cp.seconds
    final_bytes = dir_bytes(store)
    bytes_written += final_bytes

    warm = slice(1, None)
    e2e = {
        "cold_s": round_secs[0],
        "warm_s": _median(round_secs[warm]),
        "p50_ms": _pct(serve_ms, 50),
        "p90_ms": _pct(serve_ms, 90),
        "throughput_per_s": sum(landed[warm]) / sum(ingest_secs[warm]),
    }
    layers = {
        "sources.replica_build_s": build_s,
        "crawl.new_rows": _median(c["new_rows"] for c in counters),
        "crawl.failed_fetches": _median(x.failed_fetches for x in plan.rounds[:r]),
        "streaming.batches": _median(c["batches"] for c in counters),
        "streaming.rows_appended": _median(c["appended"] for c in counters),
        "sources.store_files": _median(store_files),
        "sources.store_bytes_per_doc_byte": final_bytes / doc_bytes,
        "sources.bytes_written_per_doc_byte": bytes_written / doc_bytes,
    }
    notes = {"rounds": r, "round_s": [round(x, 3) for x in round_secs],
             "serve_loads": len(serve_ms),
             "loads_beyond_p90": sum(x > e2e["p90_ms"] for x in serve_ms)}
    if tracer.enabled:
        layers.update(_crawl_layers(spark, tracer, len(round_secs)))
        layers.update({"trace.cold_s": e2e["cold_s"], "trace.warm_s": e2e["warm_s"]})
        pages = [h for rnd in plan.rounds[:r] for u, h in rnd.pages.items()
                 if "/posts/" in u][:400]
        t = time.perf_counter()
        for h in pages:
            extract_article(h)
        layers["extraction.parse_us_per_page"] = (time.perf_counter() - t) / len(pages) * 1e6
    return Outcome(e2e, layers, tally, notes)


def _crawl_layers(spark, tracer, rounds: int) -> dict[str, float]:
    """Per-layer figures per warm round (median over the warm rounds)."""
    cost = attribute(spark, tracer)
    warm = set(range(1, rounds))

    def med(name):
        return _median(s.self_seconds for s in tracer.spans
                       if s.name == name and s.tags.get("r") in warm)

    serve_jobs = [cost[i].jobs for i, s in enumerate(tracer.spans)
                  if s.name == "dashboard.serve" and i in cost
                  and s.tags.get("r") in warm]
    out = {
        "crawl.round_s": med("crawl.round"),
        "streaming.drain_s": med("streaming.drain"),
        "sources.compact_s": _median(s.seconds for s in tracer.spans
                                     if s.name == "sources.compact"),
        "dashboard.refresh_s": med("dashboard.refresh"),
        "dashboard.serve_jobs": _median(serve_jobs),
    }
    # store-side Spark costs per warm round, over every span of the round
    per_round = {r: [] for r in warm}
    for i, s in enumerate(tracer.spans):
        if i in cost and s.tags.get("r") in per_round and s.name != "round":
            per_round[s.tags["r"]].append(cost[i])
    for key, attr in COST_LAYERS.items():
        out[key] = _median(sum(getattr(c, attr) for c in cs) for cs in per_round.values())
    return out


WORKLOADS = {
    "star": query_workload(STAR_QUERIES, inputs.STAR_SIZES),
    "llm_curation": query_workload(CURATION_QUERIES, inputs.CURATION_SIZES),
    "crawl_ingest": crawl_ingest,
}
