"""Benchmark runner for the crawl-analytics engine.

    python3 perfbench/run.py --workload star --seed 1 --seconds 40 --trace 0

Run from the repository root. It drives the package from outside,
through its public functions only: ``session.get_spark``, the registered
query builders of ``plans.query_map()``, ``crawl.pipeline.crawl_batch``,
``streaming.ingest.ingest_stream``, ``dashboard.refresh_gold`` /
``serve``, ``sources.maintenance.compact`` and
``extraction.html.extract_article``.

One process, one ``local[nproc]`` session, one operation at a time. All
run state (inputs, store, gold tables, stream checkpoints, Spark scratch
space, the Spark log) lives in a ``.perfbench-run-<pid>`` directory of
the checkout that the runner removes on exit. The last stdout line is
the result::

    {"correct": true, "attempted": 60, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of ``END_TO_END``,
``--trace 1`` the per-layer metrics of ``per_layer_units()``. The line
before it (``# host {...}``) stamps the host facts and run notes.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import re  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "crawlingbigdatavisionaid_spark"
HEAP = "2g"

END_TO_END = {
    "setup_s": "s",
    "cold_s": "s",
    "warm_s": "s",
    "p50_ms": "ms",
    "p90_ms": "ms",
    "throughput_per_s": "1/s",
    "peak_rss_mb": "MB",
}
LAYERS = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "session.driver_error_lines": "count",
    "sources.replica_build_s": "s",
    "plans.construct_s": "s",
    "plans.construct_jobs": "count",
    "plans.execute_s": "s",
    "plans.execute_jobs": "count",
    "plans.compile_s": "s",
    "plans.tasks": "count",
    "plans.shuffle_write_bytes": "B",
    "plans.spill_bytes": "B",
    "sources.scan_bytes": "B",
    "sources.scan_time_s": "s",
    "sources.retained_cache_mb": "MB",
    "operators.py_bytes_sent": "B",
    "operators.py_bytes_returned": "B",
    "operators.py_rows": "count",
    "operators.py_run_s": "s",
    "extraction.parse_us_per_page": "us",
    "crawl.round_s": "s",
    "crawl.new_rows": "count",
    "crawl.failed_fetches": "count",
    "streaming.drain_s": "s",
    "streaming.batches": "count",
    "streaming.rows_appended": "count",
    "sources.compact_s": "s",
    "sources.store_files": "count",
    "sources.store_bytes_per_doc_byte": "ratio",
    "sources.bytes_written_per_doc_byte": "ratio",
    "dashboard.refresh_s": "s",
    "dashboard.serve_jobs": "count",
    "trace.cold_s": "s",
    "trace.warm_s": "s",
}


def per_layer_units() -> dict[str, str]:
    from perfbench.workloads import ALL_QUERIES

    units = dict(LAYERS)
    for q in ALL_QUERIES:
        units[f"q.{q}.warm_s"] = "s"
        units[f"q.{q}.construct_s"] = "s"
    return units


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants.

    The process tree is re-read every few samples only: walking /proc
    is the sampler's main cost and the tree changes rarely."""

    PERIOD_S = 0.5
    TREE_EVERY = 4

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0
        self._halt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._tree = [os.getpid()]

    def _refresh_tree(self) -> None:
        parent: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as f:
                        parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    pass
        tree, frontier = {os.getpid()}, [os.getpid()]
        while frontier:
            p = frontier.pop()
            kids = [c for c, pp in parent.items() if pp == p and c not in tree]
            tree.update(kids)
            frontier += kids
        self._tree = sorted(tree)

    def _sample(self) -> None:
        total = 0
        for pid in self._tree:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        self.peak = max(self.peak, total)

    def run(self):
        n = 0
        while not self._halt.wait(self.PERIOD_S):
            if n % self.TREE_EVERY == 0:
                self._refresh_tree()
            self._sample()
            n += 1

    def stop(self) -> float:
        self._halt.set()
        self.join()
        self._refresh_tree()
        self._sample()
        return self.peak / 2**20


def prepare_env(workdir: str, trace: bool) -> None:
    """Point every scratch path of Python, the JVM and Spark into workdir.

    A traced run also raises the status stores' retention, so that every
    job of the run is still there to attribute when it ends."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    os.environ.pop("SPARK_GRAFT_PRETOUCH", None)
    confs = {
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        for key in ("spark.ui.retainedJobs", "spark.ui.retainedStages",
                    "spark.sql.ui.retainedExecutions"):
            confs[key] = "100000"
    args = " ".join(f"--conf {k}={v}" for k, v in confs.items())
    # -Xms pins the heap so peak RSS does not depend on when GC resizes it;
    # no perf-data file, since the JVM would write it under /tmp
    java = f"-Xms{HEAP} -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} --driver-java-options '{java}' pyspark-shell"


def host_facts(seed: int) -> dict:
    import duckdb
    import pyspark

    return {
        "nproc": nproc(),
        "heap": HEAP,
        "spark": pyspark.__version__,
        "python": sys.version.split()[0],
        "duckdb": duckdb.__version__,
        "seed": seed,
    }


def steal_seconds() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs:
    a run that lost much of it was measured on a busy host."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def warm_up(spark) -> None:
    """Two trivial jobs: start the executor threads, the scheduler and the
    Python worker daemon, which a session pays for once."""
    spark.range(10_000).selectExpr("sum(id)").collect()
    spark.range(100).mapInArrow(lambda it: it, "id long").collect()


def stop_spark(spark) -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - a stuck JVM is killed
            proc.kill()
            proc.wait()


_ERROR_LINE = re.compile(r"^\S+ \S+ ERROR ")


def run(args, workdir: str, log_path: str) -> tuple[dict, dict]:
    from perfbench import workloads
    from perfbench.trace import Tracer

    steal0 = steal_seconds()
    sampler = RssSampler()
    sampler.start()
    tracer = Tracer(enabled=bool(args.trace))
    from crawlingbigdatavisionaid_spark.session import get_spark

    with tracer.span("session.start") as st:
        spark = get_spark("perfbench")
    tracer.bind(spark)
    try:
        with tracer.span("session.warmup") as wu:
            warm_up(spark)
        out = workloads.WORKLOADS[args.workload](
            spark, tracer, workdir, args.seed, args.seconds
        )
    finally:
        peak_mb = sampler.stop()
        stop_spark(spark)
    builds = [s.seconds for s in tracer.find("sources.input_build")]
    first_unit = min(s.start for s in tracer.spans if s.name in ("pass", "round"))
    setup_s = first_unit - PROCESS_START - sum(builds) + statistics.median(builds)
    with open(log_path, errors="replace") as f:
        error_lines = sum(1 for line in f if _ERROR_LINE.match(line))

    e2e = dict(out.end_to_end, setup_s=setup_s, peak_rss_mb=peak_mb)
    layers = dict.fromkeys(per_layer_units(), 0.0)
    layers.update(out.layers)
    layers.update({
        "session.start_s": st.seconds,
        "session.warmup_s": wu.seconds,
        "session.driver_error_lines": error_lines,
    })
    if args.trace:
        metrics = {k: {"value": layers[k], "unit": u} for k, u in per_layer_units().items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    notes = dict(out.notes, tally_problems=out.tally.problems[:10],
                 steal_s=round(steal_seconds() - steal0, 2))
    result = {
        "correct": out.tally.failed == 0 and out.tally.attempted > 0,
        "attempted": out.tally.attempted,
        "failed": out.tally.failed,
        "metrics": metrics,
    }
    return result, notes


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(REPO, PACKAGE)) or not os.path.isfile(
        os.path.join(REPO, "tools", "verify_local.py")
    ):
        print(f"perfbench: no {PACKAGE} package (or tools/verify_local.py) under "
              f"{REPO}; run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, REPO)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"expected one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    workdir = os.path.join(REPO, f".perfbench-run-{os.getpid()}")
    os.makedirs(workdir)
    log_path = os.path.join(workdir, "spark.log")
    saved_err = os.dup(2)
    try:
        prepare_env(workdir, bool(args.trace))
        # the JVM inherits fd 2: its log lines land in the file and are
        # counted, then replayed on failure
        log_fd = os.open(log_path, os.O_WRONLY | os.O_CREAT | os.O_APPEND)
        os.dup2(log_fd, 2)
        os.close(log_fd)
        try:
            result, notes = run(args, workdir, log_path)
        except Exception:  # noqa: BLE001 - report, replay the log, fail the run
            traceback.print_exc()
            sys.stderr.flush()
            os.dup2(saved_err, 2)
            with open(log_path, errors="replace") as f:
                sys.stderr.write("".join(f.readlines()[-60:]))
            return 1
        sys.stderr.flush()
        os.dup2(saved_err, 2)
        print("# host " + json.dumps(dict(host_facts(args.seed), workload=args.workload,
                                          **notes), sort_keys=True))
        print(json.dumps(result, sort_keys=True), flush=True)
        return 0
    finally:
        os.dup2(saved_err, 2)
        os.close(saved_err)
        shutil.rmtree(workdir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
