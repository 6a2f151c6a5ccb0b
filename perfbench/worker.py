"""One benchmark run inside a fresh process (started by run.py).

Sets up the engine the way a job would (registry, session, catalog
views, Python-worker warm-up), runs one cold pass over the workload's
queries, then closed-loop timed passes that fill the window, then checks
every query once against its DuckDB oracle. Writes the run's result as
JSON to ``--result``.

Every query is ``registry.QUERIES[k](spark, sf_dir)`` and an action,
under its own Spark job group. In the timed passes the action is the
``noop`` sink. The cold pass collects the rows instead, and those are
what the oracle check compares: a second collect of every query would
add about one warm pass to each run. On these inputs a collect
takes about as long as the ``noop`` action, so cold_pass_s stays close
to a ``noop`` cold pass. With ``--trace 1`` timed passes alternate
between untraced and traced; traced passes record spans around each
call into the engine, and every pass reads Spark, streaming and file
counters after it ends.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import statistics
import sys
import threading
import time
import traceback
from collections import defaultdict

import probes
import stats
from spans import Tracer
from workloads import WORKLOADS, families

# A query running longer than this is cancelled and counts as failed.
QUERY_TIMEOUT_S = 40.0
# Timed passes a run makes at the least, however short the window.
MIN_PASSES = 3
# Set-up spans reported on their own by a traced run.
SETUP_SPANS = ("registry.load_all", "session.get_spark", "catalog.register_views",
               "warmup.workers")
# Extra session settings: Spark's own temp files stay in the run's temp
# dir, and the UI keeps enough jobs and stages for a traced pass.
BENCH_CONF = {
    "spark.ui.showConsoleProgress": "false",
    "spark.ui.retainedJobs": "20000",
    "spark.ui.retainedStages": "20000",
    "spark.ui.retainedTasks": "500000",
}


_T0 = time.monotonic()


def _log(msg: str) -> None:
    print(f"[{time.monotonic() - _T0:6.1f} s] {msg}", file=sys.stderr, flush=True)


class Run:
    def __init__(self, args):
        self.args = args
        self.workload = WORKLOADS[args.workload]
        self.sf_dir = os.environ["SPARK_GRAFT_SF_DIR"]
        self.tracer = Tracer(enabled=True)
        self.rng = random.Random(args.seed)
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.group_seq = 0

    # -- set-up ---------------------------------------------------------
    def setup(self) -> float:
        tr = self.tracer
        with tr.span("setup"):
            from etl_spark_eks_spark import registry
            from etl_spark_eks_spark.catalog import register_views
            from etl_spark_eks_spark.session import get_spark

            with tr.span("registry.load_all"):
                registry.load_all()
            tmp = os.environ["TMPDIR"]
            conf = dict(BENCH_CONF)
            conf["spark.driver.extraJavaOptions"] = f"-Djava.io.tmpdir={tmp}"
            conf["spark.sql.warehouse.dir"] = os.path.join(tmp, "warehouse")
            with tr.span("session.get_spark"):
                spark = get_spark(app_name=f"perfbench-{self.workload.name}", extra_conf=conf)
                spark.sparkContext.setLogLevel("ERROR")
            with tr.span("catalog.register_views"):
                register_views(spark, self.sf_dir)
            with tr.span("warmup.workers"):
                self._warm_workers(spark)
        self.registry = registry
        self.spark = spark
        return time.monotonic() - self.args.spawned_at

    @staticmethod
    def _warm_workers(spark) -> None:
        # The same pandas-UDF and row-UDF warm-up bench.py runs: the
        # Python worker pool starts here, not inside the first query.
        from pyspark.sql import functions as F

        warm = spark.range(64).repartition(spark.sparkContext.defaultParallelism)
        for col in (
            F.pandas_udf(lambda s: s + 1, "long")("id"),
            F.udf(lambda x: x + 1, "long")("id"),
        ):
            warm.select(col.alias("v")).write.format("noop").mode("overwrite").save()

    # -- queries --------------------------------------------------------
    @contextlib.contextmanager
    def job_group(self, key: str):
        """Run the body under a job group of its own, cancelled once it
        has run longer than the per-query timeout."""
        sc = self.spark.sparkContext
        self.group_seq += 1
        group = f"pb-{self.group_seq}-{key}"
        sc.setJobGroup(group, key)
        timer = threading.Timer(QUERY_TIMEOUT_S, sc.cancelJobGroup, [group])
        timer.start()
        try:
            yield
        finally:
            timer.cancel()
            self.spark.catalog.clearCache()

    def run_query(self, key: str, results: dict | None = None) -> float | None:
        """Build + action of one query; its latency, or None on failure.
        The action is the ``noop`` sink, or with ``results`` given, a
        collect whose rows are kept there for the oracle check."""
        fn = self.registry.QUERIES[key]
        family = fn.__module__.rsplit(".", 1)[-1]
        self.attempted += 1
        t0 = time.monotonic()
        try:
            with self.job_group(key), self.tracer.span("query", key=key):
                with self.tracer.span("operators.build", family=family):
                    df = fn(self.spark, self.sf_dir)
                with self.tracer.span("action.exec"):
                    if results is None:
                        df.write.format("noop").mode("overwrite").save()
                    else:
                        results[key] = df.toPandas()
            dt = time.monotonic() - t0
            _log(f"perfbench: {key} {dt:.3f} s")
            return dt
        except Exception:  # a failed query is counted, the run goes on
            self._fail(key, traceback.format_exc(limit=3))
            return None

    def _fail(self, key: str, why: str) -> None:
        self.failed += 1
        self.failures.append(key)
        _log(f"perfbench: {key} failed: {why}")

    def one_pass(self, traced: bool, order: list[str], results: dict | None = None) -> dict:
        """One pass over the workload's queries in ``order``. In a traced
        run every pass also reads the Spark, GC, file and micro-batch
        counters afterwards; only traced passes record spans."""
        self.tracer.enabled = traced
        lat: list[float] = []
        probing = bool(self.args.trace)
        if probing:
            gc0 = probes.jvm_gc_seconds(self.spark)
            files0 = probes.file_state(os.environ["TMPDIR"])
            job0 = probes.last_job_id(self.spark)
            self.listener.take()
        t0 = time.monotonic()
        with self.tracer.span("pass") as sp:
            for key in order:
                t = self.run_query(key, results)
                if t is not None:
                    lat.append(t)
        rec = {"wall": time.monotonic() - t0, "lat": lat, "traced": traced}
        if probing:
            rec["gc_s"] = probes.jvm_gc_seconds(self.spark) - gc0
            probes.drain_listener_bus(self.spark)
            rec["files"] = probes.written_since(
                files0, probes.file_state(os.environ["TMPDIR"])
            )
            rec["spark"] = probes.stage_counters(self.spark, job0)
            rec["batches"] = self.listener.take()
        if traced:
            self._record_batches(rec["batches"])
            rec["span"] = sp.id
        self.tracer.enabled = True
        return rec

    def _record_batches(self, batches: list[dict]) -> None:
        """Add each micro-batch as a span under the build span it ran in."""
        offset = time.time() - time.monotonic()
        for b in batches:
            start = b["start_epoch"] - offset
            end = start + b["trigger_s"]
            parent = self.tracer.overlapping("operators.build", start, end)
            self.tracer.add(
                "streaming.batch", start, end, parent.id if parent else None, **b
            )

    # -- correctness ----------------------------------------------------
    def check_oracles(self, results: dict) -> None:
        """Compare each query's collected result with its DuckDB oracle
        over the same files; a missing result or a mismatch fails."""
        import duckdb

        # tests/compare.py is the repository's order-insensitive result
        # comparison; the run uses it as is.
        sys.path.append(os.path.join(os.getcwd(), "tests"))
        from compare import assert_results_equal
        from etl_spark_eks_spark.catalog import TABLES, table_path

        con = duckdb.connect()
        con.execute("SET threads TO 4")
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{table_path(self.sf_dir, t)}')"
            )
        with self.tracer.span("oracle"):
            for key in sorted(self.workload.queries):
                self.attempted += 1
                try:
                    if key not in results:
                        raise RuntimeError("the cold pass produced no result")
                    t0 = time.monotonic()
                    want = con.execute(self.registry.ORACLES[key]).fetchdf()
                    assert_results_equal(results[key], want, key)
                    _log(f"perfbench: {key} matches its oracle "
                         f"({time.monotonic() - t0:.2f} s)")
                except Exception:  # mismatch or error: counted as failed
                    self._fail(key, traceback.format_exc(limit=2))
        con.close()

    # -- the run --------------------------------------------------------
    def execute(self) -> dict:
        args = self.args
        setup_s = self.setup()
        if args.trace:
            self.listener = probes.BatchListener()
            self.spark.streams.addListener(self.listener)
        _log(f"perfbench: ready after {setup_s:.2f} s")
        # The cold pass runs the queries in the workload's own order: the
        # first query pays the session's remaining warm-up, so a shuffled
        # order would spread cold_pass_s over seeds.
        results: dict = {}
        cold = self.one_pass(False, list(self.workload.queries), results)
        _log(f"perfbench: cold pass {cold['wall']:.2f} s")
        # Whole passes: at least three, so that their median is not the
        # first one, in which the JIT is still warming up (in a traced
        # run passes alternate, so a traced one lies between two
        # untraced ones); then more while at least half of one (as long
        # as the last took) still fits in the window.
        passes: list[dict] = []
        deadline = time.monotonic() + args.seconds
        while (len(passes) < MIN_PASSES
               or time.monotonic() + passes[-1]["wall"] / 2 < deadline):
            traced = bool(args.trace) and len(passes) % 2 == 1
            order = list(self.workload.queries)
            self.rng.shuffle(order)
            passes.append(self.one_pass(traced, order))
            p = passes[-1]
            _log(f"perfbench: pass traced={traced} {p['wall']:.2f} s, "
                 f"{len(p['lat'])} queries")
        rss = probes.peak_rss_mb(probes.jvm_pid(self.spark))
        self.check_oracles(results)

        plain = [p for p in passes if not p["traced"]]
        lat = [t for p in plain for t in p["lat"]]
        if not lat:
            raise RuntimeError("no timed query succeeded")
        if args.trace:
            metrics = self.layer_metrics(passes)
            metrics["spark.peak_rss_mb"] = (rss, "MB")
        else:
            metrics = {
                "setup_s": (setup_s, "s"),
                "cold_pass_s": (cold["wall"], "s"),
                "pass_s": (statistics.median([p["wall"] for p in plain]), "s"),
                "query_p50_s": (statistics.median(lat), "s"),
                "ok_frac": (1.0 - self.failed / self.attempted, "ratio"),
            }
        _log(f"perfbench: {len(passes)} timed passes, {len(lat)} untraced "
             f"executions, failed: {sorted(set(self.failures))}")
        self.tracer.dump(args.spans)
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }

    def layer_metrics(self, passes: list[dict]) -> dict:
        """Per-layer figures from the timed passes: set-up spans, medians
        over the traced passes, the spread of Spark's counters over all of
        them, and the tracing overhead (traced minus untraced pass time)."""
        tr = self.tracer
        traced = [p for p in passes if p["traced"]]
        warm = [p for p in passes if not p["traced"]]
        units = layer_units(self.families)
        out = {}
        for s in tr.spans:
            if s.name in SETUP_SPANS:
                out[f"{s.name}_s"] = (s.duration, "s")
        cores = self.spark.sparkContext.defaultParallelism
        per_pass: dict[str, list[float]] = defaultdict(list)
        for p in traced:
            spans = tr.descendants(p["span"])
            build = [s for s in spans if s.name == "operators.build"]
            fam = defaultdict(float)
            for s in build:
                fam[s.attrs["family"]] += s.duration
            b = sum(s.duration for s in build)
            per_pass["operators.build_s"].append(b)
            per_pass["operators.build_share"].append(b / p["wall"])
            per_pass["operators.build_self_s"].append(sum(tr.self_time(s) for s in build))
            for f in self.families:
                per_pass[f"operators.{f}_s"].append(fam.get(f, 0.0))
            per_pass["action.exec_s"].append(
                sum(s.duration for s in spans if s.name == "action.exec")
            )
            c = p["spark"]
            for k in ("jobs", "stages", "tasks", "failed_tasks", "task_run_s", "task_cpu_s"):
                per_pass[f"spark.{k}"].append(c[k])
            per_pass["spark.empty_task_frac"].append(c["empty_tasks"] / max(1, c["tasks"]))
            per_pass["spark.core_busy_frac"].append(c["task_run_s"] / (p["wall"] * cores))
            for k in ("shuffle_write", "shuffle_read", "spill"):
                per_pass[f"spark.{k}_mb"].append(c[f"{k}_b"] / 2**20)
            per_pass["spark.gc_s"].append(p["gc_s"])
            files, size = p["files"]
            per_pass["sources.files_written"].append(files)
            per_pass["sources.mb_written"].append(size / 2**20)
            per_pass["sources.write_amp"].append(size / self.input_bytes())
            bs = p["batches"]
            per_pass["streaming.batches"].append(len(bs))
            per_pass["streaming.batch_p50_s"].append(
                statistics.median([b["trigger_s"] for b in bs]) if bs else 0.0
            )
            for k in ("commit_s", "planning_s", "state_rows"):
                per_pass[f"streaming.{k}"].append(sum(b[k] for b in bs))
        for name, vals in per_pass.items():
            out[name] = (statistics.median(vals), units[name])
        # Counters that need not repeat from pass to pass (adaptive
        # execution re-plans): their spread over the timed passes.
        for k in ("jobs", "stages", "tasks"):
            out[f"spark.{k}_spread"] = (
                stats.spread([p["spark"][k] for p in passes]), "ratio"
            )
        out["trace.overhead_s"] = (
            statistics.median([p["wall"] for p in traced])
            - statistics.median([p["wall"] for p in warm]),
            "s",
        )
        return out

    @property
    def families(self) -> list[str]:
        return families(self.registry)

    def input_bytes(self) -> int:
        return sum(
            os.path.getsize(os.path.join(self.sf_dir, f)) for f in os.listdir(self.sf_dir)
        )


def layer_units(families: list[str]) -> dict[str, str]:
    """Name -> unit of every per-layer metric a traced run reports."""
    units = {f"{name}_s": "s" for name in SETUP_SPANS}
    units.update({
        "operators.build_s": "s", "operators.build_share": "ratio",
        "operators.build_self_s": "s",
    })
    units.update({f"operators.{f}_s": "s" for f in families})
    units.update({
        "action.exec_s": "s",
        "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
        "spark.failed_tasks": "count", "spark.task_run_s": "s",
        "spark.task_cpu_s": "s", "spark.empty_task_frac": "ratio",
        "spark.core_busy_frac": "ratio", "spark.shuffle_write_mb": "MB",
        "spark.shuffle_read_mb": "MB", "spark.spill_mb": "MB", "spark.gc_s": "s",
        "spark.peak_rss_mb": "MB",
        "sources.files_written": "count", "sources.mb_written": "MB",
        "sources.write_amp": "ratio", "streaming.batches": "count",
        "streaming.batch_p50_s": "s", "streaming.commit_s": "s",
        "streaming.planning_s": "s", "streaming.state_rows": "count",
        "spark.jobs_spread": "ratio", "spark.stages_spread": "ratio",
        "spark.tasks_spread": "ratio", "trace.overhead_s": "s",
    })
    return units


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spans", required=True)
    ap.add_argument("--spawned-at", type=float, required=True)
    ap.add_argument("--result", required=True)
    args = ap.parse_args()
    run = Run(args)
    try:
        result = run.execute()
    finally:
        if hasattr(run, "spark"):
            t0 = time.monotonic()
            run.spark.stop()
            _log(f"perfbench: stopped in {time.monotonic() - t0:.2f} s")
    with open(args.result, "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
