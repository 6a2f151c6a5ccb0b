#!/usr/bin/env python
"""Per-query decomposition profiler (optimization rounds, guide §1).

Runs selected registered queries exactly like bench.py (same session
profile, same noop-sink action, catalog cleared between queries), but
AFTER each run pulls the Spark UI REST API to decompose wall time into
the individual JOBS the query submitted — names, durations, task
counts, task run seconds, the JVM CPU seconds within them and the
rest (``wait_s``: Python-worker time and waiting) — and
optionally writes `explain("formatted")` to plans/<tag>/<key>_<when>.txt.

This answers the question BENCH_DETAIL cannot: when a 4-second query
is 12 sequential jobs of 0.3 s, the fix is job-count surgery, not
expression tuning; when it is one 3.5 s stage, the fix is inside that
stage.

Usage:
  python tools/profile_query.py --only=q_c18_dedup_clusters[,k2,...]
      [--reps=3] [--sf-dir=/root/testdata/sf0.1]
      [--plans=plans/r12 --when=before]
Prints one JSON line per (key, rep) with the job table, then a summary
line per key (min seconds across reps).
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def _rest(url: str):
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.loads(r.read().decode())


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    only: list[str] = []
    reps = 3
    plans_dir = None
    when = "before"
    for arg in sys.argv[1:]:
        if arg.startswith("--only="):
            only = arg.split("=", 1)[1].split(",")
        elif arg.startswith("--reps="):
            reps = int(arg.split("=", 1)[1])
        elif arg.startswith("--sf-dir="):
            sf_dir = arg.split("=", 1)[1]
        elif arg.startswith("--plans="):
            plans_dir = Path(_REPO) / arg.split("=", 1)[1]
        elif arg.startswith("--when="):
            when = arg.split("=", 1)[1]

    from etl_spark_eks_spark import registry
    from etl_spark_eks_spark.catalog import register_views
    from etl_spark_eks_spark.session import get_spark

    registry.load_all()
    keys = only or sorted(registry.QUERIES)

    spark = get_spark(
        app_name="etl-spark-eks-spark-profile",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    register_views(spark, sf_dir)

    ui = spark.sparkContext.uiWebUrl  # e.g. http://host:4040
    app_id = spark.sparkContext.applicationId

    # Same worker-pool warmup as bench.py so rep-0 numbers are comparable.
    from pyspark.sql import functions as F

    _warm = spark.range(64).repartition(spark.sparkContext.defaultParallelism)
    for col in (
        F.pandas_udf(lambda s: s + 1, "long")("id"),
        F.udf(lambda x: x + 1, "long")("id"),
    ):
        _warm.select(col.alias("v")).write.format("noop").mode(
            "overwrite"
        ).save()

    summary: dict[str, float] = {}
    for key in keys:
        fn = registry.QUERIES[key]
        best = None
        for rep in range(reps):
            jobs_before = {j["jobId"] for j in _rest(f"{ui}/api/v1/applications/{app_id}/jobs?status=succeeded")} if ui else set()
            spark.sparkContext.setJobDescription(f"profile:{key}")
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            t = round(time.perf_counter() - t0, 3)
            spark.sparkContext.setJobDescription(None)
            if plans_dir is not None and rep == 0:
                plans_dir.mkdir(parents=True, exist_ok=True)
                plan = fn(spark, sf_dir)._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                        "formatted"
                    )
                )
                (plans_dir / f"{key}_{when}.txt").write_text(plan)
            job_rows = []
            if ui:
                # Task time per stage, summed over its attempts:
                # executorRunTime (ms) is the tasks' wall time,
                # executorCpuTime (ns) only the JVM's share of it, so a
                # Python stage's worker time, and any wait on the
                # Python transport, shows as wait_s = run_s - cpu_s. A
                # reused shuffle stage keeps its id in later jobs, where
                # it is skipped; it counts for the first job that lists it.
                stage_time: dict[int, list[float]] = {}
                for st in _rest(f"{ui}/api/v1/applications/{app_id}/stages"):
                    acc = stage_time.setdefault(st["stageId"], [0.0, 0.0])
                    acc[0] += st.get("executorRunTime", 0) / 1e3
                    acc[1] += st.get("executorCpuTime", 0) / 1e9
                jobs = sorted(
                    _rest(f"{ui}/api/v1/applications/{app_id}/jobs"),
                    key=lambda j: j["jobId"],
                )
                owner: dict[int, int] = {}
                for j in jobs:
                    for sid in j["stageIds"]:
                        owner.setdefault(sid, j["jobId"])
                for j in jobs:
                    if j["jobId"] in jobs_before or j["status"] == "RUNNING":
                        continue
                    ran = [
                        stage_time[sid]
                        for sid in j["stageIds"]
                        if owner[sid] == j["jobId"] and sid in stage_time
                    ]
                    try:
                        from datetime import datetime

                        fmt = "%Y-%m-%dT%H:%M:%S.%fGMT"
                        dur = (
                            datetime.strptime(j["completionTime"], fmt)
                            - datetime.strptime(j["submissionTime"], fmt)
                        ).total_seconds()
                    except (KeyError, ValueError):
                        dur = None
                    run_s = sum(r for r, _ in ran)
                    cpu_s = sum(c for _, c in ran)
                    job_rows.append(
                        {
                            "job": j["jobId"],
                            "sec": dur,
                            "tasks": j.get("numTasks"),
                            "run_s": round(run_s, 3),
                            "cpu_s": round(cpu_s, 3),
                            "wait_s": round(run_s - cpu_s, 3),
                            "desc": (j.get("description") or j.get("name", ""))[
                                :100
                            ],
                        }
                    )
                job_rows.sort(key=lambda r: r["job"])
            print(
                json.dumps(
                    {
                        "key": key,
                        "rep": rep,
                        "sec": t,
                        "n_jobs": len(job_rows),
                        "jobs": job_rows,
                    },
                    separators=(",", ":"),
                )
            )
            if best is None or t < best:
                best = t
            spark.catalog.clearCache()
        summary[key] = best
    for k in keys:
        print(json.dumps({"query": k, "min_sec": summary[k]}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
