"""Per-query execution profile for the optimization round (guide §1).

Runs every registry query in BENCH_ORDER at $SPARK_GRAFT_SF_DIR after
bench.py's own warm-up (``bench.warm_up``), so steady-state numbers
match bench.py, and records, per query:

  wall_s        end-to-end build+collect seconds (the bench's metric)
  rows          rows the query returned
  n_jobs        Spark jobs the query submitted
  n_stages      stages that ran (skipped stages, whose shuffle output
                was reused, are not counted)
  n_tasks       completed tasks
  executor_ms   sum of stage executorRunTime (per-task compute, summed
                across parallel tasks — NOT wall time)
  shuffle_r/w   shuffle bytes read/written
  input_mb      bytes read from storage
  codegen_compiles  Janino compiles (generated-code cache misses) during
                build+collect, from CodegenMetrics; near 0 on a warm
                session whose class cache holds the query's classes

The job and stage counters come from ``perfbench.probe``: each rep runs
under its own Spark job group, and ``stage_totals`` sums the status
store's statistics over that group's jobs once ``drain_events`` has
flushed the listener bus. Spark runs a streaming query's micro-batches
under a job group named after the query's run id, so those run ids are
counted with the rep. The Spark UI stays off.

The gap between wall_s and what tasks account for is driver-side time:
planning, job scheduling round-trips, Python-side work between jobs
(collect loops such as Lloyd iterations), and py4j latency. A query
with high n_jobs and low executor_ms is overhead-bound at this scale;
a query with executor_ms >> wall_s x cores is compute-bound.

Output: JSON map on stdout + /tmp/profile_queries_<sf>.json (or --out).

Usage: python tools/profile_queries.py [--only name1,name2] [--reps N]
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql.streaming.listener import StreamingQueryListener  # noqa: E402


class _StreamRuns(StreamingQueryListener):
    """Collects the run id of every streaming query started: the job
    group its micro-batch jobs run under."""

    def __init__(self):
        self.run_ids: list[str] = []

    def onQueryStarted(self, event):  # noqa: N802 (JVM interface)
        self.run_ids.append(str(event.runId))

    def onQueryProgress(self, event):  # noqa: N802
        pass

    def onQueryIdle(self, event):  # noqa: N802
        pass

    def onQueryTerminated(self, event):  # noqa: N802
        pass


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--only", default=None, help="comma-separated query names")
    ap.add_argument("--reps", type=int, default=1)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = m.group(1) if m else "x"

    from bench import warm_up
    from energydatalake_spark import release_caches
    from energydatalake_spark.plans.registry import QUERIES, bench_order
    from energydatalake_spark.session import get_spark
    from perfbench.probe import drain_events, stage_totals

    spark = get_spark("profile")
    sc = spark.sparkContext
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    warm_up(spark, sf_dir)
    streams = _StreamRuns()
    spark.streams.addListener(streams)

    names = bench_order()
    if args.only:
        want = set(args.only.split(","))
        names = [n for n in names if n in want]

    profile: dict[str, dict] = {}
    for name in names:
        q = QUERIES[name]
        best = None
        for rep in range(max(1, args.reps)):
            group = f"profile-{name}-{rep}"
            n_streams = len(streams.run_ids)
            sc.setJobGroup(group, f"profile:{name}")
            c0 = compiles.METRIC_COMPILATION_TIME().getCount()
            t0 = time.perf_counter()
            df = q.build(spark, sf_dir)
            n_rows = len(df.collect())
            wall = time.perf_counter() - t0
            n_compiles = compiles.METRIC_COMPILATION_TIME().getCount() - c0
            sc._jsc.clearJobGroup()
            drain_events(spark)
            tot = stage_totals(spark, [group, *streams.run_ids[n_streams:]])
            rec = {
                "wall_s": round(wall, 3),
                "rows": n_rows,
                "n_jobs": tot["jobs"],
                "n_stages": tot["stages"],
                "n_tasks": tot["tasks"],
                "executor_ms": tot["executor_run_ms"],
                "shuffle_r_mb": round(tot["shuffle_read_bytes"] / 2**20, 2),
                "shuffle_w_mb": round(tot["shuffle_write_bytes"] / 2**20, 2),
                "input_mb": round(tot["input_bytes"] / 2**20, 2),
                "codegen_compiles": n_compiles,
            }
            release_caches()
            if best is None or rec["wall_s"] < best["wall_s"]:
                best = rec
        profile[name] = best
        print(f"# {name}: {best['wall_s']:.2f}s jobs={best['n_jobs']} "
              f"stages={best['n_stages']} tasks={best['n_tasks']} "
              f"exec={best['executor_ms']/1000:.2f}s "
              f"shufW={best['shuffle_w_mb']}MB "
              f"compiles={best['codegen_compiles']}", file=sys.stderr, flush=True)

    out_path = args.out or f"/tmp/profile_queries_sf{sf}.json"
    payload = {"sf_dir": sf_dir, "profile": profile,
               "total_wall_s": round(sum(p["wall_s"] for p in profile.values()), 2)}
    with open(out_path, "w") as f:
        json.dump(payload, f, indent=1, sort_keys=True)
    print(json.dumps({"out": out_path,
                      "total_wall_s": payload["total_wall_s"]}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
