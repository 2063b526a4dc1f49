"""Per-query execution profile for the optimization round (guide §1).

Runs every registry query in BENCH_ORDER at $SPARK_GRAFT_SF_DIR with a
UI-enabled session (the r18.16 stage-metrics precedent) and records,
per query:

  wall_s        end-to-end build+collect seconds (the bench's metric)
  n_jobs        Spark jobs the query submitted
  n_stages      completed stages
  n_tasks       completed tasks
  executor_ms   sum of stage executorRunTime (per-task compute, summed
                across parallel tasks — NOT wall time)
  shuffle_r/w   shuffle bytes read/written
  input_bytes   bytes read from storage
  codegen_compiles  Janino compiles (generated-code cache misses) during
                build+collect, from CodegenMetrics; near 0 on a warm
                session whose class cache holds the query's classes

The gap between wall_s and what tasks account for is driver-side time:
planning, job scheduling round-trips, Python-side work between jobs
(collect loops such as Lloyd iterations), and py4j latency. A query
with high n_jobs and low executor_ms is overhead-bound at this scale;
a query with executor_ms >> wall_s x cores is compute-bound.

Output: JSON map on stdout + /tmp/profile_queries_<sf>.json. Bench
warm-up policy is replicated so steady-state numbers match bench.py.

Usage: python tools/profile_queries.py [--only name1,name2] [--reps N]
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _rest(base: str, path: str):
    with urllib.request.urlopen(base + path, timeout=30) as r:
        return json.load(r)


def _stage_attempts(base: str, app: str):
    """stageId -> metrics dict for all completed stage attempts."""
    out = {}
    for s in _rest(base, f"/api/v1/applications/{app}/stages?status=COMPLETE"):
        key = (s["stageId"], s["attemptId"])
        out[key] = {
            "tasks": s.get("numCompleteTasks", 0),
            "executor_ms": s.get("executorRunTime", 0),
            "shuffle_r": s.get("shuffleReadBytes", 0),
            "shuffle_w": s.get("shuffleWriteBytes", 0),
            "input_bytes": s.get("inputBytes", 0),
        }
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--only", default=None, help="comma-separated query names")
    ap.add_argument("--reps", type=int, default=1)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = m.group(1) if m else "x"

    from energydatalake_spark import release_caches
    from energydatalake_spark.io.readers import read_table
    from energydatalake_spark.plans.registry import QUERIES, bench_order
    from energydatalake_spark.session import get_spark

    spark = get_spark("profile", extra_conf={"spark.ui.enabled": "true"})
    sc = spark.sparkContext
    base = sc.uiWebUrl
    app = sc.applicationId
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    # --- bench.py warm-up policy, replicated (frozen r9 list) ---------
    for t in ("lineitem", "events", "documents", "embeddings", "customer"):
        read_table(spark, sf_dir, t).count()
    first = next(iter(QUERIES.values()))
    first.build(spark, sf_dir).collect()
    from energydatalake_spark.text.normalize_text import normalize_text

    normalize_text(
        spark.createDataFrame([("warm 123",), ("up",)], "text string")
    ).collect()
    from energydatalake_spark.similarity.neardup import embedding_near_dup_lsh

    embedding_near_dup_lsh(
        spark.createDataFrame(
            [(0, [1.0] * 64), (1, [1.0] * 64)],
            "vec_id bigint, embedding array<float>",
        ),
        threshold=0.9,
    ).collect()
    import shutil
    import tempfile

    from energydatalake_spark.streaming.dedup import streaming_dedup
    from energydatalake_spark.streaming.windows import run_stream_to_memory

    warm_dir = tempfile.mkdtemp(prefix="profile_stream_warm_")
    try:
        spark.createDataFrame([("a",), ("a",)], "k string").write.mode(
            "overwrite"
        ).parquet(warm_dir + "/t")
        warm_stream = spark.readStream.schema("k string").parquet(warm_dir + "/t")
        run_stream_to_memory(
            spark, streaming_dedup(warm_stream, ["k"]),
            "profile_warmup_stream", "append",
            timeout_sec=60.0, shuffle_partitions=2,
        )
    except Exception as exc:
        print(f"# stream warm-up skipped: {exc}", file=sys.stderr)
    finally:
        shutil.rmtree(warm_dir, ignore_errors=True)
    for warm_q in ("streaming_enrich", "streaming_asof", "multimodal_decode",
                   "minhash_pairs", "dedup_embedding_lsh"):
        if warm_q in QUERIES:
            try:
                QUERIES[warm_q].build(spark, "/root/testdata/sf0.001").collect()
            except Exception as exc:
                print(f"# {warm_q} warm-up skipped: {exc}", file=sys.stderr)
            release_caches()
    # ------------------------------------------------------------------

    names = bench_order()
    if args.only:
        want = set(args.only.split(","))
        names = [n for n in names if n in want]

    profile: dict[str, dict] = {}
    for name in names:
        q = QUERIES[name]
        best = None
        for _ in range(max(1, args.reps)):
            jobs_before = {j["jobId"] for j in _rest(
                base, f"/api/v1/applications/{app}/jobs")}
            stages_before = _stage_attempts(base, app)
            sc.setJobDescription(f"profile:{name}")
            c0 = compiles.METRIC_COMPILATION_TIME().getCount()
            t0 = time.perf_counter()
            df = q.build(spark, sf_dir)
            n_rows = len(df.collect())
            wall = time.perf_counter() - t0
            n_compiles = compiles.METRIC_COMPILATION_TIME().getCount() - c0
            sc.setJobDescription(None)
            jobs_after = [j for j in _rest(
                base, f"/api/v1/applications/{app}/jobs")
                if j["jobId"] not in jobs_before]
            stages_after = _stage_attempts(base, app)
            new_stages = {k: v for k, v in stages_after.items()
                          if k not in stages_before}
            rec = {
                "wall_s": round(wall, 3),
                "rows": n_rows,
                "n_jobs": len(jobs_after),
                "n_stages": len(new_stages),
                "n_tasks": sum(v["tasks"] for v in new_stages.values()),
                "executor_ms": sum(v["executor_ms"] for v in new_stages.values()),
                "shuffle_r_mb": round(sum(
                    v["shuffle_r"] for v in new_stages.values()) / 2**20, 2),
                "shuffle_w_mb": round(sum(
                    v["shuffle_w"] for v in new_stages.values()) / 2**20, 2),
                "input_mb": round(sum(
                    v["input_bytes"] for v in new_stages.values()) / 2**20, 2),
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
