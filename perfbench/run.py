"""Benchmark: run one named workload in this fresh process and print one
JSON line of metrics as the last line of stdout.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload corpus --seed 1 --repeat 5

Run from the repository root. Setting: ``local[4]``, one client, closed
loop (the next op is submitted when the previous one returned). See
``perfbench/README.md`` for the workloads and every metric.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` is a
separate run of the same workload that alternates untraced and traced
passes and prints the per-layer metrics, writing the spans to
``.perfbench/trace/``. ``--repeat N`` is the steadiness mode: it runs
the workload N times (seeds seed..seed+N-1), each in its own process,
and prints every metric's median and quartile spread.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

import probe
import workloads
from stats import fail_ratio, percentile, quartile_spread

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
CORES = 4
WORKLOADS = ("dashboard", "corpus", "elt_ingest")
#: Passes a run makes at least. Every timed pass counts, the first
#: included: module-level memos (probe memo, ``cached_expr``) fill and
#: the JIT is still warming during it, and a change that moves work into
#: or out of them should show. The trace also reports it on its own. A
#: traced run makes one more pass, so traced and untraced passes
#: alternate.
MIN_PASSES = 2
#: A run stops starting passes after this long, whatever ``--seconds``.
MAX_MEASURE_S = 120.0
#: Environment variable that marks every process a run starts.
RUN_TAG = "PERFBENCH_RUN"
#: Seconds to wait for a process to end before it is killed.
STOP_GRACE_S = 20.0

#: End-to-end times are CPU seconds of this process and every process
#: it started (the JVM, Python workers): on a shared host, time stolen
#: by other guests swings wall time up to ~2x between runs while CPU
#: time stays within ~10%. Wall-clock figures are per-layer (``wall.*``),
#: with the share of host CPU stolen meanwhile (``host.steal_ratio``).
E2E_UNITS = {
    "setup_s": "s",
    "pass_cpu_s": "s",
    "op_cpu_p50_s": "s",
    "op_cpu_p75_s": "s",
    "rows_per_cpu_s": "rows/cpu-s",
    "write_amp": "B/B",
}
LAYER_UNITS = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "wall.pass_s": "s",
    "wall.latency_p50_s": "s",
    "wall.latency_p75_s": "s",
    "wall.rows_per_s": "rows/s",
    "host.steal_ratio": "ratio",
    "peak_rss_mb": "MiB",
    "first_pass_s": "s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.build_share": "ratio",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.collect_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.executor_run_ms": "ms",
    "exec.executor_cpu_ms": "ms",
    "exec.gc_ms": "ms",
    "exec.shuffle_write_bytes": "B",
    "exec.shuffle_read_bytes": "B",
    "exec.spill_bytes": "B",
    "exec.core_busy_ratio": "ratio",
    "io.input_bytes": "B",
    "io.input_rows": "rows",
    "io.rows_per_result_row": "ratio",
    "io.upsert_s": "s",
    "io.overwrite_s": "s",
    "io.csv_export_s": "s",
    "io.archive_s": "s",
    "io.output_bytes": "B",
    "io.output_files": "count",
    "io.landed_per_delivered": "ratio",
    "operators.asof_s": "s",
    "operators.band_s": "s",
    "operators.probe_jobs": "count",
    "cache.frames_released": "count",
    "cache.storage_peak_bytes": "B",
    "streaming.batches": "count",
    "streaming.batch_ms": "ms",
    "trace.overhead_ratio": "ratio",
}


def _environment() -> str:
    """Keep every file the run writes inside the checkout; returns the
    run's private scratch directory."""
    tmp = os.path.join(WORK, f"tmp-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    # Inherited by the JVM and every Python worker it forks, so
    # ``_stop_processes`` can find them even once re-parented.
    os.environ[RUN_TAG] = f"{os.getpid()}-{time.time_ns()}"
    old = os.environ.get("PYTHONPATH")
    # Python workers of pandas UDFs import the engine too.
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    sys.path.insert(0, ROOT)
    return tmp


def _stop_processes() -> None:
    """Stop the Spark JVM and every process it started, and wait until
    each has ended. ``spark.stop()`` leaves the JVM up until it sees its
    stdin close, which happens only after this process has exited."""
    if "pyspark" in sys.modules:
        from pyspark import SparkContext

        if SparkContext._active_spark_context is not None:
            try:
                SparkContext._active_spark_context.stop()
            except Exception as exc:  # the JVM is stopped below regardless
                print(f"# spark.stop() failed: {exc!r}", file=sys.stderr)
        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway exits on EOF
            try:
                proc.wait(STOP_GRACE_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    tag = os.environ.get(RUN_TAG)
    if not tag:
        return
    deadline = time.monotonic() + STOP_GRACE_S
    sig = signal.SIGTERM
    while pids := _tagged_pids(f"{RUN_TAG}={tag}".encode()):
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.1)


def cpu_seconds() -> float:
    """CPU seconds (user + system, reaped children included) used so far
    by this process and every live process the run started. A process
    that ends was reaped by one of these, so the sum never drops."""
    pids = [os.getpid()]
    tag = os.environ.get(RUN_TAG)
    if tag:
        pids += _tagged_pids(f"{RUN_TAG}={tag}".encode())
    ticks = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def _host_cpu() -> tuple[int, int]:
    """(stolen, total) CPU ticks of this machine since boot; stolen ticks
    are those the hypervisor gave to other guests."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks[:8])


def _tagged_pids(entry: bytes) -> list[int]:
    """Live processes other than this one whose environment holds ``entry``."""
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit() or int(name) == os.getpid():
            continue
        try:
            with open(f"/proc/{name}/environ", "rb") as fh:
                if entry in fh.read().split(b"\0"):
                    pids.append(int(name))
        except OSError:  # ended meanwhile, or a zombie
            pass
    return pids


def _session(tmp: str):
    from energydatalake_spark.session import get_spark

    return get_spark(
        "perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(tmp, "spark-warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        },
    )


class Runner:
    """Runs ops, passes and the timed loop of one workload."""

    def __init__(self, spark, wl, trace: bool):
        self.spark = spark
        self.wl = wl
        self.trace = trace
        self.tracer = probe.Tracer(spark, enabled=False)
        self.catalyst = self.stream = None
        self.failures: list[str] = []
        self.attempted = 0
        self._restore: list = []

    # -- probes ---------------------------------------------------------------

    def install_probes(self) -> None:
        from energydatalake_spark.pipelines import ercot
        from energydatalake_spark.plans import registry

        self.catalyst, self.stream = probe.attach_listeners(self.spark)
        t = self.tracer
        for mod in (registry, ercot):
            self._restore.append(probe.wrap(mod, "asof_join", t, "operators.asof", own_group=True))
            self._restore.append(probe.wrap(mod, "band_join", t, "operators.band", own_group=True))
        for attr, layer in (("upsert_table", "io.upsert"), ("overwrite_table", "io.overwrite"),
                            ("write_csv", "io.csv_export"), ("archive_folder", "io.archive")):
            self._restore.append(probe.wrap(ercot, attr, t, layer))

    def remove_probes(self) -> None:
        for undo in self._restore:
            undo()

    # -- ops ------------------------------------------------------------------

    def query_op(self, name: str, data_dir: str, check: bool) -> dict:
        from energydatalake_spark import release_caches
        from energydatalake_spark.plans.registry import QUERIES

        tr = self.tracer
        rec = {"op": name, "ok": True}
        n_cat = len(self.catalyst.records) if self.catalyst else 0
        n_batches = len(self.stream.batch_ms) if self.stream else 0
        c0 = cpu_seconds()
        t0 = time.perf_counter()
        try:
            with tr.span("op", query=name) as op:
                with tr.span("plans", own_group=True) as sp_build:
                    df = QUERIES[name].build(self.spark, data_dir)
                t1 = time.perf_counter()
                with tr.span("exec", own_group=True) as sp_exec:
                    rows = df.collect()
            t2 = time.perf_counter()
        except Exception as exc:  # a failed op is counted, the run goes on
            rec.update(latency=time.perf_counter() - t0, cpu=cpu_seconds() - c0,
                       ok=False, error=repr(exc)[:300])
            release_caches()
            return rec
        rec.update(latency=t2 - t0, cpu=cpu_seconds() - c0, build_s=t1 - t0,
                   collect_s=t2 - t1, rows=len(rows))
        if tr.enabled:
            probe.drain_events(self.spark)
            rec["span"] = op.id
            rec["build"] = self._groups_totals(sp_build)
            rec["exec"] = self._groups_totals(sp_exec)
            rec["catalyst"] = self._catalyst_since(n_cat)
            rec["stream_ms"] = self.stream.batch_ms[n_batches:]
            rec["storage_bytes"] = probe.storage_bytes(self.spark)
        rec["released"] = release_caches()
        if check:
            rec["ok"] = self.wl.check(name, df.columns, rows)
        return rec

    def pipeline_op(self, name: str) -> dict:
        from energydatalake_spark.pipelines import ercot

        tr = self.tracer
        rec = {"op": name, "ok": True}
        n_cat = len(self.catalyst.records) if self.catalyst else 0
        c0 = cpu_seconds()
        t0 = time.perf_counter()
        try:
            with tr.span("op", own_group=True, pipeline=name) as op:
                getattr(ercot, name)(self.spark, self.wl.configs[name])
        except Exception as exc:
            rec.update(latency=time.perf_counter() - t0, cpu=cpu_seconds() - c0,
                       ok=False, error=repr(exc)[:300])
            return rec
        rec["latency"] = time.perf_counter() - t0
        rec["cpu"] = cpu_seconds() - c0
        rec["collect_s"] = rec["latency"]
        if tr.enabled:
            probe.drain_events(self.spark)
            rec["span"] = op.id
            rec["exec"] = self._groups_totals(op)
            rec["catalyst"] = self._catalyst_since(n_cat)
        return rec

    def _groups_totals(self, sp) -> dict:
        groups = [s.group for s in self.tracer.subtree(sp) if s.group]
        return probe.stage_totals(self.spark, groups)

    def _catalyst_since(self, n: int) -> dict:
        recs = self.catalyst.records[n:]
        return {p: sum(r[p] for r in recs) for p in probe.PHASES}

    # -- passes ---------------------------------------------------------------

    def warm_up(self) -> None:
        """One untimed pass of the workload over its smallest input."""
        if self.wl.kind == "elt":
            self.cycle(warm=True)
        else:
            for name in self.wl.names:
                self.query_op(name, self.wl.tiny, check=False)

    def run_pass(self, k: int, traced: bool) -> dict:
        sc = self.spark.sparkContext
        self.tracer.enabled = traced
        group = f"perfbench-pass-{k}"
        if traced:
            with self.tracer.span("pass", own_group=True, index=k) as sp:
                rec = self.cycle(k) if self.wl.kind == "elt" else self._query_pass()
            group = sp.group
        else:
            sc.setJobGroup(group, "perfbench pass")
            rec = self.cycle(k) if self.wl.kind == "elt" else self._query_pass()
            sc._jsc.clearJobGroup()
        self.tracer.enabled = False
        probe.drain_events(self.spark)
        groups = [group] + ([s.group for s in self.tracer.spans if s.group and s.id > sp.id]
                            if traced else [])
        rec["totals"] = probe.stage_totals(self.spark, groups)
        rec["traced"] = traced
        rec["wall"] = sum(o["latency"] for o in rec["ops"])
        rec["cpu"] = sum(o["cpu"] for o in rec["ops"])
        for o in rec["ops"]:
            self.attempted += 1
            if not o["ok"]:
                self.failures.append(f"pass {k} {o['op']}: {o.get('error', 'wrong result')}")
        return rec

    def _query_pass(self) -> dict:
        return {"ops": [self.query_op(n, self.wl.main, check=True) for n in self.wl.names]}

    def cycle(self, k: int = 0, warm: bool = False) -> dict:
        wl = self.wl
        if warm:
            days = [0]
        elif workloads.redelivers(k):
            days = [k, k + 1]
        else:
            days = [k + 1]
        wh = wl.warehouse()
        before = _files(wh)
        delivered = [wl.deliver(d) for d in days]
        wl.cycles.append(days)
        ops = [self.pipeline_op(name) for name in workloads.PIPELINES]
        # One cycle stands for one CLI invocation, whose process exit drops
        # every cached frame. merge_historical_weather unpersists its
        # observed frame rather than the cached scan, so in a long-lived
        # session the next cycle would read the previous cycle's CSVs
        # from the cache.
        self.spark.catalog.clearCache()
        after = _files(wh)
        new = [p for p in after if p not in before]
        landed = sum(_parquet_rows(p) for p in new if p.endswith(".parquet"))
        out_bytes = sum(after[p] for p in new)
        csv_bytes = sum(b for b, _ in delivered)
        csv_rows = sum(r for _, r in delivered)
        return {"ops": ops, "days": days, "landed_rows": landed, "output_bytes": out_bytes,
                "output_files": len(new), "csv_bytes": csv_bytes, "csv_rows": csv_rows}

    def timed(self, seconds: float) -> list[dict]:
        passes = []
        need = MIN_PASSES + (1 if self.trace else 0)
        t0 = time.perf_counter()
        k = 0
        while True:
            # traced runs: untraced first pass, then traced / untraced in turn
            traced = self.trace and k % 2 == 1
            passes.append(self.run_pass(k, traced))
            k += 1
            elapsed = time.perf_counter() - t0
            if (elapsed >= seconds and k >= need) or elapsed >= MAX_MEASURE_S:
                return passes


def _files(path: str) -> dict[str, int]:
    out = {}
    for root, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                p = os.path.join(root, n)
                out[p] = os.path.getsize(p)
    return out


def _parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return pq.read_metadata(path).num_rows


# --------------------------------------------------------------------------
# metrics
# --------------------------------------------------------------------------


def pass_metrics(passes: list[dict], kind: str) -> dict:
    """Pass and op figures in CPU seconds (end-to-end) and in wall
    seconds (``wall.*``, per-layer)."""
    cpu = [o["cpu"] for p in passes for o in p["ops"]]
    lat = [o["latency"] for p in passes for o in p["ops"]]
    if kind == "elt":
        rows = [p["landed_rows"] for p in passes]
        amp = [p["output_bytes"] / p["csv_bytes"] for p in passes]
    else:
        rows = [p["totals"]["input_rows"] for p in passes]
        amp = [
            (p["totals"]["shuffle_write_bytes"] + p["totals"]["spill_disk_bytes"])
            / max(1, p["totals"]["input_bytes"])
            for p in passes
        ]
    return {
        "pass_cpu_s": statistics.median(p["cpu"] for p in passes),
        "op_cpu_p50_s": percentile(cpu, 50),
        "op_cpu_p75_s": percentile(cpu, 75),
        "rows_per_cpu_s": statistics.median(r / p["cpu"] for r, p in zip(rows, passes)),
        "write_amp": statistics.median(amp),
        "wall.pass_s": statistics.median(p["wall"] for p in passes),
        "wall.latency_p50_s": percentile(lat, 50),
        "wall.latency_p75_s": percentile(lat, 75),
        "wall.rows_per_s": statistics.median(r / p["wall"] for r, p in zip(rows, passes)),
    }


def per_layer(runner: Runner, passes: list[dict], per_run: dict) -> tuple[dict, dict]:
    """Per-layer metrics (median over traced passes of per-pass sums) and
    the self time of each span name."""
    tr = runner.tracer
    traced = [p for p in passes if p["traced"]]
    # the first pass is still warming; it would flatter the traced ones
    untraced = [p for p in passes[1:] if not p["traced"]]
    spans = {s.id: s for s in tr.spans}

    def span_sum(p, name):
        ids = {o["span"] for o in p["ops"] if "span" in o}
        total = 0.0
        for s in tr.spans:
            if s.name == name and _root_op(spans, s) in ids:
                total += s.dur
        return total

    def op_jobs(p, name):
        ids = {o["span"] for o in p["ops"] if "span" in o}
        groups = [s.group for s in tr.spans
                  if s.name == name and s.group and _root_op(spans, s) in ids]
        return probe.stage_totals(runner.spark, groups)["jobs"] if groups else 0

    rows = []
    for p in traced:
        ops = [o for o in p["ops"] if o["ok"]]
        ex = _sum_dicts(o["exec"] for o in ops)
        build = _sum_dicts(o["build"] for o in ops if "build" in o)
        cat = _sum_dicts(o["catalyst"] for o in ops)
        build_s = sum(o.get("build_s", 0.0) for o in ops)
        collect_s = sum(o["collect_s"] for o in ops)
        result_rows = p.get("landed_rows") or sum(o.get("rows", 0) for o in ops)
        stream_ms = [m for o in ops for m in o.get("stream_ms", [])]
        tot = p["totals"]
        rows.append({
            "plans.build_s": build_s,
            "plans.build_jobs": build.get("jobs", 0),
            "plans.build_share": build_s / max(1e-9, build_s + collect_s),
            "catalyst.analysis_ms": cat.get("analysis", 0),
            "catalyst.optimization_ms": cat.get("optimization", 0),
            "catalyst.planning_ms": cat.get("planning", 0),
            "exec.collect_s": collect_s,
            "exec.jobs": ex.get("jobs", 0),
            "exec.stages": ex.get("stages", 0),
            "exec.tasks": ex.get("tasks", 0),
            "exec.executor_run_ms": ex.get("executor_run_ms", 0),
            "exec.executor_cpu_ms": ex.get("executor_cpu_ns", 0) / 1e6,
            "exec.gc_ms": ex.get("gc_ms", 0),
            "exec.shuffle_write_bytes": ex.get("shuffle_write_bytes", 0),
            "exec.shuffle_read_bytes": ex.get("shuffle_read_bytes", 0),
            "exec.spill_bytes": ex.get("spill_mem_bytes", 0) + ex.get("spill_disk_bytes", 0),
            "exec.core_busy_ratio": ex.get("executor_run_ms", 0) / max(1e-9, collect_s * 1000 * CORES),
            "io.input_bytes": tot["input_bytes"],
            "io.input_rows": tot["input_rows"],
            "io.rows_per_result_row": tot["input_rows"] / max(1, result_rows),
            "io.upsert_s": span_sum(p, "io.upsert"),
            "io.overwrite_s": span_sum(p, "io.overwrite"),
            "io.csv_export_s": span_sum(p, "io.csv_export"),
            "io.archive_s": span_sum(p, "io.archive"),
            "io.output_bytes": p.get("output_bytes", 0),
            "io.output_files": p.get("output_files", 0),
            "io.landed_per_delivered": p["landed_rows"] / max(1, p["csv_rows"]) if "csv_rows" in p else 0.0,
            "operators.asof_s": span_sum(p, "operators.asof"),
            "operators.band_s": span_sum(p, "operators.band"),
            "operators.probe_jobs": op_jobs(p, "operators.asof") + op_jobs(p, "operators.band"),
            "cache.frames_released": sum(o.get("released", 0) for o in ops),
            "cache.storage_peak_bytes": max((o.get("storage_bytes", 0) for o in ops), default=0),
            "streaming.batches": len(stream_ms),
            "streaming.batch_ms": sum(stream_ms),
        })
    out = {k: statistics.median(r[k] for r in rows) for k in rows[0]}
    wall = pass_metrics([p for p in passes if not p["traced"]], runner.wl.kind)
    out.update({k: v for k, v in wall.items() if k.startswith("wall.")})
    out.update(per_run)
    out["first_pass_s"] = passes[0]["wall"]
    out["trace.overhead_ratio"] = _overhead(traced, untraced)
    self_time: dict[str, float] = {}
    for s in tr.spans:
        self_time[s.name] = self_time.get(s.name, 0.0) + tr.self_time(s)
    return out, self_time


def _overhead(traced: list[dict], untraced: list[dict]) -> float:
    """Median over ops of (traced latency / untraced latency), each side
    the op's median; pairing by op keeps a pass's mix out of the ratio."""
    def by_op(passes):
        lat: dict[str, list[float]] = {}
        for p in passes:
            for o in p["ops"]:
                lat.setdefault(o["op"], []).append(o["latency"])
        return {k: statistics.median(v) for k, v in lat.items()}

    t, u = by_op(traced), by_op(untraced)
    return statistics.median(t[k] / u[k] for k in t if k in u)


def _root_op(spans: dict, s) -> int | None:
    while s is not None and s.name != "op":
        s = spans.get(s.parent)
    return s.id if s is not None else None


def _sum_dicts(ds) -> dict:
    out: dict = {}
    for d in ds:
        for k, v in d.items():
            out[k] = out.get(k, 0) + v
    return out


# --------------------------------------------------------------------------
# entry points
# --------------------------------------------------------------------------


def measure(workload: str, seed: int, seconds: float, trace: bool, tmp: str) -> dict:
    if workload == "elt_ingest":
        wl = workloads.EltWorkload(tmp, seed)
    else:
        names = workloads.DASHBOARD if workload == "dashboard" else workloads.CORPUS
        wl = workloads.QueryWorkload(names, WORK, seed)

    c0 = cpu_seconds()
    t0 = time.perf_counter()
    spark = _session(tmp)
    t1 = time.perf_counter()
    runner = Runner(spark, wl, trace)
    runner.warm_up()
    t2 = time.perf_counter()
    setup_cpu = cpu_seconds() - c0
    per_run = {"session.start_s": t1 - t0, "session.warmup_s": t2 - t1}
    if trace:
        runner.install_probes()
    steal0, total0 = _host_cpu()
    passes = runner.timed(seconds)
    steal1, total1 = _host_cpu()
    per_run["host.steal_ratio"] = (steal1 - steal0) / max(1, total1 - total0)
    if wl.kind == "elt":
        runner.failures += wl.final_checks()
    per_run["peak_rss_mb"] = probe.peak_rss_mb([os.getpid(), probe.jvm_pid(spark)])
    if trace:
        metrics, self_time = per_layer(runner, passes, per_run)
        units = LAYER_UNITS
        _write_trace(workload, seed, runner, passes, metrics, self_time)
        runner.remove_probes()
    else:
        metrics = pass_metrics(passes, wl.kind) | {"setup_s": setup_cpu}
        units = E2E_UNITS
    for f in runner.failures:
        print(f"# FAIL {f}", file=sys.stderr)
    failed = min(len(runner.failures), runner.attempted)
    print(f"# {workload} seed={seed}: {len(passes)} passes, {runner.attempted} ops, "
          f"fail_ratio {fail_ratio(failed, runner.attempted):.3f}, "
          f"set-up {t2 - t0:.2f} s wall / {setup_cpu:.2f} s CPU, "
          f"pass walls {[round(p['wall'], 3) for p in passes]}, "
          f"pass CPU {[round(p['cpu'], 3) for p in passes]}, "
          f"host steal {per_run['host.steal_ratio']:.3f}", file=sys.stderr)
    return {
        "correct": not runner.failures,
        "attempted": runner.attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }


def _write_trace(workload, seed, runner, passes, metrics, self_time) -> None:
    out_dir = os.path.join(WORK, "trace")
    os.makedirs(out_dir, exist_ok=True)
    ops = [
        {k: v for k, v in o.items() if k != "span"} | {"pass": i, "traced": p["traced"]}
        for i, p in enumerate(passes) for o in p["ops"]
    ]
    path = os.path.join(out_dir, f"{workload}-seed{seed}.json")
    with open(path, "w") as fh:
        json.dump({"workload": workload, "seed": seed, "metrics": metrics,
                   "self_time_s": self_time, "ops": ops,
                   "spans": runner.tracer.dump()}, fh, indent=1, default=str)
    print(f"# trace written to {os.path.relpath(path, ROOT)}", file=sys.stderr)


def steadiness(args) -> int:
    """Run the workload ``--repeat`` times in fresh processes and print
    each metric's median and quartile spread."""
    values: dict[str, list[float]] = {}
    for i in range(args.repeat):
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
               "--seed", str(args.seed + i), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        t0 = time.perf_counter()
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
        if proc.returncode != 0:
            print(f"run {i} exited {proc.returncode}", file=sys.stderr)
            return 1
        res = json.loads(proc.stdout.strip().splitlines()[-1])
        print(f"# run {i} ({time.perf_counter() - t0:.1f} s): correct={res['correct']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
              file=sys.stderr)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    summary = {
        k: {"median": statistics.median(v), "spread": quartile_spread(v), "values": v}
        for k, v in values.items()
    }
    for k, s in summary.items():
        print(f"{k:28s} median {s['median']:.6g}  spread {s['spread']:.4f}")
    print(json.dumps({"workload": args.workload, "runs": args.repeat, "summary": summary}))
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, default=0,
                    help="input seed; 0 keeps the frozen BENCH_ORDER query order")
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--repeat", type=int, default=0, help="steadiness mode: number of runs")
    args = ap.parse_args(argv)
    if args.repeat:
        return steadiness(args)
    if not os.path.isfile(os.path.join(ROOT, "energydatalake_spark", "__init__.py")):
        print("perfbench: energydatalake_spark/ not found next to perfbench/; "
              "run from a full checkout", file=sys.stderr)
        return 2
    tmp = _environment()
    try:
        result = measure(args.workload, args.seed, args.seconds, bool(args.trace), tmp)
    finally:
        _stop_processes()
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
