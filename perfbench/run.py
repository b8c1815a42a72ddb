"""Benchmark entry point.

    python3 perfbench/run.py --workload {unify,curate,query_mix} \\
        --seed N --seconds S --trace {0,1}

Run from the repository root. One process, one closed-loop client: the
next operation starts when the previous one returns. The run generates
its inputs from ``--seed`` under ``.perfbench_work/``, sets up a fresh
``local[nproc]`` session several times (``setup_s`` is the median), runs
one cold pass, then warm passes until ``--seconds`` have elapsed (at
least the workload's ``min_warm``), checks every output and prints one
JSON line: ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` the
per-layer metrics and writes the span trace to ``.perfbench_out/``. Diagnostic stamps (nproc,
co-tenant processes, md5 calibration bracket) go to stderr and to the
trace file; they are not metrics.
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
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from spans import (  # noqa: E402
    LAYER_TARGETS,
    PACKAGE,
    SparkProbe,
    Tracer,
    self_times,
    tree_peak_rss_mb,
    union_len,
)

N_SETUP = 3
TRACED_WARM = 1  # traced warm passes, interleaved with untraced ones
CALIBRATION_S = 0.1  # per md5 burst of bench._calibration_probe

END_TO_END = {
    "setup_s": "s", "cold_wall_s": "s", "warm_wall_s": "s", "rows_per_s": "1/s",
    "query_p50_s": "s", "query_p90_s": "s",
}
# span layers: the engine modules spanned, plus the registry query calls,
# pyspark actions, Spark stages and the benchmark's own pass spans
LAYERS = tuple(dict.fromkeys(layer for _, _, layer in LAYER_TARGETS)) + (
    "registry", "action", "spark.stage", "bench")
PER_LAYER = {
    "memory.peak_rss_mb": "MiB",
    "session.start_s": "s",
    "sources.scan_s": "s", "sources.rows_read": "count", "sources.bytes_read": "B",
    "sources.corrupt_skipped": "count",
    "sources.write_s": "s", "sources.bytes_written": "B", "sources.files_written": "count",
    "functions.nfc_s": "s", "functions.redact_s": "s", "functions.url_s": "s",
    "operators.dedup_shuffle_bytes": "B", "operators.split_jobs": "count",
    "fuzzy.candidate_pairs": "count", "fuzzy.verified_pairs": "count",
    "fuzzy.verify_ratio": "ratio", "fuzzy.pairs_s": "s",
    "components.rounds": "count", "components.jobs": "count",
    "registry.plan_build_s": "s", "registry.plan_jobs": "count",
    "registry.plan_build_warm_s": "s",
    "cache.persisted_rdds_after": "count", "cache.storage_bytes": "B",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s", "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "B", "spark.spill_bytes": "B",
    "spark.input_records": "count", "spark.driver_only_s": "s",
    "codegen.compiles": "count", "codegen.compile_s": "s",
    "codegen.compiles_warm": "count",
    "trace.overhead_s": "s",
    **{f"self_s.{layer}": "s" for layer in LAYERS},
}


def _pct(values: list[float], q: float) -> float:
    """Linear-interpolated percentile ``q`` in [0, 100]."""
    v = sorted(values)
    k = (len(v) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


class Iso:
    """Times one layer's public function alone: build the frame, force it
    through the ``noop`` sink (or run the call itself when it is the
    action), and report wall, jobs, shuffle bytes and components rounds
    from the Spark status store and the span trace."""

    def __init__(self, spark, probe, tracer):
        self.spark, self.probe, self.tracer = spark, probe, tracer
        self.cached = []

    def __call__(self, name, build, action=True) -> dict:
        from workloads import _noop

        before = self.probe.counters()
        n_spans = len(self.tracer.spans)
        t0 = time.perf_counter()
        with self.tracer.span(f"iso.{name}", "bench"):
            df = build()
            if action:
                _noop(df)
        wall = time.perf_counter() - t0
        after = self.probe.counters()
        stages = self.probe.stages_after(before["stage_id"])
        inside = self.tracer.spans[n_spans:]
        cc = {s["id"] for s in inside if s["name"].endswith("connected_components")}
        rounds = sum(1 for s in inside if s["name"] == "action.count" and s["parent"] in cc)
        return {
            "wall": wall,
            "jobs": after["job_id"] - before["job_id"],
            "shuffle_write_bytes": sum(s.get("shuffle_write_bytes", 0) for s in stages),
            "rounds": rounds,
        }

    def cache(self, df):
        df = df.persist()
        df.count()
        self.cached.append(df)
        return df

    def release(self):
        for df in self.cached:
            df.unpersist()
        self.cached.clear()


def _warm_up(spark) -> None:
    """A tiny aggregate through the noop sink: starts the executors and
    Python workers without touching any workload plan."""
    from pyspark.sql import functions as F

    from workloads import _noop

    _noop(spark.range(20000).groupBy((F.col("id") % 7).alias("k")).agg(
        F.count(F.lit(1)).alias("n")))


def _descendants() -> set[int]:
    from bench import _proc_snapshot

    parent, _ = _proc_snapshot()
    tree, grew = {os.getpid()}, True
    while grew:
        grew = False
        for p, pp in parent.items():
            if pp in tree and p not in tree:
                tree.add(p)
                grew = True
    return tree - {os.getpid()}


def _stop_spark() -> None:
    """Stop the session and the gateway JVM this process launched, then
    make sure every process started under this one (JVM, Python workers,
    calibration pool) has exited. The tree is taken before the JVM stops,
    so workers it orphans are still found."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    procs = _descendants()
    s = SparkSession.getActiveSession()
    if s is not None:
        s.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=20)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=20)
    deadline = time.time() + 20
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for p in procs:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in procs):
            for p in procs:
                try:
                    os.waitpid(p, os.WNOHANG)
                except ChildProcessError:
                    pass
            # a zombie keeps its /proc entry until reaped; only direct
            # children can be reaped here, orphans are reaped by init
            procs = {p for p in procs if os.path.exists(f"/proc/{p}")
                     and _state(p) != "Z"}
            time.sleep(0.05)
        if not procs:
            break
        deadline = time.time() + 20


def _state(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0]
    except (OSError, IndexError):
        return "X"


def _stage_totals(stages: list[dict], t0_epoch: float, t1_epoch: float) -> dict:
    done = [s for s in stages if s["status"] == "COMPLETE"]
    clipped = [(max(st["submit"], t0_epoch), min(st["complete"], t1_epoch)) for st in done]
    covered = union_len([(s, e) for s, e in clipped if e > s])
    return {
        "spark.stages": len(done),
        "spark.tasks": sum(s["tasks"] for s in done),
        "spark.executor_run_s": sum(s["run_s"] for s in done),
        "spark.executor_cpu_s": sum(s["cpu_s"] for s in done),
        "spark.gc_s": sum(s["gc_s"] for s in done),
        "spark.shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in done),
        "spark.spill_bytes": sum(s["spill_bytes"] for s in done),
        "spark.input_records": sum(s["input_records"] for s in done),
        "spark.driver_only_s": max((t1_epoch - t0_epoch) - covered, 0.0),
    }


def _attach_stage_spans(tracer, stages, t0_perf, t0_epoch) -> None:
    """Child spans for executed stages, under the innermost action span
    whose interval holds the stage's submission."""
    actions = [s for s in tracer.spans if s["layer"] == "action" and s["end"]]
    for st in stages:
        if st["status"] != "COMPLETE":
            continue
        start = t0_perf + (st["submit"] - t0_epoch)
        end = t0_perf + (st["complete"] - t0_epoch)
        holders = [a for a in actions if a["start"] <= start <= a["end"]]
        parent = min(holders, key=lambda a: a["end"] - a["start"])["id"] if holders else None
        tracer.spans.append({
            "id": len(tracer.spans), "name": "stage:" + "/".join(st.get("ops") or [st["name"]]),
            "layer": "spark.stage", "run": tracer.run_id, "parent": parent,
            "start": start, "end": end, "stage": st["stage"]})


def _session(name: str):
    """``N_SETUP`` set-ups (session start plus warm-up); all but the last
    session are stopped again. Returns the live session and the set-up
    and session-start walls."""
    from nahuatl_data_pipeline_spark.session import get_spark

    setups, starts = [], []
    for i in range(N_SETUP):
        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{name}")
        starts.append(time.perf_counter() - t0)
        spark.sparkContext.setLogLevel("ERROR")
        _warm_up(spark)
        setups.append(time.perf_counter() - t0)
        if i < N_SETUP - 1:
            spark.stop()
    return spark, setups, starts


class Runner:
    """Closed-loop passes over one workload, with per-pass counters and
    stage spans when the pass is traced."""

    def __init__(self, wl, spark, probe, tracer, trace: bool):
        self.wl, self.spark, self.probe, self.tracer = wl, spark, probe, tracer
        self.trace = trace
        self.attempted = self.failed = 0
        self.notes: list[str] = []
        self.passes: list[dict] = []

    def one_pass(self, traced: bool) -> None:
        self.tracer.enabled = traced
        n_spans = len(self.tracer.spans)
        before = self.probe.counters() if traced else None
        e0, p0 = time.time(), time.perf_counter()
        walls, bad = self.wl.run_pass(self.spark, self.tracer, self.probe)
        wall = time.perf_counter() - p0
        e1 = time.time()
        self.attempted += len(walls)
        self.failed += min(len(bad), len(walls))
        self.notes.extend(bad)
        rec = {"wall": wall, "ops": walls, "traced": traced,
               "plan": list(getattr(self.wl, "plan", [])),
               "plan_jobs": sum(getattr(self.wl, "plan_jobs", []))}
        if traced:
            after = self.probe.counters()
            stages = self.probe.stages_after(before["stage_id"], with_ops=True)
            _attach_stage_spans(self.tracer, stages, p0, e0)
            rec.update(_stage_totals(stages, e0, e1))
            rec["spark.jobs"] = after["job_id"] - before["job_id"]
            rec["compiles"] = after["compiles"] - before["compiles"]
            rec["compile_s"] = rec["compiles"] * after["compile_mean_ms"] / 1000.0
            rec["self"] = self_times(self.tracer.spans[n_spans:])
        self.tracer.enabled = self.trace
        self.passes.append(rec)

    def measure(self, seconds: float) -> None:
        """One cold pass, then warm passes until ``seconds`` have elapsed
        and the workload's ``min_warm`` passes ran. A traced run
        alternates untraced and traced warm passes and ends on an
        untraced one, so each traced pass sits between two untraced ones
        and the tracing overhead (traced minus untraced wall) is not
        skewed by the warm-up trend."""
        t0 = time.perf_counter()
        self.one_pass(self.trace)
        n_traced = 0
        while True:
            warm = len(self.passes) - 1
            done = time.perf_counter() - t0 >= seconds and warm >= self.wl.min_warm
            if self.trace:
                done = done and n_traced >= TRACED_WARM and warm % 2 == 1
            if done:
                return
            traced = self.trace and warm % 2 == 1
            self.one_pass(traced)
            n_traced += traced

    def check(self) -> None:
        bad = self.wl.final_check(self.spark)
        self.attempted += getattr(self.wl, "n_checked", 0)
        self.failed += len(bad)
        self.notes.extend(bad)


def _end_to_end(runner: Runner, setups: list[float]) -> dict:
    cold, warm = runner.passes[0], runner.passes[1:]
    warm_wall = statistics.median(p["wall"] for p in warm)
    ops = [w for p in warm for w in p["ops"]]
    return {
        "setup_s": statistics.median(setups),
        "cold_wall_s": cold["wall"],
        "warm_wall_s": warm_wall,
        "rows_per_s": runner.wl.input_rows / warm_wall,
        "query_p50_s": _pct(ops, 50),
        "query_p90_s": _pct(ops, 90),
    }


def _per_layer(runner: Runner, starts: list[float]) -> dict:
    cold, warm = runner.passes[0], runner.passes[1:]
    traced = [p for p in warm if p["traced"]]
    untraced = [p for p in warm if not p["traced"]]
    mid = sorted(traced, key=lambda p: p["wall"])[len(traced) // 2]
    counters = runner.probe.counters()
    m = {k: 0.0 for k in PER_LAYER}
    m["session.start_s"] = statistics.median(starts)
    m["memory.peak_rss_mb"] = tree_peak_rss_mb()
    for k in PER_LAYER:
        if k.startswith("spark."):
            m[k] = statistics.median(p[k] for p in traced)
    m["codegen.compiles"] = cold["compiles"]
    m["codegen.compile_s"] = cold["compile_s"]
    m["codegen.compiles_warm"] = statistics.median(p["compiles"] for p in traced)
    m["cache.persisted_rdds_after"] = counters["persisted_rdds"]
    m["cache.storage_bytes"] = counters["storage_bytes"]
    m["trace.overhead_s"] = (statistics.median(p["wall"] for p in traced)
                             - statistics.median(p["wall"] for p in untraced))
    for layer, v in mid["self"].items():
        if f"self_s.{layer}" in m:
            m[f"self_s.{layer}"] = v
    if cold["plan"]:
        m["registry.plan_build_s"] = sum(cold["plan"])
        m["registry.plan_build_warm_s"] = statistics.median(sum(p["plan"]) for p in warm)
        m["registry.plan_jobs"] = cold["plan_jobs"]
    iso = Iso(runner.spark, runner.probe, runner.tracer)
    try:
        m.update(runner.wl.isolated(runner.spark, iso))
    finally:
        iso.release()
    return m


def run(args, work: str) -> dict:
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PACKAGE)) or not os.path.isfile(
            os.path.join(root, "bench.py")):
        raise SystemExit(f"perfbench: run from the repository root; {PACKAGE}/ "
                         "and bench.py not found in the working directory")
    sys.path.insert(0, root)
    os.makedirs(os.path.join(work, "tmp"))
    nproc = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # the JVM's temp files under the work dir, and no perf-data file
    # in the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData")

    from bench import _calibration_probe, _co_tenant_pids

    from workloads import WORKLOADS

    def stamp():
        stamps["co_tenants"].append(len(_co_tenant_pids()))
        stamps["calibration"].append(_calibration_probe(seconds=CALIBRATION_S))

    stamps = {"nproc": nproc, "co_tenants": [], "calibration": []}
    stamp()
    wl = WORKLOADS[args.workload](work, args.seed)
    wl.generate()
    tracer = Tracer(f"{args.workload}-{args.seed}")
    if args.trace:
        tracer.install()
    spark, setups, starts = _session(args.workload)
    runner = Runner(wl, spark, SparkProbe(spark), tracer, bool(args.trace))
    runner.measure(args.seconds)
    runner.check()
    if args.trace:
        metrics = _per_layer(runner, starts)
        tracer.uninstall()
        stamp()
        out_dir = os.path.join(root, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json"), "w") as f:
            json.dump({"stamps": stamps, "passes": runner.passes, "spans": tracer.spans,
                       "metrics": metrics}, f, default=str)
    else:
        metrics = _end_to_end(runner, setups)
        stamp()
    print(json.dumps({"stamps": stamps, "passes": len(runner.passes),
                      "notes": runner.notes[:20]}), file=sys.stderr)
    units = PER_LAYER if args.trace else END_TO_END
    return {
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("unify", "curate", "query_mix"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    work = os.path.join(os.getcwd(), ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        result = run(args, work)
    finally:
        if "pyspark" in sys.modules:
            _stop_spark()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
