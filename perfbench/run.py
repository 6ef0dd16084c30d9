"""Engine benchmark: one workload, one seed, one JSON result.

    python3 perfbench/run.py --workload tpch_mix --seed 1 --seconds 12 --trace 0

Run from the repository root. Workloads (see README.md for why each):

* ``tpch_mix``     -- TPC-H registry queries (relational path);
* ``corpus_mix``   -- LLM-data operators (operators/*, iterative rounds);
* ``keyed_stream`` -- the reference topology on Structured Streaming.

A run is: make the inputs; set up (launch the JVM, start the session,
stage the inputs, warm up); the cold pass; one settling pass; the warm
passes; the untimed verification pass, which checks every output for
correctness; then ``RESETUPS`` more setups in the same JVM, whose
median is ``setup_s``. The seed sets the query order of every warm
pass and the stream's key sequence. ``--seconds`` fixes the number of
warm passes (a per-workload count per 10 s, at least 2), so every run
of a workload measures the same work whatever the engine's speed.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs with
Spark's event log and per-phase job groups and prints the per-layer
metrics instead. The line before the result holds the full record:
environment, effective confs, per-pass times, drift and sample counts.
Everything the run writes lives in ``.perfbench_work/`` and is
removed at exit.
"""

from __future__ import annotations

import argparse
import gc
import json
import math
import os
import random
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RESETUPS = 5
DRIFT_LIMIT = 0.10
SETTLE_S = 0.3


class Harness:
    """Owns the Spark session, the work directory and the run record."""

    def __init__(self, seed: int, trace_run: bool, work: str):
        self.seed = seed
        self.trace = trace_run
        self.work = work
        self.cores = len(os.sched_getaffinity(0))
        self.spark = None
        self.traced = False
        self.record: dict = {}

    def start(self, traced: bool, master: str | None = None) -> float:
        from kafkastreamer_spark.session import get_spark  # noqa: PLC0415
        from eventlog import trace_conf  # noqa: PLC0415

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work}/tmp",
        }
        if traced:
            conf.update(trace_conf(os.path.join(self.work, "eventlog")))
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench",
            master=master or f"local[{self.cores}]",
            shuffle_partitions=self.cores,
            extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.traced = traced
        return time.perf_counter() - t0

    def setup(self, wl, traced: bool, master: str | None = None) -> dict[str, float]:
        start_s = self.start(traced, master)
        self.group("setup")
        staged = wl.stage(self)
        return {"total_s": start_s + staged["scan_s"] + staged["warmup_s"],
                "start_s": start_s, **staged}

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown_jvm(self) -> None:
        """Stop the session and the JVM behind it, and wait for the JVM."""
        from pyspark import SparkContext  # noqa: PLC0415

        self.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None

    def group(self, name: str) -> None:
        if self.traced:
            self.spark.sparkContext.setJobGroup(name, name)

    def release(self) -> int:
        """Drop every cache and persisted RDD; return how many RDDs were left."""
        jsc = self.spark.sparkContext._jsc
        left = list(jsc.getPersistentRDDs().values())
        self.spark.catalog.clearCache()
        for rdd in left:
            rdd.unpersist(True)
        return len(left)

    def settle(self) -> None:
        """Collect garbage on both sides of py4j, then let Spark's
        ContextCleaner drop the last pass's shuffles and broadcasts
        before the next pass starts, not during it."""
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()
        time.sleep(SETTLE_S)

    def jvm_rss_peak_mb(self) -> float:
        from pyspark import SparkContext  # noqa: PLC0415

        pid = SparkContext._gateway.proc.pid
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return float("nan")

    def environment(self, load_at_start: list[float]) -> dict:
        from kafkastreamer_spark.session import ENGINE_CONF  # noqa: PLC0415

        spark = self.spark
        jvm = spark.sparkContext._jvm
        runtime = dict(spark.conf.getAll)
        return {
            "loadavg_at_start": load_at_start,
            "nproc": self.cores,
            "cpu_affinity": sorted(os.sched_getaffinity(0)),
            "spark_version": spark.version,
            "java_version": jvm.System.getProperty("java.version"),
            "python_version": sys.version.split()[0],
            "spark_conf": dict(spark.sparkContext.getConf().getAll()),
            "runtime_conf": runtime,
            "engine_conf_not_in_force": {
                k: runtime.get(k) for k, v in ENGINE_CONF.items() if runtime.get(k) != v
            },
        }


def make_workload(name: str):
    """The workload and its number of warm passes per 10 s of ``--seconds``."""
    from batch import CORPUS_QUERIES, CORPUS_TABLES, TPCH_QUERIES, TPCH_TABLES, BatchMix  # noqa: PLC0415
    from stream import KeyedStream  # noqa: PLC0415

    if name == "tpch_mix":
        return BatchMix(name, TPCH_QUERIES, TPCH_TABLES, scale=0.05), 3
    if name == "corpus_mix":
        return BatchMix(name, CORPUS_QUERIES, CORPUS_TABLES, scale=0.005), 4
    return KeyedStream(), 2


def tail(values: list[float]) -> tuple[float, float]:
    """The highest percentile with at least 10 samples above it: (value, pct)."""
    s = sorted(values)
    i = max(0, len(s) - 11)
    return s[i], 100.0 * (i + 1) / len(s)


def geomean_of_medians(ops: list[tuple[str, float]]) -> float:
    per: dict[str, list[float]] = {}
    for name, ms in ops:
        per.setdefault(name, []).append(ms)
    meds = [statistics.median(v) for v in per.values()]
    return math.exp(sum(math.log(m) for m in meds) / len(meds))


def drift_share(times: list[float]) -> float:
    """Least-squares trend across passes, first to last, as a share of the median."""
    n = len(times)
    if n < 2:
        return 0.0
    xm = (n - 1) / 2
    ym = sum(times) / n
    slope = sum((i - xm) * (t - ym) for i, t in enumerate(times)) / sum(
        (i - xm) ** 2 for i in range(n))
    return slope * (n - 1) / statistics.median(times)


def end_to_end(setups, cold, jit, warm) -> tuple[dict, dict]:
    """``setups[0]`` launched the JVM; ``setup_s`` is the median of the rest."""
    lat = [ms for p in warm for _, ms in p["ops"]]
    pass_times = [p["pass_s"] for p in warm]
    tail_ms, tail_pct = tail(lat)
    metrics = {
        "setup_s": (statistics.median(s["total_s"] for s in setups[1:]), "s"),
        "cold_pass_s": (cold["pass_s"], "s"),
        "pass_s": (statistics.median(pass_times), "s"),
        "latency_p50_ms": (statistics.median(lat), "ms"),
        "latency_tail_ms": (tail_ms, "ms"),
        "latency_geomean_ms": (geomean_of_medians([o for p in warm for o in p["ops"]]), "ms"),
    }
    drift = drift_share(pass_times)
    per_op: dict[str, list[float]] = {}
    for p in warm:
        for name, ms in p["ops"]:
            per_op.setdefault(name, []).append(ms)
    extra = {
        "op_ms_each": per_op,
        "latency_samples": len(lat),
        "latency_tail_pct": tail_pct,
        "first_setup_s": setups[0]["total_s"],
        "setup_s_each": [s["total_s"] for s in setups[1:]],
        "pass_s_each": pass_times,
        "drift_share": drift,
        "drift_flag": abs(drift) > DRIFT_LIMIT,
        "jit_cold_over_warm": cold["pass_s"] / statistics.median(pass_times),
        "jit_warm1_over_rest": jit["pass_s"] / statistics.median(pass_times),
    }
    return metrics, extra


def per_layer(h, wl, setups, warm, warm_idx, untraced, local1) -> dict:
    from eventlog import in_groups, in_streams, job_totals, read_events  # noqa: PLC0415

    events = read_events(os.path.join(h.work, "eventlog"))
    n = len(warm)
    med = lambda key: statistics.median(p["layer"].get(key, 0.0) for p in warm)  # noqa: E731
    stream = wl.name == "keyed_stream"
    if stream:
        ids = {i for p in warm for i in p["layer"]["query_ids"]}
        ex = job_totals(events, in_streams(ids))
        exec_wall = sum(p["pass_s"] for p in warm)
        exec_run = statistics.median(p["pass_s"] for p in warm)
    else:
        ex = job_totals(events, in_groups({f"p{i}:exec" for i in warm_idx}))
        exec_wall = sum(p["layer"]["exec_s"] for p in warm)
        exec_run = med("exec_s")
    build = job_totals(events, in_groups({f"p{i}:build" for i in warm_idx}))
    m = {
        "session.start_s": (setups[0]["start_s"], "s"),
        "session.jvm_rss_peak_mb": (h.record["jvm_rss_peak_mb"], "MB"),
        "tables.scan_s": (
            0.0 if stream else statistics.median(s["scan_s"] for s in setups[1:]), "s"),
        "registry.build_s": (0.0 if stream else med("build_s"), "s"),
        "registry.build_jobs": (build.jobs / n, "count"),
        "catalyst.plan_s": (0.0 if stream else med("plan_s"), "s"),
        "exec.run_s": (exec_run, "s"),
        "exec.jobs": (ex.jobs / n, "count"),
        "exec.tasks": (ex.tasks / n, "count"),
        "exec.shuffle_write_mb": (ex.shuffle_write_mb / n, "MB"),
        "exec.shuffle_read_mb": (ex.shuffle_read_mb / n, "MB"),
        "exec.spill_mb": (ex.spill_mb / n, "MB"),
        "exec.gc_ms": (ex.gc_ms / n, "ms"),
        "exec.cpu_share": (ex.cpu_ms / (exec_wall * 1e3 * h.cores), "share"),
        "cache.rdds_left": (0.0 if stream else med("rdds_left"), "count"),
        **streaming_layer(warm if stream else []),
        "trace.overhead_share": (
            statistics.median(p["pass_s"] for p in warm)
            / statistics.median(p["pass_s"] for p in untraced) - 1.0, "share"),
        "trace.local1_pass_s": (local1["pass_s"] if local1 else 0.0, "s"),
    }
    return m


def streaming_layer(warm: list[dict]) -> dict:
    """Medians over the warm passes' micro-batches, from progress events."""
    all_b = [b for p in warm for leg in p["layer"]["progress"].values() for b in leg]
    count_b = [b for p in warm for b in p["layer"]["progress"].get("count", [])]

    def med(vals) -> float:
        vals = list(vals)
        return float(statistics.median(vals)) if vals else 0.0

    def d(b, key) -> float:
        return float(b["durationMs"].get(key, 0))

    def st(b, key) -> float:
        return float(sum(op[key] for op in b["stateOperators"]))

    last = count_b[-1] if count_b else None
    return {
        "streaming.source_ms": (med(d(b, "latestOffset") + d(b, "getBatch") for b in all_b), "ms"),
        "streaming.plan_ms": (med(d(b, "queryPlanning") for b in all_b), "ms"),
        "streaming.add_batch_ms": (med(d(b, "addBatch") for b in all_b), "ms"),
        "streaming.state_commit_ms": (med(st(b, "commitTimeMs") for b in count_b), "ms"),
        "streaming.state_update_ms": (med(st(b, "allUpdatesTimeMs") for b in count_b), "ms"),
        "streaming.state_rows": (st(last, "numRowsTotal") if last else 0.0, "count"),
        "streaming.state_mb": ((st(last, "memoryUsedBytes") / 2**20) if last else 0.0, "MB"),
        "streaming.wal_ms": (med(d(b, "walCommit") for b in all_b), "ms"),
        "streaming.commit_ms": (med(d(b, "commitOffsets") for b in all_b), "ms"),
        "streaming.rows_per_batch": (med(b["numInputRows"] for b in all_b), "count"),
    }


def run(args, work: str) -> dict:
    load_at_start = list(os.getloadavg())
    h = Harness(args.seed, bool(args.trace), work)
    wl, per_10s = make_workload(args.workload)
    n_warm = max(2, round(args.seconds / 10 * per_10s))
    rng = random.Random(args.seed)
    attempted, failures = 0, []

    def account(p: dict) -> dict:
        nonlocal attempted
        attempted += len(p["ops"]) + len(p["failed"])
        failures.extend(p["failed"])
        return p

    t_prep = time.perf_counter()
    wl.prepare(h)
    h.record["prepare_s"] = time.perf_counter() - t_prep
    setups = [h.setup(wl, traced=h.trace)]
    h.record["environment"] = h.environment(load_at_start)
    phases = h.record["phase_s"] = {}
    t0 = time.perf_counter()
    cold = account(wl.run_pass(h, 0, None))
    t1 = time.perf_counter()
    # Pass 1 lets the JIT settle after the cold pass; it is reported,
    # not measured.
    h.settle()
    jit = account(wl.run_pass(h, 1, rng))
    t_settled = time.perf_counter()
    warm_idx = range(2, n_warm + 2)
    warm = []
    for i in warm_idx:
        h.settle()
        warm.append(account(wl.run_pass(h, i, rng)))
    t2 = time.perf_counter()
    account(wl.verify(h))
    t3 = time.perf_counter()
    for _ in range(RESETUPS):
        h.stop()
        setups.append(h.setup(wl, traced=False))
    phases.update(cold=t1 - t0, settle=t_settled - t1, warm=t2 - t_settled,
                  verify=t3 - t2, resetup=time.perf_counter() - t3)
    untraced, local1 = [], None
    if h.trace:
        # The same passes in an untraced session of the same JVM, run the
        # way the traced ones were (a settling pass, then settled passes
        # in the same orders): the tracing overhead's base.
        urng = random.Random(args.seed)
        h.settle()
        account(wl.run_pass(h, 101, urng))
        for i in warm_idx:
            h.settle()
            untraced.append(account(wl.run_pass(h, 100 + i, urng)))
        if args.workload == "keyed_stream":
            h.stop()
            h.setup(wl, traced=False, master="local[1]")
            account(wl.run_pass(h, 200, None))
            h.settle()
            local1 = account(wl.run_pass(h, 201, None))
    h.record["jvm_rss_peak_mb"] = h.jvm_rss_peak_mb()
    h.shutdown_jvm()

    if h.trace:
        metrics = per_layer(h, wl, setups, warm, warm_idx, untraced, local1)
        extra = {}
    else:
        metrics, extra = end_to_end(setups, cold, jit, warm)
    h.record.update(extra, workload=args.workload, seed=args.seed, warm_passes=n_warm,
                    failures=failures, setups=setups)
    print(json.dumps({"record": h.record}, default=str))
    return {
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["tpch_mix", "corpus_mix", "keyed_stream"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    # The engine lives next to this directory; without it there is
    # nothing to measure.
    sys.path.insert(0, ROOT)
    try:
        import kafkastreamer_spark.session  # noqa: F401, PLC0415
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
