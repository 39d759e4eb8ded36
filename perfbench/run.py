"""Benchmark entry point.

    python3 perfbench/run.py --workload build_serve --seed 1 --seconds 20 --trace 0

Run from the repository root. It generates the workload's inputs from
``--seed`` into ``.perfbench_work/`` (removed on exit), pins the
environment the engine reads, sets up a Spark session three times
(reporting the median), then runs measured passes for ``--seconds``
and checks every answer outside the timed region. The last line of
stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` — the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. Lines before it record the environment and
the per-step detail. See README.md next to this file.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

SETUPS = 3
# batch_s is the median over passes, so a run takes more than one
MIN_PASSES = 2
WARM_QUERIES = 2
DRIVER_MEM = "2g"
# the engine's own environment knobs; all are cleared so the engine runs
# its defaults, and PROPIUS_DRIVER_MEM is then set explicitly
ENGINE_ENV = (
    "PROPIUS_SHUFFLE_PARTITIONS",
    "PROPIUS_CHECKPOINT_DIR",
    "PROPIUS_CHECKPOINT_BLOCK_MB",
    "PROPIUS_LSH_JOIN_SIZING",
    "PROPIUS_CC_PROBE_JOB",
    "PROPIUS_CC_JOIN_ROUNDS",
    "PROPIUS_DRIVER_MEM",
    "SPARK_GRAFT_CPUS",
)


def pin_environment(workdir: str, trace: bool) -> dict:
    """Set every variable the engine and Spark read, before the JVM
    starts, and return the record that gets printed."""
    cpus = len(os.sched_getaffinity(0))
    local = os.path.join(workdir, "spark-local")
    tmp = os.path.join(workdir, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    for k in ENGINE_ENV:
        os.environ.pop(k, None)
    os.environ["PROPIUS_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    args = [
        # a fixed heap: a heap that grows and shrinks between steps makes
        # the collector's work, and so the timings, vary from run to run
        f"--driver-java-options '-Xms{DRIVER_MEM} -Djava.io.tmpdir={tmp} -XX:-UsePerfData'",
        "--conf spark.ui.showConsoleProgress=false",
    ]
    if trace:
        evdir = os.path.join(workdir, "eventlog")
        os.makedirs(evdir, exist_ok=True)
        for k, v in (
            ("spark.eventLog.enabled", "true"),
            ("spark.eventLog.dir", "file://" + evdir),
            ("spark.eventLog.compress", "false"),
            ("spark.eventLog.rolling.enabled", "false"),
            ("spark.eventLog.logStageExecutorMetrics", "true"),
            ("spark.executor.processTreeMetrics.enabled", "true"),
            # poll peaks within stages, not only at the 10 s heartbeat
            ("spark.executor.metrics.pollingInterval", "500ms"),
        ):
            args.append(f"--conf {k}={v}")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])
    return {
        "cpus": cpus,
        "PROPIUS_DRIVER_MEM": DRIVER_MEM,
        "PROPIUS_SHUFFLE_PARTITIONS": None,
        "SPARK_LOCAL_DIRS": os.path.relpath(local, ROOT),
        "python": sys.version.split()[0],
    }


def percentile(values, q: float) -> tuple[float, int]:
    """Nearest-rank ``q``-th percentile and how many samples lie above it."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    k = max(0, min(len(xs) - 1, -(-len(xs) * q // 100) - 1))
    v = xs[int(k)]
    return v, sum(1 for x in xs if x > v)


def tail(values) -> dict:
    """The highest of p99/p95/p90/p75 with at least ten samples above
    it, with the sample count."""
    out = {"n": len(values)}
    for q in (99, 95, 90, 75):
        v, above = percentile(values, q)
        if above >= 10:
            out.update(q=q, value=v, above=above)
            break
    return out


class Runner:
    """Closed-loop measured passes over one workload: one client, the
    next call only after the previous one returned."""

    def __init__(self, workload, seconds: float, tracer=None, modules=()):
        self.w = workload
        self.seconds = seconds
        self.tracer = tracer
        self.modules = modules
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        # call name → [(seconds, traced)]
        self.times: dict[str, list[tuple[float, bool]]] = {}
        self.pass_batch: list[tuple[float, bool]] = []
        self.op_wall_traced = 0.0
        self.counts: dict[str, int] = {}

    def fail(self, name: str, errors: list[str]) -> None:
        """Count one failed operation when ``errors`` is not empty."""
        if errors:
            self.failed += 1
            self.errors.extend(f"{name}: {e}" for e in errors)

    def _timed(self, name: str, fn, traced: bool):
        """(answer, seconds) of one call, or None when it raised."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            if traced:
                with self.tracer.span(f"bench.{name}"):
                    out = fn()
            else:
                out = fn()
        except Exception as e:  # noqa: BLE001 - a failed call is counted, not fatal
            self.fail(name, [f"{type(e).__name__}: {str(e)[:200]}"])
            return None
        dt = time.perf_counter() - t0
        self.times.setdefault(name, []).append((dt, traced))
        if traced:
            self.op_wall_traced += dt
        return out, dt

    def one_pass(self, p: int, traced: bool, count: bool) -> None:
        """The batch steps, then the queries and extras of pass ``p``.
        Answers are checked after the clock stops."""
        if traced:
            self.tracer.install(self.modules)
        try:
            batch = 0.0
            for name, run, check in self.w.steps():
                if count:
                    self.tracer.recording = True
                res = self._timed(name, run, traced)
                if count:
                    self.tracer.recording = False
                    if res is not None:
                        self._count_outputs()
                self.w.release()
                if res is None:
                    batch = None
                    continue
                if batch is not None:
                    batch += res[1]
                self.fail(name, check(res[0]))
            if batch is not None:
                self.pass_batch.append((batch, traced))
            q = self.w.queries_per_pass
            calls = [
                ("query", lambda i=i: self.w.query(i), self.w.check_query)
                for i in range(p * q, (p + 1) * q)
            ] + self.w.extras(p)
            for name, call, check in calls:
                res = self._timed(name, call, traced)
                if res is not None:
                    self.fail(name, check(res[0]))
        finally:
            if traced:
                self.tracer.uninstall()

    def _count_outputs(self) -> None:
        """Row counts of the tables the tracer recorded, taken while
        their cached inputs are still held; outside every span."""
        outs = self.tracer.outputs
        for name in ("correlation.gram", "dedup.minhash_lsh_pairs", "ann.embedding_dup_pairs"):
            for df in outs.get(name, []):
                self.counts[name] = self.counts.get(name, 0) + df.count()
        for df in outs.get("ann.hyperplane_lsh_buckets", []):
            sizes = df.groupBy("bucket").count().collect()
            self.counts["ann.candidate_pairs"] = self.counts.get(
                "ann.candidate_pairs", 0
            ) + sum(r["count"] * (r["count"] - 1) // 2 for r in sizes)
        outs.clear()

    def measure(self, trace: bool) -> int:
        """Passes until ``seconds`` have elapsed, at least ``MIN_PASSES``.
        Another pass starts only while the mean pass so far would end
        it less than half a pass past ``seconds``, so a run measures
        close to ``seconds`` whatever a pass costs on the machine. With
        tracing, even passes are traced and odd ones are not, so the
        overhead is measured in the same window."""
        t0 = time.perf_counter()
        p = 0
        while True:
            traced = trace and p % 2 == 0
            self.one_pass(p, traced, count=traced and p == 0)
            p += 1
            elapsed = time.perf_counter() - t0
            if p >= MIN_PASSES and elapsed * (1 + 0.5 / p) >= self.seconds:
                return p

    def samples(self, name: str, traced: bool | None = False) -> list[float]:
        return [t for t, tr in self.times.get(name, []) if traced is None or tr == traced]


def stop_spark(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    try:
        spark.stop()
    finally:
        # the JVM is waited for even when it is already gone and the
        # session could not be stopped cleanly (a terminated run)
        if gw is not None:
            proc = getattr(gw, "proc", None)
            try:
                gw.shutdown()
            finally:
                SparkContext._gateway = None
                SparkContext._jvm = None
                if proc is not None:
                    try:
                        proc.stdin.close()
                        proc.wait(timeout=60)
                    except Exception:  # noqa: BLE001 - fall through to a hard kill
                        proc.kill()
                        proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    # the engine and the repository's calibration canaries; a checkout
    # without them fails here, before anything is generated or printed
    import bench
    import workloads
    from propius_spark import session

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    workdir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(workdir)
    spark = None
    try:
        env = pin_environment(workdir, bool(args.trace))
        t = time.perf_counter()
        w = workloads.WORKLOADS[args.workload](args.seed, workdir)
        gen_s = time.perf_counter() - t
        # the host canaries cost seconds, so only the traced run, which
        # explains a run, pays for them
        canary = None
        if args.trace:
            canary = {"cpu_s": [bench._host_calibration()], "disk_mbps": [bench._disk_calibration()]}

        setup = []
        errors: list[str] = []
        for k in range(SETUPS):
            if spark is not None:
                spark.stop()
            t = time.perf_counter()
            spark = session.get_spark(f"perfbench-{args.workload}", cpus=env["cpus"])
            spark.sparkContext.setLogLevel("ERROR")
            if k == 0:
                w.prepare(spark)
            w.open(spark)
            for i in range(WARM_QUERIES):
                w.query(-1 - i)
            setup.append(time.perf_counter() - t)
            if k == 0:
                errors += w.verify_prepared()
        env["default_parallelism"] = spark.sparkContext.defaultParallelism
        w.warm_up(spark)

        tracer = None
        modules = ()
        if args.trace:
            import spans

            tracer = spans.Tracer(sc=spark.sparkContext)
            modules = [m for n, m in sorted(sys.modules.items()) if n.startswith("propius_spark") and m]
        r = Runner(w, args.seconds, tracer, modules)
        r.attempted += 1
        r.fail("set-up pass", errors)
        passes = r.measure(bool(args.trace))

        layer = None
        if args.trace:
            stop_spark(spark)  # flushes the event log
            spark = None
            layer = per_layer(r, w, workdir)
            canary["cpu_s"].append(bench._host_calibration())
            canary["disk_mbps"].append(bench._disk_calibration())
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(workdir, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(workdir))
            except OSError:
                pass

    queries = r.samples("query", traced=None)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "passes": passes,
        "gen_s": round(gen_s, 3),
        "setup_s": [round(x, 3) for x in setup],
        "steps_s": {n: round(statistics.median(r.samples(n, None)), 4) for n in r.times},
        "pass_batch_s": [round(t, 3) for t, _ in r.pass_batch],
        "query_ms": [round(q * 1000, 1) for q in queries],
        "query_tail_ms": {k: (round(v * 1000, 2) if k == "value" else v) for k, v in tail(queries).items()},
        "recall": w.recall(),
        "errors": r.errors[:10],
    }
    if hasattr(w, "recalls"):
        detail.update(w.recalls)
    print(json.dumps({"environment": env, "canaries": canary}), flush=True)
    print(json.dumps({"detail": detail}), flush=True)

    m = _metric
    if args.trace:
        metrics = layer
    else:
        metrics = {
            "setup_s": m(statistics.median(setup), "s"),
            "batch_s": m(statistics.median(t for t, _ in r.pass_batch), "s"),
            "query_p50_ms": m(statistics.median(queries) * 1000, "ms"),
            "recall": m(w.recall(), "ratio"),
        }
    print(json.dumps({
        "correct": r.failed == 0,
        "attempted": r.attempted,
        "failed": r.failed,
        "metrics": metrics,
    }), flush=True)
    return 0


def _metric(value, unit: str) -> dict:
    return {"value": value, "unit": unit}


def _median0(xs) -> float:
    """Median, or 0 for a layer the workload does not use."""
    return statistics.median(xs) if xs else 0


def per_layer(r: Runner, w, workdir: str) -> dict:
    """Per-layer metrics of the traced passes, per pass."""
    import pyarrow.parquet as pq

    import spans

    tr = r.tracer
    # every set-up restarts the session, and each session writes its own
    # log; the measured passes ran in the last one
    evdir = os.path.join(workdir, "eventlog")
    last = max(os.listdir(evdir), key=lambda f: os.path.getmtime(os.path.join(evdir, f)))
    with open(os.path.join(evdir, last)) as fh:
        log = spans.parse_event_log(fh)
    n = max(1, sum(1 for _, traced in r.pass_batch if traced))
    selft = spans.self_times(tr.spans)
    roots = [s for s in tr.spans if s.parent is None]

    def groups(ss):
        return {s.group for s in ss}

    def by_name(name):
        return [s for s in tr.spans if s.name == name]

    def by_layer(layer):
        return [s for s in tr.spans if s.layer == layer]

    m = _metric
    out = {}
    mat = by_name("plans.materialize")
    out["plans.materialize_calls"] = m(len(mat) / n, "count")
    out["plans.materialize_s"] = m(sum(s.end - s.start for s in mat) / n, "s")
    out["plans.materialize_jobs"] = m(len(log.jobs_in(groups(mat))) / n, "count")
    for layer in ("cells", "correlation", "similarity", "publish", "dedup", "ann"):
        out[f"{layer}.self_s"] = m(sum(selft[s.sid] for s in by_layer(layer)) / n, "s")
    for layer in ("correlation", "similarity"):
        out[f"{layer}.jobs"] = m(len(log.jobs_in(groups(by_layer(layer)))) / n, "count")
    out["correlation.gram_rows"] = m(r.counts.get("correlation.gram", 0), "count")

    # the layout of the last store a measured build wrote
    files = nbytes = rows = 0
    store = getattr(w, "last_store", None)
    for base, _, fs in os.walk(store) if store else ():
        for f in fs:
            if f.endswith(".parquet"):
                files += 1
                path = os.path.join(base, f)
                nbytes += os.path.getsize(path)
                rows += pq.ParquetFile(path).metadata.num_rows
    out["publish.files"] = m(files, "count")
    out["publish.bytes_per_row"] = m(nbytes / rows if rows else 0.0, "B")

    lookups = [s for s in roots if s.name == "bench.query"] if w.name == "build_serve" else []
    lj, lt, ld = [], [], []
    for s in lookups:
        g = groups(tr.subtree(s))
        jobs = log.jobs_in(g)
        lj.append(len(jobs))
        lt.append(len(log.tasks_in(g)))
        ld.append(spans.driver_gap(s, jobs) * 1000)
    out["serving.lookup_jobs"] = m(_median0(lj), "count")
    out["serving.lookup_tasks"] = m(_median0(lt), "count")
    out["serving.lookup_driver_ms"] = m(_median0(ld), "ms")
    bl = [s for s in roots if s.name == "bench.batch_lookup"]
    out["serving.batch_tasks"] = m(
        sum(len(log.tasks_in(groups(tr.subtree(s)))) for s in bl) / max(1, len(bl)), "count"
    )

    out["dedup.lsh_pairs"] = m(r.counts.get("dedup.minhash_lsh_pairs", 0), "count")
    cc = by_name("dedup.dup_clusters")
    rounds = sum(
        sum(1 for x in tr.subtree(s) if x.name == "plans.materialize") - 1 for s in cc
    )
    out["dedup.cc_rounds"] = m(rounds / n, "count")
    cand = r.counts.get("ann.candidate_pairs", 0)
    ver = r.counts.get("ann.embedding_dup_pairs", 0)
    out["ann.candidate_pairs"] = m(cand, "count")
    out["ann.verified_pairs"] = m(ver, "count")
    out["ann.pair_yield"] = m(ver / cand if cand else 0.0, "ratio")
    emb = groups(s for root in roots if root.name == "bench.embed_dedup" for s in tr.subtree(root))
    py_tasks = [t for t in log.tasks_in(emb) if t.stage in log.python_stages]
    out["ann.python_worker_s"] = m(sum(max(0.0, t.run_s - t.cpu_s) for t in py_tasks) / n, "s")

    allg = groups(tr.spans)
    jobs = log.jobs_in(allg)
    tasks = log.tasks_in(allg)
    out["run.jobs"] = m(len(jobs) / n, "count")
    out["run.tasks"] = m(len(tasks) / n, "count")
    out["run.driver_gap_s"] = m(
        sum(spans.driver_gap(s, log.jobs_in(groups(tr.subtree(s)))) for s in roots) / n, "s"
    )
    out["run.task_cpu_s"] = m(sum(t.cpu_s for t in tasks) / n, "s")
    out["run.shuffle_write_mb"] = m(sum(t.shuffle_write_b for t in tasks) / n / 2**20, "MB")
    out["run.spill_mb"] = m(sum(t.spill_b for t in tasks) / n / 2**20, "MB")
    out["run.gc_s"] = m(sum(t.gc_s for t in tasks) / n, "s")
    out["session.jvm_peak_rss_mb"] = m(log.peak_rss_b / 2**20, "MB")
    on, off = r.samples("query", True), r.samples("query", False)
    out["trace.query_overhead_ms"] = m(
        (statistics.median(on) - statistics.median(off)) * 1000 if on and off else 0.0, "ms"
    )
    out["trace.self_sum_ratio"] = m(
        sum(selft.values()) / r.op_wall_traced if r.op_wall_traced else 0.0, "ratio"
    )
    return out


if __name__ == "__main__":
    sys.exit(main())
