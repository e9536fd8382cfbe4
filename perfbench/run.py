"""graph_etl_spark benchmark: one command, two seeded workloads.

    python3 perfbench/run.py --workload etl_bulk --seed 1 --seconds 14 --trace 0

Run from the repository root. One process, one client, closed loop, on
local[N] with N = min(4, nproc). The last stdout line is one JSON object
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. A run
record (per-run diagnostics, and the spans of a traced run) is written
once at exit to ``.perfbench_runs/``. Exit code 1 when any output check
failed, 2 when the program cannot be imported.

Protocol per process: set-up (JVM and session start, seeded inputs,
expected outputs, and the cold first pipeline run), one warm-up pass of a
fixed reference job, then a fixed number of measured runs
(``--seconds`` / NOMINAL_RUN_S, at least 2), each between two passes of
the reference job. Every run is checked after its
timer stops, writes into a fresh directory, and that directory is
removed, with a Python and a JVM GC, before the next run starts.

Run cost is reported as the mean CPU seconds (JVM plus this process) of
the measured runs divided by the mean of the reference passes around them.
CPU seconds alone moved by half within minutes with the load of the
neighbours on a shared host, and the reference job moves with them.
Raw CPU and wall times go to the run record and the traced run's metrics.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()  # set-up is timed from here

import argparse  # noqa: E402
import contextlib  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

WORKLOADS = ("etl_bulk", "corpus_dedup")
RECORD_DIR = ".perfbench_runs"
DRIVER_MEM = "2g"
# nominal wall time of one measured run and its reference pass on local[4]
# with the host quiet: each NOMINAL_RUN_S of --seconds buys one measured run
NOMINAL_RUN_S = 7.0
# the reference job's input rows; about 3 CPU-s per pass on local[4]
REF_ROWS = 600_000
# its result: (sum of group sizes over the joined rows, joined rows)
REF_EXPECTED = (sum(len(range(i % 1009, REF_ROWS, 1009)) for i in range(0, REF_ROWS, 97)), len(range(0, REF_ROWS, 97)))
# per-layer span names reported with --trace 1; every one is emitted on
# every workload (0 where the workload does not reach the layer)
SPARK_SPANS = (
    "context.save_nodes",
    "context.save_edges",
    "loaders.spark_native.load_nodes",
    "loaders.spark_native.load_edges",
    "operators.text.quality_score",
    "operators.dedup.minhash_lsh_pairs",
    "operators.graph.dedup_clusters",
    "operators.similarity.kmeans_fit",
    "operators.similarity.ivf_topk",
)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full", help="tiny: smoke-test inputs")
    return p.parse_args(argv)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _configure_env(root: str) -> None:
    """Point every scratch location of Python, the JVM and Spark into
    ``root`` and pin the session size, before the JVM starts."""
    tmp = os.path.join(root, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(root, "spark-local")
    cpus = str(min(4, len(os.sched_getaffinity(0))))
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    os.environ["SPARK_GRAFT_SHUFFLE"] = cpus
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # the session must not pick up a caller's experiment or cluster posture
    for var in ("SPARK_MASTER", "SPARK_GRAFT_EXTRA_CONFS", "SPARK_GRAFT_ADVISORY_PARTITION", "SPARK_GRAFT_COALESCE_PARALLELISM_FIRST"):
        os.environ.pop(var, None)


def _session_confs(root: str) -> dict:
    # A heap fixed at its maximum keeps G1's sizing, and with it the
    # timing of concurrent marking cycles, the same in every process:
    # with a growing heap, GC threads took 0.1-2.4 CPU-s of one run,
    # depending on the process. Touching the whole heap at start makes
    # the heap's share of peak RSS the same in every process too.
    # The JIT stops at C1: with C2 the compiler threads still burned 2-4
    # CPU-s per run at the fifth run, in bursts that differed from process
    # to process, and the code sped up run after run; with C1 alone they
    # take ~0.3 CPU-s per run from the third run on and the run cost is
    # flat. The larger code cache keeps C1 code from being flushed and
    # compiled again (at C1's default 48 MB it was, at the eighth run).
    # A fixed compiler-thread count keeps the JIT threads' CPU readable.
    java_opts = " ".join((
        f"-Djava.io.tmpdir={os.path.join(root, 'tmp')}",
        "-XX:-UsePerfData",
        f"-Xms{DRIVER_MEM}",
        "-XX:+AlwaysPreTouch",
        "-XX:TieredStopAtLevel=1",
        "-XX:ReservedCodeCacheSize=256m",
        "-XX:-UseDynamicNumberOfCompilerThreads",
    ))
    return {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(root, "warehouse"),
        "spark.driver.extraJavaOptions": java_opts,
    }


def _stop_jvm() -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


class Bench:
    def __init__(self, args, root: str):
        self.args = args
        self.root = root
        self.runs: list[dict] = []
        self.refs: list[dict] = []

    def setup(self):
        from perfbench import workloads
        from perfbench.probes import SparkCounters
        from perfbench.tracing import Tracer

        import graph_etl_spark as getl

        t0 = time.perf_counter()
        spark = getl.get_spark("perfbench", extra_confs=_session_confs(self.root))
        spark.sparkContext.setLogLevel("ERROR")
        self.session_start_s = time.perf_counter() - t0
        self.spark = spark
        self.counters = SparkCounters(spark)
        self.session_start_jobs = self.counters.next_job_id()
        self.tracer = Tracer(self.counters, enabled=bool(self.args.trace))
        self.wl = workloads.make(self.args.workload, self.args.scale)
        self.wl.setup(os.path.join(self.root, "inputs"), self.args.seed)
        # the cold first run (codegen and JIT cold) is what a one-shot
        # job pays on top of the session start; it is part of set-up
        self.one_run("cold", traced=False)
        self.setup_s = time.time() - T_PROCESS

    def reference(self) -> dict:
        """One pass of the reference job: a fixed Spark job (parquet write
        and read, two aggregations, a join) that does not touch the
        program. Its CPU seconds gauge how fast the host runs JVM and Spark
        work at the moment."""
        from pyspark.sql import functions as F

        from perfbench.probes import host_steal_s

        path = os.path.join(self.root, "reference")
        c = self.counters
        cpu0, py0, st0 = c.jvm_cpu_s(), time.process_time(), host_steal_s()
        t0 = time.perf_counter()
        spark = self.spark
        df = spark.range(0, REF_ROWS, numPartitions=8).selectExpr("id", "id % 1009 AS k", "xxhash64(id) AS h", "cast(id AS string) AS s")
        df.write.parquet(path)
        back = spark.read.parquet(path)
        agg = back.groupBy("k").agg(F.count("*").alias("n"), F.max("s").alias("m"))
        row = agg.join(back.where("id % 97 = 0"), "k").agg(F.sum("n"), F.count("*")).first()
        rec = {
            "wall_s": time.perf_counter() - t0,
            "cpu_s": c.jvm_cpu_s() - cpu0 + time.process_time() - py0,
            "steal_s": host_steal_s() - st0,
        }
        shutil.rmtree(path)
        if tuple(row) != REF_EXPECTED:
            raise RuntimeError(f"reference job returned {tuple(row)}, expected {REF_EXPECTED}")
        self.refs.append(rec)
        return rec

    def one_run(self, kind: str, traced: bool) -> dict:
        from perfbench.probes import host_steal_s, thread_cpu_s
        from perfbench.workloads import PATCHES, dir_bytes

        idx = len(self.runs)
        run_id = f"{kind}{idx}"
        out_dir = os.path.join(self.root, "runs", run_id)
        os.makedirs(out_dir)
        tr = self.tracer
        tr.run_id = run_id
        tr.enabled = traced
        if traced:
            for owner, attr, name, after in PATCHES:
                tr.patch(owner, attr, name, after)
        c = self.counters
        j0, cpu0, gc0, st0 = c.next_job_id(), c.jvm_cpu_s(), c.gc_s(), host_steal_s()
        th0, py0 = thread_cpu_s(c.jvm_pid), time.process_time()
        t0 = time.perf_counter()
        handle, error = None, None
        try:
            handle = self.wl.run(self.spark, out_dir, tr)
        except Exception:  # a run that raises counts as failed; keep going
            error = traceback.format_exc()
        wall = time.perf_counter() - t0
        py_cpu = time.process_time() - py0
        jvm_cpu = c.jvm_cpu_s() - cpu0
        th1 = thread_cpu_s(c.jvm_pid)
        threads = {k: v - th0.get(k, 0.0) for k, v in th1.items()}
        rec = {
            "run": run_id,
            "kind": kind,
            "traced": traced,
            "wall_s": wall,
            "jobs": c.next_job_id() - j0,
            "jvm_cpu_s": jvm_cpu,
            "py_cpu_s": py_cpu,
            "cpu_s": jvm_cpu + py_cpu,
            "jit_cpu_s": sum(v for k, v in threads.items() if "CompilerThre" in k),
            "jvm_threads_cpu_s": {k: round(v, 3) for k, v in threads.items() if v > 0.005},
            "gc_s": c.gc_s() - gc0,
            "steal_s": host_steal_s() - st0,
            "loadavg_1m": os.getloadavg()[0],
        }
        tr.unpatch_all()
        tr.enabled = False
        ok, problems, stats = False, [error] if error else [], {}
        if handle is not None:
            try:
                ok, problems, stats = self.wl.check(self.spark, handle)
            except Exception:
                problems.append(traceback.format_exc())
            rec["bytes_written"] = dir_bytes(out_dir)
            rec["persistent_rdds"] = c.persistent_rdds()
            self.wl.release(handle)
        if traced:
            self.tracer.attach_stage_metrics(run_id)
        rec.update(ok=ok, problems=problems, stats=stats)
        if problems:
            print(f"[{run_id}] check failed: {problems}", file=sys.stderr)
        del handle
        shutil.rmtree(out_dir, ignore_errors=True)
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()
        self.runs.append(rec)
        return rec

    def measure(self):
        a = self.args
        # One warm-up pass of the reference job, then a fixed number of
        # measured runs, each between two reference passes. The count is
        # fixed, not a time budget, because the first measured run still
        # costs ~10% more than the next: with a budget, slow processes made
        # fewer runs and read higher. A traced process makes exactly four,
        # traced (T) and untraced (U) as T U U T, so the warm-up slope
        # cancels out of the tracing overhead.
        self.reference()
        self.refs.clear()
        n = 4 if a.trace else max(2, round(a.seconds / NOMINAL_RUN_S))
        for i in range(n):
            self.reference()
            self.one_run("m", traced=bool(a.trace) and i in (0, 3))
        self.reference()

    def metrics_end_to_end(self) -> dict:
        from perfbench.probes import vm_hwm_mb

        inp = self.wl.inputs
        runs = [r for r in self.runs if r["kind"] == "m"]
        ok_runs = [r for r in self.runs if r["ok"]]
        q = {m: _median([r["stats"][m] for r in runs if m in r["stats"]]) for m in ("dedup_recall", "dedup_precision", "ann_recall_at_k")}
        bw = [r["bytes_written"] for r in runs if "bytes_written" in r]
        rss = vm_hwm_mb(os.getpid()) + vm_hwm_mb(self.counters.jvm_pid)
        return {
            "setup_s": (self.setup_s, "s"),
            "run_cost": (statistics.fmean(r["cpu_s"] for r in runs) / statistics.fmean(r["cpu_s"] for r in self.refs), "ref"),
            "jobs_per_run": (_median([r["jobs"] for r in runs]), "count"),
            "peak_rss_mb": (rss, "MB"),
            "bytes_written_per_input_byte": (_median(bw) / inp.input_bytes, "B/B"),
            "ok_frac": (len(ok_runs) / len(self.runs), "frac"),
            "dedup_recall": (q["dedup_recall"], "frac"),
            "dedup_precision": (q["dedup_precision"], "frac"),
            "ann_recall_at_k": (q["ann_recall_at_k"], "frac"),
        }

    def metrics_per_layer(self) -> dict:
        from perfbench.tracing import run_totals

        traced = [r for r in self.runs if r["traced"]]
        plain = [r for r in self.runs if r["kind"] == "m" and not r["traced"]]
        totals = [run_totals(self.tracer.spans, r["run"]) for r in traced]

        def med(name, key):
            return _median([t.get(name, {}).get(key, 0.0) for t in totals])

        out = {"session.start.s": (self.session_start_s, "s"), "session.start.jobs": (self.session_start_jobs, "count")}
        for name in SPARK_SPANS:
            out[f"{name}.s"] = (med(name, "s"), "s")
            out[f"{name}.jobs"] = (med(name, "jobs"), "count")
            out[f"{name}.task_cpu_s"] = (med(name, "task_cpu_s"), "s")
            out[f"{name}.shuffle_bytes"] = (med(name, "shuffle_bytes"), "B")
            out[f"{name}.spill_bytes"] = (med(name, "spill_bytes"), "B")
        # self times: parse minus the parser bodies (and catalog flushes
        # inside it) is the mapping engine; load minus loader calls
        for name, span in (("pipeline.map", "pipeline.parse"), ("pipeline.load", "pipeline.load")):
            out[f"{name}.s"] = (med(span, "self_s"), "s")
            out[f"{name}.jobs"] = (med(span, "self_jobs"), "count")
        out["pipeline.map.task_cpu_s"] = (med("pipeline.parse", "self_task_cpu_s"), "s")
        out["pipeline.map.shuffle_bytes"] = (med("pipeline.parse", "self_shuffle_bytes"), "B")
        out["pipeline.map.spill_bytes"] = (med("pipeline.parse", "self_spill_bytes"), "B")
        out["catalog.flush.s"] = (med("catalog.flush", "s"), "s")
        out["catalog.flush.jobs"] = (med("catalog.flush", "jobs"), "count")
        out["catalog.flushes"] = (med("catalog.flush", "calls"), "count")
        out["catalog.configs_bytes"] = (med("catalog.flush", "bytes"), "B")

        stat = lambda key: _median([r["stats"].get(key, 0.0) for r in traced])  # noqa: E731
        staged = stat("staged_rows")
        out["context.rows_out_per_row_in"] = (staged / self.wl.inputs.input_rows if staged else 0.0, "rows/row")
        loaded = stat("loaded_rows")
        read = _median([t.get("loaders.spark_native.load_nodes", {}).get("input_records", 0) + t.get("loaders.spark_native.load_edges", {}).get("input_records", 0) for t in totals])
        out["loaders.spark_native.rows_read_per_row_loaded"] = (read / loaded if loaded else 0.0, "rows/row")
        out["operators.dedup.useful_pair_frac"] = (stat("useful_pair_frac"), "frac")

        out["jvm.cpu_s"] = (_median([r["jvm_cpu_s"] for r in traced]), "s")
        out["jvm.gc_s"] = (_median([r["gc_s"] for r in traced]), "s")
        out["jvm.jit_cpu_s"] = (_median([r["jit_cpu_s"] for r in traced]), "s")
        out["host.steal_s"] = (_median([r["steal_s"] for r in traced]), "s")
        out["spark.persistent_rdds"] = (_median([r.get("persistent_rdds", 0) for r in traced]), "count")
        out["run.jobs"] = (_median([r["jobs"] for r in traced]), "count")
        # wall time is reported here, unbounded: on a host with CPU steal
        # it moves with the neighbours, not with the program
        out["run.wall_s.p50"] = (_median([r["wall_s"] for r in plain]), "s")
        # the raw CPU behind the end-to-end run cost, and its divisor
        out["first_run.cpu_s"] = (self.runs[0]["cpu_s"], "s")
        out["run.cpu_s.p50"] = (_median([r["cpu_s"] for r in plain]), "s")
        out["reference.cpu_s.p50"] = (_median([r["cpu_s"] for r in self.refs]), "s")
        out["trace.run_s.p50"] = (_median([r["wall_s"] for r in traced]), "s")
        # overheads compare means, so the T U U T order cancels the slope
        mean = lambda rs, key: statistics.fmean(r[key] for r in rs)  # noqa: E731
        out["trace.overhead_s"] = (mean(traced, "wall_s") - mean(plain, "wall_s"), "s")
        out["trace.overhead_cpu_s"] = (mean(traced, "cpu_s") - mean(plain, "cpu_s"), "s")
        return out


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import graph_etl_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the program from {os.getcwd()}: {exc}", file=sys.stderr)
        return 2
    root = os.path.abspath(os.path.join(".perfbench_tmp", f"{args.workload}-{args.seed}-{os.getpid()}"))
    os.makedirs(root)
    bench = Bench(args, root)
    record = {"args": vars(args)}
    try:
        _configure_env(root)
        bench.setup()
        bench.measure()
        metrics = bench.metrics_per_layer() if args.trace else bench.metrics_end_to_end()
    finally:
        try:
            _stop_jvm()
        finally:
            shutil.rmtree(root, ignore_errors=True)
            with contextlib.suppress(OSError):
                os.rmdir(os.path.dirname(root))  # only if no other run uses it
            record.update(
                runs=bench.runs,
                refs=bench.refs,
                setup_s=getattr(bench, "setup_s", None),
                spans=bench.tracer.spans if hasattr(bench, "tracer") else [],
            )
            os.makedirs(RECORD_DIR, exist_ok=True)
            path = os.path.join(RECORD_DIR, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
            with open(path, "w") as f:
                json.dump(record, f, indent=1, default=str)
    failed = sum(not r["ok"] for r in bench.runs)
    result = {
        "correct": failed == 0,
        "attempted": len(bench.runs),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    # import the program and this package from the checkout root, not
    # from this file's directory
    sys.path[0] = os.getcwd()
    sys.exit(main())
