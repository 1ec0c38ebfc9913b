"""Pipeline benchmark of the engine: a raw-lake ingest-and-report
pipeline and an LLM corpus build, timed end to end (``--trace 0``) or per
layer (``--trace 1``).

    python3 perfbench/run.py --workload lake --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Inputs are generated from the seed under
``.perfbench_work/`` in the checkout and removed at exit; a traced run
leaves its spans in ``.perfbench_work/traces/``. The last line of stdout
is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``. See README.md in this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

import gen
import oracle
import pipelines
from pipelines import files_under
from probe import ProcessTree, descendants
from spans import Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE = "mhm_data_pipelines_spark"
WORK_DIR = os.path.join(ROOT, ".perfbench_work")
TRACE_DIR = os.path.join(WORK_DIR, "traces")
WORKLOAD_NAMES = tuple(pipelines.WORKLOADS)

#: Task slots: never more than the host's cores.
SLOTS = min(4, len(os.sched_getaffinity(0)))
SHUFFLE_PARTITIONS = 8
#: JVM heap sizing of the benchmark's session (see ``start_session``).
JVM_HEAP_OPTS = "-Xms3g -Xmn512m"

END_TO_END = {
    "setup_s": "s",
    "run_s": "s",
    "rows_per_s": "1/s",
    "cpu_s": "s",
    "peak_rss_mb": "MiB",
    "out_files": "count",
    "out_bytes_per_in_byte": "ratio",
    "ok_ratio": "ratio",
}

_CORE = ("s", "jobs", "shuffle_bytes", "cpu_s", "codegen_compiles")
#: Layer → metrics reported for it by a traced run, in output order.
LAYERS = {
    "session.get_spark": ("s",),
    "sources.catalog.build_catalog": _CORE + ("objects",),
    "operators.catalog_queries.summary_report": _CORE,
    "sources.lake.read_lake_unified": _CORE + ("build_s", "build_jobs", "files"),
    "operators.compact.compact_lake": _CORE + (
        "tasks", "output_files", "output_bytes", "slot_util", "jvm_gc_s"),
    "operators.overview.overview_stats": _CORE,
    "operators.overview.availability_matrix": _CORE,
    "operators.summary.patient_summary": _CORE + (
        "build_s", "plan_s", "scans", "joins", "spill_bytes", "jvm_gc_s"),
    "operators.decontam.ngram_overlap": _CORE,
    "operators.dedup.dedup_exact": _CORE,
    "operators.dedup.minhash_near_duplicates": _CORE + ("pair_yield",),
    "operators.components.dedup_by_components": _CORE,
    "operators.similarity.label_centroids": _CORE,
    "operators.similarity.knn_graph": _CORE + ("python_cpu_s", "slot_util", "spill_bytes"),
    "operators.budget.select_to_budget": _CORE,
    "operators.packing.chunk_documents": _CORE,
}
#: Whole-run figures of a traced run.
BENCH_LAYER = {
    "bench.untraced_run_s": "s",
    "bench.traced_run_s": "s",
    "bench.trace_overhead_s": "s",
    "bench.loadavg_1m": "load",
}


def metric_unit(metric: str) -> str:
    if metric == "s" or metric.endswith("_s"):
        return "s"
    if metric.endswith("_bytes"):
        return "bytes"
    if metric in ("slot_util", "pair_yield"):
        return "ratio"
    return "count"


def per_layer_units() -> dict[str, str]:
    out = {f"{layer}.{m}": metric_unit(m) for layer, ms in LAYERS.items() for m in ms}
    out.update(BENCH_LAYER)
    return out


def _median(xs):
    return statistics.median(xs) if xs else float("nan")


def layer_metrics(tracer, samples, get_spark_s, load1) -> dict:
    """Median of each layer metric over the traced pipeline runs
    (a layer called twice in one run is summed within that run)."""
    per_run: dict[str, dict[str, float]] = {}
    for sp in tracer.spans:
        if sp.name in LAYERS and sp.metrics:
            run = per_run.setdefault(sp.run_id, {})
            for m in LAYERS[sp.name]:
                if m in sp.metrics:
                    key = f"{sp.name}.{m}"
                    run[key] = run.get(key, 0.0) + sp.metrics[m]
    units = per_layer_units()
    values = {k: 0.0 for k in units}
    for key in {k for run in per_run.values() for k in run}:
        values[key] = _median([run[key] for run in per_run.values() if key in run])
    values["session.get_spark.s"] = get_spark_s
    plain = _median([s["wall"] for s in samples[False] if s["wall"] is not None])
    traced = _median([s["wall"] for s in samples[True] if s["wall"] is not None])
    values["bench.untraced_run_s"] = plain
    values["bench.traced_run_s"] = traced
    values["bench.trace_overhead_s"] = traced - plain
    values["bench.loadavg_1m"] = load1
    return {k: {"value": v, "unit": units[k]} for k, v in values.items()}


def end_to_end_metrics(values: dict[str, float]) -> dict:
    if set(values) != set(END_TO_END):
        raise ValueError(f"end-to-end metrics {sorted(values)} != {sorted(END_TO_END)}")
    return {k: {"value": values[k], "unit": unit} for k, unit in END_TO_END.items()}


def _isolate(work: str) -> str:
    """Keep every file the run writes (temp files, Spark's local dirs,
    the warehouse) inside ``work``. Returns the temp dir."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    tempfile.tempdir = None
    return tmp


def warm_session(spark) -> None:
    """Run one job on every task slot."""
    df = spark.range(0, SLOTS * 1000, numPartitions=SLOTS)
    df.selectExpr("sum(id)").collect()


class Bench:
    def __init__(self, args, work: str) -> None:
        self.args = args
        self.work = work
        self.tmp = _isolate(work)
        self.attempted = 0
        self.failed = 0
        self.spark = None

    # -- session ---------------------------------------------------------

    def start_session(self):
        from mhm_data_pipelines_spark.session import get_spark

        spark = get_spark(
            app_name="perfbench",
            master=f"local[{SLOTS}]",
            shuffle_partitions=SHUFFLE_PARTITIONS,
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                # java.io.tmpdir and no hsperfdata: the JVM writes only here.
                # A fixed initial heap and young generation: G1 otherwise
                # grows, shrinks and resizes them from GC pause times, which
                # moved the JVM's resident memory by 1.5 GiB between runs
                # of the same input. The maximum heap stays the engine's.
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData {JVM_HEAP_OPTS}",
                # No web UI: its listeners would add work to every job.
                "spark.ui.enabled": "false",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def shutdown(self) -> None:
        """Stop Spark, the JVM and every process below this one, and
        wait until each has ended."""
        if self.spark is not None:
            from pyspark import SparkContext

            self.spark.stop()
            gw = SparkContext._gateway
            proc = getattr(gw, "proc", None)
            if gw is not None:
                gw.shutdown()
                SparkContext._gateway = SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
                try:
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait()
            self.spark = None
        deadline = time.monotonic() + 20
        while (left := descendants(os.getpid())) and time.monotonic() < deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGTERM if time.monotonic() < deadline - 10
                            else signal.SIGKILL)
                except ProcessLookupError:
                    pass
            time.sleep(0.2)

    # -- one pipeline run ---------------------------------------------------

    def iteration(self, rec, run_id: str) -> dict:
        """Run the pipeline once, check its output, and return its wall,
        CPU and output size (``wall`` is None when it raised)."""
        out = os.path.join(self.work, "out", run_id)
        os.makedirs(out)
        # Every run starts from a collected heap, as the engine's session
        # notes advise for latency measurements.
        self.spark._jvm.System.gc()
        self.procs.reset_peaks()
        cpu0 = self.procs.cpu()[0]
        t0 = time.perf_counter()
        sample = {"wall": None, "cpu": None, "files": 0, "bytes": 0}
        self.attempted += 1
        try:
            with rec.run(run_id):
                result = self.pipeline.run(self.spark, rec, out)
            sample["wall"] = time.perf_counter() - t0
            sample["cpu"] = self.procs.cpu()[0] - cpu0
            self.peak_mb = max(self.peak_mb, self.procs.hwm_mb())
            sample["files"], sample["bytes"] = files_under(out)
            errs = self.check(self.expected, result)
            if rec.traced:
                self.pipeline.probe(self.spark, rec, result)
        except Exception:
            errs = [traceback.format_exc()]
        if errs:
            self.failed += 1
            if self.failed <= 3:
                print(f"perfbench: {run_id} failed:\n  " + "\n  ".join(errs), file=sys.stderr)
        shutil.rmtree(out, ignore_errors=True)
        return sample

    # -- the run ------------------------------------------------------------

    def run(self) -> dict:
        a = self.args
        self.inputs = gen.GENERATORS[a.workload](os.path.join(self.work, "in"), a.seed)
        self.expected = getattr(oracle, f"expect_{a.workload}")(self.inputs)
        self.check = getattr(oracle, f"check_{a.workload}")
        self.pipeline = pipelines.WORKLOADS[a.workload](self.inputs)
        self.procs = ProcessTree()
        self.peak_mb = 0.0
        tracer = Tracer()
        plain = pipelines.PlainRecorder()

        try:
            # The set-up a user pays once per command: the JVM launch in
            # get_spark, then the first job's class loading.
            with tracer.span("setup", "setup") as setup:
                with tracer.span("session.get_spark", "setup") as sp:
                    self.spark = self.start_session()
                warm_session(self.spark)
            get_spark_s = sp.end - sp.start
            setup_s = setup.end - setup.start
            if a.trace:
                # Traced and untraced runs are compared warm, so the first
                # (cold) run is kept out of both.
                self.iteration(plain, "warmup")

            traced = pipelines.TracedRecorder(self.spark, tracer, self.procs) if a.trace else None
            samples = {False: [], True: []}
            deadline = time.perf_counter() + a.seconds
            k = 0
            while time.perf_counter() < deadline or (a.trace and not samples[True]):
                use_trace = bool(a.trace) and k % 2 == 1
                rec = traced if use_trace else plain
                samples[use_trace].append(self.iteration(rec, f"run{k}"))
                k += 1
            load1 = os.getloadavg()[0]
        finally:
            self.shutdown()

        ok = [s for s in samples[False] if s["wall"] is not None]
        if a.trace:
            metrics = layer_metrics(tracer, samples, get_spark_s, load1)
            os.makedirs(TRACE_DIR, exist_ok=True)
            tracer.dump(
                os.path.join(TRACE_DIR, f"{a.workload}-seed{a.seed}.json"),
                workload=a.workload, seed=a.seed, loadavg_1m=load1,
                metrics=metrics,
            )
        else:
            run_s = _median([s["wall"] for s in ok])
            values = {
                "setup_s": setup_s,
                "run_s": run_s,
                "rows_per_s": self.inputs.rows / run_s,
                "cpu_s": _median([s["cpu"] for s in ok]),
                "peak_rss_mb": self.peak_mb,
                "out_files": _median([s["files"] for s in ok]),
                "out_bytes_per_in_byte": _median([s["bytes"] for s in ok]) / self.inputs.bytes,
                "ok_ratio": 1.0 - self.failed / self.attempted,
            }
            metrics = end_to_end_metrics(values)
        print(
            f"perfbench: {a.workload} seed={a.seed} input files={self.inputs.files} "
            f"rows={self.inputs.rows} bytes={self.inputs.bytes} "
            f"setup={setup_s:.2f} "
            f"runs={[round(x['wall'], 2) for x in samples[False] + samples[True] if x['wall']]}"
            + (f" digest={self.expected['digest']}" if "digest" in self.expected else ""),
            file=sys.stderr,
        )
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": metrics,
        }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, ENGINE, "__init__.py")):
        print(f"perfbench: the engine package {ENGINE}/ is not in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(WORK_DIR, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        result = Bench(args, work).run()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result, allow_nan=False))
    return 0


if __name__ == "__main__":
    sys.exit(main())
