"""The workloads, stage by stage, and the recorders that time them.

Every stage is one public engine call plus the single action that
writes or collects its output. A recorder wraps each stage: the plain
recorder adds nothing, the traced one tags the stage's Spark jobs with a
job group and records a span with counters around it.
"""

from __future__ import annotations

import os
from contextlib import contextmanager, nullcontext

from probe import ProcessTree, SparkCounters, catalyst_seconds, plan_nodes
from spans import Tracer


def files_under(path: str, suffix: str = "") -> tuple[int, int]:
    """(files, bytes) under ``path`` whose names end with ``suffix``."""
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(suffix):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


class _Stage:
    def __init__(self) -> None:
        self.extra: dict[str, float] = {}

    def phase(self, name: str):
        return nullcontext()


class PlainRecorder:
    """Untraced: stages run bare, so walls carry no tracing cost."""

    traced = False

    @contextmanager
    def run(self, run_id: str):
        yield

    @contextmanager
    def stage(self, name: str):
        yield _Stage()


class _TracedStage(_Stage):
    def __init__(self, rec: "TracedRecorder", group: str, span) -> None:
        super().__init__()
        self._rec, self._group, self._span = rec, group, span

    @contextmanager
    def phase(self, name: str):
        """A child span inside the stage; the ``build`` phase also
        records the jobs the call ran before its action."""
        with self._rec.tracer.span(name, self._span.run_id) as sp:
            yield
        self.extra[f"{name}_s"] = sp.end - sp.start
        if name == "build":
            self.extra["build_jobs"] = float(len(self._rec.counters.jobs(self._group)))


class TracedRecorder:
    """Traced: a span per stage with Spark counters for its job group,
    CPU of the JVM and Python processes from ``/proc`` and JVM GC time."""

    traced = True

    def __init__(self, spark, tracer: Tracer, procs: ProcessTree) -> None:
        self.tracer = tracer
        self.procs = procs
        self.counters = SparkCounters(spark)
        self._run_id = "untagged"
        self._n = 0

    @contextmanager
    def run(self, run_id: str):
        self._run_id = run_id
        with self.tracer.span("pipeline", run_id):
            yield

    @contextmanager
    def stage(self, name: str):
        self._n += 1
        group = f"{self._run_id}/{self._n}/{name}"
        self.counters.set_group(group)
        cpu0, py0 = self.procs.cpu()
        gc0 = self.counters.jvm_gc_s()
        cg0 = self.counters.codegen_compiles()
        with self.tracer.span(name, self._run_id) as sp:
            st = _TracedStage(self, group, sp)
            try:
                yield st
            finally:
                self.counters.set_group(None)
        c = self.counters.read(group)
        cpu1, py1 = self.procs.cpu()
        wall = sp.end - sp.start
        sp.metrics = {
            "s": wall,
            "jobs": c["jobs"],
            "stages": c["stages"],
            "tasks": c["tasks"],
            "shuffle_bytes": c["shuffle_bytes"],
            "spill_bytes": c["spill_bytes"],
            "cpu_s": cpu1 - cpu0,
            "python_cpu_s": py1 - py0,
            "jvm_gc_s": self.counters.jvm_gc_s() - gc0,
            "codegen_compiles": float(self.counters.codegen_compiles() - cg0),
            "slot_util": c["executor_run_s"] / (wall * self.counters.slots) if wall > 0 else 0.0,
            **st.extra,
        }


#: Feature specs of the weekly patient summary, one per generated metric
#: (name:source:time_field:extraction_field:unit).
FEATURES = (
    "heart_rate:heart_rate:timestamp:value:bpm",
    "screen:screen_usage:timestamp:value:hours",
    "sleep:sleep:timestamp:value:hours",
    "steps:steps:timestamp:value:count",
)


class Lake:
    """The reference's command sequence over a raw csv.gz lake: catalog
    → summary report → compaction to partitioned parquet, then the
    overview, availability and weekly patient-summary reports over the
    compacted lake."""

    def __init__(self, inputs) -> None:
        self.inputs = inputs

    def run(self, spark, rec, out: str) -> dict:
        from mhm_data_pipelines_spark.functions.timeutils import epoch_to_timestamp
        from mhm_data_pipelines_spark.operators.catalog_queries import summary_report
        from mhm_data_pipelines_spark.operators.compact import compact_lake, read_compacted
        from mhm_data_pipelines_spark.operators.overview import (
            availability_matrix,
            overview_stats,
        )
        from mhm_data_pipelines_spark.operators.summary import (
            patient_summary,
            summary_documents,
        )
        from mhm_data_pipelines_spark.plans.specs import FeatureSpec
        from mhm_data_pipelines_spark.sources.catalog import build_catalog

        root = self.inputs.root
        with rec.stage("sources.catalog.build_catalog") as st:
            catalog = build_catalog(spark, root, layout="raw")
            st.extra["objects"] = float(catalog.count())
        with rec.stage("operators.catalog_queries.summary_report"):
            report = summary_report(catalog).collect()
        compacted = os.path.join(out, "compacted")
        with rec.stage("operators.compact.compact_lake") as st:
            compact_lake(spark, root, compacted, layout="raw")
            if rec.traced:
                st.extra["output_files"], st.extra["output_bytes"] = files_under(
                    compacted, ".parquet")

        lake = read_compacted(spark, compacted)
        ts = epoch_to_timestamp("timestamp")
        with rec.stage("operators.overview.overview_stats"):
            overview = overview_stats(lake, ts=ts, split_by_device=True).collect()
        with rec.stage("operators.overview.availability_matrix"):
            avail = availability_matrix(lake, ts=ts)
            avail_rows = avail.collect()
        documents = os.path.join(out, "documents")
        with rec.stage("operators.summary.patient_summary") as st:
            with st.phase("build"):
                docs = summary_documents(patient_summary(
                    lake, features=[FeatureSpec.parse(f) for f in FEATURES],
                    resolution="weekly",
                ))
            if rec.traced:
                with st.phase("plan"):
                    qe = docs._jdf.queryExecution()
                    tree = qe.executedPlan().toString()
                    st.extra["plan_s"] = catalyst_seconds(qe)
                    st.extra["scans"], st.extra["joins"] = map(float, plan_nodes(tree))
            with st.phase("write"):
                docs.write.json(documents)
        return {
            "catalog_files": sum(r["n_files"] for r in report),
            "compacted": compacted,
            "overview": [r.asDict() for r in overview],
            "availability": [r.asDict() for r in avail_rows],
            "availability_columns": avail.columns,
            "documents": documents,
        }

    def probe(self, spark, rec, result: dict) -> None:
        """Traced runs only: the lake scan that ``compact_lake`` builds
        on, called alone so its planning jobs and files show."""
        from mhm_data_pipelines_spark.sources.lake import read_lake_unified

        with rec.stage("sources.lake.read_lake_unified") as st:
            with st.phase("build"):
                df = read_lake_unified(spark, self.inputs.root, layout="raw")
            st.extra["files"] = float(len(df.inputFiles()))
            df.count()


NGRAM = 13
EVAL_MOD = 97
MIN_QUALITY = 0.75
KNN_COSINE = 0.99
CHUNK_TOKENS = 32
CHUNK_OVERLAP = 8


class CorpusBuild:
    """Decontaminate → quality filter + exact dedup → MinHash and kNN
    near-duplicate edges → one connected-components dedup over both →
    token budget → chunking. Each call is its own stage and hands its
    output to the next through parquet."""

    def __init__(self, inputs) -> None:
        self.inputs = inputs
        import pyarrow.parquet as pq

        texts = pq.read_table(os.path.join(inputs.root, "documents.parquet"),
                              columns=["text"]).column("text").to_pylist()
        #: Token budget: about 60% of the corpus' whitespace tokens.
        self.budget = int(0.6 * sum(len(t.split()) for t in texts))

    def run(self, spark, rec, out: str) -> dict:
        from pyspark.sql import functions as F

        from mhm_data_pipelines_spark.functions.text import quality_score, token_count
        from mhm_data_pipelines_spark.operators.budget import select_to_budget
        from mhm_data_pipelines_spark.operators.components import dedup_by_components
        from mhm_data_pipelines_spark.operators.decontam import ngram_overlap
        from mhm_data_pipelines_spark.operators.dedup import (
            dedup_exact,
            minhash_near_duplicates,
        )
        from mhm_data_pipelines_spark.operators.packing import chunk_documents
        from mhm_data_pipelines_spark.operators.similarity import (
            knn_graph,
            label_centroids,
        )

        p = {k: os.path.join(out, k) for k in (
            "clean", "unique", "minhash_pairs", "knn_pairs", "near_unique", "budgeted",
            "chunks")}
        docs = spark.read.parquet(os.path.join(self.inputs.root, "documents.parquet"))

        with rec.stage("operators.decontam.ngram_overlap"):
            hits = ngram_overlap(docs, docs.filter(F.col("doc_id") % EVAL_MOD == 0), n=NGRAM)
            docs.join(hits, "doc_id", "left_anti").write.parquet(p["clean"])
        with rec.stage("operators.dedup.dedup_exact"):
            clean = spark.read.parquet(p["clean"])
            good = clean.filter(quality_score("text") >= MIN_QUALITY)
            dedup_exact(good).write.parquet(p["unique"])
        with rec.stage("operators.dedup.minhash_near_duplicates"):
            minhash_near_duplicates(spark.read.parquet(p["unique"])).write.parquet(p["minhash_pairs"])
        with rec.stage("operators.similarity.label_centroids"):
            centroids = [
                (int(r["label"]), [float(x) for x in r["centroid"]])
                for r in label_centroids(spark.read.parquet(p["unique"])).collect()
            ]
        with rec.stage("operators.similarity.knn_graph"):
            knn_graph(
                spark.read.parquet(p["unique"]), sorted(centroids), k=4, nprobe=2,
                id_col="doc_id", blas=True,
            ).filter(F.col("cosine") >= KNN_COSINE).select(
                F.col("qid").alias("id_a"), F.col("nid").alias("id_b")
            ).write.parquet(p["knn_pairs"])
        with rec.stage("operators.components.dedup_by_components"):
            # Text and embedding near-duplicates, resolved in one pass.
            edges = spark.read.parquet(p["minhash_pairs"]).select("id_a", "id_b").unionByName(
                spark.read.parquet(p["knn_pairs"]))
            dedup_by_components(spark.read.parquet(p["unique"]), edges).write.parquet(
                p["near_unique"])
        with rec.stage("operators.budget.select_to_budget"):
            sized = spark.read.parquet(p["near_unique"]).withColumn(
                "n_tokens", token_count("text"))
            select_to_budget(
                sized, self.budget, order_by=[("n_tokens", True), ("doc_id", True)],
                value_col="n_tokens",
            ).write.parquet(p["budgeted"])
        with rec.stage("operators.packing.chunk_documents"):
            chunk_documents(
                spark.read.parquet(p["budgeted"]), chunk_tokens=CHUNK_TOKENS,
                overlap=CHUNK_OVERLAP,
            ).write.parquet(p["chunks"])
        return {"paths": p, "budget": self.budget}

    def probe(self, spark, rec, result: dict) -> None:
        """Traced runs only: LSH candidate pairs behind the MinHash stage,
        with that stage's defaults, for its ``pair_yield``."""
        from mhm_data_pipelines_spark.operators.dedup import (
            minhash_lsh_candidates,
            minhash_signatures,
        )

        p = result["paths"]
        sigs = minhash_signatures(spark.read.parquet(p["unique"]), attach_empty=False)
        candidates = minhash_lsh_candidates(
            sigs, bands=8, num_hashes=32, max_bucket_size=10_000).count()
        verified = spark.read.parquet(p["minhash_pairs"]).count()
        span = next(s for s in reversed(rec.tracer.spans)
                    if s.name == "operators.dedup.minhash_near_duplicates")
        span.metrics["pair_yield"] = verified / candidates if candidates else 1.0


WORKLOADS = {
    "lake": Lake,
    "corpus_build": CorpusBuild,
}
