"""End-to-end pipeline driver (reference §3.1: Step Functions DAG →
one Spark application).

The reference orchestrates ingest → verify → embed → verify →
clustering → report across Fargate/Batch/Lambda boundaries
(infrastructure/lib/scotustician-orchestration-stack.ts). Here every
boundary collapses into Spark stages; the Choice-state verification
gates become ``count_gate`` actions (data_verification.py analog) and
the run summary replaces the cost/metrics sinks.

Stages (all lazy until a gate or sink forces them):
  1. corpus read + quarantine split        (S6/S7, S4)
  2. flatten → utterances, role classify   (P1-P7, P9)
  3. section chunks                        (C1-C3)
  4. embeddings (pluggable model)          (C4, hash mode by default)
  5. case vectors = token-weighted mean    (A1)
  6. cluster + representatives + report    (M1-M3, W1/W2)
  7. medallion models + data tests         (dbt layer)

Gates: four ``count_gate`` actions, in order — valid documents,
utterances, chunks, embeddings — each raising before any sink writes.
The ingest gate's scan also carries an ``Observation`` of every
document read, so the junk count is documents seen minus valid
documents, with no second parse of the corpus; the quarantine sink
runs only when that count is positive. The four data tests run as one
action (``run_data_tests``).

Each intermediate with more than one consumer is computed once:

- ``utterances`` — cached by the flatten gate; read by chunks, the
  medallion models and every utterance sink;
- ``embeddings`` — cached by the embed gate, so the embedder (a
  Python ``mapInPandas`` in hash mode) runs once per run;
- ``case_vectors`` — cached by KMeans's first pass, with the
  partitioning its uncached plan runs with (``_as_executed``); read by
  every KMeans pass and the ``assigned`` build;
- ``assigned`` — cached by its first consumer; read by the report and
  the cluster CSV sink.

Every cache the run creates is released (non-blocking unpersist)
before ``run_pipeline`` returns or raises. The DataFrames in the
result stay usable; reading them again recomputes from the corpus.
"""

from __future__ import annotations

from contextlib import nullcontext
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from scotustician_spark.documents import (
    assemble_section_chunks,
    classify_speaker_role,
    flatten_utterances,
    read_oa_json,
    split_quarantine,
    write_xml,
)
from scotustician_spark.documents.medallion import (
    register_models,
    run_data_tests,
)
from scotustician_spark.functions.vector import weighted_mean_vectors
from scotustician_spark.ml import analysis_report, kmeans_assign
from scotustician_spark.ml.embedding import embed_text
from scotustician_spark.sources.sinks import (
    count_gate,
    run_summary,
    write_partitioned,
    write_quarantine,
)


@dataclass
class PipelineResult:
    utterances: DataFrame
    chunks: DataFrame
    embeddings: DataFrame
    case_vectors: DataFrame
    report: DataFrame
    models: dict[str, DataFrame]
    gates: dict[str, int] = field(default_factory=dict)
    data_test_violations: dict[str, int] = field(default_factory=dict)
    #: per-stage cost relation (metrics.py) when collect_metrics=True
    stage_metrics: DataFrame | None = None


def _as_executed(df: DataFrame) -> DataFrame:
    """``df`` rebuilt over the RDD its plan executes to, so a cache of it
    keeps the partitioning AQE picks at run time.

    Caching ``df`` itself would not: a cached plan keeps its last
    shuffle's uncoalesced partition count. KMeans seeds its centres by
    sampling per partition, so on other partitions it clusters the same
    rows differently than an uncached read does. The rebuilt frame stays
    recomputable from its lineage once the cache is released.
    """
    jdf = df._jdf
    spark = df.sparkSession
    return DataFrame(
        spark._jsparkSession.createDataFrame(jdf.javaRDD(), jdf.schema()), spark
    )


def run_pipeline(
    spark: SparkSession,
    corpus_dir: str,
    out_dir: str | None = None,
    embed_dim: int = 8,
    n_clusters: int = 4,
    embed_mode: str = "hash",
    collect_metrics: bool = False,
) -> PipelineResult:
    """Run the full reference pipeline over a JSON corpus directory.

    With ``out_dir`` set, also writes the partitioned utterance table,
    XML corpus, quarantine and run summary (the reference's S3 layout).

    ``collect_metrics``: attach a QueryExecutionListener for the run
    and return a per-stage cost relation (wall/rows/bytes-read/shuffle
    volume — metrics.py, the reference's cost_tracking.py analog) as
    ``PipelineResult.stage_metrics``; with ``out_dir`` it is also
    persisted to ``{out_dir}/stage_metrics``.
    """
    gates: dict[str, int] = {}
    mc = None
    if collect_metrics:
        from scotustician_spark.metrics import StageMetricsCollector

        mc = StageMetricsCollector(spark)

    def _stage(name: str):
        return mc.stage(name) if mc else nullcontext()

    cached: list[DataFrame] = []

    def _cache(df: DataFrame) -> DataFrame:
        cached.append(df.cache())
        return df

    try:
        # count every document the ingest scan reads, so the junk count
        # comes from the gate's own action rather than a second parse
        scanned = Observation()
        docs = read_oa_json(spark, corpus_dir).observe(
            scanned, F.count(F.lit(1)).alias("documents")
        )
        valid, junk = split_quarantine(docs)
        with _stage("ingest"):
            gates["valid_documents"] = count_gate(valid, 1, "ingested documents")
        n_junk = scanned.get["documents"] - gates["valid_documents"]

        # five downstream consumers (chunks, models, summary, xml,
        # partitioned sink) would otherwise re-read + re-flatten the corpus
        utterances = _cache(classify_speaker_role(flatten_utterances(valid)))
        with _stage("flatten"):
            gates["utterances"] = count_gate(utterances, 1, "flattened utterances")

        with _stage("chunk"):
            chunks = assemble_section_chunks(utterances)
            gates["chunks"] = count_gate(chunks, 1, "section chunks")

        # the gate's count fills the cache: the embedder runs once, and
        # the weighted mean below reads its output from memory
        embeddings = _cache(
            embed_text(
                chunks.select(
                    "case_id", "oa_id", "section_id", "chunk_text", "token_count"
                ),
                "chunk_text",
                dim=embed_dim,
                mode=embed_mode,
            ).drop("chunk_text")
        )
        with _stage("embed"):
            gates["embeddings"] = count_gate(embeddings, 1, "chunk embeddings")

        # KMeans makes several passes over its input, then the assigned
        # build reads it again: aggregate the case vectors once
        case_vectors = _cache(
            _as_executed(
                weighted_mean_vectors(
                    embeddings, ["case_id"], "embedding", "token_count", out_col="case_vec"
                )
            )
        )

        assigned = _cache(kmeans_assign(case_vectors, "case_vec", k=n_clusters, seed=42))
        report = analysis_report(assigned, "case_id", "case_vec", k=5)

        models = register_models(spark, utterances, chunks)
        violations = run_data_tests(spark)

        if out_dir:
            with _stage("sink_utterances"):
                write_partitioned(utterances, f"{out_dir}/utterances", ("term",))
            write_xml(utterances, f"{out_dir}/xml")
            if n_junk:
                write_quarantine(junk.select("_corrupt_record"), f"{out_dir}/junk")
            run_summary(utterances, "term").write.mode("overwrite").json(
                f"{out_dir}/run_summary"
            )
            # S12/S13: clustering results CSV + per-cluster JSON metadata
            # (clustering/helpers.py:269-302 export shapes)
            assigned.drop("case_vec").write.mode("overwrite").option(
                "header", True
            ).csv(f"{out_dir}/cluster_results")
            report.write.mode("overwrite").json(f"{out_dir}/cluster_report")

        metrics_df = None
        if mc is not None:
            metrics_df = mc.to_df(spark)
            if out_dir:
                metrics_df.write.mode("overwrite").parquet(f"{out_dir}/stage_metrics")
    finally:
        for df in cached:
            df.unpersist(blocking=False)
        if mc is not None:
            mc.close()

    return PipelineResult(
        utterances=utterances,
        chunks=chunks,
        embeddings=embeddings,
        case_vectors=case_vectors,
        report=report,
        models=models,
        gates=gates,
        data_test_violations=violations,
        stage_metrics=metrics_df,
    )
