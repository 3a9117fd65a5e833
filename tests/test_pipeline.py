"""End-to-end pipeline integration test on a synthetic corpus."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from scotustician_spark.pipeline import run_pipeline
from tests.fixtures_oa import make_corpus, write_corpus_json


#: jobs one run of the module fixture launches (10 docs, 1 junk file, every
#: sink, stage metrics on). Measured at 48 on 4 CPUs; recomputing the
#: embeddings and case vectors for each consumer took 61. The slack
#: absorbs AQE splitting a shuffle stage differently; a reintroduced
#: recompute costs several jobs and trips it.
JOB_BUDGET = 52


def _cache_entries(spark) -> int:
    return spark._jsparkSession.sharedState().cacheManager().cachedData().size()


@pytest.fixture(scope="module")
def pipeline_run(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("e2e")
    write_corpus_json(make_corpus(n_docs=10, seed=5), str(d / "corpus"), junk=1)
    sc = spark.sparkContext
    before = _cache_entries(spark)
    sc.setJobGroup("test_pipeline_budget", "run_pipeline job budget")
    try:
        res = run_pipeline(
            spark,
            str(d / "corpus"),
            out_dir=str(d / "out"),
            n_clusters=3,
            collect_metrics=True,
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup("test_pipeline_budget")
    return {
        "res": res,
        "dir": d,
        "cache_before": before,
        "cache_after": _cache_entries(spark),
        "jobs": len(jobs),
    }


@pytest.fixture(scope="module")
def result(pipeline_run):
    return pipeline_run["res"], pipeline_run["dir"]


def test_gates_and_data_tests(result):
    res, _ = result
    assert res.gates["valid_documents"] == 10
    assert res.gates["utterances"] > 0
    assert res.gates["chunks"] > 0
    assert res.gates["embeddings"] == res.gates["chunks"]
    assert all(v == 0 for v in res.data_test_violations.values())


def test_case_vectors_and_report(result):
    res, _ = result
    cv = res.case_vectors.collect()
    assert len(cv) == 10  # one vector per case
    assert all(len(r["case_vec"]) == 8 for r in cv)
    reports = res.report.collect()
    assert 0 < len(reports) <= 3
    for r in reports:
        doc = json.loads(r["report_json"])
        assert doc["n_members"] >= 1


def test_outputs_written(result, spark):
    _, d = result
    utt = spark.read.parquet(str(d / "out" / "utterances"))
    assert "term" in utt.columns  # partition column survives
    assert utt.count() > 0
    xml = spark.read.parquet(str(d / "out" / "xml"))
    assert xml.filter(~F.col("xml").startswith("<transcript")).count() == 0
    junk = spark.read.json(str(d / "out" / "junk"))
    assert junk.count() == 1
    summary = spark.read.json(str(d / "out" / "run_summary"))
    assert summary.filter(F.col("term") == "__total__").count() == 1
    results = spark.read.option("header", True).csv(str(d / "out" / "cluster_results"))
    assert set(results.columns) == {"case_id", "cluster"}
    assert results.count() == 10
    report = spark.read.json(str(d / "out" / "cluster_report"))
    assert report.count() > 0


def test_stage_metrics_relation(result, spark):
    """The cost-tracking analog (metrics.py, reference
    cost_tracking.py:9-124): one metrics row per named pipeline stage
    with executed-plan resource rollups — wall time, output rows, and
    real scan bytes on the stages that touch the corpus."""
    res, d = result
    m = res.stage_metrics
    assert m is not None
    rows = {r["stage"]: r for r in m.collect()}
    for stage in ("ingest", "flatten", "chunk", "embed", "sink_utterances"):
        assert stage in rows, f"missing metrics row for {stage}"
        assert rows[stage]["wall_ms"] > 0
    # gate counts ran over real data: the count actions report rows
    assert rows["ingest"]["rows_out"] is not None
    # the ingest stage scanned the corpus files for real
    assert rows["ingest"]["files_read_bytes"] > 0
    # persisted alongside the other run artifacts
    persisted = spark.read.parquet(str(d / "out" / "stage_metrics"))
    assert persisted.count() == m.count()


def test_run_releases_its_caches(pipeline_run):
    """Every cache the run creates is unpersisted before it returns."""
    assert pipeline_run["cache_after"] <= pipeline_run["cache_before"]


def test_job_budget(pipeline_run):
    """Each intermediate with several consumers is computed once; a
    reintroduced recompute shows up as extra jobs."""
    assert 0 < pipeline_run["jobs"] <= JOB_BUDGET, pipeline_run["jobs"]


def test_all_junk_corpus_fails_at_ingest_gate(spark, tmp_path):
    """A corpus with no valid document stops at the first gate, before
    any sink writes, and leaves no cache behind."""
    write_corpus_json([], str(tmp_path / "corpus"), junk=2)
    out = tmp_path / "out"
    before = _cache_entries(spark)
    with pytest.raises(RuntimeError, match="ingested documents has 0 rows"):
        run_pipeline(spark, str(tmp_path / "corpus"), out_dir=str(out))
    assert not out.exists() or not any(out.iterdir())
    assert _cache_entries(spark) <= before
