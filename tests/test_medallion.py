"""Medallion-layer differential tests: the IDENTICAL model SQL runs on
Spark (temp views) and DuckDB (over the same parquet inputs) — the
strongest form of the dbt-test analog."""

from __future__ import annotations

import duckdb
import pytest

from scotustician_spark.documents import (
    assemble_section_chunks,
    classify_speaker_role,
    flatten_utterances,
    read_oa_json,
    split_quarantine,
)
from scotustician_spark.documents.medallion import (
    DATA_TESTS,
    MODELS,
    register_models,
    run_data_tests,
)
from scotustician_spark.testing import compare_spark_duckdb
from tests.fixtures_oa import make_corpus, write_corpus_json


@pytest.fixture(scope="module")
def model_env(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("medallion")
    write_corpus_json(make_corpus(n_docs=8, seed=11), str(d / "corpus"))
    valid, _ = split_quarantine(read_oa_json(spark, str(d / "corpus")))
    utt = classify_speaker_role(flatten_utterances(valid))
    chunks = assemble_section_chunks(utt)
    upath, cpath = str(d / "utterances.parquet"), str(d / "chunks.parquet")
    utt.write.mode("overwrite").parquet(upath)
    chunks.write.mode("overwrite").parquet(cpath)
    # both engines read the SAME parquet
    u = spark.read.parquet(upath)
    c = spark.read.parquet(cpath)
    models = register_models(spark, u, c)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW utterances AS SELECT * FROM read_parquet('{upath}/*.parquet')")
    con.execute(f"CREATE VIEW chunks AS SELECT * FROM read_parquet('{cpath}/*.parquet')")
    for name, sql in MODELS.items():
        con.execute(f"CREATE VIEW {name} AS {sql}")
    return models, con


@pytest.mark.parametrize("model", list(MODELS))
def test_model_matches_duckdb(model, model_env):
    models, con = model_env
    problems = compare_spark_duckdb(models[model], con, f"SELECT * FROM {model}")
    assert not problems, f"{model}: {problems}"


def test_data_tests_pass(spark, model_env):
    assert all(v == 0 for v in run_data_tests(spark).values())


def test_data_tests_count_violations_in_one_action(spark):
    """The single UNION ALL action reports, per test, exactly what that
    test's own SQL counts. A fresh session keeps these temp views away
    from the models the other tests registered."""
    s = spark.newSession()
    s.createDataFrame(
        [("c1", 0, 1.0), ("c1", 0, -2.0), (None, 1, 3.0), ("c2", None, None)],
        "case_id string, utterance_index int, duration_seconds double",
    ).createOrReplaceTempView("bronze_oa_text")
    s.createDataFrame(
        [("c1", "o", 0), ("c1", "o", 0), ("c1", "o", 1)],
        "case_id string, oa_id string, section_id int",
    ).createOrReplaceTempView("bronze_document_chunks")
    want = {name: s.sql(sql).count() for name, sql in DATA_TESTS.items()}
    assert want == {
        "not_null_keys": 2,
        "unique_utterance_key": 1,
        "unique_chunk_key": 1,
        "positive_durations": 1,
    }
    store = s._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def last_execution_id() -> int:
        bus.waitUntilEmpty()
        return store.executionsList().last().executionId()

    first = last_execution_id()
    assert run_data_tests(s) == want
    assert last_execution_id() - first == 1


def test_gold_rows_nonempty(model_env):
    models, _ = model_env
    assert models["gold_speaker_analytics"].count() > 0
    assert models["gold_oral_arguments_analytics"].count() > 0


def test_get_term_year_macro(spark):
    from scotustician_spark.documents.medallion import register_sql_macros

    register_sql_macros(spark)
    row = spark.sql(
        "SELECT get_term_year('2023-fall') a, get_term_year('OT2019') b, "
        "get_term_year('junk') c"
    ).collect()[0]
    assert (row["a"], row["b"], row["c"]) == (2023, 2019, None)
