"""Medallion analytics layer (reference database/dbt/models/**).

The reference's declarative analytics are dbt-templated Postgres SQL:
bronze views rename/derive (bronze_oa_text.sql, bronze_document_chunks
.sql, bronze_transcript_embeddings.sql), silver pre-aggregates then
joins (silver_case_summaries.sql:7-69), gold adds engagement ratios
(gold_speaker_analytics.sql, gold_oral_arguments_analytics.sql).

Here each model is ANSI SQL registered as a Spark temp view — lazy
like dbt's view materialization; ``materialize_gold`` persists gold as
parquet tables (the reference materializes gold as indexed tables,
dbt_project.yml:23-31). The SQL is deliberately engine-neutral so the
test suite executes the IDENTICAL text on DuckDB over the same inputs
— the dbt-test analog, as differential checks.

Catalyst plans these views exactly like DataFrame code: the
pre-aggregate-then-join shape of silver (grouped CTEs joined on case
keys) avoids fan-out joins, and at scale the three aggregations
shuffle on (case_id, oa_id) once each with map-side partials.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

BRONZE_OA_TEXT = """
SELECT
    case_id,
    oa_id,
    term,
    utterance_index,
    section_id,
    speaker_id,
    speaker_name,
    speaker_role,
    text,
    word_count,
    char_start,
    char_end,
    start_time_ms,
    end_time_ms,
    CAST(end_time_ms - start_time_ms AS DOUBLE) / 1000 AS duration_seconds
FROM utterances
"""

BRONZE_DOCUMENT_CHUNKS = """
SELECT
    case_id,
    oa_id,
    section_id,
    chunk_text,
    length(chunk_text) AS text_length,
    word_count,
    token_count,
    utterance_count,
    speaker_count,
    first_utterance_index,
    last_utterance_index
FROM chunks
"""

SILVER_CASE_SUMMARIES = """
WITH utterance_stats AS (
    SELECT case_id, oa_id,
           count(DISTINCT utterance_index)        AS total_utterances,
           count(DISTINCT speaker_name)           AS unique_speakers,
           sum(word_count)                        AS total_words,
           avg(duration_seconds)                  AS avg_utterance_duration,
           CAST(max(end_time_ms) AS DOUBLE) / 1000       AS argument_duration_seconds
    FROM bronze_oa_text
    GROUP BY case_id, oa_id
),
speaker_breakdown AS (
    SELECT case_id, oa_id,
           count(CASE WHEN speaker_role = 'Justice'  THEN 1 END) AS justice_utterances,
           count(CASE WHEN speaker_role = 'Attorney' THEN 1 END) AS attorney_utterances,
           count(CASE WHEN speaker_role = 'Advocate' THEN 1 END) AS advocate_utterances,
           count(CASE WHEN speaker_role = 'Unknown'  THEN 1 END) AS unknown_utterances
    FROM bronze_oa_text
    GROUP BY case_id, oa_id
),
chunk_stats AS (
    SELECT case_id, oa_id,
           count(*)          AS total_chunks,
           avg(text_length)  AS avg_chunk_length,
           max(speaker_count) AS max_chunk_speakers
    FROM bronze_document_chunks
    GROUP BY case_id, oa_id
)
SELECT u.case_id, u.oa_id,
       u.total_utterances, u.unique_speakers, u.total_words,
       u.avg_utterance_duration, u.argument_duration_seconds,
       s.justice_utterances, s.attorney_utterances,
       s.advocate_utterances, s.unknown_utterances,
       c.total_chunks, c.avg_chunk_length, c.max_chunk_speakers
FROM utterance_stats u
LEFT JOIN speaker_breakdown s ON u.case_id = s.case_id AND u.oa_id = s.oa_id
LEFT JOIN chunk_stats c       ON u.case_id = c.case_id AND u.oa_id = c.oa_id
"""

GOLD_SPEAKER_ANALYTICS = """
WITH speaker_stats AS (
    SELECT speaker_name, speaker_role, case_id, oa_id,
           count(*)                 AS utterance_count,
           sum(word_count)          AS total_words,
           avg(word_count)          AS avg_words_per_utterance,
           sum(duration_seconds)    AS total_speaking_seconds,
           avg(duration_seconds)    AS avg_utterance_seconds,
           min(utterance_index)     AS first_utterance_index,
           max(utterance_index)     AS last_utterance_index
    FROM bronze_oa_text
    GROUP BY speaker_name, speaker_role, case_id, oa_id
),
case_context AS (
    SELECT DISTINCT case_id, term FROM bronze_oa_text
)
SELECT ss.speaker_name, ss.speaker_role, ss.case_id, ss.oa_id, cc.term,
       ss.utterance_count, ss.total_words,
       round(ss.avg_words_per_utterance, 2)  AS avg_words_per_utterance,
       round(ss.total_speaking_seconds, 2)   AS total_speaking_seconds,
       ss.last_utterance_index - ss.first_utterance_index AS utterance_span,
       round(ss.total_words / nullif(ss.total_speaking_seconds / CAST(60 AS DOUBLE), 0), 2)
           AS words_per_minute
FROM speaker_stats ss
LEFT JOIN case_context cc ON ss.case_id = cc.case_id
"""

GOLD_ORAL_ARGUMENTS_ANALYTICS = """
WITH case_info AS (
    SELECT DISTINCT case_id, oa_id, term FROM bronze_oa_text
),
case_metrics AS (
    SELECT case_id, oa_id,
           total_utterances, unique_speakers, total_words,
           argument_duration_seconds,
           justice_utterances, attorney_utterances
    FROM silver_case_summaries
)
SELECT ci.case_id, ci.oa_id, ci.term,
       cm.total_utterances, cm.unique_speakers, cm.total_words,
       round(cm.argument_duration_seconds / CAST(60 AS DOUBLE), 2) AS duration_minutes,
       round(cm.total_words / nullif(cm.argument_duration_seconds / CAST(60 AS DOUBLE), 0), 2)
           AS words_per_minute,
       round(CAST(cm.justice_utterances AS DOUBLE) / nullif(cm.total_utterances, 0), 4)
           AS justice_utterance_ratio,
       round(CAST(cm.attorney_utterances AS DOUBLE) / nullif(cm.total_utterances, 0), 4)
           AS attorney_utterance_ratio
FROM case_info ci
INNER JOIN case_metrics cm ON ci.case_id = cm.case_id AND ci.oa_id = cm.oa_id
"""

MODELS: dict[str, str] = {
    "bronze_oa_text": BRONZE_OA_TEXT,
    "bronze_document_chunks": BRONZE_DOCUMENT_CHUNKS,
    "silver_case_summaries": SILVER_CASE_SUMMARIES,
    "gold_speaker_analytics": GOLD_SPEAKER_ANALYTICS,
    "gold_oral_arguments_analytics": GOLD_ORAL_ARGUMENTS_ANALYTICS,
}

# dbt-style declarative data tests (schema.yml not_null/unique +
# tests/assert_positive_durations.sql): each query must return 0 rows.
DATA_TESTS: dict[str, str] = {
    "not_null_keys": """
        SELECT * FROM bronze_oa_text
        WHERE case_id IS NULL OR utterance_index IS NULL
    """,
    "unique_utterance_key": """
        SELECT case_id, utterance_index, count(*) AS n
        FROM bronze_oa_text GROUP BY case_id, utterance_index HAVING count(*) > 1
    """,
    "unique_chunk_key": """
        SELECT case_id, oa_id, section_id, count(*) AS n
        FROM bronze_document_chunks
        GROUP BY case_id, oa_id, section_id HAVING count(*) > 1
    """,
    "positive_durations": """
        SELECT * FROM bronze_oa_text
        WHERE duration_seconds IS NOT NULL AND duration_seconds < 0
    """,
}


# dbt macro analog (macros/get_term_year.sql:1-10): a reusable named
# SQL scalar function, registered once per session via Spark 4 SQL
# UDFs — usable from any model/view/ad-hoc SQL, planned by Catalyst
# like any inline expression (no Python boundary).
SQL_MACROS = {
    "get_term_year": """
        CREATE OR REPLACE TEMPORARY FUNCTION get_term_year(term STRING)
        RETURNS INT
        RETURN CASE
          WHEN term RLIKE '^[0-9]{4}'
            THEN CAST(regexp_extract(term, '^([0-9]{4})', 1) AS INT)
          WHEN term RLIKE 'OT[0-9]{4}'
            THEN CAST(regexp_extract(term, 'OT([0-9]{4})', 1) AS INT)
        END
    """,
}


def register_sql_macros(spark: SparkSession) -> None:
    """Register the reusable SQL scalar functions (dbt macros)."""
    for sql in SQL_MACROS.values():
        spark.sql(sql)


def register_models(
    spark: SparkSession, utterances: DataFrame, chunks: DataFrame
) -> dict[str, DataFrame]:
    """Register source + model views in dependency order (the dbt DAG:
    sources → bronze → silver → gold) and return the model DataFrames.
    """
    register_sql_macros(spark)
    utterances.createOrReplaceTempView("utterances")
    chunks.createOrReplaceTempView("chunks")
    out = {}
    for name, sql in MODELS.items():
        df = spark.sql(sql)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def run_data_tests(spark: SparkSession) -> dict[str, int]:
    """dbt-test analog: violation counts per declared test (all must
    be 0). Requires register_models to have run.

    All tests run as ONE action: each test's SQL becomes a
    ``(name, count)`` branch of a ``UNION ALL``, so a run launches one
    collect instead of one count per test."""
    union = "\nUNION ALL\n".join(
        f"SELECT '{name}' AS test, count(*) AS n FROM ({sql}) AS t"
        for name, sql in DATA_TESTS.items()
    )
    counts = {r["test"]: r["n"] for r in spark.sql(union).collect()}
    return {name: counts[name] for name in DATA_TESTS}


def materialize_gold(spark: SparkSession, out_dir: str) -> None:
    """Gold models persist as parquet (the reference's table+index
    materialization; sorted-write replaces b-trees)."""
    for name in ("gold_speaker_analytics", "gold_oral_arguments_analytics"):
        spark.table(name).sortWithinPartitions("case_id").write.mode(
            "overwrite"
        ).parquet(f"{out_dir}/{name}")
