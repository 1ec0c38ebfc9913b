"""End-to-end patient summary: the reference's richest pipeline
(extract_patient_summary.py) over the fixture lake, checked value-by-value
against hand-computed expectations (population std, exact median,
zero-count defaults, monthly/weekly keys)."""

from __future__ import annotations

import json
import statistics

import pytest
from pyspark.sql import functions as F

from mhm_data_pipelines_spark.operators.summary import (
    patient_summary,
    summary_documents,
)
from mhm_data_pipelines_spark.plans.specs import (
    FeatureSpec,
    HistogramSpec,
    QuestionnaireSpec,
    SliderSpec,
)
from mhm_data_pipelines_spark.sources.lake import read_lake_unified

STEPS = "steps:android_health_connect_typed_data:value.time:value.key:Steps:value.intVal"
SCREEN = "screen_usage:device_app_log:timestamp:usage_duration:hours"
SLIDER = "emotions:questionnaire_response:value.answers:negative_emotions_:.value:.startTime"
HIST = "sleep:questionnaire_response:value.answers:sleep_5:.value:.startTime"


@pytest.fixture(scope="module")
def summary(spark, lake_root):
    lake = read_lake_unified(spark, lake_root, layout="raw")
    return patient_summary(
        lake,
        features=[FeatureSpec.parse(STEPS), FeatureSpec.parse(SCREEN)],
        questionnaires=[QuestionnaireSpec.parse("questionnaire_response:value.timeCompleted")],
        sliders=[SliderSpec.parse(SLIDER)],
        histograms=[HistogramSpec.parse(HIST)],
        resolution="monthly",
    ).cache()


def test_summary_keys_and_data_summary(summary):
    rows = {(r.participant_id, r.time_key): r for r in summary.collect()}
    assert ("ABC-123-XYZ", "2024-12") in rows
    assert ("ABC-123-XYZ", "2025-01") in rows
    dec = rows[("ABC-123-XYZ", "2024-12")]
    assert dec.site == "LON"
    assert str(dec.start_date) == "2024-12-28" and str(dec.end_date) == "2024-12-30"
    assert dec.total_days_with_data == 3
    assert dec.features_available == ["screen_usage", "steps"]


def test_feature_stats_block(summary):
    dec = summary.filter(
        (F.col("participant_id") == "ABC-123-XYZ") & (F.col("time_key") == "2024-12")
    ).first()
    steps = dec.feature_statistics["steps"]
    vals = [1000, 2000, 1001, 2001, 1002, 2002]
    assert steps.total_entries == 6
    assert steps.days_with_data == 3
    assert steps.mean == pytest.approx(statistics.mean(vals))
    assert steps.median == pytest.approx(statistics.median(vals))
    assert steps.std_dev == pytest.approx(statistics.pstdev(vals))  # ddof=0
    assert steps.min == 1000.0 and steps.max == 2002.0
    screen = dec.feature_statistics["screen_usage"]
    assert screen.unit == "hours"
    # Dec rows: 2.5, 3.5 (+9.9 from notadate.csv.gz — valid content even
    # though the filename timestamp is unparseable); "oops" coerced away.
    assert screen.total_entries == 3
    assert screen.mean == pytest.approx(statistics.mean([2.5, 3.5, 9.9]))
    assert screen.days_with_data == 2


def test_questionnaire_slider_histogram(summary):
    dec = summary.filter(
        (F.col("participant_id") == "ABC-123-XYZ") & (F.col("time_key") == "2024-12")
    ).first()
    assert dec.total_responses == 2 and dec.days_with_responses == 2
    em = dec.slider_statistics["emotions"]
    assert em.total_entries == 3  # N/A skipped
    assert em.mean == pytest.approx(4.0)
    hist = dec.histograms["sleep"]["sleep_5"]
    assert hist == {"poor": 1, "good": 1}


def test_zero_count_defaults_for_absent_families(summary):
    """Participant with no questionnaires must carry total_responses=0,
    not a missing row (watch-list #8)."""
    man = summary.filter(
        (F.col("participant_id") == "DEF-456-UVW") & (F.col("time_key") == "2025-01")
    ).first()
    assert man is not None
    assert man.total_responses == 0 and man.days_with_responses == 0
    assert man.slider_statistics is None and man.histograms is None


def test_summary_documents_json(summary):
    docs = summary_documents(summary).collect()
    parsed = [json.loads(r.document) for r in docs]
    by_key = {(p["patient_id"], p["time_key"]): p for p in parsed}
    doc = by_key[("ABC-123-XYZ", "2024-12")]
    assert doc["feature_statistics"]["steps"]["total_entries"] == 6
    assert doc["histograms"]["sleep"]["sleep_5"]["good"] == 1


def test_weekly_resolution(spark, lake_root):
    lake = read_lake_unified(spark, lake_root, layout="raw")
    weekly = patient_summary(
        lake, features=[FeatureSpec.parse(STEPS)], resolution="weekly"
    )
    keys = {r.time_key for r in weekly.select("time_key").distinct().collect()}
    # Dec 28 2024 is ISO 2024-W52; Dec 30 is 2025-W01 (year boundary).
    assert "2024-W52" in keys and "2025-W01" in keys


def test_feature_rows_scanned_once_without_join(spark, tmp_path):
    """Features only: one scan per FeatureSpec and no join, and the
    overall summary still spans every feature's days."""
    rows = [
        ("LON", "P1", "hr", f"{1735689600 + d * 86400 + h * 3600}", "60")
        for d in range(3) for h in range(2)
    ] + [("LON", "P1", "steps", f"{1735689600 + 5 * 86400}", "100")]
    path = str(tmp_path / "compacted")
    spark.createDataFrame(
        rows, "site string, participant_id string, metric string, timestamp string, value string"
    ).write.partitionBy("site", "participant_id", "metric").parquet(path)
    specs = [FeatureSpec.parse(f"{m}:{m}:timestamp:value:u") for m in ("hr", "steps")]
    out = patient_summary(spark.read.parquet(path), features=specs, resolution="monthly")

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") == len(specs)
    assert "Join" not in plan
    (row,) = out.collect()
    assert row.time_key == "2025-01" and row.site == "LON"
    assert (str(row.start_date), str(row.end_date)) == ("2025-01-01", "2025-01-06")
    assert row.total_days_with_data == 4
    assert row.features_available == ["hr", "steps"]
    assert row.feature_statistics["hr"].days_with_data == 3
    assert row.feature_statistics["hr"].total_entries == 6
