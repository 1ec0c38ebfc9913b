"""Patient-summary pipeline: the reference's richest analytical query
(``mhm-data-pipelines/extract_patient_summary.py:179-437``) as one
declarative plan.

Reference shape: per-(file × spec) pandas loops accumulate into a driver
dict keyed ``(participant_id, time_key)`` holding running sets/lists/
counters (``:217-235``), finalized into one nested JSON document per key
(``:379-435``). Memory is O(all extracted values) on one machine.

Spark shape: feature rows take ONE aggregation pass per (participant,
period, feature) that also keeps each feature's set of days and its site;
one ``groupBy(participant_id, time_key)`` over those rows then builds the
nested ``feature_statistics`` map together with the overall date range,
day count and feature list, so each feature's rows are scanned once and
need no join. The other families — questionnaire counts, slider stats,
histogram counts — are one hash-agg shuffle each, assembled with
full-outer joins on ``(participant_id, time_key)`` (J1). Absent families
yield zero-count blocks, not missing keys (``total_entries: 0`` default
at ``:228`` — SURVEY §7 watch-list #8), so counts are null-filled to 0
post-join. The document sink is ``to_json(struct(...))`` partitioned by
participant — fully distributed, no driver accumulation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mhm_data_pipelines_spark.functions.stats import stats_agg_exprs
from mhm_data_pipelines_spark.functions.timeutils import time_key
from mhm_data_pipelines_spark.plans.specs import (
    FeatureSpec,
    HistogramSpec,
    QuestionnaireSpec,
    SliderSpec,
)

_KEYS = ["participant_id", "time_key"]


def _with_time_key(df: DataFrame, resolution: str) -> DataFrame:
    return df.withColumn("time_key", time_key("ts", resolution))


def feature_statistics(
    rows: DataFrame, resolution: str = "monthly"
) -> DataFrame:
    """Per (participant, period, feature): stats block + days_with_data
    (extract_patient_summary.py:396-411), plus the feature's ``site`` and
    its set of ``days``, from which ``patient_summary`` derives the
    overall summary without a second pass. ``rows`` is the union of all
    FeatureSpec.rows outputs (columns participant_id, site, ts, value,
    feature, unit)."""
    return (
        _with_time_key(rows, resolution)
        .groupBy("participant_id", "time_key", "feature")
        .agg(
            F.first("unit", ignorenulls=True).alias("unit"),
            F.first("site", ignorenulls=True).alias("site"),
            F.collect_set(F.to_date("ts")).alias("days"),
            *stats_agg_exprs("value"),
        )
        .withColumn("days_with_data", F.size("days").cast("long"))
    )


def questionnaire_counts(
    rows: DataFrame, resolution: str = "monthly"
) -> DataFrame:
    """total_responses + days_with_responses per (participant, period)
    (extract_patient_summary.py:297-301)."""
    return (
        _with_time_key(rows, resolution)
        .groupBy(*_KEYS)
        .agg(
            F.count("*").alias("total_responses"),
            F.count_distinct(F.to_date("ts")).alias("days_with_responses"),
        )
    )


def slider_statistics(rows: DataFrame, resolution: str = "monthly") -> DataFrame:
    """Stats block per (participant, period, domain)
    (extract_patient_summary.py:329-339,416-428)."""
    return (
        _with_time_key(rows, resolution)
        .groupBy("participant_id", "time_key", "domain")
        .agg(*stats_agg_exprs("value"))
    )


def histogram_counts(rows: DataFrame, resolution: str = "monthly") -> DataFrame:
    """Response-frequency histogram per (participant, period, domain,
    questionId, response) (A8, extract_patient_summary.py:344-377)."""
    return (
        _with_time_key(rows, resolution)
        .groupBy("participant_id", "time_key", "domain", "questionId", "response")
        .agg(F.count("*").alias("n"))
    )


def patient_summary(
    lake: DataFrame,
    features: list[FeatureSpec],
    questionnaires: list[QuestionnaireSpec] | None = None,
    sliders: list[SliderSpec] | None = None,
    histograms: list[HistogramSpec] | None = None,
    resolution: str = "monthly",
) -> DataFrame:
    """Full assembly: one row per (participant_id, time_key) with nested
    ``feature_statistics`` / ``questionnaire_responses`` structures —
    the JSON document shape of FIXTURES.md §7 /
    extract_patient_summary.py:218-235.

    Feature rows are aggregated once and nested without a join; each
    other family is independently aggregated (partial+final, one shuffle
    each) then full-outer joined on the two-column key. The join inputs
    are already aggregates — small relative to the raw lake — so at
    100 TB this is a cheap join between pre-shrunk tables; AQE picks
    broadcast when a family is small.
    """
    feat_rows = None
    for spec in features:
        r = spec.rows(lake)
        feat_rows = r if feat_rows is None else feat_rows.unionByName(r)
    if feat_rows is None:
        raise ValueError("patient_summary requires at least one FeatureSpec")

    # Overall summary (A14, extract_patient_summary.py:380-394) and the
    # nested per-feature blocks in one aggregation over the feature rows.
    days = F.array_distinct(F.flatten(F.collect_list("days")))
    out = feature_statistics(feat_rows, resolution).groupBy(*_KEYS).agg(
        F.first("site", ignorenulls=True).alias("site"),
        F.array_min(days).alias("start_date"),
        F.array_max(days).alias("end_date"),
        F.size(days).cast("long").alias("total_days_with_data"),
        F.sort_array(F.collect_set("feature")).alias("features_available"),
        F.map_from_entries(
            F.collect_list(
                F.struct(
                    F.col("feature"),
                    F.struct(
                        "total_entries",
                        "days_with_data",
                        "mean",
                        "median",
                        "std_dev",
                        "min",
                        "max",
                        "unit",
                    ),
                )
            )
        ).alias("feature_statistics"),
    )

    if questionnaires:
        q_rows = None
        for q in questionnaires:
            r = q.rows(lake)
            q_rows = r if q_rows is None else q_rows.unionByName(r)
        q_agg = questionnaire_counts(q_rows, resolution)
        out = out.join(q_agg, _KEYS, "full_outer")
    else:
        out = out.withColumn("total_responses", F.lit(None).cast("long"))
        out = out.withColumn("days_with_responses", F.lit(None).cast("long"))

    if sliders:
        s_rows = None
        for s in sliders:
            r = s.rows(lake)
            s_rows = r if s_rows is None else s_rows.unionByName(r)
        s_agg = slider_statistics(s_rows, resolution)
        s_nested = s_agg.groupBy(*_KEYS).agg(
            F.map_from_entries(
                F.collect_list(
                    F.struct(
                        F.col("domain"),
                        F.struct(
                            "total_entries", "mean", "median", "std_dev",
                            "min", "max",
                        ),
                    )
                )
            ).alias("slider_statistics")
        )
        out = out.join(s_nested, _KEYS, "full_outer")

    if histograms:
        h_rows = None
        for h in histograms:
            r = h.rows(lake)
            h_rows = r if h_rows is None else h_rows.unionByName(r)
        h_agg = histogram_counts(h_rows, resolution)
        # domain → questionId → response → count, nested maps.
        h_nested = (
            h_agg.groupBy("participant_id", "time_key", "domain", "questionId")
            .agg(
                F.map_from_entries(
                    F.collect_list(F.struct(F.col("response"), F.col("n")))
                ).alias("responses")
            )
            .groupBy("participant_id", "time_key", "domain")
            .agg(
                F.map_from_entries(
                    F.collect_list(F.struct(F.col("questionId"), F.col("responses")))
                ).alias("questions")
            )
            .groupBy(*_KEYS)
            .agg(
                F.map_from_entries(
                    F.collect_list(F.struct(F.col("domain"), F.col("questions")))
                ).alias("histograms")
            )
        )
        out = out.join(h_nested, _KEYS, "full_outer")

    # Zero-count defaults for absent families (watch-list #8).
    fill = {}
    if "total_responses" in out.columns:
        fill["total_responses"] = 0
        fill["days_with_responses"] = 0
    if fill:
        out = out.na.fill(fill)
    return out


def summary_documents(summary: DataFrame) -> DataFrame:
    """Render one nested JSON document per (participant, period) —
    sink parity with ``json.dump`` at extract_patient_summary.py:430-435.
    Write with ``.write.partitionBy("participant_id")`` (S9)."""
    payload_cols = [c for c in summary.columns if c not in ("participant_id", "time_key")]
    return summary.select(
        "participant_id",
        "time_key",
        F.to_json(
            F.struct(
                F.col("participant_id").alias("patient_id"),
                F.col("time_key"),
                *[F.col(c) for c in payload_cols],
            )
        ).alias("document"),
    )
