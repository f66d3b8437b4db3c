"""End-to-end replay of the reference dataflow (SURVEY §0 stages 2–5)
on synthetic fixtures: deals⟕master linkage → 365-day labeling →
TF-IDF features → weighted LR → acquirer×target pair ranking.
Golden assertions computed independently in plain Python.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mergers_acquisitions_predictions_spark.ml.classify import (
    confusion,
    evaluate_auc,
    train_weighted_lr,
    with_class_weights,
)
from mergers_acquisitions_predictions_spark.ml.tfidf import build_tfidf_pipeline
from mergers_acquisitions_predictions_spark.pipeline import (
    label_filings,
    link_deals_to_companies,
    predict_pairs,
)

from .fixtures import make_fixtures


@pytest.fixture(scope="module")
def fixture_dfs(spark):
    companies, filings, deals = make_fixtures()
    companies_df = spark.createDataFrame(companies)
    filings_df = spark.createDataFrame(
        filings,
        schema=T.StructType(
            [
                T.StructField("cik", T.StringType()),
                T.StructField("report_date", T.DateType()),
                T.StructField("text", T.StringType()),
            ]
        ),
    )
    deals_df = spark.createDataFrame(deals)
    return companies_df, filings_df, deals_df


def test_stage1_linkage(fixture_dfs):
    companies_df, _, deals_df = fixture_dfs
    linked = link_deals_to_companies(deals_df, companies_df, "acquirer_name").collect()
    # exact-name linkage: 'No Such Company LLC' and the lowercase
    # master variant must not link
    names = {r.company_name for r in linked}
    assert "No Such Company LLC" not in names
    assert all(n.startswith("Company ") for n in names)
    # 2-digit-year pivot: every announce date lands in 2015-2019, not 1915-
    years = {r.announce_date.year for r in linked}
    assert years <= set(range(2015, 2020)), years


def test_stage2_labeling_matches_python_golden(fixture_dfs):
    companies_df, filings_df, deals_df = fixture_dfs
    linked = link_deals_to_companies(deals_df, companies_df, "acquirer_name")
    labeled = label_filings(filings_df, linked)

    # independent golden computation in plain Python
    deal_dates = {}
    for r in linked.collect():
        deal_dates.setdefault(r.cik, []).append(r.announce_date)
    expected = {}
    for r in filings_df.collect():
        pos = any(
            0 <= (a - r.report_date).days < 365 for a in deal_dates.get(r.cik, [])
        )
        expected[(r.cik, r.report_date)] = int(pos)

    got = {
        (r.cik, r.report_date): r.acquired
        for r in labeled.select("cik", "report_date", "acquired").collect()
    }
    assert got == expected
    assert labeled.count() == filings_df.count()  # left join: no row loss/fan-out
    assert 0 < sum(expected.values()) < len(expected)  # both classes present


def test_stage3_training(spark, fixture_dfs):
    companies_df, filings_df, deals_df = fixture_dfs
    linked = link_deals_to_companies(deals_df, companies_df, "acquirer_name")
    labeled = label_filings(
        filings_df.filter(F.length(F.trim("text")) > 0), linked
    ).withColumnRenamed("acquired", "label")
    model_input = (
        build_tfidf_pipeline(min_df=2.0).fit(labeled).transform(labeled)
    )
    model, train, test = train_weighted_lr(model_input, features_col="tfidf")
    auc = evaluate_auc(model, test)
    assert 0.0 <= auc <= 1.0
    cm = {(r.label, r.prediction): r.n for r in confusion(model, test).collect()}
    assert sum(cm.values()) == test.count()


def test_stage3_split_is_exact_complement(spark, fixture_dfs):
    """The rows the fit reads and the test rows partition the input.
    The labeled TF-IDF frame's lineage has shuffles, so a split that
    re-evaluates it can see another partition layout per consumer (a
    persisted plan keeps its shuffle partitions, AQE coalesces an
    uncached one), and `randomSplit` samples each partition by its
    index: the two halves would then overlap and drop rows."""
    companies_df, filings_df, deals_df = fixture_dfs
    linked = link_deals_to_companies(deals_df, companies_df, "acquirer_name")
    # (cik, report_date) is the row key below: keep one filing per key
    filings = filings_df.dropDuplicates(["cik", "report_date"])
    labeled = label_filings(filings, linked).withColumnRenamed("acquired", "label")
    feats = build_tfidf_pipeline(min_df=2.0).fit(labeled).transform(labeled)
    model, train, test = train_weighted_lr(feats, features_col="tfidf", seed=3)

    def keys(df):
        return [(r.cik, r.report_date) for r in df.select("cik", "report_date").collect()]

    fitted = train.persist()  # what the fit read
    try:
        fit_keys = keys(fitted)
    finally:
        fitted.unpersist()
    test_keys = keys(test)
    assert not set(fit_keys) & set(test_keys)
    assert sorted(fit_keys + test_keys) == sorted(keys(labeled))


def test_class_weights_expression(spark):
    df = spark.createDataFrame([(1,)] * 3 + [(0,)] * 7, ["y"])
    w = with_class_weights(df, "y").collect()
    for r in w:
        assert r.class_weight == pytest.approx(0.3 if r.y == 0 else 0.7)


def test_stage4_pair_ranking(spark, fixture_dfs):
    from pyspark.ml.functions import array_to_vector

    companies_df, _, _ = fixture_dfs
    # deterministic stand-in scores: probability vector [1-p, p]
    scored = companies_df.select(
        "cik",
        F.lit(1).alias("prediction"),
        array_to_vector(
            F.array(
                1 - F.col("cik").cast("double") / 1e6,
                F.col("cik").cast("double") / 1e6,
            )
        ).alias("probability"),
    )
    pairs = predict_pairs(scored, scored, companies_df, top_k=15)
    rows = pairs.collect()
    assert 0 < len(rows) <= 15
    scores = [r.pair_score for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert all(r.acq_cik != r.tgt_cik for r in rows)
    # same industry bucket by construction of the theta join
    sic = {r.cik: int(r.sic) // 10 for r in companies_df.collect()}
    assert all(sic[r.acq_cik] == sic[r.tgt_cik] == r.industry for r in rows)
