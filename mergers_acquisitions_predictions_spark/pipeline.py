"""End-to-end M&A prediction pipeline — the reference's full dataflow
(SURVEY §0 stages 2–5) re-expressed Spark-first.

Reference stages and their homes here:

1. label-prep joins (`join_acquirers.scala` / `join_targets.scala`)
   → :func:`link_deals_to_companies`
2. NLP ETL + labeling (`acq_etl_code.scala` / `tgt_etl_code.scala`)
   → :func:`label_filings` + `ml.tfidf.build_tfidf_pipeline`
3. weighted LR training (`lr.scala`)
   → `ml.classify.train_weighted_lr` / `evaluate_auc` / `confusion`
4. prediction pairing + ranking (`predictions.scala`)
   → :func:`predict_pairs`

Differences by design (not omissions): no RDD stages, explicit
schemas, one Catalyst plan per stage, dedup-before-join instead of the
reference's triple `.distinct` after joins, a single-shuffle
confusion matrix, and a weighted-LR input materialized once (a local
checkpoint) so the fit, AUC and confusion read the same rows and the
80/20 split is an exact partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .functions.dates import to_date_pivot
from .ml.pairs import industry_prefix, positive_probability, rank_pairs


def link_deals_to_companies(
    deals: DataFrame,
    companies: DataFrame,
    deal_name_col: str,
    announce_col: str = "announce_date",
    date_fmt: str = "MM/dd/yy",
) -> DataFrame:
    """Stage 1 (`join_acquirers.scala:15-37`): link historical deals to
    the company master by exact name equality, parse the 2-digit-year
    announce date, and keep one announce date per (cik, date).

    The reference left-joins master⟕deals then drops columns; we
    project FIRST (column pruning before the shuffle) and inner-join —
    unmatched companies carry no label signal and the downstream
    labeling join is a left join anyway.

    Scale: deals is the small side → broadcast; name equality is the
    reference's linkage semantics (case/whitespace variants do NOT
    match — preserved)."""
    d = deals.select(
        F.col(deal_name_col).alias("company_name"),
        # 2-digit-year pivot matching the reference's Spark 2.4
        # SimpleDateFormat window (functions/dates.py)
        to_date_pivot(F.col(announce_col), date_fmt).alias("announce_date"),
    ).where(F.col("company_name").isNotNull())
    c = companies.select(
        F.col("name").alias("company_name"),
        F.col("cik"),
        F.col("ticker"),
        F.col("sic"),
    )
    return (
        c.join(F.broadcast(d), "company_name", "inner")
        .select("cik", "company_name", "ticker", "sic", "announce_date")
        .dropDuplicates(["cik", "announce_date"])
    )


def label_filings(
    filings: DataFrame,
    deal_dates: DataFrame,
    horizon_days: int = 365,
) -> DataFrame:
    """Stage 2 labeling (`acq_etl_code.scala:86-102`): label a filing 1
    iff SOME deal for the same company is announced within
    [0, horizon) days after the report date.

    The reference computes this as inner-join → IF(diff) → distinct →
    composite-key left join → IF(null→0) → distinct. Here: aggregate
    the positive (cik, report_date) pairs ONCE with max(), then one
    left join — same result, one fewer shuffle, and no join fan-out to
    patch with distinct."""
    diff = F.datediff(F.col("announce_date"), F.col("report_date"))
    positives = (
        filings.select("cik", "report_date")
        .join(deal_dates.select("cik", "announce_date"), "cik", "inner")
        .where((diff >= 0) & (diff < horizon_days))
        .select("cik", "report_date")
        .dropDuplicates()
        .withColumn("acquired", F.lit(1))
    )
    return (
        filings.join(positives, ["cik", "report_date"], "left")
        .withColumn("acquired", F.coalesce(F.col("acquired"), F.lit(0)))
    )


def predict_pairs(
    scored_acquirers: DataFrame,
    scored_targets: DataFrame,
    companies: DataFrame,
    top_k: int | None = None,
) -> DataFrame:
    """Stage 4 (`predictions.scala:12-41`): keep predicted positives,
    broadcast-join tickers/SIC, extract P(positive) from the
    probability vector (`vector_to_array`, not a UDF), bucket industry
    by the truncating SIC/10 prefix, theta-join acquirers × targets in
    the same bucket, rank by joint probability.

    Output: (industry, acq_id→acq_cik, tgt_id→tgt_cik, pair_score)."""
    dim = F.broadcast(companies.select("cik", "ticker", "sic"))

    def prep(scored: DataFrame) -> DataFrame:
        return (
            scored.where(F.col("prediction") == 1)
            .join(dim, "cik")
            .select(
                "cik",
                industry_prefix(F.col("sic")).alias("sic1"),
                positive_probability(F.col("probability")).alias("prob"),
            )
        )

    pairs = rank_pairs(
        prep(scored_acquirers), prep(scored_targets),
        industry_col="sic1", id_col="cik", top_k=top_k,
    )
    return pairs.withColumnRenamed("acq_id", "acq_cik").withColumnRenamed(
        "tgt_id", "tgt_cik"
    )
