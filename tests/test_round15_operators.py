"""Round-15 optimization-round tests: the fused batch-incident pair
join must equal the two legs it replaced, pair for pair."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from finance_reporting_etl_spark.functions.scalars import det_round


def jaccard_cross_pairs_prepped(
    delta_toks: DataFrame,
    base_toks: DataFrame,
    block_cols: tuple[str, ...] = (),
    threshold: float = 0.5,
    scale: int = 4,
) -> DataFrame:
    """Reference for the fused join: exact Jaccard of every delta x base
    pair of two ``jaccard_prep`` frames, blocked and size-prefiltered
    like ``jaccard_pairs_prepped``."""

    def _tag(df: DataFrame, tag: str):
        return df.select(
            F.col("id").alias(f"id_{tag}"),
            *[F.col(c).alias(f"{c}_{tag}") for c in block_cols],
            F.col("toks").alias(f"toks_{tag}"),
            F.col("n_toks").alias(f"n_toks_{tag}"),
        )

    a, b = _tag(delta_toks, "a"), _tag(base_toks, "b")
    cond = F.lit(True)
    for c in block_cols:
        cond = cond & (F.col(f"{c}_a") == F.col(f"{c}_b"))
    cond = (
        cond
        & (F.col("n_toks_b") >= F.ceil(F.col("n_toks_a") * F.lit(threshold)))
        & (F.col("n_toks_a") >= F.ceil(F.col("n_toks_b") * F.lit(threshold)))
    )
    inter = F.size(F.array_intersect(F.col("toks_a"), F.col("toks_b")))
    union = F.col("n_toks_a") + F.col("n_toks_b") - inter
    jac = inter / F.nullif(union.cast("double"), F.lit(0.0))
    return (
        a.join(b, cond)
        .select(
            F.col("id_a"),
            F.col("id_b"),
            det_round(jac, scale).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def test_jaccard_incident_pairs_equals_cross_union_self(spark):
    """jaccard_incident_pairs_prepped == jaccard_cross_pairs_prepped
    (batch x existing) ∪ jaccard_pairs_prepped (batch self), on ids,
    pairs and det-rounded values, for a corpus with real blocks,
    size-filter edge cases (empty docs) and near-threshold pairs."""
    from finance_reporting_etl_spark.operators.dedup import (
        jaccard_incident_pairs_prepped,
        jaccard_pairs_prepped,
        jaccard_prep,
    )

    rows = [
        # (id, lang, source, text) — ids 0..5 existing, 10..15 batch
        (0, "en", "a", "alpha beta gamma delta"),
        (1, "en", "a", "alpha beta gamma epsilon"),
        (2, "en", "b", "alpha beta gamma delta"),
        (3, "fr", "a", "un deux trois quatre"),
        (4, "en", "a", ""),
        (5, "en", "a", "zeta eta theta iota kappa lambda"),
        (10, "en", "a", "alpha beta gamma delta"),
        (11, "en", "a", "alpha beta epsilon zeta"),
        (12, "en", "b", "alpha beta gamma"),
        (13, "fr", "a", "un deux trois cinq"),
        (14, "en", "a", ""),
        (15, "en", "a", "alpha beta gamma delta epsilon zeta eta"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, lang string, source string, text string"
    )
    kwb = dict(block_cols=("lang", "source"))
    kw = dict(threshold=0.5, **kwb)
    prepped = jaccard_prep(docs, **kwb).localCheckpoint()
    batch_p = prepped.filter(F.col("id") >= 10)
    base_p = prepped.filter(F.col("id") < 10)

    old = (
        jaccard_cross_pairs_prepped(batch_p, base_p, **kw)
        .unionByName(jaccard_pairs_prepped(batch_p, **kw))
        .collect()
    )
    seen_p = prepped.withColumn(
        "__isb", (F.col("id") >= 10).cast("int")
    )
    fused = jaccard_incident_pairs_prepped(batch_p, seen_p, "__isb", **kw).collect()

    assert sorted(map(tuple, old)) == sorted(map(tuple, fused))
    # sanity: the fixture exercises both legs
    assert any(r.id_a >= 10 and r.id_b < 10 for r in fused)  # cross
    assert any(r.id_a >= 10 and r.id_b >= 10 for r in fused)  # self
