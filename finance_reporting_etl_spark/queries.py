"""Query catalog: every operator from SURVEY.md §2 as a named query.

Each entry pairs a PySpark callable ``(spark, sf_dir) -> DataFrame`` with
an ANSI-SQL oracle string DuckDB runs over the same parquet. Aliases are
kept identical on both sides (the driver's compare sorts columns by name
and hashes values). Computed float aggregates are rounded identically on
both sides to absorb summation-order noise.

Every entry carries a full oracle. Queries whose candidate stage relies
on engine-native hashing (minhash/simhash/LSH buckets/IVF cells) use the
persisted-intermediate pattern (see ``_persist_aux``): both engines read
the same parquet index, so the oracle hard-verifies all downstream
joins/dedup/verify/ranking while pytest covers hash determinism+recall.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from finance_reporting_etl_spark.functions.kpis import ratio
from finance_reporting_etl_spark.oracles import ORACLES as _ORACLES
from finance_reporting_etl_spark.oracles import _AUX_DIR, _TOKS
from finance_reporting_etl_spark.operators.ml import (
    bagging_oracle_sql,
    depth2_tree_oracle_sql,
)
from finance_reporting_etl_spark.functions.scalars import (
    case_map,
    det_micro,
    det_round,
    normalize_string,
)
from finance_reporting_etl_spark.partitioning import spread
from finance_reporting_etl_spark.plans.models import registry
from finance_reporting_etl_spark.tables import _read_parquet, load_tables


@dataclass
class CatalogEntry:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    survey_ref: str  # SURVEY.md §2 operator ids this query covers


CATALOG: dict[str, CatalogEntry] = {}


def query(name: str, oracle: str | None, survey_ref: str):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        CATALOG[name] = CatalogEntry(fn, oracle, survey_ref)
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return _read_parquet(spark, f"{sf_dir}/{name}.parquet")


# Persisted-intermediate oracle pattern: queries whose candidate stage
# depends on engine-native hashing (xxhash64 minhash/simhash, seeded-numpy
# hyperplanes / centroids) persist that intermediate as a parquet table at
# a fixed path; the DuckDB oracle reads the SAME table and independently
# re-derives every downstream decision — banding/bucket joins, pair dedup,
# hamming/Jaccard/cosine verify, top-k ranking. The hash computation
# itself is covered by pytest determinism + recall tests; everything after
# it is hard-verified against an independent engine.
# _AUX_DIR (the shared path root, SPARK_GRAFT_RUN_ID-isolated) lives in
# oracles.py beside the SQL that reads it; imported above.


def _persist_aux(spark: SparkSession, df: DataFrame, name: str) -> DataFrame:
    """Write an oracle-shared intermediate and reread it, so Spark and
    DuckDB derive their answers from bit-identical inputs."""
    path = f"{_AUX_DIR}/{name}"
    df.write.mode("overwrite").parquet(path)
    return _read_parquet(spark, path)


# Bounded-eval guard for the decontamination family (VERDICT r13 task
# 6): those queries broadcast-hint eval-side frames (probes, eval
# vectors, eval ids) on the argument that an eval suite is a small
# constant next to a 100 TB corpus. That argument is about the
# WORKLOAD, not the code — the fixture's eval side is a md5-bucket
# *fraction*, so a copy-pasted variant pointed at a large split would
# force-broadcast past safe size. The guard makes the bound explicit:
# the family's persisted probes table (every other eval-side frame is
# either the same split or semi-joined against these query_ids, so
# bounding it bounds them within a nprobe factor) is counted once —
# a column-pruned count-star over the just-written aux parquet, one
# cheap metadata-sized job — and anything over the cap fails loudly
# with the fix spelled out instead of OOMing an executor.
_EVAL_PROBE_CAP = 1 << 20  # ~1M (query_id, cell) rows ≈ 16 MB broadcast


def _bounded_eval(df: DataFrame, label: str, cap: int = _EVAL_PROBE_CAP) -> DataFrame:
    n = df.count()
    if n > cap:
        raise ValueError(
            f"{label}: eval-side probe table has {n} rows > cap {cap}; "
            f"too large to broadcast-hint — bound the eval suite (e.g. "
            f"the md5-ranked fixed-K sample idiom of "
            f"semantic_decontamination_recall) or drop the hint to "
            f"shuffle-join the same plan"
        )
    return df


# ---------------------------------------------------------------------------
# M0 — the reference's committed model chain (stg -> mart), SURVEY §7.1
# ---------------------------------------------------------------------------


@query("mart_financial_summary",
    _ORACLES["mart_financial_summary"],
    "S10,P1,P2,A1,A2 (stg_financial_data.sql + mart_financial_summary.sql)",
)
def q_mart_financial_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    sources = load_tables(spark, sf_dir, ("events",))
    built = registry.run(spark, sources, select=["mart_financial_summary"])
    return built["mart_financial_summary"]


@query("mart_financial_kpis",
    _ORACLES["mart_financial_kpis"],
    "J1,J2,P3,P5,P6,A1 (README.md:425-495 financial_kpis, full macro set + cash_flow leg)",
)
def q_mart_financial_kpis(spark: SparkSession, sf_dir: str) -> DataFrame:
    sources = load_tables(spark, sf_dir, ("events",))
    built = registry.run(spark, sources, select=["mart_financial_kpis"])
    return built["mart_financial_kpis"]


@query("economic_indicators",
    _ORACLES["economic_indicators"],
    "P7,O3 (readme.md:355-374 economic_indicators mart, built by the registry)",
)
def q_economic_indicators(spark: SparkSession, sf_dir: str) -> DataFrame:
    sources = load_tables(spark, sf_dir, ("events",))
    built = registry.run(spark, sources, select=["economic_indicators"])
    return built["economic_indicators"]


@query("indicator_stats",
    _ORACLES["indicator_stats"],
    "A1,P7,O3 (per-indicator aggregate over the economic_indicators mart)",
)
def q_indicator_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    sources = load_tables(spark, sf_dir, ("events",))
    built = registry.run(spark, sources, select=["mart_indicator_stats"])
    return built["mart_indicator_stats"]


# ---------------------------------------------------------------------------
# M1 — core relational parity (filters, literals, CASE, normalize, pivot)
# ---------------------------------------------------------------------------


@query("filter_eq_projection",
    _ORACLES["filter_eq_projection"],
    "P1,P3 (README.md:435 WHERE report_type = ...)",
)
def q_filter_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return orders.filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"
    )


@query("literal_columns",
    _ORACLES["literal_columns"],
    "P4 (README.md:349-350 df['symbol'] = company)",
)
def q_literal_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_orderkey",
        F.lit("AAPL").alias("symbol"),
        F.lit("income_statement").alias("report_type"),
    )


@query("case_value_mapping",
    _ORACLES["case_value_mapping"],
    "P7 (readme.md:368-372 series_id -> indicator name)",
)
def q_case_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    mapping = {
        "view": "Page View",
        "click": "Click Through",
        "purchase": "Purchase Order",
        "signup": "Account Signup",
        "error": "Error Event",
    }
    return events.select("event_id", case_map("event_type", mapping).alias("event_name"))


@query("string_normalize",
    _ORACLES["string_normalize"],
    "P8 (utils/helpers.py:1-2 normalize_string)",
)
def q_string_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        normalize_string("p_name").alias("p_name_norm"),
        normalize_string("p_brand").alias("p_brand_norm"),
    )


@query("cast_text_to_numeric",
    _ORACLES["cast_text_to_numeric"],
    "P2 (stg_financial_data.sql:7 value::numeric; A3 '.' -> NULL)",
)
def q_cast_text_to_numeric(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    return events.select(
        "event_id",
        # ANSI-safe TEXT -> numeric: malformed input -> NULL (A3: '.' -> NULL)
        F.col("props").try_cast("double").alias("props_num"),
        F.get_json_object("props", "$.k").cast("bigint").alias("k"),
    )


@query("pivot_by_report_type",
    _ORACLES["pivot_by_report_type"],
    "J2,A3 (README.md:425-465 pivot-by-type, idiomatic form)",
)
def q_pivot_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    return (
        events.groupBy(F.col("user_id"), F.col("ts").cast("date").alias("day"))
        .pivot("event_type", ["view", "click", "purchase"])
        .agg(det_round(F.sum("value"), 6))
        .withColumnsRenamed(
            {"view": "view_total", "click": "click_total", "purchase": "purchase_total"}
        )
    )


# ---------------------------------------------------------------------------
# Dimension joins / lookup mapping via broadcast (P7 alternative, J1 family)
# ---------------------------------------------------------------------------


@query("lookup_join_broadcast",
    _ORACLES["lookup_join_broadcast"],
    "P7-as-join,J1 (lookup mapping as broadcast join)",
)
def q_lookup_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("c_custkey", "c_name", F.col("n_name").alias("nation"), F.col("r_name").alias("region"))
    )


# ---------------------------------------------------------------------------
# Aggregates & windows: rollups, sessionization, trend KPIs, TPC-H-ish bench
# ---------------------------------------------------------------------------


@query("hourly_event_rollup",
    _ORACLES["hourly_event_rollup"],
    "S9,A1,streaming-batch (hypertable rollup, README.md:268)",
)
def q_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from finance_reporting_etl_spark.streaming.rollup import time_bucket_rollup

    return time_bucket_rollup(_t(spark, sf_dir, "events"), "1 hour")


@query("sessionize_events",
    _ORACLES["sessionize_events"],
    "streaming session windows (batch session_window)",
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from finance_reporting_etl_spark.streaming.rollup import sessionize

    return sessionize(_t(spark, sf_dir, "events"), "30 minutes")


@query("monthly_trend_mom",
    _ORACLES["monthly_trend_mom"],
    "[X] window trend KPI (SURVEY §2.5: lag over partitioned time order)",
)
def q_monthly_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    events = _t(spark, sf_dir, "events")
    m = events.groupBy(
        F.col("event_type").alias("series_id"),
        F.date_trunc("month", "ts").alias("month"),
    ).agg(det_round(F.avg("value"), 6).alias("avg_value"))
    w = Window.partitionBy("series_id").orderBy("month")
    return m.select(
        "series_id",
        "month",
        "avg_value",
        det_round(F.col("avg_value") - F.lag("avg_value").over(w), 6).alias("mom_change"),
    )


@query("merge_latest_per_key",
    _ORACLES["merge_latest_per_key"],
    "O5 incremental merge: latest row per business key (README.md:558)",
)
def q_merge_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from finance_reporting_etl_spark.operators.incremental import merge_latest

    events = _t(spark, sf_dir, "events").select("event_id", "ts", "user_id", "event_type", "value")
    return merge_latest(events, ["user_id", "event_type"], "ts", "event_id")


@query("q1_pricing_summary",
    _ORACLES["q1_pricing_summary"],
    "A1,P1,P3 bench headliner (TPC-H Q1 shape)",
)
def q1_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            det_round(F.sum("l_quantity"), 4).alias("sum_qty"),
            det_round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            det_round(F.sum(disc_price), 4).alias("sum_disc_price"),
            det_round(F.sum(disc_price * (1 + F.col("l_tax"))), 4).alias("sum_charge"),
            det_round(F.avg("l_quantity"), 6).alias("avg_qty"),
            det_round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            det_round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query("q3_top_orders",
    _ORACLES["q3_top_orders"],
    "J1,A1 bench (TPC-H Q3 shape, deterministic top-k)",
)
def q3_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    agg = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(F.col("l_orderkey").alias("o_orderkey"), "o_orderdate", "o_orderpriority")
        .agg(det_round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"))
    )
    # Distributed top-k: orderBy+limit compiles to TakeOrderedAndProject
    # (per-partition top-20, driver merge) — never a single-partition
    # global window over the full aggregate. The rank window then runs
    # on 20 rows only.
    top = agg.orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc()).limit(20)
    w = Window.orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
    return top.withColumn("rnk", F.row_number().over(w)).select(
        "o_orderkey", "revenue", "o_orderdate", "o_orderpriority", "rnk"
    )


@query("regional_revenue",
    _ORACLES["regional_revenue"],
    "J1,A1 bench (TPC-H Q5 shape, broadcast dims)",
)
def q_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            det_round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


# ---------------------------------------------------------------------------
# [X] extensions: text analysis, dedup, similarity search, multimodal
# ---------------------------------------------------------------------------


@query("text_stats",
    _ORACLES["text_stats"],
    "X4 text analysis: token/char stats",
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from finance_reporting_etl_spark.functions import text as TX

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        TX.token_count("text").cast("long").alias("n_tokens"),
        TX.bpe_ish_token_count("text").cast("long").alias("n_tokens_bpe"),
        TX.char_count("text").cast("long").alias("n_chars_calc"),
        TX.avg_token_length("text").alias("avg_token_len"),
        TX.punct_ratio("text").alias("punct_ratio"),
        TX.digit_ratio("text").alias("digit_ratio"),
    )


def _lang_oracle() -> str:
    from finance_reporting_etl_spark.functions.text import LANG_MARKERS

    hit_exprs = []
    for lang, markers in sorted(LANG_MARKERS.items()):
        lst = ", ".join(f"'{m}'" for m in markers)
        hit_exprs.append(
            f"len(list_filter({_TOKS}, t -> list_contains([{lst}], t))) AS h_{lang}"
        )
    langs = sorted(LANG_MARKERS)
    best = "greatest(" + ", ".join(f"h_{lang}" for lang in langs) + ")"
    case = "CASE WHEN " + best + " = 0 THEN 'und' " + " ".join(
        f"WHEN h_{lang} = {best} THEN '{lang}'" for lang in langs
    ) + " END"
    return f"""
    WITH h AS (SELECT doc_id, lang, {', '.join(hit_exprs)} FROM documents)
    SELECT doc_id, lang, {case} AS lang_guess FROM h
    """


@query("language_id", _lang_oracle(), "X4 text analysis: n-gram/marker language ID")
def q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from finance_reporting_etl_spark.functions.text import language_guess

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", "lang", language_guess("text").alias("lang_guess"))


@query("quality_scores",
    _ORACLES["quality_scores"],
    "X4 text analysis: heuristic quality score",
)
def q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from finance_reporting_etl_spark.functions.text import quality_score

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", quality_score("text").alias("quality"))


@query("doc_fingerprints",
    _ORACLES["doc_fingerprints"],
    "X4 text analysis: content fingerprint (md5 of normalized text)",
)
def q_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from finance_reporting_etl_spark.functions.text import fingerprint

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", fingerprint("text").alias("fp"))


@query("dedup_exact",
    _ORACLES["dedup_exact"],
    "X1 exact dedup (deterministic survivor)",
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from finance_reporting_etl_spark.operators.dedup import exact_dedup

    docs = _t(spark, sf_dir, "documents")
    return exact_dedup(docs).select("doc_id", "lang", "source", "n_chars")


@query("ngram_jaccard_pairs",
    _ORACLES["ngram_jaccard_pairs"],
    "X2 n-gram Jaccard near-dup (blocked exact verify)",
)
def q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from finance_reporting_etl_spark.operators.dedup import (
        jaccard_pairs_prepped,
        jaccard_prep,
    )

    docs = _t(spark, sf_dir, "documents")
    # tokenize once for the verify self-join (see q_dedup_clusters)
    prepped = jaccard_prep(docs, block_cols=("lang", "source")).localCheckpoint(
        eager=True
    )
    return jaccard_pairs_prepped(
        prepped, block_cols=("lang", "source"), threshold=0.5
    )


@query("dedup_clusters",
    _ORACLES["dedup_clusters"],
    "X1/X2 near-dup clustering: connected components (min-label propagation vs recursive closure)",
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup grouping: Jaccard edges -> connected
    components -> cluster_id = min doc_id (the canonical survivor).
    The iterative Spark propagation must agree with DuckDB's recursive
    transitive closure on every node."""
    from finance_reporting_etl_spark.operators.dedup import (
        jaccard_pairs_prepped,
        jaccard_prep,
        near_dup_clusters,
    )

    docs = _t(spark, sf_dir, "documents")
    # tokenize once: the verify self-join evaluates BOTH aliases, so an
    # unmaterialized prep would tokenize every document twice
    prepped = jaccard_prep(docs, block_cols=("lang", "source")).localCheckpoint(
        eager=True
    )
    edges = jaccard_pairs_prepped(
        prepped, block_cols=("lang", "source"), threshold=0.5
    ).select("id_a", "id_b")
    nodes = docs.select(F.col("doc_id").alias("id"))
    return near_dup_clusters(edges, nodes).select(F.col("id").alias("doc_id"), "cluster_id")


@query("minhash_lsh_near_dup",
    _ORACLES["minhash_lsh_near_dup"],
    "X2 MinHash-LSH near-dup (shingle -> minhash -> band -> verify; persisted-index oracle)",
)
def q_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from finance_reporting_etl_spark.operators.dedup import (
        minhash_index,
        minhash_pairs_from_bands,
    )

    docs = _t(spark, sf_dir, "documents")
    idx = _persist_aux(spark, minhash_index(docs), "minhash_index")
    bands = idx.select("id", F.explode("bands").alias("u")).select(
        "id", F.col("u.band_idx").alias("band_idx"), F.col("u.band_hash").alias("band_hash")
    )
    sigs = idx.select("id", "sh")
    return minhash_pairs_from_bands(bands, sigs, threshold=0.5)


@query("simhash_near_dup",
    # brute-force all-pairs hamming over the persisted signatures — equal
    # to the pigeonhole-blocked Spark plan because 4-chunk blocking is
    # EXACT for hamming <= 3
    f"""
    WITH s AS (SELECT * FROM '{_AUX_DIR}/simhash_sigs/*.parquet')
    SELECT a.id AS id_a, b.id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM s a JOIN s b ON a.id < b.id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
    "X2 SimHash near-dup (bit-vote fingerprint, pigeonhole blocking; persisted-sig oracle)",
)
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from finance_reporting_etl_spark.operators.dedup import simhash, simhash_pairs_from_sigs

    docs = _t(spark, sf_dir, "documents")
    sigs = _persist_aux(spark, simhash(docs), "simhash_sigs")
    out = simhash_pairs_from_sigs(sigs, max_hamming=3)
    return out.withColumn("hamming", F.col("hamming").cast("int"))


@query("similarity_topk",
    _ORACLES["similarity_topk"],
    "X3 similarity search: brute-force cosine top-k",
)
def q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from finance_reporting_etl_spark.operators.similarity import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings")
    out = brute_force_topk(emb, [0, 1, 2, 3, 4], k=10)
    return out.withColumn("rank", F.col("rank").cast("long"))


@query("ann_lsh_topk",
    _ORACLES["ann_lsh_topk"],
    "X3 similarity search: hyperplane-LSH ANN (scale path; persisted-index oracle)",
)
def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from finance_reporting_etl_spark.operators.similarity import (
        hyperplane_buckets,
        topk_from_buckets,
    )

    emb = _t(spark, sf_dir, "embeddings")
    buckets = _persist_aux(
        spark, hyperplane_buckets(emb, n_planes=4, n_tables=8), "ann_lsh_buckets"
    )
    out = topk_from_buckets(buckets, emb, [0, 1, 2, 3, 4], k=10)
    return out.withColumn("rank", F.col("rank").cast("long"))


@query("multimodal_bundle",
    _ORACLES["multimodal_bundle"],
    "X5 multimodal: typed struct bundle (flat projection for oracle)",
)
def q_multimodal_bundle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from finance_reporting_etl_spark.operators.multimodal import bundle_document

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    b = bundle_document(docs, emb)
    return b.select(
        "doc_id",
        F.col("document.lang").alias("lang"),
        F.col("document.n_chars").alias("n_chars"),
        F.size("vector.embedding").cast("long").alias("dim"),
        F.col("vector.label").alias("label"),
    )


@query("media_feature_extract",
    # Full oracle: the stub extractor is a byte histogram (utf-8 of the
    # text head) folded to 8 dims, exact in float64 — DuckDB re-derives
    # the bytes via hex() + strpos nibble lookup and reproduces every
    # feature bit-for-bit. Exploded to scalar rows (the driver's
    # canonicalizer can't sort/hash array cells).
    """
    WITH m AS (
        SELECT doc_id,
               ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1] AS media_type,
               hex(encode(substring(coalesce(text, ''), 1, 64))) AS h
        FROM documents
    ), b AS (
        SELECT doc_id, media_type,
               list_transform(range(length(h) // 2), i ->
                 CAST((strpos('0123456789ABCDEF', substring(h, CAST(2*i+1 AS INT), 1)) - 1) * 16
                      + strpos('0123456789ABCDEF', substring(h, CAST(2*i+2 AS INT), 1)) - 1 AS DOUBLE)) AS bs
        FROM m
    ), f AS (
        SELECT doc_id, media_type,
               list_transform(range(8), d ->
                 coalesce(list_sum(list_transform(range(len(bs)), i ->
                   CASE WHEN i % 8 = d THEN bs[CAST(i + 1 AS INT)] ELSE 0.0 END)), 0.0)) AS feats
        FROM b
    )
    SELECT doc_id, media_type, CAST(d AS INT) AS dim_idx,
           feats[CAST(d + 1 AS INT)]
             / (CASE WHEN coalesce(list_sum(feats), 0.0) = 0.0 THEN 1.0
                     ELSE list_sum(feats) END) AS feature
    FROM f CROSS JOIN generate_series(0, 7) AS t(d)
    """,
    "X5 multimodal: binary payload -> feature vector via mapInPandas",
)
def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from finance_reporting_etl_spark.operators.multimodal import (
        attach_fake_media,
        extract_features,
    )

    docs = _t(spark, sf_dir, "documents")
    feats = extract_features(attach_fake_media(docs))
    # scalar rows for the driver's canonicalizer; the array-typed
    # operator output stays the library API
    return feats.select(
        "doc_id", "media_type", F.posexplode("features").alias("dim_idx", "feature")
    )


@query("rolling_hash_fingerprints",
    _ORACLES["rolling_hash_fingerprints"],
    "X4 text analysis: polynomial rolling-hash fingerprint",
)
def q_rolling_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from finance_reporting_etl_spark.functions.text import rolling_hash

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", rolling_hash("text").alias("rhash"))


@query("embedding_cosine_dups",
    _ORACLES["embedding_cosine_dups"],
    "X2 embedding-cosine near-dup (blocked exact)",
)
def q_embedding_cosine_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from finance_reporting_etl_spark.operators.dedup import embedding_cosine_pairs

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_cosine_pairs(emb, threshold=0.4, block_col="label")


@query("lsh_embedding_cosine_dups",
    _ORACLES["lsh_embedding_cosine_dups"],
    "X2 embedding-cosine near-dup at scale (LSH candidates -> exact verify; persisted-index oracle)",
)
def q_lsh_cosine_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from finance_reporting_etl_spark.operators.dedup import lsh_cosine_pairs_from_buckets
    from finance_reporting_etl_spark.operators.similarity import hyperplane_buckets

    emb = _t(spark, sf_dir, "embeddings")
    # 8 planes = 256 buckets/table: measured candidate selectivity ~3% of
    # the pair space at bench scale (4 planes passed ~40% — no pruning);
    # 8 tables keep recall ~0.93 for close (cosine~0.9) duplicates.
    # n_planes is THE scale knob: grow it with log2(n) to hold bucket
    # occupancy constant.
    buckets = _persist_aux(spark, hyperplane_buckets(emb, n_planes=8), "lshdup_buckets")
    return lsh_cosine_pairs_from_buckets(buckets, emb, threshold=0.4)


@query("ann_ivf_topk",
    _ORACLES["ann_ivf_topk"],
    "X3 similarity search at scale: IVF-flat ANN (Arrow-vectorized quantizer; persisted-index oracle)",
)
def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from finance_reporting_etl_spark.operators.similarity import (
        ivf_index,
        ivf_probes,
        ivf_topk_from_index,
    )

    emb = _t(spark, sf_dir, "embeddings")
    index = _persist_aux(spark, ivf_index(emb), "ivf_index")
    probes = _persist_aux(spark, ivf_probes(emb, [0, 1, 2, 3, 4]), "ivf_probes")
    out = ivf_topk_from_index(index, probes, emb, k=10)
    return out.withColumn("rank", F.col("rank").cast("long"))


@query("q5_local_supplier_volume",
    _ORACLES["q5_local_supplier_volume"],
    "J1,A1 multi-join breadth (TPC-H Q5 shape: fact-fact join + dim broadcasts)",
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Six-table join: orders/lineitem shuffle on their join keys;
    supplier/nation/region (and at fixture scale customer) broadcast.
    The c_nationkey = s_nationkey constraint rides the supplier join."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(s),
            (F.col("s_suppkey") == F.col("l_suppkey"))
            & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(r), F.col("r_regionkey") == F.col("n_regionkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            det_round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
                "revenue"
            )
        )
    )


@query("q6_revenue_forecast",
    _ORACLES["q6_revenue_forecast"],
    "P3,A1 pushdown breadth (TPC-H Q6 shape: range predicates to the scan)",
)
def q6_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All four predicates push to the parquet scan (PushedFilters);
    single global aggregate with map-side partial combine."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            det_round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 4).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query("q10_returned_item_revenue",
    _ORACLES["q10_returned_item_revenue"],
    "J1,A1 top-k join-agg (TPC-H Q10 shape: lost-revenue per customer)",
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Returned-line revenue per customer, top 20 — TakeOrderedAndProject
    keeps the top-k distributed (no global sort)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-07-01")
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = _t(spark, sf_dir, "nation")
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", F.col("n_name").alias("nation"))
        .agg(
            det_round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
                "revenue"
            )
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


@query("q14_promo_revenue_share",
    _ORACLES["q14_promo_revenue_share"],
    "J1,A1,P7 conditional-aggregate ratio (TPC-H Q14 shape: promo revenue share)",
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Part dim broadcasts; the CASE folds into the partial aggregate so
    one scan feeds both numerator and denominator."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-02-01")
    )
    p = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            det_round(
                F.lit(100.0) * F.sum(promo) / F.nullif(F.sum(rev), F.lit(0.0)), 6
            ).alias("promo_share_pct"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query("q19_bracketed_discount_revenue",
    _ORACLES["q19_bracketed_discount_revenue"],
    "J1,P3 disjunctive multi-bracket predicate (TPC-H Q19 shape)",
)
def q19_bracketed_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OR-of-conjunctions predicate evaluated after the broadcast join
    (references both sides); per-side conjuncts Catalyst can split
    (brand/size on part, quantity bounds on lineitem) still push down."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    j = li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
    q = F.col("l_quantity")
    cond = (
        ((F.col("p_brand") == "Brand#11") & q.between(1, 11) & (F.col("p_size") <= 5))
        | ((F.col("p_brand") == "Brand#13") & q.between(10, 20) & (F.col("p_size") <= 10))
        | ((F.col("p_brand") == "Brand#21") & q.between(20, 30) & (F.col("p_size") <= 15))
    )
    return (
        j.filter(cond)
        .groupBy("p_brand")
        .agg(
            det_round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query("q13_order_count_distribution",
    _ORACLES["q13_order_count_distribution"],
    "J1,A1 outer-join double aggregation (TPC-H Q13 shape: order-count histogram)",
)
def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers-per-order-count histogram. The left outer join keeps
    zero-order customers (count(o_orderkey) ignores the null rows); the
    second aggregate is tiny (#distinct counts), so the only real shuffle
    is the first groupBy on c_custkey."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    per_cust = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy(F.col("n_customers").desc(), F.col("c_count").desc())
    )


@query("q15_top_supplier",
    _ORACLES["q15_top_supplier"],
    "A1,J1 argmax-of-aggregate (TPC-H Q15 shape: top revenue supplier)",
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top supplier by quarterly revenue. The max is a 1-row aggregate
    broadcast back against the per-supplier revenue — no global window,
    no single-partition sort. Each engine compares its own sums to its
    own max, so summation-order float drift can't flip the filter."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    rev = li.groupBy(F.col("l_suppkey").alias("suppkey")).agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("total_revenue")
    )
    mx = rev.agg(F.max("total_revenue").alias("__mx"))
    s = _t(spark, sf_dir, "supplier")
    return (
        rev.join(F.broadcast(mx), F.col("total_revenue") == F.col("__mx"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("suppkey"))
        .select(
            "s_suppkey", "s_name", det_round("total_revenue", 4).alias("total_revenue")
        )
        .orderBy("s_suppkey")
    )


@query("q17_small_quantity_revenue",
    _ORACLES["q17_small_quantity_revenue"],
    "A1,J1 per-group-threshold correlated aggregate (TPC-H Q17 shape)",
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue from small-quantity lines vs each part's own average.
    The per-part avg is a grouped aggregate joined back (the decorrelated
    form Catalyst would produce for the scalar subquery); its output is
    |parts in brand| rows, so the join-back broadcasts. Quantities are
    small integers, so 0.2*avg is exact in both engines — the threshold
    comparison can't drift."""
    p = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#11").select("p_partkey")
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_quantity", "l_extendedprice")
    brand_lines = li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey")).drop(
        "p_partkey"
    )
    thresh = brand_lines.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("qty_thresh")
    )
    return (
        brand_lines.join(F.broadcast(thresh), F.col("l_partkey") == F.col("t_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_thresh"))
        .agg(
            det_round(F.sum("l_extendedprice") / F.lit(7.0), 4).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query("q18_large_volume_orders",
    _ORACLES["q18_large_volume_orders"],
    "A1,J1 having + semi-join back (TPC-H Q18 shape: large-volume orders)",
)
def q18_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders whose total quantity exceeds 150, with customer detail.
    The HAVING aggregate runs once on lineitem and semi-joins orders
    (left_semi keeps the probe side narrow); quantities are integral so
    the >150 cut is exact in both engines. Top-k by totalprice stays
    distributed (TakeOrderedAndProject)."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("__sq"))
        .filter(F.col("__sq") > 150)
        .select("l_orderkey")
    )
    o = _t(spark, sf_dir, "orders").join(
        big.withColumnRenamed("l_orderkey", "__bk"),
        F.col("o_orderkey") == F.col("__bk"),
        "left_semi",
    )
    c = _t(spark, sf_dir, "customer")
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(20)
    )


@query("q22_idle_rich_customers",
    _ORACLES["q22_idle_rich_customers"],
    "A1,J1 scalar-subquery filter + anti-join (TPC-H Q22 shape: lapsed rich customers)",
)
def q22_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Above-average-balance customers with no recent orders, by segment.
    The global average is a 1-row broadcast (no scalar-subquery
    recompute per row); NOT EXISTS is a shuffle anti-join on custkey with
    the date predicate pushed below it into the orders scan."""
    c = _t(spark, sf_dir, "customer")
    ab = c.filter(F.col("c_acctbal") > 0.0).agg(F.avg("c_acctbal").alias("__avg_bal"))
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= "2000-07-01")
        .select("o_custkey")
    )
    return (
        c.join(F.broadcast(ab), F.col("c_acctbal") > F.col("__avg_bal"))
        .join(o, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            det_round(F.sum("c_acctbal"), 4).alias("totacctbal"),
        )
        .orderBy("c_mktsegment")
    )


@query("order_price_quantiles",
    _ORACLES["order_price_quantiles"],
    "A1 exact quantiles per group (percentile == quantile_cont, linear interpolation)",
)
def q_order_price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentile (not approx_percentile): both engines use linear
    interpolation between closest ranks, so values hash-match. At 100 TB
    exact percentile sorts within groups — swap to approx_percentile
    (t-digest) when a bounded-error estimate is acceptable."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        det_round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("median_price"),
        det_round(F.expr("percentile(o_totalprice, 0.9)"), 4).alias("p90_price"),
        det_round(F.min("o_totalprice"), 4).alias("min_price"),
        det_round(F.max("o_totalprice"), 4).alias("max_price"),
    )


@query("price_quantiles_distributed",
    _ORACLES["price_quantiles_distributed"],
    "A1 exact per-group quantiles at scale: window closest-ranks, no per-group value buffering",
)
def q_price_quantiles_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale-safe twin of ``order_price_quantiles``: Spark's
    ``percentile`` aggregate buffers every group value in memory (a hot
    group OOMs at 100 TB); ``exact_group_quantiles`` gets the identical
    interpolated result from group-partitioned windows — closest-rank
    rows + ``lower + frac*(upper-lower)``, the same formula both
    engines' exact quantile uses, so values hash-match."""
    from finance_reporting_etl_spark.operators.ranking import exact_group_quantiles

    o = _t(spark, sf_dir, "orders")
    return exact_group_quantiles(
        o, ["o_orderpriority"], "o_totalprice", {"median_price": 0.5, "p90_price": 0.9}
    )


# ---------------------------------------------------------------------------
# A-tier breadth: multi-dim aggregates, distinct aggs, set ops, windows.
# Not declared by the reference (SURVEY §2.4/§2.6 note their absence) but
# one-liners in Spark; included so the engine covers the standard
# warehouse surface a Metabase-style consumer (entry point 3) would issue.
# ---------------------------------------------------------------------------


@query("regional_rollup",
    _ORACLES["regional_rollup"],
    "A-tier: ROLLUP hierarchy totals (region -> nation -> grand total)",
)
def q_regional_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .rollup(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            det_round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue")
        )
    )


@query("distinct_daily_users",
    _ORACLES["distinct_daily_users"],
    "A-tier: COUNT(DISTINCT) per group (exact; approx_count_distinct is the scale path)",
)
def q_distinct_daily_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(F.to_date(F.date_trunc("day", "ts")).alias("day")).agg(
        F.count_distinct("user_id").alias("n_users"),
        F.count_distinct("event_type").alias("n_event_types"),
        F.count(F.lit(1)).alias("n_events"),
    )


@query("customer_segments_setops",
    _ORACLES["customer_segments_setops"],
    "A-tier set ops: INTERSECT / EXCEPT / UNION ALL over order-status segments",
)
def q_customer_segments_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    buyers = o.filter(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("custkey")).distinct()
    open_ = o.filter(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("custkey")).distinct()
    both = buyers.intersect(open_).agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("both").alias("segment"), "n"
    )
    fin = buyers.exceptAll(open_).agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("finished_only").alias("segment"), "n"
    )
    op = open_.exceptAll(buyers).agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("open_only").alias("segment"), "n"
    )
    return both.unionByName(fin).unionByName(op)


@query("retention_filter",
    _ORACLES["retention_filter"],
    "S12 (readme.md:398-427 lifecycle/retention: engine-side window filter)",
)
def q_retention_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention relative to the NEWEST data (keep the trailing 21
    days), the way a real lifecycle policy anchors to now()/max-ts —
    not to a fixture date that silently retains everything at any
    other range (VERDICT r12 task 7 treatment). The horizon is a
    1-row max scan collected driver-side; the filter itself still
    pushes to the parquet scan."""
    from datetime import timedelta

    from finance_reporting_etl_spark.operators.incremental import retain

    events = _t(spark, sf_dir, "events")
    horizon = events.agg(F.max("ts")).first()[0] - timedelta(days=21)
    return retain(events, "ts", horizon).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )


@query("cumulative_monthly_revenue",
    _ORACLES["cumulative_monthly_revenue"],
    "§2.5-adjacent: running-total window (trend KPI tier)",
)
def q_cumulative_monthly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    m = o.groupBy(F.to_date(F.date_trunc("month", "o_orderdate")).alias("month")).agg(
        det_round(F.sum("o_totalprice"), 4).alias("revenue")
    )
    # global window is safe here: input cardinality = number of months
    # (bounded by calendar time, not data volume), post-aggregation
    w = Window.orderBy("month").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return m.select("month", "revenue", det_round(F.sum("revenue").over(w), 4).alias("cum_revenue"))


@query("streaming_hourly_rollup",
    _ORACLES["streaming_hourly_rollup"],
    "§2.8 upgrade: Structured Streaming Trigger.AvailableNow rollup == batch oracle",
)
def q_streaming_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runs the AvailableNow file-stream rollup to completion and returns
    the materialized result — the streaming plan must reproduce the
    batch/DuckDB answer exactly (watermark drops nothing in a bounded
    replay). Replay plumbing: streaming.staging.run_file_stream."""
    import uuid

    from finance_reporting_etl_spark.streaming.rollup import streaming_rollup
    from finance_reporting_etl_spark.streaming.staging import run_file_stream

    events = _t(spark, sf_dir, "events")
    name = f"rollup_stream_{uuid.uuid4().hex[:8]}"
    return run_file_stream(
        spark,
        lambda src: events.write.mode("overwrite").parquet(src),
        lambda src, schema, tmp: streaming_rollup(
            spark, src, schema, checkpoint_dir=f"{tmp}/ckpt", output_table=name
        ),
        lambda tmp: spark.table(name),
        label="streaming_hourly_rollup",
    )


@query("streaming_dedup_events",
    _ORACLES["streaming_dedup_events"],
    "§2.8 streaming exact dedup: dropDuplicatesWithinWatermark over an at-least-once replay == DISTINCT",
)
def q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replays events duplicated 2x (simulating at-least-once delivery)
    through a streaming dedup on event_id; the survivor set must equal
    the original table exactly. Watermark (90d) exceeds the replay span
    (30d) so no duplicate escapes state eviction in the bounded demo."""
    import uuid

    from finance_reporting_etl_spark.streaming.dedup import streaming_dedup
    from finance_reporting_etl_spark.streaming.staging import run_file_stream

    events = _t(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    name = f"dedup_stream_{uuid.uuid4().hex[:8]}"
    return run_file_stream(
        spark,
        lambda src: events.unionAll(events).write.mode("overwrite").parquet(src),
        lambda src, schema, tmp: streaming_dedup(
            spark, src, schema, checkpoint_dir=f"{tmp}/ckpt", output_table=name
        ),
        lambda tmp: spark.table(name),
        label="streaming_dedup_events",
    )


@query("stateful_user_totals",
    _ORACLES["stateful_user_totals"],
    "§2.8 applyInPandasWithState: per-key GroupState running totals across micro-batches == batch GROUP BY",
)
def q_stateful_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streams events in 4 single-file micro-batches through a custom
    applyInPandasWithState operator that keeps (count, sum, seq) per user
    in GroupState; the last emission per user (max_by upd_seq) must equal
    the batch aggregate. Exercises cross-batch state persistence — the
    sequence numbers prove multiple batches actually ran."""
    import uuid

    from finance_reporting_etl_spark.streaming.stateful import stateful_running_totals
    from finance_reporting_etl_spark.streaming.staging import run_file_stream

    events = _t(spark, sf_dir, "events").select("user_id", "value")
    name = f"stateful_stream_{uuid.uuid4().hex[:8]}"
    return run_file_stream(
        spark,
        lambda src: events.repartition(4).write.mode("overwrite").parquet(src),
        lambda src, schema, tmp: stateful_running_totals(
            spark, src, schema, checkpoint_dir=f"{tmp}/ckpt", output_table=name
        ),
        lambda tmp: spark.table(name)
        .groupBy("user_id")
        .agg(
            F.max_by("n_events", "upd_seq").alias("n_events"),
            det_round(F.max_by("total_value", "upd_seq"), 4).alias("total_value"),
        ),
        label="stateful_user_totals",
    )


@query("rolling_7day_revenue",
    _ORACLES["rolling_7day_revenue"],
    "§2.5 range-frame window: 7-day rolling sum per event type (gap-aware, not row-based)",
)
def q_rolling_7day_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day rolling value per event type using a RANGE frame over day
    number — unlike a rowsBetween(-6, 0) frame this stays correct when a
    type has gap days. Partitioned by event_type, ordered within
    partition: no global window, and the pre-aggregation to daily grain
    bounds window input at #days x #types."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.groupBy(
            "event_type",
            F.to_date(F.date_trunc("day", "ts")).alias("day"),
        )
        .agg(det_round(F.sum("value"), 4).alias("daily_value"))
        .withColumn("dnum", F.datediff("day", F.lit("1970-01-01")))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("dnum")
        .rangeBetween(-6, Window.currentRow)
    )
    return daily.select(
        "event_type",
        "day",
        "daily_value",
        det_round(F.sum("daily_value").over(w), 4).alias("rolling_7d"),
    )


@query("customer_spend_deciles",
    _ORACLES["customer_spend_deciles"],
    "§2.5 ntile decile ranking over aggregated spend (deterministic tiebreak)",
)
def q_customer_spend_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer spend deciles via ``distributed_ntile`` — exact ntile
    semantics (the oracle's global-window form) computed with
    percentile-sketch bucketing + per-bucket windows + broadcast
    offsets, so no data-sized single-partition sort exists at any
    scale. The (rounded spend, custkey) sort key is unique, making the
    tiling deterministic on both engines."""
    from finance_reporting_etl_spark.operators.ranking import distributed_ntile

    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    spend = (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .groupBy("c_custkey")
        .agg(det_round(F.sum("o_totalprice"), 4).alias("total_spend"))
        # |customers| rows; the ntile's sketch pass + two plan branches
        # would otherwise re-run the join+agg three times (the
        # operator's documented persist-upstream contract)
        .localCheckpoint(eager=True)
    )
    tiled = distributed_ntile(spend, 10, "total_spend", ["c_custkey"], out_col="decile")
    return tiled.select("decile", "c_custkey", "total_spend")


@query("corpus_clean",
    _ORACLES["corpus_clean"],
    "X1+X4 end-to-end training-data cleaning: quality gate -> exact dedup",
)
def q_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data pipeline: score -> filter -> dedup.
    Each stage is the already-verified operator; the composition stays
    one Catalyst plan (filter pushes below the dedup window)."""
    from finance_reporting_etl_spark.functions.text import quality_score
    from finance_reporting_etl_spark.operators.dedup import exact_dedup

    docs = _t(spark, sf_dir, "documents")
    scored = docs.withColumn("quality", quality_score("text")).filter(F.col("quality") >= 0.3)
    return exact_dedup(scored, "text", "doc_id").select("doc_id", "lang", "source", "quality")


@query("corpus_stats",
    _ORACLES["corpus_stats"],
    "X4 corpus profiling: per-language counts + exact percentiles",
)
def q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from finance_reporting_etl_spark.functions.text import token_count

    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        det_round(F.avg(token_count("text")), 4).alias("avg_tokens"),
        F.min("n_chars").cast("long").alias("min_chars"),
        F.max("n_chars").cast("long").alias("max_chars"),
        det_round(F.percentile(F.length("text"), F.lit(0.5)), 4).alias("p50_chars"),
        det_round(F.percentile(F.length("text"), F.lit(0.9)), 4).alias("p90_chars"),
    )


@query("corpus_hash_split",
    _ORACLES["corpus_hash_split"],
    "X-pipeline deterministic train/val/test split (salted md5-bucket, engine-portable)",
)
def q_corpus_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leak-free 80/10/10 split as a pure function of doc_id — stable
    across runs, partitionings, and engines (DuckDB derives the identical
    assignment from the same md5 buckets, so every row is hash-verified)."""
    from finance_reporting_etl_spark.operators.corpus import hash_split

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    return hash_split(docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})


@query("corpus_mixture_sample",
    _ORACLES["corpus_mixture_sample"],
    "X-pipeline mixture re-weighting: deterministic salted per-language downsample",
)
def q_corpus_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mixture step: keep all English, half de/es/fr, a quarter
    zh — reproducible independent of executor count (md5 buckets, not
    rand()), so dataset versions are exactly re-materializable."""
    from finance_reporting_etl_spark.operators.corpus import stratified_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    return stratified_sample(
        docs, "doc_id", "lang",
        {"en": 1.0, "de": 0.5, "es": 0.5, "fr": 0.5, "zh": 0.25},
    )


@query("corpus_chunking",
    _ORACLES["corpus_chunking"],
    "X-pipeline overlapping token-window chunking (64-token windows, 16 overlap)",
)
def q_corpus_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window preparation: explode each document into 64-token
    windows overlapping by 16. Map-side only (split -> sequence ->
    explode -> slice), so chunking feeds the next pipeline stage at scan
    speed at any scale."""
    from finance_reporting_etl_spark.operators.corpus import chunk_documents

    docs = _t(spark, sf_dir, "documents")
    return chunk_documents(docs, chunk_size=64, overlap=16)


@query("ingest_fred_observations",
    _ORACLES["ingest_fred_observations"],
    "S1-S3,P2 ingest chain: REST payload -> JSON parse -> flatten -> typed cast ('.' -> NULL)",
)
def q_ingest_fred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's committed ingest path (fetch_data.py:4-17) end to
    end on the canned payload: payloads_to_df -> flatten_observations.
    sf_dir is unused — the source is the API payload, not a fixture."""
    from finance_reporting_etl_spark.pipeline import CANNED_FRED_PAYLOAD
    from finance_reporting_etl_spark.sources.json_source import flatten_observations
    from finance_reporting_etl_spark.sources.rest import payloads_to_df

    return flatten_observations(payloads_to_df(spark, [CANNED_FRED_PAYLOAD]))


@query("asof_latest_view_before_purchase",
    _ORACLES["asof_latest_view_before_purchase"],
    "custom operator: as-of (point-in-time) join, DuckDB ASOF JOIN oracle",
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from finance_reporting_etl_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts", "value"
    )
    views = ev.filter(F.col("event_type") == "view").select("user_id", "ts", "event_id", "value")
    return asof_join(
        purchases, views, ["user_id"], right_cols=["event_id", "value"], tiebreak="event_id"
    )


@query("video_frame_sample",
    _ORACLES["video_frame_sample"],
    "X5 multimodal: video frame sampling (explode plumbing, decode stubbed)",
)
def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from finance_reporting_etl_spark.operators.multimodal import attach_fake_media, frame_sample

    docs = _t(spark, sf_dir, "documents")
    # frame_payload (the decode stub) is all-NULL binary — engines
    # normalize NULL blobs differently, so the oracle compares the
    # deterministic columns
    return frame_sample(attach_fake_media(docs), fps=1.0, max_frames=16).drop("frame_payload")


@query("media_decode_features",
    _ORACLES["media_decode_features"],
    "X5 multimodal: REAL media decode (genuine PNG bytes -> zlib inflate -> unfilter -> pixel stats)",
)
def q_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real image decode, end to end: each doc gets a genuine PNG
    (signature/IHDR/IDAT/CRC, real DEFLATE) of a deterministic synthetic
    image, and the decode stage parses + inflates + unfilters the actual
    bytes inside Arrow-batched ``mapInPandas`` (PIL when installed,
    stdlib zlib otherwise — multimodal.py). The DuckDB oracle re-derives
    every channel sum from the pixel formula alone, so a hash match
    proves the encode->deflate->decode loop round-trips bit-exactly.
    Scale shape: encode and decode are both map-side batch stages with
    no shuffle; blob width is bounded by maxPartitionBytes."""
    from finance_reporting_etl_spark.operators.multimodal import (
        attach_synthetic_png,
        decode_media_features,
    )

    docs = _t(spark, sf_dir, "documents")
    return decode_media_features(attach_synthetic_png(docs))


@query("lm_quality_scores",
    _ORACLES["lm_quality_scores"],
    "X4 LM-perplexity quality filter: add-k bigram log-likelihood, LM trained distributively on the corpus",
)
def q_lm_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity filtering without an external model: a
    bigram LM with add-0.5 smoothing is built FROM the corpus (unigram/
    bigram count tables via groupBy — vocabulary-sized, never
    corpus-sized) and every document is scored by its mean bigram
    log-likelihood through shuffle equi-joins on the token keys. The
    oracle rebuilds the identical LM and scores in SQL."""
    from finance_reporting_etl_spark.operators.corpus import bigram_lm_scores

    docs = _t(spark, sf_dir, "documents")
    return bigram_lm_scores(docs)


@query("media_resize_decode",
    _ORACLES["media_resize_decode"],
    "X5 multimodal: REAL resize (decode -> NN resample -> re-encode -> decode again)",
)
def q_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real resize, proven through two decode passes: genuine PNGs are
    decoded, nearest-neighbor resampled to 6x5 (explicit floor index
    mapping), re-encoded as PNG, and the RESIZED payloads are decoded
    AGAIN by the feature stage. The oracle re-derives every resampled
    pixel from the formula + the same index mapping, so a hash match
    proves decode, resample, AND the re-encoded PNG's validity at once.
    All stages are map-side Arrow batches — no shuffle anywhere."""
    from finance_reporting_etl_spark.operators.multimodal import (
        attach_synthetic_png,
        decode_media_features,
        resize_png,
    )

    docs = _t(spark, sf_dir, "documents")
    return decode_media_features(resize_png(attach_synthetic_png(docs), 6, 5))


@query("q4_order_priority_semi",
    _ORACLES["q4_order_priority_semi"],
    "J-tier: LEFT SEMI join (correlated EXISTS; TPC-H Q4 shape)",
)
def q4_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    cond = (o.o_orderkey == li.l_orderkey) & (
        li.l_shipdate > o.o_orderdate + F.expr("INTERVAL 60 DAYS")
    )
    return (
        o.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@query("customers_without_orders_anti",
    _ORACLES["customers_without_orders_anti"],
    "J-tier: LEFT ANTI join (NOT EXISTS); urgent-order predicate keeps the result non-vacuous at every fixture scale",
)
def q_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no urgent order, per market segment. The filter on
    the anti side pushes into the orders scan; at sf0.01 every customer
    has SOME order, so the plain no-orders form returned 0 rows — a
    vacuously-passing oracle (found by the zero-row catalog audit)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@query("repetition_metrics",
    _ORACLES["repetition_metrics"],
    "X4 Gopher-style repetition filters: type/token ratio + top-bigram fraction",
)
def q_repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition signals for corpus quality filtering.
    Uses the distributed explode+groupBy formulation (see
    operators.corpus.repetition_profile) — the pure-expression variant
    re-evaluates the gram subtree per lambda element and measured 235s
    at sf0.1 vs ~1s for this shape."""
    from finance_reporting_etl_spark.operators.corpus import repetition_profile

    docs = _t(spark, sf_dir, "documents")
    return repetition_profile(docs, "doc_id", "text", n=2).withColumnRenamed(
        "top_2gram_fraction", "top_bigram_fraction"
    )


@query("pii_redaction",
    _ORACLES["pii_redaction"],
    "X4 PII redaction: typed regex scrub (email/IP/phone) + per-type counts",
)
def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing pass over the corpus. The fixture corpus carries no
    real PII, so the query plants one deterministic email/IP/phone per
    document (identically in the oracle) to prove the patterns fire;
    counts are computed on the raw text, redaction applies the patterns
    in declared order. Map-side regexp chain — no shuffle."""
    from finance_reporting_etl_spark.functions import text as tx

    docs = _t(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com at 10.0."),
            (F.col("doc_id") % 200).cast("string"),
            F.lit("."),
            (F.col("doc_id") % 250).cast("string"),
            F.lit(" call +1 (555) 010-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ).alias("text"),
    )
    return aug.select(
        "doc_id",
        tx.pii_count("text", "email").alias("n_emails"),
        tx.pii_count("text", "ipv4").alias("n_ips"),
        tx.pii_count("text", "phone").alias("n_phones"),
        tx.redact_pii("text").alias("redacted"),
    )


@query("corpus_vocabulary",
    _ORACLES["corpus_vocabulary"],
    "X4 vocabulary build: corpus-wide top-k token frequencies (TakeOrderedAndProject)",
)
def q_corpus_vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 corpus tokens. Shuffle carries one row per distinct token
    (map-side combine); top-k avoids any global sort."""
    from finance_reporting_etl_spark.operators.corpus import vocabulary

    return vocabulary(_t(spark, sf_dir, "documents"), "text", k=100)


@query("decontaminate_4gram",
    _ORACLES["decontaminate_4gram"],
    "X-pipeline benchmark decontamination: 4-gram overlap vs held-out md5-bucket split",
)
def q_decontaminate_4gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flags training documents sharing any 4-token gram with the
    held-out ~5% benchmark bucket (salted md5 bucket < 13 — the same
    deterministic split machinery as corpus_hash_split, with its own
    salt so the bench bucket is independent of split/sample cutoffs).
    Benchmark grams broadcast; the corpus side stays map-side until the
    per-doc count."""
    from finance_reporting_etl_spark.operators.corpus import md5_bucket, ngram_decontaminate

    docs = _t(spark, sf_dir, "documents")
    b = md5_bucket("doc_id", salt="decon")
    return ngram_decontaminate(
        docs.filter(b >= 13), docs.filter(b < 13), n=4
    )


@query("q7_nation_volume_shipping",
    _ORACLES["q7_nation_volume_shipping"],
    "TPC-H Q7 shape: bidirectional nation-pair volume, nation dim joined twice",
)
def q7_nation_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 analog: revenue flowing between a nation pair per ship year.
    The nation dimension joins twice under different aliases (supplier
    side, customer side) — both broadcast; the disjunctive pair filter
    lands after both so Catalyst can push each equality into its own
    dim scan. Fact-fact joins shuffle on orderkey/custkey only."""
    s = _t(spark, sf_dir, "supplier")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    sn = n.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))
    cn = n.select(F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation"))
    pair = (
        (F.col("supp_nation") == "NATION_18") & (F.col("cust_nation") == "NATION_19")
    ) | ((F.col("supp_nation") == "NATION_19") & (F.col("cust_nation") == "NATION_18"))
    return (
        li.join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(sn), F.col("sn_key") == F.col("s_nationkey"))
        .join(F.broadcast(cn), F.col("cn_key") == F.col("c_nationkey"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("ship_year"))
        .agg(
            det_round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
                "revenue"
            )
        )
    )


@query("q8_market_share",
    _ORACLES["q8_market_share"],
    "TPC-H Q8 shape: market share = ratio of conditional sum over 8-table join",
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 analog: NATION_3's share of PROMO-part volume sold into
    EUROPE per order year. Ratio-of-conditional-aggregates computed in
    one pass (no self-join); all dims broadcast, facts shuffle once."""
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    cn = n.select(F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_rkey"))
    sn = n.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(cn), F.col("cn_key") == F.col("c_nationkey"))
        .join(F.broadcast(r), F.col("r_regionkey") == F.col("cn_rkey"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(sn), F.col("sn_key") == F.col("s_nationkey"))
        .groupBy(F.year("o_orderdate").alias("order_year"))
        .agg(
            det_round(
                F.sum(F.when(F.col("supp_nation") == "NATION_3", volume).otherwise(0.0))
                / F.sum(volume),
                4,
            ).alias("mkt_share")
        )
    )


@query("q12_late_shipment_priority",
    _ORACLES["q12_late_shipment_priority"],
    "TPC-H Q12 shape: CASE-bucketed join agg with conditional priority counts (adapted: lateness from shipdate-orderdate; fixture has no commit/receipt dates)",
)
def q12_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 analog on the fixture schema: lineitems bucketed by shipping
    delay, counting high- vs low-priority order lines per bucket. One
    fact-fact shuffle join, CASE work entirely map-side."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    ship, ordered = F.col("l_shipdate"), F.col("o_orderdate")
    speed = (
        F.when(ship > ordered + F.expr("INTERVAL 90 DAYS"), "late")
        .when(ship > ordered + F.expr("INTERVAL 30 DAYS"), "slow")
        .otherwise("fast")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(speed.alias("ship_speed"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@query("q21_waiting_supplier",
    _ORACLES["q21_waiting_supplier"],
    "TPC-H Q21 shape: semi + anti self-joins — sole late supplier in multi-supplier finished orders (adapted lateness: shipdate > orderdate + 60d)",
)
def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 analog: suppliers who were the *only* late shipper in a
    multi-supplier finished order. The lineitem self-joins are keyed on
    l_orderkey (uniform), expressed as left_semi / left_anti so Spark
    never materializes the pair blowup; supplier dim broadcasts."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    late = (
        li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .select("l_orderkey", "l_suppkey")
    )
    l2 = li.select(
        F.col("l_orderkey").alias("l2_orderkey"), F.col("l_suppkey").alias("l2_suppkey")
    )
    l3 = late.select(
        F.col("l_orderkey").alias("l3_orderkey"), F.col("l_suppkey").alias("l3_suppkey")
    )
    sole_late = (
        late.join(
            l2,
            (F.col("l2_orderkey") == F.col("l_orderkey"))
            & (F.col("l2_suppkey") != F.col("l_suppkey")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l3_orderkey") == F.col("l_orderkey"))
            & (F.col("l3_suppkey") != F.col("l_suppkey")),
            "left_anti",
        )
    )
    return (
        sole_late.join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@query("kmeans_cluster_profile",
    _ORACLES["kmeans_cluster_profile"],
    "X3 trained vector clustering: k-means (Lloyd's) with persisted-assignment oracle",
)
def q_kmeans_cluster_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runs 5 Lloyd iterations (k=8, deterministic lowest-id init) over
    the embeddings table, persists the final assignment, and profiles
    each cluster. Five is deliberate: measured on the fixture, centroid
    movement collapses to ~1e-2 after the FIRST update and plateaus —
    doubling the iteration budget doubles the job count for no
    measurable clustering change. The oracle re-derives member means, centroid norms and
    mean member->centroid distance from the SAME assignment table in
    double precision — verifying the update step exactly; the argmin
    assignment step itself is covered by pytest (blob recovery,
    determinism, monotone inertia). Oracle hardcodes dim=64 (fixture).
    """
    from finance_reporting_etl_spark.operators.clustering import (
        cluster_profile,
        kmeans,
    )

    emb = _t(spark, sf_dir, "embeddings")
    assignments, _ = kmeans(emb, k=8, iters=5)
    aux = _persist_aux(spark, assignments, "kmeans_assign")
    return cluster_profile(emb, aux)


@query("tfidf_top_terms",
    _ORACLES["tfidf_top_terms"],
    "X4 TF-IDF keyword extraction: top-5 terms per document (smoothed idf)",
)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction via TF-IDF — the two-level
    (doc,term)/(term) aggregation plus vocabulary broadcast-back shape.
    Both engines rank on the rounded score with a term tiebreak, making
    the top-5 cut deterministic cross-engine."""
    from finance_reporting_etl_spark.operators.corpus import tfidf_top_terms

    return tfidf_top_terms(_t(spark, sf_dir, "documents"), k=5)


@query("chunk_dedup_occurrences",
    _ORACLES["chunk_dedup_occurrences"],
    "X1/X-pipeline chunk-level exact dedup (substring-dedup approximation, Lee et al. shape)",
)
def q_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated 64-token chunks across the corpus with their canonical
    survivor — the boilerplate/repeated-passage scrub. One uniform
    md5-fingerprint shuffle over the chunk explosion."""
    from finance_reporting_etl_spark.operators.corpus import chunk_dedup

    return chunk_dedup(_t(spark, sf_dir, "documents"))


@query("streaming_merge_upsert",
    _ORACLES["streaming_merge_upsert"],
    "§2.8 x O5 foreachBatch incremental upsert: batch-by-batch merge_latest fixpoint == one-shot merge",
)
def q_streaming_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streams events in 4 single-file micro-batches through a
    foreachBatch merge_latest upsert; because latest-per-key is an
    associative argmin, the incrementally-maintained target must equal
    the one-shot batch merge regardless of the batch split."""
    from finance_reporting_etl_spark.streaming.merge import streaming_merge_upsert
    from finance_reporting_etl_spark.streaming.staging import run_file_stream

    events = _t(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    return run_file_stream(
        spark,
        lambda src: events.repartition(4).write.mode("overwrite").parquet(src),
        lambda src, schema, tmp: streaming_merge_upsert(
            spark, src, schema,
            checkpoint_dir=f"{tmp}/ckpt", target_dir=f"{tmp}/target",
            keys=["user_id"], order_col="ts", tiebreak_col="event_id",
        ),
        lambda tmp: _read_parquet(spark, f"{tmp}/target"),
        label="streaming_merge_upsert",
    )


@query("keyword_search_topk",
    _ORACLES["keyword_search_topk"],
    "X4 conjunctive keyword search: AND-semantics postings + TF-IDF ranking, top-10",
)
def q_keyword_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 documents containing ALL of {window, join, merge}, ranked
    by summed smoothed TF-IDF with a doc_id tiebreak (deterministic
    cross-engine: both rank on the rounded score)."""
    from finance_reporting_etl_spark.operators.corpus import keyword_search

    return keyword_search(
        _t(spark, sf_dir, "documents"), ["window", "join", "merge"], k=10
    )


@query("event_funnel",
    _ORACLES["event_funnel"],
    "A-tier sequential funnel: strict-order signup -> view -> purchase stage counts",
)
def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-order funnel: each stage's timestamp must follow the
    user's previous-stage first-hit. Three per-user aggregations joined
    on user_id (uniform key, co-partitioned after the first shuffle —
    AQE reuses the exchange); stage counts union at the end."""
    ev = _t(spark, sf_dir, "events")
    s = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("t_signup")
    )
    v = (
        ev.filter(F.col("event_type") == "view")
        .join(s, "user_id")
        .filter(F.col("ts") > F.col("t_signup"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        s.agg(F.count("t_signup").alias("n_users")).select(
            F.lit("signup").alias("stage"), "n_users"
        )
        .unionAll(
            v.agg(F.count(F.lit(1)).alias("n_users")).select(
                F.lit("view_after_signup").alias("stage"), "n_users"
            )
        )
        .unionAll(
            p.agg(F.count(F.lit(1)).alias("n_users")).select(
                F.lit("purchase_after_view").alias("stage"), "n_users"
            )
        )
    )


@query("cohort_retention",
    _ORACLES["cohort_retention"],
    "A-tier cohort retention: first-seen week x activity-week grid",
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix. Two aggregations over events plus
    a user-keyed join; (user, week) pairs are distinct-ed map-side
    first, so the join input is bounded by users x weeks."""
    ev = _t(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.to_date(F.date_trunc("week", F.min("ts"))).alias("cohort_week")
    )
    activity = ev.select(
        "user_id", F.to_date(F.date_trunc("week", "ts")).alias("week")
    ).distinct()
    return (
        activity.join(first_seen, "user_id")
        .groupBy(
            "cohort_week",
            (F.datediff("week", "cohort_week") / 7).cast("int").alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_active"))
    )


@query("sql_api_mart_summary",
    _ORACLES["sql_api_mart_summary"],
    "S10,S11,A1,A2 via the spark.sql STRING path (the reference's native dbt-SQL interface)",
)
def q_sql_api_mart_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The committed stg -> mart chain executed as literal SQL strings
    through spark.sql over temp views — proving a reference user can
    paste dbt-style SQL (stg_financial_data.sql:4-8,
    mart_financial_summary.sql:4-8 shapes) unchanged modulo dialect.
    Catalyst compiles this to the identical plan as the DataFrame form
    (same pushdown/partial-agg properties)."""
    events = _t(spark, sf_dir, "events")
    events.createOrReplaceTempView("raw_financial_sql")
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY VIEW stg_financial_sql AS
        SELECT ts, CAST(value AS DOUBLE) AS value
        FROM raw_financial_sql
        """
    )
    # det_round in SQL-text form (same floor formula as the Column
    # helper — engine round(DOUBLE, n) is per-engine-divergent, r8).
    return spark.sql(
        """
        SELECT date_trunc('year', CAST(ts AS DATE)) AS year,
               CASE WHEN isnull(avg(value)) OR isnan(avg(value))
                         OR abs(avg(value)) >= 4611686018427.388
                    THEN avg(value)
                    ELSE floor(avg(value) * 1000000.0 + 0.5) / 1000000.0
               END AS avg_gdp
        FROM stg_financial_sql
        GROUP BY 1
        """
    )


@query("table_diff_reconciliation",
    _ORACLES["table_diff_reconciliation"],
    "O-tier migration validation: multiset table diff (full-outer count compare)",
)
def q_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reconciliation diff against a deterministically perturbed copy
    (errors dropped, signups doubled): a_only must be exactly the error
    rows, b_only the duplicated signups — the empty-diff check a user
    runs when migrating off the reference."""
    from finance_reporting_etl_spark.operators.incremental import table_diff

    ev = _t(spark, sf_dir, "events").select("event_id", "event_type")
    b = ev.filter(F.col("event_type") != "error").unionAll(
        ev.filter(F.col("event_type") == "signup")
    )
    return table_diff(ev, b)


@query("scd2_user_state_history",
    _ORACLES["scd2_user_state_history"],
    "O5/§2.5 SCD2 history builder: change-collapsed validity intervals via lag/lead",
)
def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 dimension history of each user's event_type state:
    consecutive unchanged observations collapse, each surviving change
    opens an interval closed by the next change (NULL = current). One
    window shuffle on user_id; (user_id, ts) is unique in the fixture so
    the ordering is total."""
    from finance_reporting_etl_spark.operators.incremental import scd2_intervals

    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    return scd2_intervals(ev, ["user_id"], "ts", ["event_type"])


@query("event_type_week_cube",
    _ORACLES["event_type_week_cube"],
    "A-tier CUBE: all grouping-set combinations of (event_type, week)",
)
def q_event_type_week_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full CUBE over (event_type, week): detail, both one-way rollups,
    and the grand total in a single pass — Spark expands grouping sets
    inside one partial+final aggregate, no multi-scan union."""
    ev = _t(spark, sf_dir, "events")
    # week stays TIMESTAMP on both sides: a DATE week arrives as pandas
    # object dtype (None) vs DuckDB datetime64 (NaT) and the NULL rows
    # the CUBE emits would canonicalize differently
    return ev.cube(
        "event_type", F.date_trunc("week", "ts").alias("week")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        det_round(F.sum("value"), 4).alias("total_value"),
    )


@query("daily_revenue_gapfilled",
    _ORACLES["daily_revenue_gapfilled"],
    "A/§2.5-tier calendar densification: F.sequence date spine + left join gap fill",
)
def q_daily_revenue_gapfilled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-free daily revenue series: a generated date spine (sequence
    over the observed min/max day, exploded) left-joins the daily
    aggregate, filling missing days with zero. The spine is calendar-
    bounded (#days rows) so the join broadcasts it; the fact side
    aggregates before joining."""
    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    daily = ev.groupBy(
        F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).agg(
        det_round(F.sum("value"), 4).alias("revenue"),
        # presence marker: was_gap must reflect "no day row" (the
        # oracle's d.day IS NULL), not "revenue IS NULL" — a day whose
        # purchases all carry NULL value has SUM=NULL but is present
        F.lit(1).alias("present"),
    )
    bounds = daily.agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    spine = bounds.select(
        F.explode(F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))).alias("day")
    )
    return (
        F.broadcast(spine)
        .join(daily, "day", "left")
        .select(
            "day",
            F.coalesce("revenue", F.lit(0.0)).alias("revenue"),
            F.when(F.col("present").isNull(), 1).otherwise(0).alias("was_gap"),
        )
    )


def _statements_oracle() -> str:
    """VALUES oracle for the canned statements fan-out, generated from
    the same deterministic fixture the Spark side fetches — one long row
    per (symbol, report_type, fiscal_date, metric)."""
    from finance_reporting_etl_spark.pipeline import (
        STATEMENT_COMPANIES,
        STATEMENT_METRICS,
        STATEMENT_REPORT_TYPES,
        STATEMENT_YEARS,
        canned_statement_value,
    )
    from finance_reporting_etl_spark.sources.json_source import _snake

    rows = ",\n           ".join(
        f"('{s}', '{rt}', DATE '{y}-12-31', 'USD', '{_snake(m)}', "
        f"CAST({canned_statement_value(s, rt, m, y)} AS DOUBLE))"
        for s in STATEMENT_COMPANIES
        for rt in STATEMENT_REPORT_TYPES
        for y in STATEMENT_YEARS
        for m in STATEMENT_METRICS[rt]
    )
    return f"""
    SELECT * FROM (VALUES {rows})
    AS t(symbol, report_type, fiscal_date, currency, metric, value)
    """


@query("ingest_statements",
    _statements_oracle(),
    "S2+S3+S4 fan-out ingest: companies x report_types -> flatten -> long rows",
)
def q_ingest_statements(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Alpha Vantage leg end to end (README.md:327-361): driver-side
    fan-out fetch over companies x report_types (rate-limited in real
    deployments; canned fixture here), JSON parse, per-report flatten
    with literal symbol/report_type, then unpivot to the long
    (metric, value) shape raw_financial_data stores. sf_dir is unused —
    the source is the API. At 100 TB the fetch stages JSON shards and
    spark.read.json scans them distributed; everything from flatten on
    is the same Catalyst plan. Operator:
    sources.rest.ingest_statements_long."""
    from finance_reporting_etl_spark.pipeline import (
        STATEMENT_COMPANIES,
        STATEMENT_REPORT_TYPES,
        canned_statement_fetch,
    )
    from finance_reporting_etl_spark.sources.rest import ingest_statements_long

    return ingest_statements_long(
        spark,
        canned_statement_fetch,
        "https://www.alphavantage.co/query",
        STATEMENT_COMPANIES,
        STATEMENT_REPORT_TYPES,
    )


@query("attribution_window_join",
    _ORACLES["attribution_window_join"],
    "custom operator: bucketed range join (attribution window), J-tier extension",
)
def q_attribution_window_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per purchase: views by the same user in the preceding hour, via
    ``range_join`` — intervals discretized into 1h buckets turn the
    inequality into a shuffled equi-join on (bucket, user_id); the
    exact [ts-1h, ts) predicate prunes bucket-local candidates. The
    zero-view purchases rejoin through a broadcast-friendly aggregate
    left join, so no nested-loop plan exists anywhere at any scale."""
    from finance_reporting_etl_spark.operators.rangejoin import range_join

    ev = _t(spark, sf_dir, "events")
    hour_us = 3_600_000_000
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("p_lo_src"),
    ).select(
        "event_id",
        "user_id",
        (F.col("p_lo_src") - hour_us).alias("lo"),
        F.col("p_lo_src").alias("hi"),
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.unix_micros("ts").alias("t"), "value"
    )
    hits = range_join(
        views, purchases, "t", "lo", "hi", bucket_width=hour_us, extra_eq=["user_id"]
    )
    agg = hits.groupBy("event_id", "user_id").agg(
        F.count(F.lit(1)).alias("n_views_1h"),
        det_round(F.coalesce(F.sum("value"), F.lit(0.0)), 4).alias("view_value_1h"),
    )
    base = purchases.select("event_id", "user_id")
    return (
        base.join(agg.select("event_id", "n_views_1h", "view_value_1h"), "event_id", "left")
        .select(
            "event_id",
            "user_id",
            F.coalesce("n_views_1h", F.lit(0)).alias("n_views_1h"),
            det_round(F.coalesce("view_value_1h", F.lit(0.0)), 4).alias("view_value_1h"),
        )
    )


@query("skew_salted_event_rollup",
    _ORACLES["skew_salted_event_rollup"],
    "custom operator: skew-salted equi-join (5 hot keys spread over 16 tasks)",
)
def q_skew_salted_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events has ~5 distinct event_type values — the worst-case skew
    for a shuffled equi-join (5 tasks do all the work). ``salted_join``
    spreads each hot key over 16 salt values; the result is provably
    identical to the plain join, only the task histogram changes. At
    100 TB this is the difference between a straggler task holding 20%
    of the table and uniform utilization."""
    from finance_reporting_etl_spark.operators.scale import salted_join

    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    dim = ev.select("event_type").distinct().withColumn(
        "category", F.upper("event_type")
    )
    # event_id is the unique row id: salt = hash(key, id) is retry-
    # deterministic AND spreads duplicate (event_type, value) payloads.
    joined = salted_join(
        ev, dim, ["event_type"], n_salts=16, row_id_col="event_id"
    )
    return joined.groupBy("category").agg(
        F.count(F.lit(1)).alias("n_events"),
        det_round(F.sum("value"), 4).alias("total_value"),
    )


@query("corpus_shuffle_shard",
    _ORACLES["corpus_shuffle_shard"],
    "X-pipeline deterministic global shuffle + sharding (training order)",
)
def q_corpus_shuffle_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible random training order: salted-md5 shard + in-shard
    rank. Both engines derive the identical (shard, position) for every
    doc from ids alone; the rank window partitions by shard, so no
    global sort exists at any scale."""
    from finance_reporting_etl_spark.operators.corpus import shuffle_shard

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return shuffle_shard(docs, "doc_id", shards=16).select(
        "doc_id", F.col("shard").cast("int").alias("shard"), "shuffle_key", "position"
    )


@query("sequence_packing",
    _ORACLES["sequence_packing"],
    "X-pipeline sequence packing: fixed-token-budget packs in shuffle order",
)
def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget packing (512/pack) of the shuffled corpus: per-pack
    doc count and token totals. The prefix-sum pack assignment is the
    parallel form of next-fit (overflow bounded by one doc); windows
    partition by shard, so packing scales with the corpus."""
    from finance_reporting_etl_spark.operators.corpus import pack_sequences

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    packed = pack_sequences(docs, "doc_id", "text", budget=512, shards=16)
    return packed.groupBy(F.col("shard").cast("int").alias("shard"), "pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("pack_tokens"),
    )


@query("semantic_dedup",
    _ORACLES["semantic_dedup"],
    "X2/X3 SemDeDup-style semantic dedup: k-means partition -> within-cluster cosine prune",
)
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic (embedding-space) dedup a la SemDeDup: k-means splits
    the corpus into clusters, then cosine near-dup pruning runs ONLY
    within clusters — the clustering bounds the pair space to
    ~(n/k)^2 per cluster instead of n^2, which is the whole trick that
    makes embedding dedup feasible at 100 TB (k grows with n). Survivor
    rule: a vector is dropped iff a lower-id vector in its cluster has
    cosine >= 0.4 — deterministic, and re-derived independently by the
    oracle from the persisted assignment table."""
    from finance_reporting_etl_spark.operators.clustering import kmeans
    from finance_reporting_etl_spark.operators.dedup import embedding_cosine_pairs

    emb = _t(spark, sf_dir, "embeddings")
    assign, _ = kmeans(emb, k=16, iters=3)
    assign = _persist_aux(spark, assign.select("vec_id", "cluster"), "semdedup_assign")
    clustered = emb.join(assign, "vec_id")
    pairs = embedding_cosine_pairs(clustered, threshold=0.4, block_col="cluster")
    dropped = pairs.select(F.col("id_b").alias("vec_id")).distinct()
    return assign.join(dropped.withColumn("__d", F.lit(1)), "vec_id", "left").select(
        "vec_id",
        "cluster",
        F.when(F.col("__d").isNull(), 0).otherwise(1).alias("is_dropped"),
    )


@query("embedding_inference_scores",
    _ORACLES["embedding_inference_scores"],
    "X-pipeline batched model inference: Arrow-batch linear probe + sigmoid filter",
)
def q_embedding_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-classifier scoring: sigmoid(w . v) per document, one
    BLAS matmul per Arrow batch (the batched-inference pattern a real
    reward/quality model plugs into), then the keep-filter. The
    stand-in model's weights are an index formula, so DuckDB re-derives
    every score bit-for-bit at round-6."""
    from finance_reporting_etl_spark.operators.inference import score_embeddings

    emb = _t(spark, sf_dir, "embeddings")
    return score_embeddings(emb).filter(F.col("score") >= 0.5).select(
        "vec_id", "label", "score"
    )


@query("streaming_sessionize_events",
    _ORACLES["streaming_sessionize_events"],
    "§2.8 TRUE streaming session windows: cross-micro-batch session merge == batch gap sessions",
)
def q_streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows computed by a real multi-micro-batch stream: the
    source is split into 4 files processed one per trigger, so sessions
    open in one micro-batch and merge with later arrivals through the
    session-state store. The final result must equal the batch
    gap-sessionization (the DuckDB window-SQL twin) exactly."""
    import uuid

    from finance_reporting_etl_spark.streaming.rollup import streaming_sessionize
    from finance_reporting_etl_spark.streaming.staging import run_file_stream

    events = _t(spark, sf_dir, "events").select("user_id", "ts", "value")
    name = f"sess_stream_{uuid.uuid4().hex[:8]}"
    return run_file_stream(
        spark,
        lambda src: events.repartition(4).write.mode("overwrite").parquet(src),
        lambda src, schema, tmp: streaming_sessionize(
            spark, src, schema, checkpoint_dir=f"{tmp}/ckpt", output_table=name
        ),
        lambda tmp: spark.table(name),
        label="streaming_sessionize_events",
    )


@query("streaming_watermark_late_drop",
    _ORACLES["streaming_watermark_late_drop"],
    "§2.8 watermark late-data proof: beyond-horizon rows dropped, in-horizon stragglers merged, append emission",
)
def q_streaming_watermark_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark semantics, proven end to end on a real multi-batch
    stream (append mode, parquet sink — the scale-safe shape):

    Arrival order is staged as four single-file micro-batches: (1) the
    on-time base (days 1-20 except stragglers), (2) a spacer batch — by
    its end the watermark (max base event time - 7 days) has evicted
    and emitted every closed window, (3) the stragglers, spanning the
    full 20 days: rows whose daily window was already evicted are
    DROPPED (numRowsDroppedByWatermark > 0), rows within the horizon
    MERGE into their still-open windows, (4) the day-21+ tail, which
    advances the watermark so the merged windows actually emit.

    The oracle re-derives the exact accepted set from the same split
    rule: drop iff window_end <= max(base ts) - 7d; emit iff
    window_end <= max(all ts) - 7d. A hash match therefore pins all
    three behaviors — late drop, straggler merge, and append-mode
    emit-once — to Spark's executed semantics.
    """
    from finance_reporting_etl_spark.streaming.rollup import streaming_rollup_to_files
    from finance_reporting_etl_spark.streaming.staging import (
        run_file_stream,
        stage_microbatches,
    )

    ev = _t(spark, sf_dir, "events").select("event_id", "ts", "event_type", "value")
    # Data-derived base/tail boundary (VERDICT r12 task 7): the tail is
    # the last full watermark horizon (max ts - 7d, exact epoch-micros
    # integer from a 1-row max scan) so the replay exercises drop +
    # merge + emit at ANY date range; the oracle re-derives the same
    # cut from the same formula.
    hi_us = ev.agg(F.max(F.unix_micros("ts"))).first()[0]
    cut_us = hi_us - 7 * 86_400_000_000
    t_us = F.unix_micros(F.col("ts"))
    pre = ev.filter(t_us < cut_us)
    batches = [
        pre.filter(F.col("event_id") % 7 >= 2),  # on-time base
        pre.filter(F.col("event_id") % 7 == 1),  # spacer: lets eviction land
        pre.filter(F.col("event_id") % 7 == 0),  # stragglers: drop + merge
        ev.filter(t_us >= cut_us),  # tail: advances the watermark
    ]
    return run_file_stream(
        spark,
        lambda src: stage_microbatches(batches, src),
        lambda src, schema, tmp: streaming_rollup_to_files(
            spark, src, schema,
            checkpoint_dir=f"{tmp}/ckpt", output_dir=f"{tmp}/out",
            bucket="1 day", watermark="7 days", max_files_per_trigger=1,
        ),
        lambda tmp: _read_parquet(spark, f"{tmp}/out"),
        label="streaming_watermark_late_drop",
    )


@query("stateful_session_timeout",
    _ORACLES["stateful_session_timeout"],
    "§2.8 custom stateful operator with EventTimeTimeout: sessions close on watermark expiry, emit exactly once",
)
def q_stateful_session_timeout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap sessionization as a CUSTOM ``applyInPandasWithState``
    operator with ``GroupStateTimeout.EventTimeTimeout``: closed
    sessions emit mid-batch, open tails live in GroupState with a
    timeout at (last activity + gap) and emit exactly once when the
    watermark expires them — the state-TTL machinery `session_window`
    hides, here explicit and testable. Four chronologically disjoint
    micro-batches force sessions to span batch boundaries. The oracle
    is batch gap-sessionization minus the per-user final session when
    the stream's closing watermark (max ts - 10 min) left it open."""
    import uuid

    from finance_reporting_etl_spark.streaming.stateful import stateful_session_timeout
    from finance_reporting_etl_spark.streaming.staging import (
        run_file_stream,
        stage_microbatches,
    )

    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "value")
    # Data-derived quartile cuts (VERDICT r12 task 7): the micro-batch
    # boundaries come from a 1-row min/max scan instead of fixture-
    # pinned dates, so the 4-batch replay stays chronologically
    # balanced at any date range (a pinned list degenerates to one
    # batch). The oracle is cut-independent — exactly-once semantics
    # must hold for ANY batching of the same rows.
    lo_us, hi_us = ev.agg(
        F.min(F.unix_micros("ts")), F.max(F.unix_micros("ts"))
    ).first()
    cuts = [lo_us + (hi_us - lo_us) * k // 4 for k in (1, 2, 3)]
    t_us = F.unix_micros(F.col("ts"))
    batches = [
        ev.filter(t_us < cuts[0]),
        ev.filter((t_us >= cuts[0]) & (t_us < cuts[1])),
        ev.filter((t_us >= cuts[1]) & (t_us < cuts[2])),
        ev.filter(t_us >= cuts[2]),
    ]
    name = f"ttl_sessions_{uuid.uuid4().hex[:8]}"
    return run_file_stream(
        spark,
        lambda src: stage_microbatches(batches, src),
        lambda src, schema, tmp: stateful_session_timeout(
            spark, src, schema, checkpoint_dir=f"{tmp}/ckpt", output_table=name
        ),
        lambda tmp: spark.table(name),
        label="stateful_session_timeout",
    )


@query("ingest_pages_datasource",
    _ORACLES["ingest_pages_datasource"],
    "S1-S3 via the Spark 4 Python Data Source API: partition-per-page executor-side parse (engine-native form of README.md:327-369's driver loop)",
)
def q_ingest_pages_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom ``DataSource`` ingest: staged REST pages become
    InputPartitions, executors parse their page and emit typed rows —
    the declared schema means a malformed page fails one task, not the
    load. sf_dir is unused; the source is the staged page dir."""
    from finance_reporting_etl_spark.sources.python_datasource import (
        register,
        stage_canned_pages,
    )

    pages_dir = stage_canned_pages(f"{_AUX_DIR}/fred_pages")
    register(spark)
    return spark.read.format("fred_pages").option("path", pages_dir).load()


@query("variant_event_payloads",
    _ORACLES["variant_event_payloads"],
    "S3 modernized: Spark 4 VARIANT semi-structured ingest — parse_json -> variant_get typed extraction, no schema inference pass",
)
def q_variant_event_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured payload ingest on the VARIANT type (Spark 4):
    raw JSON event payloads are parsed once into VARIANT (binary,
    shredded — no driver schema-inference scan, unlike
    ``spark.read.json``) and fields come out via ``variant_get`` path
    expressions with per-field types, including a nested array element.
    The JSON text here is built from the events fixture so the oracle
    can re-derive the result from the base columns — proving the
    JSON -> VARIANT -> typed-column roundtrip is lossless (bigint,
    string, double, array<string> all survive bit-exactly).

    At scale this is the raw-zone pattern: keep payloads as VARIANT,
    extract typed columns at query time with pushdown-friendly paths,
    never re-infer schema over 100 TB of JSON text."""
    ev = _t(spark, sf_dir, "events")
    payload = F.to_json(
        F.struct(
            F.col("user_id").alias("user"),
            F.col("event_type").alias("type"),
            F.struct(
                F.col("value").alias("value"),
                F.array(F.lit("t0"), F.concat(F.col("event_type"), F.lit("_x"))).alias(
                    "tags"
                ),
            ).alias("props"),
        )
    )
    v = ev.select(F.parse_json(payload).alias("v"))
    extracted = v.select(
        F.variant_get("v", "$.user", "bigint").alias("user_id"),
        F.variant_get("v", "$.type", "string").alias("event_type"),
        F.variant_get("v", "$.props.value", "double").alias("value"),
        F.variant_get("v", "$.props.tags[1]", "string").alias("tag1"),
    )
    return extracted.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        det_round(F.sum("value"), 6).alias("total_value"),
        F.max(F.length("tag1")).alias("max_tag_len"),
    )


_PQ_CACHE: dict = {}


def _pq_tables(spark: SparkSession, sf_dir: str):
    """Persisted PQ artifacts (codes index, probes, query LUTs) shared
    by `ann_ivfpq_topk` and `ann_rerank_exact` — the builds are
    deterministic (seeded training), so one set serves both, cached
    once per (process, fixture dir) like the co-purchase pair table.
    In production these are the maintained serving-index tables."""
    from finance_reporting_etl_spark.operators.similarity import (
        ivf_probes,
        pq_index,
        pq_query_luts,
        pq_train_codebooks,
    )

    if _PQ_CACHE.get("sf") != sf_dir:
        emb = _t(spark, sf_dir, "embeddings")
        books = pq_train_codebooks(emb)
        qids = [0, 1, 2, 3, 4]
        _persist_aux(spark, pq_index(emb, books), "pq_index")
        _persist_aux(spark, ivf_probes(emb, qids), "ivfpq_probes")
        _persist_aux(
            spark,
            spark.createDataFrame(
                pq_query_luts(emb, qids, books),
                "query_id long, m int, code int, d2 double",
            ),
            "pq_luts",
        )
        _PQ_CACHE["sf"] = sf_dir
    return (
        _read_parquet(spark, f"{_AUX_DIR}/pq_index"),
        _read_parquet(spark, f"{_AUX_DIR}/ivfpq_probes"),
        _read_parquet(spark, f"{_AUX_DIR}/pq_luts"),
    )


@query("ann_ivfpq_topk",
    _ORACLES["ann_ivfpq_topk"],
    "X3 similarity search at scale: IVF-PQ ANN (product quantization + asymmetric-distance LUT scoring; persisted-index oracle)",
)
def q_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ: the memory-bound scale path for ANN. The IVF stage prunes
    candidates to nprobe cells; PQ replaces each 64-float vector (512 bytes) with 16
    one-byte codes (sample-trained codebooks, driver-side Lloyd — same
    bounded-collect budget as the k-means centroid loop), and scoring
    sums per-subspace lookup-table distances (ADC) with a broadcast
    join — at query time no vector data is read at all. Every
    downstream decision (cell join, LUT join, sum, rank) is re-derived
    by the oracle from the persisted codes/cells/probes/LUT tables;
    codebook training and encode are covered by pytest recall tests."""
    from finance_reporting_etl_spark.operators.similarity import (
        ivfpq_topk_from_tables,
    )

    index, probes, luts = _pq_tables(spark, sf_dir)
    return ivfpq_topk_from_tables(index, probes, luts, k=10).withColumn(
        "rank", F.col("rank").cast("long")
    )


@query("ann_rerank_exact",
    _ORACLES["ann_rerank_exact"],
    "X3 two-stage retrieval: IVF-PQ ADC shortlist (no vector reads) -> exact-cosine rerank of 50 candidates -> top-10 (the standard ANN serving pattern; same persisted index/probes/LUT aux as ann_ivfpq_topk)",
)
def q_ann_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval over the SAME persisted PQ artifacts as
    `ann_ivfpq_topk` (deterministic seeded training, so both queries
    rebuild identical tables): stage 1 shortlists 50 candidates per
    query by ADC distance without reading any vector data; stage 2
    re-joins the true vectors for just those 50 and reranks by exact
    cosine. This is how production ANN serves: quantized scan for
    recall, exact rerank for ranking quality — per query the
    exact-math cost is bounded by the shortlist, not the cell
    population. The oracle re-derives both stages (including the
    deterministic shortlist boundary) from the persisted tables."""
    from finance_reporting_etl_spark.operators.similarity import (
        ivfpq_rerank_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    index, probes, luts = _pq_tables(spark, sf_dir)
    return ivfpq_rerank_topk(
        index, probes, luts, emb, shortlist=50, k=10
    ).withColumn("rank", F.col("rank").cast("long"))


@query("near_dup_incremental_batch",
    _ORACLES["near_dup_incremental_batch"],
    "X2 incremental NEAR-dup: incoming batch probed against the persisted corpus MinHash band index (corpus text never rescanned) — band equi-join candidates, exact stored-shingle Jaccard verify",
)
def q_near_dup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fuzzy twin of `dedup_incremental_batch`: at 100 TB the
    corpus's MinHash index (one (id, sh, bands) row per doc) is a
    maintained artifact, and each incoming batch is signed once and
    probed against the INDEX — never against corpus text. The batch
    mixes genuinely new docs with near-duplicate resubmissions (a
    corpus doc plus a short appended suffix — most shingles shared,
    Jaccard above threshold), so both probe outcomes execute. Both
    engines re-derive candidates and exact Jaccard from the same two
    persisted index tables. Operator:
    operators.dedup.minhash_probe_index."""
    from finance_reporting_etl_spark.operators.dedup import (
        minhash_index,
        minhash_probe_index,
    )

    docs = _t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    batch = (
        docs.filter(F.col("doc_id") % 5 == 0)
        .select("doc_id", "text")
        .unionByName(
            docs.filter((F.col("doc_id") % 5 != 0) & (F.col("doc_id") % 7 == 0)).select(
                (F.col("doc_id") + 100000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" resubmitted copy")).alias("text"),
            )
        )
    )
    corpus_ix = _persist_aux(spark, minhash_index(corpus), "minhash_corpus_index")
    batch_ix = _persist_aux(spark, minhash_index(batch), "minhash_batch_index")
    return minhash_probe_index(batch_ix, corpus_ix, threshold=0.5)


@query("ctfidf_distinctive_terms",
    _ORACLES["ctfidf_distinctive_terms"],
    "X4 corpus organization: class-based TF-IDF (BERTopic labeling trick) — per-language distinctive terms from one token explode + three count aggregates, closed-form float score on exact counts",
)
def q_ctfidf_distinctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which terms CHARACTERIZE each language subcorpus? c-TF-IDF
    scores (tf_class / tokens_class) * ln(1 + avg_class_tokens /
    corpus_term_freq), so ubiquitous terms sink and class-concentrated
    terms rise — the standard readout for naming clusters and
    auditing source mixes before training. Operator:
    operators.corpus.ctfidf_distinctive_terms."""
    from finance_reporting_etl_spark.operators.corpus import (
        ctfidf_distinctive_terms,
    )

    return ctfidf_distinctive_terms(
        _t(spark, sf_dir, "documents"), class_col="lang", k=5, min_tf=5
    )


@query("twap_daily_value",
    _ORACLES["twap_daily_value"],
    "§2.5/finance: time-weighted daily average (TWAP) for irregularly-sampled series — each value weighted by its integer-microsecond holding time until the next observation or midnight; exact integer moments, one final division",
)
def q_twap_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWAP per (event_type, day): the finance convention for
    irregular samples — a burst of ticks must not drag the average,
    so each value is weighted by how long it HELD (microseconds until
    the next observation, the day's last holding until midnight;
    NULL-valued rows carry the previous value forward). Weights are
    exact integer microseconds and values integer cents, so both sums
    are order-independent and only the final division is float.
    Operator: operators.timeseries.time_weighted_daily_avg."""
    from finance_reporting_etl_spark.operators.timeseries import (
        time_weighted_daily_avg,
    )

    ev = _t(spark, sf_dir, "events").select("event_type", "event_id", "ts", "value")
    return time_weighted_daily_avg(ev, ["event_type"])


@query("negative_sampling_recsys",
    _ORACLES["negative_sampling_recsys"],
    "X-pipe implicit-feedback training data: k deterministic non-interacted items per user via hashed ring probing + anti-join — no per-row RNG, O(k) per user, never O(catalog)",
)
def q_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negative sampling for implicit-feedback recommenders: positives
    are (customer, part) purchase pairs; each customer gets 5 items
    they never bought. The draw is hashed ring probing —
    item = md5(user, slot) mod |parts| + 1 over 14 slots, anti-joined
    against the user's own interactions, first 5 survivors kept in
    slot order — a pure function of (user, slot), so retries and
    engines reproduce the same sample (a per-row RNG would not).
    Operator: operators.ml.negative_sampling."""
    from finance_reporting_etl_spark.operators.ml import negative_sampling

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    inter = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("o_custkey").alias("user_id"), F.col("l_partkey").alias("item_id")
    )
    n_items = _t(spark, sf_dir, "part").count()  # bounded scalar
    # user list from the small orders dim, NOT from the heavy join
    # (every order has lineitems, so the sets are identical) — avoids
    # evaluating the interactions subtree twice (PLANS.md #27)
    return negative_sampling(
        inter, n_items, k=5, users=o.select(F.col("o_custkey").alias("user_id"))
    )


@query("groupwise_leakage_safe_split",
    _ORACLES["groupwise_leakage_safe_split"],
    "X-pipe leakage-safe train/val/test split: events split by USER hash (not per row), so no entity straddles splits — per-split audit plus a machine-checked zero-leak count",
)
def q_groupwise_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-leakage-safe splitting: hashing per ROW puts one user's
    events on both sides of train/test — the classic recsys/CTR
    leak. Hashing the USER key instead assigns every event of a user
    to one split by construction. The audit output counts events and
    users per split AND the number of users observed in more than one
    split (provably 0 — computed, not assumed, so the oracle
    re-verifies the guarantee rather than trusting it)."""
    from finance_reporting_etl_spark.operators.corpus import hash_split

    ev = _t(spark, sf_dir, "events").select("user_id", "event_id")
    s = hash_split(
        ev, "user_id", {"train": 0.8, "val": 0.1, "test": 0.1}, salt="usersplit"
    )
    per_split = s.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct("user_id").alias("n_users"),
    )
    leaky = (
        s.groupBy("user_id")
        .agg(F.count_distinct("split").alias("__ns"))
        .agg(
            F.sum((F.col("__ns") > 1).cast("bigint")).alias("n_leaky_users")
        )
    )
    return per_split.crossJoin(F.broadcast(leaky))


@query("hard_negative_mining",
    _ORACLES["hard_negative_mining"],
    "X3/X-pipe contrastive-training data: per query, top-5 nearest embeddings with a DIFFERENT label — the most-confusable negatives (broadcast-query scorer + label-disagreement predicate; IVF-swappable at scale)",
)
def q_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard negatives for contrastive/metric training: random negatives
    are trivially separable after the first epochs, so the examples
    that carry signal are the nearest vectors of a DIFFERENT class.
    Exact scorer over broadcast queries with the label-disagreement
    predicate fused into the join (no post-filter pass); the scale
    path swaps in the IVF probe exactly like the positive-pair
    queries. Operator: operators.similarity.hard_negatives_topk."""
    from finance_reporting_etl_spark.operators.similarity import hard_negatives_topk

    return hard_negatives_topk(
        _t(spark, sf_dir, "embeddings"), [0, 1, 2, 3, 4], k=5
    ).withColumn("rank", F.col("rank").cast("long"))


@query("mad_robust_outliers",
    _ORACLES["mad_robust_outliers"],
    "A/X-tier robust stats: median/MAD modified z-score outliers (|v - med| / (1.4826 * MAD) > 3.5) — exact interpolated order statistics, the heavy-tail-safe complement to stddev z-scores",
)
def q_mad_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outliers by MODIFIED z-score: stddev-based z-scores are
    themselves dragged by the outliers they hunt; median/MAD are
    50%-breakdown robust. Both statistics are exact interpolated
    order statistics from `exact_group_quantiles` (partitioned
    windows — no per-group value buffering, the hot-group-OOM-safe
    form), each a groups-sized broadcast joined back; the z
    expression is a single float chain rounded 6dp identically in
    both engines. MAD = 0 groups (majority-constant values) emit no
    flags via the NULLIF guard — identically NULL-dropped by both
    WHERE clauses."""
    from finance_reporting_etl_spark.operators.ranking import exact_group_quantiles

    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    med = exact_group_quantiles(ev, ["event_type"], "value", {"med": 0.5})
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_id",
        "event_type",
        "value",
        "med",
        det_round(F.abs(F.col("value") - F.col("med")), 4).alias("absdev"),
    )
    mad = exact_group_quantiles(dev, ["event_type"], "absdev", {"mad": 0.5})
    j = dev.join(F.broadcast(mad), "event_type")
    mz = det_round(
        F.col("absdev") / F.nullif(F.lit(1.4826) * F.col("mad"), F.lit(0.0)), 6
    )
    return (
        j.withColumn("modified_z", mz)
        .filter(F.col("modified_z") > 3.5)
        .select("event_id", "event_type", "value", "med", "mad", "modified_z")
    )


@query("streaming_ann_index_maintain",
    _ORACLES["streaming_ann_index_maintain"],
    "§2.8 x X3 streaming vector-index maintenance: micro-batches assign arriving vectors to IVF cells via foreachBatch (batch_id-idempotent sink); the maintained index serves the same top-k as a one-shot build",
)
def q_streaming_ann_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keeping an ANN index fresh WITHOUT rebuilds: the embedding
    stream arrives as three disjoint micro-batches, each assigning its
    vectors to fixed IVF cells (seeded centroids — cell assignment is
    append-only state, the mergeable-index property) and writing its
    postings to its own batch_id partition of the sink. Because assignment is
    deterministic per vector, the maintained index is row-identical
    to the one-shot `ivf_index` build; serving top-k from it must
    therefore match the persisted-index oracle exactly — which is
    what the driver verifies."""
    from finance_reporting_etl_spark.operators.similarity import (
        ivf_index,
        ivf_probes,
        ivf_topk_from_index,
    )
    from finance_reporting_etl_spark.streaming.staging import (
        replay_partials,
        stage_microbatches,
    )

    emb = _t(spark, sf_dir, "embeddings")
    maintained = replay_partials(
        spark,
        lambda src: stage_microbatches(
            [emb.filter(F.col("vec_id") % 3 == i) for i in range(3)], src
        ),
        ivf_index,
        lambda partials: partials.select("id", "cell"),
        "streaming_ann_index_maintain",
    )
    index = _persist_aux(spark, maintained, "ivf_index_stream")
    probes = _persist_aux(
        spark, ivf_probes(emb, [0, 1, 2, 3, 4]), "ivf_probes_stream"
    )
    out = ivf_topk_from_index(index, probes, emb, k=10)
    return out.withColumn("rank", F.col("rank").cast("long"))


@query("schema_evolution_read",
    _ORACLES["schema_evolution_read"],
    "S8/S10 schema evolution: two parquet generations of one table (a late-added column) union-read with mergeSchema; per-generation null audit == union_by_name oracle over the same files",
)
def q_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The table-lifecycle reality at 100 TB: a column added mid-life
    means the lake holds files with BOTH schemas forever (rewriting
    history is off the table). Generation 1 (first half of events)
    lacks ``event_type``; generation 2 carries it. One
    ``mergeSchema`` read unions the generations — old files surface
    the late column as NULL — and the per-generation audit (row
    count, null count of the late column, exact value sum) proves the
    merge. The oracle reads the SAME parquet files with DuckDB's
    union_by_name + hive partitioning (so the generation boundary
    needs no oracle twin). Generation split = exact epoch-micros
    midpoint of the data, driver-collected once because it feeds two
    separate write jobs (VERDICT r12 task 7 treatment)."""
    ev = _t(spark, sf_dir, "events")
    mid = ev.agg(
        F.expr("(min(unix_micros(ts)) + max(unix_micros(ts))) div 2")
        .cast("bigint")
    ).first()[0]
    base = f"{_AUX_DIR}/schema_evo"
    t_us = F.unix_micros(F.col("ts"))
    ev.filter(t_us < mid).select("event_id", "value").write.mode(
        "overwrite"
    ).parquet(f"{base}/gen=1")
    ev.filter(t_us >= mid).select(
        "event_id", "value", "event_type"
    ).write.mode("overwrite").parquet(f"{base}/gen=2")
    df = (
        spark.read.option("mergeSchema", "true")
        .option("basePath", base)
        .parquet(f"{base}/gen=1", f"{base}/gen=2")
    )
    return df.groupBy(F.col("gen").cast("bigint").alias("gen")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("event_type").isNull().cast("bigint")).alias("n_null_type"),
        det_round(
            F.sum(F.round(F.col("value") * 100).cast("bigint")) / 100.0, 6
        ).alias("total_value"),
    )


@query("heavy_hitters_cms",
    _ORACLES["heavy_hitters_cms"],
    "X4 heavy hitters via Count-Min Sketch: fixed-size mergeable counter grid, min-estimate thresholding (persisted-placement oracle)",
)
def q_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokens whose CMS estimate clears 2% of the stream. The sketch is
    depth*width cells FOREVER — the memory story that exact counting
    can't give at 100 TB vocabulary sizes — and cell-wise addition
    merges per-executor sketches. exact_count rides along to expose the
    one-sided error (est >= exact, always). The 4x64 grid is sized so
    collisions actually occur at fixture scale, exercising the min."""
    from finance_reporting_etl_spark.functions.text import whitespace_tokens
    from finance_reporting_etl_spark.operators.sketches import (
        cms_cell_counts,
        cms_estimates,
        cms_placements,
    )

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(whitespace_tokens(F.lower(F.col("text")))).alias("token")
    )
    tc = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    cells = _persist_aux(spark, cms_placements(tc), "cms_placements")
    sketch = cms_cell_counts(tc, cells)
    est = cms_estimates(cells, sketch)
    total = tc.agg(F.sum("cnt").alias("t"))
    return (
        est.join(tc, "token")
        .crossJoin(F.broadcast(total))
        .filter(F.col("est_count") >= F.col("t") / 50.0)
        .select("token", "est_count", F.col("cnt").alias("exact_count"))
    )


@query("event_grouping_sets",
    _ORACLES["event_grouping_sets"],
    "§2.6 GROUPING SETS: explicit multi-granularity aggregate (beyond CUBE/ROLLUP — arbitrary set list, one shuffle)",
)
def q_event_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary grouping-set list in ONE aggregation pass: Spark
    expands the sets with an internal Expand node (each input row fans
    out once per set, partial-agg combines map-side) — versus four
    separate groupBys, four shuffles. The neither-column-is-ever-NULL
    fixture makes coalesce subtotal labeling unambiguous."""
    # DuckDB dayofweek is Sunday=0, Spark's is Sunday=1 — shift to match
    ev = _t(spark, sf_dir, "events").select(
        "event_type", (F.dayofweek("ts") - 1).cast("int").alias("dow"), "value"
    )
    return (
        ev.groupingSets(
            [["event_type", "dow"], ["event_type"], ["dow"], []],
            "event_type",
            "dow",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            det_round(F.sum("value"), 6).alias("total_value"),
        )
        .select(
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
            F.coalesce(F.col("dow").cast("string"), F.lit("ALL")).alias("dow"),
            "n_events",
            "total_value",
        )
    )


@query("lineitem_unpivot_metrics",
    _ORACLES["lineitem_unpivot_metrics"],
    "§2.6 UNPIVOT/melt: wide measures -> long (metric, value) without N scans",
)
def q_lineitem_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``unpivot`` melts the four measure columns into (metric, val)
    rows in ONE scan (an Expand node, like grouping sets) — the oracle's
    UNION ALL form would scan lineitem four times. The inverse of the
    pivot queries; rounds trip with pivot_by_report_type's shape."""
    li = _t(spark, sf_dir, "lineitem")
    metrics = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    long = li.unpivot([], metrics, "metric", "val")
    return long.groupBy("metric").agg(
        F.count(F.lit(1)).alias("n"),
        det_round(F.avg("val"), 6).alias("avg_val"),
        det_round(F.min("val"), 6).alias("min_val"),
        det_round(F.max("val"), 6).alias("max_val"),
    )


@query("corpus_upsample_epochs",
    _ORACLES["corpus_upsample_epochs"],
    "X-pipeline epoch-weighted mixture upsampling: deterministic replication (en x2.5, es x1.5, de x1, fr x0.5, zh x0.25)",
)
def q_corpus_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-epoch mixture construction: languages replicate by weight
    (floor + salted-md5 fractional coin), the w>1 complement of
    mixture_sample's w<1 downsampling. Map-side explode, no shuffle —
    composes directly with corpus_shuffle_shard for training order."""
    from finance_reporting_etl_spark.operators.corpus import upsample_mixture

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    out = upsample_mixture(
        docs,
        {"en": (2, 128), "de": (1, 0), "es": (1, 128), "fr": (0, 128), "zh": (0, 64)},
    )
    return out.select("doc_id", "lang", F.col("copy_idx").cast("int").alias("copy_idx"))


@query("quality_percentile_filter",
    _ORACLES["quality_percentile_filter"],
    "X4 per-domain quality calibration: rank-normalize a quality proxy within language, keep the top half (percent_rank window)",
)
def q_quality_percentile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality thresholds don't transfer across domains — a length/LM
    score cut that keeps 50% of English keeps 5% of code. Rank-
    normalizing WITHIN the domain (percent_rank over the lang
    partition) makes 'top half of each language' mean exactly that.
    One window shuffle partitioned by lang; deterministic (n_chars,
    doc_id) tie-break."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    return (
        docs.select(
            "doc_id", "lang", "n_chars", det_round(F.percent_rank().over(w), 6).alias("pr")
        )
        .filter(F.col("pr") >= 0.5)
    )


@query("stratified_reservoir_sample",
    _ORACLES["stratified_reservoir_sample"],
    "X-pipeline stratified exact-k sample: min(k, n) docs per stratum in deterministic salted-hash order (WindowGroupLimit, no global sort)",
)
def q_stratified_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly min(20, n) documents per language, chosen by salted-md5
    order — the deterministic distributed equivalent of per-stratum
    reservoir sampling (every doc equally likely under the hash, result
    reproducible from ids alone, unlike rand()-based sampleBy which is
    seed- AND partitioning-dependent). The rank<=k predicate pushes
    into WindowGroupLimit, so each task retains k rows per stratum
    before the window shuffle — eval-set construction that behaves at
    100 TB."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    key = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("reservoir")))
    w = Window.partitionBy("lang").orderBy(key, "doc_id")
    return (
        docs.withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= 20)
        .select("doc_id", "lang", F.col("sample_rank").cast("int").alias("sample_rank"))
    )


@query("profile_documents_table",
    _ORACLES["profile_documents_table"],
    "O-tier data-quality profiling: per-column null/distinct/min/max summary in one pass",
)
def q_profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profile of the documents table — the ingest-time QA
    gate every warehouse load runs. ONE aggregation pass computes all
    columns' stats together (the oracle's UNION ALL form re-scans per
    column); count(DISTINCT a), count(DISTINCT b) in one agg expand
    like grouping sets, still a single scan. Values stringify so one
    narrow schema profiles any table."""
    docs = _t(spark, sf_dir, "documents")
    cols = ["doc_id", "lang", "source", "n_chars"]
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__rows"),
            F.count(c).alias(f"{c}__nn"),
            F.countDistinct(c).alias(f"{c}__nd"),
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
        ]
    wide = docs.agg(*aggs)
    stacked = wide.select(
        F.expr(
            "stack({n}, {args}) AS (column_name, n_rows, n_non_null, n_distinct, min_val, max_val)".format(
                n=len(cols),
                args=", ".join(
                    f"'{c}', {c}__rows, {c}__nn, {c}__nd, {c}__min, {c}__max"
                    for c in cols
                ),
            )
        )
    )
    return stacked


@query("streaming_heavy_hitters",
    _ORACLES["streaming_heavy_hitters"],
    "§2.8 x X4 streaming sketch maintenance: CMS folded cell-wise across micro-batches must equal the one-shot batch sketch",
)
def q_streaming_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents corpus replayed as three disjoint micro-batches,
    each folding its token counts into the persisted depth x width grid
    by cell-wise addition (foreachBatch). Because sketch merge is
    associative+commutative, the streamed grid must equal the one-shot
    batch sketch — which is exactly what the oracle independently
    rebuilds from the full corpus. Unlike row-state streaming, the
    maintained state never grows: constant rewrite cost per batch at
    any corpus size."""
    from finance_reporting_etl_spark.functions.text import whitespace_tokens
    from finance_reporting_etl_spark.operators.sketches import (
        cms_cell_counts,
        cms_estimates,
        cms_placements,
    )
    from finance_reporting_etl_spark.streaming.staging import (
        replay_partials,
        stage_microbatches,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    toks_expr = F.explode(whitespace_tokens(F.lower(F.col("text"))))
    tc = docs.select(toks_expr.alias("token")).groupBy("token").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    cells = _persist_aux(spark, cms_placements(tc), "cms_placements_stream")

    def batch_delta(batch: DataFrame) -> DataFrame:
        btc = (
            batch.select(toks_expr.alias("token"))
            .groupBy("token")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        return cms_cell_counts(btc, F.broadcast(cells))

    sketch = replay_partials(
        spark,
        lambda src: stage_microbatches(
            [docs.filter(F.col("doc_id") % 3 == i) for i in range(3)], src
        ),
        batch_delta,
        # merging the per-batch deltas IS the sketch's cell-wise addition
        lambda partials: partials.groupBy("d", "col").agg(
            F.sum("cell_cnt").alias("cell_cnt")
        ),
        "streaming_heavy_hitters",
    )
    est = cms_estimates(cells, sketch)
    total = tc.agg(F.sum("cnt").alias("t"))
    return (
        est.join(tc, "token")
        .crossJoin(F.broadcast(total))
        .filter(F.col("est_count") >= F.col("t") / 50.0)
        .select("token", "est_count", F.col("cnt").alias("exact_count"))
    )


@query("label_time_to_next_purchase",
    _ORACLES["label_time_to_next_purchase"],
    "custom operator: FORWARD strict as-of join — time-to-next-event label generation (DuckDB forward ASOF oracle)",
)
def q_label_time_to_next(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-label generation: every view gets the timestamp of the
    user's NEXT purchase (strictly after) and the exact gap — the
    supervised target for time-to-conversion models. Forward as-of is
    the same one-shuffle union+window as the backward operator, scanned
    in reverse; purchases pre-collapse to one row per (user, ts) so
    equal-instant payloads are deterministic in both engines."""
    from finance_reporting_etl_spark.operators.asof import asof_join_forward

    ev = _t(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select("user_id", "event_id", "ts")
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.min("event_id").alias("next_event_id"))
    )
    out = asof_join_forward(
        views, purchases, ["user_id"], right_cols=["next_event_id"]
    )
    return out.select(
        "user_id",
        "event_id",
        "ts",
        "ts_r",
        "next_event_id_r",
        (F.unix_micros("ts_r") - F.unix_micros("ts")).alias("usecs_to_purchase"),
    )


@query("rolling_7day_distinct_users",
    _ORACLES["rolling_7day_distinct_users"],
    "§2.5 rolling distinct: trailing-7-day unique users per day — explode-to-covered-days form (COUNT(DISTINCT) OVER RANGE is inexpressible as a window)",
)
def q_rolling_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day unique users for every active day. No engine can
    run COUNT(DISTINCT) over a RANGE window; the scale shape is: dedup
    to (user, day) grain (one shuffle, rows collapse to actives), fan
    each pair out to the <=7 days it covers (map-side explode), dedup +
    count per covered day. Work scales with actives x 7, never with raw
    events; a 90-day window at 100 TB just changes the constant."""
    ev = _t(spark, sf_dir, "events")
    ud = ev.select("user_id", F.col("ts").cast("date").alias("day")).distinct()
    days = ud.select("day").distinct()
    cover = ud.select(
        "user_id",
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
        ).alias("day"),
    )
    return (
        cover.join(days, "day")
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("n_users_7d"))
    )


@query("per_lang_token_length_regression",
    _ORACLES["per_lang_token_length_regression"],
    "A-tier per-group model fit: OLS token-count ~ char-count per language via regr_* aggregates (tokens-per-char varies by language)",
)
def q_per_lang_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed per-group OLS with the built-in regr_* aggregate
    family — one shuffle carrying five partial moments per group, the
    textbook map-side-combinable fit (vs collecting per-group data to a
    driver). Tokens-per-character is a real per-language signal (CJK
    text packs more tokens per char than Latin-script text)."""
    from finance_reporting_etl_spark.functions.text import whitespace_tokens

    docs = _t(spark, sf_dir, "documents").select(
        "lang",
        F.col("n_chars").cast("double").alias("n_chars"),
        F.size(whitespace_tokens(F.lower(F.col("text")))).cast("double").alias("n_toks"),
    )
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        det_round(F.regr_slope("n_toks", "n_chars"), 6).alias("slope"),
        det_round(F.regr_intercept("n_toks", "n_chars"), 6).alias("intercept"),
        det_round(F.regr_r2("n_toks", "n_chars"), 6).alias("r2"),
    )


@query("mixture_rebalance_to_target",
    _ORACLES["mixture_rebalance_to_target"],
    "X-pipeline mixture rebalancing: solve per-domain weights toward a target token distribution, apply deterministic replication, report achieved shares",
)
def q_mixture_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dolma/DataComp-style mixture solving, entirely IN-PLAN: measured
    char share per language -> weight = target/current -> quantized
    (floor + 256-grain md5 coin) replication -> achieved share. No
    driver arithmetic: the weight table is a 5-row aggregate joined
    back broadcast, so the same query rebalances a 100 TB corpus. The
    achieved share converges on the target up to the 1/256 coin
    granularity and per-doc integer replication. Operator:
    operators.corpus.mixture_rebalance_to_targets."""
    from finance_reporting_etl_spark.operators.corpus import (
        mixture_rebalance_to_targets,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    tgt = spark.createDataFrame(
        [("en", 0.40), ("de", 0.15), ("es", 0.15), ("fr", 0.15), ("zh", 0.15)],
        "lang string, target_share double",
    )
    return mixture_rebalance_to_targets(docs, tgt)


@query("length_bucketed_batching",
    _ORACLES["length_bucketed_batching"],
    "X-pipeline length-bucketed batching: per-shard sorted batches vs arrival batches, padding waste accounted exactly",
)
def q_length_bucketed_batching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inference/training batches pad every sequence to the batch max;
    batching in length order instead of arrival order is the classic
    padding-FLOPs eliminator. This computes both assignments (batches
    of 32 per shard, deterministic salted-hash arrival order) and the
    exact padding chars each wastes. All windows partition by shard —
    the sort is per-shard, never global, so the plan is the one you'd
    run at 100 TB."""
    from pyspark.sql import Window

    from finance_reporting_etl_spark.operators.corpus import md5_bucket

    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    d = docs.select(
        "doc_id",
        "n_chars",
        (md5_bucket("doc_id", salt="batchshard") % 8).cast("int").alias("shard"),
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("batcharrival"))).alias(
            "arrival"
        ),
    )

    def waste(order_cols: list) -> DataFrame:
        wo = Window.partitionBy("shard").orderBy(*order_cols)
        batched = d.withColumn(
            "batch_id", F.floor((F.row_number().over(wo) - 1) / 32)
        )
        wb = Window.partitionBy("shard", "batch_id")
        return (
            batched.withColumn("mx", F.max("n_chars").over(wb))
            .groupBy("shard")
            .agg(F.sum(F.col("mx") - F.col("n_chars")).alias("waste"))
        )

    wa = waste(["arrival", "doc_id"]).withColumnRenamed("waste", "padding_arrival")
    ws = waste(["n_chars", "doc_id"]).withColumnRenamed("waste", "padding_sorted")
    return wa.join(ws, "shard")


@query("user_value_ema",
    _ORACLES["user_value_ema"],
    "custom per-key sequential operator: recursive EMA — JVM sort-collect per key + ONE Arrow-batched pandas_udf fold (inexpressible as a window aggregate)",
)
def q_user_value_ema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponential moving average of event values — a
    RECURSIVE scan (s_t depends on s_{t-1}) that no window function
    expresses and whose closed-form rewrite overflows on long series.
    One shuffle on user_id: each key's series sort-collects JVM-side
    and ONE scalar pandas_udf folds thousands of keys per Arrow batch
    (round-5 rework from per-group applyInPandas calls — PLANS.md
    #26). The oracle runs the IDENTICAL fold as a DuckDB list_reduce
    lambda — same seed, same order, same operation sequence, so the
    doubles match bit-for-bit."""
    from finance_reporting_etl_spark.operators.timeseries import ema_last_per_key

    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_id", "value")
    return ema_last_per_key(
        ev, "user_id", ["ts", "event_id"], "value", alpha=0.2
    )


@query("rollup_cascade_monthly",
    _ORACLES["rollup_cascade_monthly"],
    "S9/A1 rollup cascade: month derived from day derived from hour — additive aggregates re-aggregate losslessly (oracle computes month from raw)",
)
def q_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The warehouse rollup-cascade pattern: hourly aggregates are the
    only pass over raw data; daily re-aggregates hourly, monthly
    re-aggregates daily. At 100 TB this is the difference between one
    raw scan per granularity and one raw scan TOTAL — valid for any
    additive aggregate (sum/count; avg must ride as sum+count). The
    oracle aggregates month straight from raw events, so the hash
    proves the two-level re-aggregation loses nothing."""
    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("v"))
    daily = hourly.groupBy(
        F.date_trunc("day", "hour").alias("day"), "event_type"
    ).agg(F.sum("n").alias("n"), F.sum("v").alias("v"))
    return (
        daily.groupBy(
            F.date_trunc("month", "day").cast("date").alias("month"), "event_type"
        )
        .agg(
            F.sum("n").alias("n_events"),
            det_round(F.sum("v"), 4).alias("total_value"),
        )
    )


@query("bitmap_distinct_rollup",
    _ORACLES["bitmap_distinct_rollup"],
    "A-tier mergeable EXACT distinct: daily bitmap sketches OR-merged to month (oracle counts distinct from raw — proves the merge is lossless)",
)
def q_bitmap_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly distinct users per event type — computed by merging a
    per-(day, type, bucket) bitmap table, NOT by re-scanning raw events.
    COUNT(DISTINCT) is not additive, so naive rollup cascades are wrong;
    bitwise-OR of bitmaps IS associative, so the daily sketch table (one
    raw scan, ever) answers any coarser grain exactly. All built-in JVM
    aggregates; the bucket key (32768 ids / 4 KB bitmap per bucket)
    spreads hot groups across reducers."""
    from finance_reporting_etl_spark.operators.distinct import bitmap_daily, bitmap_rollup

    daily = bitmap_daily(_t(spark, sf_dir, "events"))
    return bitmap_rollup(
        daily, F.date_trunc("month", F.col("day")).cast("date")
    ).withColumnRenamed("grain", "month")


@query("hll_distinct_rollup",
    _ORACLES["hll_distinct_rollup"],
    "A-tier mergeable APPROX distinct: daily Datasketches-HLL union-merged to month, estimate vs exact with error bound",
)
def q_hll_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same rollup as ``bitmap_distinct_rollup`` with constant-size HLL
    sketches (~1.5 KB/group at lgK=12, any cardinality or key type) —
    the right trade for sparse/string keys where bitmaps blow up. The
    monthly estimates are persisted (oracle-shared); the oracle
    recomputes the exact counts from raw and re-derives the <=5% error
    flag, so a hash match pins both the merge plumbing and the accuracy
    claim. pytest additionally asserts every flag is true."""
    from finance_reporting_etl_spark.operators.distinct import hll_daily, hll_rollup

    ev = _t(spark, sf_dir, "events")
    daily = hll_daily(ev)
    monthly = hll_rollup(
        daily, F.date_trunc("month", F.col("day")).cast("date")
    ).withColumnRenamed("grain", "month")
    est = _persist_aux(spark, monthly, "hll_monthly_est")
    exact = ev.groupBy(
        F.date_trunc("month", "ts").cast("date").alias("month"), "event_type"
    ).agg(F.count_distinct("user_id").alias("n_distinct_exact"))
    return est.join(exact, ["month", "event_type"]).select(
        "month",
        "event_type",
        "n_distinct_est",
        "n_distinct_exact",
        (
            F.abs(F.col("n_distinct_est").cast("double") - F.col("n_distinct_exact"))
            / F.col("n_distinct_exact")
            <= 0.05
        ).alias("within_5pct"),
    )


def _run_staged_interval_join(spark, sf_dir, how):
    """Thin binding over ``streaming.joins.replay_interval_join`` (the
    chronological staging + replay lifecycle lives there)."""
    from finance_reporting_etl_spark.streaming.joins import replay_interval_join

    return replay_interval_join(spark, _t(spark, sf_dir, "events"), how)


@query("streaming_view_purchase_join",
    _ORACLES["streaming_view_purchase_join"],
    "§2.8 stream-stream interval join: two watermarked file streams, equality key + event-time range, bounded state, append sink",
)
def q_streaming_view_purchase_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The continuous form of ``attribution_window_join``: a views
    stream joined to a purchases stream on user within (view_ts,
    view_ts + 1 day], replayed as two chronological micro-batches per
    side (maxFilesPerTrigger=1). The 2-day watermark on both sides
    bounds join state — a buffered view is evicted once the global
    watermark passes view_ts + 1 day, and chronological arrival
    guarantees every such view already saw all its matching purchases,
    so the bounded replay equals the batch join bit-for-bit (the
    oracle). Inner-join matches emit as soon as both rows arrive;
    the watermark governs eviction only."""
    return _run_staged_interval_join(spark, sf_dir, "inner")


# ---------------------------------------------------------------------------
# Shared co-purchase pair table (VERDICT r4 #6). Five graph queries
# (PageRank, weighted PageRank, BFS, triangles, clustering coefficient)
# previously each rebuilt ~the same lineitem self-join — roughly half of
# PageRank's wall time. One persisted (src, dst, n_lines, n_orders)
# table now feeds all of them: unweighted edges are its keys, weights
# are n_orders, the BFS repeat-graph is n_lines >= 2, the undirected
# form is src < dst. Both engines read the SAME parquet (oracle_aux
# pattern), so results are bit-identical to the inline builds. Built
# once per (fixture dir, aux dir) and again whenever its parquet dir is
# gone; in production this is the persisted edge table a graph workload
# would maintain anyway.
# ---------------------------------------------------------------------------

_COPURCHASE_CACHE: dict = {}


def _copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed co-purchase pairs with multiplicity: one row per
    ordered part pair sharing >=1 order, with the line-combination
    count and the distinct co-order count. Symmetric by construction
    ((x,y) present iff (y,x) is)."""
    path = f"{_AUX_DIR}/copurchase_pairs"
    if _COPURCHASE_CACHE.get("key") != (sf_dir, _AUX_DIR) or not os.path.isdir(path):
        li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
        # pre-aggregate to one row per (order, part) BEFORE the self-
        # join (guide §2.3 aggregate-before-shuffle): n_lines is then
        # the exact product-sum Σ c_a*c_b over shared orders and
        # n_orders a plain count of the joined (order, src, dst) rows —
        # identical integers to the old count/count_distinct over raw
        # line combinations (verified exceptAll-equal both ways at
        # sf0.1), without the count_distinct expand over the pair
        # explosion. 4.03 -> 3.18s for the build at sf0.1.
        g = li.groupBy("l_orderkey", "l_partkey").agg(
            F.count(F.lit(1)).alias("c")
        )
        ga = g.select(
            F.col("l_orderkey").alias("ok"),
            F.col("l_partkey").alias("src"),
            F.col("c").alias("ca"),
        )
        gb = g.select(
            F.col("l_orderkey").alias("ok"),
            F.col("l_partkey").alias("dst"),
            F.col("c").alias("cb"),
        )
        pairs = (
            ga.join(gb, "ok")
            .filter(F.col("src") != F.col("dst"))
            .groupBy("src", "dst")
            .agg(
                F.sum(F.col("ca") * F.col("cb")).cast("bigint").alias("n_lines"),
                F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            )
        )
        _persist_aux(spark, pairs, "copurchase_pairs")
        _COPURCHASE_CACHE["key"] = (sf_dir, _AUX_DIR)
    return _read_parquet(spark, path)


def _copurchase_edges_sql() -> str:
    return f"""
        SELECT src, dst FROM '{_AUX_DIR}/copurchase_pairs/*.parquet'
    """


def _pagerank_oracle() -> str:
    from finance_reporting_etl_spark.operators.graph import pagerank_oracle_sql

    return pagerank_oracle_sql(_copurchase_edges_sql(), damping=0.85, iters=8)


@query("part_copurchase_pagerank",
    _pagerank_oracle(),
    "X-tier iterative graph: PageRank power iteration as join+agg per round (oracle = same iteration unrolled as chained CTEs)",
)
def q_part_copurchase_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the part co-purchase graph (distinct part pairs
    sharing an order — symmetric by construction, so no dangling-node
    term). 8 fixed iterations, damping 0.85, ranks scaled to mean 1.0
    and rounded to 6dp on both sides (summation order differs between
    engines; the iteration is contractive so 1e-15-level noise does not
    amplify). The oracle unrolls the identical iteration as pr0..pr8
    CTEs in DuckDB — a full value-hash over every node's rank.

    Edges come from the shared persisted co-purchase pair table
    (:func:`_copurchase_pairs`), whose keys ARE the distinct pair set;
    both engines read the same parquet."""
    edges = _copurchase_pairs(spark, sf_dir).select("src", "dst")
    from finance_reporting_etl_spark.operators.graph import pagerank

    # symmetric=True: the co-purchase pair table emits both directions
    # of every pair, so each node has an in-edge and the per-iteration
    # node re-attach join is skippable (bit-identical ranks)
    return pagerank(edges, damping=0.85, iters=8, symmetric=True).select(
        "id", det_round("rank", 6).alias("rank")
    )


@query("rolling_zscore_anomalies",
    _ORACLES["rolling_zscore_anomalies"],
    "§2.5 windowed anomaly detection: trailing 14-day z-score per series, warm-up + zero-variance guards",
)
def q_rolling_zscore_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series outlier flags from a TRAILING window (14 prior days,
    current row excluded — the detector never sees the value it
    scores). Warm-up rows (<7 priors) and zero-variance windows emit
    NULL score / false flag instead of dividing by zero. One window
    over (series, day) — partitioned by series, so no global sort, and
    a series' history never leaves its partition at any scale."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).agg(det_round(F.sum("value"), 4).alias("value"))
    win = (
        Window.partitionBy("event_type").orderBy("day").rowsBetween(-14, -1)
    )
    w = daily.select(
        "event_type",
        "day",
        "value",
        F.avg("value").over(win).alias("mu"),
        F.stddev_samp("value").over(win).alias("sigma"),
        F.count(F.lit(1)).over(win).alias("n_prior"),
    )
    ok = (F.col("n_prior") >= 7) & (F.col("sigma") > 0)
    z = (F.col("value") - F.col("mu")) / F.col("sigma")
    return w.select(
        "event_type",
        "day",
        "value",
        F.when(ok, det_round(z, 4)).alias("zscore"),
        (ok & (F.abs(z) > 2.5)).alias("is_anomaly"),
    )


@query("indicator_linear_interpolation",
    _ORACLES["indicator_linear_interpolation"],
    "§2.5 time-weighted linear interpolation over a gap-filled spine (IGNORE NULLS neighbor scan, boundary gaps stay NULL)",
)
def q_indicator_linear_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation of missing daily readings: a calendar spine
    per series left-joins the observed points (a deterministic
    day-of-month dropout simulates sensor gaps), then two IGNORE-NULLS
    window scans find each gap's bracketing neighbors and the fill is
    time-weighted between them. Boundary gaps (no neighbor on one
    side) stay NULL. Same partitioned-window scale shape as the
    z-score detector: a series never leaves its partition. Operator:
    operators.timeseries.linear_interpolate_daily."""
    from finance_reporting_etl_spark.operators.timeseries import (
        linear_interpolate_daily,
    )

    ev = _t(spark, sf_dir, "events")
    # daily mean in EXACT integer 1e-4-dollar units (floor): the float
    # fill diverged from the oracle at sf0.1 (r8 hardening) — integer
    # units keep every interpolation step order-free exact
    daily = ev.groupBy(
        "event_type", F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).agg(
        F.expr(
            "sum(cast(round(value * 100) as long)) * 100"
            " div count(1)"
        ).alias("value")
    )
    # deterministic day-of-month dropout simulates sensor gaps
    observed = daily.filter(F.dayofmonth("day") % 3 != 0)
    filled = linear_interpolate_daily(
        observed, daily, ["event_type"], integer_units=True
    )
    return filled.select(
        "event_type",
        "day",
        det_round(F.col("filled_units") / 10000.0, 4).alias("filled_value"),
        "was_interpolated",
    )


@query("random_projection_topk",
    _ORACLES["random_projection_topk"],
    "X3 JL random-projection ANN: Arrow matmul 64->32 dims, exact top-k in projected space (oracle recomputes the projection from the shared matrix)",
)
def q_random_projection_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss reduction as an ANN pre-step: a shared
    Rademacher matrix (persisted; +-0.25 entries are exact in float64,
    so both engines derive bit-identical products) projects 64-dim
    float vectors to 32 doubles via one BLAS matmul per Arrow batch,
    then exact cosine top-5 runs in the reduced space. At 100 TB the
    projected table is the queryable artifact — narrower scans and
    2x cheaper distance math, with the JL distortion bound (pairwise
    cosine preserved to ~1/sqrt(d_out)) and top-50 containment pinned
    by pytest. The oracle
    independently recomputes projection, norms, scores, and ranking
    from the persisted matrix."""
    import numpy as np

    from finance_reporting_etl_spark.operators.similarity import (
        project_vectors,
        rademacher_matrix,
        random_projection_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    mat = rademacher_matrix(64, 32)
    long = [
        (int(i), int(j), float(mat[i, j])) for i in range(64) for j in range(32)
    ]
    _persist_aux(
        spark, spark.createDataFrame(long, "i int, j int, w double"), "rp_matrix"
    )
    projected = project_vectors(emb, mat)
    return random_projection_topk(projected, list(range(10)), k=5)


@query("histogram_quantile_rollup",
    _ORACLES["histogram_quantile_rollup"],
    "A-tier mergeable quantile sketch: daily fixed-bin histograms summed to month, interpolated p50/p90/p99 (oracle builds the month histogram from raw — merge proven lossless)",
)
def q_histogram_quantile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly p50/p90/p99 of event value from a per-(day, type, bin)
    histogram table — the mergeable alternative to ``percentile``
    (which buffers every value per group: a hot group at 100 TB is an
    OOM) and ``percentile_approx`` (whose sketch can't be re-merged
    across grains). Bin width 4 = a power of two, so value/width is
    exact float64 and the oracle's month-from-raw histogram is
    bit-identical to Spark's month-from-daily merge; pytest bounds the
    p50/p90 estimates against the exact percentile by one bin width
    (in sparse tails — p99 of a few-hundred-row group — ANY estimator
    wobbles by the local order-statistic gap, so only the hash, not a
    tight error bound, is asserted there)."""
    from finance_reporting_etl_spark.operators.sketches import (
        histogram_quantiles,
        histogram_rollup,
        value_histogram,
    )

    daily = value_histogram(_t(spark, sf_dir, "events"))
    monthly = histogram_rollup(daily, F.date_trunc("month", F.col("day")).cast("date"))
    return histogram_quantiles(monthly)


@query("cdc_changelog_apply",
    _ORACLES["cdc_changelog_apply"],
    "§2.8 x O5 CDC changelog apply: upsert/DELETE stream folded via foreachBatch with tombstone retention, compacted on read",
)
def q_cdc_changelog_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC semantics on top of the streaming upsert fold: the changelog
    carries op U (upsert) / D (delete — here, 'error' events kill the
    user's row). The maintained state keeps the latest row per key
    INCLUDING tombstones — that is what keeps the fold associative (a
    delete must shadow older upserts arriving in later replayed
    batches) — and reads compact by filtering op = 'D'. The oracle
    computes the same final state from the full changelog in one shot;
    equality proves tombstone shadowing across every batch boundary."""
    from finance_reporting_etl_spark.streaming.merge import streaming_merge_upsert
    from finance_reporting_etl_spark.streaming.staging import run_file_stream

    ev = _t(spark, sf_dir, "events")
    changelog = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "error", "D").otherwise("U").alias("op"),
        "value",
    )
    return run_file_stream(
        spark,
        lambda src: changelog.repartition(4).write.mode("overwrite").parquet(src),
        lambda src, schema, tmp: streaming_merge_upsert(
            spark, src, schema,
            checkpoint_dir=f"{tmp}/ckpt", target_dir=f"{tmp}/target",
            keys=["user_id"], order_col="ts", tiebreak_col="event_id",
        ),
        lambda tmp: _read_parquet(spark, f"{tmp}/target")
        .filter(F.col("op") != "D")
        .select(
            "user_id",
            F.col("ts").alias("updated_at"),
            det_round("value", 6).alias("value"),
        ),
        label="cdc_changelog_apply",
    )


@query("corpus_training_pipeline",
    _ORACLES["corpus_training_pipeline"],
    "X-pipeline flagship composition: quality gate -> exact dedup -> 4-gram decontamination -> leak-free split -> per-split stats, one Catalyst plan",
)
def q_corpus_training_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end training-data pipeline, composed entirely from
    already-oracle-verified operators: quality-score and gate (>= 0.3),
    deterministic exact dedup, benchmark holdout (salted md5 bucket)
    with 4-gram decontamination of the training side, leak-free
    80/10/10 hash split, and per-(split, lang) document/token/quality
    stats. Every stage is a narrow Catalyst transform — the only
    data-sized shuffles are the dedup fingerprint window, the gram
    join (benchmark side broadcast), and the final stats groupBy; the
    full chain is ONE lazily-planned DAG, so Catalyst pushes the
    quality filter beneath everything and prunes text as soon as grams
    and token counts are extracted."""
    from finance_reporting_etl_spark.functions.text import quality_score, token_count
    from finance_reporting_etl_spark.operators.corpus import (
        hash_split,
        md5_bucket,
        ngram_decontaminate,
    )
    from finance_reporting_etl_spark.operators.dedup import exact_dedup

    docs = _t(spark, sf_dir, "documents")
    scored = docs.withColumn("quality", quality_score("text")).filter(
        F.col("quality") >= 0.3
    )
    surv = exact_dedup(scored, "text", "doc_id")
    b = md5_bucket("doc_id", salt="decon")
    train, bench = surv.filter(b >= 13), surv.filter(b < 13)
    contaminated = ngram_decontaminate(train, bench, n=4).select("doc_id")
    clean = train.join(contaminated, "doc_id", "left_anti").withColumn(
        "n_toks", token_count(F.lower(F.col("text")))
    )
    sp = hash_split(clean, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    return sp.groupBy("split", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_toks").alias("n_tokens"),
        # integer-scaled exact mean: quality is 4dp-rounded, so the
        # x10000 sum is an exact integer in ANY aggregation order —
        # a float avg() near a rounding tie flips with partial-agg
        # order (observed run-to-run at sf0.001)
        det_round(
            F.sum(F.round(F.col("quality") * 10000).cast("long"))
            / (10000.0 * F.count(F.lit(1))),
            6,
        ).alias("avg_quality"),
    )


@query("entity_resolution_blocked",
    _ORACLES["entity_resolution_blocked"],
    "X-tier entity resolution: recall-complete multi-key blocking + Levenshtein verify + deterministic winner (no all-pairs join)",
)
def q_entity_resolution_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dirty-record linkage at join scale: every customer name gets one
    char deleted (position 10 + key%4, inside the zero-padding region
    — a deterministic typo), then the corrupted names are resolved
    against the clean table WITHOUT a cross join. The blocking key is
    the LAST 4 characters — the high-entropy end of a zero-padded id,
    so buckets stay tiny (~n/10^4 per side) — and it is
    recall-complete for this corruption class (a deletion left of the
    last 4 chars never changes them), so the true match is always a
    candidate; Levenshtein <= 2 verifies, min (distance, id) resolves.
    Blocking-key choice is the whole scale game: a low-entropy window
    (e.g. chars 10-13, constant "0000" across a zero-padded id space)
    funnels EVERY record into one bucket and re-creates the n^2 join
    — measured 500x slower at sf0.1 before this key was fixed. pytest
    pins blocking recall: every query resolves at distance 1, and
    accuracy is re-derived identically by both engines."""
    from finance_reporting_etl_spark.operators.dedup import blocked_entity_resolution

    cust = _t(spark, sf_dir, "customer")
    corrupted = cust.select(
        F.col("c_custkey").alias("query_id"),
        F.expr(
            "concat(substr(c_name, 1, 9 + (c_custkey % 4)),"
            " substr(c_name, 11 + (c_custkey % 4), 18))"
        ).alias("q_name"),
    )
    reference = cust.select(
        F.col("c_custkey").alias("ref_id"), F.col("c_name").alias("r_name")
    )
    blocks = [
        ("tail", lambda c: c.substr(F.length(c) - 3, F.lit(4))),
    ]
    resolved = blocked_entity_resolution(
        corrupted, reference, blocks, q_name="q_name", r_name="r_name"
    )
    return resolved.select(
        "query_id",
        "matched_id",
        "distance",
        (F.col("query_id") == F.col("matched_id")).alias("correct"),
    )


@query("event_transition_matrix",
    _ORACLES["event_transition_matrix"],
    "§2.5 sequence modeling: first-order Markov transition matrix over per-user event streams (lead window + conditional frequencies)",
)
def q_event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P(next event type | current) estimated from each user's
    time-ordered stream — the sequence-statistics building block for
    behavioral models and multi-touch attribution. One user-partitioned
    lead() window (a user's history never crosses partitions) and one
    25-cell aggregate; the normalizing window runs over the 5x5 result,
    not the data."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    counts = s.groupBy(
        F.col("event_type").alias("cur"), F.col("next_type").alias("nxt")
    ).agg(F.count(F.lit(1)).alias("n"))
    wn = Window.partitionBy("cur")
    return counts.select(
        "cur", "nxt", "n", det_round(F.col("n") / F.sum("n").over(wn), 6).alias("p")
    )


@query("copurchase_association_rules",
    _ORACLES["copurchase_association_rules"],
    "A/X-tier market-basket association rules: pair support / directional confidence / lift over order baskets (ordered pair join bounds the pair space)",
)
def q_copurchase_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over order baskets: support, both directional
    confidences, and lift for every part pair co-occurring in >= 2
    orders. Pair supports come from the shared persisted pair table
    (n_orders there IS the distinct co-order count, so the basket
    self-join is never re-run); item counts are a cheap group-by that
    broadcasts back onto the pair table."""
    li = _t(spark, sf_dir, "lineitem")
    baskets = li.select("l_orderkey", "l_partkey").distinct()
    n_orders = float(
        baskets.select(F.count_distinct("l_orderkey")).collect()[0][0]
    )
    item = baskets.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_item"))
    pairs = (
        _copurchase_pairs(spark, sf_dir)
        .filter(F.col("src") < F.col("dst"))
        .select(
            F.col("src").alias("item_a"),
            F.col("dst").alias("item_b"),
            F.col("n_orders").alias("n_ab"),
        )
        .filter(F.col("n_ab") >= 2)
    )
    ia = F.broadcast(item.select(F.col("l_partkey").alias("item_a"), F.col("n_item").alias("na")))
    ib = F.broadcast(item.select(F.col("l_partkey").alias("item_b"), F.col("n_item").alias("nb")))
    return (
        pairs.join(ia, "item_a")
        .join(ib, "item_b")
        .select(
            "item_a",
            "item_b",
            "n_ab",
            det_round(F.col("n_ab") / F.lit(n_orders), 6).alias("support"),
            det_round(F.col("n_ab") / F.col("na"), 6).alias("conf_a_to_b"),
            det_round(F.col("n_ab") / F.col("nb"), 6).alias("conf_b_to_a"),
            # single division of integer-exact operands: bitwise equal
            # across engines, so the 4dp rounding can't straddle a tie
            det_round(
                F.col("n_ab") * F.lit(n_orders) / (F.col("na") * F.col("nb")), 4
            ).alias("lift"),
        )
    )


@query("streaming_left_outer_interval_join",
    _ORACLES["streaming_left_outer_interval_join"],
    "§2.8 stream-stream LEFT OUTER interval join: inner matches emit on arrival, NULL pads emit only at watermark expiry, open-window rows emit nothing",
)
def q_streaming_left_outer_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The outer-join watermark contract, proven end to end: a
    NULL-padded row may only emit once the global watermark (min of
    both streams' max event time, minus the 2-day delay) passes
    view_ts + 1 day — earlier emission could be contradicted by a
    late purchase. Left rows whose join window is still open when the
    bounded replay drains emit NOTHING (they would wait forever on a
    real stream). The oracle encodes exactly that asymmetry: all inner
    matches, plus null pads only for unmatched views with
    view_ts + 1 day < watermark."""
    return _run_staged_interval_join(spark, sf_dir, "leftOuter")


@query("copurchase_clustering_coefficient",
    _ORACLES["copurchase_clustering_coefficient"],
    "X-tier graph: local clustering coefficient = triangles / C(degree,2) per node (composes triangle counting + degrees)",
)
def q_copurchase_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watts-Strogatz local clustering per part: how close each node's
    neighborhood is to a clique — the standard cohesion metric next to
    raw triangle counts (community detection, anomalous-hub screening).
    Composes the oriented triangle counts with the degree table; the
    ratio normalizes by C(deg, 2) possible neighbor pairs. Isolated-
    edge nodes (deg 1) get NULL, triangle-free nodes 0. Undirected
    edges ride the shared persisted pair table (src < dst half)."""
    edges = (
        _copurchase_pairs(spark, sf_dir)
        .filter(F.col("src") < F.col("dst"))
        .select(F.col("src").alias("id_a"), F.col("dst").alias("id_b"))
    )
    from finance_reporting_etl_spark.operators.graph import triangle_counts

    deg = (
        edges.select(F.col("id_a").alias("id"))
        .unionAll(edges.select(F.col("id_b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    tri = triangle_counts(edges)
    return deg.join(tri, "id", "left").select(
        "id",
        "degree",
        F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"),
        det_round(
            F.coalesce("n_triangles", F.lit(0))
            / F.nullif(F.col("degree") * (F.col("degree") - 1) / 2.0, F.lit(0)),
            6,
        ).alias("clustering_coeff"),
    )


@query("copurchase_triangle_counts",
    _ORACLES["copurchase_triangle_counts"],
    "X-tier graph: per-node triangle counts via degree-ordered orientation (wedge space sum d_out^2, hub-proof — no d^2 blowup)",
)
def q_copurchase_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle participation per part in the co-purchase graph — the
    local-clustering building block. Degree-ordered orientation makes
    every node's out-degree O(sqrt(m)) regardless of hubs, so the
    wedge self-join is bounded by sum d_out^2, not sum d^2; each
    triangle is generated exactly once (at its rank-minimum corner)
    and credited to all three corners. Pure equi-joins end to end.
    Undirected edges ride the shared persisted pair table (src < dst
    half)."""
    edges = (
        _copurchase_pairs(spark, sf_dir)
        .filter(F.col("src") < F.col("dst"))
        .select(F.col("src").alias("id_a"), F.col("dst").alias("id_b"))
    )
    from finance_reporting_etl_spark.operators.graph import triangle_counts

    return triangle_counts(edges)


@query("dbt_schema_tests",
    _ORACLES["dbt_schema_tests"],
    "O-tier dbt-test analog: unique / not_null / relationships / accepted_values compiled to aggregates + broadcast anti-joins",
)
def q_dbt_schema_tests(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's dbt ``tests:`` surface (schema tests evaluated
    after every `dbt run`): a declarative suite over the star schema —
    key uniqueness, not-null, referential integrity (orders->customer,
    lineitem->orders via broadcast LEFT ANTI joins), and domain checks.
    The `o_orderstatus IN ('O','F')` test is deliberately stricter than
    the data (status 'P' exists) so a NONZERO failure count flows
    through the report — proving failures are counted, not just that
    clean tables pass. Failure COUNTS, not failing rows, keep the
    report driver-safe at any scale."""
    from finance_reporting_etl_spark.plans.schema_tests import SchemaTest, TestSuite

    tables = {
        n: _t(spark, sf_dir, n) for n in ("customer", "orders", "lineitem", "events", "documents")
    }
    suite = TestSuite(
        [
            SchemaTest("customer", "c_custkey", "unique"),
            SchemaTest("customer", "c_custkey", "not_null"),
            SchemaTest("orders", "o_orderkey", "unique"),
            SchemaTest(
                "orders", "o_custkey", "relationships",
                to_table="customer", to_column="c_custkey",
            ),
            SchemaTest("orders", "o_orderstatus", "accepted_values", values=["O", "F"]),
            SchemaTest(
                "lineitem", "l_orderkey", "relationships",
                to_table="orders", to_column="o_orderkey",
            ),
            SchemaTest(
                "lineitem", "l_returnflag", "accepted_values", values=["A", "N", "R"]
            ),
            SchemaTest("events", "event_id", "unique"),
            SchemaTest("events", "user_id", "not_null"),
            SchemaTest(
                "documents", "lang", "accepted_values",
                values=["en", "de", "es", "fr", "zh"],
            ),
        ]
    )
    return suite.run(tables)


@query("dedup_incremental_batch",
    _ORACLES["dedup_incremental_batch"],
    "X1 incremental corpus ingestion: new batch deduped against the PERSISTED fingerprint index — the corpus itself is never rescanned",
)
def q_dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production shape of exact dedup at 100 TB: the corpus'
    fingerprint index (fp -> owning doc) is a maintained artifact, and
    each incoming batch joins against the INDEX — a table of one
    narrow row per distinct document — instead of rescanning corpus
    text. Batch rows are classified new / dup_of_corpus /
    dup_in_batch (lowest batch id wins within the batch, corpus
    ownership wins over batch ties), with the duplicate target
    reported. The index is oracle-shared; DuckDB re-derives every
    classification. Accepted rows' fingerprints would then be appended
    to the index — the maintenance step ``exact_dedup`` does in one
    shot for a static corpus (operators/dedup.py:34). Operator:
    operators.dedup.incremental_dedup_classify."""
    from finance_reporting_etl_spark.functions.text import fingerprint
    from finance_reporting_etl_spark.operators.dedup import (
        incremental_dedup_classify,
    )

    docs = _t(spark, sf_dir, "documents")
    existing = docs.filter(F.col("doc_id") % 5 != 0)
    # the incoming batch mixes genuinely new docs, corpus resubmissions
    # (re-cased/whitespace-padded — normalization-equal), and
    # within-batch duplicates, so every classification path executes
    batch = (
        docs.filter(F.col("doc_id") % 5 == 0)
        .select("doc_id", "text")
        .unionByName(
            docs.filter((F.col("doc_id") % 5 != 0) & (F.col("doc_id") % 7 == 0)).select(
                (F.col("doc_id") + 100000).alias("doc_id"),
                F.concat(F.upper("text"), F.lit("  ")).alias("text"),
            )
        )
        .unionByName(
            docs.filter((F.col("doc_id") % 5 == 0) & (F.col("doc_id") % 3 == 0)).select(
                (F.col("doc_id") + 200000).alias("doc_id"), "text"
            )
        )
    )
    index = _persist_aux(
        spark,
        existing.select(fingerprint("text").alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.min("doc_id").alias("owner_id")),
        "incr_fp_index",
    )
    b = batch.select("doc_id", fingerprint("text").alias("fp"))
    return incremental_dedup_classify(b, index)


def _copurchase_weighted_edges_sql() -> str:
    return f"""
        SELECT src, dst, CAST(n_orders AS DOUBLE) AS w
        FROM '{_AUX_DIR}/copurchase_pairs/*.parquet'
    """


def _pagerank_weighted_oracle() -> str:
    from finance_reporting_etl_spark.operators.graph import pagerank_weighted_oracle_sql

    return pagerank_weighted_oracle_sql(
        _copurchase_weighted_edges_sql(), damping=0.85, iters=8
    )


@query("part_copurchase_pagerank_weighted",
    _pagerank_weighted_oracle(),
    "X-tier weighted PageRank: contributions proportional to co-order counts (oracle = unrolled weighted iteration)",
)
def q_part_copurchase_pagerank_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-purchase PageRank where an edge's pull scales with HOW OFTEN
    the pair was co-ordered (contrib = rank * w / weighted-out-degree)
    — the form link-graph quality weighting actually uses (a domain
    linked 1000x should pull harder than a one-off). Same
    broadcast-rank loop as the unweighted operator; weighted degrees
    ride the cached edges. Unweighted PageRank is the w=1 special
    case, so the two queries' rank orderings diverging is itself
    evidence the weights flow through (they do — co-order counts are
    skewed). Edges ride the shared persisted pair table
    (:func:`_copurchase_pairs`): w = distinct co-order count."""
    edges = _copurchase_pairs(spark, sf_dir).select(
        "src", "dst", F.col("n_orders").cast("double").alias("w")
    )
    from finance_reporting_etl_spark.operators.graph import pagerank_weighted

    # symmetric=True: same both-directions pair table as the
    # unweighted query — skip the per-iteration node re-attach join
    return pagerank_weighted(edges, damping=0.85, iters=8, symmetric=True).select(
        "id", det_round("rank", 6).alias("rank")
    )


def _copurchase_repeat_edges_sql() -> str:
    # co-purchase pairs seen in >= 2 order lines: a much sparser graph
    # than the raw co-purchase clique union (threshold prunes the
    # one-off pairs), so BFS frontiers stay meaningful for several hops
    return f"""
        SELECT src, dst FROM '{_AUX_DIR}/copurchase_pairs/*.parquet'
        WHERE n_lines >= 2
    """


def _bfs_oracle() -> str:
    from finance_reporting_etl_spark.operators.graph import bfs_oracle_sql

    return bfs_oracle_sql(
        _copurchase_repeat_edges_sql(),
        "SELECT DISTINCT src AS id FROM edges WHERE src % 97 = 0",
        max_hops=4,
    )


@query("copurchase_bfs_distances",
    _bfs_oracle(),
    "X-tier iterative graph: multi-source BFS / reachability (frontier expansion, anti-join settles; oracle = unrolled min-agg CTEs)",
)
def q_copurchase_bfs_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum hop count from seed parts (partkey % 97 == 0) over the
    repeat-co-purchase graph (pairs co-ordered >= 2 times), capped at 4
    hops — the 'how far is every item from a curated seed set' shape
    (catalog expansion, contamination blast-radius). Frontier BFS: each
    round touches only edges incident to the newest frontier; settled
    nodes are anti-joined away, so per-round work shrinks as the search
    saturates. Integer arithmetic end-to-end — the unrolled oracle
    hash-matches every (node, distance) pair exactly. Edges ride the
    shared persisted pair table filtered to n_lines >= 2."""
    from finance_reporting_etl_spark.operators.graph import bfs_distances

    edges = (
        _copurchase_pairs(spark, sf_dir)
        .filter(F.col("n_lines") >= 2)
        .select("src", "dst")
    )
    sources = edges.select("src").distinct().filter(F.col("src") % 97 == 0)
    return bfs_distances(edges, sources, max_hops=4)


@query("span_dedup_rewrite",
    _ORACLES["span_dedup_rewrite"],
    "X1/X-pipeline span-level dedup WITH document rewrite: global keep-first over 32-token spans, docs reassembled in span order (Lee-et-al exact-substring scrub, rewrite stage)",
)
def q_span_dedup_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rewrite half of substring dedup: `chunk_dedup_occurrences`
    FINDS repeated spans; this removes every later occurrence of a
    repeated 32-token span (keep-first by (doc_id, span order)) and
    reassembles each document's surviving spans into cleaned text — the
    pass that actually scrubs boilerplate out of a training corpus.

    Two uniform shuffles: one on the span fingerprint (md5 — no skew)
    for the global keep-first window, one on doc_id to reassemble.
    Reassembly sorts span structs INSIDE the row (array_sort of
    (idx, text) structs) instead of a per-doc ordered window — order
    restored without a third exchange. At 100 TB both keys are
    fine-grained and uniform; nothing buffers more than one document.
    Operator: operators.dedup.span_dedup_rewrite."""
    from finance_reporting_etl_spark.operators.dedup import span_dedup_rewrite

    return span_dedup_rewrite(_t(spark, sf_dir, "documents"), span_tokens=32)


@query("winsorized_value_stats",
    _ORACLES["winsorized_value_stats"],
    "A-tier robust stats: nearest-rank winsorization (p01/p99 clip) + integer-scaled exact moments — outlier-robust per-group mean/sd",
)
def q_winsorized_value_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlier-robust per-type value stats: clip at the exact
    nearest-rank p01/p99 ORDER STATISTICS (real data values, so the
    clipped column keeps the fixture's 2-decimal grid), then compute
    mean/sd over integer-scaled cents — sums are exact integers in any
    partial-aggregation order, the single float division at the end is
    IEEE-identical across engines (the PLANS.md #10 tie-proofing
    recipe applied to second moments). The rank pass is a group-
    partitioned window (spills, never buffers a group); bounds are a
    groups-sized broadcast join back. Operator:
    operators.ranking.winsorized_group_stats."""
    from finance_reporting_etl_spark.operators.ranking import (
        winsorized_group_stats,
    )

    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    return winsorized_group_stats(ev, "event_type", "value", "event_id")


@query("bm25_search_topk",
    _ORACLES["bm25_search_topk"],
    "X4 BM25 ranked search (disjunctive): saturating tf + doc-length normalization over the same inverted-index shape as keyword_search_topk",
)
def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 documents for {vector, merge, stream} under Okapi BM25
    (k1=1.2, b=0.75) — OR semantics, so it also exercises the
    partial-match ranking path `keyword_search_topk`'s conjunctive
    filter never reaches. Doc length and tf aggregate in ONE postings
    pass; (N, avgdl) is a 1-row broadcast."""
    from finance_reporting_etl_spark.operators.corpus import bm25_search

    return bm25_search(
        _t(spark, sf_dir, "documents"), ["vector", "merge", "stream"], k=10
    )


@query("streaming_sliding_window_counts",
    _ORACLES["streaming_sliding_window_counts"],
    "§2.8 sliding event-time windows (6h window / 2h slide) on a watermarked stream == per-event 3-window expansion in SQL",
)
def q_streaming_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """6-hour windows sliding every 2 hours over the event stream: each
    event is expanded map-side into its 3 covering windows (no
    self-join), streaming state holds horizon/slide open windows per
    group and the watermark closes each exactly once. The oracle does
    the same expansion explicitly (bucket - 2h*k for k in 0..2). Epoch
    alignment agrees between engines: Spark windows align to the Unix
    epoch, DuckDB time_bucket to 2000-01-03, and their offset is a
    whole multiple of the 2h slide."""
    import uuid

    from finance_reporting_etl_spark.streaming.rollup import streaming_rollup
    from finance_reporting_etl_spark.streaming.staging import run_file_stream

    events = _t(spark, sf_dir, "events")
    name = f"slide_stream_{uuid.uuid4().hex[:8]}"
    return run_file_stream(
        spark,
        lambda src: events.write.mode("overwrite").parquet(src),
        lambda src, schema, tmp: streaming_rollup(
            spark, src, schema, checkpoint_dir=f"{tmp}/ckpt", output_table=name,
            bucket="6 hours", slide="2 hours", watermark="12 hours",
        ),
        lambda tmp: spark.table(name),
        label="streaming_sliding_window_counts",
    )


@query("asof_cogroup_pandas",
    _ORACLES["asof_cogroup_pandas"],
    "§2.9 cogrouped-map applyInPandas: per-key pandas as-of merge == the window-form asof_join == DuckDB ASOF JOIN",
)
def q_asof_cogroup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME as-of contract as `asof_latest_view_before_purchase`
    (identical oracle), executed through the cogroup surface: both
    sides hash-partition by user, each user's purchases and views meet
    in one Arrow-batched pandas call doing a vectorized searchsorted.
    Having both implementations verified against one oracle pins their
    equivalence; the window form stays the production default (one
    shuffle, JVM-side — see operators/asof.py docstrings)."""
    from finance_reporting_etl_spark.operators.asof import asof_join_cogroup

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts", "value"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "event_id", "value"
    )
    return asof_join_cogroup(
        purchases,
        views,
        ["user_id"],
        right_cols=["event_id", "value"],
        tiebreak="event_id",
    )


@query("target_encode_brand",
    _ORACLES["target_encode_brand"],
    "X-pipeline categorical target encoding: additive-smoothed per-category event rate (shrinks rare categories toward the global prior)",
)
def q_target_encode_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed target encoding of part brand by return rate:
    encoded = (pos + alpha * prior) / (n + alpha), alpha=20 — the
    leakage-averse categorical feature for tabular models (rare brands
    shrink toward the global prior instead of memorizing noise).
    Labels come from a broadcast dim join (part is the small side);
    counts are exact integers (any partial-agg order), the prior and
    the encoding are single float divisions, so the oracle hash-matches
    bit-for-bit. The 1-row prior attaches via broadcast cross join."""
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_returnflag")
    pt = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    lab = li.join(
        F.broadcast(pt), li.l_partkey == pt.p_partkey
    ).select(
        "p_brand", (F.col("l_returnflag") == "R").cast("int").alias("y")
    )
    stats = lab.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("pos")
    )
    g = lab.agg((F.sum("y").cast("double") / F.count(F.lit(1))).alias("prior"))
    return stats.crossJoin(F.broadcast(g)).select(
        "p_brand",
        "n",
        "pos",
        det_round(F.col("pos").cast("double") / F.col("n"), 6).alias("raw_rate"),
        det_round(
            (F.col("pos") + 20.0 * F.col("prior")) / (F.col("n") + 20.0), 6
        ).alias("encoded"),
    )


@query("streaming_static_dim_join",
    _ORACLES["streaming_static_dim_join"],
    "§2.8 stream-static join: micro-batched event stream enriched by a broadcast dimension, then aggregated == batch join",
)
def q_streaming_static_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The enrich-then-aggregate streaming shape: each micro-batch of
    the event stream joins to a STATIC customer dimension (broadcast —
    re-planned per batch, no stream-stream state) before a running
    segment x type aggregate. This is the standard 100 TB layout for
    dims that change slowly: keep the dim as a table, let every batch
    broadcast-join it, reserve stateful stream-stream joins for two
    genuinely unbounded sides. Replayed as 4 chronologically-unordered
    micro-batches (maxFilesPerTrigger=1); complete-mode aggregate ==
    the batch join bit-for-bit. Operator:
    streaming.joins.streaming_static_dim_rollup."""
    import uuid

    from finance_reporting_etl_spark.streaming.joins import (
        streaming_static_dim_rollup,
    )
    from finance_reporting_etl_spark.streaming.staging import run_file_stream

    events = _t(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    dim = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    name = f"dimjoin_stream_{uuid.uuid4().hex[:8]}"
    return run_file_stream(
        spark,
        lambda src: events.repartition(4).write.mode("overwrite").parquet(src),
        lambda src, schema, tmp: streaming_static_dim_rollup(
            spark, src, schema, dim,
            checkpoint_dir=f"{tmp}/ckpt", output_table=name,
        ),
        lambda tmp: spark.table(name),
        label="streaming_static_dim_join",
    )


@query("k_anonymity_suppress",
    _ORACLES["k_anonymity_suppress"],
    "O-tier data governance: k-anonymity suppression (k=10) over quasi-identifiers — rare (segment, nation) combos nulled before export",
)
def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-export anonymization: any (market segment, nation) combo
    shared by fewer than k=10 customers is suppressed (both
    quasi-identifiers nulled) so no exported row is re-identifiable to
    a group smaller than k. Group sizes come from one aggregate whose
    result is bounded by the QI domain (segments x nations), broadcast
    back onto the row stream — a map-side decision at any scale."""
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_nationkey"
    )
    g = c.groupBy("c_mktsegment", "c_nationkey").agg(
        F.count(F.lit(1)).alias("grp_n")
    )
    ok = F.col("grp_n") >= 10
    return c.join(F.broadcast(g), ["c_mktsegment", "c_nationkey"]).select(
        "c_custkey",
        F.when(ok, F.col("c_mktsegment")).alias("segment_anon"),
        F.when(ok, F.col("c_nationkey")).alias("nation_anon"),
        (F.col("grp_n") < 10).alias("suppressed"),
        "grp_n",
    )


@query("dp_noisy_event_counts",
    _ORACLES["dp_noisy_event_counts"],
    "X-privacy: epsilon-DP count release — seeded Laplace(sensitivity/epsilon) noise via inverse-CDF of an md5 uniform; complements k_anonymity_suppress (suppression) with perturbation",
)
def q_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private release of per-type event counts:
    Laplace(1/epsilon) noise on each count (sensitivity 1 for a
    unit-contribution count query, epsilon = 1). The noise is SEEDED —
    inverse-CDF applied to an md5-derived uniform
    (functions.scalars.seeded_laplace) — so the release is
    reproducible and the oracle re-derives the identical mechanism;
    production swaps the md5 seed for a secret key, changing nothing
    about calibration. Pure map-side expression on a groups-sized
    aggregate; the true counts never leave the plan."""
    from finance_reporting_etl_spark.functions.scalars import seeded_laplace

    eps = 1.0
    g = (
        _t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    return g.select(
        "event_type",
        det_round(F.col("__n") + seeded_laplace("event_type", "dp1", 1.0 / eps), 6).alias(
            "noisy_count"
        ),
        F.lit(eps).alias("epsilon"),
    )


@query("embedding_int8_quantize",
    _ORACLES["embedding_int8_quantize"],
    "X3 vector infra: per-vector symmetric int8 scalar quantization (4x memory cut) with exact reconstruction-error audit — element-wise, no aggregation order anywhere",
)
def q_embedding_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column: per-vector
    scale = 127 / max|x|, codes = round(x * scale) — the 4x memory/IO
    cut before ANN serving, with the reconstruction-error audit
    (max |x - code/scale|, saturated-code count) computed in the same
    pass. Everything is element-wise double math inside array
    transforms (whole-stage codegen, map-side, zero shuffles), and no
    float SUM exists anywhere, so the oracle hash-matches without any
    summation-order defense."""
    vd = F.transform("embedding", lambda x: x.cast("double"))
    df = _t(spark, sf_dir, "embeddings").select("vec_id", vd.alias("vd"))
    scale = F.lit(127.0) / F.array_max(F.transform("vd", F.abs))
    df = df.withColumn("scale", scale)
    err = F.array_max(
        F.transform(
            "vd",
            lambda x: F.abs(x - F.round(x * F.col("scale")) / F.col("scale")),
        )
    )
    n_sat = F.size(
        F.filter(
            "vd", lambda x: F.abs(F.round(x * F.col("scale"))) == 127.0
        )
    )
    return df.select(
        "vec_id",
        det_round("scale", 6).alias("scale"),
        det_round(err, 6).alias("max_abs_err"),
        n_sat.alias("n_sat"),
    )


@query("abc_customer_classification",
    _ORACLES["abc_customer_classification"],
    "A-tier Pareto/ABC analysis: exact global revenue prefix sum with NO single-partition window (distributed_cumsum — the ntile bucket/offset recipe generalized to running totals)",
)
def q_abc_customer_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic ABC: rank customers by lifetime revenue, classify by
    cumulative revenue share (A <= 80%, B <= 95%, C rest). The naive
    form is `sum() OVER (ORDER BY rev DESC)` — a SinglePartition
    exchange, the same 100x-scale killer the deciles query had.
    `distributed_cumsum` computes the identical exact prefix sum via
    sketch-bucketed ranges + broadcast bucket offsets + per-bucket
    windows. Revenue is integer cents so every partial sum is exact;
    the share is one double division both engines compute
    identically."""
    from finance_reporting_etl_spark.operators.ranking import distributed_cumsum

    r = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias(
                "rev_cents"
            )
        )
    )
    tot = r.agg(F.sum("rev_cents").cast("double").alias("__tot"))
    c = distributed_cumsum(
        r.withColumn("__negrev", -F.col("rev_cents")),
        sum_col="rev_cents",
        key_col="__negrev",
        tiebreak_cols=["o_custkey"],
        out_col="cum",
    )
    share = F.col("cum").cast("double") / F.col("__tot")
    return c.crossJoin(F.broadcast(tot)).select(
        "o_custkey",
        "rev_cents",
        det_round(share, 6).alias("cum_share"),
        F.when(share <= 0.80, "A")
        .when(share <= 0.95, "B")
        .otherwise("C")
        .alias("abc_class"),
    )


@query("business_days_to_ship",
    _ORACLES["business_days_to_ship"],
    "§2.7 calendar arithmetic: business-day (weekday) distance via closed-form weekday counting — no calendar dimension table needed",
)
def q_business_days_to_ship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average WEEKDAYS from order to ship per priority. Weekday
    distance uses the closed form f(d) = 5*(days/7) + min(days%7, 5)
    anchored on a Monday (1970-01-05), so bd = f(ship) - f(order) —
    pure integer column math instead of exploding a calendar spine or
    joining a date dimension (which at 100 TB is a pointless broadcast
    per row). Integer sums + one final division keep the oracle
    hash-exact."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )

    def f(col: str):
        days = f"datediff({col}, DATE'1970-01-05')"
        return f"(5 * ({days} div 7) + least({days} % 7, 5))"

    bd = F.expr(f"{f('l_shipdate')} - {f('o_orderdate')}").alias("bd")
    j = li.join(o, li.l_orderkey == o.o_orderkey).select("o_orderpriority", bd)
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        det_round(F.sum("bd").cast("double") / F.count(F.lit(1)), 6).alias(
            "avg_business_days"
        ),
        F.max("bd").cast("bigint").alias("max_business_days"),
    )


@query("event_trigram_paths",
    _ORACLES["event_trigram_paths"],
    "§2.5 sequential pattern mining: top event trigrams per user journey (double lead window -> count; the 3-step extension of the transition matrix)",
)
def q_event_trigram_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 three-step user journeys (A>B>C): two stacked `lead`s
    over the per-user time order, then a plain count — the cheap
    sequential-pattern mine that answers 'what do users actually do
    next' without a sequence-mining library. One user-partitioned
    window + one uniform path shuffle; top-10 via
    TakeOrderedAndProject, rank assigned over the surviving <=10
    rows."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = (
        _t(spark, sf_dir, "events")
        .select(
            "user_id",
            F.col("event_type").alias("e1"),
            F.lead("event_type", 1).over(w).alias("e2"),
            F.lead("event_type", 2).over(w).alias("e3"),
        )
        .filter(F.col("e3").isNotNull())
        .select(F.concat_ws(">", "e1", "e2", "e3").alias("path"))
    )
    counts = s.groupBy("path").agg(F.count(F.lit(1)).alias("n"))
    top = counts.orderBy(F.desc("n"), "path").limit(10)
    wr = Window.orderBy(F.desc("n"), "path")
    return top.select("path", "n", F.row_number().over(wr).cast("long").alias("rank"))


@query("corpus_token_budget_select",
    _ORACLES["corpus_token_budget_select"],
    "X-pipeline token-budget curation: best-first (type-token-ratio) selection until a 50% token budget — distributed_cumsum applied to corpus building",
)
def q_corpus_token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'Fill the training budget with the best data first': rank
    documents by type-token ratio (vocabulary diversity — the cheap
    repetition-quality proxy), take documents in quality order until
    the cumulative token count hits 50% of the corpus. The cutoff
    needs an exact GLOBAL running total in quality order — at corpus
    scale that is `distributed_cumsum` (bucketed prefix sum, no
    single-partition window), with integer token counts so the
    cumulative is exact in any partial order. The budget scalar is a
    1-row broadcast."""
    from finance_reporting_etl_spark.operators.ranking import distributed_cumsum

    toks = F.filter(F.split(F.trim(F.lower("text")), r"\s+"), lambda t: t != "")
    s = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_tok"),
        det_round(
            F.size(F.array_distinct(toks)).cast("double")
            / F.greatest(F.size(toks), F.lit(1)),
            6,
        ).alias("ttr"),
        # narrow (id, count, ratio) rows; budget agg + cumsum sketch +
        # two cumsum branches would otherwise re-tokenize every
        # document four times (persist-upstream contract of
        # distributed_cumsum)
    ).localCheckpoint(eager=True)
    budget = s.agg((F.sum("n_tok") / F.lit(2)).cast("bigint").alias("__budget"))
    c = distributed_cumsum(
        s.withColumn("__negttr", -F.col("ttr")),
        sum_col="n_tok",
        key_col="__negttr",
        tiebreak_cols=["doc_id"],
        out_col="cum_tokens",
    )
    return (
        c.crossJoin(F.broadcast(budget))
        .filter(F.col("cum_tokens") <= F.col("__budget"))
        .select("doc_id", "n_tok", "ttr", "cum_tokens")
    )


@query("session_bounce_rate",
    _ORACLES["session_bounce_rate"],
    "§2.5/§2.8 product analytics: daily bounce rate (share of single-event gap-sessions) composed from session_window",
)
def q_session_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share of sessions that end after one event, per day of session
    start — the engagement KPI every product dashboard carries.
    Sessions come from the native `session_window` aggregate (30-min
    gap); the oracle independently rebuilds the same sessions with the
    lag/cumsum island method, so the two formulations are pinned
    equal. Counts are exact; the rate is one division."""
    ev = _t(spark, sf_dir, "events")
    sessions = ev.groupBy(
        F.session_window(F.col("ts"), "30 minutes").alias("w"), "user_id"
    ).agg(F.count(F.lit(1)).alias("n_events"))
    day = F.col("w.start").cast("date").alias("day")
    bounce = (F.col("n_events") == 1).cast("int")
    return (
        sessions.select(day, "n_events")
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum(bounce).cast("bigint").alias("n_bounce"),
            det_round(
                F.sum(bounce).cast("double") / F.count(F.lit(1)), 6
            ).alias("bounce_rate"),
        )
    )


@query("decision_stump_train",
    _ORACLES["decision_stump_train"],
    "X-tier distributed ML training: depth-1 decision tree (best Gini split) — candidate evaluation via prefix sums over per-value counts, never a per-threshold rescan",
)
def q_decision_stump_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trains a decision stump (is this line item a return?) over two
    features and reports the 10 best splits by Gini gain. The scalable
    trick: candidate thresholds never rescan the data — per-value
    class counts (one aggregate) turn into every threshold's
    left/right counts via a prefix sum ordered by value, so cost is
    O(data) + O(distinct values), the same structure real tree
    learners (LightGBM histograms) use. Counts are exact integers;
    the Gini expressions are identical double math on both engines;
    argmax is deterministic via (gain, feature, thr) ordering. The
    candidate evaluation lives in operators/ml.py and is shared with
    `decision_tree_depth2`."""
    from pyspark.sql import Window

    from finance_reporting_etl_spark.operators.ml import (
        melt_features,
        stump_candidates,
    )

    li = _t(spark, sf_dir, "lineitem").select(
        "l_quantity",
        "l_discount",
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
    )
    sc = stump_candidates(
        melt_features(li, {"quantity": "l_quantity", "discount": "l_discount"}, "y")
    )
    top = sc.orderBy(F.desc("gini_gain"), "feature", "thr").limit(10)
    wr = Window.orderBy(F.desc("gini_gain"), "feature", "thr")
    return top.select(
        "feature",
        "thr",
        "n_left",
        "n_right",
        "gini_gain",
        F.row_number().over(wr).cast("long").alias("rank"),
    )


@query("join_key_skew_profile",
    _ORACLES["join_key_skew_profile"],
    "O-tier skew diagnostics: top-20 join keys by row share + skew factor (n/avg) — the pre-join audit that decides salting vs AQE",
)
def q_join_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The audit you run BEFORE a big join: per-key row counts, share
    of the table, and skew factor (count / mean count). Keys with
    skew_factor in the hundreds want salting (operators/scale.py) or
    AQE skew-split; everything here is one map-side-combined aggregate
    plus a 1-row scalar broadcast, with TakeOrderedAndProject doing
    the top-20. Operator: operators.scale.join_key_skew_profile."""
    from finance_reporting_etl_spark.operators.scale import join_key_skew_profile

    return join_key_skew_profile(_t(spark, sf_dir, "lineitem"), "l_partkey", k=20)


@query("rolling_correlation_series",
    _ORACLES["rolling_correlation_series"],
    "§2.5 time-series analytics: 14-day rolling Pearson correlation between two revenue series — integer-cent moments make every window sum exact",
)
def q_rolling_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 14-day correlation between daily purchase and view
    revenue (do the series move together this fortnight?). All five
    rolling moments are integer-cent sums — exact in any order — and
    the Pearson formula is assembled from them in identical double
    math, so the oracle hash-matches. The ordered window runs over
    the DAYS-sized daily table (bounded — one row per calendar day),
    not the event stream; warm-up rows (n < 14) are dropped. Int64
    headroom: cents^2 x 14 days stays far under 2^63 at any fixture
    SF; switch moments to whole currency units before trillion-cent
    days. Operator: operators.timeseries.rolling_pearson."""
    from finance_reporting_etl_spark.operators.timeseries import rolling_pearson

    d = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("purchase", "view"))
        .groupBy(
            F.col("ts").cast("date").alias("day"), "event_type"
        )
        .agg(F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("cents"))
    )
    a = d.filter(F.col("event_type") == "purchase").select(
        "day", F.col("cents").alias("x")
    )
    b = d.filter(F.col("event_type") == "view").select(
        "day", F.col("cents").alias("y")
    )
    return rolling_pearson(a.join(b, "day"), window_rows=14)


@query("ab_test_conversion_lift",
    _ORACLES["ab_test_conversion_lift"],
    "A-tier experimentation analytics: deterministic md5 arm assignment + per-arm conversion rate with Wilson 95% interval (exact counts, closed-form floats)",
)
def q_ab_test_conversion_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B readout: users hash deterministically into arms (salted
    md5 — the same engine-portable bucketing as the corpus split, so
    assignment is reproducible anywhere), conversion = user ever
    purchased, and each arm reports rate with a Wilson 95% interval
    (the interval that stays sane at small n / extreme rates, unlike
    the normal approximation). Counts are exact; every float is a
    closed-form expression on those counts, evaluated identically by
    both engines. One groupBy(user) + one groups-sized aggregate."""
    from finance_reporting_etl_spark.operators.corpus import md5_bucket

    ev = _t(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.max((F.col("event_type") == "purchase").cast("int")).alias("converted")
    ).select(
        F.when(md5_bucket("user_id", 256, salt="ab1") % 2 == 0, "A")
        .otherwise("B")
        .alias("arm"),
        "converted",
    )
    n = F.count(F.lit(1))
    conv = F.sum("converted").cast("double")
    rate = conv / n
    z2_half = F.lit(1.9208) / n  # z^2/2 with z = 1.96
    margin = F.lit(1.96) * F.sqrt(
        rate * (F.lit(1.0) - rate) / n + F.lit(0.9604) / n / n  # z^2/4/n^2
    )
    denom = F.lit(1.0) + F.lit(3.8416) / n  # 1 + z^2/n
    return u.groupBy("arm").agg(
        n.alias("n_users"),
        F.sum("converted").cast("bigint").alias("n_converted"),
        det_round(rate, 6).alias("rate"),
        det_round((rate + z2_half - margin) / denom, 6).alias("wilson_lo"),
        det_round((rate + z2_half + margin) / denom, 6).alias("wilson_hi"),
    )


@query("trading_day_rollup",
    _ORACLES["trading_day_rollup"],
    "§2.7 time-zone semantics: exchange-local (America/New_York) trading-day rollup — DST-correct wall-clock bucketing of a UTC event stream",
)
def q_trading_day_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily rollup on the EXCHANGE's calendar, not UTC's: a 23:30 New
    York trade belongs to that NY day even though UTC has already
    rolled over. `from_utc_timestamp(ts, 'America/New_York')` applies
    the real tzdata rules (including DST transitions), and both
    engines share the same tz database, so the oracle hash-matches
    across the spring-forward/fall-back boundaries. Sums are integer
    cents — exact in any order."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.select(
            F.from_utc_timestamp("ts", "America/New_York")
            .cast("date")
            .alias("trading_day"),
            "event_type",
            F.round(F.col("value") * 100).cast("bigint").alias("c"),
        )
        .groupBy("trading_day", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("c").alias("cents"),
        )
    )


@query("dow_seasonality_index",
    _ORACLES["dow_seasonality_index"],
    "§2.5/§2.7 seasonality profile: day-of-week revenue index (dow mean / overall mean) — exact integer cents, single divisions",
)
def q_dow_seasonality_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly seasonality: each day-of-week's average daily revenue as
    a multiple of the overall daily average (index 1.0 = typical day)
    — the profile that feeds staffing/capacity models and anomaly
    baselines. Daily totals are integer cents (exact in any order);
    both ratios are single double divisions both engines evaluate
    identically. Day-of-week numbering is pinned to Spark's dayofweek
    (1=Sunday..7=Saturday); DuckDB's 0-based dayofweek is shifted +1
    in the oracle to match."""
    ev = _t(spark, sf_dir, "events")
    d = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("cents")
    )
    k = d.groupBy(F.dayofweek("day").alias("dow")).agg(
        F.count(F.lit(1)).alias("n_days"), F.sum("cents").alias("cents")
    )
    t = k.agg(
        (F.sum("cents").cast("double") / F.sum("n_days")).alias("__overall")
    )
    per_day = F.col("cents").cast("double") / F.col("n_days")
    return k.crossJoin(F.broadcast(t)).select(
        "dow",
        "n_days",
        det_round(per_day / 100.0, 6).alias("avg_daily_revenue"),
        det_round(per_day / F.col("__overall"), 6).alias("seasonality_index"),
    )


@query("seed_sla_attainment",
    _ORACLES["seed_sla_attainment"],
    "S-tier dbt-seed analog: literal in-code dimension (priority -> SLA days) broadcast-joined to facts; SLA attainment via business-day distance",
)
def q_seed_sla_attainment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dbt 'seed' parity: small hand-maintained dimensions live as
    literal rows in code (versioned with the models), get broadcast
    onto the fact stream, and never touch external storage. Here the
    seed maps order priority to an SLA in business days; attainment =
    share of line items shipped within SLA using the closed-form
    weekday distance from `business_days_to_ship`. Counts exact,
    one division."""
    sla = spark.createDataFrame(
        [
            ("1-URGENT", 5),
            ("2-HIGH", 7),
            ("3-MEDIUM", 10),
            ("4-NOT SPECIFIED", 14),
            ("5-LOW", 21),
        ],
        "o_orderpriority string, sla_business_days int",
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )

    def f(col: str):
        days = f"datediff({col}, DATE'1970-01-05')"
        return f"(5 * ({days} div 7) + least({days} % 7, 5))"

    bd = F.expr(f"{f('l_shipdate')} - {f('o_orderdate')}").alias("bd")
    b = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(sla), "o_orderpriority")
        .select("o_orderpriority", "sla_business_days", bd)
    )
    met = (F.col("bd") <= F.col("sla_business_days")).cast("int")
    return b.groupBy("o_orderpriority", "sla_business_days").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(met).cast("bigint").alias("n_met"),
        det_round(F.sum(met).cast("double") / F.count(F.lit(1)), 6).alias(
            "attainment"
        ),
    )


@query("capped_user_balance",
    _ORACLES["capped_user_balance"],
    "custom per-key recursive fold #2: floor-clamped running balance — closed-form max-prefix-gap identity, pure window algebra (== DuckDB list_reduce fold)",
)
def q_capped_user_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Credit-style running balance per user: purchases add cents,
    every other event spends them, and the balance can never go below
    zero — b_t = max(0, b_{t-1} + delta_t). The clamp LOOKS
    fold-only, but integer max-clamp recurrences have a closed form
    (max-prefix-gap identity, operators/timeseries.py), so this runs
    as two chained window passes over one user-partitioned sort —
    pure whole-stage codegen, zero Python (round-5 rework, PLANS.md
    #26). Deltas are integer cents, so the result is exact — the
    oracle replays the literal step-by-step fold with list_reduce,
    seeded by a prepended 0 so one-event groups follow the same clamp
    path; fold == closed form is exactly the identity under test."""
    from finance_reporting_etl_spark.operators.timeseries import (
        clamped_balance_per_key,
    )

    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        (
            F.round(F.col("value") * 100).cast("bigint")
            * F.when(F.col("event_type") == "purchase", 1).otherwise(-1)
        ).alias("delta"),
    )
    return clamped_balance_per_key(ev, "user_id", ["ts", "event_id"], "delta")


@query("embedding_outlier_flags",
    _ORACLES["embedding_outlier_flags"],
    "X3 embedding quality: distance-to-centroid outlier flags (persisted-stats oracle re-derives every distance + flag; centroid/mu/sigma determinism pinned by pytest)",
)
def q_embedding_outlier_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flags embeddings far from the corpus centroid (dist > mu + 2
    sigma) — the cheap first-pass filter for corrupt / out-of-domain
    vectors before they poison ANN indexes or dedup. The centroid and
    the distance-distribution scalars (mu, sigma) involve float sums
    whose order Spark does not pin, so they are persisted once via the
    aux-table pattern; every per-vector DISTANCE and FLAG is then
    re-derived independently by the oracle with an identical
    left-fold, and hash-compared. Map-side only after the two scalar
    aggregates; no shuffle touches data-sized rows. Operator:
    operators.inference.embedding_outlier_flags."""
    from finance_reporting_etl_spark.operators.inference import (
        embedding_outlier_flags,
    )

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("vd")
    )
    return embedding_outlier_flags(
        emb, 64, persist_stats=lambda df: _persist_aux(spark, df, "emb_outlier_stats")
    )


@query("revenue_bridge_mom",
    _ORACLES["revenue_bridge_mom"],
    "A-tier finance bridge: month-over-month revenue decomposed into volume x value effects (delta = volume + value exactly, by construction)",
)
def q_revenue_bridge_mom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reporting 'waterfall': how much of each month's revenue
    change came from MORE events (volume effect, at last month's
    average ticket) vs BIGGER events (value effect, on this month's
    volume). Defined so volume + value == delta exactly:
    (n1-n0)*a0 + n1*(a1-a0) = n1*a1 - n0*a0. Monthly totals are
    integer cents; the effects are identical double expressions, and
    the lag window is partitioned by series — nothing global."""
    from pyspark.sql import Window

    m = (
        _t(spark, sf_dir, "events")
        .groupBy(
            "event_type", F.date_trunc("month", "ts").cast("date").alias("month")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("cents"),
        )
    )
    win = Window.partitionBy("event_type").orderBy("month")
    w = m.withColumn("n0", F.lag("n").over(win)).withColumn(
        "cents0", F.lag("cents").over(win)
    )
    a0 = F.col("cents0").cast("double") / F.col("n0")
    a1 = F.col("cents").cast("double") / F.col("n")
    return w.filter(F.col("n0").isNotNull()).select(
        "event_type",
        "month",
        det_round((F.col("cents") - F.col("cents0")).cast("double") / 100.0, 6).alias(
            "delta_revenue"
        ),
        det_round((F.col("n") - F.col("n0")) * a0 / 100.0, 6).alias("volume_effect"),
        det_round(F.col("n") * (a1 - a0) / 100.0, 6).alias("value_effect"),
    )


@query("interval_union_coverage",
    _ORACLES["interval_union_coverage"],
    "§2.5 interval algebra: per-key union of overlapping intervals (sweep-line via running max + island grouping) — total covered time, no self-join",
)
def q_interval_union_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Total distinct time each user was 'active' when every event
    opens a 30-minute activity window: overlapping windows must merge
    before summing (naive sum double-counts overlaps). The sweep-line
    formulation — running max of interval ends detects gaps, a cumsum
    of gap flags numbers the merged islands — is one partitioned
    window pass, no interval self-join anywhere. Second-granularity
    integer durations keep the oracle exact. Operator:
    operators.rangejoin.merge_intervals."""
    from finance_reporting_etl_spark.operators.rangejoin import merge_intervals

    iv = _t(spark, sf_dir, "events").select(
        "user_id",
        F.col("ts").alias("lo"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("hi"),
    )
    merged = merge_intervals(iv, ["user_id"])
    return merged.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.sum(
            (F.unix_timestamp("hi") - F.unix_timestamp("lo")).cast("bigint")
        ).alias("covered_seconds"),
    )


@query("cohort_ltv_curve",
    _ORACLES["cohort_ltv_curve"],
    "§2.5 cohort LTV curves: cumulative purchase revenue per cohort user by weeks-since-first-seen (cohort-partitioned running total)",
)
def q_cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lifetime-value curves: for each signup cohort (first-seen
    week), cumulative purchase revenue per cohort member at each week
    of age — the retention economics readout behind payback-period
    decisions. The running total partitions by cohort (never global),
    revenue is integer cents, cohort sizes broadcast; the only float
    is the final per-user division."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    sizes = first_seen.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("cohort_users")
    )
    rev = (
        ev.filter(F.col("event_type") == "purchase")
        .join(first_seen, "user_id")
        .groupBy(
            "cohort_week",
            (
                F.datediff(
                    F.date_trunc("week", "ts").cast("date"), F.col("cohort_week")
                )
                / 7
            )
            .cast("bigint")
            .alias("week_index"),
        )
        .agg(F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("cents"))
    )
    w = (
        Window.partitionBy("cohort_week")
        .orderBy("week_index")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = rev.withColumn("cum_cents", F.sum("cents").over(w))
    return cum.join(F.broadcast(sizes), "cohort_week").select(
        "cohort_week",
        "week_index",
        "cohort_users",
        det_round(
            F.col("cum_cents").cast("double") / F.col("cohort_users") / 100.0, 6
        ).alias("ltv_per_user"),
    )


@query("open_orders_backlog_daily",
    _ORACLES["open_orders_backlog_daily"],
    "§2.5 sweep-line backlog: daily count of open orders (+1 at order date, -1 at final ship) — event deltas + running sum over the bounded day spine",
)
def q_open_orders_backlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operational backlog: how many orders are open (placed, not yet
    fully shipped) on each calendar day. The sweep-line encoding —
    +1 on the order date, -1 on the last ship date, running-sum the
    per-day deltas — turns an interval-overlap count into one
    aggregate plus a window over the DAYS-sized spine (bounded by the
    calendar, not the data; the deltas aggregate map-side before any
    window sees them). Exact integers end to end."""
    from pyspark.sql import Window

    cl = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.max("l_shipdate").alias("close_day"))
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    j = o.join(cl, o.o_orderkey == cl.l_orderkey)
    d = j.select(F.col("o_orderdate").alias("day"), F.lit(1).alias("delta")).unionAll(
        j.select(F.col("close_day").alias("day"), F.lit(-1).alias("delta"))
    )
    g = d.groupBy("day").agg(F.sum("delta").cast("bigint").alias("delta"))
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return g.select("day", F.sum("delta").over(w).cast("bigint").alias("open_orders"))


@query("decision_tree_depth2",
    depth2_tree_oracle_sql(),
    "X-tier iterative ML training: depth-2 Gini tree — root split, then best split per leaf; the oracle RE-LEARNS the whole tree from scratch in SQL (per-level prefix-sum evaluation, deterministic argmax)",
)
def q_decision_tree_depth2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One level deeper than the stump: learn the root split, then the
    best split inside each child — the smallest real 'iterative
    training' loop (each level's input depends on the previous
    level's learned parameters). Per level it is the same
    O(data) + O(distinct-values) prefix-sum evaluation; the learned
    root (1 row) is the only driver traffic. The oracle does not
    check stored parameters — it RE-LEARNS the tree end-to-end in
    SQL, so a mismatch anywhere in the training path (counts, gains,
    argmax, leaf routing) fails the hash."""
    from finance_reporting_etl_spark.operators.ml import train_depth2_tree

    li = _t(spark, sf_dir, "lineitem").select(
        "l_quantity",
        "l_discount",
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
    )
    return train_depth2_tree(
        li, {"quantity": "l_quantity", "discount": "l_discount"}, "y"
    )


@query("inference_score_calibration",
    _ORACLES["inference_score_calibration"],
    "X-pipeline model monitoring: reliability table (confidence bins vs realized positive rate) for the linear-probe scores — micro-int-scaled exact mean confidence",
)
def q_inference_score_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Is the quality classifier calibrated? Scores bucket into ten
    equal-width confidence bins; each bin reports mean predicted
    confidence vs the realized positive rate (one-vs-rest on label 0)
    — the reliability diagram behind every model-monitoring dashboard.
    Scores are the round-6 deterministic linear-probe outputs (same
    expression the inference oracle re-derives), so scaling them by
    1e6 gives exact integer confidence sums; rates are single
    divisions. One map-side pass + a 10-row aggregate."""
    from finance_reporting_etl_spark.operators.inference import score_embeddings

    scored = score_embeddings(_t(spark, sf_dir, "embeddings"))
    b = scored.select(
        F.least(F.floor(F.col("score") * 10).cast("int"), F.lit(9)).alias("bin"),
        F.round(F.col("score") * 1_000_000).cast("bigint").alias("s_micro"),
        (F.col("label") == 0).cast("int").alias("y"),
    )
    return b.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").cast("bigint").alias("n_pos"),
        det_round(
            F.sum("s_micro").cast("double") / 1_000_000.0 / F.count(F.lit(1)), 6
        ).alias("mean_conf"),
        det_round(F.sum("y").cast("double") / F.count(F.lit(1)), 6).alias("pos_rate"),
    )


@query("stump_bagging_eval",
    bagging_oracle_sql(),
    "X-tier ensemble: 3 stumps bagged on disjoint md5 folds + majority-vote evaluation over all rows — the oracle re-trains every member AND re-scores every row in SQL",
)
def q_stump_bagging_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bagged-stump ensemble: rows hash into 3 disjoint folds (salted
    md5 — reproducible anywhere), each fold trains a stump whose
    leaves predict their majority class, and the 2-of-3 vote is scored
    against every row alongside each member. Training reuses the
    prefix-sum evaluator; scoring is pure column CASE logic on the 3
    collected parameter rows (model params are the ONLY driver
    traffic). Accuracies are exact-count divisions. The oracle
    re-learns all three members and re-votes every row — the whole
    ensemble lifecycle is hash-verified. All three members train in
    ONE pass (`best_stumps_by_fold`: everything partitions by
    (fold, feature)) — measured ~3x over training them sequentially
    at sf0.1, and the shuffle count no longer grows with ensemble
    size. Operator: operators.ml.bagged_stump_ensemble_eval."""
    from finance_reporting_etl_spark.operators.corpus import md5_bucket
    from finance_reporting_etl_spark.operators.ml import bagged_stump_ensemble_eval

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").alias("lq"),
        F.col("l_discount").alias("ld"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
        (
            md5_bucket(
                F.concat_ws("-", F.col("l_orderkey"), F.col("l_linenumber")),
                256,
                salt="bag",
            )
            % 3
        ).alias("fold"),
    )
    return bagged_stump_ensemble_eval(
        li, {"quantity": "lq", "discount": "ld"}, n_folds=3
    )


@query("gini_revenue_concentration",
    _ORACLES["gini_revenue_concentration"],
    "A-tier inequality metric: Gini coefficient of customer revenue via the rank formula — exact integer rank-weighted sums, one scalar output",
)
def q_gini_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How concentrated is revenue across customers? The rank form of
    the Gini coefficient, G = 2*sum(i*x_i)/(n*sum(x)) - (n+1)/n with
    x sorted ascending — every sum is an exact integer (ranks x
    cents fit int64 with orders of headroom), so the only floats are
    two final divisions. Ranks come from the distributed_cumsum
    machinery (counting 1s in value order) — no SinglePartition
    window touches the customer-sized table; the rank-weighted sums
    then aggregate map-side."""
    from finance_reporting_etl_spark.operators.ranking import distributed_cumsum

    r = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("cents")
        )
        .withColumn("__one", F.lit(1).cast("bigint"))
    )
    rk = distributed_cumsum(
        r, sum_col="__one", key_col="cents", tiebreak_cols=["o_custkey"], out_col="i"
    )
    n = F.count(F.lit(1))
    tot = F.sum("cents")
    return rk.agg(
        n.alias("n_customers"),
        det_round(tot.cast("double") / 100.0, 6).alias("total_revenue"),
        det_round(
            (2 * F.sum(F.col("i") * F.col("cents"))).cast("double")
            / (n * tot.cast("double"))
            - (n + F.lit(1)).cast("double") / n,
            6,
        ).alias("gini"),
    )


@query("value_drift_psi_bins",
    _ORACLES["value_drift_psi_bins"],
    "X-pipeline distribution-drift monitoring: per-bin Population Stability Index contributions (period A vs B), epsilon-clipped shares — exact counts, closed-form floats",
)
def q_value_drift_psi_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Did the value distribution shift between the first and second
    half of the month? Per fixed-width bin: both periods' shares and
    the PSI contribution (p-q)*ln(p/q) with 1e-6 share clipping — the
    standard drift alarm for features and model scores (sum the
    contributions; > 0.2 means act). The per-bin table is emitted
    instead of the summed scalar so every number is either an exact
    count or a closed-form float both engines evaluate identically —
    the cross-engine float-SUM trap (PLANS.md #10) never appears.
    Operator: operators.drift.psi_bin_table (shared with the
    streaming twin — one PSI expression tree, two arrival modes)."""
    from finance_reporting_etl_spark.operators.drift import psi_bin_table, value_bin

    ev = _t(spark, sf_dir, "events")
    # Period boundary = exact epoch-microsecond midpoint of the data
    # (1-row broadcast, the transition_drift_by_state pattern) — a
    # pinned date degenerates to a 100/0 split at any other range
    # (VERDICT r12 task 7 treatment).
    mid = ev.agg(
        F.expr("(min(unix_micros(ts)) + max(unix_micros(ts))) div 2")
        .cast("bigint")
        .alias("mid_us")
    )
    b = ev.crossJoin(F.broadcast(mid)).select(
        value_bin(),
        F.when(F.unix_micros("ts") < F.col("mid_us"), 1)
        .otherwise(0)
        .alias("in_a"),
    )
    t = b.agg(
        F.sum("in_a").cast("double").alias("__tot_a"),
        F.sum(1 - F.col("in_a")).cast("double").alias("__tot_b"),
    )
    g = b.groupBy("bin").agg(
        F.sum("in_a").cast("bigint").alias("n_a"),
        F.sum(1 - F.col("in_a")).cast("bigint").alias("n_b"),
    )
    return psi_bin_table(g.crossJoin(F.broadcast(t)))


@query("rfm_segmentation",
    _ORACLES["rfm_segmentation"],
    "A-tier CRM segmentation: RFM quintile scores (recency/frequency/monetary) via three exact distributed ntiles — no single-partition sort anywhere",
)
def q_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CRM classic: every purchasing user scored 1-5 on Recency
    (days since last purchase, recent = 5), Frequency, and Monetary
    value, quintiles exact. Each score is a GLOBAL ntile over the
    user table — the textbook SinglePartition trap — computed here
    with three `distributed_ntile` passes (sketch-bucketed ranges +
    broadcast offsets), so the plan survives a user table of any
    size — and all three metrics score in ONE pass
    (`distributed_ntile_melted`: the metric id rides the partition
    key, so one sketch job + one offset round + one window pass cover
    R, F and M together). At k=3 metrics the cost matches three
    sequential ntile calls (the pivot-back join offsets the saved
    driver barriers); the win grows with metric count, since the job
    count stays constant while the sequential form pays per metric.
    Integer metrics make every quintile boundary deterministic
    (user_id tiebreak). Operator:
    operators.ranking.multi_metric_ntile_scores."""
    from finance_reporting_etl_spark.operators.ranking import (
        multi_metric_ntile_scores,
    )

    p = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("user_id", "ts", F.round(F.col("value") * 100).cast("bigint").alias("c"))
    )
    gmax = p.agg(F.max("ts").cast("date").alias("__gmax"))
    u = (
        p.groupBy("user_id")
        .agg(
            F.max("ts").cast("date").alias("__last"),
            F.count(F.lit(1)).alias("freq"),
            F.sum("c").alias("cents"),
        )
        .crossJoin(F.broadcast(gmax))
        .select(
            "user_id",
            F.datediff("__gmax", "__last").cast("bigint").alias("r_days"),
            "freq",
            "cents",
        )
        .withColumn("__negr", -F.col("r_days"))
    )
    wide = multi_metric_ntile_scores(
        u, {"r": "__negr", "f": "freq", "m": "cents"}, 5, ["user_id"]
    )
    scored = u.join(wide, "user_id")
    return scored.select(
        "user_id",
        "r_days",
        "freq",
        "cents",
        "r_score",
        "f_score",
        "m_score",
        F.concat(
            F.col("r_score").cast("string"),
            F.col("f_score").cast("string"),
            F.col("m_score").cast("string"),
        ).alias("segment"),
    )


@query("finance_daily_pipeline",
    _ORACLES["finance_daily_pipeline"],
    "O-tier composed finance pipeline: quality gate -> NY trading-day mart -> DOW seasonality baseline -> anomaly flag, ONE Catalyst plan (the finance-side twin of corpus_training_pipeline)",
)
def q_finance_daily_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The daily reporting chain as one declarative plan: gate bad
    rows (value bounds), roll up to exchange-local trading days
    (DST-correct), derive each series' day-of-week baseline FROM the
    same gated data, and flag days running >1.5x their weekday norm.
    Catalyst sees the whole chain — the gate pushes into the scan,
    the daily table is scanned once and re-aggregated for the
    baseline (ReuseExchange), the baseline joins back as a bounded
    broadcast. Integer cents throughout; the ratio is one division
    computed identically by the oracle."""
    ev = _t(spark, sf_dir, "events")
    gated = ev.filter((F.col("value") > 0) & (F.col("value") <= 500))
    d = (
        gated.groupBy(
            F.from_utc_timestamp("ts", "America/New_York")
            .cast("date")
            .alias("trading_day"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("cents"),
        )
    )
    k = (
        d.groupBy("event_type", F.dayofweek("trading_day").alias("dow"))
        .agg(
            F.sum("cents").alias("kcents"), F.count(F.lit(1)).alias("n_days")
        )
    )
    j = d.join(
        F.broadcast(k),
        (d.event_type == k.event_type) & (F.dayofweek(d.trading_day) == k.dow),
    ).drop(k.event_type)
    baseline = F.col("kcents").cast("double") / F.col("n_days")
    ratio = F.col("cents").cast("double") / baseline
    return j.select(
        "trading_day",
        "event_type",
        "n_events",
        det_round(F.col("cents").cast("double") / 100.0, 6).alias("revenue"),
        F.dayofweek("trading_day").alias("dow"),
        det_round(ratio, 6).alias("seasonality_ratio"),
        (ratio > 1.5).alias("is_high"),
    )


@query("streaming_value_drift_psi",
    _ORACLES["streaming_value_drift_psi"],
    "§2.8 x X-pipe continuous drift monitoring: period-B bin counts folded across micro-batches via foreachBatch == the one-shot batch PSI (same oracle as value_drift_psi_bins)",
)
def q_streaming_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CONTINUOUS form of `value_drift_psi_bins`: the comparison
    period arrives as a live stream, each micro-batch contributes its
    per-bin counts through foreachBatch (counts are additive — the
    mergeable-sketch property with a 10-cell 'sketch'), and the PSI
    table reads identically to the one-shot batch computation (the
    shared oracle proves it). Replayed as 3 micro-batches; reference
    (period-A) counts stay a static table. State per batch: 10 rows.
    Operators: streaming.staging.replay_partials +
    operators.drift.psi_from_counts."""
    from finance_reporting_etl_spark.operators.drift import psi_from_counts, value_bin
    from finance_reporting_etl_spark.streaming.staging import replay_partials

    ev = _t(spark, sf_dir, "events")
    # Data-derived period boundary (exact epoch-micros midpoint; the
    # value_drift_psi_bins twin's formula). Driver-collected as a
    # 1-row scalar because the batch/stream split is staged driver-
    # side — same bounded-collect convention as the micro-batch cuts.
    mid_us = ev.agg(
        F.expr("(min(unix_micros(ts)) + max(unix_micros(ts))) div 2")
        .cast("bigint")
    ).first()[0]
    a_counts = (
        ev.filter(F.unix_micros("ts") < mid_us)
        .select(value_bin())
        .groupBy("bin")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_a"))
    )
    b_counts = replay_partials(
        spark,
        lambda src: ev.filter(F.unix_micros("ts") >= mid_us)
        .select("ts", "value")
        .repartition(3)
        .write.parquet(src),
        lambda batch: batch.select(value_bin())
        .groupBy("bin")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n")),
        lambda partials: partials.groupBy("bin").agg(
            F.sum("n").cast("bigint").alias("n_b")
        ),
        "streaming_value_drift_psi",
    )
    return psi_from_counts(a_counts, b_counts)


@query("collocation_pmi_top",
    _ORACLES["collocation_pmi_top"],
    "X4 collocation mining: top-20 ordered token pairs (distance <= 2) by pointwise mutual information — exact co-occurrence counts, closed-form PMI, min-support 10",
)
def q_collocation_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which token pairs co-occur far more than chance? PMI over
    ordered pairs within distance 2, min support 10 — the collocation
    extractor behind phrase detection and tokenizer-merge candidates.
    Pairs generate MAP-SIDE from each document's token array (indexed
    sequence explode — no self-join anywhere); unigram and pair
    counts are exact; PMI is one closed-form expression on those
    counts with the two corpus scalars broadcast. Top-20 via
    TakeOrderedAndProject. Operator: operators.corpus.pmi_collocations."""
    from finance_reporting_etl_spark.operators.corpus import pmi_collocations

    return pmi_collocations(
        _t(spark, sf_dir, "documents"), max_dist=2, min_support=10, k=20
    )


@query("debounce_events",
    _ORACLES["debounce_events"],
    "X1/§2.5 telemetry debounce: drop events within 5s of the previous same-(user, type) event — burst suppression via one partitioned lag, no self-join",
)
def q_debounce_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Double-click / retry suppression: an event is kept only if at
    least 5 seconds passed since the previous event of the same
    (user, type) — the standard telemetry debounce that exact dedup
    cannot express (the duplicates have distinct ids and near-equal,
    not equal, timestamps). One lag over a (user, type)-partitioned
    window; chained bursts collapse toward their first event per
    surviving gap. Timestamps compare at microsecond precision in
    both engines, so the keep-set hash-matches exactly."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    o = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts", "value"
    ).withColumn("prev_ts", F.lag("ts").over(w))
    # integer-microsecond compare — a double-seconds subtraction would
    # lose ~4e-7 s near the epoch and could flip an exactly-5s gap
    keep = F.col("prev_ts").isNull() | (
        F.unix_micros("ts") - F.unix_micros("prev_ts") >= 5_000_000
    )
    return o.filter(keep).drop("prev_ts")


@query("holt_trend_forecast",
    _ORACLES["holt_trend_forecast"],
    "custom per-key recursive scan #3: Holt double-exponential smoothing (two coupled states) == DuckDB RECURSIVE CTE stepping the identical update, bit-for-bit",
)
def q_holt_trend_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trend-aware forecast per revenue series: Holt's method carries
    TWO coupled recursive states (level + trend), so it is doubly
    inexpressible as a window aggregate; the grouped-map fold runs
    the identical float64 operation sequence as the oracle's
    RECURSIVE CTE step (the trend recomputes the level expression,
    matching step for step), making the smoothed states and the
    1-day / 7-day forecasts hash-exact. A struct-accumulator
    list_reduce oracle was rejected: DuckDB evaluates the result
    struct's fields sequentially against a mutating accumulator, so
    the second field reads the first field's NEW value — recursive
    CTE rows are immutable per step. alpha=0.3, gamma=0.1; daily
    inputs are exact cents / 100."""
    from finance_reporting_etl_spark.operators.timeseries import (
        holt_forecast_per_key,
    )

    d = (
        _t(spark, sf_dir, "events")
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("cents"))
        .select(
            "event_type",
            "day",
            (F.col("cents").cast("double") / 100.0).alias("x"),
        )
    )
    return holt_forecast_per_key(
        d, "event_type", ["day"], "x", alpha=0.3, gamma=0.1
    )


@query("proration_largest_remainder",
    _ORACLES["proration_largest_remainder"],
    "P5/A1 inverse: exact largest-remainder proration of order totals to line items (integer-cent, window-ranked)",
)
def q_proration_largest_remainder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Allocate each order's total price across its line items
    proportional to extended price, in integer cents, with the
    largest-remainder correction so every order's allocations sum
    EXACTLY to its total. All arithmetic is 64-bit integer (floor-div
    + mod on cents), so the result is bit-identical to the oracle's
    window SQL. One shuffle (the per-order window); ranks sort only
    within an order."""
    from finance_reporting_etl_spark.operators.allocation import (
        prorate_largest_remainder,
    )

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("w_c"),
    )
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("t_c"),
    )
    d = li.join(o, li.l_orderkey == o.o_orderkey, "inner").drop("o_orderkey")
    return prorate_largest_remainder(
        d, ["l_orderkey"], "w_c", "t_c", ["l_linenumber"]
    ).select("l_orderkey", "l_linenumber", "alloc_cents")


@query("poisson_bootstrap_ci",
    _ORACLES["poisson_bootstrap_ci"],
    "A1/§2.7 distributed uncertainty: Poisson-bootstrap CI for mean order value (map-local weights, B-row shuffle)",
)
def q_poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% bootstrap CI for the mean order value via the Poisson
    bootstrap — the only bootstrap whose resampling is row-local and
    therefore distributes (see operators/resample.py). 64 replicates;
    weights are md5-derived integers, replicate means are exact
    BIGINT/BIGINT doubles, so both engines interpolate quantiles over
    identical values."""
    from finance_reporting_etl_spark.operators.resample import (
        poisson_bootstrap_means,
    )

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    m = poisson_bootstrap_means(o, "o_orderkey", "cents", n_replicates=64)
    return m.agg(
        F.count(F.lit(1)).alias("n_replicates"),
        det_round(F.expr("percentile(mean_value, 0.025)"), 4).alias("ci_lo"),
        det_round(F.expr("percentile(mean_value, 0.975)"), 4).alias("ci_hi"),
        det_round(F.avg("mean_value"), 4).alias("boot_mean"),
    )


@query("zorder_locality_stats",
    _ORACLES["zorder_locality_stats"],
    "S9/§2.5 data layout: Morton (Z-order) clustering of (custkey, day) into range-partitioned files, per-file zone-map spans",
)
def q_zorder_locality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-dimensional layout pass: scale (o_custkey, order day) to
    8-bit grids, interleave into a Morton key (``scale.zorder_key`` —
    pure codegen'd bit ops), assign 16 'files' by exact ntile over the
    key, and report each file's (custkey, day) zone-map span — the
    min/max ranges parquet row-group stats would carry, i.e. what
    makes filters on EITHER column prune. The file assignment uses
    ``distributed_ntile`` (no single-partition window); the write-side
    twin is ``scale.write_zordered``, whose pruning effect is measured
    in tests/test_operators.py (26x fewer scanned rows on the sorted
    key; both columns prune under Z-order)."""
    from finance_reporting_etl_spark.operators.ranking import distributed_ntile
    from finance_reporting_etl_spark.operators.scale import zorder_key

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.unix_date(F.col("o_orderdate").cast("date")).cast("bigint").alias("d"),
    )
    b = o.agg(
        F.min("o_custkey").alias("min_ck"),
        F.max("o_custkey").alias("max_ck"),
        F.min("d").alias("min_d"),
        F.max("d").alias("max_d"),
    )
    s = (
        o.crossJoin(F.broadcast(b))
        .withColumn(
            "x", F.expr("((o_custkey - min_ck) * 256) div (max_ck - min_ck + 1)")
        )
        .withColumn("y", F.expr("((d - min_d) * 256) div (max_d - min_d + 1)"))
    )
    # narrow projection, then materialize: the Morton-key bit
    # interleave is the expensive expression here, and the ntile's
    # sketch pass + two plan branches would re-run it three times
    # (persist-upstream contract of distributed_ntile)
    z = (
        s.withColumn("zval", zorder_key("x", "y", bits=8))
        .select("o_orderkey", "o_custkey", "d", "zval")
        .localCheckpoint(eager=True)
    )
    f = distributed_ntile(z, 16, "zval", ["o_orderkey"], out_col="file_id")
    return f.groupBy("file_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("o_custkey").cast("bigint").alias("min_ck"),
        F.max("o_custkey").cast("bigint").alias("max_ck"),
        F.min("d").alias("min_day"),
        F.max("d").alias("max_day"),
    )


@query("bucketed_join_rollup",
    _ORACLES["bucketed_join_rollup"],
    "J1/§2.5 co-located join: bucketBy-written tables joined with zero Exchange (pay-once shuffle), priority revenue rollup",
)
def q_bucketed_join_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join orders to lineitem through bucket-co-located tables: both
    sides are written once with ``bucketBy(8, o_orderkey)`` and every
    subsequent equi-join on that key plans with NO Exchange on either
    side (tests/test_operators.py::test_bucketed_join_is_shuffle_free
    pins the plan property; this query gates the RESULT against the
    plain-join oracle). This is the pay-once-shuffle layout for fact
    tables re-joined daily at 100 TB. Table names carry the run id
    (runs.run_table) so concurrent drivers do not collide in the shared
    warehouse."""
    from finance_reporting_etl_spark.operators.scale import (
        bucketed_join,
        write_bucketed,
    )
    from finance_reporting_etl_spark.runs import run_table

    sf_tag = sf_dir.strip("/").replace("/", "_").replace(".", "_").replace("-", "_")
    t_o = run_table(spark, f"bkt_o_{sf_tag}")
    t_l = run_table(spark, f"bkt_l_{sf_tag}")
    write_bucketed(
        _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority"),
        t_o, ["o_orderkey"], n_buckets=8,
    )
    write_bucketed(
        _t(spark, sf_dir, "lineitem").select(
            "l_orderkey",
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
            .cast("bigint")
            .alias("rev"),
        ).withColumnRenamed("l_orderkey", "o_orderkey"),
        t_l, ["o_orderkey"], n_buckets=8,
    )
    j = bucketed_join(spark, t_o, t_l, ["o_orderkey"])
    # rev is integer cents in the bucketed table (r8 hardening: the
    # float SUM diverged from the oracle at sf0.1 — order-sensitive)
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_lines"),
        det_round(F.sum("rev") / 100.0, 2).alias("revenue"),
    )


@query("jaccard_prefix_filter_pairs",
    _ORACLES["jaccard_prefix_filter_pairs"],
    "X2 exact corpus-wide Jaccard join via prefix filtering (rarest-token prefixes; no blocking, no approximation)",
)
def q_jaccard_prefix_filter_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide exact near-dup pairs at J >= 0.6 with NO blocking
    columns: the prefix-filter theorem bounds candidates to documents
    sharing a rarest-token prefix entry, so the inverted-index join
    never fans out on stopwords (see operators/dedup.py). Complements
    ngram_jaccard_pairs (blocked) and minhash_lsh_near_dup (approx):
    same guarantee as brute force, scale-safe plan. Brute-force
    equality is pinned in tests/test_operators.py."""
    from finance_reporting_etl_spark.operators.dedup import (
        jaccard_prefix_filter_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    return jaccard_prefix_filter_pairs(docs, threshold=0.6)


def _daily_series_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(event_type, day) total value in exact integer cents, NULL
    groups dropped — the shared level-series base for the drawdown and
    CUSUM queries."""
    return (
        _t(spark, sf_dir, "events")
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("cents"))
        .filter(F.col("cents").isNotNull())
    )


@query("indicator_max_drawdown",
    _ORACLES["indicator_max_drawdown"],
    "§2.5/finance peak-to-trough: deepest drawdown per daily value series (running-peak window, argmax row)",
)
def q_indicator_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deepest peak-to-trough decline per daily revenue series: the
    risk metric every balance/NAV dashboard carries. Running peak +
    exact integer-cent ratio, argmax row per key on (rounded dd DESC,
    day) — two windows over one key-partitioned sort (see
    operators/timeseries.py)."""
    from finance_reporting_etl_spark.operators.timeseries import (
        max_drawdown_per_key,
    )

    # no cents > 0 pre-filter: a refund-heavy day with a non-positive
    # total must still measure its decline from the earlier peak (the
    # operator drops only rows before the peak turns positive, exactly
    # the oracle's WHERE peak > 0 — r5 review: the pre-filter silently
    # understated drawdown and diverged from the oracle)
    d = _daily_series_cents(spark, sf_dir)
    return max_drawdown_per_key(d, "event_type", "day", "cents")


@query("cusum_alarm_days",
    _ORACLES["cusum_alarm_days"],
    "§2.5 sequential change detection: one-sided CUSUM over daily series, closed-form clamp (no recursion)",
)
def q_cusum_alarm_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page's one-sided CUSUM per revenue series: s_t = max(0,
    s_{t-1} + (x_t - k)) with allowance k = each series' integer-mean
    daily cents, alarming where s exceeds h = 4 standard deviations
    of the daily totals — the standard sigma-scaled decision interval
    (a mean-scaled h cannot track scale: relative day-to-day noise
    shrinks ~1/sqrt(events/day), so a fixed multiple of the mean
    fires at sf0.001 and never at sf0.1 — r5 probe). sd comes from
    exact integer moments + one correctly-rounded sqrt, identical in
    both engines. The recursive fold is evaluated in closed form at
    every row — prefix sum minus clamped running minimum, the
    clamped_balance identity — so the whole detector is two chained
    windows, zero Python, exact integers."""
    from finance_reporting_etl_spark.operators.timeseries import (
        cusum_points_per_key,
    )

    d = _daily_series_cents(spark, sf_dir)
    k = d.groupBy("event_type").agg(
        F.expr("sum(cents) div count(*)").alias("kc"),
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("s1"),
        F.sum(F.col("cents") * F.col("cents")).alias("s2"),
    )
    k = k.withColumn(
        "sd",
        F.sqrt((F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")).cast("double"))
        / F.col("n"),
    )
    s = d.join(F.broadcast(k), "event_type").withColumn(
        "delta", F.col("cents") - F.col("kc")
    )
    c = cusum_points_per_key(s, "event_type", ["day"], "delta")
    return c.filter(F.col("cusum_cents") > 4 * F.col("sd")).select(
        "event_type", "day", "cusum_cents"
    )


@query("benford_first_digit",
    _ORACLES["benford_first_digit"],
    "§2.7/finance forensic screen: first-significant-digit distribution vs Benford's law + chi-square statistic",
)
def q_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-digit distribution of order totals against Benford's law
    — the classic forensic-accounting screen for fabricated amounts.
    Digit extraction is string-based (first char of the floored
    integer), never log10-of-value, so there is no float edge at
    powers of ten; expected shares are rounded before the chi-square
    terms so both engines combine identical doubles. Counts left-join
    a full 1-9 digit spine: a digit that never appears contributes
    its (0 - total*share)^2 term — omitting absent digits understates
    chi2 exactly when amounts are fabricated, which is the scenario
    the screen exists for (r5 review). The only window runs over the
    9 spine rows (bounded)."""
    from pyspark.sql import Window

    digit = F.substring(
        F.floor(F.col("o_totalprice")).cast("bigint").cast("string"), 1, 1
    ).cast("int")
    counts = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") >= 1)
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    spine = spark.range(1, 10).select(F.col("id").cast("int").alias("digit"))
    g = spine.join(counts, "digit", "left").withColumn(
        "n", F.coalesce(F.col("n"), F.lit(0).cast("bigint"))
    )
    w = Window.partitionBy()
    t = g.withColumn("total", F.sum("n").over(w)).withColumn(
        "benford_share", det_round(F.log10(1 + 1.0 / F.col("digit")), 6)
    )
    chi_term = F.pow(F.col("n") - F.col("total") * F.col("benford_share"), 2) / (
        F.col("total") * F.col("benford_share")
    )
    return t.select(
        "digit",
        "n",
        det_round(F.col("n") / F.col("total").cast("double"), 6).alias("obs_share"),
        "benford_share",
        det_round(F.sum(chi_term).over(w), 4).alias("chi2_stat"),
    )


@query("ohlc_daily_bars",
    _ORACLES["ohlc_daily_bars"],
    "§2.5/finance candle bars: per-series daily open/high/low/close via min_by/max_by on the unique event key (one agg, no window)",
)
def q_ohlc_daily_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily OHLC candles per series: open/close ride min_by/max_by on
    the unique (ts, event_id) key — ONE hash aggregation, no per-group
    sort (the oracle re-derives open/close via rank windows; values
    agree because the key is tie-free). Integer cents throughout."""
    from finance_reporting_etl_spark.operators.timeseries import ohlc_bars

    e = (
        _t(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.col("ts").cast("date").alias("day"),
            "ts",
            "event_id",
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        )
    )
    return ohlc_bars(e, ["event_type", "day"], "ts", "event_id", "cents")


@query("indicator_lead_lag_corr",
    _ORACLES["indicator_lead_lag_corr"],
    "§2.5/finance lead-lag scan: best-correlating lag per series pair (integer Pearson moments, lag-spine join)",
)
def q_indicator_lead_lag_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which series leads which: for every pair of daily revenue
    series, the lag in [-3, 3] maximizing Pearson correlation between
    a_t and b_{t-lag}. Moments are exact integer sums; the winning
    row is picked on (rounded corr DESC, lag) — deterministic on both
    engines (see operators/timeseries.py)."""
    from finance_reporting_etl_spark.operators.timeseries import (
        lead_lag_best_corr,
    )

    return lead_lag_best_corr(
        _daily_series_cents(spark, sf_dir), "event_type", "day", "cents"
    )


@query("streaming_ohlc_maintain",
    # maintained bars must equal the full-data batch derivation — OHLC
    # is mergeable once open/close carry their (ts, event_id) keys
    _ORACLES["ohlc_daily_bars"],
    "§2.8/finance streaming OHLC bar maintenance: mergeable partials per micro-batch (batch_id-idempotent), consumer merge == batch bars",
)
def q_streaming_ohlc_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily OHLC bars maintained INCREMENTALLY from a replayed event
    stream: each micro-batch writes partial bars keyed by their first/
    last (ts, event_id) to an idempotent batch_id partition; merging
    partials (min_by/max_by/min/max/sum) reproduces the batch bars
    EXACTLY for any batch split because the event key is unique. The
    oracle is the full-data batch derivation — a hash match proves
    merge-correctness end to end."""
    from finance_reporting_etl_spark.streaming.rollup import (
        merge_ohlc_partials,
        ohlc_partials,
    )
    from finance_reporting_etl_spark.streaming.staging import (
        replay_partials,
        stage_microbatches,
    )

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    batches = [ev.filter(F.col("event_id") % 3 == i) for i in range(3)]
    return replay_partials(
        spark,
        lambda src: stage_microbatches(batches, src),
        ohlc_partials,
        lambda partials: merge_ohlc_partials(partials).select(
            "event_type", "day", "open_cents", "high_cents",
            "low_cents", "close_cents", "n_ticks",
        ),
        "streaming_ohlc_maintain",
    )


@query("feature_hash_bow",
    _ORACLES["feature_hash_bow"],
    "X4/X-pipe hashing-trick features: vocabulary-free signed bag-of-words (one stateless map, no vocab shuffle)",
)
def q_feature_hash_bow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick text features: tokens map straight to one of 32
    dims via md5 with an independent sign hash (collisions cancel in
    expectation). No vocabulary is ever built — the featurizer is one
    stateless map plus a (doc, dim) aggregation, which is why the
    trick survives any corpus size. Long-format exact-integer
    weights (see operators/corpus.py)."""
    from finance_reporting_etl_spark.operators.corpus import feature_hash_bow

    return feature_hash_bow(_t(spark, sf_dir, "documents"))


@query("series_volatility",
    _ORACLES["series_volatility"],
    "§2.5/finance log-return volatility: row-level rounded ln returns, moment-assembled sample sd, annualized",
)
def q_series_volatility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily log-return volatility per revenue series (mean return,
    sample sd, annualized at sqrt(252)). Log returns are rounded at
    the row level before any aggregation — ln is within-1-ulp, not
    correctly rounded, so engines may differ in the last bit — and the
    variance is assembled from moment sums rather than a builtin
    stddev whose accumulation algorithm is engine-specific (see
    operators/timeseries.py)."""
    from finance_reporting_etl_spark.operators.timeseries import (
        series_volatility,
    )

    return series_volatility(
        _daily_series_cents(spark, sf_dir), "event_type", "day", "cents"
    )


@query("mmr_diversified_rerank",
    _ORACLES["mmr_diversified_rerank"],
    "X3 diversified retrieval: Maximal Marginal Relevance rerank of a cosine shortlist (k-step greedy, persisted-aux oracle)",
)
def q_mmr_diversified_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR-diversified top-5 per query: greedy argmax of
    0.7*relevance - 0.3*max-similarity-to-already-selected over a
    brute-force top-20 cosine shortlist — the rerank that stops a RAG
    context window filling with five copies of the same document. The
    shortlist and the within-shortlist pair sims (both 6dp-rounded)
    are persisted aux tables, so the DuckDB twin replays the greedy
    over identical doubles through an UNROLLED 5-step CTE chain (the
    graph-module pattern). The Spark greedy is one lazy plan — k
    bounded join/window steps, no driver collect."""
    from finance_reporting_etl_spark.operators.similarity import (
        brute_force_topk,
        mmr_select,
    )
    from finance_reporting_etl_spark.functions.vectors import cosine

    emb = _t(spark, sf_dir, "embeddings")
    short = _persist_aux(
        spark,
        brute_force_topk(emb, [0, 1, 2, 3, 4], k=20).select(
            "query_id", "neighbor_id", F.col("score").alias("rel")
        ),
        "mmr_shortlist",
    )
    ids = short.select("query_id", "neighbor_id")
    v = emb.select("vec_id", "embedding")
    a = ids.join(v, ids.neighbor_id == v.vec_id).select(
        "query_id", F.col("neighbor_id").alias("id_a"), F.col("embedding").alias("va")
    )
    b = ids.join(v, ids.neighbor_id == v.vec_id).select(
        F.col("query_id").alias("__qb"),
        F.col("neighbor_id").alias("id_b"),
        F.col("embedding").alias("vb"),
    )
    pairs = _persist_aux(
        spark,
        a.join(b, (a.query_id == b.__qb) & (F.col("id_a") != F.col("id_b")))
        .withColumn("sim", det_round(cosine("va", "vb"), 6))
        .select("query_id", "id_a", "id_b", "sim"),
        "mmr_pair_sims",
    )
    return mmr_select(short, pairs, k=5, lam=0.7, mu=0.3)


@query("ks_value_drift",
    _ORACLES["ks_value_drift"],
    "A/X-tier distribution drift: exact two-sample Kolmogorov-Smirnov per series (first vs second half of the time range)",
)
def q_ks_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample KS statistic per series between the first and
    second half of the time range — the bin-free complement to the
    PSI drift queries (no bin design to get wrong; catches shape
    changes coarse bins blur). ECDFs are cumulative-integer ratios
    over a per-key sorted value axis (values never leave their key's
    partition — see operators/drift.py); the split point is integer
    microseconds, so membership is engine-exact."""
    from finance_reporting_etl_spark.operators.drift import ks_two_sample

    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    b = ev.agg(
        F.expr("(min(unix_micros(ts)) + max(unix_micros(ts))) div 2").alias("mid")
    )
    r = ev.crossJoin(F.broadcast(b)).select(
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        F.when(F.unix_micros("ts") <= F.col("mid"), F.lit(1))
        .otherwise(F.lit(2))
        .alias("grp"),
    )
    return ks_two_sample(r, "event_type", "cents", "grp").select(
        "event_type", "n1", "n2", "ks_stat"
    )


@query("fifo_realized_pnl",
    _ORACLES["fifo_realized_pnl"],
    "§2.5/finance FIFO cost basis: cumulative-quantity interval join matches return lots to purchase lots, realized PnL per part in exact integer cents (floor-allocated per match, order-exact BIGINT sum)",
)
def q_fifo_realized_pnl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Realized PnL per part under FIFO lot matching: returned lots
    ('R' lines) consume purchased lots ('N' lines) oldest-first. The
    cursor walk every accounting system implements is re-expressed as
    a cumulative-quantity interval overlap — two key-partitioned
    prefix-sum windows and ONE equi-join, no recursion, no state
    (see operators/allocation.py::fifo_match). Everything stays
    INTEGER: each match's PnL is floor((mq*s_total)/s_qty) -
    floor((mq*b_total)/b_qty) cents — the same deterministic floor
    allocation fifo_open_lots uses — so the per-part SUM is exact
    BIGINT on both engines regardless of accumulation order (a float
    SUM of per-match doubles is order-sensitive and diverged at the
    r7 driver gate; integer cents cannot)."""
    from finance_reporting_etl_spark.operators.allocation import fifo_match

    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_shipdate",
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        F.round("l_quantity").cast("bigint").alias("qty"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("total"),
    )
    order_cols = ["l_shipdate", "l_orderkey", "l_linenumber"]
    m = fifo_match(
        li.filter(F.col("l_returnflag") == "N"),
        li.filter(F.col("l_returnflag") == "R"),
        ["l_partkey"], order_cols, "qty", "total",
    )
    # All operands positive, so Spark `div` (truncate) == DuckDB `//`
    # (the established cross-engine integer-division parity, see
    # oracles.py::_pps_f note).
    pnl_cents = F.expr("matched_qty * s_total div s_qty") - F.expr(
        "matched_qty * b_total div b_qty"
    )
    return m.groupBy("l_partkey").agg(
        F.sum("matched_qty").alias("matched_qty"),
        F.sum(pnl_cents).cast("bigint").alias("realized_pnl_cents"),
    )


@query("position_based_attribution",
    _ORACLES["position_based_attribution"],
    "§2.5 multi-touch attribution: U-shaped (40/20/40) credit over the 7-day view window, exact integer cents via largest-remainder",
)
def q_position_based_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped) multi-touch attribution: each
    purchase's cents credit first/last touch 40% each with the middle
    20% split evenly — as integer weights 2(n-2):1:...:2(n-2), then
    ``prorate_largest_remainder`` so every purchase's credits sum
    EXACTLY to its cents (the same allocation core as the order
    proration). The 7-day window join runs through ``range_join``
    (1-day buckets + user equi-key) — the attribution_window_join
    scale shape, never a nested loop."""
    from pyspark.sql import Window

    from finance_reporting_etl_spark.operators.allocation import (
        prorate_largest_remainder,
    )
    from finance_reporting_etl_spark.operators.rangejoin import range_join

    day_us = 86_400_000_000
    ev = _t(spark, sf_dir, "events")
    pur = (
        ev.filter((F.col("event_type") == "purchase") & F.col("value").isNotNull())
        .select(
            F.col("event_id").alias("p_id"),
            "user_id",
            (F.unix_micros("ts") - 7 * day_us).alias("lo"),
            F.unix_micros("ts").alias("hi"),
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        )
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.unix_micros("ts").alias("t"), F.col("event_id").alias("v_id")
    )
    hits = range_join(views, pur, "t", "lo", "hi", bucket_width=day_us, extra_eq=["user_id"])
    wn = Window.partitionBy("p_id")
    wr = Window.partitionBy("p_id").orderBy("t", "v_id")
    pos = hits.withColumn("n", F.count(F.lit(1)).over(wn)).withColumn(
        "rn", F.row_number().over(wr)
    )
    w = (
        F.when(F.col("n") <= 2, F.lit(1))
        .when((F.col("rn") == 1) | (F.col("rn") == F.col("n")), 2 * (F.col("n") - 2))
        .otherwise(F.lit(1))
        .cast("bigint")
    )
    alloc = prorate_largest_remainder(
        pos.withColumn("w", w), ["p_id"], "w", "cents", ["rn"]
    )
    return alloc.select(
        F.col("p_id").alias("purchase_id"),
        F.col("v_id").alias("view_id"),
        F.col("rn").cast("bigint").alias("position"),
        F.col("alloc_cents").alias("credit_cents"),
    )


@query("quantile_transform_feature",
    _ORACLES["quantile_transform_feature"],
    "X-pipe/A-tier quantile (rank-gauss) feature: exact global percentile rank per row with NO single-partition window",
)
def q_quantile_transform_feature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-transform feature: each order's exact global
    percentile rank of o_totalprice in [0, 1] — the rank-uniform
    half of scikit's QuantileTransformer, the preprocessing that
    makes tree/NN features scale-free. The global rank comes from
    ``distributed_cumsum`` over a unique (price, orderkey) order —
    bucket offsets + bucket-local windows, never a data-sized
    SinglePartition sort (same machinery as the ABC/Pareto queries)."""
    from finance_reporting_etl_spark.operators.ranking import distributed_cumsum

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    b = o.agg(F.count(F.lit(1)).alias("n"))
    c = distributed_cumsum(
        o.withColumn("__one", F.lit(1).cast("bigint")),
        "__one", "o_totalprice", ["o_orderkey"], out_col="rnk",
    )
    return c.crossJoin(F.broadcast(b)).select(
        "o_orderkey",
        det_round(
            (F.col("rnk") - 1) / (F.col("n") - 1).cast("double"), 6
        ).alias("pct"),
    )


@query("theil_sen_trend",
    _ORACLES["theil_sen_trend"],
    "§2.5/finance robust trend: Theil-Sen slope per series (median of pairwise slopes; key-bounded pair join)",
)
def q_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend per daily revenue series: the median of
    all pairwise day-to-day slopes — breakdown point 29%, immune to
    the outlier days that wreck least squares. The pair join is
    key-local (days^2 per series, bounded by the calendar — ~12k
    pairs per series here; document the quadratic before pointing it
    at decade-long keys); slopes are integer-difference ratios, so
    both engines interpolate the median over identical doubles."""
    d = _daily_series_cents(spark, sf_dir)
    a = d.select(
        "event_type", F.col("day").alias("a_day"), F.col("cents").alias("a_c")
    )
    b = d.select(
        F.col("event_type").alias("b_t"),
        F.col("day").alias("b_day"),
        F.col("cents").alias("b_c"),
    )
    p = a.join(
        b, (a.event_type == b.b_t) & (a.a_day < b.b_day)
    ).withColumn(
        "slope",
        (F.col("b_c") - F.col("a_c"))
        / F.datediff("b_day", "a_day").cast("double"),
    )
    return p.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        det_round(F.expr("percentile(slope, 0.5)"), 6).alias(
            "sen_slope_cents_per_day"
        ),
    )


@query("ann_recall_ndcg_eval",
    _ORACLES["ann_recall_ndcg_eval"],
    "X3 retrieval quality eval: recall@10 + NDCG@10 of the LSH index against exact ground truth (persisted-approx oracle)",
)
def q_ann_recall_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-quality evaluation as a first-class query: recall@10 and
    binary-relevance NDCG@10 of the hyperplane-LSH index against the
    exact cosine ground truth, per query. The approx result is a
    persisted aux (its own derivation is oracle-checked by
    ann_lsh_topk); the truth side is re-derived independently on both
    engines; the ideal-DCG normalizer is ONE python constant printed
    into both sides. Zero-hit queries emit 0.0 rows (left join to the
    query spine), so a collapsed index reads as 0, not as missing."""
    from finance_reporting_etl_spark.operators.similarity import (
        brute_force_topk,
        hyperplane_buckets,
        topk_from_buckets,
    )
    from finance_reporting_etl_spark.oracles import _IDEAL_DCG10

    qs = [0, 1, 2, 3, 4]
    emb = _t(spark, sf_dir, "embeddings")
    buckets = _persist_aux(
        spark, hyperplane_buckets(emb, n_planes=4, n_tables=8), "ann_lsh_buckets"
    )
    approx = _persist_aux(
        spark,
        topk_from_buckets(buckets, emb, qs, k=10).select(
            "query_id", "neighbor_id", F.col("rank").cast("long").alias("rank")
        ),
        "ann_eval_approx",
    )
    truth = brute_force_topk(emb, qs, k=10).select(
        F.col("query_id").alias("tq"), F.col("neighbor_id").alias("tn")
    )
    hits = approx.join(
        truth,
        (approx.query_id == F.col("tq")) & (approx.neighbor_id == F.col("tn")),
    )
    m = hits.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_hits"),
        F.sum(F.lit(1.0) / F.log2(F.col("rank") + 1)).alias("dcg"),
    )
    base = approx.select("query_id").distinct()
    return base.join(m, "query_id", "left").select(
        "query_id",
        det_round(F.coalesce(F.col("n_hits"), F.lit(0)) / 10.0, 6).alias(
            "recall_at_10"
        ),
        det_round(
            F.coalesce(F.col("dcg"), F.lit(0.0)) / F.lit(_IDEAL_DCG10), 6
        ).alias("ndcg_at_10"),
    )


# ---------------------------------------------------------------------------
# Statistical evaluation family (operators/stats.py): exact AUC,
# Spearman, chi-square, Welch's t, ACF, Kaplan-Meier — the model-eval /
# experimentation layer, every number either an exact integer count or
# one closed-form float expression.
# ---------------------------------------------------------------------------


@query("roc_auc_exact",
    _ORACLES["roc_auc_exact"],
    "X-tier model eval: exact ROC AUC via the tie-averaged Mann-Whitney rank statistic (doubled ranks stay BIGINT; score-domain spine window)",
)
def q_roc_auc_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC AUC of the linear-probe scores against the one-vs-rest
    label (class 0 positive, matching inference_score_calibration):
    the ranking-quality number every classifier eval reports. The
    rank-sum runs over one row per DISTINCT rounded score — a bounded
    domain spine (<= 1e6+1 cells), not a data-sized global sort — and
    the doubled-rank identity keeps the whole statistic in BIGINT
    until the single final division. Operator:
    operators.stats.mann_whitney_auc."""
    from finance_reporting_etl_spark.operators.inference import score_embeddings
    from finance_reporting_etl_spark.operators.stats import mann_whitney_auc

    scored = score_embeddings(_t(spark, sf_dir, "embeddings")).select(
        "score", (F.col("label") == 0).cast("int").alias("y")
    )
    return mann_whitney_auc(scored, "score", "y")


@query("spearman_daily_orders",
    _ORACLES["spearman_daily_orders"],
    "§2.5/stats rank correlation: Spearman rho between daily revenue and daily order count (doubled tie-averaged ranks, integer-exact sums)",
)
def q_spearman_daily_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does a busier day mean a richer day? Spearman rank correlation
    between daily order count and daily revenue — the outlier-immune
    correlation for heavy-tailed revenue. Tie-averaged ranks are kept
    as exact doubled BIGINTs (2*avg_rank = 2*rank + ties - 1, one
    ordering window over the ~2.4k-day calendar), so all five Pearson
    sums are integer-exact and rho is one closed-form float.
    Operators: operators.stats.doubled_avg_rank +
    spearman_from_doubled_ranks."""
    from finance_reporting_etl_spark.operators.stats import (
        doubled_avg_rank,
        spearman_from_doubled_ranks,
    )

    d = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents"),
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        )
    )
    r = doubled_avg_rank(d, "cents", "rx2")
    r = doubled_avg_rank(r, "n_orders", "ry2")
    return spearman_from_doubled_ranks(r, "rx2", "ry2")


@query("chi_square_event_dow",
    _ORACLES["chi_square_event_dow"],
    "stats independence test: chi-square contingency cells for event_type x day-of-week (per-cell table, BIGINT residuals)",
)
def q_chi_square_event_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Is event mix independent of weekday? Chi-square contingency
    cells over event_type x day-of-week: observed, expected, and the
    per-cell contribution (N*O - R*C)^2 / (N*R*C) with the residual
    computed in exact BIGINT before the one cast to double. The
    per-cell table is the result — summing to the scalar on both
    engines would be the cross-engine float-SUM trap (PLANS.md #10);
    the consumer's chi2 is one trivial fold. Day-of-week numbering is
    pinned to Spark's 1=Sunday..7 (DuckDB shifted +1 in the oracle).
    Operator: operators.stats.chi_square_cells."""
    from finance_reporting_etl_spark.operators.stats import chi_square_cells

    ev = _t(spark, sf_dir, "events").select(
        "event_type", F.dayofweek("ts").alias("dow")
    )
    return chi_square_cells(ev, "event_type", "dow")


@query("welch_t_event_values",
    _ORACLES["welch_t_event_values"],
    "stats two-sample test: Welch's unequal-variance t between view and purchase values (exact integer-cents moments, closed-form t + Satterthwaite df)",
)
def q_welch_t_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Do views and purchases carry different mean values? Welch's
    t-test — the experimentation workhorse when variances differ.
    Per-group count/sum/sum-of-squares stay exact BIGINT cents
    (map-side aggregation, no shuffle beyond two group rows), so the
    t statistic and Satterthwaite df are deterministic closed-form
    floats. Complements ab_test_conversion_lift (proportions z) with
    the continuous-metric test. Operator:
    operators.stats.welch_t_from_cents."""
    from finance_reporting_etl_spark.operators.stats import welch_t_from_cents

    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        )
    )
    return welch_t_from_cents(ev, "event_type", "cents", "view", "purchase")


@query("acf_daily_order_revenue",
    _ORACLES["acf_daily_order_revenue"],
    "§2.5/stats autocorrelation: ACF lags 1-7 of gap-filled daily revenue (n-scaled integer centering, ONE aggregation pass for all lags)",
)
def q_acf_daily_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How persistent is daily revenue? The autocorrelation function at
    lags 1-7 over the gap-filled daily series — the first diagnostic
    behind any forecasting model choice (weekly cycle shows as a lag-7
    spike). The series is zero-filled on a calendar spine for regular
    spacing; centering uses n-scaled integers (y = n*x - S) so the n^2
    factors cancel in the ratio; all 7 numerators + the shared
    denominator come out of ONE aggregation pass, melted with stack().
    Operator: operators.stats.acf_table."""
    from finance_reporting_etl_spark.operators.stats import acf_table

    daily = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )
    bounds = daily.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    spine = bounds.select(
        F.explode(F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))).alias("day")
    )
    s = (
        F.broadcast(spine)
        .join(daily, "day", "left")
        .select("day", F.coalesce("cents", F.lit(0)).cast("bigint").alias("cents"))
    )
    return acf_table(s, "day", "cents", max_lag=7)


@query("kaplan_meier_retention",
    _ORACLES["kaplan_meier_retention"],
    "stats survival analysis: Kaplan-Meier time-to-second-order curve with right censoring (duration-domain spine, product-limit via exp-sum-log)",
)
def q_kaplan_meier_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How long until a customer's second order — with customers who
    never reorder handled correctly? Kaplan-Meier product-limit
    survival over days from first to second order; single-order
    customers are right-censored at the last observed date instead of
    being dropped (the bias every naive retention average has).
    Exits aggregate per distinct duration first, so the ordering
    window runs over the duration domain; each factor is the log of an
    exact integer ratio. Operator: operators.stats.kaplan_meier."""
    from pyspark.sql import Window

    from finance_reporting_etl_spark.operators.stats import kaplan_meier

    o = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("day"),
        "o_orderkey",
    )
    w = Window.partitionBy("o_custkey").orderBy("day", "o_orderkey")
    ranked = o.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= 2
    )
    f1 = ranked.filter(F.col("rn") == 1).select(
        "o_custkey", F.col("day").alias("f1")
    )
    f2 = ranked.filter(F.col("rn") == 2).select(
        "o_custkey", F.col("day").alias("f2")
    )
    mx = o.agg(F.max("day").alias("max_day"))
    dur = (
        f1.join(f2, "o_custkey", "left")
        .crossJoin(F.broadcast(mx))
        .select(
            F.when(
                F.col("f2").isNotNull(), F.datediff("f2", "f1")
            )
            .otherwise(F.datediff("max_day", "f1"))
            .cast("bigint")
            .alias("dur_days"),
            F.col("f2").isNotNull().cast("int").alias("evt"),
        )
    )
    return kaplan_meier(dur, "dur_days", "evt")


def _priority_daily_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(order priority, day) revenue in exact integer cents — the
    shared multi-series base for the Bollinger and RSI indicators
    (~2.4k trading days x 5 series; rows-based windows follow the
    trading-day convention: gaps are skipped, not zero-filled)."""
    return (
        _t(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_orderpriority").alias("series"),
            F.col("o_orderdate").cast("date").alias("day"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )


@query("bollinger_daily_bands",
    _ORACLES["bollinger_daily_bands"],
    "§2.5/finance volatility bands: 20-day Bollinger mean +/- 2 sigma with breach flags (DECIMAL(38) rolling moments, exact-integer band inequality — flags never touch float)",
)
def q_bollinger_daily_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """20-day Bollinger bands per priority-tier daily revenue series,
    with above/below breach flags — the mean-reversion signal on every
    trading dashboard. Rolling first/second moments are EXACT decimal
    window sums (cents^2 would overflow BIGINT near 1e19 at large SF,
    and float sliding sums diverge between Spark's incremental frames
    and DuckDB's segment trees — decimal sidesteps both); the breach
    flags are an exact DECIMAL inequality (n*c-S)^2*(n-1) <>
    k^2*n*(nQ-S^2) — hash-stable across engines — and sma/sd are 2-dp
    display floats (6 dp on a 1e7-cent series is below double-ulp
    resolution; r7 gate). Operator:
    operators.timeseries.bollinger_bands."""
    from finance_reporting_etl_spark.operators.timeseries import bollinger_bands

    return bollinger_bands(
        _priority_daily_cents(spark, sf_dir), "series", "day", "cents", n=20, k=2
    )


@query("rsi_cutler_daily",
    _ORACLES["rsi_cutler_daily"],
    "§2.5/finance momentum: Cutler's 14-day RSI per series — one exact integer gain/(gain+loss) ratio, window-function form (non-recursive)",
)
def q_rsi_cutler_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cutler's 14-day RSI per priority-tier revenue series — the
    momentum oscillator, in its SMA (window-function) form:
    RSI = 100*gains/(gains+losses) over the trailing 14 diffs is
    algebraically 100 - 100/(1+RS) but stays ONE exact integer ratio.
    Wilder's recursive EMA variant is the ema_last_per_key fold; this
    is the declarative twin Catalyst can pipeline. All-flat windows
    emit NULL, not 0/0. Operator: operators.timeseries.rsi_cutler."""
    from finance_reporting_etl_spark.operators.timeseries import rsi_cutler

    return rsi_cutler(
        _priority_daily_cents(spark, sf_dir), "series", "day", "cents", n=14
    )


@query("hhi_revenue_concentration",
    _ORACLES["hhi_revenue_concentration"],
    "§2.6/finance concentration: Herfindahl-Hirschman index cells of nation revenue share within region (broadcast dims, per-cell table)",
)
def q_hhi_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How concentrated is each region's revenue across its nations?
    Herfindahl-Hirschman contributions (share^2 * 10000) per nation —
    the antitrust/portfolio concentration metric, complementing
    gini_revenue_concentration's inequality view. Dims broadcast onto
    the fact scan; region totals (5 rows) broadcast back; the per-cell
    table avoids the cross-engine float-SUM (the consumer's HHI is one
    trivial fold)."""
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    r = _t(spark, sf_dir, "region")
    per = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )
    tot = per.groupBy("r_name").agg(
        F.sum("cents").cast("bigint").alias("tot_cents")
    )
    share = F.col("cents").cast("double") / F.col("tot_cents")
    return per.join(F.broadcast(tot), "r_name").select(
        "r_name",
        "n_name",
        "cents",
        det_round(share, 6).alias("share"),
        det_round(share * share * F.lit(10000.0), 6).alias("hhi_contrib"),
    )



@query("stratified_kfold_assign",
    _ORACLES["stratified_kfold_assign"],
    "X-pipe cross-validation: deterministic stratified k-fold (md5-ordered round-robin within stratum) — fold sizes differ by <=1 per class, pure function of (stratum, id)",
)
def q_stratified_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified 5-fold assignment over documents by language: within
    each lang, docs are shuffled by md5(doc_id||salt) and dealt
    round-robin, so every fold carries the same class mix (plain
    hash-mod folds only balance in expectation — fatal for rare
    strata). Output is the per-(lang, fold) audit: counts and id/char
    checksums. Operator: operators.ml.stratified_kfold."""
    from finance_reporting_etl_spark.operators.ml import stratified_kfold

    docs = _t(spark, sf_dir, "documents").select("lang", "doc_id", "n_chars")
    f = stratified_kfold(docs, ["lang"], "doc_id", k=5)
    return (
        f.groupBy("lang", "fold")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("doc_id").cast("bigint").alias("sum_doc_id"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
    )


@query("revenue_recognition_monthly",
    _ORACLES["revenue_recognition_monthly"],
    "P5/O5 finance: straight-line revenue recognition (ASC 606 ratable) — per-order month spine via sequence + largest-remainder unit-weight split, recognized cents sum EXACTLY to each order total",
)
def q_revenue_recognition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly recognized revenue: each order's total is spread evenly
    (to the cent, largest-remainder) over the months from order date to
    its last shipment, then rolled up per calendar month — the ratable
    recognition schedule a subscription/service warehouse maintains.
    The month spine is generated per order (sequence + explode, spans
    bounded by contract length ~5 months); the split reuses
    prorate_largest_remainder with unit weights, so conservation is
    exact and engine-independent.
    Operator: operators.allocation.straight_line_schedule."""
    from finance_reporting_etl_spark.operators.allocation import (
        straight_line_schedule,
    )

    ship = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.max("l_shipdate").alias("last_ship"))
    )
    o = _t(spark, sf_dir, "orders").join(
        ship, F.col("o_orderkey") == F.col("l_orderkey")
    ).select(
        "o_orderkey",
        "o_orderdate",
        "last_ship",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("t_c"),
    )
    # the ship agg broadcasts, so the explode stage would otherwise run
    # on the orders scan's 1-2 input splits; no-op at scale
    sched = straight_line_schedule(
        spread(o), "o_orderkey", "o_orderdate", "last_ship", "t_c"
    )
    # straight_line_schedule emits exactly ONE row per (order, month)
    # and o_orderkey is unique in `o`, so count(*) == count(distinct
    # o_orderkey) — same values, no distinct-aggregate expansion over
    # the exploded spine
    return (
        sched.groupBy("month")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            det_round(F.sum("alloc_cents") / 100.0, 2).alias(
                "recognized_revenue"
            ),
        )
    )


@query("var_cvar_daily_revenue",
    _ORACLES["var_cvar_daily_revenue"],
    "§2.5/finance risk: historical VaR + CVaR (expected shortfall) per event_type on daily integer-cents revenue — order-statistic exact (k = ceil(n/20) lower tail), no quantile interpolation",
)
def q_var_cvar_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5% historical Value-at-Risk and CVaR of daily revenue per
    event_type: VaR is the k-th worst day (k = ceil(n/20), lower order
    statistic — no interpolation, so both engines agree bit-for-bit on
    which day it is), CVaR the mean of the k worst. Daily sums are
    exact integer cents; float appears only in the two final
    divisions. Operator: operators.stats.historical_var_cvar."""
    from finance_reporting_etl_spark.operators.stats import historical_var_cvar

    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .cast("bigint")
        .alias("day_cents")
    )
    return historical_var_cvar(daily, ["event_type"], "day_cents")




@query("pca_embedding_projection",
    _ORACLES["pca_embedding_projection"],
    "X3/X-pipe decomposition: distributed PCA — per-partition (n, sum, X'X) moment partials via Arrow mapInPandas, 64x64 driver eigh, declarative centered-dot projection; oracle re-derives every score from the persisted components",
)
def q_pca_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 principal components of the embedding table, melted as
    (vec_id, comp_id, score) with the component's eigenvalue and
    explained-variance ratio. The fit collects only per-partition
    moment partials (1 + d + d^2 floats each — the bounded
    model-parameter class); the projection is a broadcast join + the
    same centered dot product DuckDB evaluates with list_dot_product,
    so every score is independently re-derived from the persisted
    components. Operator: operators.decomposition.pca_fit/pca_project."""
    from finance_reporting_etl_spark.operators.decomposition import (
        pca_fit,
        pca_project,
    )

    emb = _t(spark, sf_dir, "embeddings")
    comps = _persist_aux(
        spark,
        spark.createDataFrame(pca_fit(emb, "embedding", dim=64, n_components=2)),
        "pca_components",
    )
    return pca_project(emb, comps, ["vec_id", "label"])


@query("heaps_law_vocab_growth",
    _ORACLES["heaps_law_vocab_growth"],
    "X4 corpus diagnostics: Heaps-law vocabulary growth curve — first-occurrence via min(doc_id) hash agg + two bucket-partitioned distributed prefix sums; no data-sized single-partition window",
)
def q_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running (cum_tokens, cum_types) per document in doc_id order —
    the vocabulary-growth curve that flags self-repeating crawls
    (flattening) and transcoding junk (supralinear). First occurrences
    are one min() aggregation over postings; both cumulative sums go
    through distributed_cumsum, so the curve scales to corpora where a
    global ORDER BY window is impossible.
    Operator: operators.corpus.heaps_law_growth."""
    from finance_reporting_etl_spark.operators.corpus import heaps_law_growth

    return heaps_law_growth(_t(spark, sf_dir, "documents"))


@query("bpe_pair_merge_step",
    _ORACLES["bpe_pair_merge_step"],
    "X4 tokenizer induction: one BPE merge-candidate round — adjacent char-pair frequencies counted on the distinct-token vocabulary weighted by token frequency; top-k window over the alphabet^2-bounded pair domain",
)
def q_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The top-20 adjacent character pairs by corpus frequency — the
    next-merge-rule readout a BPE tokenizer trainer iterates. Pairs
    are exploded from the DISTINCT vocabulary (weighted by token
    count), not from the token stream, so the fan-out is
    Heaps-bounded rather than corpus-sized.
    Operator: operators.corpus.bpe_pair_frequencies."""
    from finance_reporting_etl_spark.operators.corpus import (
        bpe_pair_frequencies,
    )

    return bpe_pair_frequencies(_t(spark, sf_dir, "documents"))




_XIRR_FLOWS_SQL = """
    SELECT o_orderkey, 0 AS t,
           -CAST(round(o_totalprice * 100) AS BIGINT) AS c
    FROM orders WHERE year(o_orderdate) = 1995
    UNION ALL
    SELECT l_orderkey AS o_orderkey,
           date_diff('day', o_orderdate, l_shipdate) AS t,
           CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
               AS c
    FROM lineitem JOIN orders ON o_orderkey = l_orderkey
    WHERE year(o_orderdate) = 1995
"""


def _xirr_oracle() -> str:
    from finance_reporting_etl_spark.operators.allocation import (
        xirr_oracle_sql,
    )

    return xirr_oracle_sql(_XIRR_FLOWS_SQL, key="o_orderkey", iters=28)


@query("xirr_order_cashflows",
    _xirr_oracle(),
    "§2.5/finance iterative: per-order XIRR by fixed-iteration bisection — Arrow-batched per-key solve with libm pow + sorted sequential folds, bitwise-matched by a 28-step unrolled-CTE DuckDB oracle (graph.py unrolled-iteration pattern)",
)
def q_xirr_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Annualized IRR per 1995 order: the o_totalprice outflow at day 0
    against each line's discounted revenue at its ship date. Bisection
    runs 28 fixed iterations; NPV evaluation uses libm pow and a
    sequential fold in (t, cents) order, which DuckDB's power +
    list_sum reproduce bitwise — so an ITERATIVE float algorithm still
    hash-matches an independent engine. Orders without a sign bracket
    (rate outside [-0.9999, 10]) yield NULL.
    Operator: operators.allocation.xirr_bisection."""
    from finance_reporting_etl_spark.operators.allocation import xirr_bisection

    o95 = _t(spark, sf_dir, "orders").filter(F.year("o_orderdate") == 1995)
    out0 = o95.select(
        "o_orderkey",
        F.lit(0).alias("t"),
        (-F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("c"),
    )
    li = (
        _t(spark, sf_dir, "lineitem")
        .join(
            o95.select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            "o_orderkey",
            F.datediff("l_shipdate", "o_orderdate").alias("t"),
            F.round(
                F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")) * 100
            )
            .cast("bigint")
            .alias("c"),
        )
    )
    flows = out0.unionByName(li)
    return xirr_bisection(flows, "o_orderkey", "t", "c", iters=28)


@query("seasonal_decompose_daily",
    _ORACLES["seasonal_decompose_daily"],
    "§2.5 time series: classical additive decomposition (trend = centered 7-row MA, seasonal = dow mean of detrended, resid) — trend sums and seasonal numerators exact BIGINT, float only in closed-form per-row divisions",
)
def q_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """value = trend + seasonal + resid for daily revenue per
    event_type: the classical decomposition behind every seasonality
    dashboard. The integer-moment discipline (7*sum - sum-of-sums
    in BIGINT) keeps both engines bit-identical through the unordered
    aggregations. Operator: operators.timeseries.seasonal_decompose_dow."""
    from finance_reporting_etl_spark.operators.timeseries import (
        seasonal_decompose_dow,
    )

    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    return seasonal_decompose_dow(daily, ["event_type"], "day", "cents")


# oracle built here, not in oracles.py: the repr-printed annuity
# constants come from the same Python source as the Spark plan
# (operators feed queries.py, never oracles.py — ADVICE r7)
from finance_reporting_etl_spark.operators.allocation import (  # noqa: E402
    level_payment_oracle_sql as _level_payment_sql,
)

_LOAN_AMORT_ORACLE = _level_payment_sql(
    """SELECT o_orderkey,
               CAST(round(o_totalprice * 100) AS BIGINT) AS p
        FROM orders
        WHERE year(o_orderdate) = 1995 AND o_orderpriority = '1-URGENT'""",
    "o_orderkey",
    0.005,
    12,
)


@query("loan_amortization_schedule",
    _LOAN_AMORT_ORACLE,
    "P5/finance: level-payment amortization explosion (closed annuity form, no recursion) — per-period payment/interest/principal/balance as raw IEEE doubles; all pow factors repr-printed Python constants shared by both engines (zero libm pow AND zero float rounding in either plan — r8 gate proved round(DOUBLE,6) is itself per-engine-divergent)",
)
def q_loan_amortization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """12-month 0.5%/month amortization schedule for each urgent 1995
    order treated as a loan of its total price: the loan-book cash
    schedule explosion. All periods come from the closed annuity form
    g_k = (1+r)^k — no per-period recursion — and no engine evaluates
    pow at all: the 13 period factors are repr-printed Python doubles
    injected into both plans (the sprt Python-printed-constants
    pattern; the r7 driver gate proved constant-base pow is
    libm-sensitive). Output doubles are UNROUNDED — the r8 driver
    gate proved round(DOUBLE, 6) is itself per-engine-divergent at
    half-boundary doubles, so the emitted columns are the raw IEEE
    results of identical textual mul/sub/div (bit-equal across
    engines). Operator:
    operators.allocation.level_payment_schedule."""
    from finance_reporting_etl_spark.operators.allocation import (
        level_payment_schedule,
    )

    loans = (
        _t(spark, sf_dir, "orders")
        .filter(
            (F.year("o_orderdate") == 1995)
            & (F.col("o_orderpriority") == "1-URGENT")
        )
        .select(
            "o_orderkey",
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("p"),
        )
    )
    return level_payment_schedule(loans, "o_orderkey", "p", 0.005, 12)




@query("pps_part_revenue_sample",
    _ORACLES["pps_part_revenue_sample"],
    "X-pipe sampling: systematic probability-proportional-to-size draw (n=500) over part revenue — md5-shuffled cumulative axis via distributed_cumsum, exact-BIGINT grid hit counts, fixed sample size (variance-optimal vs Poisson sampling)",
)
def q_pps_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic PPS systematic sample of 500 parts weighted by
    lifetime revenue: the survey/mixture sampler with FIXED sample
    size and inclusion probability n*w/W per row. The cumulative axis
    is md5-shuffled and bucket-partitioned (distributed_cumsum), grid
    membership is exact integer arithmetic — no RNG, no float, no
    global window. Operator: operators.resample.pps_systematic_sample."""
    from finance_reporting_etl_spark.operators.resample import (
        pps_systematic_sample,
    )

    w = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_partkey")
        .agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")) * 100
                ).cast("bigint")
            )
            .cast("bigint")
            .alias("w_c")
        )
    )
    return pps_systematic_sample(w, "l_partkey", "w_c", n=500)


@query("fifo_open_lots_aging",
    _ORACLES["fifo_open_lots_aging"],
    "§2.5/finance inventory aging: FIFO open-lot remainder (no join — prefix sum + sold total on the cumulative-quantity axis), floor-prorated integer open value, aged into 30-day buckets per brand",
)
def q_fifo_open_lots_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The open-inventory side of FIFO: how much of each purchase lot
    survives after returns consume oldest-first, aged into 30-day
    buckets per part brand as of the latest ship date. Open value is
    floor((remaining*total)/qty) integer cents, so the rollup sums
    stay exact BIGINT on both engines.
    Operator: operators.allocation.fifo_open_lots."""
    from finance_reporting_etl_spark.operators.allocation import fifo_open_lots

    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_shipdate",
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        F.round("l_quantity").cast("bigint").alias("qty"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("total"),
    )
    order_cols = ["l_shipdate", "l_orderkey", "l_linenumber"]
    open_ = fifo_open_lots(
        li.filter(F.col("l_returnflag") == "N"),
        li.filter(F.col("l_returnflag") == "R"),
        ["l_partkey"], order_cols, "qty", "total",
    ).filter(F.col("open_qty") > 0)
    asof = li.agg(F.max("l_shipdate").alias("today"))
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    aged = (
        open_.crossJoin(F.broadcast(asof))
        .join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .withColumn("__age", F.datediff("today", "l_shipdate"))
        .withColumn(
            "age_bucket",
            F.when(F.col("__age") <= 30, "00-30")
            .when(F.col("__age") <= 60, "31-60")
            .when(F.col("__age") <= 90, "61-90")
            .otherwise("91+"),
        )
    )
    return aged.groupBy("p_brand", "age_bucket").agg(
        F.count(F.lit(1)).alias("n_lots"),
        F.sum("open_qty").cast("bigint").alias("open_qty"),
        det_round(F.sum("open_cents") / 100.0, 2).alias("open_value"),
    )

@query("sprt_ab_sequential",
    _ORACLES["sprt_ab_sequential"],
    "A-tier sequential experimentation: Wald SPRT early-stopping decision per arm — integer (t, conversions) state via packed distributed_cumsum, closed-form llr from Python-printed constants, first-crossing selection by integer MIN (no stream-sized sort)",
)
def q_sprt_ab_sequential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential A/B: every click/purchase event is one Bernoulli
    observation in time order (success = purchase), users md5-salted
    into two arms, and each arm stops at the first moment Wald's LLR
    leaves the (accept_h0, accept_h1) band for p0=0.45 vs p1=0.55 —
    the early-stopping readout a fixed-horizon test can't give. The
    LLR lattice is bit-identical across engines (integer cumulative
    state x shared float constants), so the crossing row itself is
    hash-stable. Operator: operators.stats.sprt_decision."""
    from finance_reporting_etl_spark.operators.corpus import md5_bucket
    from finance_reporting_etl_spark.operators.stats import sprt_decision

    ev = _t(spark, sf_dir, "events")
    obs = ev.filter(F.col("event_type").isin("click", "purchase")).select(
        F.when(md5_bucket("user_id", 256, salt="sprt1") % 2 == 0, "A")
        .otherwise("B")
        .alias("arm"),
        F.unix_micros("ts").alias("t_us"),
        F.col("event_id").alias("tb"),
        (F.col("event_type") == "purchase").cast("int").alias("converted"),
    )
    return sprt_decision(
        obs, "arm", "t_us", "tb", "converted", ["A", "B"], p0=0.45, p1=0.55
    )


@query("changepoint_daily_revenue",
    _ORACLES["changepoint_daily_revenue"],
    "§2.5 time series: binary-segmentation changepoint per key — argmax |n*S_k - k*S_n| kept EXACT BIGINT end-to-end (bit-stable argmax), calendar-bounded windows, float only in the two final segment means",
)
def q_changepoint_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Locate the regime break in each order priority's daily revenue:
    the split k* maximizing the unnormalized CUSUM deviation, with the
    before/after daily means it separates. CUSUM (cusum_alarm_days)
    says WHEN drift alarms; this says WHERE the level actually broke.
    Operator: operators.timeseries.changepoint_mean_shift."""
    from finance_reporting_etl_spark.operators.timeseries import (
        changepoint_mean_shift,
    )

    d = (
        _t(spark, sf_dir, "orders")
        .groupBy(
            "o_orderpriority", F.col("o_orderdate").cast("date").alias("day")
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("c")
        )
    )
    return changepoint_mean_shift(d, ["o_orderpriority"], "day", "c")


@query("capm_segment_beta",
    _ORACLES["capm_segment_beta"],
    "§2.5/finance: CAPM beta/alpha/r2 per market segment — EXACT ppm integer returns (floor-div pmod identity), DECIMAL(38,0) moment sums, float only in the closed-form normal-equation divisions",
)
def q_capm_segment_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each segment's daily-revenue sensitivity to the whole market:
    beta/alpha/r2 from an OLS of segment ppm returns on market ppm
    returns. Returns are exact integers (parts-per-million, floor
    semantics shared across engines), the five moment sums accumulate
    in DECIMAL(38,0), and every float is a final closed form — so a
    regression over unordered distributed sums still hash-matches.
    Operators: operators.timeseries.ppm_returns +
    operators.stats.ols_beta_alpha_r2."""
    from finance_reporting_etl_spark.operators.stats import ols_beta_alpha_r2
    from finance_reporting_etl_spark.operators.timeseries import ppm_returns

    o = _t(spark, sf_dir, "orders")
    cents = (
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("c")
    )
    seg = (
        o.join(
            _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment"),
            o["o_custkey"] == F.col("c_custkey"),
        )
        .groupBy("c_mktsegment", F.col("o_orderdate").cast("date").alias("day"))
        .agg(cents)
    )
    mkt = (
        o.groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(cents)
        .withColumn("__m", F.lit(1))
    )
    segr = ppm_returns(seg, ["c_mktsegment"], "day", "c", "y_ppm").select(
        "c_mktsegment", "day", "y_ppm"
    )
    mktr = ppm_returns(mkt, ["__m"], "day", "c", "x_ppm").select("day", "x_ppm")
    pairs = segr.join(mktr, "day")
    return ols_beta_alpha_r2(pairs, ["c_mktsegment"], "x_ppm", "y_ppm")


@query("bloom_filter_membership",
    _ORACLES["bloom_filter_membership"],
    "X-scale membership sketch: Bloom filter built and probed from md5 hex-slice bit positions — <= m-row broadcast-able bit set, exact TP/FP accounting, oracle re-derives every bit and probe decision",
)
def q_bloom_filter_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a 4096-bit / 3-hash Bloom filter over urgent-order
    customers, probe EVERY customer, and report the exact confusion:
    bits set, positives, false positives and the measured FPR. The
    semi-join pre-filter pattern at 100 TB: the bit set is bounded by
    m (never the member count), so the probe is one broadcast join.
    Operator: operators.membership.bloom_build/bloom_probe."""
    from finance_reporting_etl_spark.operators.membership import (
        bloom_build,
        bloom_probe,
    )

    m_bits, k_hashes, salt = 4096, 3, "bf1"
    members = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("k"))
        .distinct()
    )
    bits = bloom_build(members, "k", salt, m_bits, k_hashes)
    probes = _t(spark, sf_dir, "customer").select(F.col("c_custkey").alias("k"))
    flagged = bloom_probe(probes, "k", bits, salt, m_bits, k_hashes).join(
        members.withColumn("__is", F.lit(1)), "k", "left"
    )
    summary = flagged.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_probed"),
        F.sum("bloom_positive").cast("bigint").alias("n_positive"),
        F.sum(
            ((F.col("bloom_positive") == 1) & F.col("__is").isNull()).cast("int")
        )
        .cast("bigint")
        .alias("n_false_positive"),
        F.sum(F.coalesce(F.col("__is"), F.lit(0))).cast("bigint").alias("__nm"),
    )
    n_members = members.agg(F.count(F.lit(1)).cast("bigint").alias("n_members"))
    bits_set = bits.agg(F.count(F.lit(1)).cast("bigint").alias("bits_set"))
    return (
        summary.crossJoin(F.broadcast(n_members))
        .crossJoin(F.broadcast(bits_set))
        .select(
            F.lit(m_bits).cast("int").alias("m_bits"),
            F.lit(k_hashes).cast("int").alias("k_hashes"),
            "n_members",
            "bits_set",
            "n_probed",
            "n_positive",
            "n_false_positive",
            det_round(
                F.col("n_false_positive").cast("double")
                / F.nullif(
                    (F.col("n_probed") - F.col("__nm")).cast("double"), F.lit(0.0)
                ),
                6,
            ).alias("fpr"),
        )
    )


@query("survivorship_documents",
    _ORACLES["survivorship_documents"],
    "X2/MDM: field-level survivorship over blocked duplicate clusters — winner-precedence carry, majority-vote consensus with bit-stable tie-breaks, sorted-distinct merge; per-cluster windows bounded by the blocking",
)
def q_survivorship_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record construction over the corpus's template families
    (blocked on the 40-char text prefix): longest-text-wins carries
    the id, lang resolves by majority vote, sources union into one
    deterministic CSV — the merge step every MDM pipeline runs after
    entity resolution. Operator:
    operators.dedup.survivorship_golden_records."""
    from finance_reporting_etl_spark.operators.dedup import (
        survivorship_golden_records,
    )

    recs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        F.substring("text", 1, 40).alias("block"),
    )
    return survivorship_golden_records(
        recs,
        "block",
        [F.col("n_chars").desc(), F.col("doc_id").asc()],
        ["doc_id", "n_chars"],
        "lang",
        "source",
    )


@query("naive_bayes_lang_classify",
    _ORACLES["naive_bayes_lang_classify"],
    "X4/ML: multinomial naive Bayes language classifier (Laplace smoothing, md5 train/test split) — integer micro-nat log-probs make document scores exact integer sums, bit-stable argmax, confusion-matrix readout",
)
def q_naive_bayes_lang_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a counts-only NB language classifier on an 80% md5 split
    of the corpus and score the held-out 20%: the (actual, predicted)
    confusion matrix. Per-token log-probabilities quantize to integer
    micro-nats at the Heaps-bounded vocab x class grain, so scoring is
    pure integer aggregation — the unordered-float-sum hazard of a
    distributed NB never arises. Operator:
    operators.ml.naive_bayes_confusion."""
    from finance_reporting_etl_spark.functions.text import whitespace_tokens
    from finance_reporting_etl_spark.operators.corpus import md5_bucket
    from finance_reporting_etl_spark.operators.ml import naive_bayes_confusion

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        whitespace_tokens(F.lower(F.col("text"))).alias("toks"),
        (md5_bucket("doc_id", 256, salt="nb1") < 205).cast("int").alias("tr"),
    )
    return naive_bayes_confusion(d, "doc_id", "lang", "toks", "tr")


@query("dupont_roe_decomposition",
    _ORACLES["dupont_roe_decomposition"],
    "P5/P6 finance: DuPont ROE chain (margin x turnover x leverage) over the statements staging — per-row closed forms on identically-rounded monthly aggregates, NULLIF-guarded; reference README.md:487-493 KPI macros extended",
)
def q_dupont_roe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The analyst's ROE bridge: net margin x asset turnover x equity
    multiplier, reconciled against direct NI/equity — the reference's
    margin/ROA/ROE macro family (functions/kpis.py) taken one step
    further into the decomposition every finance review deck shows.
    Aggregates round(,6) identically on both engines before any ratio
    (the mart_financial_kpis float discipline)."""
    ev = _t(spark, sf_dir, "events")
    month = F.date_trunc("month", F.col("ts")).alias("fiscal_date")
    inc = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.col("user_id").alias("symbol"), month)
        .agg(
            det_round(F.sum("value"), 6).alias("total_revenue"),
            det_round(F.sum(F.col("value") * 0.2), 6).alias("net_income"),
        )
    )
    bal = (
        ev.filter(F.col("event_type") == "click")
        .groupBy(F.col("user_id").alias("symbol"), month)
        .agg(
            det_round(F.sum("value"), 6).alias("total_assets"),
            det_round(F.sum(F.col("value") * 0.4), 6).alias("total_equity"),
        )
    )
    from finance_reporting_etl_spark.functions.kpis import safe_div

    j = inc.join(bal, ["symbol", "fiscal_date"])
    margin = safe_div(F.col("net_income"), F.col("total_revenue"))
    turnover = safe_div(F.col("total_revenue"), F.col("total_assets"))
    mult = safe_div(F.col("total_assets"), F.col("total_equity"))
    return j.select(
        "symbol",
        "fiscal_date",
        det_round(margin, 6).alias("net_margin"),
        det_round(turnover, 6).alias("asset_turnover"),
        det_round(mult, 6).alias("equity_multiplier"),
        det_round(margin * turnover * mult, 6).alias("roe_dupont"),
        det_round(safe_div(F.col("net_income"), F.col("total_equity")), 6).alias(
            "roe_direct"
        ),
    )


@query("indicator_real_terms",
    _ORACLES["indicator_real_terms"],
    "S1/§2.7 FRED-style units transforms: nominal->real deflation to a base-period CPI plus chg / pch — per-row closed forms over identically-rounded daily aggregates, calendar-bounded lag window",
)
def q_indicator_real_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FRED 'units' readout the reference's observations feed
    implies: daily nominal GDP-series values deflated to first-day
    CPI (real = nominal * base/cpi), with chg and pch exactly as the
    API's units=chg/pch transforms define them. Base CPI is a 1-row
    broadcast; the lag window rides the bounded calendar spine.
    Extends queries.py economic_indicators (readme.md:355-374)."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    day = F.col("ts").cast("date").alias("date")
    g = (
        ev.filter(F.col("event_type") == "click")
        .groupBy(day)
        .agg(det_round(F.sum("value"), 6).alias("nominal"))
    )
    c = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(day)
        .agg(det_round(F.avg("value"), 6).alias("cpi"))
    )
    j = g.join(c, "date")
    base = j.orderBy("date").limit(1).select(F.col("cpi").alias("base_cpi"))
    w = Window.orderBy("date")
    l = j.crossJoin(F.broadcast(base)).withColumn(
        "prev", F.lag("nominal").over(w)
    )
    return l.select(
        "date",
        "nominal",
        "cpi",
        det_round(
            F.col("nominal") * F.col("base_cpi") / F.nullif("cpi", F.lit(0)), 6
        ).alias("real_value"),
        det_round(F.col("nominal") - F.col("prev"), 6).alias("chg"),
        det_round(
            (F.col("nominal") - F.col("prev"))
            / F.nullif("prev", F.lit(0))
            * 100.0,
            6,
        ).alias("pch"),
    )


@query("weighted_ares_sample",
    _ORACLES["weighted_ares_sample"],
    "X-pipe sampling: Efraimidis-Spirakis weighted reservoir (A-Res) — deterministic md5 exponential race keys, TakeOrdered top-k (no global sort), mergeable-prefix property; completes the sampling family",
)
def q_weighted_ares_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Draw 200 parts without replacement with probability tilted by
    lifetime discounted revenue: each part races an exponential clock
    of rate w (key = -ln(u)/w, u from its md5), and the 200 earliest
    arrivals win — the streamable/mergeable weighted sampler (any
    sorted prefix of any shard union is a valid sample), vs
    pps_systematic_sample's fixed-axis draw. Operator:
    operators.resample.weighted_ares_sample."""
    from finance_reporting_etl_spark.operators.resample import (
        weighted_ares_sample,
    )

    w = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_partkey")
        .agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")) * 100
                ).cast("bigint")
            )
            .cast("bigint")
            .alias("w_c")
        )
    )
    return weighted_ares_sample(w, "l_partkey", "w_c", k=200, salt="ares1")


@query("ols_price_model_brand",
    _ORACLES["ols_price_model_brand"],
    "X4/ML: multivariate OLS (2 features + intercept) per brand via Cramer on the 3x3 normal equations — DECIMAL(38,0) exact moments, ONE shared closed-form SQL template parsed by both engines (F.expr == oracle text)",
)
def q_ols_price_model_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price model per brand: extendedprice_cents ~ b0 + b1*qty +
    b2*discount_bp, solved in closed form — multivariate regression as
    one aggregation with no iterative solver and no driver-side
    algebra. The float sequence is literally the same parse tree in
    both engines (the _OLS2_* template). Operator:
    operators.ml.ols2_cramer."""
    from finance_reporting_etl_spark.operators.ml import ols2_cramer

    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.round("l_quantity").cast("bigint").alias("x1"),
        F.round(F.col("l_discount") * 10000).cast("bigint").alias("x2"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("y"),
    )
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    xy = li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    return ols2_cramer(xy, ["p_brand"], "x1", "x2", "y")


@query("markov_absorption_3step",
    _ORACLES["markov_absorption_3step"],
    "A-tier attribution: fixed-horizon Markov absorption — P(convert within k steps | start state), k=1..3; probability vectors live as ONE broadcast row per round so the recursion is a left-to-right closed form, never an unordered float SUM",
)
def q_markov_absorption_3step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How likely each entry event leads to a purchase within 1, 2, 3
    steps: the Markov-chain view of attribution, one level above
    event_transition_matrix (purchase is absorbing; transitions out of
    it are excluded). The state alphabet is fixed and tiny, so each
    step's vector is a broadcast row and the update is bit-stable.
    Operator: operators.stats.markov_absorption_fixed."""
    from pyspark.sql import Window

    from finance_reporting_etl_spark.operators.stats import (
        markov_absorption_fixed,
    )

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        _t(spark, sf_dir, "events")
        .select(
            F.col("event_type").alias("src"),
            F.lead("event_type").over(w).alias("dst"),
        )
        .filter(F.col("dst").isNotNull() & (F.col("src") != "purchase"))
    )
    counts = pairs.groupBy("src", "dst").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    return markov_absorption_fixed(
        counts,
        "src",
        "dst",
        "c",
        states=["click", "error", "signup", "view"],
        absorb="purchase",
        steps=3,
    )


@query("wac_inventory_brand",
    _ORACLES["wac_inventory_brand"],
    "§2.5/finance inventory: weighted-average-cost fold per part (exact-integer 3-state recurrence streamed in ONE mapInPandas pass over repartition+sortWithinPartitions; oracle replays it as a DuckDB recursive CTE — list_reduce is unsafe here due to accumulator field aliasing, see wac_oracle_sql), rolled up per brand",
)
def q_wac_inventory_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The average-cost counterpart to FIFO (fifo_realized_pnl /
    fifo_open_lots_aging): buys pool value, returns consume it at the
    pooled average, realized PnL = pro-rated revenue minus removed
    value — a genuinely sequential per-part fold (division breaks
    every prefix-sum identity), exact BIGINT end-to-end, rolled up to
    brand. Operator: operators.allocation.wac_inventory_fold."""
    from finance_reporting_etl_spark.operators.allocation import (
        wac_inventory_fold,
    )

    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_shipdate",
        "l_orderkey",
        "l_linenumber",
        (
            F.round("l_quantity").cast("bigint")
            * F.when(F.col("l_returnflag") == "R", -1).otherwise(1)
        ).alias("sq"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("v"),
    )
    folded = wac_inventory_fold(
        li,
        ["l_partkey"],
        ["l_shipdate", "l_orderkey", "l_linenumber"],
        "sq",
        "v",
    )
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    return (
        folded.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parts"),
            F.sum("on_hand_qty").cast("bigint").alias("on_hand_qty"),
            det_round(F.sum("inv_value_cents") / 100.0, 2).alias("inv_value"),
            det_round(F.sum("realized_cents") / 100.0, 2).alias("realized_pnl"),
        )
    )


@query("zipf_law_fit",
    _ORACLES["zipf_law_fit"],
    "X4 text: Zipf's-law exponent per language — rank-frequency log-log OLS on integer micro-log coordinates (exact moment sums; the NB quantization trick applied to regression), Heaps-bounded vocab windows",
)
def q_zipf_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fit log(freq) ~ alpha + beta*log(rank) over each language's top
    500 tokens: the Zipf exponent (beta ~ -1 for natural text) — a
    corpus-health diagnostic that flags templated/synthetic text by
    its flattened slope. Both logs quantize to integer micro-nats
    BEFORE the moment sums, so the regression over an unordered
    distributed aggregation is still exact. Operators:
    functions.text.whitespace_tokens + operators.stats.ols_beta_alpha_r2."""
    from pyspark.sql import Window

    from finance_reporting_etl_spark.functions.text import whitespace_tokens
    from finance_reporting_etl_spark.operators.stats import ols_beta_alpha_r2

    tk = _t(spark, sf_dir, "documents").select(
        "lang",
        F.explode(whitespace_tokens(F.lower(F.col("text")))).alias("tok"),
    )
    fr = tk.groupBy("lang", "tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    w = Window.partitionBy("lang").orderBy(F.col("c").desc(), F.col("tok").asc())
    xy = (
        fr.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 500)
        .select(
            "lang",
            F.round(F.log(F.col("rank").cast("double")) * 1000000)
            .cast("bigint")
            .alias("x"),
            F.round(F.log(F.col("c").cast("double")) * 1000000)
            .cast("bigint")
            .alias("y"),
        )
    )
    return ols_beta_alpha_r2(xy, ["lang"], "x", "y")


@query("mahalanobis_outlier_events",
    _ORACLES["mahalanobis_outlier_events"],
    "§2.5/quality: bivariate Mahalanobis outlier counts per event type — closed-form 2x2 covariance inverse on DECIMAL(38,0) exact moments, bit-stable threshold test, one aggregation + one broadcast join (no window)",
)
def q_mahalanobis_outlier_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multivariate anomaly detection without a model: events whose
    (value, hour-of-day) pair sits outside the 99.9% chi-square
    ellipse of their type — catches value/time combinations univariate
    z-scores miss (rolling_zscore_anomalies is the 1-D sibling).
    Operator: operators.stats.mahalanobis2_outliers."""
    from finance_reporting_etl_spark.operators.stats import (
        mahalanobis2_outliers,
    )

    src = (
        _t(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.round(F.col("value") * 100).cast("bigint").alias("x"),
            F.hour("ts").cast("bigint").alias("y"),
        )
    )
    return mahalanobis2_outliers(src, ["event_type"], "x", "y")


@query("seasonal_naive_backtest",
    _ORACLES["seasonal_naive_backtest"],
    "§2.5 forecasting eval: seasonal-naive (lag-7) backtest per key — exact integer error sums, MAE/RMSE/WAPE as single closed-form floats (WAPE replaces MAPE to avoid per-row float ratio sums)",
)
def q_seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score the forecast every model must beat: predict each day's
    revenue with the same weekday last week, and report MAE / RMSE /
    WAPE per event type. Completes the forecasting family
    (holt_trend_forecast, seasonal_decompose_daily produce forecasts;
    this evaluates one) with error aggregates that stay exact
    integers until the final division.
    Operator: operators.timeseries.seasonal_naive_backtest."""
    from finance_reporting_etl_spark.operators.timeseries import (
        seasonal_naive_backtest,
    )

    d = (
        _t(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("bigint"))
            .cast("bigint")
            .alias("c")
        )
    )
    return seasonal_naive_backtest(d, ["event_type"], "day", "c", season=7)


@query("gbt_price_residual_stumps",
    _ORACLES["gbt_price_residual_stumps"],
    "X4/ML: 2-round gradient boosting with regression stumps — SSE-gain splits from exact integer moments (shared _GB_GAIN template), floor-div leaf predictions keep residuals INTEGRAL so round 2 trains exactly; oracle unrolls both rounds",
)
def q_gbt_price_residual_stumps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boosting's core loop, exactly: fit the best regression stump to
    extendedprice, subtract its integer leaf means, fit a second stump
    to the residuals — per-round (split, leaves, RMSE-after). The
    residual stream staying integral is what lets an iterative
    ensemble hash-match an independent engine (the xirr lesson applied
    to ML). Complements the Gini stump family
    (decision_stump_train/decision_tree_depth2 classify; this
    regresses). Operator: operators.ml.boosted_reg_stumps."""
    from pyspark.sql.types import (
        DecimalType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from finance_reporting_etl_spark.operators.ml import boosted_reg_stumps

    base = _t(spark, sf_dir, "lineitem").select(
        F.round("l_quantity").cast("bigint").alias("f_qty"),
        F.round(F.col("l_discount") * 10000).cast("bigint").alias("f_disc"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("y"),
    )
    rows = boosted_reg_stumps(base, ["f_disc", "f_qty"], "y", rounds=2)
    schema = StructType(
        [
            StructField("round", IntegerType()),
            StructField("feature", StringType()),
            StructField("thr", LongType()),
            StructField("pred_l", LongType()),
            StructField("pred_r", LongType()),
            StructField("sse", DecimalType(38, 0)),
            StructField("n", LongType()),
        ]
    )
    out = spark.createDataFrame(
        [(r[0], r[1], r[2], r[3], r[4], r[5], r[6]) for r in rows], schema
    )
    return out.select(
        "round",
        "feature",
        "thr",
        "pred_l",
        "pred_r",
        det_round(
            F.sqrt(F.col("sse").cast("double") / F.col("n").cast("double"))
            / 100.0,
            2,
        ).alias("rmse_after"),
    )


@query("pareto_frontier_parts",
    _ORACLES["pareto_frontier_parts"],
    "A-tier skyline operator: 2-D Pareto frontier per brand (min price, max size) — ONE sort + running-max window (per-brand bounded), exact integers, deterministic duplicate handling; no pairwise dominance join",
)
def q_pareto_frontier_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skyline query: parts no other same-brand part beats on
    BOTH price (lower) and size (higher). The classic formulation is
    an all-pairs dominance anti-join; sorting by (price asc, size
    desc) reduces it to 'size exceeds the running max of everything
    cheaper-or-equal' — one bounded window, exact, and duplicates
    collapse to the lowest partkey."""
    from pyspark.sql import Window

    p = _t(spark, sf_dir, "part").select(
        "p_brand",
        "p_partkey",
        F.round(F.col("p_retailprice") * 100).cast("bigint").alias("price_cents"),
        F.col("p_size").cast("bigint").alias("p_size"),
    )
    w = (
        Window.partitionBy("p_brand")
        .orderBy(
            F.col("price_cents").asc(), F.col("p_size").desc(), F.col("p_partkey").asc()
        )
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    r = p.withColumn("prev_max", F.max("p_size").over(w))
    return r.filter(
        F.col("prev_max").isNull() | (F.col("p_size") > F.col("prev_max"))
    ).drop("prev_max")


@query("ab_srm_check",
    _ORACLES["ab_srm_check"],
    "A-tier experimentation ops: sample-ratio-mismatch chi-square against the 50/50 design — (nA-nB)^2/n exact-integer statistic, printed chi-square cutoffs; the guardrail that invalidates A/B readouts when assignment is broken",
)
def q_ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first thing a healthy experiment pipeline checks: do the
    arm sizes match the designed 50/50 split? With E = n/2 the
    chi-square statistic collapses to (nA-nB)^2/n — one exact integer
    expression — flagged at 95% and 99.9% (df=1). Uses the SAME ab1
    arm hash as ab_test_conversion_lift, so this is the guardrail for
    that exact readout."""
    from finance_reporting_etl_spark.operators.corpus import md5_bucket

    u = (
        _t(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
        .select(
            F.when(md5_bucket("user_id", 256, salt="ab1") % 2 == 0, "A")
            .otherwise("B")
            .alias("arm")
        )
    )
    c = u.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum((F.col("arm") == "A").cast("int")).cast("bigint").alias("n_a"),
        F.sum((F.col("arm") == "B").cast("int")).cast("bigint").alias("n_b"),
    )
    chi2 = ((F.col("n_a") - F.col("n_b")) * (F.col("n_a") - F.col("n_b"))).cast(
        "double"
    ) / F.col("n_users").cast("double")
    return c.select(
        "n_users",
        "n_a",
        "n_b",
        det_round(chi2, 6).alias("chi2"),
        (chi2 > F.lit(3.841458820694124)).cast("int").alias("srm_flag_95"),
        (chi2 > F.lit(10.827566170662733)).cast("int").alias("srm_flag_999"),
    )


@query("fuzzy_name_match_pairs",
    _ORACLES["fuzzy_name_match_pairs"],
    "X2/ER: blocked fuzzy matching with BUILT-IN levenshtein (JVM whole-stage codegen, zero Python) — suffix-pigeonhole candidate equi-joins (same SimHash-block trick as operators/dedup.py) bound candidates ~100x below the naive block self-join, edit-distance <= 1 filter, exact integer distances",
)
def q_fuzzy_name_match_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-identical customer names (edit distance <= 1) within a
    14-char-prefix block, found WITHOUT the naive block self-join.

    The r6 verdict showed the naive plan degenerates on TPC-H names:
    the 14-char prefix pins only the top digits, so the whole table
    collapses into ~2 blocks -> ~6e7 levenshtein calls on 2 join keys
    (2 of 32 cores busy, 193 s at sf0.1). Pigeonhole instead: two
    equal-length names at edit distance <= 1 differ by at most ONE
    substitution, so of the suffix halves h1 = chars 15-16 and
    h2 = chars 17..end, at least one is IDENTICAL. Candidates are the
    union of two equi-joins on (block, len, h2) and (block, len, h1)
    [the second filtered to h2_a != h2_b so the legs are disjoint and
    no distinct-shuffle is needed], each verified by the built-in
    levenshtein — identical to DuckDB's. Join-key count goes from
    ~2 to ~2x100 per leg (full parallelism) and candidate pairs drop
    ~100x, with the output set UNCHANGED.

    Cross-length pairs (|len diff| = 1 can still be distance 1 via an
    insert/delete) are covered exactly by a third leg that self-joins
    ONLY the blocks containing >1 distinct name length — empty on
    TPC-H's fixed 18-char names, so it costs one cheap aggregate.
    The string-similarity leg of the ER family
    (entity_resolution_blocked joins on exact keys; this tolerates
    typos)."""
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        F.substring("c_name", 1, 14).alias("block"),
        F.length("c_name").alias("len"),
        F.substring("c_name", 15, 2).alias("h1"),
        F.expr("substring(c_name, 17)").alias("h2"),
    )
    # The build side broadcasts (small dim), so join parallelism equals
    # PROBE-side partition count — a handful of input splits on this
    # fixture. spread() the probe so the levenshtein verify uses every
    # core; no-op at scale where the scan already has >=32 splits.
    ca = spread(c)

    def _finish(j: DataFrame) -> DataFrame:
        dist = F.levenshtein(F.col("a.c_name"), F.col("b.c_name"))
        return j.filter(dist <= 1).select(
            F.col("a.c_custkey").alias("id_a"),
            F.col("b.c_custkey").alias("id_b"),
            dist.cast("int").alias("edit_dist"),
            (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
            .cast("int")
            .alias("same_nation"),
        )

    base = (
        (F.col("a.block") == F.col("b.block"))
        & (F.col("a.len") == F.col("b.len"))
        & (F.col("a.c_custkey") < F.col("b.c_custkey"))
    )
    # substitution in h1 (or none) -> h2 equal; substitution in h2 ->
    # h1 equal AND h2 different (disjointness filter, no dedup needed)
    leg_h2 = _finish(
        ca.alias("a").join(
            c.alias("b"), base & (F.col("a.h2") == F.col("b.h2"))
        )
    )
    leg_h1 = _finish(
        ca.alias("a").join(
            c.alias("b"),
            base
            & (F.col("a.h1") == F.col("b.h1"))
            & (F.col("a.h2") != F.col("b.h2")),
        )
    )
    # blocks with >1 distinct name length: only there can an
    # insert/delete pair exist. Empty on this fixture; exact anywhere.
    multi = (
        c.groupBy("block")
        .agg(F.countDistinct("len").alias("__nl"))
        .filter(F.col("__nl") > 1)
        .select("block")
    )
    cm = c.join(F.broadcast(multi), "block")
    leg_x = _finish(
        cm.alias("a").join(
            cm.alias("b"),
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.len") != F.col("b.len"))
            & (F.col("a.c_custkey") < F.col("b.c_custkey")),
        )
    )
    return leg_h2.unionByName(leg_h1).unionByName(leg_x)


@query("kendall_tau_daily",
    _ORACLES["kendall_tau_daily"],
    "§2.5 stats: exact tie-corrected Kendall tau-b over the daily (orders, revenue) series — integer concordance counts via a broadcast NLJ on the calendar-bounded spine (no CartesianProduct), one closed-form float",
)
def q_kendall_tau_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Do busier days make more money, measured by pair concordance?
    Kendall's tau-b between daily order count and daily revenue —
    the monotone-robust complement to spearman_daily_orders, with
    exact tie corrections. Operator: operators.stats.kendall_tau_b."""
    from finance_reporting_etl_spark.operators.stats import kendall_tau_b

    d = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("x"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("y"),
        )
    )
    return kendall_tau_b(d, "day", "x", "y")


@query("tail_dependence_segments",
    _ORACLES["tail_dependence_segments"],
    "§2.5/risk: empirical upper/lower tail dependence between two segments' daily revenues — exact order-statistic decile tails (integer k = ceil(n/10)), joint exceedance counts, calendar-bounded windows",
)
def q_tail_dependence_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Do BUILDING and MACHINERY crash (and boom) on the SAME days?
    The empirical tail-dependence coefficients lambda_U / lambda_L:
    the fraction of each series' top/bottom-decile days that are
    top/bottom-decile days for BOTH — the copula-level risk signal
    correlation misses (two series can be 0.9-correlated yet never
    share their worst days). Tails are exact order statistics, counts
    are integers, the ratio is the only float."""
    from pyspark.sql import Window

    seg = (
        _t(spark, sf_dir, "orders")
        .join(
            _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .filter(F.col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .groupBy("c_mktsegment", F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )
    x = seg.filter(F.col("c_mktsegment") == "BUILDING").select(
        "day", F.col("cents").alias("x")
    )
    y = seg.filter(F.col("c_mktsegment") == "MACHINERY").select(
        "day", F.col("cents").alias("y")
    )
    j = x.join(y, "day")
    r = j.select(
        "day",
        "x",
        "y",
        F.count(F.lit(1)).over(Window.partitionBy()).cast("bigint").alias("n"),
        F.row_number()
        .over(Window.orderBy(F.col("x").desc(), F.col("day")))
        .alias("rx_hi"),
        F.row_number()
        .over(Window.orderBy(F.col("y").desc(), F.col("day")))
        .alias("ry_hi"),
        F.row_number()
        .over(Window.orderBy(F.col("x").asc(), F.col("day")))
        .alias("rx_lo"),
        F.row_number()
        .over(Window.orderBy(F.col("y").asc(), F.col("day")))
        .alias("ry_lo"),
    ).withColumn("kt", F.expr("(n + 9) div 10"))
    up = ((F.col("rx_hi") <= F.col("kt")) & (F.col("ry_hi") <= F.col("kt"))).cast(
        "int"
    )
    lo = ((F.col("rx_lo") <= F.col("kt")) & (F.col("ry_lo") <= F.col("kt"))).cast(
        "int"
    )
    return r.agg(
        F.max("n").cast("bigint").alias("n_days"),
        F.max("kt").cast("bigint").alias("k_tail"),
        F.sum(up).cast("bigint").alias("joint_upper"),
        F.sum(lo).cast("bigint").alias("joint_lower"),
        det_round(
            F.sum(up).cast("double") / F.max("kt").cast("double"), 6
        ).alias("lambda_upper"),
        det_round(
            F.sum(lo).cast("double") / F.max("kt").cast("double"), 6
        ).alias("lambda_lower"),
    )


@query("duplicate_payment_audit",
    _ORACLES["duplicate_payment_audit"],
    "P-audit/finance forensics: near-duplicate invoice detection — custkey-blocked self-join (per-customer bounded), 7-day window + 5% relative amount band, exact integer gaps; the classic AP duplicate-payment control",
)
def q_duplicate_payment_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The accounts-payable control every audit runs: candidate
    duplicate payments = same customer, order dates within 7 days,
    amounts within 5% of each other (exact integer comparison:
    20*|diff| <= max). The self-join blocks on the customer key, so
    candidates are bounded by per-customer order counts at any scale;
    both deltas stay exact integers."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("day"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    a = o.select(
        F.col("o_custkey"),
        F.col("o_orderkey").alias("key_a"),
        F.col("day").alias("__da"),
        F.col("cents").alias("__ca"),
    )
    b = o.select(
        F.col("o_custkey"),
        F.col("o_orderkey").alias("key_b"),
        F.col("day").alias("__db"),
        F.col("cents").alias("__cb"),
    )
    j = a.join(b, "o_custkey").filter(F.col("key_a") < F.col("key_b"))
    gap = F.abs(F.datediff("__da", "__db"))
    diff = F.abs(F.col("__ca") - F.col("__cb"))
    band = diff * 20 <= F.greatest(F.col("__ca"), F.col("__cb"))
    return j.filter((gap <= 7) & band).select(
        "o_custkey",
        "key_a",
        "key_b",
        gap.cast("bigint").alias("day_gap"),
        diff.cast("bigint").alias("cents_diff"),
    )


@query("last_digit_uniformity",
    _ORACLES["last_digit_uniformity"],
    "P-audit/finance forensics: last-cents-digit uniformity chi-square (df=9) via the exact identity chi2 = 10*sum(obs^2)/n - n — fabricated amounts fail this before they fail Benford; integer counts, one float",
)
def q_last_digit_uniformity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fraud's other digit test: genuine transaction amounts have
    UNIFORM last digits (Benford governs the first); human-invented
    ones don't. The goodness-of-fit statistic collapses algebraically
    to 10*sum(obs^2)/n - n, so the whole test is two exact integer
    aggregates and one division. Complements benford_first_digit."""
    d = _t(spark, sf_dir, "orders").select(
        (F.round(F.col("o_totalprice") * 100).cast("bigint") % 10).alias("digit")
    )
    c = d.groupBy("digit").agg(F.count(F.lit(1)).cast("bigint").alias("obs"))
    a = c.agg(
        F.sum("obs").cast("bigint").alias("n"),
        F.sum(F.col("obs") * F.col("obs")).cast("bigint").alias("ss"),
        F.min("obs").cast("bigint").alias("min_digit_n"),
        F.max("obs").cast("bigint").alias("max_digit_n"),
    )
    chi2 = (F.lit(10) * F.col("ss")).cast("double") / F.col("n").cast(
        "double"
    ) - F.col("n").cast("double")
    return a.select(
        "n",
        "min_digit_n",
        "max_digit_n",
        det_round(chi2, 6).alias("chi2"),
        (chi2 > F.lit(16.918977604620448)).cast("int").alias("nonuniform_95"),
        (chi2 > F.lit(27.877)).cast("int").alias("nonuniform_999"),
    )


@query("ucb1_arm_scores",
    _ORACLES["ucb1_arm_scores"],
    "A-tier bandit scoring: UCB1 index per arm (mean + c*sqrt(2 ln N / n)) — deterministic closed form from exact counts (no RNG, unlike Thompson), the exploration-ranking readout of adaptive experimentation",
)
def q_ucb1_arm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which event stream would a bandit pull next? UCB1 ranks arms
    by mean observed value plus the optimism bonus, entirely from
    exact counts — the deterministic member of the bandit family
    (Thompson sampling needs RNG; UCB1 is a closed form, so it
    hash-verifies). Exploration scale c=$100 keeps the bonus
    comparable to the value units."""
    from pyspark.sql import Window

    a = (
        _t(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .groupBy(F.col("event_type").alias("arm"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pulls"),
            F.sum(F.round(F.col("value") * 100).cast("bigint"))
            .cast("bigint")
            .alias("__cents"),
        )
    )
    t = a.agg(F.sum("n_pulls").cast("bigint").alias("__big_n"))
    j = a.crossJoin(F.broadcast(t))
    mean = F.col("__cents").cast("double") / F.col("n_pulls").cast(
        "double"
    ) / F.lit(100.0)
    ucb = mean + F.lit(100.0) * F.sqrt(
        F.lit(2.0)
        * F.log(F.col("__big_n").cast("double"))
        / F.col("n_pulls").cast("double")
    )
    return j.select(
        "arm",
        "n_pulls",
        det_round(mean, 6).alias("mean_value"),
        det_round(ucb, 6).alias("ucb_score"),
        F.row_number()
        .over(Window.orderBy(ucb.desc(), F.col("arm")))
        .cast("int")
        .alias("rank"),
    )


@query("woe_iv_discount_bins",
    _ORACLES["woe_iv_discount_bins"],
    "A-tier credit-scoring feature engineering: weight-of-evidence + information-value per discount bin (Laplace +0.5 smoothing) — the scorecard binning readout; exact integer counts, two floats",
)
def q_woe_iv_discount_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scorecard binning: how predictive is each discount level of a
    return ('bad') outcome? WOE = ln(bad-share / good-share) per bin
    with +0.5 Laplace smoothing (no bin ever divides by zero), and
    the bin's information-value contribution (dist_bad - dist_good) *
    WOE. Everything up to the final two expressions is exact integer
    counting (bins are basis points, outcomes 0/1); the bin totals
    cross-join a broadcast 1-row aggregate, so the whole query is one
    shuffle on ~11 bins."""
    d = _t(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_discount") * 10000).cast("bigint").alias("bin_bp"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
    )
    b = d.groupBy("bin_bp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("n_bad"),
    )
    t = b.agg(
        F.sum("n_bad").cast("bigint").alias("__tot_bad"),
        F.sum(F.col("n") - F.col("n_bad")).cast("bigint").alias("__tot_good"),
    )
    j = b.crossJoin(F.broadcast(t))
    dist_bad = (F.col("n_bad").cast("double") + F.lit(0.5)) / (
        F.col("__tot_bad").cast("double") + F.lit(0.5)
    )
    dist_good = ((F.col("n") - F.col("n_bad")).cast("double") + F.lit(0.5)) / (
        F.col("__tot_good").cast("double") + F.lit(0.5)
    )
    woe = F.log(dist_bad / dist_good)
    return j.select(
        "bin_bp",
        "n",
        "n_bad",
        det_round(woe, 6).alias("woe"),
        det_round((dist_bad - dist_good) * woe, 6).alias("iv_contrib"),
    )


@query("event_step_paths",
    _ORACLES["event_step_paths"],
    "§2.5 funnel step transitions: (step, src, dst) transition counts over each user's first 4 events — the position-aware Sankey input; lead window replaces the oracle's self-join",
)
def q_event_step_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Sankey-diagram input: for each user's first four events,
    how many journeys moved src->dst at step k. The oracle builds
    pairs with a rn = rn+1 self-join; Spark gets the same pairs from
    ONE pass — row_number and lead share the same user window, so
    there is a single per-user sort and no second shuffle. Counts are
    exact integers; the step cap bounds the fan-out at 3 rows per
    user regardless of history length."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = (
        _t(spark, sf_dir, "events")
        .select(
            F.row_number().over(w).alias("rn"),
            F.col("event_type").alias("src"),
            F.lead("event_type", 1).over(w).alias("dst"),
        )
        .filter((F.col("rn") <= 3) & F.col("dst").isNotNull())
    )
    return s.groupBy(
        F.col("rn").cast("int").alias("step"), "src", "dst"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))


@query("cohort_payback_month",
    _ORACLES["cohort_payback_month"],
    "A-tier unit economics: CAC payback month per signup cohort — first month the cohort's cumulative revenue covers $50k/customer acquisition cost; cohort-partitioned running sum, integer cents",
)
def q_cohort_payback_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The payback-period readout on top of the LTV curve machinery:
    for each first-order cohort, the earliest month offset at which
    cumulative cohort revenue reaches n_customers * $50,000 (the
    stand-in acquisition cost). Revenue folds to integer cents per
    (cohort, offset) BEFORE the window, so the running sum is exact
    and partitions by cohort (never global); cohort sizes ride the
    same join. NULL payback = cohort never recovered CAC in the data
    window — kept, not dropped (the honest readout)."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    first_m = o.groupBy("o_custkey").agg(
        F.min(F.date_trunc("month", "o_orderdate")).cast("date").alias("cohort")
    )
    sizes = first_m.groupBy("cohort").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers")
    )
    rev = (
        o.join(first_m, "o_custkey")
        .groupBy(
            "cohort",
            F.months_between(
                F.date_trunc("month", "o_orderdate").cast("date"), F.col("cohort")
            )
            .cast("bigint")
            .alias("offs"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )
    w = (
        Window.partitionBy("cohort")
        .orderBy("offs")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = rev.withColumn("cum_cents", F.sum("cents").over(w)).join(
        F.broadcast(sizes), "cohort"
    )
    return cum.groupBy("cohort").agg(
        F.max("n_customers").cast("bigint").alias("n_customers"),
        F.min(
            F.when(
                F.col("cum_cents") >= F.col("n_customers") * F.lit(5000000),
                F.col("offs"),
            )
        )
        .cast("bigint")
        .alias("payback_offset"),
    )


# --------------------------------------------------------------- round 7


@query("compaction_bin_packing",
    _ORACLES["compaction_bin_packing"],
    "S-tier lakehouse maintenance: small-file compaction planner — next-fit-decreasing bin packing per partition via one per-partition window + exact integer `div`, no driver-side loop (operators.scale.compaction_plan)",
)
def q_compaction_bin_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plan rewrite bins for a simulated small-file layout: each
    (returnflag, linestatus) partition holds one 'file' per supplier
    sized by its revenue cents, and the planner packs them into
    ~1M-dollar bins with the next-fit-decreasing rule (size DESC, then
    file id — deterministic). The window is per-PARTITION, never
    global, so the plan scales with the table; bin assignment is exact
    integer division of the exclusive running sum.
    Operator: operators.scale.compaction_plan."""
    from finance_reporting_etl_spark.operators.scale import compaction_plan

    files = (
        _t(spark, sf_dir, "lineitem")
        .groupBy(
            F.col("l_returnflag").alias("pt_flag"),
            F.col("l_linestatus").alias("pt_status"),
            F.col("l_suppkey").alias("file_id"),
        )
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("size_bytes")
        )
    )
    return compaction_plan(
        files, ["pt_flag", "pt_status"], "file_id", "size_bytes", 100_000_000
    )


@query("price_volume_mix_decomposition",
    _ORACLES["price_volume_mix_decomposition"],
    "A-tier FP&A: price/volume/mix bridge per brand between two fiscal years — exact integer (qty, cents) aggregates, closed-form effect split, broadcast dim join",
)
def q_price_volume_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHY did brand revenue move from 1997 to 1998? The classic FP&A
    decomposition: price effect (new price on old volume), volume
    effect (old price on volume change), and the cross/mix residual —
    the three sum exactly to the revenue change. Per-brand quantities
    and cents are exact integers; the unit prices and effects are
    closed-form floats on those sums, so both engines agree to the
    cent. One fact scan, one broadcast dim join, one groupBy."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01")
        & (F.col("l_shipdate") < "1999-01-01")
    )
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    y = (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.year("l_shipdate").cast("int").alias("yr"),
        )
        .agg(
            F.sum(F.round("l_quantity").cast("bigint")).cast("bigint").alias("qty"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents"),
        )
    )
    a = y.filter("yr = 1997").select(
        "brand", F.col("qty").alias("q0"), F.col("cents").alias("c0")
    )
    b = y.filter("yr = 1998").select(
        "brand", F.col("qty").alias("q1"), F.col("cents").alias("c1")
    )
    w = a.join(b, "brand").filter((F.col("q0") > 0) & (F.col("q1") > 0))
    p0 = F.col("c0").cast("double") / F.col("q0")
    p1 = F.col("c1").cast("double") / F.col("q1")
    return w.select(
        "brand",
        det_round(F.col("c0") / 100.0, 2).alias("rev_base"),
        det_round(F.col("c1") / 100.0, 2).alias("rev_curr"),
        det_round((p1 - p0) * F.col("q0") / 100.0, 2).alias("price_effect"),
        det_round((F.col("q1") - F.col("q0")) * p0 / 100.0, 2).alias("volume_effect"),
        det_round((p1 - p0) * (F.col("q1") - F.col("q0")) / 100.0, 2).alias("mix_effect"),
    )


@query("cuped_adjusted_lift",
    _ORACLES["cuped_adjusted_lift"],
    "A-tier experimentation: CUPED variance-reduced A/B lift — theta from exact integer (sx, sy, sxx, syy, sxy) moment sums, adjusted lift and variance reduction in closed form; one user-grain groupBy + two 1-row aggregates",
)
def q_cuped_adjusted_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED (controlled-experiment using pre-experiment data): each
    user's pre-period spend X de-noises their post-period metric Y via
    Y' = Y - theta (X - E[X]), theta = cov(X,Y)/var(X). The adjusted
    arm lift needs only arm-level sums — E_arm[Y'] differs from
    E_arm[Y] by theta (E_arm[X] - E[X]) — so the whole readout is one
    user-grain groupBy plus two 1-row aggregates over exact integer
    moment sums (the welch_t discipline); every float is closed-form.
    Arms hash deterministically (salted md5, same convention as
    ab_test_conversion_lift). The pre/post experiment boundary is the
    exact epoch-microsecond midpoint (min+max) div 2 of the analyzed
    events' timestamps, derived from the data via a column-pruned
    min/max scan on a 1-row broadcast (the transition_drift_by_state
    pattern) — at any other date range the split stays ~50/50 instead
    of silently degenerating to 100/0 (VERDICT r12 task 7)."""
    from finance_reporting_etl_spark.operators.corpus import md5_bucket

    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    cents = F.round(F.col("value") * 100).cast("bigint")
    mid = ev.agg(
        F.expr("(min(unix_micros(ts)) + max(unix_micros(ts))) div 2")
        .cast("bigint")
        .alias("mid_us")
    )
    u = (
        ev.select("user_id", F.unix_micros("ts").alias("t_us"), cents.alias("cents"))
        .crossJoin(F.broadcast(mid))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("t_us") < F.col("mid_us"), F.col("cents")).otherwise(0))
            .cast("bigint")
            .alias("x"),
            F.sum(F.when(F.col("t_us") >= F.col("mid_us"), F.col("cents")).otherwise(0))
            .cast("bigint")
            .alias("y"),
        )
    ).select(
        F.when(md5_bucket("user_id", 256, salt="cuped") % 2 == 0, "A")
        .otherwise("B")
        .alias("arm"),
        "x",
        "y",
    )
    g = u.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    arms = u.agg(
        F.sum((F.col("arm") == "A").cast("int")).cast("bigint").alias("na"),
        F.sum((F.col("arm") == "B").cast("int")).cast("bigint").alias("nb"),
        F.sum(F.when(F.col("arm") == "A", F.col("x")).otherwise(0))
        .cast("bigint")
        .alias("sxa"),
        F.sum(F.when(F.col("arm") == "B", F.col("x")).otherwise(0))
        .cast("bigint")
        .alias("sxb"),
        F.sum(F.when(F.col("arm") == "A", F.col("y")).otherwise(0))
        .cast("bigint")
        .alias("sya"),
        F.sum(F.when(F.col("arm") == "B", F.col("y")).otherwise(0))
        .cast("bigint")
        .alias("syb"),
    )
    t = g.crossJoin(arms)
    n = F.col("n")
    covxy = F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy") / n
    varx = F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx") / n
    vary = F.col("syy").cast("double") - F.col("sy").cast("double") * F.col("sy") / n
    theta = covxy / F.nullif(varx, F.lit(0.0))
    mx = F.col("sx").cast("double") / n
    mya = F.col("sya").cast("double") / F.col("na")
    myb = F.col("syb").cast("double") / F.col("nb")
    mxa = F.col("sxa").cast("double") / F.col("na")
    mxb = F.col("sxb").cast("double") / F.col("nb")
    adj_var = vary - 2 * theta * covxy + theta * theta * varx
    return t.select(
        n.alias("n_users"),
        det_round(theta, 6).alias("theta"),
        det_round((mya - myb) / 100.0, 6).alias("raw_lift"),
        det_round(
            ((mya - theta * (mxa - mx)) - (myb - theta * (mxb - mx))) / 100.0, 6
        ).alias("adjusted_lift"),
        det_round(
            F.lit(1.0) - adj_var / F.nullif(vary, F.lit(0.0)), 6
        ).alias("var_reduction"),
    )


@query("diff_in_diff_discount",
    _ORACLES["diff_in_diff_discount"],
    "A-tier causal analytics: 2x2 difference-in-differences on discount basis points — treated brands (odd brand number) x pre/post 1998, four exact integer cell sums, closed-form DiD estimate",
)
def q_diff_in_diff_discount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Did treated brands' discounts move MORE than control brands'
    after 1998? The 2x2 DiD readout: cell means over exact
    basis-point integers, estimate = (T_post - T_pre) - (C_post -
    C_pre), which nets out both the brand-level baseline and the
    common 1998 shock. One fact scan + broadcast dim join + a 4-cell
    aggregate pivoted to one row."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").select(
        "p_partkey",
        (F.expr("try_cast(substring(p_brand, 7) AS int)") % 2 == 1)
        .cast("int")
        .alias("treated"),
    )
    c = li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey")).select(
        "treated",
        (F.col("l_shipdate") >= "1998-01-01").cast("int").alias("post"),
        F.round(F.col("l_discount") * 10000).cast("bigint").alias("bp"),
    )
    g = c.groupBy("treated", "post").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("bp").cast("bigint").alias("s"),
    )
    mean = F.col("s").cast("double") / F.col("n")

    def cell(tr: int, po: int):
        return F.max(
            F.when((F.col("treated") == tr) & (F.col("post") == po), mean)
        )

    m = g.agg(
        cell(1, 1).alias("t1"),
        cell(1, 0).alias("t0"),
        cell(0, 1).alias("c1"),
        cell(0, 0).alias("c0"),
    )
    return m.select(
        det_round(F.col("t0"), 6).alias("treated_pre_bp"),
        det_round(F.col("t1"), 6).alias("treated_post_bp"),
        det_round(F.col("c0"), 6).alias("control_pre_bp"),
        det_round(F.col("c1"), 6).alias("control_post_bp"),
        det_round(
            (F.col("t1") - F.col("t0")) - (F.col("c1") - F.col("c0")), 6
        ).alias("did_bp"),
    )


@query("sharpe_sortino_daily",
    _ORACLES["sharpe_sortino_daily"],
    "§2.5/finance risk: Sharpe and Sortino ratios on day-over-day revenue deltas per event_type — exact integer (s, q, downside-q) sums via one lag window on the bounded daily grain, closed-form ratios",
)
def q_sharpe_sortino_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Risk-adjusted daily revenue momentum per event_type: deltas are
    day-over-day differences of exact daily cents (one lag window on
    the calendar-bounded daily table), Sharpe = mean/sample-std,
    Sortino divides by downside semideviation instead (only negative
    deltas hurt). All sums are exact integers; the two ratios are
    closed-form floats — the var_cvar/series_volatility family's
    risk-adjusted-return leg."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    d = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    dl = d.select(
        "event_type", (F.col("cents") - F.lag("cents").over(w)).alias("dlt")
    ).filter(F.col("dlt").isNotNull())
    g = dl.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("dlt").cast("bigint").alias("s"),
        F.sum(F.col("dlt") * F.col("dlt")).cast("bigint").alias("q"),
        F.sum(
            F.when(F.col("dlt") < 0, F.col("dlt") * F.col("dlt")).otherwise(0)
        )
        .cast("bigint")
        .alias("qd"),
    )
    mean = F.col("s").cast("double") / F.col("n")
    sd = F.sqrt((F.col("q") - F.col("s") * mean) / (F.col("n") - 1))
    dsd = F.sqrt(F.col("qd").cast("double") / (F.col("n") - 1))
    return g.select(
        "event_type",
        F.col("n").alias("n_days"),
        det_round(mean / 100.0, 6).alias("mean_pnl"),
        det_round(mean / F.nullif(sd, F.lit(0.0)), 6).alias("sharpe"),
        det_round(mean / F.nullif(dsd, F.lit(0.0)), 6).alias("sortino"),
    )


@query("hurst_exponent_rs",
    _ORACLES["hurst_exponent_rs"],
    "§2.5 stats/timeseries: Hurst exponent via rescaled-range (R/S) analysis over the daily revenue series — block windows {8,16,32,64}, per-block cumdev windows on bounded partitions, log-log OLS slope in closed form",
)
def q_hurst_exponent_rs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long-memory diagnostic of daily revenue: for each window size n
    the series splits into full blocks of n consecutive days; each
    block's rescaled range R/S (range of cumulative deviations over
    population std) is averaged, and the Hurst exponent is the
    closed-form OLS slope of ln(avg R/S) on ln(n) — H ~ 0.5 for a
    random walk, > 0.5 for trending/persistent series. Every window
    partitions by (n, block): bounded at <= 64 rows regardless of
    history length, so the plan has no data-sized single partition
    except the one 4-row fit."""
    from pyspark.sql import Window

    d = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )
    wr = Window.orderBy("day")
    r = d.select("cents", (F.row_number().over(wr) - 1).alias("rn"))
    blk = r.select(
        F.explode(F.array(*[F.lit(x) for x in (8, 16, 32, 64)])).alias("wn"),
        "rn",
        "cents",
    ).select(
        "wn",
        F.expr("rn div wn").alias("b"),
        F.pmod("rn", F.col("wn")).alias("i"),
        "cents",
    )
    wb = Window.partitionBy("wn", "b")
    wc = wb.orderBy("i").rowsBetween(Window.unboundedPreceding, 0)
    st = (
        blk.withColumn("cnt", F.count(F.lit(1)).over(wb))
        .filter(F.col("cnt") == F.col("wn"))
        .select(
            "wn",
            "b",
            "i",
            F.sum("cents").over(wc).cast("bigint").alias("cum"),
            F.sum("cents").over(wb).cast("bigint").alias("tot"),
            # cents^2 sums overflow BIGINT at sf0.1 (daily cents ~1e9,
            # squares ~8.6e17, x64 per block): accumulate EXACTLY in
            # decimal(38,0) (HUGEINT on the oracle side) and take the
            # one double cast here, so both engines run the identical
            # exact-sum -> single-cast sequence
            F.sum(
                F.col("cents").cast("decimal(38,0)") * F.col("cents")
            )
            .over(wb)
            .cast("double")
            .alias("totq"),
        )
    )
    cumdev = F.col("cum") - (F.col("i") + 1) * (
        F.col("tot").cast("double") / F.col("wn")
    )
    dev = st.groupBy("wn", "b").agg(
        (F.max(cumdev) - F.min(cumdev)).alias("rng"),
        F.sqrt(
            (
                F.max("totq")
                - F.max("tot") * (F.max("tot").cast("double") / F.first("wn"))
            )
            / F.first("wn")
        ).alias("sd"),
    )
    per_n = (
        dev.filter(F.col("sd") > 0)
        .groupBy("wn")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
            F.avg(F.col("rng") / F.col("sd")).alias("avg_rs"),
        )
    )
    lx = F.log(F.col("wn").cast("double"))
    ly = F.log("avg_rs")
    fit = per_n.agg(
        (
            (F.sum(lx * ly) - F.sum(lx) * F.sum(ly) / F.count(F.lit(1)))
            / (F.sum(lx * lx) - F.sum(lx) * F.sum(lx) / F.count(F.lit(1)))
        ).alias("h")
    )
    return per_n.crossJoin(F.broadcast(fit)).select(
        F.col("wn").cast("int").alias("window_days"),
        "n_blocks",
        det_round("avg_rs", 6).alias("avg_rs"),
        det_round("h", 6).alias("hurst"),
    )


@query("token_dist_kl_divergence",
    _ORACLES["token_dist_kl_divergence"],
    "X4 corpus diagnostics: per-language KL divergence of the unigram token distribution against the whole corpus — exact integer counts, one posting aggregation, closed-form p*ln(p/q) contributions",
)
def q_token_dist_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How far does each language's token distribution sit from the
    corpus mixture? KL(lang || corpus) over whitespace unigrams:
    per-(lang, token) and per-token counts are exact integers from one
    posting explode; the divergence sums p*ln(p/q) only over tokens
    the language actually contains (p > 0, and q > 0 by inclusion),
    so no smoothing is needed. High-KL languages dominate mixture
    drift; near-zero KL flags language-ID confusion. The distribution
    twin of language_id / ctfidf_distinctive_terms."""
    from finance_reporting_etl_spark.functions.text import whitespace_tokens

    docs = _t(spark, sf_dir, "documents").select(
        "lang", F.explode(whitespace_tokens(F.lower(F.col("text")))).alias("t")
    )
    lt = docs.groupBy("lang", "t").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    ltot = lt.groupBy("lang").agg(F.sum("c").cast("bigint").alias("n"))
    ct = lt.groupBy("t").agg(F.sum("c").cast("bigint").alias("cc"))
    ctot = ct.agg(F.sum("cc").cast("bigint").alias("cn"))
    p = F.col("c").cast("double") / F.col("n")
    q = F.col("cc").cast("double") / F.col("cn")
    return (
        lt.join(F.broadcast(ltot), "lang")
        .join(ct, "t")
        .crossJoin(F.broadcast(ctot))
        .groupBy("lang")
        .agg(
            F.max("n").alias("n_tokens"),
            F.count(F.lit(1)).cast("bigint").alias("vocab"),
            det_round(F.sum(p * F.log(p / q)), 6).alias("kl_to_corpus"),
        )
    )


@query("minmax_file_skipping",
    _ORACLES["minmax_file_skipping"],
    "S-tier lakehouse scan planning: per-file min/max zone-map simulation — how many files (and rows) a min-predicate prunes at each threshold; exact counts, one file-stats aggregate + a 4-row literal spine",
)
def q_minmax_file_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-skipping effectiveness readout: treat each supplier's
    lineitems as one file, compute its (min, max) zone map over price
    cents, then for each candidate predicate `price >= T` count the
    files whose max falls below T — those are skipped without being
    opened. The zorder_locality_stats companion: zorder measures
    clusterability, this measures what the current layout's zone maps
    actually prune. File stats are one groupBy; the predicate spine is
    a 4-literal explode, so the join is a broadcast against file
    count, never data-sized."""
    f = (
        _t(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_suppkey").alias("file_id"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.min(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("min_c"),
            F.max(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("max_c"),
        )
    )
    preds = spark.range(1).select(
        F.explode(
            F.array(
                *[F.lit(x) for x in (100000, 1000000, 5000000, 9000000)]
            )
        ).alias("lo_c")
    )
    skipped = (F.col("max_c") < F.col("lo_c")).cast("int")
    return (
        f.crossJoin(F.broadcast(preds))
        .groupBy(F.col("lo_c").cast("bigint").alias("predicate_min_cents"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_files"),
            F.sum(skipped).cast("bigint").alias("skipped_files"),
            F.sum(F.col("n_rows") * skipped).cast("bigint").alias("skipped_rows"),
            det_round(
                F.sum(skipped).cast("double") / F.count(F.lit(1)), 6
            ).alias("skip_ratio"),
        )
    )


# oracle built here, not in oracles.py: operators feed queries.py,
# never oracles.py (ADVICE r7 — avoids a circular-import trap)
from finance_reporting_etl_spark.operators.ml import (  # noqa: E402
    granger_oracle_sql as _granger_sql,
)

_GRANGER_ORACLE = _granger_sql("""
    WITH d AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS yc,
               CAST(count(*) AS BIGINT) AS xc
        FROM orders GROUP BY 1
    ), l AS (
        SELECT yc AS y,
               lag(yc) OVER (ORDER BY day) AS x1,
               lag(xc) OVER (ORDER BY day) AS x2
        FROM d
    )
    SELECT x1, x2, y FROM l WHERE x1 IS NOT NULL
""")


@query("granger_causality_ftest",
    _GRANGER_ORACLE,
    "§2.5 econometrics: Granger-style lag F-test — does yesterday's order COUNT predict today's revenue beyond revenue's own lag? Exact DECIMAL(38,0) moment sums, restricted/unrestricted RSS and F from ONE shared SQL template (_GRANGER_*/_OLS2_*)",
)
def q_granger_causality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-lag CAUSALITY test, not just correlation
    (indicator_lead_lag_corr's inferential upgrade): an AR(1) of daily
    revenue is compared against the same model plus yesterday's order
    count; the F statistic on the RSS drop says whether volume
    Granger-causes revenue. Both regressions come from the SAME ten
    exact-integer moment sums — one scalar aggregate over the
    calendar-bounded daily series — and every float form is a shared
    Spark/DuckDB SQL text. Operator: operators.ml.granger_f."""
    from pyspark.sql import Window

    from finance_reporting_etl_spark.operators.ml import granger_f

    d = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("yc"),
            F.count(F.lit(1)).cast("bigint").alias("xc"),
        )
    )
    w = Window.orderBy("day")
    lagged = d.select(
        F.col("yc").alias("y"),
        F.lag("yc").over(w).alias("x1"),
        F.lag("xc").over(w).alias("x2"),
    ).filter(F.col("x1").isNotNull())
    return granger_f(lagged, "x1", "x2", "y")


@query("isotonic_calibration_pava",
    _ORACLES["isotonic_calibration_pava"],
    "§2.5/ML calibration: isotonic (PAVA) fit of return rate vs discount bin — closed max-min-avg form over the 11-bin spine (iso(t) = max_{i<=t} min_{j>=t} weighted avg), exact integer bin counts, no iterative pooling",
)
def q_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monotone calibration of P(returned | discount): raw per-bin
    return rates are fitted to the best nondecreasing step function —
    the PAVA solution, computed not by iterative pooling but by its
    closed form iso(t) = max_{i<=t} min_{j>=t} wavg(i..j) over the
    11-value discount spine (66 interval averages from two prefix
    sums; every join is spine-sized, never data-sized). The
    inference_score_calibration companion with a monotonicity
    guarantee."""
    from pyspark.sql import Window

    li = _t(spark, sf_dir, "lineitem")
    b = li.groupBy(
        F.round(F.col("l_discount") * 100).cast("int").alias("bin")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum((F.col("l_returnflag") == "R").cast("int"))
        .cast("bigint")
        .alias("r"),
    )
    wc = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    c = b.select(
        "bin",
        "n",
        "r",
        F.sum("n").over(wc).cast("bigint").alias("cn"),
        F.sum("r").over(wc).cast("bigint").alias("cr"),
    )
    i = c.select(
        F.col("bin").alias("ib"),
        (F.col("cr") - F.col("r")).alias("cr_ex"),
        (F.col("cn") - F.col("n")).alias("cn_ex"),
    )
    j = c.select(
        F.col("bin").alias("jb"), F.col("cr").alias("crj"), F.col("cn").alias("cnj")
    )
    pairs = i.join(F.broadcast(j), F.col("ib") <= F.col("jb")).select(
        "ib",
        "jb",
        (
            (F.col("crj") - F.col("cr_ex")).cast("double")
            / (F.col("cnj") - F.col("cn_ex"))
        ).alias("wavg"),
    )
    t = c.select(F.col("bin").alias("tb"))
    m1 = (
        pairs.join(
            F.broadcast(t),
            (F.col("ib") <= F.col("tb")) & (F.col("tb") <= F.col("jb")),
        )
        .groupBy("ib", "tb")
        .agg(F.min("wavg").alias("mn"))
    )
    iso = m1.groupBy(F.col("tb").alias("bin")).agg(
        F.max("mn").alias("iso_rate")
    )
    return c.join(iso, "bin").select(
        F.col("bin").alias("discount_pct"),
        F.col("n").alias("n_rows"),
        det_round(F.col("r").cast("double") / F.col("n"), 6).alias("raw_rate"),
        det_round("iso_rate", 6).alias("iso_rate"),
    )


@query("gdpr_delete_cascade",
    _ORACLES["gdpr_delete_cascade"],
    "S-tier lifecycle/compliance: right-to-be-forgotten purge plan — deterministic md5-selected subject set cascaded customer -> orders -> lineitem via semi-joins, per-table purge/retain counts, no full-table rewrite in the plan",
)
def q_gdpr_delete_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The audit artifact a deletion job emits BEFORE rewriting
    anything: which rows each table loses when a subject set (here a
    deterministic ~1.2% md5 bucket of customers — the reproducible
    stand-in for a deletion request batch) cascades through the
    foreign-key chain. Flags propagate by broadcast semi-join
    membership, counts are exact, and the retention_filter /
    k_anonymity_suppress family gains its deletion leg. At 100 TB the
    same plan drives the actual rewrite: the flag column IS the
    anti-join predicate."""
    from finance_reporting_etl_spark.operators.corpus import md5_bucket

    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    dele = cust.filter(md5_bucket("c_custkey", 256, salt="gdpr") < 3)
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    delo = orders.join(
        F.broadcast(dele), F.col("o_custkey") == F.col("c_custkey"), "left_semi"
    ).select("o_orderkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey")

    def counts(df: DataFrame, flag) -> DataFrame:
        return df.agg(
            F.sum(flag.cast("int")).cast("bigint").alias("rows_purged"),
            F.sum((~flag).cast("int")).cast("bigint").alias("rows_retained"),
        )

    cc = counts(
        cust.join(
            F.broadcast(dele.select(F.col("c_custkey").alias("dk"))),
            F.col("c_custkey") == F.col("dk"),
            "left",
        ),
        F.col("dk").isNotNull(),
    ).select(F.lit("customer").alias("table_name"), "rows_purged", "rows_retained")
    oo = counts(
        orders.join(
            F.broadcast(dele.select(F.col("c_custkey").alias("dk"))),
            F.col("o_custkey") == F.col("dk"),
            "left",
        ),
        F.col("dk").isNotNull(),
    ).select(F.lit("orders").alias("table_name"), "rows_purged", "rows_retained")
    # NO broadcast hint on delo: it is a fact-table-proportional key
    # set (~1.5% of orders), which would OOM a hard broadcast at
    # 100 TB — AQE picks broadcast at small SF and shuffled-hash /
    # sort-merge at scale (ADVICE r7).
    ll = counts(
        li.join(
            delo.select(F.col("o_orderkey").alias("dk")),
            F.col("l_orderkey") == F.col("dk"),
            "left",
        ),
        F.col("dk").isNotNull(),
    ).select(F.lit("lineitem").alias("table_name"), "rows_purged", "rows_retained")
    return cc.unionByName(oo).unionByName(ll)


# ---------------------------------------------------------------------------
# Round-8 additions: tax-lot HIFO, trading signals, ledger trial
# balance, FX consolidation, budget-vs-actual, containment dedup.
# ---------------------------------------------------------------------------


@query("hifo_realized_pnl",
    _ORACLES["hifo_realized_pnl"],
    "§2.5/finance HIFO cost basis: highest-in-first-out tax-lot matching via the same cumulative-quantity interval join as FIFO with a cost-descending lot order — realized PnL per part in exact integer cents",
)
def q_hifo_realized_pnl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Realized PnL per part under HIFO lot matching — the year-end
    tax-lot optimizer's allocation (consume the HIGHEST-cost lot
    first, minimizing recognized gains). Identical distributed shape
    to fifo_realized_pnl (two prefix-sum windows + one interval
    equi-join, operators/allocation.py::fifo_match) — only the BUY
    side's consumption order changes to unit-cost-descending over the
    full lot book (the optimizer's retrospective view; see the
    operator docstring for the availability caveat). Unit-cost order
    is the int/int double total/qty — identical in any engine — with
    (orderkey, linenumber) tiebreaks; PnL is the same floor-allocated
    integer cents as FIFO, so the BIGINT sum is order-exact."""
    from finance_reporting_etl_spark.operators.allocation import fifo_match

    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_shipdate",
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        F.round("l_quantity").cast("bigint").alias("qty"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("total"),
    )
    buys = li.filter(F.col("l_returnflag") == "N").withColumn(
        "neg_unit", -(F.col("total").cast("double") / F.col("qty"))
    )
    sells = li.filter(F.col("l_returnflag") == "R").withColumn(
        "neg_unit", F.lit(0.0)
    )
    m = fifo_match(
        buys,
        sells,
        ["l_partkey"],
        ["l_shipdate", "l_orderkey", "l_linenumber"],
        "qty",
        "total",
        buy_order_cols=["neg_unit", "l_orderkey", "l_linenumber"],
    )
    pnl_cents = F.expr("matched_qty * s_total div s_qty") - F.expr(
        "matched_qty * b_total div b_qty"
    )
    return m.groupBy("l_partkey").agg(
        F.sum("matched_qty").alias("matched_qty"),
        F.sum(pnl_cents).cast("bigint").alias("realized_pnl_cents"),
    )


@query("sma_crossover_signals",
    _ORACLES["sma_crossover_signals"],
    "§2.5/finance trend signal: 10/30-day SMA golden/death cross per series — regime bit from the exact DECIMAL inequality S_f*slow <> S_s*fast (zero float in any predicate), crossover = lagged regime diff",
)
def q_sma_crossover_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-cross / death-cross signals on each priority tier's
    daily revenue: 10-day vs 30-day SMA regime and the +1/-1 crossing
    events. The regime bit compares S_fast*30 <> S_slow*10 over exact
    DECIMAL window sums — no float touches any flag, so the event
    stream is hash-stable (the bollinger_bands r7 lesson applied from
    birth). Operator: operators.timeseries.sma_crossover."""
    from finance_reporting_etl_spark.operators.timeseries import sma_crossover

    return sma_crossover(
        _priority_daily_cents(spark, sf_dir), "series", "day", "cents",
        fast=10, slow=30,
    )


@query("stochastic_oscillator_k",
    _ORACLES["stochastic_oscillator_k"],
    "§2.5/finance momentum: 14-day stochastic %K per series in exact integer ppm ((c-min)*1e6 div (max-min)) with overbought/oversold flags — zero float anywhere",
)
def q_stochastic_oscillator_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Where does today's revenue sit inside its trailing 14-day
    range? Stochastic %K per priority tier, kept ENTIRELY in integer
    arithmetic: rolling min/max are exact, and %K is one truncating
    integer division to parts-per-million (Spark div == DuckDB // on
    non-negative operands) — every emitted cell is hash-stable. Flat
    windows emit NULL rather than 0/0. Operator:
    operators.timeseries.stochastic_k."""
    from finance_reporting_etl_spark.operators.timeseries import stochastic_k

    return stochastic_k(
        _priority_daily_cents(spark, sf_dir), "series", "day", "cents", n=14
    )


@query("obv_daily",
    _ORACLES["obv_daily"],
    "§2.5/finance volume-flow: on-balance volume per series — sign(price diff) x daily order count, exact BIGINT prefix sum (bounded series domain)",
)
def q_obv_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """On-balance volume per priority tier: daily order count flows
    in (+) on revenue up-days and out (-) on down-days; the running
    total confirms or diverges from the price trend. All integer —
    sign of an exact diff times an exact count, cumulated by a
    key-partitioned BIGINT window over the bounded (series x day)
    domain. Operator: operators.timeseries.on_balance_volume."""
    from finance_reporting_etl_spark.operators.timeseries import (
        on_balance_volume,
    )

    d = (
        _t(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_orderpriority").alias("series"),
            F.col("o_orderdate").cast("date").alias("day"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents"),
            F.count(F.lit(1)).cast("bigint").alias("vol"),
        )
    )
    return on_balance_volume(d, "series", "day", "cents", "vol")


@query("vwap_deviation_bands",
    _ORACLES["vwap_deviation_bands"],
    "§2.5/finance microstructure: daily per-brand VWAP (exact integer div) + above/below line counts by exact wide-integer cross-multiplication (DECIMAL(38,0)/HUGEINT lext*Q <> E*lqty — no division in any predicate, no BIGINT wrap at any SF)",
)
def q_vwap_deviation_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily volume-weighted average unit price per part brand, with
    how many lines traded above/below it — the execution-quality
    benchmark. VWAP is one truncating integer division of exact cent
    and quantity sums; the above/below tests avoid division entirely
    via integer cross-multiplication lext*Q_day <> E_day*lqty, with
    the two products widened to DECIMAL(38,0) (Spark) / HUGEINT
    (oracle) so the comparison is exact at ANY scale — non-ANSI
    BIGINT would silently wrap at ~9.2e18 on a 100-TB brand-day
    while DuckDB HUGEINT-promotes, flipping the flags (r8 ADVICE).
    Same plan shape, negligible cost. One Exchange total: the
    day-total window and the final groupBy share the (brand, day)
    partitioning."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.col("l_shipdate").cast("date").alias("day"),
        F.round("l_quantity").cast("bigint").alias("lqty"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("lext"),
    )
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    l = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).select(
        "p_brand", "day", "lqty", "lext"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("p_brand", "day")
    x = l.withColumn("qd", F.sum("lqty").over(w)).withColumn(
        "ed", F.sum("lext").over(w)
    )
    lhs = F.col("lext").cast("decimal(38,0)") * F.col("qd")
    rhs = F.col("ed").cast("decimal(38,0)") * F.col("lqty")
    above = (lhs > rhs).cast("int")
    below = (lhs < rhs).cast("int")
    return (
        x.groupBy("p_brand", "day")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.sum("lext").alias("__e"),
            F.sum("lqty").alias("__q"),
            F.sum(above).cast("bigint").alias("above_vwap_lines"),
            F.sum(below).cast("bigint").alias("below_vwap_lines"),
        )
        .select(
            "p_brand",
            "day",
            "n_lines",
            F.expr("__e div __q").cast("bigint").alias("vwap_unit_cents"),
            "above_vwap_lines",
            "below_vwap_lines",
        )
    )


@query("trial_balance_monthly",
    _ORACLES["trial_balance_monthly"],
    "§2.4/finance ledger: double-entry journal explosion (AR/revenue per order, returns reversal per 'R' line) -> monthly trial balance per account, exact integer cents (debits == credits by construction)",
)
def q_trial_balance_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reporting-ETL primitive under every GL mart: orders post
    debit accounts_receivable / credit revenue; returned lines post
    debit sales_returns / credit accounts_receivable. Legs explode
    from a literal struct array (fan-out 2, bounded), roll up to a
    (month, account) trial balance in exact integer cents — total
    debits equal total credits by construction, the invariant a
    ledger consumer audits. One shuffle: the leg union feeds a single
    hash aggregation."""
    return (
        _journal_order_legs(_tb_orders(spark, sf_dir))
        .unionByName(_journal_return_legs(_tb_returns(spark, sf_dir)))
        .groupBy("month", "account")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_entries"),
            F.sum("debit").cast("bigint").alias("debit_cents"),
            F.sum("credit").cast("bigint").alias("credit_cents"),
        )
    )


def _tb_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(month, cents) per order — the AR/revenue posting source."""
    return _t(spark, sf_dir, "orders").select(
        F.trunc(F.col("o_orderdate").cast("date"), "month").alias("month"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )


def _tb_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(month, cents) per returned line — the returns-reversal source."""
    return (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select(
            F.trunc(F.col("l_shipdate").cast("date"), "month").alias("month"),
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
            .cast("bigint")
            .alias("cents"),
        )
    )


def _two_legs(d: DataFrame, debit_account: str, credit_account: str) -> DataFrame:
    """Explode (month, cents) rows into balanced double-entry legs."""
    z = F.lit(0).cast("bigint")
    return d.select(
        "month",
        F.explode(
            F.array(
                F.struct(
                    F.lit(debit_account).alias("account"),
                    F.col("cents").alias("debit"),
                    z.alias("credit"),
                ),
                F.struct(
                    F.lit(credit_account).alias("account"),
                    z.alias("debit"),
                    F.col("cents").alias("credit"),
                ),
            )
        ).alias("leg"),
    ).select("month", "leg.*")


def _journal_order_legs(o: DataFrame) -> DataFrame:
    return _two_legs(o, "accounts_receivable", "revenue")


def _journal_return_legs(r: DataFrame) -> DataFrame:
    return _two_legs(r, "sales_returns", "accounts_receivable")


@query("streaming_trial_balance",
    _ORACLES["trial_balance_monthly"],
    "§2.8 x §2.4 continuous GL posting: order legs fold per micro-batch through foreachBatch (additive integer partials) + static returns side == the one-shot batch trial balance (SHARED oracle proves it)",
)
def q_streaming_trial_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CONTINUOUS form of trial_balance_monthly: orders arrive as
    a live stream and each micro-batch POSTS its journal legs — per-
    (month, account) integer partial sums through foreachBatch — while
    the returns reversal side stays a static table. Integer partials
    are order-free mergeable, so the merged ledger is bit-identical to
    the one-shot batch computation no matter where the micro-batch
    boundaries fall (the shared oracle proves it). Replayed as 3
    micro-batches; sink state per batch: one row per touched (month,
    account). Operator: streaming.staging.replay_partials."""
    from finance_reporting_etl_spark.streaming.staging import replay_partials

    def batch_agg(batch: DataFrame) -> DataFrame:
        return (
            _journal_order_legs(batch)
            .groupBy("month", "account")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n"),
                F.sum("debit").cast("bigint").alias("d"),
                F.sum("credit").cast("bigint").alias("c"),
            )
        )

    stream_part = replay_partials(
        spark,
        lambda src: _tb_orders(spark, sf_dir).repartition(3).write.parquet(src),
        batch_agg,
        lambda partials: partials
        .groupBy("month", "account")
        .agg(
            F.sum("n").cast("bigint").alias("n"),
            F.sum("d").cast("bigint").alias("d"),
            F.sum("c").cast("bigint").alias("c"),
        ),
        "streaming_trial_balance",
    )
    static_part = (
        _journal_return_legs(_tb_returns(spark, sf_dir))
        .groupBy("month", "account")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("debit").cast("bigint").alias("d"),
            F.sum("credit").cast("bigint").alias("c"),
        )
    )
    return (
        stream_part.unionByName(static_part)
        .groupBy("month", "account")
        .agg(
            F.sum("n").cast("bigint").alias("n_entries"),
            F.sum("d").cast("bigint").alias("debit_cents"),
            F.sum("c").cast("bigint").alias("credit_cents"),
        )
    )


@query("fx_normalized_revenue",
    _ORACLES["fx_normalized_revenue"],
    "§2.4/finance consolidation: multi-currency revenue normalized through a deterministic per-nation rate dim (broadcast) — exact integer cents via cents*1e6 div rate_ppm, region x month rollup",
)
def q_fx_normalized_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group consolidation across reporting currencies: each nation
    carries a synthetic-but-deterministic FX rate in parts-per-million
    (500000 + (nationkey*37 % 1000)*1000 — the reproducible stand-in
    for a rates table), orders convert with ONE truncating integer
    division, and converted revenue rolls up region x month. The rate
    dim rides the broadcast customer->nation->region chain onto the
    fact scan; conversion is exact integer cents on both engines."""
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        F.trunc(F.col("o_orderdate").cast("date"), "month").alias("month"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey").withColumn(
        "rate_ppm",
        (F.lit(500000) + (F.col("n_nationkey") * 37 % 1000) * 1000).cast("bigint"),
    )
    r = _t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    x = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select(
            "r_name",
            "month",
            F.expr("cents * 1000000 div rate_ppm").cast("bigint").alias("usd"),
        )
    )
    return x.groupBy("r_name", "month").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum("usd").cast("bigint").alias("usd_cents"),
    )


@query("budget_variance_ytd",
    _ORACLES["budget_variance_ytd"],
    "§2.4/finance FP&A: budget-vs-actual per priority x month (budget = same month last year, exact integer month-index self-join) with YTD cumulative variance — all cents BIGINT-exact",
)
def q_budget_variance_ytd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FP&A variance mart: monthly actuals per order priority
    against a same-month-last-year budget, with the year-to-date
    cumulative variance every monthly close reports. The budget join
    is an exact integer month-index equi-join (y*12+mo — no date
    arithmetic ambiguity across engines); YTD is a BIGINT prefix sum
    over the bounded (priority, year) partition; variance_pct is the
    one displayed float (int/int double, identical in any engine)."""
    from pyspark.sql import Window

    m = (
        _t(spark, sf_dir, "orders")
        .groupBy(
            "o_orderpriority",
            F.year("o_orderdate").cast("int").alias("y"),
            F.month("o_orderdate").cast("int").alias("mo"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("act")
        )
    )
    a = m.withColumn("midx", F.col("y") * 12 + F.col("mo"))
    b = m.select(
        F.col("o_orderpriority").alias("bp"),
        (F.col("y") * 12 + F.col("mo") + 12).alias("bidx"),
        F.col("act").alias("bud"),
    )
    j = a.join(
        b, (a.o_orderpriority == b.bp) & (a.midx == b.bidx)
    ).select("o_orderpriority", "y", "mo", "act", "bud")
    w = (
        Window.partitionBy("o_orderpriority", "y")
        .orderBy("mo")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    v = F.col("act") - F.col("bud")
    return j.select(
        "o_orderpriority",
        F.col("y").alias("year"),
        F.col("mo").alias("month"),
        F.col("act").alias("act_cents"),
        F.col("bud").alias("budget_cents"),
        v.cast("bigint").alias("variance_cents"),
        F.sum(v).over(w).cast("bigint").alias("ytd_variance_cents"),
        det_round(v.cast("double") / F.col("bud"), 6).alias("variance_pct"),
    )


@query("containment_dedup_pairs",
    _ORACLES["containment_dedup_pairs"],
    "X2/near-dedup: EXACT directional token-set containment |A∩B|/|A| >= 0.9 via asymmetric prefix filter (A's rare-token prefix vs the full inverted index) — catches sub-document duplication Jaccard dilutes away",
)
def q_containment_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document duplication mining: a small document embedded in
    a much larger one scores low Jaccard (the union dilutes it) but
    containment ~1 — quoted posts, boilerplate-wrapped articles,
    chunk-of-a-bigger-doc crawls. Exact and directional, candidate
    recall guaranteed by the asymmetric prefix-filter bound (keep A's
    |A| - ceil(t|A|) + 1 rarest tokens; join against the full
    inverted index). Operator:
    operators.dedup.containment_prefix_filter_pairs."""
    from finance_reporting_etl_spark.operators.dedup import (
        containment_prefix_filter_pairs,
    )

    return containment_prefix_filter_pairs(
        _t(spark, sf_dir, "documents"), "doc_id", "text", threshold=0.9
    )


@query("mann_whitney_event_halves",
    _ORACLES["mann_whitney_event_halves"],
    "A-tier nonparametric inference: exact Mann-Whitney U rank-sum per event type (first vs second half of the time range) — doubled-midrank integer rank sums, DECIMAL tie correction, one closed-form z",
)
def q_mann_whitney_event_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Did each event type's value distribution SHIFT between the
    first and second half of the time range? The rank-sum answer —
    distribution-free where welch_t_event_values assumes normality,
    and magnitude-robust on skewed revenue values. Ranks never
    materialize per row: per-(key, value) integer counts give exact
    doubled midranks; only the final z is float (one shared closed
    form). Operator: operators.drift.mann_whitney_u."""
    from finance_reporting_etl_spark.operators.drift import mann_whitney_u

    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    b = ev.agg(
        F.expr("(min(unix_micros(ts)) + max(unix_micros(ts))) div 2").alias("mid")
    )
    r = ev.crossJoin(F.broadcast(b)).select(
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        F.when(F.unix_micros("ts") <= F.col("mid"), F.lit(1))
        .otherwise(F.lit(2))
        .alias("grp"),
    )
    return mann_whitney_u(r, "event_type", "cents", "grp")


@query("emd_value_drift",
    _ORACLES["emd_value_drift"],
    "A/X-tier drift: exact 1-D earth-mover (Wasserstein-1) distance per event type between time halves — integer |a1*n2 - a2*n1|*gap numerator in DECIMAL, one display division",
)
def q_emd_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOW MUCH value mass moved, not just whether the shapes differ:
    Wasserstein-1 between each event type's first-half and second-half
    value distributions, in dollars — the magnitude-aware complement
    to ks_value_drift (KS saturates at 1; EMD keeps growing with the
    size of the shift) and the binned PSI (no bin design). Same
    per-key cumulative shape; the numerator is an exact DECIMAL
    integer sum. Operator: operators.drift.emd_1d."""
    from finance_reporting_etl_spark.operators.drift import emd_1d

    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    b = ev.agg(
        F.expr("(min(unix_micros(ts)) + max(unix_micros(ts))) div 2").alias("mid")
    )
    r = ev.crossJoin(F.broadcast(b)).select(
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        F.when(F.unix_micros("ts") <= F.col("mid"), F.lit(1))
        .otherwise(F.lit(2))
        .alias("grp"),
    )
    return emd_1d(r, "event_type", "cents", "grp")


@query("mv_incremental_refresh",
    _ORACLES["mv_incremental_refresh"],
    "S/O-tier incremental MV maintenance: late-arriving delta batch (deterministic ~2% md5 bucket) -> recompute ONLY the touched (priority, day) groups via semi-join; old/delta/new exact cents per group",
)
def q_mv_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental materialized-view refresh contract: a
    late-arriving batch (deterministic md5 ~2% of orders — the
    reproducible stand-in) touches a sparse set of (priority, day)
    groups; ONLY those groups are recomputed — the delta keys
    semi-join prunes the fact scan before any aggregation, which at
    100 TB is the difference between refreshing a day and refreshing
    the table. Emits the audit row per touched group: old aggregate,
    delta contribution, new aggregate (old + delta == new by
    construction, exact cents)."""
    from finance_reporting_etl_spark.operators.corpus import md5_bucket

    o = _t(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.col("o_orderdate").cast("date").alias("day"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        (md5_bucket("o_orderkey", 256, salt="mv") < 5).cast("int").alias("is_delta"),
    )
    keys = (
        o.filter(F.col("is_delta") == 1)
        .select("o_orderpriority", "day")
        .distinct()
    )
    touched = o.join(keys, ["o_orderpriority", "day"], "left_semi")
    return touched.groupBy("o_orderpriority", "day").agg(
        F.sum("is_delta").cast("bigint").alias("n_delta_rows"),
        F.sum(F.when(F.col("is_delta") == 0, F.col("cents")).otherwise(0))
        .cast("bigint")
        .alias("old_cents"),
        F.sum(F.when(F.col("is_delta") == 1, F.col("cents")).otherwise(0))
        .cast("bigint")
        .alias("delta_cents"),
        F.sum("cents").cast("bigint").alias("new_cents"),
    )


@query("conformal_interval_coverage",
    _ORACLES["conformal_interval_coverage"],
    "A-tier uncertainty: split-conformal interval calibration for the seasonal-naive forecaster per series — integer residual order statistic q_hat, exact eval-half coverage vs the 0.9 target",
)
def q_conformal_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Are the forecast intervals HONEST? Split-conformal calibration
    on each priority tier's seasonal-naive (lag-7) residuals: q_hat is
    the ceil(0.9(m+1))-th order statistic of |residual| on the
    chronological first half, coverage is the second-half share inside
    ±q_hat — distribution-free finite-sample validity, the uncertainty
    companion to seasonal_naive_backtest's point metrics. Integer
    end-to-end except the displayed coverage ratio. Operator:
    operators.timeseries.split_conformal_coverage."""
    from finance_reporting_etl_spark.operators.timeseries import (
        split_conformal_coverage,
    )

    return split_conformal_coverage(
        _priority_daily_cents(spark, sf_dir), ["series"], "day", "cents",
        season=7, alpha=0.1,
    )


@query("return_rate_parity_segments",
    _ORACLES["return_rate_parity_segments"],
    "A/ML-governance: outcome-rate parity audit — per-nation return rate in exact integer ppm and disparate-impact ratio vs the max-rate segment (broadcast dims, one scalar broadcast back)",
)
def q_return_rate_parity_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fairness-audit shape every scored pipeline needs: an
    outcome rate (line returned) per protected-ish segment (customer
    nation) and each segment's disparate-impact ratio against the
    highest-rate segment — the 80%-rule screen. Rates are exact
    integer ppm (returned*1e6 div n); the DI ratio is one more exact
    integer division against a 1-row broadcast max. Dims ride
    broadcast joins onto the fact scan; one aggregation shuffle
    total."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", (F.col("l_returnflag") == "R").cast("int").alias("ret")
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    per = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.sum("ret").cast("bigint").alias("n_returned"),
        )
        .withColumn(
            "rate_ppm", F.expr("n_returned * 1000000 div n_lines").cast("bigint")
        )
    )
    mx = per.agg(F.max("rate_ppm").alias("max_rate_ppm"))
    return per.crossJoin(F.broadcast(mx)).select(
        "n_name",
        "n_lines",
        "n_returned",
        "rate_ppm",
        F.expr("rate_ppm * 1000000 div max_rate_ppm")
        .cast("bigint")
        .alias("di_vs_max_ppm"),
    )


@query("matryoshka_truncation_recall",
    _ORACLES["matryoshka_truncation_recall"],
    "X3/embeddings: matryoshka truncation eval — top-10 cosine recall of the first-16-dim prefix vs the full 64-dim vector per query (one shared brute_force_topk scorer, exact overlap counts)",
)
def q_matryoshka_truncation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How much ANN quality survives truncating embeddings to their
    first 16 dims? The matryoshka-representation question every
    embedding-serving stack asks before shipping the cheap prefix
    index. Both rankings come from the SAME
    operators/similarity.brute_force_topk scorer (identical rounding
    and tie-breaks), so the per-query overlap count — and recall@10 =
    overlap/10 — is exact on both engines."""
    from finance_reporting_etl_spark.operators.similarity import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings")
    qids = list(range(10))
    full = brute_force_topk(emb, qids, k=10).select("query_id", "neighbor_id")
    trunc = brute_force_topk(
        emb.select("vec_id", F.slice("embedding", 1, 16).alias("embedding")),
        qids,
        k=10,
    ).select(
        F.col("query_id").alias("t_qid"), F.col("neighbor_id").alias("t_nid")
    )
    j = full.join(
        trunc,
        (F.col("query_id") == F.col("t_qid"))
        & (F.col("neighbor_id") == F.col("t_nid")),
        "left",
    )
    return j.groupBy("query_id").agg(
        F.sum(F.col("t_nid").isNotNull().cast("int"))
        .cast("bigint")
        .alias("n_overlap"),
        det_round(
            F.sum(F.col("t_nid").isNotNull().cast("int")) / F.lit(10.0), 6
        ).alias("recall_at_10"),
    )


@query("scd2_point_in_time_join",
    _ORACLES["scd2_point_in_time_join"],
    "§2.3/§2.5 point-in-time dimension join: purchases joined to the SCD2 browsing-state interval valid at purchase time (equi-join on the key + interval predicate — the PIT pattern), exact cents per state",
)
def q_scd2_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complement of scd2_user_state_history: having BUILT the
    type-2 dimension, join facts back AS OF their event time. Each
    purchase picks the browsing-state interval (history built from
    non-purchase events) covering its timestamp — valid_from <= ts <
    valid_to, open interval = current — the leakage-free dimension
    lookup every feature pipeline and every kimball mart needs.
    Equi-join on user_id with the interval predicate inside the key:
    per-user history rows are bounded, so this is a key-local filter,
    never a cartesian. Purchases before any state row keep state
    'none' (left join). Exact integer cents per state."""
    from finance_reporting_etl_spark.operators.incremental import scd2_intervals

    ev = _t(spark, sf_dir, "events")
    hist = scd2_intervals(
        ev.filter(F.col("event_type") != "purchase").select(
            "user_id", "event_type", "ts"
        ),
        ["user_id"],
        "ts",
        ["event_type"],
    ).select(
        F.col("user_id").alias("h_uid"),
        F.col("event_type").alias("state"),
        F.unix_micros("valid_from").alias("vf"),
        F.unix_micros("valid_to").alias("vt"),
    )
    pur = ev.filter(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    ).select(
        "user_id",
        F.unix_micros("ts").alias("t"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    j = pur.join(
        hist,
        (F.col("user_id") == F.col("h_uid"))
        & (F.col("vf") <= F.col("t"))
        & (F.col("vt").isNull() | (F.col("t") < F.col("vt"))),
        "left",
    )
    return j.groupBy(
        F.coalesce(F.col("state"), F.lit("none")).alias("state")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
        F.sum("cents").cast("bigint").alias("purchase_cents"),
    )


@query("safety_stock_quantile",
    _ORACLES["safety_stock_quantile"],
    "§2.5/SCM newsvendor: per-brand p95 daily-demand order statistic (exact integer row_number pick inside the brand partition) and safety stock over the floor mean — zero float",
)
def q_safety_stock_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How much buffer inventory does each brand need to cover 95% of
    demand days? The newsvendor service-level answer: the p95 daily
    shipped quantity as an EXACT order statistic (k = ceil(0.95*n),
    row_number pick inside the brand's bounded daily partition — no
    approx_percentile, no float), and safety stock = q95 minus the
    floor mean. Every cell is integer arithmetic."""
    from pyspark.sql import Window

    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.col("l_shipdate").cast("date").alias("day"),
        F.round("l_quantity").cast("bigint").alias("qty"),
    )
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    daily = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "day")
        .agg(F.sum("qty").cast("bigint").alias("d_qty"))
    )
    wq = Window.partitionBy("p_brand").orderBy("d_qty", "day")
    wn = Window.partitionBy("p_brand")
    r = (
        daily.withColumn("rn", F.row_number().over(wq))
        .withColumn("n_days", F.count(F.lit(1)).over(wn))
        .withColumn("tot", F.sum("d_qty").over(wn))
    )
    k = F.ceil(F.lit(0.95) * F.col("n_days")).cast("bigint")
    return r.filter(F.col("rn") == k).select(
        "p_brand",
        F.col("n_days").cast("bigint").alias("n_days"),
        F.col("tot").cast("bigint").alias("total_qty"),
        F.col("d_qty").alias("q95_daily_qty"),
        (F.col("d_qty") - F.expr("tot div n_days")).cast("bigint").alias(
            "safety_stock_qty"
        ),
    )


@query("account_running_balances",
    _ORACLES["account_running_balances"],
    "§2.4/finance ledger: running month-end balance per account (cumulative debits - credits over the bounded month spine) from the same journal as the trial balance — the balance-sheet line, exact cents",
)
def q_account_running_balances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The balance-sheet companion to trial_balance_monthly: each
    account's running month-end balance, cumulative debits minus
    credits over the calendar — accounts_receivable trends toward the
    open AR position, revenue/sales_returns accumulate the P&L lines.
    Same journal legs, one more BIGINT prefix sum over the bounded
    (account, month) domain (per-account partition, never a global
    sort). Exact integer cents end-to-end."""
    from pyspark.sql import Window

    monthly = (
        _journal_order_legs(_tb_orders(spark, sf_dir))
        .unionByName(_journal_return_legs(_tb_returns(spark, sf_dir)))
        .groupBy("month", "account")
        .agg(
            F.sum("debit").cast("bigint").alias("debit_cents"),
            F.sum("credit").cast("bigint").alias("credit_cents"),
        )
    )
    w = (
        Window.partitionBy("account")
        .orderBy("month")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return monthly.select(
        "account",
        "month",
        "debit_cents",
        "credit_cents",
        F.sum(F.col("debit_cents") - F.col("credit_cents"))
        .over(w)
        .cast("bigint")
        .alias("balance_cents"),
    )


@query("rrf_hybrid_search",
    _ORACLES["rrf_hybrid_search"],
    "X3/X4 hybrid retrieval: reciprocal-rank fusion of a lexical (token-Jaccard) top-20 and an embedding-cosine top-20 per query — rank-only merge, fixed two-term float, exact tie-breaks",
)
def q_rrf_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The retrieval stack every RAG pipeline converges on: a lexical
    ranking and a semantic ranking fused by reciprocal-rank fusion —
    rrf(d) = 1/(60+r_lex) + 1/(60+r_sem) — which needs no score
    calibration because only RANKS enter. Lexical = token-set Jaccard
    of each query document against the corpus (5 query docs broadcast;
    candidate set corpus-sized but embarrassingly parallel); semantic
    = the shared brute_force_topk cosine scorer over the aligned
    embeddings. The fusion join is top-20-sized per query. Operators:
    operators.similarity.{brute_force_topk, reciprocal_rank_fusion}."""
    from pyspark.sql import Window

    from finance_reporting_etl_spark.operators.dedup import whitespace_tokens
    from finance_reporting_etl_spark.operators.similarity import (
        brute_force_topk,
        reciprocal_rank_fusion,
    )

    qids = [0, 1, 2, 3, 4]
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.array_distinct(whitespace_tokens(F.lower(F.col("text")))).alias("toks"),
    )
    q = docs.filter(F.col("doc_id").isin(qids)).select(
        F.col("doc_id").alias("query_id"), F.col("toks").alias("q_toks")
    )
    inter = F.size(F.array_intersect("q_toks", "toks"))
    jac = inter / (
        F.size("q_toks") + F.size("toks") - inter
    ).cast("double")
    wl = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    lex = (
        docs.join(F.broadcast(q), F.col("doc_id") != F.col("query_id"))
        .withColumn("score", det_round(jac, 6))
        .filter(F.col("score") > 0)
        .select("query_id", F.col("doc_id").alias("neighbor_id"), "score")
        .withColumn("rank", F.row_number().over(wl))
        .filter(F.col("rank") <= 20)
    )
    sem = brute_force_topk(_t(spark, sf_dir, "embeddings"), qids, k=20)
    return reciprocal_rank_fusion(lex, sem, k0=60, topk=10)


@query("next_event_prediction_accuracy",
    _ORACLES["next_event_prediction_accuracy"],
    "A/ML-eval sequence model: majority-class next-event predictor trained on pre-mid transitions, exact top-1 accuracy on post-mid transitions — integer counts, deterministic argmax, leakage-free time split",
)
def q_next_event_prediction_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The simplest honest sequence baseline every session-model must
    beat: per previous event type, predict the most frequent next type
    observed BEFORE the time midpoint, then score exact top-1 accuracy
    on transitions after it (a transition belongs to the side of its
    SECOND event — no leakage). Transition counts are exact integers;
    the argmax breaks count ties lexicographically (row_number), so
    the predictor — and the accuracy ratio — is hash-stable."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    b = ev.agg(
        F.expr("(min(unix_micros(ts)) + max(unix_micros(ts))) div 2").alias("mid")
    )
    wl = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tr = (
        ev.select("user_id", "event_type", "ts", "event_id")
        .withColumn("next_type", F.lead("event_type").over(wl))
        .withColumn("next_ts", F.lead("ts").over(wl))
        .filter(F.col("next_type").isNotNull())
        .crossJoin(F.broadcast(b))
        .select(
            "event_type",
            "next_type",
            (F.unix_micros("next_ts") <= F.col("mid")).alias("is_train"),
        )
    )
    counts = (
        tr.filter(F.col("is_train"))
        .groupBy("event_type", "next_type")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wa = Window.partitionBy("event_type").orderBy(
        F.col("c").desc(), F.col("next_type").asc()
    )
    pred = (
        counts.withColumn("rn", F.row_number().over(wa))
        .filter(F.col("rn") == 1)
        .select("event_type", F.col("next_type").alias("predicted"))
    )
    ev_side = tr.filter(~F.col("is_train"))
    scored = ev_side.join(F.broadcast(pred), "event_type", "left")
    # hit must be CASE-shaped (NULL predicted -> 0), matching the
    # oracle's CASE; a bare boolean cast would sum NULLs differently
    hit = F.when(F.col("next_type") == F.col("predicted"), 1).otherwise(0)
    return scored.groupBy("event_type").agg(
        F.min("predicted").alias("predicted"),
        F.count(F.lit(1)).cast("bigint").alias("n_eval"),
        F.sum(hit).cast("bigint").alias("n_correct"),
        det_round(
            F.sum(hit).cast("double") / F.count(F.lit(1)), 6
        ).alias("accuracy"),
    )


@query("script_mix_stats",
    _ORACLES["script_mix_stats"],
    "X4 text hygiene: per-language character-class profile (latin/digit/non-ASCII counts via regexp length deltas) and mixed-script document rate in exact integer ppm — the spam/obfuscation screen",
)
def q_script_mix_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-class hygiene per labeled language: how latin, digit
    and non-ASCII heavy each language's documents are, and how many
    mix latin with substantial (>10%) non-ASCII content — the
    obfuscation/spam screen a multilingual corpus runs before
    training. Counts come from codepoint-length deltas of global
    regexp_replace (identical char-class semantics in Java regex and
    RE2); every emitted cell is an exact integer or integer-ppm
    division."""
    # single-char class counts: regexp_count(text, klass) equals the
    # length delta of stripping the class, without allocating three
    # stripped copies of every document per row
    d = _t(spark, sf_dir, "documents").select(
        "lang",
        F.length("text").cast("bigint").alias("n"),
        F.regexp_count("text", F.lit("[a-zA-Z]")).cast("bigint").alias("latin"),
        F.regexp_count("text", F.lit("[0-9]")).cast("bigint").alias("digit"),
        F.regexp_count("text", F.lit("[^\\x00-\\x7f]"))
        .cast("bigint")
        .alias("nonascii"),
    ).filter(F.col("n") > 0)
    mixed = (F.col("latin") > 0) & (F.col("nonascii") * 10 > F.col("n"))
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.expr("sum(latin) * 1000000 div sum(n)").cast("bigint").alias("latin_ppm"),
        F.expr("sum(digit) * 1000000 div sum(n)").cast("bigint").alias("digit_ppm"),
        F.expr("sum(nonascii) * 1000000 div sum(n)")
        .cast("bigint")
        .alias("nonascii_ppm"),
        F.sum(mixed.cast("int")).cast("bigint").alias("mixed_script_docs"),
    )


@query("l_diversity_audit",
    _ORACLES["l_diversity_audit"],
    "S-tier privacy: l-diversity audit per quasi-identifier group — exact distinct-sensitive counts, violation flags for l < 3 (the k-anonymity family's second axis)",
)
def q_l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity's blind spot: a group can be k-large yet reveal
    everyone's sensitive value if that value is uniform. Per
    quasi-identifier group (nation, market segment), the exact number
    of DISTINCT sensitive values (account-balance sign class) and the
    l<3 violation flag — the audit that decides whether
    k_anonymity_suppress's output is actually safe to release. Exact
    integer counts end-to-end."""
    c = _t(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.when(F.col("c_acctbal") < 0, F.lit("negative"))
        .when(F.col("c_acctbal") < 5000, F.lit("low"))
        .otherwise(F.lit("high"))
        .alias("bal_class"),
    )
    return (
        c.groupBy("c_nationkey", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.countDistinct("bal_class").cast("bigint").alias("l_distinct"),
        )
        .withColumn(
            "l_violation", (F.col("l_distinct") < 3).cast("int")
        )
    )


# ---------------------------------------------------------------------------
# Gate-window ordering.
#
# The driver's correctness gate runs the FIRST 50 catalog entries in dict
# insertion order. Rounds 1-2 hard-verified the 50 entries listed second
# below (green rows in CORRECTNESS_r01/r02.json); the 36 listed first were
# registered later and have only the local pytest oracle replica so far.
# Rotating them into the gate window gives every entry a driver-verified
# row within two consecutive rounds; the previously-proven entries keep
# their standing evidence. Definition order above is unchanged — only the
# exported dict order moves.
# --- round 9 wave 22 -------------------------------------------------------


@query("ar_aging_buckets",
    _ORACLES["ar_aging_buckets"],
    "§2.4/finance AR: receivables aging into 0-30/31-60/61-90/90+ buckets per market segment as of a fixed date — exact integer day diffs, CASE bucketing, BIGINT cents (the collections dashboard primitive)",
)
def q_ar_aging_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accounts-receivable aging: every open order is an unpaid
    invoice; bucket its age as of 1998-08-01 and roll cents up per
    customer market segment. Everything is exact integers (datediff,
    CASE, BIGINT sums) — one shuffle for the customer join (AQE may
    broadcast), one for the (segment, bucket) aggregation over a
    bounded 5x4 output domain."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderstatus") == "O")
        & (F.col("o_orderdate").cast("date") <= F.lit("1998-08-01").cast("date"))
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    age = F.datediff(F.lit("1998-08-01").cast("date"), F.col("o_orderdate").cast("date"))
    bucket = (
        F.when(age <= 30, "0-30")
        .when(age <= 60, "31-60")
        .when(age <= 90, "61-90")
        .otherwise("90+")
    )
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .select(
            F.col("c_mktsegment").alias("segment"),
            bucket.alias("bucket"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        )
        .groupBy("segment", "bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("cents").cast("bigint").alias("ar_cents"),
        )
    )


@query("interest_accrual_day_count",
    _ORACLES["interest_accrual_day_count"],
    "§2.4/finance treasury: ACT/360 vs 30/360 interest accrual per period (exact BIGINT floor division, literal period spine) — the day-count-basis reconciliation; operator operators.allocation.accrual_schedule_day_count",
)
def q_interest_accrual_day_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Treat each high-priority June-1995 order as a drawn loan at 8%
    APR (80 000 ppm) and accrue interest for Jul/Aug/Sep 1995 under
    ACT/360 and 30/360 side by side — the convention-basis difference
    treasury reconciles between systems. All cells are exact BIGINT
    floor divisions; no float exists in either plan."""
    from finance_reporting_etl_spark.operators.allocation import (
        accrual_schedule_day_count,
    )

    loans = (
        _t(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderpriority") == "2-HIGH")
            & (F.year("o_orderdate") == 1995)
            & (F.month("o_orderdate") == 6)
        )
        .select(
            "o_orderkey",
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("p"),
        )
    )
    return accrual_schedule_day_count(
        loans, "o_orderkey", "p", 80_000,
        [("1995-07", 31), ("1995-08", 31), ("1995-09", 30)],
    )


@query("event_type_entropy_daily",
    _ORACLES["event_type_entropy_daily"],
    "§2.8/X-quality: daily Shannon entropy of the event-type mix (H = ln n - sum(c ln c)/n over exact counts, det_round display) + normalized entropy — the category-collapse data-quality monitor",
)
def q_event_type_entropy_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Did the event mix collapse to one type today? Daily Shannon
    entropy over exact per-type counts, plus entropy normalized by
    ln(#types) (NULL when a single type — no information). The only
    floats are the final ln/division, det_round-displayed; counts and
    the day partition are exact and bounded (<=5 types/day)."""
    c = (
        _t(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("day"), "event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    from pyspark.sql import Window

    n = F.sum("c").over(Window.partitionBy("day"))
    w = c.withColumn("n", n.cast("bigint"))
    h = F.log(F.col("n").cast("double")) - F.sum(
        F.col("c").cast("double") * F.log(F.col("c").cast("double"))
    ) / F.col("n")
    agg = w.groupBy("day", "n").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        F.sum(F.col("c").cast("double") * F.log(F.col("c").cast("double"))).alias("__sclc"),
    )
    hh = F.log(F.col("n").cast("double")) - F.col("__sclc") / F.col("n")
    return agg.select(
        "day",
        F.col("n").alias("n_events"),
        "n_types",
        det_round(hh, 6).alias("entropy"),
        det_round(
            hh / F.nullif(F.log(F.col("n_types").cast("double")), F.lit(0.0)), 6
        ).alias("entropy_norm"),
    )


@query("order_fulfillment_quantiles",
    _ORACLES["order_fulfillment_quantiles"],
    "§2.5/SCM ops: monthly p50/p90 order-to-first-ship lag as EXACT order statistics (row_number pick at ceil(q*n) inside the month partition, integer days — no approx_percentile, no float output)",
)
def q_order_fulfillment_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How long from order to the first shipment, month by month —
    the order-to-cash cycle's physical half. p50/p90 are exact order
    statistics (the safety_stock_quantile pattern): deterministic
    (lag, orderkey) ordering inside the month partition, integer-day
    output, scale unit = month."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.trunc(F.col("o_orderdate").cast("date"), "month").alias("month"),
        F.col("o_orderdate").cast("date").alias("od"),
    )
    li = _t(spark, sf_dir, "lineitem").groupBy("l_orderkey").agg(
        F.min(F.col("l_shipdate").cast("date")).alias("first_ship")
    )
    lag = o.join(li, o.o_orderkey == li.l_orderkey).select(
        "o_orderkey",
        "month",
        F.datediff("first_ship", "od").cast("bigint").alias("lag_days"),
    )
    wq = Window.partitionBy("month").orderBy("lag_days", "o_orderkey")
    wn = Window.partitionBy("month")
    r = lag.withColumn("rn", F.row_number().over(wq)).withColumn(
        "n", F.count(F.lit(1)).over(wn)
    )
    k50 = F.ceil(F.lit(0.5) * F.col("n")).cast("bigint")
    k90 = F.ceil(F.lit(0.9) * F.col("n")).cast("bigint")
    return r.groupBy("month").agg(
        F.max("n").cast("bigint").alias("n_orders"),
        F.max(F.when(F.col("rn") == k50, F.col("lag_days")))
        .cast("bigint")
        .alias("p50_lag_days"),
        F.max(F.when(F.col("rn") == k90, F.col("lag_days")))
        .cast("bigint")
        .alias("p90_lag_days"),
    )


@query("dup_cluster_size_histogram",
    _ORACLES["dup_cluster_size_histogram"],
    "X1/dedup observability: exact-duplicate cluster-size histogram (md5 fingerprint groups -> size -> n_clusters/n_docs/ppm share) — the before-you-delete audit of a dedup pass, exact integers",
)
def q_dup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What does the duplication DISTRIBUTION look like before the
    dedup pass deletes anything: cluster sizes from exact content
    fingerprints, then a size histogram with an exact integer ppm
    share of the corpus. Two bounded aggregations; the scalar total
    rides a broadcast (1-row) join."""
    from finance_reporting_etl_spark.functions.text import fingerprint

    cl = (
        _t(spark, sf_dir, "documents")
        .select(fingerprint(F.col("text")).alias("f"))
        .groupBy("f")
        .agg(F.count(F.lit(1)).cast("bigint").alias("size"))
    )
    tot = cl.agg(F.sum("size").cast("bigint").alias("n_total"))
    return (
        cl.crossJoin(F.broadcast(tot))
        .groupBy(F.col("size").alias("cluster_size"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
            (F.count(F.lit(1)) * F.first("size")).cast("bigint").alias("n_docs"),
            F.expr("(count(1) * first(size) * 1000000) div first(n_total)")
            .cast("bigint")
            .alias("doc_share_ppm"),
        )
    )


@query("streaming_entropy_monitor",
    _ORACLES["event_type_entropy_daily"],
    "§2.8 continuous data-quality: daily event-mix entropy folded per micro-batch (additive (day, type) count partials through foreachBatch; entropy computed once on the merged counts) == the batch event_type_entropy_daily (SHARED oracle proves it)",
)
def q_streaming_entropy_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The category-collapse monitor as a CONTINUOUS job: events
    stream in 3 micro-batches, each batch posts additive (day,
    event_type) count partials through foreachBatch, and the Shannon
    entropy is computed ONCE over the merged exact counts — counts
    are order-free mergeable integers, so the result is bit-identical
    to the one-shot batch query regardless of micro-batch boundaries
    (the SHARED event_type_entropy_daily oracle proves it). Operator:
    streaming.staging.replay_partials."""
    from pyspark.sql import Window

    from finance_reporting_etl_spark.streaming.staging import replay_partials

    def batch_agg(batch: DataFrame) -> DataFrame:
        return (
            batch.groupBy(
                F.col("ts").cast("date").alias("day"), "event_type"
            ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        )

    def finish(partials: DataFrame) -> DataFrame:
        c = (
            partials.groupBy("day", "event_type")
            .agg(F.sum("c").cast("bigint").alias("c"))
        )
        w = c.withColumn(
            "n", F.sum("c").over(Window.partitionBy("day")).cast("bigint")
        )
        agg = w.groupBy("day", "n").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_types"),
            F.sum(
                F.col("c").cast("double") * F.log(F.col("c").cast("double"))
            ).alias("__sclc"),
        )
        hh = F.log(F.col("n").cast("double")) - F.col("__sclc") / F.col("n")
        return agg.select(
            "day",
            F.col("n").alias("n_events"),
            "n_types",
            det_round(hh, 6).alias("entropy"),
            det_round(
                hh / F.nullif(F.log(F.col("n_types").cast("double")), F.lit(0.0)),
                6,
            ).alias("entropy_norm"),
        )

    src_df = _t(spark, sf_dir, "events").select("ts", "event_type")
    return replay_partials(
        spark,
        lambda src: src_df.repartition(3).write.parquet(src),
        batch_agg,
        finish,
        "streaming_entropy_monitor",
    )


@query("lsh_band_sweep_recall",
    _ORACLES["lsh_band_sweep_recall"],
    "X2/sketch tuning: (bands x rows) LSH S-curve sweep over the shared signature table — per-config candidates / verified pairs (EXACT integer predicate 2*inter >= union) / pooled recall + precision ppm; operator operators.dedup.lsh_band_sweep",
)
def q_lsh_band_sweep_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which banding should the 100-TB dedup pass use? Three LSH
    configs (16x2, 8x4, 4x8) swept over the SAME persisted minhash
    signatures: candidate volume, exact-verified near-dup pairs
    (2*|A∩B| >= |A∪B| — an integer predicate, no float decision),
    and pooled recall/precision in exact ppm. Pooled truth (union of
    verified pairs across configs) is the scale-honest substitute for
    the uncomputable all-pairs truth. Operator:
    operators.dedup.lsh_band_sweep."""
    from finance_reporting_etl_spark.operators.dedup import (
        lsh_band_sweep,
        minhash_signatures,
    )

    docs = _t(spark, sf_dir, "documents")
    sigs = _persist_aux(spark, minhash_signatures(docs), "minhash_sig_qa")
    return lsh_band_sweep(
        sigs, [("16x2", 16), ("8x4", 8), ("4x8", 4)], num_hashes=32
    )


@query("dso_monthly",
    _ORACLES["dso_monthly"],
    "§2.4/finance working capital: monthly days-sales-outstanding (open-AR x days-in-month x 100 div sales, exact integer centi-days) — the collections-efficiency KPI next to the aging buckets",
)
def q_dso_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The working-capital line every CFO dashboard carries: DSO =
    open AR / credit sales x days in month, per order month, with the
    still-open orders of the month as the AR proxy (the billed-month
    collection view — the aging buckets give the as-of view). One
    aggregation; the ratio is an exact integer division emitted in
    centi-days, so every cell is BIGINT-exact in both engines."""
    o = _t(spark, sf_dir, "orders").select(
        F.trunc(F.col("o_orderdate").cast("date"), "month").alias("month"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        (F.col("o_orderstatus") == "O").cast("int").alias("is_open"),
    )
    m = o.groupBy("month").agg(
        F.sum("cents").cast("bigint").alias("sales_cents"),
        F.sum(F.col("cents") * F.col("is_open")).cast("bigint").alias(
            "open_ar_cents"
        ),
    )
    days = F.dayofmonth(F.last_day(F.col("month")))
    return m.select(
        "month",
        "sales_cents",
        "open_ar_cents",
        days.cast("int").alias("days_in_month"),
        F.expr(
            "(open_ar_cents * day(last_day(month)) * 100) div sales_cents"
        ).cast("bigint").alias("dso_centi_days"),
    )


@query("gross_to_net_waterfall",
    _ORACLES["gross_to_net_waterfall"],
    "§2.4/finance revenue bridge: monthly gross -> discounts -> returns -> net waterfall in exact integer cents (net = gross - discounts - returns holds by construction — the audit identity)",
)
def q_gross_to_net_waterfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The gross-to-net bridge on every revenue-assurance report:
    monthly gross billings, discount give-back, returns reversal and
    the resulting net — each an exact BIGINT cents sum, with
    net = gross - discounts - returns true by construction (the
    identity an auditor re-foots). One hash aggregation over the
    shipment-month key."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.trunc(F.col("l_shipdate").cast("date"), "month").alias("month"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("gross"),
        F.round(F.col("l_extendedprice") * F.col("l_discount") * 100)
        .cast("bigint")
        .alias("disc"),
        F.when(
            F.col("l_returnflag") == "R",
            F.round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
            ).cast("bigint"),
        )
        .otherwise(F.lit(0).cast("bigint"))
        .alias("ret"),
    )
    return li.groupBy("month").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.sum("gross").cast("bigint").alias("gross_cents"),
        F.sum("disc").cast("bigint").alias("discount_cents"),
        F.sum("ret").cast("bigint").alias("returns_cents"),
        (F.sum("gross") - F.sum("disc") - F.sum("ret"))
        .cast("bigint")
        .alias("net_cents"),
    )


@query("fx_gain_loss_realized",
    _ORACLES["fx_gain_loss_realized"],
    "§2.4/finance consolidation: realized FX gain/loss per nation x settle month — booked at order-month rate vs settled at first-ship-month rate over a deterministic month-drifting ppm rate surface; exact integer division both legs, zero float",
)
def q_fx_gain_loss_realized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The consolidation line under every multi-currency P&L: an order
    books receivable at its order-month rate and settles at its first
    shipment's month rate — the difference is realized FX gain/loss.
    Rates are the fx_normalized_revenue synthetic dim extended with a
    deterministic monthly drift (500000 + ((nationkey*37 + month_index
    *17) % 1000) * 1000 ppm, month_index = y*12+m — a pure integer
    expression, so no rates table needs to ride the join at all).
    Both conversions are truncating integer divisions; every output
    cell is BIGINT-exact on both engines."""
    li = _t(spark, sf_dir, "lineitem").groupBy("l_orderkey").agg(
        F.min(F.col("l_shipdate").cast("date")).alias("first_ship")
    )
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("mi_book"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    x = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select(
            "n_name",
            F.trunc("first_ship", "month").alias("settle_month"),
            (F.year("first_ship") * 12 + F.month("first_ship")).alias("mi_settle"),
            "mi_book",
            "cents",
            F.col("c_nationkey").alias("nk"),
        )
        .select(
            "n_name",
            "settle_month",
            F.expr(
                "(cents * 1000000) div "
                "(500000 + ((nk * 37 + mi_book * 17) % 1000) * 1000)"
            ).cast("bigint").alias("booked"),
            F.expr(
                "(cents * 1000000) div "
                "(500000 + ((nk * 37 + mi_settle * 17) % 1000) * 1000)"
            ).cast("bigint").alias("settled"),
        )
    )
    return x.groupBy("n_name", "settle_month").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum("booked").cast("bigint").alias("booked_base_cents"),
        F.sum("settled").cast("bigint").alias("settled_base_cents"),
        (F.sum("settled") - F.sum("booked")).cast("bigint").alias("fx_gain_cents"),
    )


@query("streaming_ar_aging",
    _ORACLES["ar_aging_buckets"],
    "§2.8 x §2.4 continuous collections: open-AR aging buckets folded per micro-batch through foreachBatch (additive integer partials, static customer dim joined per batch) == the one-shot ar_aging_buckets (SHARED oracle proves it)",
)
def q_streaming_ar_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CONTINUOUS collections dashboard: open orders stream in as
    3 micro-batches, each batch joins the static customer dim and
    posts additive (segment, bucket) partials — counts and cents are
    order-free mergeable integers, so the merged aging equals the
    one-shot batch computation regardless of micro-batch boundaries
    (the SHARED ar_aging_buckets oracle proves it). Operator:
    streaming.staging.replay_partials."""
    from finance_reporting_etl_spark.streaming.staging import replay_partials

    cdim = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    age = F.datediff(
        F.lit("1998-08-01").cast("date"), F.col("o_orderdate").cast("date")
    )
    bucket = (
        F.when(age <= 30, "0-30")
        .when(age <= 60, "31-60")
        .when(age <= 90, "61-90")
        .otherwise("90+")
    )

    def batch_agg(batch: DataFrame) -> DataFrame:
        return (
            batch.join(F.broadcast(cdim), batch.o_custkey == cdim.c_custkey)
            .select(
                F.col("c_mktsegment").alias("segment"),
                bucket.alias("bucket"),
                F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
            )
            .groupBy("segment", "bucket")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n"),
                F.sum("cents").cast("bigint").alias("c"),
            )
        )

    src_df = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderstatus") == "O")
        & (F.col("o_orderdate").cast("date") <= F.lit("1998-08-01").cast("date"))
    ).select("o_custkey", "o_orderdate", "o_totalprice")
    return replay_partials(
        spark,
        lambda src: src_df.repartition(3).write.parquet(src),
        batch_agg,
        lambda partials: partials
        .groupBy("segment", "bucket")
        .agg(
            F.sum("n").cast("bigint").alias("n_orders"),
            F.sum("c").cast("bigint").alias("ar_cents"),
        ),
        "streaming_ar_aging",
    )


@query("ngram_novelty_scores",
    _ORACLES["ngram_novelty_scores"],
    "X4/X-pipe corpus observability: within-corpus 4-gram novelty per doc (first-owner attribution: distinct grams -> min(doc) per gram -> join-back counts, exact integer ppm) — the memorization/upsampling screen",
)
def q_ngram_novelty_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How much of each document is text the corpus has not produced
    before it: distinct 4-grams attributed to their lowest-id first
    owner, per-doc novel-gram counts and an exact integer ppm score.
    The repetition/memorization screen read before upsampling a
    shard. Gram-keyed shuffles only (the dedup-scale shape); docs
    under 4 tokens have no grams and are absent by construction.
    Operator: operators.corpus.ngram_novelty."""
    from finance_reporting_etl_spark.operators.corpus import ngram_novelty

    return ngram_novelty(
        _t(spark, sf_dir, "documents"), "doc_id", "text", n=4
    )


@query("minhash_estimate_error",
    _ORACLES["minhash_estimate_error"],
    "X2/sketch QA: MinHash-estimated vs EXACT Jaccard per LSH candidate pair (raw-band-tuple candidates, matches/32 estimate, inclusion-exclusion union) — every number an exact integer or a single IEEE division, zero rounding; operator operators.dedup.minhash_estimate_vs_exact",
)
def q_minhash_estimate_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Before trusting the sketch to delete documents: for every LSH
    candidate pair, the 32-hash MinHash Jaccard estimate next to the
    exact shingle-set Jaccard and their absolute error. Signatures are
    the persisted aux table (both engines read the same bits);
    candidates come from raw band-tuple equality (no engine-native
    band hash in the compare path). est = k/32 and exact = i/u are
    single IEEE divisions of exact integers — bit-identical across
    engines with no rounding anywhere."""
    from finance_reporting_etl_spark.operators.dedup import (
        minhash_estimate_vs_exact,
        minhash_signatures,
    )

    docs = _t(spark, sf_dir, "documents")
    sigs = _persist_aux(
        spark, minhash_signatures(docs), "minhash_sig_qa"
    )
    return minhash_estimate_vs_exact(sigs, num_hashes=32, bands=8)


# ---------------------------------------------------------------------------
# Wave 26 (round 10): rerank QA, dedup deletion policy, LSH index
# maintenance, and the balance-sheet/cash-flow statement marts.
# ---------------------------------------------------------------------------


def _rollforward_statement(monthly: DataFrame) -> DataFrame:
    """(month, account, debit_cents, credit_cents) -> the roll-forward
    statement grid: opening/activity/closing per account-month plus a
    statement-section classification. opening = closing - net activity
    (exact BIGINT arithmetic — no lag(), no frame subtleties)."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy("account")
        .orderBy("month")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    closing = (
        F.sum(F.col("debit_cents") - F.col("credit_cents")).over(w).cast("bigint")
    )
    section = (
        F.when(F.col("account") == "accounts_receivable", "asset")
        .when(F.col("account") == "revenue", "revenue")
        .otherwise("contra_revenue")
    )
    return monthly.select(
        "account",
        section.alias("section"),
        "month",
        (closing - (F.col("debit_cents") - F.col("credit_cents")))
        .cast("bigint")
        .alias("opening_cents"),
        "debit_cents",
        "credit_cents",
        closing.alias("closing_cents"),
    )


@query("balance_rollforward_monthly",
    _ORACLES["balance_rollforward_monthly"],
    "§2.4/finance ledger: full roll-forward statement mart (opening/activity/closing per account-month + statement section) from the shared journal legs — the README balance_sheet artifact deepened to a schedule, exact BIGINT cents (reference README.md:467-495)",
)
def q_balance_rollforward_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The schedule an auditor reads next to the trial balance: each
    account's opening balance, period activity, and closing balance,
    classified into statement sections. Same journal legs as
    trial_balance_monthly; one hash aggregation plus one bounded
    per-account window (3 accounts x months), opening derived as
    closing - net so no cross-engine lag() frame semantics enter.
    Exact integer cents end-to-end."""
    monthly = (
        _journal_order_legs(_tb_orders(spark, sf_dir))
        .unionByName(_journal_return_legs(_tb_returns(spark, sf_dir)))
        .groupBy("month", "account")
        .agg(
            F.sum("debit").cast("bigint").alias("debit_cents"),
            F.sum("credit").cast("bigint").alias("credit_cents"),
        )
    )
    return _rollforward_statement(monthly)


@query("streaming_balance_rollforward",
    _ORACLES["balance_rollforward_monthly"],
    "§2.8 x §2.4 continuous statement mart: order legs folded per micro-batch through foreachBatch (additive integer partials, static returns side) -> roll-forward window at read-back == the one-shot balance_rollforward_monthly (SHARED oracle proves it)",
)
def q_streaming_balance_rollforward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CONTINUOUS roll-forward: order journal legs stream in as 3
    micro-batches posting additive (month, account) integer partials;
    the returns side stays static; the roll-forward window (running
    closing, derived opening) applies once at read-back over the
    merged ledger. Integer partials are order-free mergeable, so the
    statement is bit-identical to the one-shot batch mart no matter
    where the micro-batch boundaries fall (the SHARED oracle proves
    it). Operator: streaming.staging.replay_partials."""
    from finance_reporting_etl_spark.streaming.staging import replay_partials

    def batch_agg(batch: DataFrame) -> DataFrame:
        return (
            _journal_order_legs(batch)
            .groupBy("month", "account")
            .agg(
                F.sum("debit").cast("bigint").alias("d"),
                F.sum("credit").cast("bigint").alias("c"),
            )
        )

    stream_part = replay_partials(
        spark,
        lambda src: _tb_orders(spark, sf_dir).repartition(3).write.parquet(src),
        batch_agg,
        lambda partials: partials
        .groupBy("month", "account")
        .agg(
            F.sum("d").cast("bigint").alias("d"),
            F.sum("c").cast("bigint").alias("c"),
        ),
        "streaming_balance_rollforward",
    )
    static_part = (
        _journal_return_legs(_tb_returns(spark, sf_dir))
        .groupBy("month", "account")
        .agg(
            F.sum("debit").cast("bigint").alias("d"),
            F.sum("credit").cast("bigint").alias("c"),
        )
    )
    monthly = (
        stream_part.unionByName(static_part)
        .groupBy("month", "account")
        .agg(
            F.sum("d").cast("bigint").alias("debit_cents"),
            F.sum("c").cast("bigint").alias("credit_cents"),
        )
    )
    return _rollforward_statement(monthly)


@query("cash_flow_indirect_monthly",
    _ORACLES["cash_flow_indirect_monthly"],
    "§2.4/finance statements: statement of cash flows, indirect method (OCF = net income - delta AR) on a deterministic next-month collections convention — ties out exactly to the direct-method cash delta, exact BIGINT cents",
)
def q_cash_flow_indirect_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The third statement: monthly operating cash flow derived the
    indirect way (net income minus the AR movement) under the
    deterministic convention that every order collects in full the
    following month. The tie-out identity — OCF_indirect equals the
    direct-method cash delta (collections) — holds in exact integer
    cents because every term is a BIGINT sum over the same journal.
    Three bounded month-grain aggregates joined on a month spine; no
    window, no floats."""
    rev = _tb_orders(spark, sf_dir).groupBy("month").agg(
        F.sum("cents").cast("bigint").alias("revenue_cents")
    )
    ret = _tb_returns(spark, sf_dir).groupBy("month").agg(
        F.sum("cents").cast("bigint").alias("returns_cents")
    )
    return _cash_flow_statement(rev, ret)


def _cash_flow_statement(rev: DataFrame, ret: DataFrame) -> DataFrame:
    """(month, revenue_cents) + (month, returns_cents) -> the indirect
    cash-flow statement. Collections are the revenue partials shifted
    one month (the deterministic next-month convention), so the whole
    statement derives from two month-grain aggregates."""
    col = rev.select(
        F.add_months("month", 1).alias("month"),
        F.col("revenue_cents").alias("collected_cents"),
    )
    spine = (
        rev.select("month")
        .unionByName(ret.select("month"))
        .unionByName(col.select("month"))
        .distinct()
    )
    x = (
        spine.join(rev, "month", "left")
        .join(ret, "month", "left")
        .join(col, "month", "left")
        .na.fill(0, ["revenue_cents", "returns_cents", "collected_cents"])
    )
    ni = F.col("revenue_cents") - F.col("returns_cents")
    delta_ar = ni - F.col("collected_cents")
    return x.select(
        "month",
        F.col("revenue_cents").cast("bigint").alias("revenue_cents"),
        F.col("returns_cents").cast("bigint").alias("returns_cents"),
        ni.cast("bigint").alias("net_income_cents"),
        delta_ar.cast("bigint").alias("delta_ar_cents"),
        (ni - delta_ar).cast("bigint").alias("ocf_indirect_cents"),
        F.col("collected_cents").cast("bigint").alias("cash_delta_cents"),
    )


@query("streaming_cash_flow_indirect",
    _ORACLES["cash_flow_indirect_monthly"],
    "§2.8 x §2.4 continuous statements: order cents folded per micro-batch through foreachBatch (additive integer month partials, static returns side) -> the indirect cash-flow statement derived at read-back == the one-shot cash_flow_indirect_monthly (SHARED oracle proves it)",
)
def q_streaming_cash_flow_indirect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cash-flow statement as a continuous close: order (month,
    cents) partials fold additively per micro-batch; at read-back the
    merged revenue partials yield collections by the one-month shift
    and the statement assembles exactly as the batch mart — integer
    partials are order-free mergeable, so micro-batch boundaries move
    nothing (the SHARED oracle proves it). Operator:
    streaming.staging.replay_partials."""
    from finance_reporting_etl_spark.streaming.staging import replay_partials

    def batch_agg(batch: DataFrame) -> DataFrame:
        return batch.groupBy("month").agg(
            F.sum("cents").cast("bigint").alias("c")
        )

    rev = replay_partials(
        spark,
        lambda src: _tb_orders(spark, sf_dir).repartition(3).write.parquet(src),
        batch_agg,
        lambda partials: partials
        .groupBy("month")
        .agg(F.sum("c").cast("bigint").alias("revenue_cents")),
        "streaming_cash_flow_indirect",
    )
    ret = _tb_returns(spark, sf_dir).groupBy("month").agg(
        F.sum("cents").cast("bigint").alias("returns_cents")
    )
    return _cash_flow_statement(rev, ret)


def _cluster_canonicalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared near-dup canonicalization frame: the dedup_clusters
    components joined with the catalog quality score, plus the
    keep-best survivor per component (quality DESC NULLS LAST, then
    doc_id — the det-rounded score is bit-identical across engines, so
    the ordering key is too)."""
    from pyspark.sql import Window

    from finance_reporting_etl_spark.functions.text import quality_score
    from finance_reporting_etl_spark.operators.dedup import (
        jaccard_pairs_prepped,
        jaccard_prep,
        near_dup_clusters,
    )

    docs = _t(spark, sf_dir, "documents")
    # tokenize once for the verify self-join (see q_dedup_clusters)
    prepped = jaccard_prep(docs, block_cols=("lang", "source")).localCheckpoint(
        eager=True
    )
    edges = jaccard_pairs_prepped(
        prepped, block_cols=("lang", "source"), threshold=0.5
    ).select("id_a", "id_b")
    nodes = docs.select(F.col("doc_id").alias("id"))
    cl = near_dup_clusters(edges, nodes).select(
        F.col("id").alias("doc_id"), "cluster_id"
    )
    q = docs.select(
        F.col("doc_id").alias("qid"), quality_score("text").alias("quality")
    )
    x = cl.join(q, cl.doc_id == q.qid).drop("qid")
    w = (
        Window.partitionBy("cluster_id")
        .orderBy(F.col("quality").desc_nulls_last(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return x.withColumn("canonical_id", F.first("doc_id").over(w))


@query("dedup_cluster_canonicalize",
    _ORACLES["dedup_cluster_canonicalize"],
    "X1/X2 near-dup DELETION POLICY: keep-best-by-quality within each dedup_clusters component (quality DESC, doc_id tie-break) — per-doc survivor assignment, the policy the dup-cluster histogram audit sets up",
)
def q_dedup_cluster_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHICH copy survives a near-dup cluster: not min-id (the
    clustering label) but the highest-QUALITY member — the policy
    production corpora actually want (keep the cleanest copy, drop the
    boilerplate-wrapped ones). Composes the proven component labels
    with the catalog quality score; the survivor window is per-cluster
    (bounded by cluster size). Emits every doc with its cluster, the
    chosen canonical, and a keep flag."""
    x = _cluster_canonicalized(spark, sf_dir)
    return x.select(
        "doc_id",
        "cluster_id",
        "quality",
        "canonical_id",
        (F.col("doc_id") == F.col("canonical_id")).cast("int").alias("keep"),
    )


@query("dedup_purge_savings",
    _ORACLES["dedup_purge_savings"],
    "X1/X2 dedup observability: storage-savings audit of the keep-best canonicalization per (lang, source) block — docs/clusters/chars kept vs dropped, exact integer ppm",
)
def q_dedup_purge_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHAT the deletion policy buys, before running it: per corpus
    block, how many documents and characters the keep-best rule would
    drop, as exact integer counts and a truncating-division ppm. The
    before-you-delete sizing read alongside dup_cluster_size_histogram.
    One extra broadcast-scale join (docs dims) + one hash aggregation
    over the canonicalization frame."""
    x = _cluster_canonicalized(spark, sf_dir)
    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("did"), "lang", "source", "n_chars"
    )
    dropped = (F.col("doc_id") != F.col("canonical_id")).cast("int")
    return (
        x.join(d, x.doc_id == F.col("did"))
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.countDistinct("cluster_id").cast("bigint").alias("n_clusters"),
            F.sum(dropped).cast("bigint").alias("n_dropped"),
            F.sum("n_chars").cast("bigint").alias("chars_total"),
            F.sum(dropped * F.col("n_chars")).cast("bigint").alias("chars_dropped"),
        )
        .withColumn(
            "savings_ppm",
            F.expr("(chars_dropped * 1000000) div nullif(chars_total, 0)").cast(
                "bigint"
            ),
        )
    )


@query("cross_encoder_rerank_eval",
    _ORACLES["cross_encoder_rerank_eval"],
    "X3 two-tower -> rerank quality audit: interaction-scored (cross-encoder-style) rerank of the persisted ADC shortlist vs the ADC ordering — top-10 overlap, L1 displacement, Kendall concordant/discordant pairs, all exact integers (extends ann_rerank_exact)",
)
def q_cross_encoder_rerank_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOW MUCH does a pair-scoring reranker reorder the cheap
    two-tower shortlist — the audit run before paying for a
    cross-encoder stage at serving time. Stage 1 is the same persisted
    IVF-PQ ADC shortlist as ann_rerank_exact (k=50, no vector reads);
    stage 2 scores each (query, candidate) PAIR with a deterministic
    interaction (distinct-token overlap ppm — the cross-encoder
    stand-in, exact integers) and reranks; the output is per-query
    agreement metrics between the two orderings. The enriched
    shortlist broadcasts into one corpus scan; the Kendall pair join
    is shortlist²-bounded per query. Operators:
    operators.similarity.{cross_encoder_rerank, rank_agreement_metrics}."""
    from finance_reporting_etl_spark.operators.dedup import whitespace_tokens
    from finance_reporting_etl_spark.operators.similarity import (
        cross_encoder_rerank,
        ivfpq_topk_from_tables,
        rank_agreement_metrics,
    )

    index, probes, luts = _pq_tables(spark, sf_dir)
    short = _persist_aux(
        spark,
        ivfpq_topk_from_tables(index, probes, luts, k=50).select(
            "query_id", "neighbor_id", F.col("rank").alias("adc_rank")
        ),
        "ce_shortlist",
    )
    toks = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.array_distinct(whitespace_tokens(F.lower(F.col("text")))).alias("toks"),
    )
    # the ranked frame is shortlist-sized (n_queries x 50) but its plan
    # contains the corpus scan; the metrics consume it THREE times (the
    # per-query agg + both sides of the Kendall self-join), so pin the
    # tiny result once instead of re-scanning the corpus per branch —
    # same bounded-materialization class as near_dup_clusters
    ranked = cross_encoder_rerank(short, toks).localCheckpoint()
    return rank_agreement_metrics(ranked, k=10)


@query("lsh_index_compaction_plan",
    _ORACLES["lsh_index_compaction_plan"],
    "X2/S-tier index maintenance: band-file compaction plan for the persisted MinHash band index — per-band next-fit-decreasing bin packing of (band_idx, band_hash) buckets (marries compaction_bin_packing with the near_dup_incremental_batch index)",
)
def q_lsh_index_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The maintenance job a LIVE LSH index needs: incremental batches
    (near_dup_incremental_batch) keep appending small per-bucket files
    to the band index; this plans their rewrite into ~64-row bins per
    band with the same next-fit-decreasing rule as
    compaction_bin_packing (size DESC + id, exclusive running sum,
    exact integer div). The plan window is per-BAND — the same
    partition grain the index's equi-join probes use — and both
    engines derive the plan from the same persisted index table.
    Operators: operators.dedup.minhash_index,
    operators.scale.compaction_plan."""
    from finance_reporting_etl_spark.operators.dedup import minhash_index
    from finance_reporting_etl_spark.operators.scale import compaction_plan

    docs = _t(spark, sf_dir, "documents")
    idx = _persist_aux(spark, minhash_index(docs), "lsh_band_files")
    buckets = (
        idx.select(F.explode("bands").alias("u"))
        .select(
            F.col("u.band_idx").alias("band_idx"),
            F.col("u.band_hash").alias("band_hash"),
        )
        .groupBy("band_idx", "band_hash")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
    )
    return compaction_plan(buckets, ["band_idx"], "band_hash", "n_rows", 64)


# ---------------------------------------------------------------------------
# Wave 27 (round 10): privacy triad completion, credit-risk roll rates,
# ANN index observability, incremental compaction delta, tokenizer
# fertility.
# ---------------------------------------------------------------------------


@query("t_closeness_audit",
    _ORACLES["t_closeness_audit"],
    "S-tier privacy: t-closeness per quasi-identifier group over the ORDERED sensitive attribute (balance class) — ordered-EMD distance to the global distribution in exact integer ppm; completes the k-anonymity / l-diversity / t-closeness triad",
)
def q_t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity's blind spot: a group can hold 3 distinct sensitive
    values yet still skew far from the population (semantic
    disclosure). t-closeness bounds the ordered-EMD between each
    group's sensitive distribution and the global one. With k=3
    ordered classes, t = (1/2) * sum |cumP_grp - cumP_all| — computed
    as exact cross-multiplied BIGINT cumulative counts with ONE
    truncating division into ppm, so both engines agree bit-exactly.
    One group aggregate + one 1-row global broadcast."""
    cls = (
        F.when(F.col("c_acctbal") < 0, 0)
        .when(F.col("c_acctbal") < 5000, 1)
        .otherwise(2)
    )
    base = _t(spark, sf_dir, "customer").select(
        "c_nationkey", "c_mktsegment", cls.alias("cls")
    )
    g = base.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum((F.col("cls") == 0).cast("int")).cast("bigint").alias("g1"),
        F.sum((F.col("cls") <= 1).cast("int")).cast("bigint").alias("g2"),
    )
    # global totals are the sums of the group sums — derive them from
    # the group aggregate instead of a second base scan
    tot = g.agg(
        F.sum("n_rows").cast("bigint").alias("n_total"),
        F.sum("g1").cast("bigint").alias("t1"),
        F.sum("g2").cast("bigint").alias("t2"),
    )
    x = g.crossJoin(F.broadcast(tot)).withColumn(
        "t_closeness_ppm",
        F.expr(
            "(abs(g1 * n_total - t1 * n_rows)"
            " + abs(g2 * n_total - t2 * n_rows)) * 1000000"
            " div (n_rows * n_total * 2)"
        ).cast("bigint"),
    )
    return x.select(
        "c_nationkey",
        "c_mktsegment",
        "n_rows",
        "t_closeness_ppm",
        (F.col("t_closeness_ppm") > 200000).cast("int").alias("t_violation"),
    )


@query("ar_roll_rates",
    _ORACLES["ar_roll_rates"],
    "§2.4/finance credit risk: AR aging roll-rate matrix — every open order's bucket at two month-apart as-of dates, (segment, from, to) migration counts/cents and per-origin roll rate in exact ppm (the delinquency-transition read under every allowance model)",
)
def q_ar_roll_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOW receivables migrate between aging buckets month over month
    — the roll-rate matrix credit teams feed into allowance models
    (P(31-60 -> 61-90) etc). Each open order is bucketed at two as-of
    dates from the same immutable order date, so the matrix is
    deterministic; counts and cents are exact BIGINT, the roll rate is
    one truncating integer division over a bounded (segment x from)
    window. Output domain bounded at 5 segments x 4 x 4 buckets."""
    from pyspark.sql import Window

    def bucket(asof: str):
        age = F.datediff(F.lit(asof).cast("date"), F.col("o_orderdate").cast("date"))
        return (
            F.when(age <= 30, "0-30")
            .when(age <= 60, "31-60")
            .when(age <= 90, "61-90")
            .otherwise("90+")
        )

    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderstatus") == "O")
        & (F.col("o_orderdate").cast("date") <= F.lit("1998-07-01").cast("date"))
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    m = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            F.col("c_mktsegment").alias("segment"),
            bucket("1998-07-01").alias("bucket_from"),
            bucket("1998-08-01").alias("bucket_to"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        )
        .groupBy("segment", "bucket_from", "bucket_to")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("cents").cast("bigint").alias("ar_cents"),
        )
    )
    w = Window.partitionBy("segment", "bucket_from")
    return (
        m.withColumn("__tot", F.sum("n_orders").over(w).cast("bigint"))
        .withColumn(
            "roll_rate_ppm",
            F.expr("(n_orders * 1000000) div __tot").cast("bigint"),
        )
        .drop("__tot")
    )


@query("ivf_cell_balance",
    _ORACLES["ivf_cell_balance"],
    "X3 ANN index observability: IVF cell population/skew audit over the persisted inverted-file index — share and skew in exact ppm (skew 1e6 = balanced); the read before trusting nprobe tail latency",
)
def q_ivf_cell_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One hot IVF cell IS the serving tail: every probe that lands
    there scans its population. This audits the persisted cell index —
    per-cell vector count, corpus share, and the skew factor
    (n_vecs * n_cells / n_total, 1e6 = perfectly balanced) — as exact
    integers, so rebalancing (re-training centroids, splitting cells)
    is triggered by a bit-stable signal. One group-by over the index +
    a 1-row global broadcast."""
    from finance_reporting_etl_spark.operators.similarity import ivf_index

    emb = _t(spark, sf_dir, "embeddings")
    ix = _persist_aux(spark, ivf_index(emb), "ivf_cell_index")
    g = ix.groupBy("cell").agg(F.count(F.lit(1)).cast("bigint").alias("n_vecs"))
    # totals from the cell aggregate, not a second index scan
    tot = g.agg(
        F.sum("n_vecs").cast("bigint").alias("n_total"),
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
    )
    return g.crossJoin(F.broadcast(tot)).select(
        "cell",
        "n_vecs",
        F.expr("(n_vecs * 1000000) div n_total").cast("bigint").alias("share_ppm"),
        F.expr("(n_vecs * n_cells * 1000000) div n_total")
        .cast("bigint")
        .alias("skew_ppm"),
    )


@query("lsh_compaction_delta",
    _ORACLES["lsh_compaction_delta"],
    "X2/S-tier incremental index maintenance: compaction DELTA after a batch lands in the LSH band index — which standing bins are dirtied, how many buckets are new vs grown, rows needing placement (per band, exact integers)",
)
def q_lsh_compaction_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The INCREMENTAL half of lsh_index_compaction_plan: after
    near_dup_incremental_batch appends a batch's band rows, the
    compactor must not replan the world — it needs, per band, how many
    standing bins were dirtied (contain a grown bucket), how many
    buckets are brand new, and the appended row mass. Both engines
    derive the standing plan (next-fit-decreasing over the corpus
    index) and the delta join from the same two persisted index
    tables. Band-keyed joins only; outputs bounded by the band count."""
    from finance_reporting_etl_spark.operators.dedup import minhash_index

    docs = _t(spark, sf_dir, "documents")
    corpus = _persist_aux(
        spark,
        minhash_index(docs.filter(F.col("doc_id") % 5 != 0)),
        "lsh_delta_corpus",
    )
    batch = _persist_aux(
        spark,
        minhash_index(docs.filter(F.col("doc_id") % 5 == 0)),
        "lsh_delta_batch",
    )

    def buckets(ix: DataFrame, size_name: str) -> DataFrame:
        return (
            ix.select(F.explode("bands").alias("u"))
            .select(
                F.col("u.band_idx").alias("band_idx"),
                F.col("u.band_hash").alias("band_hash"),
            )
            .groupBy("band_idx", "band_hash")
            .agg(F.count(F.lit(1)).cast("bigint").alias(size_name))
        )

    from finance_reporting_etl_spark.operators.scale import compaction_plan

    plan0 = compaction_plan(
        buckets(corpus, "n_rows"), ["band_idx"], "band_hash", "n_rows", 64
    )
    delta = buckets(batch, "rows_added")
    joined = delta.join(
        plan0.withColumnsRenamed(
            {"band_idx": "p_band_idx", "band_hash": "p_band_hash"}
        ),
        (F.col("band_idx") == F.col("p_band_idx"))
        & (F.col("band_hash") == F.col("p_band_hash")),
        "full_outer",
    ).select(
        F.coalesce(F.col("band_idx"), F.col("p_band_idx")).alias("band"),
        "rows_added",
        "bin_id",
        F.when(F.col("p_band_hash").isNull(), 1).otherwise(0).alias("is_new"),
        F.when(
            F.col("p_band_hash").isNotNull() & F.col("band_hash").isNotNull(), 1
        )
        .otherwise(0)
        .alias("is_grown"),
    )
    return joined.groupBy(F.col("band").alias("band_idx")).agg(
        F.count("bin_id").cast("bigint").alias("n_buckets_before"),
        (F.max("bin_id") + 1).cast("bigint").alias("n_bins_before"),
        F.sum("is_new").cast("bigint").alias("n_new_buckets"),
        F.sum("is_grown").cast("bigint").alias("n_grown_buckets"),
        F.countDistinct(F.when(F.col("is_grown") == 1, F.col("bin_id")))
        .cast("bigint")
        .alias("n_dirty_bins"),
        F.coalesce(F.sum("rows_added"), F.lit(0)).cast("bigint").alias("rows_added"),
    )


@query("tokenizer_fertility_by_lang",
    _ORACLES["tokenizer_fertility_by_lang"],
    "X4 multilingual token budgeting: tokenizer fertility per language — whitespace vs BPE-ish token sums, chars per BPE token, exact integer ppm (decides per-language sampling budgets)",
)
def q_tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A fixed token budget buys different amounts of TEXT per
    language: fertility (BPE-ish tokens per whitespace word) and chars
    per BPE token vary by script, and per-language sampling budgets
    must correct for it. Exact BIGINT sums of the catalog's two token
    counters + truncating-division ppm — one aggregation, no floats.
    Operator surface: functions.text.{token_count, bpe_ish_token_count,
    char_count}."""
    from finance_reporting_etl_spark.functions import text as TX

    d = _t(spark, sf_dir, "documents").select(
        "lang",
        TX.char_count("text").cast("bigint").alias("chars"),
        TX.token_count("text").cast("bigint").alias("ws_toks"),
        TX.bpe_ish_token_count("text").cast("bigint").alias("bpe_toks"),
    )
    return (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("chars").cast("bigint").alias("n_chars"),
            F.sum("ws_toks").cast("bigint").alias("n_ws_tokens"),
            F.sum("bpe_toks").cast("bigint").alias("n_bpe_tokens"),
        )
        .select(
            "lang",
            "n_docs",
            "n_chars",
            "n_ws_tokens",
            "n_bpe_tokens",
            F.expr("(n_bpe_tokens * 1000000) div nullif(n_ws_tokens, 0)")
            .cast("bigint")
            .alias("fertility_ppm"),
            F.expr("(n_chars * 1000000) div nullif(n_bpe_tokens, 0)")
            .cast("bigint")
            .alias("chars_per_bpe_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Wave 28 (round 10): cross-source overlap, shard balance, packing
# efficiency sweep, exact average precision.
# ---------------------------------------------------------------------------


@query("source_overlap_matrix",
    _ORACLES["source_overlap_matrix"],
    "X2/X-pipe corpus observability: cross-source 8-gram containment matrix — how much of each source's distinct-gram inventory appears in every other source, exact integer counts/ppm (the overlap read before mixing dumps)",
)
def q_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus dumps overlap (recrawls, mirrors, syndication), and
    mixing two heavily-overlapping sources silently upsamples their
    shared text. Per ordered source pair: shared distinct 8-grams and
    directional containment (shared / |A's grams|) in exact ppm. The
    gram inventory is distinct-(source, gram) — gram-keyed shuffles
    only, and the gram self-join fans out to at most n_sources² rows
    per gram (sources are a bounded dimension). Diagonal rows carry
    each source's own inventory as a built-in sanity check."""
    from finance_reporting_etl_spark.functions.text import (
        ngrams_from_tokens,
        whitespace_tokens,
    )

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "source", whitespace_tokens(F.lower(F.col("text"))).alias("toks")
    )
    grams = (
        toks.select("source", F.explode(ngrams_from_tokens("toks", 8)).alias("gram"))
        .distinct()
    )
    tot = grams.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_grams")
    )
    a = grams.withColumnsRenamed({"source": "source_a"})
    b = grams.withColumnsRenamed({"source": "source_b"})
    return (
        a.join(b, "gram")
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared_grams"))
        .join(
            F.broadcast(tot.withColumnsRenamed({"source": "source_a", "n_grams": "grams_a"})),
            "source_a",
        )
        .select(
            "source_a",
            "source_b",
            "shared_grams",
            "grams_a",
            F.expr("(shared_grams * 1000000) div grams_a")
            .cast("bigint")
            .alias("containment_ppm"),
        )
    )


@query("shard_balance_audit",
    _ORACLES["shard_balance_audit"],
    "X-pipe training-loader observability: post-shuffle shard balance — per-shard doc/BPE-token mass and skew factor in exact ppm (the straggler check before an epoch starts)",
)
def q_shard_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A training epoch runs at the pace of its heaviest shard: the
    md5 shuffle balances DOC counts by construction, but token mass
    can still skew when document lengths do. Per shard of the same
    16-way assignment corpus_shuffle_shard uses: doc count, BPE-token
    mass, and the skew factor (n_tokens * n_shards / total, 1e6 =
    balanced) — exact integers, one aggregation + a 1-row broadcast."""
    from finance_reporting_etl_spark.functions.text import bpe_ish_token_count
    from finance_reporting_etl_spark.operators.corpus import md5_bucket

    d = _t(spark, sf_dir, "documents").select(
        md5_bucket("doc_id", 16, "shuffle").cast("int").alias("shard"),
        bpe_ish_token_count("text").cast("bigint").alias("bpe"),
    )
    g = d.groupBy("shard").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("bpe").cast("bigint").alias("n_tokens"),
    )
    tot = g.agg(
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_shards"),
    )
    return g.crossJoin(F.broadcast(tot)).select(
        "shard",
        "n_docs",
        "n_tokens",
        F.expr("(n_tokens * n_shards * 1000000) div total_tokens")
        .cast("bigint")
        .alias("skew_ppm"),
    )


@query("packing_efficiency_sweep",
    _ORACLES["packing_efficiency_sweep"],
    "X-pipe context-length ablation: sequence-packing efficiency at 256/512/1024 token budgets — pack counts, fill rate, underfill/overflow mass, exact integers (the numbers that pick a training context length)",
)
def q_packing_efficiency_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHICH context length wastes the least compute: the same
    deterministic shuffle order packed at three budgets, each
    producing one row of efficiency numbers — pack count, total
    tokens, underfill (padding the budget would burn), overflow (the
    prefix-sum pack rule's bounded spill), and the fill rate in exact
    ppm. Three per-shard window plans unioned; each budget's final row
    is a 1-row scalar aggregate (bounded class).
    Operator: operators.corpus.pack_sequences."""
    from finance_reporting_etl_spark.operators.corpus import pack_sequences

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")

    def one(budget: int) -> DataFrame:
        per_pack = (
            pack_sequences(docs, "doc_id", "text", budget=budget, shards=16)
            .groupBy("shard", "pack_id")
            .agg(F.sum("n_tokens").cast("bigint").alias("pack_tokens"))
        )
        return per_pack.agg(
            F.lit(budget).cast("bigint").alias("budget"),
            F.count(F.lit(1)).cast("bigint").alias("n_packs"),
            F.sum("pack_tokens").cast("bigint").alias("total_tokens"),
            F.sum(F.greatest(F.lit(0).cast("bigint"), budget - F.col("pack_tokens")))
            .cast("bigint")
            .alias("underfill_tokens"),
            F.sum(F.greatest(F.lit(0).cast("bigint"), F.col("pack_tokens") - budget))
            .cast("bigint")
            .alias("overflow_tokens"),
        ).withColumn(
            "fill_ppm",
            F.expr(f"(total_tokens * 1000000) div (n_packs * {budget})").cast(
                "bigint"
            ),
        )

    out = one(256)
    for budget in (512, 1024):
        out = out.unionByName(one(budget))
    return out


@query("pr_auc_exact",
    _ORACLES["pr_auc_exact"],
    "X-tier model eval: exact average precision (PR-AUC) over the linear-probe scores — distinct-score spine, group-level tie handling, precision as truncating-integer ppb (the imbalanced-data companion to roc_auc_exact)",
)
def q_pr_auc_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC AUC flatters imbalanced classifiers; average precision does
    not — it is the metric retrieval and filtering models report. Same
    scores and label as roc_auc_exact; the spine trick keeps the
    ordering window on the bounded score domain and every precision a
    single truncating integer division, so both engines agree to the
    bit. Operator: operators.stats.average_precision_exact."""
    from finance_reporting_etl_spark.operators.inference import score_embeddings
    from finance_reporting_etl_spark.operators.stats import (
        average_precision_exact,
    )

    scored = score_embeddings(_t(spark, sf_dir, "embeddings")).select(
        "score", (F.col("label") == 0).cast("int").alias("y")
    )
    return average_precision_exact(scored, "score", "y")


# ---------------------------------------------------------------------------
# Wave 29 (round 10): allowance mart, unrealized FX, quality-filter
# ablation, int8-serving recall audit.
# ---------------------------------------------------------------------------


@query("allowance_expected_loss",
    _ORACLES["allowance_expected_loss"],
    "§2.4/finance credit risk: CECL-style allowance for doubtful accounts — the aging grid priced with a fixed per-bucket expected-loss policy, reserve = AR x loss_rate via one truncating integer division per cell (composes ar_aging_buckets)",
)
def q_allowance_expected_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bad-debt estimate every balance sheet carries: price each
    aging bucket with its policy loss rate (1%/5%/20%/50% in ppm) to
    get the reserve. Same one-join one-agg plan as ar_aging_buckets
    over the bounded 5x4 grid; the reserve is exact integer cents via
    ppm multiply + truncating division — no float ever exists."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderstatus") == "O")
        & (F.col("o_orderdate").cast("date") <= F.lit("1998-08-01").cast("date"))
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    age = F.datediff(
        F.lit("1998-08-01").cast("date"), F.col("o_orderdate").cast("date")
    )
    bucket = (
        F.when(age <= 30, "0-30")
        .when(age <= 60, "31-60")
        .when(age <= 90, "61-90")
        .otherwise("90+")
    )
    rate = (
        F.when(F.col("bucket") == "0-30", 10000)
        .when(F.col("bucket") == "31-60", 50000)
        .when(F.col("bucket") == "61-90", 200000)
        .otherwise(500000)
        .cast("bigint")
    )
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .select(
            F.col("c_mktsegment").alias("segment"),
            bucket.alias("bucket"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        )
        .groupBy("segment", "bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("cents").cast("bigint").alias("ar_cents"),
        )
        .withColumn("loss_rate_ppm", rate)
        .withColumn(
            "reserve_cents",
            F.expr("(ar_cents * loss_rate_ppm) div 1000000").cast("bigint"),
        )
    )


@query("fx_unrealized_remeasurement",
    _ORACLES["fx_unrealized_remeasurement"],
    "§2.4/finance consolidation: unrealized FX remeasurement of the open receivable book — booked at order-month rate vs the fixed as-of month rate over the shared deterministic rate surface; exact integer divisions both legs (the balance-sheet companion to fx_gain_loss_realized)",
)
def q_fx_unrealized_remeasurement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-end close remeasures every open foreign-currency
    receivable at the current rate; the movement against its booking
    rate is UNREALIZED gain/loss (realized only when it settles —
    fx_gain_loss_realized's leg). Same synthetic month-drifting ppm
    rate surface; both conversions truncating integer divisions;
    per-nation BIGINT rollup over the open book as of 1998-08-01."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderstatus") == "O")
        & (F.col("o_orderdate").cast("date") <= F.lit("1998-08-01").cast("date"))
    ).select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("mi_book"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    mi_asof = 1998 * 12 + 8
    x = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select(
            "n_name",
            "cents",
            F.expr(
                "(cents * 1000000) div "
                "(500000 + ((c_nationkey * 37 + mi_book * 17) % 1000) * 1000)"
            ).cast("bigint").alias("booked"),
            F.expr(
                f"(cents * 1000000) div "
                f"(500000 + ((c_nationkey * 37 + {mi_asof} * 17) % 1000) * 1000)"
            ).cast("bigint").alias("remeasured"),
        )
    )
    return x.groupBy("n_name").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum("cents").cast("bigint").alias("open_cents"),
        F.sum("booked").cast("bigint").alias("booked_base_cents"),
        F.sum("remeasured").cast("bigint").alias("remeasured_base_cents"),
        (F.sum("remeasured") - F.sum("booked"))
        .cast("bigint")
        .alias("unrealized_gain_cents"),
    )


@query("quality_filter_ablation",
    _ORACLES["quality_filter_ablation"],
    "X4/X-pipe filtering ablation: per (threshold, lang) docs and BPE-token mass surviving quality cutoffs 0.25/0.5/0.75 — the composition-shift check before committing a filter, exact integer counts/ppm",
)
def q_quality_filter_ablation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A quality cutoff that looks mild globally can gut one language
    (different scripts score differently under length/punctuation
    heuristics). Per (threshold, lang): total and surviving docs,
    total and surviving BPE-token mass, and the token keep-rate in
    exact ppm — the table read before committing a filter threshold.
    One scan scoring each doc once; three conditional-sum aggregates
    unioned (thresholds are exactly-representable doubles)."""
    from finance_reporting_etl_spark.functions.text import (
        bpe_ish_token_count,
        quality_score,
    )

    d = _t(spark, sf_dir, "documents").select(
        "lang",
        quality_score("text").alias("q"),
        bpe_ish_token_count("text").cast("bigint").alias("bpe"),
    )

    def one(t: float) -> DataFrame:
        kept = (F.col("q") >= t).cast("int")
        return (
            d.groupBy("lang")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_docs_total"),
                F.sum(kept).cast("bigint").alias("n_docs_kept"),
                F.sum("bpe").cast("bigint").alias("tokens_total"),
                F.sum(kept * F.col("bpe")).cast("bigint").alias("tokens_kept"),
            )
            .select(
                F.lit(t).cast("double").alias("threshold"),
                "lang",
                "n_docs_total",
                "n_docs_kept",
                "tokens_total",
                "tokens_kept",
                F.expr("(tokens_kept * 1000000) div nullif(tokens_total, 0)")
                .cast("bigint")
                .alias("token_keep_ppm"),
            )
        )

    out = one(0.25)
    for t in (0.5, 0.75):
        out = out.unionByName(one(t))
    return out


@query("int8_recall_audit",
    _ORACLES["int8_recall_audit"],
    "X3 vector infra QA: recall@10 of int8-quantized serving (GLOBAL symmetric scale, EXACT integer dot-product ranking over persisted codes) vs the exact-cosine truth — the quantization-quality gate before shipping a 4x-smaller index",
)
def q_int8_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOES the 4x-smaller index still retrieve the right neighbors:
    rank by integer dot product over globally-scaled int8 codes (the
    ordering the quantized index actually serves — exact integers, so
    both engines reproduce it bit-for-bit from the persisted codes)
    and measure recall@10 against the exact-cosine truth. The audit
    captures quantization loss AND the IP-vs-cosine metric gap
    together — exactly what serving swaps in. Codes build is one
    map-side pass + a 1-row global-max broadcast."""
    from finance_reporting_etl_spark.operators.similarity import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings")
    vd = F.transform("embedding", lambda x: x.cast("double"))
    withv = emb.select("vec_id", vd.alias("vd"))
    gmax = withv.agg(
        F.max(F.array_max(F.transform("vd", F.abs))).alias("gmax")
    )
    codes = _persist_aux(
        spark,
        withv.crossJoin(F.broadcast(gmax)).select(
            "vec_id",
            F.transform(
                "vd", lambda x: F.round(x * (F.lit(127.0) / F.col("gmax"))).cast("bigint")
            ).alias("codes"),
        ),
        "int8_codes",
    )
    qc = codes.filter(F.col("vec_id").isin([0, 1, 2, 3, 4])).select(
        F.col("vec_id").alias("query_id"), F.col("codes").alias("qcodes")
    )
    idot = F.aggregate(
        F.zip_with("qcodes", "codes", lambda a, b: a * b),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("__idot").desc(), F.col("neighbor_id").asc()
    )
    i8 = (
        codes.withColumnRenamed("vec_id", "neighbor_id")
        .join(F.broadcast(qc), F.col("neighbor_id") != F.col("query_id"))
        .withColumn("__idot", idot)
        .withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= 10)
        .select("query_id", "neighbor_id")
    )
    truth = brute_force_topk(emb, [0, 1, 2, 3, 4], k=10).select(
        "query_id", "neighbor_id"
    )
    hit = i8.withColumn("__h", F.lit(1))
    return (
        truth.join(hit, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(F.count("__h").cast("bigint").alias("hits"))
        .withColumn(
            "recall_ppm", F.expr("(hits * 1000000) div 10").cast("bigint")
        )
    )


@query("pq_codebook_utilization",
    _ORACLES["pq_codebook_utilization"],
    "X3 vector infra QA: PQ codebook utilization per subspace — codes used of 256 and top-code concentration ppm over the persisted code table (the codebook-collapse check; exact integers)",
)
def q_pq_codebook_utilization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A collapsed PQ subspace (every vector on one code) carries zero
    bits: ADC distances lose that subspace's resolution silently while
    recall decays. Per subspace of the persisted code table: row
    count, distinct codes used, the hottest code's population and its
    concentration in exact ppm — the audit run after (re)training
    codebooks. One group-by over the shared pq_index aux; bounded
    16 x 256 domain."""
    index, _, _ = _pq_tables(spark, sf_dir)
    g = index.groupBy("m", "code").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    return g.groupBy("m").agg(
        F.sum("n").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("codes_used"),
        F.max("n").cast("bigint").alias("top_code_rows"),
    ).withColumn(
        "top_share_ppm",
        F.expr("(top_code_rows * 1000000) div n_rows").cast("bigint"),
    )


@query("dedup_method_agreement",
    _ORACLES["dedup_method_agreement"],
    "X2 dedup QA: cross-method agreement between MinHash-LSH (J>=0.5) and SimHash (hamming<=3) pair sets — both/only-one/union counts and exact agreement ppm (the corroboration read before deleting on one detector's word)",
)
def q_dedup_method_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two near-dup detectors rarely agree perfectly — MinHash sees
    shingle overlap, SimHash sees weighted-feature proximity — and the
    disagreement set IS the risk surface when a deletion policy trusts
    one of them. Full-outer the two pair sets (each derived from its
    own persisted signature table, both re-derived independently by
    the oracle) and report both/only-one/union counts plus the exact
    Jaccard agreement in ppm. Banded equi-join on one side, pigeonhole
    blocks on the other — never all-pairs in Spark."""
    from finance_reporting_etl_spark.operators.dedup import (
        minhash_index,
        minhash_pairs_from_bands,
        simhash,
        simhash_pairs_from_sigs,
    )

    docs = _t(spark, sf_dir, "documents")
    idx = _persist_aux(spark, minhash_index(docs), "agree_minhash_index")
    bands = idx.select("id", F.explode("bands").alias("u")).select(
        "id",
        F.col("u.band_idx").alias("band_idx"),
        F.col("u.band_hash").alias("band_hash"),
    )
    mh = minhash_pairs_from_bands(
        bands, idx.select("id", "sh"), threshold=0.5
    ).select("id_a", "id_b").withColumn("in_mh", F.lit(1))
    sigs = _persist_aux(spark, simhash(docs), "agree_simhash_sigs")
    sh = simhash_pairs_from_sigs(sigs, max_hamming=3).select(
        "id_a", "id_b"
    ).withColumn("in_sh", F.lit(1))
    j = mh.join(sh, ["id_a", "id_b"], "full_outer").select(
        F.coalesce("in_mh", F.lit(0)).alias("in_mh"),
        F.coalesce("in_sh", F.lit(0)).alias("in_sh"),
    )
    return j.agg(
        F.sum("in_mh").cast("bigint").alias("n_minhash_pairs"),
        F.sum("in_sh").cast("bigint").alias("n_simhash_pairs"),
        F.sum(F.col("in_mh") * F.col("in_sh")).cast("bigint").alias("n_both"),
        F.count(F.lit(1)).cast("bigint").alias("n_union"),
    ).withColumn(
        "agreement_ppm",
        F.expr("(n_both * 1000000) div nullif(n_union, 0)").cast("bigint"),
    )


def _lang_confusion_oracle() -> str:
    """Confusion-matrix oracle composed over the language-ID oracle
    body — the same marker-hit CASE, grouped into (true, guess) cells
    with a per-true-language share in exact ppm."""
    return f"""
    WITH g AS ({_lang_oracle()})
    SELECT lang, lang_guess,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) * 1000000
                // sum(count(*)) OVER (PARTITION BY lang) AS BIGINT)
               AS share_ppm
    FROM g GROUP BY 1, 2
    """


@query("lang_id_confusion_matrix",
    _lang_confusion_oracle(),
    "X4 classifier eval: language-ID confusion matrix — (true lang, guess) cells with per-true-language share in exact ppm (the eval artifact behind the language_id operator; bounded langs x (langs+und) domain)",
)
def q_lang_id_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHERE the marker-lexicon classifier fails: the confusion matrix
    over the labeled fixture — which languages leak into 'und', which
    pairs confuse. Cells and per-true-language shares are exact
    integers over a bounded (langs x langs+1) domain; the share window
    partitions by true language. The operating report every deployed
    lang-ID filter needs next to its accuracy number."""
    from pyspark.sql import Window

    from finance_reporting_etl_spark.functions.text import language_guess

    g = _t(spark, sf_dir, "documents").select(
        "lang", language_guess("text").alias("lang_guess")
    )
    m = g.groupBy("lang", "lang_guess").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    w = Window.partitionBy("lang")
    return m.withColumn(
        "__tot", F.sum("n_docs").over(w).cast("bigint")
    ).withColumn(
        "share_ppm", F.expr("(n_docs * 1000000) div __tot").cast("bigint")
    ).drop("__tot")


@query("session_gap_sweep",
    _ORACLES["session_gap_sweep"],
    "§2.8/X-pipe sessionization ablation: session census at 15/30/60-minute gap thresholds — session counts, single-event share, events-per-session ppm; event totals gap-invariant by construction",
)
def q_session_gap_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHICH gap defines a session: too short fragments journeys, too
    long merges visits. The census at three thresholds — sessions,
    single-event sessions, events per session in exact ppm — from the
    same session_window machinery sessionize_events serves. One
    session_window aggregation per gap (user-partitioned, the
    streaming-compatible shape), each reduced to a 1-row census;
    event totals are gap-invariant, the built-in sanity check."""
    from finance_reporting_etl_spark.streaming.rollup import sessionize

    ev = _t(spark, sf_dir, "events")

    def one(minutes: int) -> DataFrame:
        s = sessionize(ev, f"{minutes} minutes")
        return s.agg(
            F.lit(minutes).cast("bigint").alias("gap_minutes"),
            F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
            F.sum((F.col("n_events") == 1).cast("int"))
            .cast("bigint")
            .alias("n_single_event"),
            F.sum("n_events").cast("bigint").alias("n_events"),
        ).withColumn(
            "events_per_session_ppm",
            F.expr("(n_events * 1000000) div n_sessions").cast("bigint"),
        )

    out = one(15)
    for m in (30, 60):
        out = out.unionByName(one(m))
    return out


@query("customer_concentration_topn",
    _ORACLES["customer_concentration_topn"],
    "§2.4/finance disclosure: top-10 customer revenue concentration per year — deterministic rank, exact BIGINT sums, share in truncating ppm (the concentration-risk line next to gini_revenue_concentration)",
)
def q_customer_concentration_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The concentration-risk disclosure: what share of each year's
    revenue the top-10 customers carry. Per-year customer revenue is
    one hash aggregation; the rank window's rk <= 10 filter pushes
    into WindowGroupLimit (per-partition top-k retention), but the
    aggregate needs every customer's cents anyway, so the plan is one
    agg + one per-year window + one rollup — all exact integers."""
    from pyspark.sql import Window

    r = (
        _t(spark, sf_dir, "orders")
        .groupBy(
            F.year("o_orderdate").cast("int").alias("yr"), "o_custkey"
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )
    w = Window.partitionBy("yr").orderBy(
        F.col("cents").desc(), F.col("o_custkey").asc()
    )
    k = r.withColumn("rk", F.row_number().over(w))
    return (
        k.groupBy("yr")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.sum("cents").cast("bigint").alias("total_cents"),
            F.sum(F.when(F.col("rk") <= 10, F.col("cents")).otherwise(0))
            .cast("bigint")
            .alias("top10_cents"),
        )
        .withColumn(
            "top10_share_ppm",
            F.expr("(top10_cents * 1000000) div total_cents").cast("bigint"),
        )
    )


@query("compaction_savings_summary",
    _ORACLES["compaction_savings_summary"],
    "S-tier lakehouse maintenance: per-partition compaction savings summary — files before vs bins after, open-cost reduction and bin fill rate in exact ppm (the prioritization read over compaction_bin_packing's plan)",
)
def q_compaction_savings_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHICH partitions to rewrite first: the per-partition summary of
    the next-fit-decreasing plan — file count before, bin count after,
    the open-cost reduction that buys, and how full the bins land.
    Same simulated file layout and plan as compaction_bin_packing (so
    the two queries reconcile cell-for-cell); the summary adds one
    hash aggregation over the plan. All exact integers/ppm."""
    from finance_reporting_etl_spark.operators.scale import compaction_plan

    files = (
        _t(spark, sf_dir, "lineitem")
        .groupBy(
            F.col("l_returnflag").alias("pt_flag"),
            F.col("l_linestatus").alias("pt_status"),
            F.col("l_suppkey").alias("file_id"),
        )
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("size_bytes")
        )
    )
    plan = compaction_plan(
        files, ["pt_flag", "pt_status"], "file_id", "size_bytes", 100_000_000
    )
    return (
        plan.groupBy("pt_flag", "pt_status")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_files"),
            F.countDistinct("bin_id").cast("bigint").alias("n_bins"),
            F.sum("size_bytes").cast("bigint").alias("total_bytes"),
        )
        .withColumn(
            "open_cost_reduction_ppm",
            F.expr("((n_files - n_bins) * 1000000) div n_files").cast("bigint"),
        )
        .withColumn(
            "bin_fill_ppm",
            F.expr("(total_bytes * 1000000) div (n_bins * 100000000)").cast(
                "bigint"
            ),
        )
    )


@query("embedding_dim_profile",
    _ORACLES["embedding_dim_profile"],
    "X3 vector infra: per-dimension min/max/span profile of the embedding column — the scale audit behind symmetric quantization (order-free double extremes, bit-exact cross-engine; bounded 64-row domain)",
)
def q_embedding_dim_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHY a global int8 scale is (or is not) safe: one runaway
    dimension dictates the symmetric scale and crushes every other
    dimension's resolution. Per coordinate: count, min, max, span —
    min/max of stored doubles are order-free aggregates (bit-exact in
    any engine), span one IEEE subtraction. posexplode is map-side;
    the aggregate lands on the bounded 64-dimension domain."""
    vals = _t(spark, sf_dir, "embeddings").select(
        F.posexplode(F.transform("embedding", lambda x: x.cast("double"))).alias(
            "dim", "val"
        )
    )
    return (
        vals.groupBy(F.col("dim").cast("bigint").alias("dim"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            F.min("val").alias("min_val"),
            F.max("val").alias("max_val"),
        )
        .withColumn("span", F.col("max_val") - F.col("min_val"))
    )


# ---------------------------------------------------------------------------
# Round-10 wave 36 — consolidation, asset schedules, migration, CI audits
# ---------------------------------------------------------------------------


@query("intercompany_elimination",
    _ORACLES["intercompany_elimination"],
    "§2.4/finance consolidation: per-entity gross revenue split into intercompany (buyer nation == seller nation) vs external — the elimination entries behind consolidated revenue; exact BIGINT cents",
)
def q_intercompany_elimination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consolidation 101: a group reports only THIRD-PARTY revenue, so
    flows where the buying and selling entity coincide (here: customer
    nation == supplier nation) must be eliminated. Per selling entity:
    gross, intercompany, external cents plus the intercompany share in
    exact ppm. lineitem/orders/customer shuffle on their join keys;
    supplier and nation broadcast. Generalizes the reference's local-
    supplier constraint (q5 shape, readme.md model chain) from a filter
    into the controller's netting schedule."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_suppkey",
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
        .cast("bigint")
        .alias("cents"),
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    ic = (F.col("c_nationkey") == F.col("s_nationkey")).cast("int")
    return (
        li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
        .withColumn("ic", ic)
        .groupBy(F.col("n_name").alias("entity"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.sum("cents").cast("bigint").alias("gross_cents"),
            F.sum(F.when(F.col("ic") == 1, F.col("cents")).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("intercompany_cents"),
            F.sum(F.when(F.col("ic") == 0, F.col("cents")).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("external_cents"),
        )
        .withColumn(
            "intercompany_ppm",
            F.expr("(intercompany_cents * 1000000) div gross_cents").cast("bigint"),
        )
    )


@query("depreciation_schedule_sl",
    _ORACLES["depreciation_schedule_sl"],
    "§2.4/finance schedules: straight-line depreciation with largest-remainder cent allocation — closed-form per period (div/mod/least on BIGINTs), accum lands on cost exactly at period 36",
)
def q_depreciation_schedule_sl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fixed-asset subledger: every asset (deterministic part
    sample) emits a 36-period straight-line schedule whose cent
    remainders go to the earliest periods (largest-remainder), so the
    final accumulated depreciation equals cost EXACTLY — no drift, no
    plug. Every column is closed-form from (cost_cents, period_no):
    integer div/mod/least, no window, no float; the schedule explodes
    map-side (sequence), so the plan is one scan + one explode at any
    asset-registry size. Companion of loan_amortization_schedule
    (operators/allocation.py) on the asset side of the balance sheet."""
    a = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_partkey") % 7 == 0)
        .select(
            F.col("p_partkey").alias("asset_id"),
            F.round(F.col("p_retailprice") * 100).cast("bigint").alias("cost_cents"),
            F.make_date(
                (F.lit(1995) + F.col("p_partkey") % 3).cast("int"),
                (F.lit(1) + F.col("p_partkey") % 12).cast("int"),
                F.lit(1),
            ).alias("in_service"),
        )
    )
    s = a.select(
        "asset_id",
        "cost_cents",
        "in_service",
        F.explode(F.sequence(F.lit(1), F.lit(36))).alias("__p"),
    ).select("*", F.col("__p").cast("bigint").alias("period_no")).drop("__p")
    per = F.col("period_no")
    base = F.expr("cost_cents div 36")
    rem = F.col("cost_cents") % 36
    accum = base * per + F.least(per, rem)
    return s.select(
        "asset_id",
        "period_no",
        F.add_months("in_service", (per - 1).cast("int")).alias("period_month"),
        "cost_cents",
        (base + F.when(per <= rem, 1).otherwise(0)).cast("bigint").alias("dep_cents"),
        accum.cast("bigint").alias("accum_cents"),
        (F.col("cost_cents") - accum).cast("bigint").alias("nbv_cents"),
    )


@query("segment_migration_matrix",
    _ORACLES["segment_migration_matrix"],
    "A-tier CRM / credit-migration analog: weekly spend-band transition matrix (band 0 = churn) in exact counts + ppm shares over the bounded 4x5 domain",
)
def q_segment_migration_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The migration matrix a lender books expected-loss from and a CRM
    team reads churn from: users banded on exact weekly purchase cents
    (fixed thresholds — no global sort), each user-week transitions
    into the following ISO week's band, absent = band 0 (churn). ONE
    events scan: the next observed week per user comes from a lead()
    window (user-partitioned; weeks per user are calendar-bounded),
    and a lead that is not exactly week+7 IS the churn signal, so no
    self-join and no second scan; the oracle derives the same matrix
    independently via a (user, week+7d) left join. The final week is
    excluded (its future is unobserved) via a 1-row max-week
    broadcast. Counts and ppm shares are exact integers over the
    bounded 4x5 transition domain."""
    from pyspark.sql import Window

    uw = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .groupBy(
            "user_id", F.date_trunc("week", "ts").cast("date").alias("week")
        )
        .agg(F.round(F.sum("value") * 100).cast("bigint").alias("cents"))
    )
    b = uw.select(
        "user_id",
        "week",
        F.when(F.col("cents") < 8000, 1)
        .when(F.col("cents") < 16000, 2)
        .when(F.col("cents") < 32000, 3)
        .otherwise(4)
        .alias("band"),
    )
    mx = uw.agg(F.max("week").alias("maxw"))
    uwin = Window.partitionBy("user_id").orderBy("week")
    t = (
        b.withColumn("__nweek", F.lead("week").over(uwin))
        .withColumn("__nband", F.lead("band").over(uwin))
        .crossJoin(F.broadcast(mx))
        .filter(F.col("week") < F.col("maxw"))
        .select(
            F.col("band").alias("from_band"),
            F.when(F.col("__nweek") == F.date_add("week", 7), F.col("__nband"))
            .otherwise(F.lit(0))
            .alias("to_band"),
        )
    )
    w = Window.partitionBy("from_band")
    return (
        t.groupBy("from_band", "to_band")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
        .withColumn("__tot", F.sum("n_users").over(w))
        .withColumn(
            "share_ppm", F.expr("(n_users * 1000000) div __tot").cast("bigint")
        )
        .drop("__tot")
    )


@query("wilson_ci_return_rates",
    _ORACLES["wilson_ci_return_rates"],
    "§2.6/stats: Wilson 95% score interval per brand return rate — textually shared IEEE formula (WILSON_EXPRS), bit-identical doubles cross-engine with zero rounding",
)
def q_wilson_ci_return_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The interval that belongs next to every small-n rate: Wilson's
    score CI neither collapses at p=0/1 nor escapes [0,1], unlike the
    Wald interval dashboards default to. Counts are one hash aggregate
    over lineitem x broadcast part; the bound formulas are SHARED
    TEXTUALLY with the oracle (oracles.WILSON_EXPRS) — every term an
    IEEE-correctly-rounded op on exact integers, so both engines emit
    bit-identical doubles with no rounding anywhere."""
    from finance_reporting_etl_spark.oracles import WILSON_EXPRS

    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_returnflag")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    g = (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.sum((F.col("l_returnflag") == "R").cast("int"))
            .cast("bigint")
            .alias("r_lines"),
        )
    )
    return g.selectExpr(
        "brand",
        "n_lines",
        "r_lines",
        f"{WILSON_EXPRS['phat']} AS phat",
        f"{WILSON_EXPRS['wilson_lo']} AS wilson_lo",
        f"{WILSON_EXPRS['wilson_hi']} AS wilson_hi",
    )


# ---------------------------------------------------------------------------
# Round-10 wave 37 — classifier agreement, vector drift, graph QA, storage
# ---------------------------------------------------------------------------


def _lang_kappa_oracle() -> str:
    """Cohen's kappa oracle composed over the language-ID oracle body:
    agreement and chance-expected agreement from the same confusion
    cells, cross-multiplied into exact integers; kappa itself is ONE
    double division of exact BIGINTs (bit-equal cross-engine)."""
    return f"""
    WITH g AS ({_lang_oracle()}),
    m AS (
        SELECT lang, lang_guess, CAST(count(*) AS BIGINT) AS n
        FROM g GROUP BY 1, 2
    ),
    tot AS (
        SELECT CAST(sum(n) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN lang = lang_guess THEN n ELSE 0 END)
                    AS BIGINT) AS agree_n
        FROM m
    ),
    rt AS (SELECT lang AS l, CAST(sum(n) AS BIGINT) AS rt FROM m GROUP BY 1),
    gt AS (
        SELECT lang_guess AS l, CAST(sum(n) AS BIGINT) AS gt
        FROM m GROUP BY 1
    ),
    pe AS (
        SELECT CAST(sum(rt.rt * gt.gt) AS BIGINT) AS pe_num
        FROM rt JOIN gt ON gt.l = rt.l
    )
    SELECT n_docs, agree_n, pe_num,
           CAST((agree_n * 1000000) // n_docs AS BIGINT) AS po_ppm,
           CAST((pe_num * 1000000) // (n_docs * n_docs) AS BIGINT) AS pe_ppm,
           CAST(agree_n * n_docs - pe_num AS DOUBLE)
               / nullif(CAST(n_docs * n_docs - pe_num AS DOUBLE), 0.0) AS kappa
    FROM tot, pe
    """


@query("lang_id_agreement_kappa",
    _lang_kappa_oracle(),
    "X4 classifier eval: Cohen's kappa of the marker-lexicon language ID vs declared labels — chance-corrected agreement from exact integer confusion cells; kappa is one double division of BIGINTs",
)
def q_lang_id_agreement_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accuracy flatters an unbalanced classifier; kappa subtracts the
    agreement chance would produce from the same marginals. All
    ingredients — N, observed agreement, the marginal cross-product —
    are exact BIGINTs folded over the bounded (langs x langs+1)
    confusion domain; kappa = (agree*N - pe_num) / (N^2 - pe_num) is a
    single IEEE division both engines evaluate identically. The scalar
    QA gate next to lang_id_confusion_matrix (queries.py wave 34)."""
    from finance_reporting_etl_spark.functions.text import language_guess

    g = _t(spark, sf_dir, "documents").select(
        "lang", language_guess("text").alias("lang_guess")
    )
    m = g.groupBy("lang", "lang_guess").agg(F.count(F.lit(1)).alias("n"))
    tot = m.agg(
        F.sum("n").cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("lang") == F.col("lang_guess"), F.col("n")).otherwise(0))
        .cast("bigint")
        .alias("agree_n"),
    )
    rt = m.groupBy("lang").agg(F.sum("n").cast("bigint").alias("rt"))
    gt = m.groupBy("lang_guess").agg(F.sum("n").cast("bigint").alias("gt"))
    pe = (
        rt.join(gt, rt["lang"] == gt["lang_guess"])
        .agg(F.sum(F.col("rt") * F.col("gt")).cast("bigint").alias("pe_num"))
    )
    return tot.crossJoin(F.broadcast(pe)).selectExpr(
        "n_docs",
        "agree_n",
        "pe_num",
        "CAST((agree_n * 1000000) div n_docs AS BIGINT) AS po_ppm",
        "CAST((pe_num * 1000000) div (n_docs * n_docs) AS BIGINT) AS pe_ppm",
        "CAST(agree_n * n_docs - pe_num AS DOUBLE)"
        " / nullif(CAST(n_docs * n_docs - pe_num AS DOUBLE), 0.0) AS kappa",
    )


@query("quantized_centroid_profile",
    _ORACLES["quantized_centroid_profile"],
    "X3 vector infra: per-(label, dim) centroid of globally-scaled int8 codes vs the global centroid — embedding-drift audit with zero float SUMs (integer sums, single exact divisions)",
)
def q_quantized_centroid_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHICH labels pull WHICH dimensions: per-(label, dim) mean code
    and its delta vs the global centroid, computed on globally-scaled
    int8 codes (the int8_recall_audit convention) so every SUM is an
    order-free exact integer — the float-summation-order class never
    appears. The persisted code table is the oracle contract; output
    lands on the bounded labels x 64 grid. The drift read a curation
    pipeline consults before trusting per-source balance."""
    emb = _t(spark, sf_dir, "embeddings")
    vd = F.transform("embedding", lambda x: x.cast("double"))
    withv = emb.select("vec_id", "label", vd.alias("vd"))
    gmax = withv.agg(F.max(F.array_max(F.transform("vd", F.abs))).alias("gmax"))
    codes = _persist_aux(
        spark,
        withv.crossJoin(F.broadcast(gmax)).select(
            "vec_id",
            "label",
            F.transform(
                "vd",
                lambda x: F.round(x * (F.lit(127.0) / F.col("gmax"))).cast("bigint"),
            ).alias("codes"),
        ),
        "centroid_codes",
    )
    x = codes.select(
        "label", F.posexplode("codes").alias("dim", "code")
    ).select(F.col("label"), F.col("dim").cast("bigint").alias("dim"), "code")
    g = x.groupBy("label", "dim").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        F.sum("code").cast("bigint").alias("sum_code"),
    )
    gl = x.groupBy("dim").agg(
        F.count(F.lit(1)).cast("bigint").alias("gn"),
        F.sum("code").cast("bigint").alias("gsum"),
    )
    return (
        g.join(F.broadcast(gl), "dim")
        .selectExpr(
            "label",
            "dim",
            "n_vecs",
            "sum_code",
            "CAST(sum_code AS DOUBLE) / CAST(n_vecs AS DOUBLE) AS mean_code",
            "CAST(sum_code * gn - gsum * n_vecs AS DOUBLE)"
            " / CAST(n_vecs * gn AS DOUBLE) AS delta_vs_global",
        )
    )


def _lsh_candidate_scores(
    spark: SparkSession, sf_dir: str, bucket_aux: str
) -> DataFrame:
    """Persisted hyperplane band-bucket index -> distinct candidate
    pairs (equi-joins, never all-pairs) -> Arrow-batched det_round(6)
    cosine with the house id-tiebreak ranking convention
    (operators/similarity.py topk_from_buckets). Shared by
    knn_graph_reciprocity and hnsw_layer_reciprocity so the convention
    lives once; each caller's DuckDB oracle re-derives this whole
    pipeline in SQL from the persisted bucket table. Arrow-batched
    cosine because the Catalyst form runs three interpreted array
    passes per row — ~10x too slow for the millions of LSH candidate
    pairs here; its sequential fold is bit-identical to the oracle's
    ``list_dot_product`` (functions/vectors.py)."""
    from finance_reporting_etl_spark.functions.vectors import cosine_arrow
    from finance_reporting_etl_spark.operators.similarity import (
        hyperplane_buckets,
    )

    emb = _t(spark, sf_dir, "embeddings")
    buckets = _persist_aux(
        spark,
        hyperplane_buckets(emb, n_planes=4, n_tables=8),
        bucket_aux,
    )
    b2 = buckets.withColumnsRenamed({"id": "dst"})
    # The bucket self-join's candidate set is a symmetric closure and
    # cosine is symmetric (the fold hits identical IEEE ops in either
    # argument order), so score each unordered pair ONCE
    # (src < dst) and mirror: halves the distinct shuffle, the two
    # vector joins, and the Arrow pair traffic. localCheckpoint
    # materializes the half before the union so the mirror branch
    # reads blocks instead of recomputing the scoring subtree.
    cand = (
        buckets.withColumnRenamed("id", "src")
        .join(b2, ["tbl", "bucket"])
        .filter(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    vecs = emb.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    sv = vecs.withColumnsRenamed({"vec_id": "src", "v": "sv"})
    dv = vecs.withColumnsRenamed({"vec_id": "dst", "v": "dv"})
    cos = cosine_arrow()
    half = (
        cand.join(sv, "src")
        .join(dv, "dst")
        .withColumn("score", det_round(cos(F.col("sv"), F.col("dv")), 6))
        .select("src", "dst", "score")
        .localCheckpoint(eager=True)
    )
    return half.unionByName(
        half.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "score"
        )
    )


@query("knn_graph_reciprocity",
    _ORACLES["knn_graph_reciprocity"],
    "X3 ANN QA: mutual-kNN reciprocity at k=1/5/10 over the persisted LSH candidate graph — the symmetry census behind graph-based ANN (HNSW-style) quality; exact integer counters only",
)
def q_knn_graph_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOW symmetric is the neighborhood graph: an edge a->b in the
    LSH-candidate top-k that b does not reciprocate is exactly where
    graph-based ANN search loses recall. Candidates and det-rounded
    cosine come from the shared _lsh_candidate_scores pipeline; the
    emitted census is pure exact integers — edges, mutual edges,
    reciprocity ppm at k = 1, 5, 10 in one row."""
    from pyspark.sql import Window

    scored = _lsh_candidate_scores(spark, sf_dir, "knn_graph_buckets")
    w = Window.partitionBy("src").orderBy(F.col("score").desc(), F.col("dst").asc())
    tk = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("src", "dst", "rank")
    )
    rev = tk.select(
        F.col("dst").alias("src"),
        F.col("src").alias("dst"),
        F.col("rank").alias("rrank"),
    )
    j = tk.join(rev, ["src", "dst"], "left").select("rank", "rrank")
    aggs = []
    for k in (1, 5, 10):
        aggs += [
            F.sum((F.col("rank") <= k).cast("int")).cast("bigint").alias(f"edges_{k}"),
            F.sum(((F.col("rank") <= k) & (F.col("rrank") <= k)).cast("int"))
            .cast("bigint")
            .alias(f"mutual_{k}"),
        ]
    out = j.agg(*aggs)
    for k in (1, 5, 10):
        out = out.withColumn(
            f"recip_ppm_{k}",
            F.expr(f"(mutual_{k} * 1000000) div edges_{k}").cast("bigint"),
        )
    return out.select(
        "edges_1", "mutual_1", "recip_ppm_1",
        "edges_5", "mutual_5", "recip_ppm_5",
        "edges_10", "mutual_10", "recip_ppm_10",
    )


@query("delta_encoding_savings",
    _ORACLES["delta_encoding_savings"],
    "S-tier storage planning: zigzag delta-encoding byte audit per column over 1024-key blocks — bit-widths from len(bin(z)), exact integer bytes and ppm ratio",
)
def q_delta_encoding_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHAT delta encoding would buy per column before committing a
    100-TB table's parquet encodings: within 1024-key blocks, deltas
    against the previous key-ordered value, zigzag-mapped to
    non-negative ints, max bit-width per block via len(bin(z)) (exact
    in both engines), block bytes = ceil(n*maxbits/8) + an 8-byte
    base. A sorted key costs ~1 bit/row; a shuffled foreign key or a
    price column pays near-plain cost — the audit quantifies both.
    One scan (stack unpivot), block-partitioned lag windows (never
    global), all-integer arithmetic."""
    from pyspark.sql import Window

    base = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderkey").cast("bigint").alias("v_key"),
        F.col("o_custkey").cast("bigint").alias("v_cust"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("v_price"),
    )
    c = base.selectExpr(
        "k",
        "stack(3, 'v_key', v_key, 'v_cust', v_cust, 'v_price', v_price)"
        " AS (col_name, val)",
    )
    w = Window.partitionBy("col_name", "block").orderBy("k")
    d = c.withColumn("block", F.expr("k div 1024")).withColumn(
        "delta", F.col("val") - F.lag("val").over(w)
    )
    zz = (
        F.when(F.col("delta").isNull(), F.lit(0))
        .when(F.col("delta") >= 0, 2 * F.col("delta"))
        .otherwise(-2 * F.col("delta") - 1)
    )
    bl = (
        d.withColumn("zz", zz)
        .groupBy("col_name", "block")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.max(F.length(F.bin("zz"))).cast("bigint").alias("maxbits"),
        )
    )
    return bl.groupBy("col_name").agg(
        F.sum("n").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
        (F.sum("n") * 8).cast("bigint").alias("plain_bytes"),
        F.sum(F.expr("(n * maxbits + 7) div 8 + 8")).cast("bigint").alias(
            "delta_bytes"
        ),
        F.expr(
            "CAST(sum((n * maxbits + 7) div 8 + 8) * 1000000"
            " div (sum(n) * 8) AS BIGINT)"
        ).alias("ratio_ppm"),
    )


# ---------------------------------------------------------------------------
# Round-10 wave 38 — blocking audit, NDV sampling, privacy ladder, streaming
# ---------------------------------------------------------------------------


@query("blocking_recall_audit",
    _ORACLES["blocking_recall_audit"],
    "X-tier ER QA: candidate-count vs recall audit across blocking keys (tail-4/tail-3/mid-4) — measures the n^2-funnel failure mode entity_resolution_blocked's key choice avoids; exact integers",
)
def q_blocking_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-key choice IS the scale game in entity resolution
    (entity_resolution_blocked, queries.py:3630): this audit measures
    it instead of asserting it. For each key config, the candidate
    pairs the key funnels into the verifier and whether the TRUE match
    survives blocking: tail-4/tail-3 are recall-complete for the
    deletion corruption class (the deleted char sits left of the
    window) at ~1.5 / ~15 candidates per query; the fixed mid-4 window
    reads SHIFTED content after a deletion — it loses most true pairs
    AND funnels ~1000x more candidates, the double failure a blocking
    audit must catch before deployment. Three key-equi-joins (never
    all-pairs), one census row each."""
    cust = _t(spark, sf_dir, "customer")
    q = cust.select(
        F.col("c_custkey").alias("query_id"),
        F.expr(
            "concat(substr(c_name, 1, 9 + (c_custkey % 4)),"
            " substr(c_name, 11 + (c_custkey % 4), 18))"
        ).alias("q_name"),
    )
    r = cust.select(F.col("c_custkey").alias("ref_id"), F.col("c_name").alias("r_name"))
    nq = q.agg(F.count(F.lit(1)).cast("bigint").alias("n_queries"))
    configs = [
        ("tail4", "right(q_name, 4)", "right(r_name, 4)"),
        ("tail3", "right(q_name, 3)", "right(r_name, 3)"),
        ("mid4", "substr(q_name, 12, 4)", "substr(r_name, 12, 4)"),
    ]
    outs = []
    for name, qk, rk in configs:
        pairs = q.withColumn("__k", F.expr(qk)).join(
            r.withColumn("__k", F.expr(rk)), "__k"
        )
        outs.append(
            pairs.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_cand_pairs"),
                F.sum((F.col("query_id") == F.col("ref_id")).cast("int"))
                .cast("bigint")
                .alias("n_true_blocked"),
            )
            .crossJoin(F.broadcast(nq))
            .selectExpr(
                f"'{name}' AS config",
                "n_queries",
                "n_cand_pairs",
                "n_true_blocked",
                "CAST(n_true_blocked * 1000000 div n_queries AS BIGINT)"
                " AS recall_ppm",
                "CAST(n_cand_pairs * 1000000 div n_queries AS BIGINT)"
                " AS pairs_per_query_ppm",
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


@query("chao1_ndv_estimate",
    _ORACLES["chao1_ndv_estimate"],
    "S-tier catalog statistics: Chao1 capture-recapture NDV estimate from a deterministic ~10% md5 row sample vs exact distinct count, per column — the ANALYZE-at-100TB sampling question; exact ints + single IEEE divisions",
)
def q_chao1_ndv_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CAN a 10% sample predict a column's cardinality: Chao1's
    capture-recapture estimator (d + f1(f1-1)/(2(f2+1))) from the
    sample's singleton/doubleton census, next to the exact NDV. A
    dense key (l_orderkey: every value repeats ~4x) estimates well; a
    sparse domain scans differently — the audit shows WHICH columns
    a cost-based optimizer may sample and which it must count. One
    stack-unpivoted scan for the sample census + one scan for exact
    NDVs; the md5 row-bucket is the house deterministic sampler
    (operators/corpus.md5_bucket, bit-identical in the oracle)."""
    from finance_reporting_etl_spark.operators.corpus import md5_bucket

    li = _t(spark, sf_dir, "lineitem").select(
        F.concat(
            F.col("l_orderkey").cast("string"),
            F.lit("-"),
            F.col("l_linenumber").cast("string"),
        ).alias("rk"),
        F.col("l_partkey").cast("bigint").alias("l_partkey"),
        F.col("l_suppkey").cast("bigint").alias("l_suppkey"),
        F.col("l_orderkey").cast("bigint").alias("l_orderkey"),
    )
    c = li.selectExpr(
        "rk",
        "stack(3, 'l_partkey', l_partkey, 'l_suppkey', l_suppkey,"
        " 'l_orderkey', l_orderkey) AS (col_name, val)",
    )
    samp = c.filter(md5_bucket("rk", 256, salt="chao1") < 26)
    vc = samp.groupBy("col_name", "val").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    stats = vc.groupBy("col_name").agg(
        F.sum("n").cast("bigint").alias("n_sample_rows"),
        F.count(F.lit(1)).cast("bigint").alias("d_sample"),
        F.sum((F.col("n") == 1).cast("int")).cast("bigint").alias("f1"),
        F.sum((F.col("n") == 2).cast("int")).cast("bigint").alias("f2"),
    )
    ex = c.groupBy("col_name").agg(
        F.countDistinct("val").cast("bigint").alias("exact_ndv")
    )
    return stats.join(F.broadcast(ex), "col_name").selectExpr(
        "col_name",
        "n_sample_rows",
        "d_sample",
        "f1",
        "f2",
        "exact_ndv",
        "CAST(d_sample AS DOUBLE)"
        " + CAST(f1 * (f1 - 1) AS DOUBLE) / CAST(2 * (f2 + 1) AS DOUBLE)"
        " AS chao1_est",
        "(CAST(d_sample AS DOUBLE)"
        " + CAST(f1 * (f1 - 1) AS DOUBLE) / CAST(2 * (f2 + 1) AS DOUBLE))"
        " / CAST(exact_ndv AS DOUBLE) AS est_ratio",
    )


@query("k_anon_generalization_sweep",
    _ORACLES["k_anon_generalization_sweep"],
    "O-tier privacy engineering: k-anonymity suppression cost across a QI generalization ladder (4 levels x k=5/25) — the utility-vs-privacy curve before choosing an export schema; exact integer census",
)
def q_k_anon_generalization_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOW MUCH generalization buys: at each coarsening of the
    quasi-identifier tuple — fine balance bands, coarse bands, drop
    balance, drop nation — the rows k-anonymity suppression (k=5, 25)
    would destroy. Complements k_anonymity_suppress (which applies ONE
    policy) with the curve a privacy engineer reads to PICK the
    policy. One bounded-domain aggregate per level on the customer
    dim; both k thresholds come from the same group census. Balance
    bands floor an exact-cents double division both engines evaluate
    identically."""
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_mktsegment").alias("seg"),
        F.col("c_nationkey").alias("nat"),
        F.expr(
            "CAST(floor(CAST(CAST(round(c_acctbal * 100) AS BIGINT)"
            " AS DOUBLE) / 10000.0) AS BIGINT)"
        ).alias("bal_fine"),
        F.expr(
            "CAST(floor(CAST(CAST(round(c_acctbal * 100) AS BIGINT)"
            " AS DOUBLE) / 100000.0) AS BIGINT)"
        ).alias("bal_coarse"),
    )
    levels = [
        ("L0_seg_nat_bal100", ["seg", "nat", "bal_fine"]),
        ("L1_seg_nat_bal1000", ["seg", "nat", "bal_coarse"]),
        ("L2_seg_nat", ["seg", "nat"]),
        ("L3_seg", ["seg"]),
    ]
    outs = []
    for label, qi in levels:
        g = c.groupBy(*qi).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        lv = g.select(F.lit(label).alias("level"), "n").crossJoin(
            F.broadcast(
                spark.range(1).selectExpr("stack(2, 5, 25) AS (k)")
            )
        )
        outs.append(
            lv.groupBy("level", F.col("k").cast("bigint").alias("k")).agg(
                F.sum("n").cast("bigint").alias("n_rows"),
                F.count(F.lit(1)).cast("bigint").alias("n_groups"),
                F.sum(F.when(F.col("n") < F.col("k"), F.col("n")).otherwise(0))
                .cast("bigint")
                .alias("suppressed_rows"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.withColumn(
        "suppressed_ppm",
        F.expr("(suppressed_rows * 1000000) div n_rows").cast("bigint"),
    )


@query("streaming_intercompany_elimination",
    _ORACLES["intercompany_elimination"],
    "§2.8 x §2.4 continuous consolidation: lineitem micro-batches fold per-entity gross/intercompany integer partials through foreachBatch against static dims == the batch elimination mart (SHARED oracle proves it)",
)
def q_streaming_intercompany_elimination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CONTINUOUS form of intercompany_elimination: revenue lines
    arrive as a stream and each micro-batch joins the static dimension
    tables and posts per-entity integer partials (n, gross,
    intercompany cents) via foreachBatch. Integer partials are
    order-free mergeable, so the merged mart is bit-identical to the
    one-shot batch mart no matter where micro-batch boundaries fall —
    the SHARED oracle proves it. Replayed as 3 micro-batches; the ppm
    share is applied once at read-back (never folded)."""
    from finance_reporting_etl_spark.streaming.staging import replay_partials

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cst = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    # pre-join the static order->customer-nation dimension ONCE outside
    # the replay (plain join reordering, exact equi-keys): each of the
    # 3 micro-batches previously re-ran the orders-customer join; now a
    # batch pays one narrow (o_orderkey, c_nationkey) attach. persist +
    # unpersist brackets the replay, so no blocks outlive the query.
    odim = o.join(cst, F.col("c_custkey") == F.col("o_custkey")).select(
        "o_orderkey", "c_nationkey"
    ).persist()

    def batch_agg(batch: DataFrame) -> DataFrame:
        li = batch.select(
            "l_orderkey",
            "l_suppkey",
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
            .cast("bigint")
            .alias("cents"),
        )
        return (
            li.join(odim, F.col("o_orderkey") == F.col("l_orderkey"))
            .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
            .join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
            .withColumn(
                "ic", (F.col("c_nationkey") == F.col("s_nationkey")).cast("int")
            )
            .groupBy(F.col("n_name").alias("entity"))
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n"),
                F.sum("cents").cast("bigint").alias("g"),
                F.sum(F.when(F.col("ic") == 1, F.col("cents")).otherwise(F.lit(0)))
                .cast("bigint")
                .alias("icents"),
            )
        )

    out = replay_partials(
        spark,
        # stage only the four columns the fold reads (guide: project
        # before the exchange — the other 12 lineitem columns were
        # written and re-read by every micro-batch for nothing)
        lambda src: _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
        .repartition(3)
        .write.parquet(src),
        batch_agg,
        lambda partials: partials
        .groupBy("entity")
        .agg(
            F.sum("n").cast("bigint").alias("n_lines"),
            F.sum("g").cast("bigint").alias("gross_cents"),
            F.sum("icents").cast("bigint").alias("intercompany_cents"),
        )
        .withColumn(
            "external_cents",
            (F.col("gross_cents") - F.col("intercompany_cents")).cast("bigint"),
        )
        .withColumn(
            "intercompany_ppm",
            F.expr("(intercompany_cents * 1000000) div gross_cents").cast("bigint"),
        )
        .select(
            "entity", "n_lines", "gross_cents", "intercompany_cents",
            "external_cents", "intercompany_ppm",
        ),
        "streaming_intercompany_elimination",
    )
    odim.unpersist()
    return out


# ---------------------------------------------------------------------------
# Round-10 wave 39 — IVF tuning sweep, tokenizer health, mixing temperature
# ---------------------------------------------------------------------------


def _ivf_sweep_oracle() -> str:
    """nprobe-sweep oracle: truth and every per-nprobe retrieval are
    re-derived in SQL from the SAME persisted index + single RANKED
    probe table (rank-p probes are a prefix of rank-8 probes and a
    candidate lives in exactly one cell, so each sweep point is a
    probe_rank <= p filter over one scored CTE), with the house
    det_round(6) + id-tiebreak ranking convention."""
    from finance_reporting_etl_spark.functions.scalars import det_round_sql

    cos = (
        "list_dot_product(se.v, de.v)"
        " / nullif(sqrt(list_dot_product(se.v, se.v))"
        " * sqrt(list_dot_product(de.v, de.v)), 0)"
    )
    qcos = (
        "list_dot_product(q.qv, e.v)"
        " / nullif(sqrt(list_dot_product(q.qv, q.qv))"
        " * sqrt(list_dot_product(e.v, e.v)), 0)"
    )
    ctes = [
        "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
        "q AS (SELECT vec_id AS query_id, v AS qv FROM e"
        " WHERE vec_id IN (0, 1, 2, 3, 4))",
        f"sc AS (SELECT query_id, e.vec_id AS neighbor_id,"
        f" {det_round_sql(qcos, 6)} AS score"
        f" FROM e CROSS JOIN q WHERE e.vec_id <> query_id)",
        "truth AS (SELECT query_id, neighbor_id FROM ("
        "SELECT query_id, neighbor_id, row_number() OVER ("
        "PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS r"
        " FROM sc) WHERE r <= 10)",
        "tn AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM truth)",
        f"idx AS (SELECT * FROM '{_AUX_DIR}/ivf_sweep_index/*.parquet')",
        f"pb AS (SELECT * FROM '{_AUX_DIR}/ivf_sweep_probes/*.parquet')",
        "cd AS (SELECT pq.query_id, i.id AS neighbor_id, pq.probe_rank"
        " FROM idx i JOIN pb pq ON pq.cell = i.cell"
        " WHERE i.id <> pq.query_id)",
        f"sc8 AS (SELECT c.query_id, c.neighbor_id, c.probe_rank,"
        f" {det_round_sql(cos, 6)} AS score"
        f" FROM cd c JOIN e se ON se.vec_id = c.query_id"
        f" JOIN e de ON de.vec_id = c.neighbor_id)",
    ]
    selects = []
    for p in (1, 2, 4, 8):
        ctes.append(
            f"rt{p} AS (SELECT query_id, neighbor_id FROM ("
            f"SELECT query_id, neighbor_id, row_number() OVER ("
            f"PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC)"
            f" AS r FROM sc8 WHERE probe_rank <= {p}) WHERE r <= 10)"
        )
        selects.append(
            f"SELECT CAST({p} AS BIGINT) AS nprobe,"
            f" (SELECT CAST(count(*) AS BIGINT) FROM cd"
            f"  WHERE probe_rank <= {p}) AS n_candidates,"
            f" (SELECT CAST(count(*) AS BIGINT) FROM rt{p} r"
            f"  JOIN truth t ON t.query_id = r.query_id"
            f"  AND t.neighbor_id = r.neighbor_id) AS hits,"
            f" CAST((SELECT count(*) FROM rt{p} r"
            f"  JOIN truth t ON t.query_id = r.query_id"
            f"  AND t.neighbor_id = r.neighbor_id) * 1000000"
            f"  // (SELECT n_truth FROM tn) AS BIGINT) AS recall_ppm"
        )
    return "WITH " + ",\n    ".join(ctes) + "\n" + "\nUNION ALL\n".join(selects)


@query("ann_ivf_nprobe_sweep",
    _ivf_sweep_oracle(),
    "X3 ANN tuning: IVF recall@10 vs candidate cost at nprobe=1/2/4/8 from ONE persisted index + ONE ranked probe table — the S-curve every IVF deployment tunes (the lsh_band_sweep analog for cell probing); exact integer census",
)
def q_ann_ivf_nprobe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHICH nprobe buys enough recall: the cells probed per query set
    both the scan cost (candidates) and the recall ceiling; this sweep
    measures the whole curve from ONE persisted index — the tuning
    artifact an IVF deployment pins before serving, sibling of
    lsh_band_sweep_recall (banding S-curve). Truth is exact brute
    force over the 5 fixture queries (1-row count pinned once via
    localCheckpoint so no union leg re-runs it).

    Sweep shape (the semantic_decontamination_recall redesign applied
    at the source): rank-p probes are a PREFIX of rank-8 probes and a
    candidate lives in exactly ONE cell, so each (query, neighbor)
    pair has a single probe_rank — ONE ranked probe table, ONE cell
    join, ONE cosine pass, and the four sweep points are rank-prefix
    filters + rank windows over that single scored frame (the
    4-independent-legs shape re-scored everything per nprobe).
    Output: 4 rows of exact integers."""
    from pyspark.sql import Window

    from finance_reporting_etl_spark.functions.vectors import cosine
    from finance_reporting_etl_spark.operators.similarity import (
        brute_force_topk,
        ivf_index,
        ivf_probes_ranked,
    )

    emb = _t(spark, sf_dir, "embeddings")
    qids = [0, 1, 2, 3, 4]
    index = _persist_aux(spark, ivf_index(emb), "ivf_sweep_index")
    # the 50-row truth table feeds the count AND all four per-nprobe
    # hits joins — pin it once (the old shape re-ran the brute-force
    # scoring pass per sweep point, 4x)
    truth = (
        brute_force_topk(emb, qids, k=10)
        .select("query_id", "neighbor_id")
        .localCheckpoint()
    )
    tn = (
        truth.agg(F.count(F.lit(1)).cast("bigint").alias("n_truth"))
        .localCheckpoint()
    )
    probes = _persist_aux(
        spark,
        ivf_probes_ranked(emb.filter(F.col("vec_id").isin(qids)), nprobe=8),
        "ivf_sweep_probes",
    )
    vecs = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("v"))
    qv = vecs.withColumnsRenamed({"id": "query_id", "v": "q_vec"}).join(
        F.broadcast(probes.select("query_id").distinct()), "query_id"
    )
    cv = vecs.withColumnsRenamed({"id": "neighbor_id", "v": "c_vec"})
    scored = (
        index.withColumnRenamed("id", "neighbor_id")
        .join(F.broadcast(probes), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "probe_rank")
        .join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .withColumn("score", det_round(cosine("q_vec", "c_vec"), 6))
        .select("query_id", "neighbor_id", "probe_rank", "score")
        # four rank windows and four candidate counts read this frame —
        # pin it once so the scoring join chain runs a single time
        .localCheckpoint()
    )
    outs = []
    for p in (1, 2, 4, 8):
        leg = scored.filter(F.col("probe_rank") <= p)
        nc = leg.agg(F.count(F.lit(1)).cast("bigint").alias("n_candidates"))
        w = Window.partitionBy("query_id").orderBy(
            F.col("score").desc(), F.col("neighbor_id").asc()
        )
        retrieved = (
            leg.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 10)
            .select("query_id", "neighbor_id")
        )
        hits = retrieved.join(truth, ["query_id", "neighbor_id"]).agg(
            F.count(F.lit(1)).cast("bigint").alias("hits")
        )
        outs.append(
            nc.crossJoin(F.broadcast(hits))
            .crossJoin(F.broadcast(tn))
            .selectExpr(
                f"CAST({p} AS BIGINT) AS nprobe",
                "n_candidates",
                "hits",
                "CAST(hits * 1000000 div n_truth AS BIGINT) AS recall_ppm",
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


@query("oov_rate_by_source",
    _ORACLES["oov_rate_by_source"],
    "X4 tokenizer health: per-source out-of-vocabulary token rate against the deterministic top-20 corpus vocabulary — which sources a fixed tokenizer underserves; exact integer census",
)
def q_oov_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHO speaks outside the vocabulary: after fitting a top-k
    vocabulary on the whole corpus (count DESC, token ASC — the
    corpus_vocabulary cut), each source's share of tokens falling
    outside it. High OOV marks the sources a fixed tokenizer will
    fragment into bytes — the health check before committing a vocab.
    One explode + map-side-combined count for the vocabulary (top-k,
    no global sort), one broadcast anti-flag pass for the census."""
    from finance_reporting_etl_spark.functions.text import whitespace_tokens

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        F.explode(whitespace_tokens(F.lower(F.col("text")))).alias("token"),
    )
    vocab = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "token")
        .limit(20)
        .select("token", F.lit(1).alias("__in_vocab"))
    )
    return (
        toks.join(F.broadcast(vocab), "token", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum(F.when(F.col("__in_vocab").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("oov_tokens"),
        )
        .withColumn(
            "oov_ppm",
            F.expr("(oov_tokens * 1000000) div n_tokens").cast("bigint"),
        )
    )


@query("mixture_temperature_sweep",
    _ORACLES["mixture_temperature_sweep"],
    "X-pipeline mixing: sampling-temperature sweep (n^tau, tau=0.25/0.5/1.0) over language sizes — exact integer milli-weights (floored sqrt chains), shares and tail boosts in exact ppm",
)
def q_mixture_temperature_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE multilingual mixing knob: sampling languages proportional
    to n^tau with tau < 1 upsamples the tail (the mT5/XLM-R recipe).
    Weights are realized as exact integer milli-units — floor of a
    correctly-rounded sqrt chain is bit-equal cross-engine, and tau
    only takes values expressible as sqrt compositions (1, 1/2, 1/4),
    so no libm pow ever runs. Shares and the effective boost vs
    proportional sampling are exact integer ppm over the bounded
    (tau x languages) domain; complements mixture_rebalance_to_target
    (which APPLIES one mixture) with the curve used to CHOOSE it."""
    g = (
        _t(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )
    w1 = g.selectExpr(
        "'1.0' AS tau", "lang", "n_docs",
        "CAST(n_docs * 1000 AS BIGINT) AS weight_milli",
    )
    w05 = g.selectExpr(
        "'0.5' AS tau", "lang", "n_docs",
        "CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000.0) AS BIGINT)"
        " AS weight_milli",
    )
    w025 = g.selectExpr(
        "'0.25' AS tau", "lang", "n_docs",
        "CAST(floor(sqrt(sqrt(CAST(n_docs AS DOUBLE))) * 1000.0) AS BIGINT)"
        " AS weight_milli",
    )
    from pyspark.sql import Window

    wt = Window.partitionBy("tau")
    return (
        w1.unionByName(w05)
        .unionByName(w025)
        .withColumn("__wsum", F.sum("weight_milli").over(wt))
        .withColumn("__nsum", F.sum("n_docs").over(wt))
        .selectExpr(
            "tau", "lang", "n_docs", "weight_milli",
            "CAST(weight_milli * 1000000 div __wsum AS BIGINT) AS share_ppm",
            "CAST(weight_milli * __nsum * 1000000"
            " div (__wsum * n_docs) AS BIGINT) AS boost_ppm",
        )
    )


# ---------------------------------------------------------------------------
# Round-10 wave 40 — KMV sketch NDV, quantized covariance screen
# ---------------------------------------------------------------------------


def _kmv_hashed(keys: DataFrame) -> DataFrame:
    """(col_name, val, h32): the distinct values of the three lineitem
    key columns, each hashed to a deterministic 32-bit uniform (md5 of
    the value + 'kmv')."""
    c = keys.selectExpr(
        "CAST(l_partkey AS BIGINT) AS l_partkey",
        "CAST(l_suppkey AS BIGINT) AS l_suppkey",
        "CAST(l_orderkey AS BIGINT) AS l_orderkey",
    ).selectExpr(
        "stack(3, 'l_partkey', l_partkey, 'l_suppkey', l_suppkey,"
        " 'l_orderkey', l_orderkey) AS (col_name, val)"
    ).distinct()
    h32 = F.conv(
        F.substring(F.md5(F.concat(F.col("val").cast("string"), F.lit("kmv"))), 1, 8),
        16,
        10,
    ).cast("bigint")
    return c.withColumn("h32", h32)


def _kmv_exact_ndv(hashed: DataFrame) -> DataFrame:
    """(col_name, exact_ndv) over a ``_kmv_hashed`` frame."""
    return hashed.groupBy("col_name").agg(
        F.count(F.lit(1)).cast("bigint").alias("exact_ndv")
    )


def _kmv_estimate(sketch: DataFrame, exact: DataFrame) -> DataFrame:
    """(col_name, k, kth_hash) sketches + exact NDVs -> the estimator
    rows. A column with fewer distincts than k never fills the sketch
    (the sketch IS the exact answer there); emit only filled sketches,
    the same cut the oracle's rank-64 row makes."""
    return (
        sketch.join(F.broadcast(exact), "col_name")
        .filter(F.col("exact_ndv") >= 64)
        .selectExpr(
            "col_name",
            "k",
            "kth_hash",
            "63.0 * 4294967296.0 / (CAST(kth_hash AS DOUBLE) + 0.5) AS kmv_est",
            "exact_ndv",
            "63.0 * 4294967296.0 / (CAST(kth_hash AS DOUBLE) + 0.5)"
            " / CAST(exact_ndv AS DOUBLE) AS est_ratio",
        )
    )


@query("kmv_ndv_estimate",
    _ORACLES["kmv_ndv_estimate"],
    "S-tier catalog statistics: KMV (k-minimum-values) sketch NDV estimate vs exact distinct count per column — deterministic md5 hashing, bottom-64 via TakeOrderedAndProject, estimator one IEEE division of exact integers",
)
def q_kmv_ndv_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OTHER way to count distincts cheaply: hash every distinct
    value to a 32-bit uniform and keep the k=64 smallest — the k-th
    order statistic estimates NDV as (k-1)/u_k, and the sketch is
    MERGEABLE (union = min-merge of two bottom-k sets), which is what
    makes it a shuffle-free distributed statistic at 100 TB.
    Deterministic md5 makes both engines hold bit-identical sketches;
    the bottom-64 cut is TakeOrderedAndProject per column (no global
    sort). Companion of chao1_ndv_estimate — hashing sketch vs
    capture-recapture sampling against the same exact yardstick."""
    hashed = _kmv_hashed(_t(spark, sf_dir, "lineitem"))
    outs = []
    for col in ("l_partkey", "l_suppkey", "l_orderkey"):
        bottom = (
            hashed.filter(F.col("col_name") == col)
            .orderBy(F.asc("h32"), F.asc("val"))
            .limit(64)
        )
        outs.append(
            bottom.agg(
                F.max("h32").cast("bigint").alias("kth_hash"),
            ).selectExpr(f"'{col}' AS col_name", "CAST(64 AS BIGINT) AS k", "kth_hash")
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return _kmv_estimate(out, _kmv_exact_ndv(hashed))


@query("quantized_covariance_topk",
    _ORACLES["quantized_covariance_topk"],
    "X3 vector infra: top-32 most-coupled dimension pairs by exact integer cross-moment over globally-scaled int8 codes — the whitening/PCA-prep screen with zero float arithmetic before display",
)
def q_quantized_covariance_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHICH dimensions move together: for every pair i<j the
    covariance numerator N*S_ij - S_i*S_j over int8 codes is an exact
    BIGINT (codes are small ints; the global symmetric scale is the
    int8_recall_audit convention), so the top-32 coupled pairs rank
    bit-deterministically — the screen run before whitening or PCA
    (pca_embedding_projection) to know if rotation is even needed.
    The pair explosion is a vec_id-keyed self-join of the exploded
    code table (64 dims -> 2016 pairs/vector), aggregated to the
    bounded 2016-pair domain; top-32 is TakeOrderedAndProject."""
    emb = _t(spark, sf_dir, "embeddings")
    vd = F.transform("embedding", lambda x: x.cast("double"))
    withv = emb.select("vec_id", vd.alias("vd"))
    gmax = withv.agg(F.max(F.array_max(F.transform("vd", F.abs))).alias("gmax"))
    codes = _persist_aux(
        spark,
        withv.crossJoin(F.broadcast(gmax)).select(
            "vec_id",
            F.transform(
                "vd",
                lambda x: F.round(x * (F.lit(127.0) / F.col("gmax"))).cast("bigint"),
            ).alias("codes"),
        ),
        "cov_codes",
    )
    nv = codes.agg(F.count(F.lit(1)).cast("bigint").alias("nv"))
    x = codes.select(
        "vec_id", F.posexplode("codes").alias("dim", "code")
    ).select("vec_id", F.col("dim").cast("bigint").alias("dim"), "code")
    s = x.groupBy("dim").agg(F.sum("code").cast("bigint").alias("sd"))
    b = x.select(
        F.col("vec_id").alias("b_vec"),
        F.col("dim").alias("dim_j"),
        F.col("code").alias("code_j"),
    )
    p = (
        x.join(
            b,
            (F.col("b_vec") == F.col("vec_id")) & (F.col("dim_j") > F.col("dim")),
        )
        .groupBy(F.col("dim").alias("dim_i"), "dim_j")
        .agg(F.sum(F.col("code") * F.col("code_j")).cast("bigint").alias("sij"))
    )
    si = s.select(F.col("dim").alias("dim_i"), F.col("sd").alias("si"))
    sj = s.select(F.col("dim").alias("dim_j"), F.col("sd").alias("sj"))
    cv = (
        p.join(F.broadcast(si), "dim_i")
        .join(F.broadcast(sj), "dim_j")
        .crossJoin(F.broadcast(nv))
        .select(
            "dim_i",
            "dim_j",
            (F.col("nv") * F.col("sij") - F.col("si") * F.col("sj"))
            .cast("bigint")
            .alias("cov_num"),
            "nv",
        )
    )
    return (
        cv.orderBy(F.abs(F.col("cov_num")).desc(), "dim_i", "dim_j")
        .limit(32)
        .selectExpr(
            "dim_i",
            "dim_j",
            "cov_num",
            "CAST(cov_num AS DOUBLE) / CAST(nv * nv AS DOUBLE) AS cov_codes",
        )
    )


# ---------------------------------------------------------------------------
# Round-10 wave 41 — dispersion stats, control charts, streaming sketches
# ---------------------------------------------------------------------------


@query("order_lines_dispersion",
    _ORACLES["order_lines_dispersion"],
    "§2.6/stats: index of dispersion for lines-per-order (var/mean from exact integer moments) — the Poissonness check before modeling order sizes; single IEEE expression over BIGINTs",
)
def q_order_lines_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IS lines-per-order Poisson: the index of dispersion var/mean
    equals 1 under Poisson arrivals; over/under-dispersion changes
    which model (negative binomial / binomial) a demand planner fits.
    Moments n, sum(x), sum(x^2) are exact BIGINTs from one hash
    aggregate (x <= line cap, no overflow anywhere); the statistic is
    one shared-text IEEE expression both engines evaluate bit-equal."""
    x = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).cast("bigint").alias("lines"))
    )
    m = x.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum("lines").cast("bigint").alias("sum_lines"),
        F.sum(F.col("lines") * F.col("lines")).cast("bigint").alias("sum_sq_lines"),
    )
    return m.selectExpr(
        "n_orders",
        "sum_lines",
        "sum_sq_lines",
        "CAST(sum_lines AS DOUBLE) / CAST(n_orders AS DOUBLE) AS mean_lines",
        "CAST(n_orders * sum_sq_lines - sum_lines * sum_lines AS DOUBLE)"
        " / CAST((n_orders - 1) * sum_lines AS DOUBLE) AS dispersion",
    )


@query("poisson_control_chart_hourly",
    _ORACLES["poisson_control_chart_hourly"],
    "§2.6/ops monitoring: Poisson c-chart over hourly event arrivals — lambda +- 3*sqrt(lambda) control limits from the exact hour census, integer breach flags; the alerting artifact next to hourly_event_rollup",
)
def q_poisson_control_chart_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHEN is traffic abnormal: the c-chart every on-call dashboard
    draws — hourly counts against lambda +- 3*sqrt(lambda) where
    lambda is the mean hourly rate. The census is exact integers; the
    limits are one shared-text IEEE expression (division + sqrt, both
    correctly rounded), so breach flags are integer comparisons of
    bit-identical doubles. One hour-grain aggregate + a 1-row global
    broadcast; no window, no spine."""
    h = (
        _t(spark, sf_dir, "events")
        .groupBy(F.date_trunc("hour", "ts").alias("hour"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
    )
    t = h.agg(
        F.sum("n_events").cast("bigint").alias("total_events"),
        F.count(F.lit(1)).cast("bigint").alias("n_hours"),
    )
    lam = "CAST(total_events AS DOUBLE) / CAST(n_hours AS DOUBLE)"
    ucl = f"{lam} + 3.0 * sqrt({lam})"
    lcl = f"{lam} - 3.0 * sqrt({lam})"
    return h.crossJoin(F.broadcast(t)).selectExpr(
        "hour",
        "n_events",
        f"{lam} AS lam",
        f"{ucl} AS ucl",
        f"{lcl} AS lcl",
        f"CAST(CASE WHEN CAST(n_events AS DOUBLE) > {ucl} THEN 1 ELSE 0 END"
        " AS BIGINT) AS breach_high",
        f"CAST(CASE WHEN CAST(n_events AS DOUBLE) < {lcl} THEN 1 ELSE 0 END"
        " AS BIGINT) AS breach_low",
    )


@query("streaming_kmv_sketch_maintain",
    _ORACLES["kmv_ndv_estimate"],
    "§2.8 x S-tier: streaming KMV sketch maintenance — each micro-batch emits its bottom-64 hash partials, min-merged at read-back into the SAME filled sketches as the batch query (SHARED oracle proves mergeability)",
)
def q_streaming_kmv_sketch_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHY KMV is the distributed NDV sketch: bottom-k sets are
    MERGEABLE — the union of per-batch bottom-64s contains the global
    bottom-64, so a stream can maintain the sketch with ~192 rows per
    micro-batch and re-cut at read time. Replayed as 3 micro-batches
    over lineitem; read-back dedupes (col, val), re-cuts bottom-64 per
    column, and lands on EXACTLY the batch query's rows (shared
    oracle). The exact-NDV yardstick stays a static full read."""
    from finance_reporting_etl_spark.streaming.staging import replay_partials

    def batch_agg(batch: DataFrame) -> DataFrame:
        hashed = _kmv_hashed(batch)
        # one window pass over the hashed frame instead of three
        # filter+orderBy+limit legs: each leg re-evaluated the whole
        # stack/distinct/md5 subtree (3x the per-batch compute for
        # identical rows — row_number under the same (h32, val) order
        # picks exactly the same bottom-64 per column). A partition-
        # local pre-cut (bottom-64 per (column, input partition))
        # shrinks the global window's input from every distinct value
        # to <= 64 x partitions rows — lossless because each member of
        # a column's global bottom-64 is also in its own partition's
        # bottom-64 (verified value-equal at sf0.1); the 3-partition
        # skewed global sort stops carrying the whole NDV.
        from pyspark.sql import Window

        w1 = Window.partitionBy("col_name", F.spark_partition_id()).orderBy(
            F.asc("h32"), F.asc("val")
        )
        pre = (
            hashed.withColumn("__r1", F.row_number().over(w1))
            .filter(F.col("__r1") <= 64)
            .drop("__r1")
        )
        wk = Window.partitionBy("col_name").orderBy(F.asc("h32"), F.asc("val"))
        return (
            pre.withColumn("__rn", F.row_number().over(wk))
            .filter(F.col("__rn") <= 64)
            .drop("__rn")
        )

    def readback(partials: DataFrame) -> DataFrame:
        sk = partials.select("col_name", "val", "h32").distinct()
        # same single-pass re-cut as batch_agg: one window rank over
        # the deduped sink instead of three filter+orderBy+limit legs
        # that each re-ran the distinct (identical bottom-64 sets;
        # every column is present because each micro-batch emitted
        # rows for all three, so the groupBy covers the same keys the
        # literal legs spelled out)
        from pyspark.sql import Window

        wk = Window.partitionBy("col_name").orderBy(F.asc("h32"), F.asc("val"))
        out = (
            sk.withColumn("__rn", F.row_number().over(wk))
            .filter(F.col("__rn") <= 64)
            .groupBy("col_name")
            .agg(F.max("h32").cast("bigint").alias("kth_hash"))
            .selectExpr(
                "col_name",
                "CAST(64 AS BIGINT) AS k",
                "kth_hash",
            )
        )
        return _kmv_estimate(
            out, _kmv_exact_ndv(_kmv_hashed(_t(spark, sf_dir, "lineitem")))
        )

    return replay_partials(
        spark,
        # stage only the three key columns the sketch folds over
        lambda src: _t(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey", "l_orderkey")
        .repartition(3)
        .write.parquet(src),
        batch_agg,
        readback,
        "streaming_kmv_sketch_maintain",
    )


# ---------------------------------------------------------------------------
# Round-10 wave 42 — fiscal calendar, DP clipping curve, revenue retention
# ---------------------------------------------------------------------------


@query("fiscal_445_rollup",
    _ORACLES["fiscal_445_rollup"],
    "§2.4/finance calendar: 4-4-5 fiscal-period revenue rollup (52-week years from a Monday epoch, 13-week quarters split 4+4+5) — all-integer period mapping, exact BIGINT cents",
)
def q_fiscal_445_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The retail close calendar: 52-week fiscal years anchored on a
    Monday epoch, each 13-week quarter split into 4+4+5-week periods
    so every period compares like-for-like on weekdays. The mapping is
    pure integer div/mod on the day offset (non-negative by the epoch
    filter) — no date-part functions whose week conventions could
    differ between engines — and the rollup is one hash aggregate on
    the bounded (year x 12) domain. No 53rd-week correction: the
    calendar drifts ~1 day/year against Gregorian, exactly as real
    52-week calendars do between restatements (documented)."""
    d = (
        _t(spark, sf_dir, "lineitem")
        .select(
            F.datediff(F.col("l_shipdate").cast("date"), F.lit("1995-01-02").cast("date")).alias("doff"),
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
            .cast("bigint")
            .alias("cents"),
        )
        .filter(F.col("doff") >= 0)
    )
    m = d.selectExpr(
        "(doff div 7) div 52 AS fy",
        "((doff div 7) % 52) div 13 AS fq",
        "((doff div 7) % 52) % 13 AS wq",
        "cents",
    )
    return (
        m.selectExpr(
            "CAST(1995 + fy AS BIGINT) AS fiscal_year",
            "CAST(fq * 3 + CASE WHEN wq < 4 THEN 1 WHEN wq < 8 THEN 2"
            " ELSE 3 END AS BIGINT) AS fiscal_period",
            "cents",
        )
        .groupBy("fiscal_year", "fiscal_period")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.sum("cents").cast("bigint").alias("revenue_cents"),
        )
    )


@query("dp_clip_bound_sweep",
    _ORACLES["dp_clip_bound_sweep"],
    "X-privacy engineering: DP clipping-bound sweep for a per-user SUM release — clip bias (exact ppm) vs Laplace noise scale C*sqrt(2)/eps at C=5k/20k/80k cents; the bias-variance knob read before release",
)
def q_dp_clip_bound_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHICH clip bound to release under: clipping per-user totals at
    C bounds sensitivity (so Laplace(C/eps) suffices) but bites off
    real mass — the sweep shows bias (clip loss, exact ppm), who gets
    clipped, and the signal-to-noise each C buys at eps=1. Census is
    one user aggregate re-read under three conditional sums (one scan,
    broadcast clip spine); noise and SNR are shared-text IEEE over
    exact integers. Complements dp_noisy_event_counts (which RELEASES
    under one calibration) with the curve used to pick it."""
    u = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.round(F.sum("value") * 100).cast("bigint").alias("cents"))
    )
    cs = spark.range(1).selectExpr("explode(array(5000, 20000, 80000)) AS clip_c")
    return (
        u.crossJoin(F.broadcast(cs))
        .groupBy(F.col("clip_c").cast("bigint").alias("clip_c"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.sum("cents").cast("bigint").alias("true_sum_cents"),
            F.sum(F.least(F.col("cents"), F.col("clip_c")))
            .cast("bigint")
            .alias("clipped_sum_cents"),
            F.sum((F.col("cents") > F.col("clip_c")).cast("int"))
            .cast("bigint")
            .alias("n_clipped_users"),
        )
        .selectExpr(
            "clip_c",
            "n_users",
            "true_sum_cents",
            "clipped_sum_cents",
            "n_clipped_users",
            "CAST((true_sum_cents - clipped_sum_cents) * 1000000"
            " div true_sum_cents AS BIGINT) AS clip_loss_ppm",
            "CAST(clip_c AS DOUBLE) * sqrt(2.0) / 1.0 AS noise_std",
            "CAST(clipped_sum_cents AS DOUBLE)"
            " / (CAST(clip_c AS DOUBLE) * sqrt(2.0) / 1.0) AS signal_to_noise",
        )
    )


@query("net_revenue_retention",
    _ORACLES["net_revenue_retention"],
    "A-tier SaaS finance: weekly net revenue retention — the week-w cohort's revenue re-measured in week w+1, exact BIGINT cents and ppm; one lead() window per user, no self-join",
)
def q_net_revenue_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE SaaS board metric: of the revenue a cohort produced in week
    w, how much the SAME users produce in week w+1 (expansion nets
    against churn — NRR > 1e6 ppm means growth without acquisition).
    One events scan: per-user lead() windows surface the next active
    week (the segment_migration_matrix shape); the oracle re-derives
    the matrix independently via a (user, week+7d) left join. The
    final week is excluded via a 1-row max-week broadcast; cents and
    ppm are exact integers."""
    from pyspark.sql import Window

    uw = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .groupBy(
            "user_id", F.date_trunc("week", "ts").cast("date").alias("week")
        )
        .agg(F.round(F.sum("value") * 100).cast("bigint").alias("cents"))
    )
    mx = uw.agg(F.max("week").alias("maxw"))
    uwin = Window.partitionBy("user_id").orderBy("week")
    j = (
        uw.withColumn("__nweek", F.lead("week").over(uwin))
        .withColumn("__ncents", F.lead("cents").over(uwin))
        .crossJoin(F.broadcast(mx))
        .filter(F.col("week") < F.col("maxw"))
        .select(
            "week",
            "cents",
            F.when(
                F.col("__nweek") == F.date_add("week", 7), F.col("__ncents")
            )
            .otherwise(F.lit(0))
            .alias("next_cents"),
        )
    )
    return (
        j.groupBy("week")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.sum("cents").cast("bigint").alias("cohort_rev_cents"),
            F.sum("next_cents").cast("bigint").alias("next_week_rev_cents"),
        )
        .withColumn(
            "nrr_ppm",
            F.expr("(next_week_rev_cents * 1000000) div cohort_rev_cents").cast(
                "bigint"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Round-10 wave 43 — BOM rollup, cheapest-supplier mart, span-mask plan
# ---------------------------------------------------------------------------


@query("bom_cost_rollup",
    _ORACLES["bom_cost_rollup"],
    "§2.4/manufacturing finance: multi-level BOM cost rollup via ancestor explode (materialized-path trick) — one map-side explode + one hash aggregate where a recursive CTE would iterate; exact BIGINT cents",
)
def q_bom_cost_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling component costs up a bill of materials WITHOUT
    recursion: with parent = key div 10, every part's ancestor chain
    is its div-10^j sequence, so exploding each part into its <= 6
    ancestors turns the level-by-level rollup into ONE map-side
    explode + ONE aggregate — the materialized-path pattern that
    scales where recursive joins iterate over the driver. Each node's
    rollup covers itself and every descendant in exact BIGINT cents;
    pytest pins the rollup recurrence (node = own + sum of direct
    children) on the real hierarchy."""
    p = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").cast("bigint").alias("k"),
        F.round(F.col("p_retailprice") * 100).cast("bigint").alias("cents"),
    )
    anc = (
        p.select(
            "k", "cents", F.explode(F.sequence(F.lit(0), F.lit(5))).alias("j")
        )
        .selectExpr(
            "k div CAST(power(10, j) AS BIGINT) AS node", "k", "cents", "j"
        )
        .filter("node > 0 OR (k = 0 AND j = 0)")
    )
    return anc.groupBy("node").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_descendants"),
        F.sum("cents").cast("bigint").alias("rollup_cents"),
    )


@query("cheapest_supplier_per_part",
    _ORACLES["cheapest_supplier_per_part"],
    "J-tier sourcing mart (TPC-H Q2 spirit from lineitem observations): exact VWAP unit cents per (part, supplier), argmin supplier per part with deterministic tiebreak; bounded per-part window",
)
def q_cheapest_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Q2 question the fixture can answer: with no partsupp table,
    observed lineitem prices stand in for the supplier catalog — per
    (part, supplier) the exact volume-weighted unit price in integer
    cents (the vwap_unit_cents idiom: cents-sum div quantity-sum),
    then the argmin supplier per part (unit_cents ASC, suppkey ASC).
    The rank window partitions by part over its observed suppliers —
    bounded fanout, never a global sort; one shuffle on the composite
    aggregation key."""
    from pyspark.sql import Window

    ps = (
        _t(spark, sf_dir, "lineitem")
        .groupBy(
            F.col("l_partkey").alias("partkey"),
            F.col("l_suppkey").alias("suppkey"),
        )
        .agg(
            F.expr(
                "CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))"
                " div sum(CAST(l_quantity AS BIGINT)) AS BIGINT)"
            ).alias("unit_cents"),
            F.count(F.lit(1)).cast("bigint").alias("n_obs"),
        )
    )
    wp = Window.partitionBy("partkey")
    wr = Window.partitionBy("partkey").orderBy(
        F.asc("unit_cents"), F.asc("suppkey")
    )
    return (
        ps.withColumn("n_suppliers", F.count(F.lit(1)).over(wp).cast("bigint"))
        .withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") == 1)
        .select(
            "partkey",
            F.col("suppkey").alias("best_suppkey"),
            "unit_cents",
            "n_obs",
            "n_suppliers",
        )
    )


@query("span_corruption_plan",
    _ORACLES["span_corruption_plan"],
    "X-pipeline pretraining prep: T5-style span-corruption plan — deterministic span counts at ~15% mask ratio (length-3 spans), md5-seeded first-span offset; all integer arithmetic",
)
def q_span_corruption_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHAT span denoising will mask: per document, the number of
    length-3 spans hitting the 15% corruption budget (floor-exact
    integer arithmetic on token counts), the realized mask ratio in
    exact ppm, and a deterministic md5-seeded offset for the first
    span — the reproducible plan a T5-style pretraining job executes.
    Map-side only: tokenize, count, integer div/mod; no shuffle
    anywhere (the plan rides the document scan)."""
    from finance_reporting_etl_spark.functions.text import whitespace_tokens
    from finance_reporting_etl_spark.operators.corpus import md5_bucket

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(whitespace_tokens(F.lower(F.col("text"))))
        .cast("bigint")
        .alias("n_tokens"),
    )
    m = d.selectExpr(
        "doc_id", "n_tokens", "n_tokens * 15 div 100 div 3 AS n_spans"
    )
    start = md5_bucket("doc_id", 256, salt="span").cast("bigint")
    return m.select(
        "doc_id",
        "n_tokens",
        F.col("n_spans").cast("bigint").alias("n_spans"),
        (F.col("n_spans") * 3).cast("bigint").alias("n_masked"),
        F.expr(
            "CAST(CASE WHEN n_tokens > 0"
            " THEN n_spans * 3 * 1000000 div n_tokens ELSE 0 END AS BIGINT)"
        ).alias("mask_ppm"),
        (
            F.when(F.col("n_spans") > 0, start).otherwise(F.lit(0))
            % F.when(
                F.col("n_tokens") - F.col("n_spans") * 3 + 1 > 0,
                F.col("n_tokens") - F.col("n_spans") * 3 + 1,
            ).otherwise(F.lit(1))
        )
        .cast("bigint")
        .alias("first_span_start"),
    )


# ---------------------------------------------------------------------------
# Round-10 wave 44 — supplier concentration, GDPR access, streaming NRR
# ---------------------------------------------------------------------------


@query("supplier_value_concentration",
    _ORACLES["supplier_value_concentration"],
    "J-tier sourcing risk (TPC-H Q11 spirit): supplier revenue share within nation in exact ppm, flagged over 5% — single-source-risk screen; bounded per-nation window",
)
def q_supplier_value_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHO is a single point of failure: each supplier's share of its
    nation's revenue (the Q11 question asked of observed flows — the
    fixture has no partsupp), exact ppm with a 5% concentration flag.
    One shuffle on the (nation, supplier) aggregation key; the share
    window partitions by nation over its bounded supplier list;
    supplier and nation dims broadcast."""
    from pyspark.sql import Window

    li = _t(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
        .cast("bigint")
        .alias("cents"),
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    sr = (
        li.join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy(
            F.col("s_nationkey").alias("nationkey"),
            F.col("l_suppkey").alias("suppkey"),
        )
        .agg(F.sum("cents").cast("bigint").alias("rev_cents"))
    )
    w = Window.partitionBy("nationkey")
    return (
        sr.withColumn("__tot", F.sum("rev_cents").over(w))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("nationkey"))
        .selectExpr(
            "n_name AS nation",
            "suppkey",
            "rev_cents",
            "CAST(rev_cents * 1000000 div __tot AS BIGINT) AS share_ppm",
            "CAST(CASE WHEN rev_cents * 1000000 div __tot > 50000"
            " THEN 1 ELSE 0 END AS BIGINT) AS concentration_flag",
        )
    )


@query("gdpr_access_extract_counts",
    _ORACLES["gdpr_access_extract_counts"],
    "O-tier compliance: GDPR right-of-access footprint census per data subject (custkey % 97 target set) — orders/lineitems/gross the export must cover; key-equi-joins, exact integers",
)
def q_gdpr_access_extract_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Article 15 is a QUERY before it is an export: for each data
    subject in the deterministic target set (custkey % 97 == 0, the
    delete-cascade convention of gdpr_delete_cascade), the rows each
    table contributes to the extract — distinct orders, line items,
    gross cents. The fan-out is customer -> orders -> lineitem on
    their join keys (the same cascade path the delete takes); LEFT
    joins keep zero-footprint subjects in the report."""
    subj = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 97 == 0)
        .select("c_custkey")
    )
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("gcents"),
    )
    oj = subj.join(o, F.col("o_custkey") == F.col("c_custkey"), "left")
    return (
        oj.join(li, F.col("l_orderkey") == F.col("o_orderkey"), "left")
        .groupBy(F.col("c_custkey").alias("custkey"))
        .agg(
            F.countDistinct("o_orderkey").cast("bigint").alias("n_orders"),
            F.count("l_orderkey").cast("bigint").alias("n_lineitems"),
            F.sum(
                F.when(F.col("l_orderkey").isNotNull(), F.col("gcents")).otherwise(
                    F.lit(0)
                )
            )
            .cast("bigint")
            .alias("gross_cents"),
        )
    )


@query("streaming_nrr_monitor",
    _ORACLES["net_revenue_retention"],
    "§2.8 x A-tier: streaming NRR — micro-batches fold (user, week) integer cents partials; the lead() window and census run ONCE at read-back, bit-identical to the batch metric (SHARED oracle proves it)",
)
def q_streaming_nrr_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NRR as a continuously-maintained metric: purchase events fold
    per-(user, week) integer cents partials through foreachBatch —
    additive, order-free — and the NON-additive parts (the per-user
    lead() window, the max-week cut, the census) run once at
    read-back over the merged partials. Micro-batch boundaries cannot
    move a cent (shared oracle). The fold state is one row per active
    (user, week) — the same compaction any streaming metric store
    keeps."""
    from pyspark.sql import Window

    from finance_reporting_etl_spark.streaming.staging import replay_partials

    def batch_agg(batch: DataFrame) -> DataFrame:
        return (
            batch.filter(F.col("event_type") == "purchase")
            .groupBy(
                "user_id", F.date_trunc("week", "ts").cast("date").alias("week")
            )
            .agg(F.round(F.sum("value") * 100).cast("bigint").alias("c"))
        )

    def readback(partials: DataFrame) -> DataFrame:
        uw = (
            partials.groupBy("user_id", "week")
            .agg(F.sum("c").cast("bigint").alias("cents"))
        )
        mx = uw.agg(F.max("week").alias("maxw"))
        uwin = Window.partitionBy("user_id").orderBy("week")
        j = (
            uw.withColumn("__nweek", F.lead("week").over(uwin))
            .withColumn("__ncents", F.lead("cents").over(uwin))
            .crossJoin(F.broadcast(mx))
            .filter(F.col("week") < F.col("maxw"))
            .select(
                "week",
                "cents",
                F.when(
                    F.col("__nweek") == F.date_add("week", 7), F.col("__ncents")
                )
                .otherwise(F.lit(0))
                .alias("next_cents"),
            )
        )
        return (
            j.groupBy("week")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_users"),
                F.sum("cents").cast("bigint").alias("cohort_rev_cents"),
                F.sum("next_cents").cast("bigint").alias("next_week_rev_cents"),
            )
            .withColumn(
                "nrr_ppm",
                F.expr(
                    "(next_week_rev_cents * 1000000) div cohort_rev_cents"
                ).cast("bigint"),
            )
        )

    return replay_partials(
        spark,
        lambda src: _t(spark, sf_dir, "events")
        .select("user_id", "ts", "event_type", "value")
        .repartition(3)
        .write.parquet(src),
        batch_agg,
        readback,
        "streaming_nrr_monitor",
    )


# ---------------------------------------------------------------------------
# Round-10 wave 45 — trend test, split leakage, freshness audit
# ---------------------------------------------------------------------------


@query("cochran_armitage_trend",
    _ORACLES["cochran_armitage_trend"],
    "§2.6/stats: Cochran-Armitage trend test of return rate vs ordered discount doses — exact BIGINT moment sums, z statistic as shared-text doubles; the ORDERED complement of the chi-square independence test",
)
def q_cochran_armitage_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOES the return rate trend with the discount: the chi-square
    independence test wastes power when the alternative is ordered;
    Cochran-Armitage scores the 11 discount doses (0..10 cents) and
    tests the linear trend. Five moment sums in ONE hash aggregate,
    all exact BIGINTs; the z statistic multiplies them as doubles in
    shared text (every product correctly rounded, bit-equal cross-
    engine). The pricing-policy significance read next to
    woe_iv_discount_bins."""
    d = _t(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_discount") * 100).cast("bigint").alias("s"),
        (F.col("l_returnflag") == "R").cast("int").alias("r"),
    )
    m = d.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("r").cast("bigint").alias("rr"),
        F.sum(F.col("s") * F.col("r")).cast("bigint").alias("ssr"),
        F.sum("s").cast("bigint").alias("ssn"),
        F.sum(F.col("s") * F.col("s")).cast("bigint").alias("ssn2"),
    )
    return m.selectExpr(
        "n",
        "rr AS n_returned",
        "ssr AS sum_score_returned",
        "ssn AS sum_score",
        "ssn2 AS sum_score_sq",
        "(CAST(n AS DOUBLE) * CAST(ssr AS DOUBLE)"
        " - CAST(rr AS DOUBLE) * CAST(ssn AS DOUBLE))"
        " / sqrt(CAST(rr AS DOUBLE) * CAST(n - rr AS DOUBLE)"
        " * (CAST(n AS DOUBLE) * CAST(ssn2 AS DOUBLE)"
        " - CAST(ssn AS DOUBLE) * CAST(ssn AS DOUBLE))"
        " / CAST(n AS DOUBLE)) AS z_trend",
    )


@query("temporal_split_audit",
    _ORACLES["temporal_split_audit"],
    "X-ML-ops: temporal-split contamination census — users straddling a last-7-days holdout cutoff (the leakage a time split silently permits); exact integers, 1-row cutoff broadcast",
)
def q_temporal_split_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A time-based split keeps FUTURE out of train but lets the same
    USERS straddle the cutoff — fatal when the model memorizes user
    identity. With the last 7 days held out: users in train only, test
    only, and both (the contamination), in exact counts and ppm. One
    per-user aggregate against a broadcast max-timestamp cutoff;
    complements groupwise_leakage_safe_split (which FIXES the problem)
    with the audit that shows whether you have it."""
    ev = _t(spark, sf_dir, "events").select("user_id", "ts")
    mx = ev.agg(F.max("ts").alias("maxts"))
    u = (
        ev.crossJoin(F.broadcast(mx))
        .groupBy("user_id")
        .agg(
            F.sum(
                (F.col("ts") < F.expr("maxts - INTERVAL 7 DAY")).cast("int")
            )
            .cast("bigint")
            .alias("n_train"),
            F.sum(
                (F.col("ts") >= F.expr("maxts - INTERVAL 7 DAY")).cast("int")
            )
            .cast("bigint")
            .alias("n_test"),
        )
    )
    return u.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum(((F.col("n_train") > 0) & (F.col("n_test") == 0)).cast("int"))
        .cast("bigint")
        .alias("train_only_users"),
        F.sum(((F.col("n_train") == 0) & (F.col("n_test") > 0)).cast("int"))
        .cast("bigint")
        .alias("test_only_users"),
        F.sum(((F.col("n_train") > 0) & (F.col("n_test") > 0)).cast("int"))
        .cast("bigint")
        .alias("straddling_users"),
        F.sum("n_train").cast("bigint").alias("train_events"),
        F.sum("n_test").cast("bigint").alias("test_events"),
    ).selectExpr(
        "n_users",
        "train_only_users",
        "test_only_users",
        "straddling_users",
        "CAST(straddling_users * 1000000 div n_users AS BIGINT) AS leak_ppm",
        "train_events",
        "test_events",
    )


@query("table_freshness_audit",
    _ORACLES["table_freshness_audit"],
    "O-tier data ops: cross-table freshness census — per fact table the row count, max event time, and staleness in days vs the freshest table; the cadence-mismatch read before cross-pipeline joins",
)
def q_table_freshness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHICH table is behind: pipelines load on different cadences,
    and a join across them silently produces point-in-time nonsense.
    Per fact table: rows, max event time, staleness in whole days
    against the freshest table. Three 1-row aggregates (bounded
    scalar class) unioned, one reference broadcast; the dbt-style
    freshness test as a queryable mart instead of an assertion."""
    parts = [
        ("orders", _t(spark, sf_dir, "orders").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.max(F.col("o_orderdate").cast("timestamp")).alias("max_ts"),
        )),
        ("lineitem", _t(spark, sf_dir, "lineitem").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.max(F.col("l_shipdate").cast("timestamp")).alias("max_ts"),
        )),
        ("events", _t(spark, sf_dir, "events").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.max(F.col("ts").cast("timestamp")).alias("max_ts"),
        )),
    ]
    frames = [
        df.select(F.lit(name).alias("table_name"), "n_rows", "max_ts")
        for name, df in parts
    ]
    t = frames[0]
    for f in frames[1:]:
        t = t.unionByName(f)
    r = t.agg(F.max("max_ts").alias("ref_ts"))
    return t.crossJoin(F.broadcast(r)).select(
        "table_name",
        "n_rows",
        "max_ts",
        F.datediff(F.col("ref_ts").cast("date"), F.col("max_ts").cast("date"))
        .cast("bigint")
        .alias("staleness_days"),
    )


# ---------------------------------------------------------------------------
# Round-10 wave 46 — referential integrity mart, diversity eval
# ---------------------------------------------------------------------------


@query("referential_orphan_census",
    _ORACLES["referential_orphan_census"],
    "O-tier data quality: referential-integrity orphan census per FK (anti-join counts + exact ppm) — dbt's relationships test as a queryable mart, complements dbt_schema_tests",
)
def q_referential_orphan_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOW broken are the joins: per foreign key, the child rows whose
    parent is missing — the census dbt's relationships test asserts on
    but never reports. Four LEFT ANTI joins on the FK keys (the
    scale-safe orphan probe: no fanout, parent side shuffles once per
    key), each reduced to one census row. A clean fixture reads all
    zeros; the mart exists for the day it does not."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    fks = [
        (
            "lineitem.l_orderkey->orders",
            li.select("l_orderkey"),
            o.select("o_orderkey"),
            "l_orderkey",
            "o_orderkey",
        ),
        (
            "lineitem.l_partkey->part",
            li.select("l_partkey"),
            _t(spark, sf_dir, "part").select("p_partkey"),
            "l_partkey",
            "p_partkey",
        ),
        (
            "lineitem.l_suppkey->supplier",
            li.select("l_suppkey"),
            _t(spark, sf_dir, "supplier").select("s_suppkey"),
            "l_suppkey",
            "s_suppkey",
        ),
        (
            "orders.o_custkey->customer",
            o.select("o_custkey"),
            _t(spark, sf_dir, "customer").select("c_custkey"),
            "o_custkey",
            "c_custkey",
        ),
    ]
    outs = []
    for name, child, parent, ck, pk in fks:
        n_child = child.agg(F.count(F.lit(1)).cast("bigint").alias("n_child"))
        orphans = child.join(
            parent, F.col(ck) == F.col(pk), "left_anti"
        ).agg(F.count(F.lit(1)).cast("bigint").alias("n_orphans"))
        outs.append(
            n_child.crossJoin(F.broadcast(orphans)).selectExpr(
                f"'{name}' AS fk",
                "n_child",
                "n_orphans",
                "CAST(n_orphans * 1000000 div n_child AS BIGINT) AS orphan_ppm",
            )
        )
    out = outs[0]
    for o_ in outs[1:]:
        out = out.unionByName(o_)
    return out


@query("ils_diversity_eval",
    _ORACLES["ils_diversity_eval"],
    "X3 retrieval eval: intra-list similarity of plain cosine top-5 vs MMR top-5 per query — DID the diversified rerank diversify; persisted selections + micro-int pair sims, mean one IEEE division",
)
def q_ils_diversity_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE proof MMR earns its keep: average pairwise similarity
    within each query's selected 5-list, plain relevance top-5 next to
    the MMR top-5 (mmr_diversified_rerank's greedy, same lam/mu). Pair
    cosines live as exact micro ints (6dp-rounded then scaled), so the
    per-list sum is order-free exact and the mean one IEEE division.
    Selections and pair sims persist as aux tables — both engines
    score IDENTICAL lists; pytest pins the headline: MMR's ILS never
    exceeds plain top-k's."""
    from finance_reporting_etl_spark.functions.vectors import cosine
    from finance_reporting_etl_spark.operators.similarity import (
        brute_force_topk,
        mmr_select,
    )

    emb = _t(spark, sf_dir, "embeddings")
    qids = [0, 1, 2, 3, 4]
    short = _persist_aux(
        spark,
        brute_force_topk(emb, qids, k=20).select(
            "query_id", "neighbor_id", F.col("score").alias("rel"), "rank"
        ),
        "ils_shortlist",
    )
    ids = short.select("query_id", "neighbor_id")
    v = emb.select("vec_id", "embedding")
    a = ids.join(v, ids.neighbor_id == v.vec_id).select(
        "query_id", F.col("neighbor_id").alias("id_a"), F.col("embedding").alias("va")
    )
    b = ids.join(v, ids.neighbor_id == v.vec_id).select(
        F.col("query_id").alias("__qb"),
        F.col("neighbor_id").alias("id_b"),
        F.col("embedding").alias("vb"),
    )
    sim = det_round(cosine("va", "vb"), 6)
    pairs = _persist_aux(
        spark,
        a.join(b, (a.query_id == b.__qb) & (F.col("id_a") != F.col("id_b")))
        .withColumn("sim", sim)
        .withColumn("sim_micro", F.round(F.col("sim") * 1000000).cast("bigint"))
        .select("query_id", "id_a", "id_b", "sim", "sim_micro"),
        "ils_pairsims",
    )
    plain5 = short.filter(F.col("rank") <= 5).select(
        "query_id", F.lit("topk").alias("method"), F.col("neighbor_id").alias("doc_id")
    )
    mmr5 = mmr_select(
        short.select("query_id", "neighbor_id", "rel"),
        pairs.select("query_id", "id_a", "id_b", "sim"),
        k=5,
        lam=0.7,
        mu=0.3,
    ).select(
        "query_id", F.lit("mmr").alias("method"), F.col("neighbor_id").alias("doc_id")
    )
    sel = _persist_aux(spark, plain5.unionByName(mmr5), "ils_selected")
    sb = sel.select(
        F.col("query_id").alias("__q"),
        F.col("method").alias("__m"),
        F.col("doc_id").alias("doc_b"),
    )
    pm = pairs.select(
        F.col("query_id").alias("p_q"),
        F.col("id_a").alias("p_a"),
        F.col("id_b").alias("p_b"),
        "sim_micro",
    )
    p = (
        sel.join(
            sb,
            (F.col("__q") == F.col("query_id"))
            & (F.col("__m") == F.col("method"))
            & (F.col("doc_b") > F.col("doc_id")),
        )
        .join(
            pm,
            (F.col("p_q") == F.col("__q"))
            & (F.col("p_a") == F.col("doc_id"))
            & (F.col("p_b") == F.col("doc_b")),
        )
        .select("query_id", "method", "sim_micro")
    )
    return (
        p.groupBy("query_id", "method")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum("sim_micro").cast("bigint").alias("sum_sim_micro"),
        )
        .selectExpr(
            "query_id",
            "method",
            "n_pairs",
            "sum_sim_micro",
            "CAST(sum_sim_micro AS DOUBLE) / CAST(n_pairs AS DOUBLE)"
            " AS ils_mean_micro",
        )
    )


# ---------------------------------------------------------------------------
# Round-10 wave 47 — Bloom sizing curve, cross-source duplicate census
# ---------------------------------------------------------------------------


@query("bloom_fpr_sweep",
    _ORACLES["bloom_fpr_sweep"],
    "X-scale membership tuning: Bloom FPR sweep at m=1024/4096/16384 bits (k=3) — measured FPR vs fill-ratio theory (bits_set/m)^k; the sizing curve before provisioning a semi-join pre-filter",
)
def q_bloom_fpr_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOW MANY bits the pre-filter needs: the same member set pushed
    through three filter sizes, measured false-positive rate next to
    the fill-ratio theory (bits_set/m)^k — undersized filters saturate
    (FPR -> 1) and silently turn the semi-join into a full scan.
    Reuses bloom_build/bloom_probe per config (<= m-row broadcast bit
    sets); exact integer confusion, det-rounded FPR, shared-text
    theory product. Sibling of lsh_band_sweep / ann_ivf_nprobe_sweep
    in the sketch-tuning family."""
    from finance_reporting_etl_spark.operators.membership import (
        bloom_build,
        bloom_probe,
    )

    salt, k_hashes = "bfs", 3
    members = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("k"))
        .distinct()
    )
    probes = _t(spark, sf_dir, "customer").select(F.col("c_custkey").alias("k"))
    n_members = members.agg(F.count(F.lit(1)).cast("bigint").alias("n_members"))
    outs = []
    for m_bits in (1024, 4096, 16384):
        bits = bloom_build(members, "k", salt, m_bits, k_hashes)
        flagged = bloom_probe(probes, "k", bits, salt, m_bits, k_hashes).join(
            members.withColumn("__is", F.lit(1)), "k", "left"
        )
        summary = flagged.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_probed"),
            F.sum("bloom_positive").cast("bigint").alias("n_positive"),
            F.sum(
                ((F.col("bloom_positive") == 1) & F.col("__is").isNull()).cast(
                    "int"
                )
            )
            .cast("bigint")
            .alias("n_false_positive"),
            F.sum(F.coalesce(F.col("__is"), F.lit(0)))
            .cast("bigint")
            .alias("__nm"),
        )
        bits_set = bits.agg(F.count(F.lit(1)).cast("bigint").alias("bits_set"))
        outs.append(
            summary.crossJoin(F.broadcast(n_members))
            .crossJoin(F.broadcast(bits_set))
            .select(
                F.lit(m_bits).cast("int").alias("m_bits"),
                F.lit(k_hashes).cast("int").alias("k_hashes"),
                "n_members",
                "bits_set",
                "n_probed",
                "n_positive",
                "n_false_positive",
                det_round(
                    F.col("n_false_positive").cast("double")
                    / F.nullif(
                        (F.col("n_probed") - F.col("__nm")).cast("double"),
                        F.lit(0.0),
                    ),
                    6,
                ).alias("fpr"),
            )
            .selectExpr(
                "*",
                "(CAST(bits_set AS DOUBLE) / CAST(m_bits AS DOUBLE))"
                " * (CAST(bits_set AS DOUBLE) / CAST(m_bits AS DOUBLE))"
                " * (CAST(bits_set AS DOUBLE) / CAST(m_bits AS DOUBLE))"
                " AS fpr_theory",
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


@query("cross_source_duplicate_census",
    _ORACLES["cross_source_duplicate_census"],
    "X1 dedup observability: exact-fingerprint duplicate groups bucketed by (size, spans-multiple-sources) — re-ingestion noise vs syndicated content; exact integers over a bounded domain",
)
def q_cross_source_duplicate_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAME-source duplicates mean a loader ran twice; CROSS-source
    duplicates mean templated or syndicated content — two different
    remediations from one census. Fingerprint groups (md5 of
    normalized text, the doc_fingerprints convention) of size >= 2,
    bucketed by size and whether the group spans sources. One
    fingerprint aggregate + one bounded-domain rollup."""
    from finance_reporting_etl_spark.functions.text import fingerprint

    f = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", fingerprint("text").alias("fp")
    )
    g = (
        f.groupBy("fp")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("group_size"),
            F.countDistinct("source").cast("bigint").alias("n_sources"),
        )
        .filter(F.col("group_size") >= 2)
    )
    return (
        g.select(
            "group_size",
            (F.col("n_sources") > 1).cast("bigint").alias("cross_source"),
        )
        .groupBy("group_size", "cross_source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_groups"),
            F.sum("group_size").cast("bigint").alias("n_docs"),
        )
    )


# ---------------------------------------------------------------------------
# Round-10 wave 48 — hubness audit, RLE savings, streaming alarms
# ---------------------------------------------------------------------------


@query("knn_hubness_audit",
    _ORACLES["knn_hubness_audit"],
    "X3 ANN QA: in-degree histogram of the LSH-candidate top-10 graph — hubs and antihubs, the high-dimensional pathology that skews ANN quality; persisted-bucket oracle, exact integers",
)
def q_knn_hubness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHO answers every query: in high dimensions a few hub vectors
    invade everyone's top-k while antihubs vanish from all lists —
    recall metrics look fine while results collapse onto hubs. The
    in-degree histogram over the LSH-candidate top-10 graph (the
    _lsh_candidate_scores pipeline shared with knn_graph_reciprocity,
    over its own persisted bucket table) makes the pathology
    measurable: bucket equi-joins, Arrow-batched cosine, det_round(6)+id
    ranking, and an exact integer histogram including the zero-degree
    antihubs."""
    from pyspark.sql import Window

    emb = _t(spark, sf_dir, "embeddings")
    scored = _lsh_candidate_scores(spark, sf_dir, "hub_buckets")
    w = Window.partitionBy("src").orderBy(F.col("score").desc(), F.col("dst").asc())
    tk = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("src", "dst")
    )
    indeg = tk.groupBy("dst").agg(F.count(F.lit(1)).alias("indeg"))
    deg = (
        emb.select("vec_id")
        .join(indeg, F.col("dst") == F.col("vec_id"), "left")
        .select(
            F.coalesce(F.col("indeg"), F.lit(0)).cast("bigint").alias("in_degree")
        )
    )
    return deg.groupBy("in_degree").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes")
    )


@query("rle_encoding_savings",
    _ORACLES["rle_encoding_savings"],
    "S-tier storage planning: run-length encoding byte audit per column over 1024-key blocks — low-cardinality columns collapse to runs, keys degenerate to one run per row; all-integer arithmetic",
)
def q_rle_encoding_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OTHER encoding question next to delta_encoding_savings: RLE
    pays off only where values CLUSTER — and this fixture's key-ordered
    scan interleaves statuses, so the audit honestly reports RLE buying
    almost nothing (runs ~ rows; a near-unique column is pure 12B/run
    overhead). That IS the operational read: sort or z-order first
    (zorder_locality_stats), then re-run this audit. Runs counted with
    a null-safe lag inside block-partitioned windows (never global);
    exact integer bytes and ppm."""
    from pyspark.sql import Window

    base = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("v_status"),
        F.col("o_orderpriority").alias("v_priority"),
        F.col("o_custkey").cast("string").alias("v_cust"),
    )
    c = base.selectExpr(
        "k",
        "stack(3, 'v_status', v_status, 'v_priority', v_priority,"
        " 'v_cust', v_cust) AS (col_name, val)",
    )
    w = Window.partitionBy("col_name", "block").orderBy("k")
    d = (
        c.withColumn("block", F.expr("k div 1024"))
        .withColumn("__prev", F.lag("val").over(w))
        .withColumn(
            "new_run",
            (~F.col("val").eqNullSafe(F.col("__prev"))).cast("int"),
        )
    )
    bl = d.groupBy("col_name", "block").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("new_run").cast("bigint").alias("n_runs"),
    )
    return bl.groupBy("col_name").agg(
        F.sum("n").cast("bigint").alias("n_rows"),
        F.sum("n_runs").cast("bigint").alias("n_runs"),
        (F.sum("n") * 8).cast("bigint").alias("plain_bytes"),
        (F.sum("n_runs") * 12).cast("bigint").alias("rle_bytes"),
        F.expr(
            "CAST(sum(n_runs) * 12 * 1000000 div (sum(n) * 8) AS BIGINT)"
        ).alias("ratio_ppm"),
    )


@query("streaming_poisson_alarm",
    _ORACLES["poisson_control_chart_hourly"],
    "§2.8 x §2.6: streaming c-chart — micro-batches fold additive hourly counts; limits and breach flags computed once at read-back, bit-identical to the batch chart (SHARED oracle proves it)",
)
def q_streaming_poisson_alarm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The c-chart as a LIVE alarm: event micro-batches fold additive
    per-hour counts through foreachBatch (order-free integer
    partials); the global rate, control limits, and breach flags are
    computed once at read-back — bit-identical to the batch chart by
    the shared oracle. The state is one row per active hour, the
    smallest possible alarm memory."""
    from finance_reporting_etl_spark.streaming.staging import replay_partials

    def batch_agg(batch: DataFrame) -> DataFrame:
        return batch.groupBy(F.date_trunc("hour", "ts").alias("hour")).agg(
            F.count(F.lit(1)).cast("bigint").alias("c")
        )

    def readback(partials: DataFrame) -> DataFrame:
        h = (
            partials.groupBy("hour")
            .agg(F.sum("c").cast("bigint").alias("n_events"))
        )
        t = h.agg(
            F.sum("n_events").cast("bigint").alias("total_events"),
            F.count(F.lit(1)).cast("bigint").alias("n_hours"),
        )
        lam = "CAST(total_events AS DOUBLE) / CAST(n_hours AS DOUBLE)"
        ucl = f"{lam} + 3.0 * sqrt({lam})"
        lcl = f"{lam} - 3.0 * sqrt({lam})"
        return h.crossJoin(F.broadcast(t)).selectExpr(
            "hour",
            "n_events",
            f"{lam} AS lam",
            f"{ucl} AS ucl",
            f"{lcl} AS lcl",
            f"CAST(CASE WHEN CAST(n_events AS DOUBLE) > {ucl} THEN 1 ELSE 0"
            " END AS BIGINT) AS breach_high",
            f"CAST(CASE WHEN CAST(n_events AS DOUBLE) < {lcl} THEN 1 ELSE 0"
            " END AS BIGINT) AS breach_low",
        )

    return replay_partials(
        spark,
        lambda src: _t(spark, sf_dir, "events")
        .select("ts")
        .repartition(3)
        .write.parquet(src),
        batch_agg,
        readback,
        "streaming_poisson_alarm",
    )


# ---------------------------------------------------------------------------
# Round-10 wave 49 — metric layer, isotropy audit, drilldown shares
# ---------------------------------------------------------------------------


@query("metric_layer_rollup",
    _ORACLES["metric_layer_rollup"],
    "A-tier semantic layer: ONE metric spec (revenue, orders, AOV) evaluated at month/nation/segment grains from the same fact — the dbt-metrics promise as a query; exact BIGINT cents",
)
def q_metric_layer_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The metric layer's whole point: define revenue / order count /
    AOV once, evaluate at any grain, and never let two dashboards
    disagree. One enriched fact (orders x broadcast customer/nation),
    one aggregation per grain, one union — AOV is an exact integer
    division, so every grain's number reconciles to the same journal
    by construction. Adding a grain is one more groupBy over the SAME
    frame, which is the maintainability argument for the layer."""
    f = (
        _t(spark, sf_dir, "orders")
        .join(
            F.broadcast(
                _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey", "c_mktsegment")
            ),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .join(
            F.broadcast(_t(spark, sf_dir, "nation").select("n_nationkey", "n_name")),
            F.col("n_nationkey") == F.col("c_nationkey"),
        )
        .select(
            F.date_trunc("month", "o_orderdate").cast("date").cast("string").alias("month_key"),
            F.col("n_name").alias("nation_key"),
            F.col("c_mktsegment").alias("segment_key"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        )
    )
    grains = [("month", "month_key"), ("nation", "nation_key"), ("segment", "segment_key")]
    outs = []
    for grain, key in grains:
        outs.append(
            f.groupBy(F.col(key).alias("grain_key"))
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_orders"),
                F.sum("cents").cast("bigint").alias("revenue_cents"),
            )
            .selectExpr(
                f"'{grain}' AS grain",
                "grain_key",
                "n_orders",
                "revenue_cents",
                "CAST(revenue_cents div n_orders AS BIGINT) AS aov_cents",
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


@query("quantized_isotropy_audit",
    _ORACLES["quantized_isotropy_audit"],
    "X3 vector geometry: exact mean pairwise dot over ALL n(n-1) pairs via the closed form (|sum x|^2 - sum |x|^2)/(n(n-1)) on int8 codes — the isotropy/common-direction audit in ONE pass, no pair join",
)
def q_quantized_isotropy_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IS the embedding space isotropic: anisotropic spaces (every
    vector sharing a common direction) inflate all cosines and poison
    similarity thresholds. The mean pairwise dot over ALL ordered
    pairs collapses to (|sum x|^2 - sum |x|^2)/(n(n-1)) — two exact
    integer moments from ONE pass over globally-scaled int8 codes, so
    the all-pairs statistic never builds a pair join at any corpus
    size. Companions: quantized_covariance_topk (which pairs of dims
    co-move) and knn_hubness_audit (who the geometry favors)."""
    emb = _t(spark, sf_dir, "embeddings")
    vd = F.transform("embedding", lambda x: x.cast("double"))
    withv = emb.select("vec_id", vd.alias("vd"))
    gmax = withv.agg(F.max(F.array_max(F.transform("vd", F.abs))).alias("gmax"))
    codes = _persist_aux(
        spark,
        withv.crossJoin(F.broadcast(gmax)).select(
            "vec_id",
            F.transform(
                "vd",
                lambda x: F.round(x * (F.lit(127.0) / F.col("gmax"))).cast("bigint"),
            ).alias("codes"),
        ),
        "iso_codes",
    )
    x = codes.select("vec_id", F.posexplode("codes").alias("dim", "code"))
    s = x.groupBy("dim").agg(F.sum("code").cast("bigint").alias("sd"))
    t = s.agg(F.sum(F.col("sd") * F.col("sd")).cast("bigint").alias("norm_sum_sq"))
    q = x.agg(F.sum(F.col("code") * F.col("code")).cast("bigint").alias("sum_sq"))
    n = codes.agg(F.count(F.lit(1)).cast("bigint").alias("nv"))
    return (
        n.crossJoin(F.broadcast(q))
        .crossJoin(F.broadcast(t))
        .selectExpr(
            "nv AS n_vecs",
            "norm_sum_sq AS centroid_norm_sq",
            "sum_sq AS total_self_dot",
            "CAST(norm_sum_sq - sum_sq AS BIGINT) AS pair_dot_num",
            "CAST(nv * (nv - 1) AS BIGINT) AS pair_dot_den",
            "CAST(norm_sum_sq - sum_sq AS DOUBLE)"
            " / CAST(nv * (nv - 1) AS DOUBLE) AS mean_pair_dot",
        )
    )


@query("percent_of_parent_drilldown",
    _ORACLES["percent_of_parent_drilldown"],
    "A-tier BI drill tree: nation share of region and region share of world in exact ppm from one fact aggregation — the ratio-to-parent column every drilldown UI needs",
)
def q_percent_of_parent_drilldown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The drilldown UI's ratio-to-parent column, computed right: one
    fact aggregation at the leaf grain (supplier nation), parent and
    grandparent totals derived from the SAME aggregate (never a second
    fact scan), shares in exact ppm. Dims broadcast; the region window
    runs over 25 nations, the world total is a 1-row broadcast."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
        .cast("bigint")
        .alias("cents"),
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nn = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = _t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    nat = (
        li.join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(nn), F.col("n_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(r), F.col("r_regionkey") == F.col("n_regionkey"))
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(F.sum("cents").cast("bigint").alias("rev"))
    )
    from pyspark.sql import Window

    wreg = Window.partitionBy("region")
    reg = nat.withColumn("reg_rev", F.sum("rev").over(wreg).cast("bigint"))
    w = nat.agg(F.sum("rev").cast("bigint").alias("world_rev"))
    return reg.crossJoin(F.broadcast(w)).selectExpr(
        "region",
        "nation",
        "rev AS revenue_cents",
        "reg_rev AS parent_cents",
        "CAST(rev * 1000000 div reg_rev AS BIGINT) AS share_of_region_ppm",
        "CAST(reg_rev * 1000000 div world_rev AS BIGINT)"
        " AS region_share_of_world_ppm",
    )


# ---------------------------------------------------------------------------
# Round-10 wave 50 — weighted order statistics, lexical richness, capacity
# ---------------------------------------------------------------------------


@query("weighted_median_unit_price",
    _ORACLES["weighted_median_unit_price"],
    "§2.6/stats: quantity-weighted median unit price per brand as an EXACT weighted order statistic — cumulative quantity crosses half inside the brand partition; no approx_percentile, no float output",
)
def q_weighted_median_unit_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A unit-price median that ignores quantities calls a 1-unit
    outlier and a 50-unit fill equally typical; the weighted median
    answers what a UNIT actually sold for. Exact weighted order
    statistic: cumulative quantity along the deterministic
    (unit_cents, orderkey, linenumber) order crosses half the brand's
    total — the order_fulfillment_quantiles pattern with weights. The
    window partitions by brand (bounded per-group fanout, never a
    global sort); integer cents end to end."""
    from pyspark.sql import Window

    l = (
        _t(spark, sf_dir, "lineitem")
        .join(
            F.broadcast(_t(spark, sf_dir, "part").select("p_partkey", "p_brand")),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .select(
            F.col("p_brand").alias("brand"),
            F.expr(
                "CAST(round(l_extendedprice * 100) AS BIGINT)"
                " div CAST(l_quantity AS BIGINT)"
            ).alias("unit_cents"),
            F.col("l_quantity").cast("bigint").alias("qty"),
            "l_orderkey",
            "l_linenumber",
        )
    )
    wcum = (
        Window.partitionBy("brand")
        .orderBy("unit_cents", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wtot = Window.partitionBy("brand")
    c = l.withColumn("cumqty", F.sum("qty").over(wcum)).withColumn(
        "total_qty", F.sum("qty").over(wtot)
    )
    return (
        c.filter(F.expr("cumqty >= (total_qty + 1) div 2"))
        .groupBy("brand", F.col("total_qty").cast("bigint").alias("total_qty"))
        .agg(F.min("unit_cents").cast("bigint").alias("weighted_median_unit_cents"))
        .select("brand", "total_qty", "weighted_median_unit_cents")
    )


@query("hapax_ratio_by_source",
    _ORACLES["hapax_ratio_by_source"],
    "X4 lexical health: per-source type and hapax censuses (type-token + hapax share in exact ppm) — collapsed hapax = templated source, exploded types = noise",
)
def q_hapax_ratio_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical richness per source: the type-token ratio and the share
    of within-source hapax legomena. A templated source repeats itself
    (hapax share collapses); a noisy source mints tokens (type-token
    explodes) — both are curation signals the corpus-level Heaps/Zipf
    fits average away. One explode + one (source, token) aggregate +
    one bounded rollup; exact integers."""
    from finance_reporting_etl_spark.functions.text import whitespace_tokens

    toks = _t(spark, sf_dir, "documents").select(
        "source",
        F.explode(whitespace_tokens(F.lower(F.col("text")))).alias("token"),
    )
    tf = toks.groupBy("source", "token").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    return tf.groupBy("source").agg(
        F.sum("n").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        F.sum((F.col("n") == 1).cast("int")).cast("bigint").alias("n_hapax"),
    ).selectExpr(
        "source",
        "n_tokens",
        "n_types",
        "n_hapax",
        "CAST(n_types * 1000000 div n_tokens AS BIGINT) AS type_token_ppm",
        "CAST(n_hapax * 1000000 div n_types AS BIGINT) AS hapax_ppm",
    )


@query("shuffle_partition_planner",
    _ORACLES["shuffle_partition_planner"],
    "S-tier capacity planning: exact per-table byte footprint (fixed widths + measured string bytes) -> partitions at a 128 MiB target and rows per partition — shuffle sizing FROM the data, not guessed",
)
def q_shuffle_partition_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """spark.sql.shuffle.partitions is the config everyone guesses:
    this mart computes it. Exact byte footprint per fact table — fixed
    widths for fixed-width columns plus MEASURED string bytes — then
    partitions at the 128 MiB planning target and the implied rows per
    partition. Four 1-row aggregates (bounded scalar class) unioned;
    the number that seeds maxPartitionBytes/shuffle-partition sizing
    at 1000x this fixture."""
    specs = [
        ("orders", "orders",
         "count(*) * 36 + sum(length(o_orderstatus) + length(o_orderpriority))"),
        ("lineitem", "lineitem",
         "count(*) * 60 + sum(length(l_returnflag) + length(l_linestatus))"),
        ("events", "events",
         "count(*) * 36 + sum(length(event_type) + length(props))"),
        ("documents", "documents",
         "count(*) * 16 + sum(length(text) + length(lang) + length(source))"),
    ]
    outs = []
    for name, tbl, bytes_expr in specs:
        outs.append(
            _t(spark, sf_dir, tbl).agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.expr(f"CAST({bytes_expr} AS BIGINT)").alias("est_bytes"),
            ).selectExpr(f"'{name}' AS table_name", "n_rows", "est_bytes")
        )
    t = outs[0]
    for o in outs[1:]:
        t = t.unionByName(o)
    return t.selectExpr(
        "table_name",
        "n_rows",
        "est_bytes",
        "CAST((est_bytes + 134217727) div 134217728 AS BIGINT)"
        " AS partitions_128mb",
        "CAST(n_rows div ((est_bytes + 134217727) div 134217728) AS BIGINT)"
        " AS rows_per_partition",
    )


# ---------------------------------------------------------------------------
# Round-10 wave 51 — resample consistency, attribution sweep, Q16 spirit
# ---------------------------------------------------------------------------


@query("ohlc_resample_consistency",
    _ORACLES["ohlc_resample_consistency"],
    "§2.5/timeseries QA: hourly OHLC bars re-aggregated to daily must equal direct daily bars — the multi-granularity conservation law as a query; exact integer cents, integer match flags",
)
def q_ohlc_resample_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Any bar store serving multiple granularities owes this
    invariant: rolling hourly candles up (first hour's open, extrema,
    last hour's close) must reproduce the daily candle computed
    directly from ticks. Both paths run the min_by/max_by one-pass
    aggregation (operators/timeseries.ohlc_bars — no per-group sort),
    the roll-up rides min_by/max_by on the hour key, and the match is
    an integer flag per (series, day). A 0 anywhere means the tick key
    is ambiguous or the roll-up convention drifted — the two ways a
    bar pipeline silently lies."""
    from finance_reporting_etl_spark.operators.timeseries import ohlc_bars

    e = (
        _t(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.col("ts").cast("date").alias("day"),
            F.date_trunc("hour", "ts").alias("hr"),
            "ts",
            "event_id",
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        )
    )
    hb = ohlc_bars(e, ["event_type", "day", "hr"], "ts", "event_id", "cents")
    hkey = F.col("hr")
    up = hb.groupBy("event_type", "day").agg(
        F.min_by("open_cents", hkey).cast("bigint").alias("open_up"),
        F.max("high_cents").cast("bigint").alias("high_up"),
        F.min("low_cents").cast("bigint").alias("low_up"),
        F.max_by("close_cents", hkey).cast("bigint").alias("close_up"),
        F.sum("n_ticks").cast("bigint").alias("n_up"),
    )
    dd = ohlc_bars(e, ["event_type", "day"], "ts", "event_id", "cents").select(
        F.col("event_type").alias("d_type"),
        F.col("day").alias("d_day"),
        F.col("open_cents").alias("open_d"),
        F.col("high_cents").alias("high_d"),
        F.col("low_cents").alias("low_d"),
        F.col("close_cents").alias("close_d"),
        F.col("n_ticks").alias("n_d"),
    )
    return (
        up.join(
            dd,
            (F.col("d_type") == F.col("event_type")) & (F.col("d_day") == F.col("day")),
        )
        .select(
            "event_type",
            "day",
            "open_up",
            "high_up",
            "low_up",
            "close_up",
            "n_up",
            (
                (F.col("open_up") == F.col("open_d"))
                & (F.col("high_up") == F.col("high_d"))
                & (F.col("low_up") == F.col("low_d"))
                & (F.col("close_up") == F.col("close_d"))
                & (F.col("n_up") == F.col("n_d"))
            )
            .cast("bigint")
            .alias("consistent"),
        )
    )


@query("attribution_window_sweep",
    _ORACLES["attribution_window_sweep"],
    "J-tier marketing analytics: attribution-window sweep (1h/6h/24h) — attributed purchases, view credits, coverage ppm per window via bucketed range joins; the window knob measured, not argued",
)
def q_attribution_window_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOW FAR back to credit: a 1-hour window starves attribution, a
    24-hour window credits everything that moved — this sweep measures
    purchases attributed and view credits at each setting so the knob
    is chosen on evidence. Per window one bucketed range_join
    (intervals discretized onto (bucket, user) equi-keys — the
    attribution_window_join operator, never a nested loop) reduced to
    a census row; purchases with zero views stay counted via the
    purchase-total broadcast."""
    from finance_reporting_etl_spark.operators.rangejoin import range_join

    ev = _t(spark, sf_dir, "events")
    hour_us = 3_600_000_000
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.unix_micros("ts").alias("t")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.unix_micros("ts").alias("pt")
    )
    np_ = purchases.agg(F.count(F.lit(1)).cast("bigint").alias("n_purchases"))
    outs = []
    for wh in (1, 6, 24):
        iv = purchases.select(
            "event_id",
            "user_id",
            (F.col("pt") - wh * hour_us).alias("lo"),
            F.col("pt").alias("hi"),
        )
        hits = range_join(
            views, iv, "t", "lo", "hi",
            bucket_width=wh * hour_us, extra_eq=["user_id"],
        )
        per_p = hits.groupBy("event_id").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_views")
        )
        outs.append(
            per_p.agg(
                F.count(F.lit(1)).cast("bigint").alias("attributed_purchases"),
                F.sum("n_views").cast("bigint").alias("total_view_credits"),
            )
            .crossJoin(F.broadcast(np_))
            .selectExpr(
                f"CAST({wh} AS BIGINT) AS win_hours",
                "n_purchases",
                "attributed_purchases",
                "total_view_credits",
                "CAST(attributed_purchases * 1000000 div n_purchases"
                " AS BIGINT) AS coverage_ppm",
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.select(
        "win_hours", "n_purchases", "attributed_purchases",
        "total_view_credits", "coverage_ppm",
    )


@query("q16_supplier_variety",
    _ORACLES["q16_supplier_variety"],
    "J-tier sourcing breadth (TPC-H Q16 spirit from lineitem observations): distinct suppliers per (brand, type) minus a deterministic exclusion set; exact integers",
)
def q_q16_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16's sourcing-breadth question without partsupp: how many
    distinct suppliers each (brand, type) has actually shipped
    through, excluding the flagged set (suppkey % 13 == 0 standing in
    for complaint-flagged suppliers). One filtered join + one distinct
    aggregate on the composite grain; part broadcast. Completes the
    Q2/Q11/Q16 trio of observation-based partsupp analogs
    (cheapest_supplier_per_part, supplier_value_concentration)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_suppkey") % 13 != 0
    ).select("l_partkey", "l_suppkey")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_type")
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy(F.col("p_brand").alias("brand"), F.col("p_type").alias("ptype"))
        .agg(
            F.countDistinct("l_suppkey").cast("bigint").alias("supplier_cnt"),
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        )
    )


# ---------------------------------------------------------------------------
# Round-10 wave 52 — LSH uniformity, cutoff risk, accepted values
# ---------------------------------------------------------------------------


@query("lsh_bucket_uniformity",
    _ORACLES["lsh_bucket_uniformity"],
    "X2/X3 sketch QA: LSH bucket occupancy census + chi-square GOF vs uniform per hash table — a skewed table degrades to a hot-bucket scan; persisted-bucket oracle, exact moments",
)
def q_lsh_bucket_uniformity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ARE the hyperplanes fair: a skewed hash table concentrates
    vectors into hot buckets — candidate counts explode there and
    recall starves elsewhere, while averages look fine. Per table:
    occupancy census, max-over-expected ppm, and the chi-square GOF
    statistic against uniform (16 buckets at 4 planes), from exact
    BIGINT moments over the persisted bucket index. The LSH sibling
    of ivf_cell_balance / shard_balance_audit."""
    from finance_reporting_etl_spark.operators.similarity import (
        hyperplane_buckets,
    )

    emb = _t(spark, sf_dir, "embeddings")
    buckets = _persist_aux(
        spark, hyperplane_buckets(emb, n_planes=4, n_tables=8), "unif_buckets"
    )
    occ = buckets.groupBy("tbl", "bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    m = occ.groupBy("tbl").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        F.sum("n").cast("bigint").alias("n_vecs"),
        F.max("n").cast("bigint").alias("max_bucket"),
        F.sum(F.col("n") * F.col("n")).cast("bigint").alias("sum_sq"),
    )
    return m.selectExpr(
        "tbl",
        "n_buckets",
        "n_vecs",
        "max_bucket",
        "CAST(max_bucket * 16 * 1000000 div n_vecs AS BIGINT)"
        " AS max_over_expected_ppm",
        "CAST(16.0 AS DOUBLE) * CAST(sum_sq AS DOUBLE)"
        " / CAST(n_vecs AS DOUBLE) - CAST(n_vecs AS DOUBLE) AS chi2_uniform",
    )


@query("cutoff_risk_census",
    _ORACLES["cutoff_risk_census"],
    "§2.4/audit: accrual cut-off exposure per order month — lines shipping in a later month than ordered, exact counts + ppm; the period-end census an auditor samples around",
)
def q_cutoff_risk_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue recognized in the wrong period hides exactly here: per
    order month, the line items that shipped in a LATER month than
    they were ordered — the population a cut-off test samples. One
    fact join on the order key + one month-grain aggregate; exact
    integer counts and crossing share in ppm. Companion of
    revenue_recognition_monthly (which BOOKS by the convention this
    census stress-tests)."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.date_trunc("month", "o_orderdate").alias("om"),
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.date_trunc("month", "l_shipdate").alias("sm")
    )
    j = li.join(o, F.col("o_orderkey") == F.col("l_orderkey")).select(
        F.col("om").cast("date").alias("order_month"),
        (F.col("sm") == F.col("om")).cast("int").alias("same_month"),
    )
    return (
        j.groupBy("order_month")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.sum("same_month").cast("bigint").alias("same_month_lines"),
        )
        .selectExpr(
            "order_month",
            "n_lines",
            "same_month_lines",
            "CAST(n_lines - same_month_lines AS BIGINT) AS later_month_lines",
            "CAST((n_lines - same_month_lines) * 1000000 div n_lines"
            " AS BIGINT) AS crossing_ppm",
        )
    )


@query("accepted_values_census",
    _ORACLES["accepted_values_census"],
    "O-tier data quality: accepted-values census per enum column (rows outside the declared domain, exact ppm) — dbt's accepted_values test as a queryable mart",
)
def q_accepted_values_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The enum-domain contract, reported instead of asserted: per
    declared-domain column, rows outside the accepted set and the
    distinct-value count (a new value shows up as n_distinct moving
    before anything breaks). Four 1-row aggregates (bounded scalar
    class) unioned; a clean fixture reads zero unexpected — the mart
    exists for the load that breaks it. Completes the dbt-test mart
    family (referential_orphan_census, table_freshness_audit)."""
    specs = [
        ("orders.o_orderstatus", "orders", "o_orderstatus", ("F", "O", "P")),
        ("lineitem.l_returnflag", "lineitem", "l_returnflag", ("A", "N", "R")),
        ("lineitem.l_linestatus", "lineitem", "l_linestatus", ("F", "O")),
        ("documents.lang", "documents", "lang", ("en", "fr", "es", "de", "zh")),
    ]
    outs = []
    for name, tbl, col, accepted in specs:
        lst = ", ".join(f"'{v}'" for v in accepted)
        outs.append(
            _t(spark, sf_dir, tbl).agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.expr(
                    f"CAST(sum(CASE WHEN {col} IN ({lst}) THEN 0 ELSE 1 END)"
                    " AS BIGINT)"
                ).alias("n_unexpected"),
                F.countDistinct(col).cast("bigint").alias("n_distinct"),
            ).selectExpr(
                f"'{name}' AS col_name", "n_rows", "n_unexpected", "n_distinct"
            )
        )
    t = outs[0]
    for o in outs[1:]:
        t = t.unionByName(o)
    return t.selectExpr(
        "col_name",
        "n_rows",
        "n_unexpected",
        "n_distinct",
        "CAST(n_unexpected * 1000000 div n_rows AS BIGINT) AS unexpected_ppm",
    )


# ---------------------------------------------------------------------------
# Round-10 wave 53 — graph assortativity, price indices, lang confidence
# ---------------------------------------------------------------------------


@query("copurchase_degree_assortativity",
    _ORACLES["copurchase_degree_assortativity"],
    "§2.5/graph analytics: degree assortativity of the co-purchase graph — Pearson over edge endpoint degrees from exact BIGINT moments; hub-with-hub vs hub-with-tail selling in one number",
)
def q_copurchase_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DO hubs sell with hubs: positive assortativity means bundles
    concentrate among popular parts (promote together), negative means
    popular parts pull the long tail (recommendation opportunity). One
    number summarizes what pagerank/triangle censuses show piecewise.
    Degrees come from one aggregate over the shared persisted pair
    table (symmetric by construction); all four moments are exact
    BIGINTs; r is one shared-text IEEE expression."""
    pairs = _copurchase_pairs(spark, sf_dir).select("src", "dst")
    deg = pairs.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    )
    ds = deg.select(F.col("id").alias("s_id"), F.col("d").alias("du"))
    dd = deg.select(F.col("id").alias("d_id"), F.col("d").alias("dv"))
    m = (
        pairs.join(F.broadcast(ds), F.col("s_id") == F.col("src"))
        .join(F.broadcast(dd), F.col("d_id") == F.col("dst"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_edges"),
            F.sum("du").cast("bigint").alias("sum_d"),
            F.sum(F.col("du") * F.col("du")).cast("bigint").alias("sum_d2"),
            F.sum(F.col("du") * F.col("dv")).cast("bigint").alias("sum_dudv"),
        )
    )
    return m.selectExpr(
        "n_edges",
        "sum_d",
        "sum_d2",
        "sum_dudv",
        "(CAST(n_edges AS DOUBLE) * CAST(sum_dudv AS DOUBLE)"
        " - CAST(sum_d AS DOUBLE) * CAST(sum_d AS DOUBLE))"
        " / (CAST(n_edges AS DOUBLE) * CAST(sum_d2 AS DOUBLE)"
        " - CAST(sum_d AS DOUBLE) * CAST(sum_d AS DOUBLE))"
        " AS assortativity_r",
    )


@query("chained_price_index_monthly",
    _ORACLES["chained_price_index_monthly"],
    "§2.4/econ: chained Laspeyres/Paasche/Fisher price indices month over month — per-part lead() window (no self-join), exact BIGINT numerators, shared-text IEEE indices",
)
def q_chained_price_index_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inflation for THIS catalog: the canonical index-number trio per
    month — Laspeyres (base-weighted), Paasche (current-weighted),
    Fisher (their geometric mean) — over parts trading in consecutive
    months. Per-part unit prices are exact integer cents; consecutive
    months meet through a lead() window per part (the one-scan shape,
    never a self-join); every numerator/denominator is an exact BIGINT
    and the indices are shared-text divisions. Generalizes
    price_volume_mix_decomposition (one-step effects) into the
    time-series economists actually chain."""
    from pyspark.sql import Window

    mp = (
        _t(spark, sf_dir, "lineitem")
        .groupBy(
            F.date_trunc("month", "l_shipdate").cast("date").alias("month"),
            "l_partkey",
        )
        .agg(
            F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("qty"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("rev"),
        )
    )
    w = Window.partitionBy("l_partkey").orderBy("month")
    p = (
        mp.withColumn("unit", F.expr("rev div qty"))
        .withColumn("n_month", F.lead("month").over(w))
        .withColumn("n_qty", F.lead("qty").over(w))
        .withColumn("n_rev", F.lead("rev").over(w))
        .filter(F.col("n_month") == F.add_months("month", 1))
        .select(
            F.col("n_month").alias("month"),
            F.col("unit").alias("p0"),
            F.col("qty").alias("q0"),
            F.expr("n_rev div n_qty").alias("p1"),
            F.col("n_qty").alias("q1"),
        )
    )
    return (
        p.groupBy("month")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_common_parts"),
            F.sum(F.col("p1") * F.col("q0")).cast("bigint").alias("lasp_num"),
            F.sum(F.col("p0") * F.col("q0")).cast("bigint").alias("lasp_den"),
            F.sum(F.col("p1") * F.col("q1")).cast("bigint").alias("paasche_num"),
            F.sum(F.col("p0") * F.col("q1")).cast("bigint").alias("paasche_den"),
        )
        .selectExpr(
            "month",
            "n_common_parts",
            "lasp_num",
            "lasp_den",
            "paasche_num",
            "paasche_den",
            "CAST(lasp_num AS DOUBLE) / CAST(lasp_den AS DOUBLE)"
            " AS laspeyres_index",
            "CAST(paasche_num AS DOUBLE) / CAST(paasche_den AS DOUBLE)"
            " AS paasche_index",
            "sqrt((CAST(lasp_num AS DOUBLE) / CAST(lasp_den AS DOUBLE))"
            " * (CAST(paasche_num AS DOUBLE) / CAST(paasche_den AS DOUBLE)))"
            " AS fisher_index",
        )
    )


def _lang_margin_oracle() -> str:
    """Confidence-margin oracle composed over the language-ID marker
    hits: best minus second-best marker count per document, with the
    winner excluded from the runner-up via the same first-max-wins
    CASE the classifier uses."""
    from finance_reporting_etl_spark.functions.text import LANG_MARKERS

    langs = sorted(LANG_MARKERS)
    hit_exprs = []
    for lang, markers in sorted(LANG_MARKERS.items()):
        lst = ", ".join(f"'{m}'" for m in markers)
        hit_exprs.append(
            f"len(list_filter({_TOKS}, t -> list_contains([{lst}], t)))"
            f" AS h_{lang}"
        )
    best = "greatest(" + ", ".join(f"h_{lang}" for lang in langs) + ")"
    winner = "CASE WHEN " + best + " = 0 THEN 'und' " + " ".join(
        f"WHEN h_{lang} = {best} THEN '{lang}'" for lang in langs
    ) + " END"
    second = "greatest(" + ", ".join(
        f"(CASE WHEN lang_guess = '{lang}' THEN -1 ELSE h_{lang} END)"
        for lang in langs
    ) + ")"
    return f"""
    WITH h AS (SELECT doc_id, {', '.join(hit_exprs)} FROM documents),
    g AS (
        SELECT doc_id, {', '.join('h_' + la for la in langs)},
               CAST({best} AS BIGINT) AS best_hits,
               {winner} AS lang_guess
        FROM h
    )
    SELECT doc_id, lang_guess, best_hits,
           CAST(greatest({second}, 0) AS BIGINT) AS second_hits,
           CAST(best_hits - greatest({second}, 0) AS BIGINT) AS margin,
           CAST(CASE WHEN best_hits - greatest({second}, 0) >= 2
                THEN 1 ELSE 0 END AS BIGINT) AS is_confident
    FROM g
    """


@query("lang_id_confidence_margin",
    _lang_margin_oracle(),
    "X4 classifier confidence: per-doc margin between best and second-best language marker counts — the routing signal between accept / send-to-review; exact integers",
)
def q_lang_id_confidence_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A guess with margin 1 is a coin flip; a guess with margin 5 is
    a fact: per document, the winning marker count, the runner-up
    (winner excluded via the same first-max-wins rule the classifier
    applies), and the margin that routes docs between auto-accept and
    review. Map-side only — marker hits ride the document scan; the
    kappa/confusion family (waves 34, 37) gets its per-document
    confidence companion."""
    from finance_reporting_etl_spark.functions.text import (
        LANG_MARKERS,
        _marker_hits,
        language_guess,
        whitespace_tokens,
    )

    docs = _t(spark, sf_dir, "documents")
    toks = whitespace_tokens(F.col("text"))
    hits = {
        lang: _marker_hits(toks, ms) for lang, ms in sorted(LANG_MARKERS.items())
    }
    g = docs.select(
        "doc_id",
        language_guess("text").alias("lang_guess"),
        F.greatest(*hits.values()).cast("bigint").alias("best_hits"),
        *[h.alias(f"h_{lang}") for lang, h in sorted(hits.items())],
    )
    second = F.greatest(
        *[
            F.when(F.col("lang_guess") == lang, F.lit(-1)).otherwise(
                F.col(f"h_{lang}")
            )
            for lang in sorted(LANG_MARKERS)
        ]
    )
    return g.select(
        "doc_id",
        "lang_guess",
        "best_hits",
        F.greatest(second, F.lit(0)).cast("bigint").alias("second_hits"),
        (F.col("best_hits") - F.greatest(second, F.lit(0)))
        .cast("bigint")
        .alias("margin"),
        (
            (F.col("best_hits") - F.greatest(second, F.lit(0))) >= 2
        )
        .cast("bigint")
        .alias("is_confident"),
    )


# ---------------------------------------------------------------------------
# Round-10 wave 54 — watermark evidence, behavior drift
# ---------------------------------------------------------------------------


@query("watermark_disorder_census",
    _ORACLES["watermark_disorder_census"],
    "§2.8 streaming ops: lateness-bucket census on deterministically jittered arrivals (md5 integer delays) — the out-of-orderness evidence a watermark delay is chosen from; per-user windows, exact integers",
)
def q_watermark_disorder_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How late is late: the watermark delay everyone sets by folklore
    is a quantile of THIS census — per event, how far the event-time
    high-water mark had already passed it when it arrived. Arrivals
    are event time + an md5-seeded integer delay (pure modulo, so the
    synthetic disorder is bit-identical in both engines — the same
    trick the DP/noise operators use for reproducibility); lateness
    buckets 0 / <=60s / <=5min / >5min. Per-user arrival windows (the
    same partitioning a per-key watermark would use); one bounded
    census. Companion of streaming_watermark_late_drop, which APPLIES
    a watermark this census would justify."""
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("t_us"),
        (
            F.unix_micros("ts")
            + F.conv(
                F.substring(
                    F.md5(F.concat(F.col("event_id").cast("string"), F.lit("arr"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint")
            % 600000000
        ).alias("arr_us"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("arr_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    r = e.withColumn("hwm_us", F.max("t_us").over(w))
    l = r.select(
        F.when(
            F.col("hwm_us").isNull() | (F.col("hwm_us") <= F.col("t_us")), 0
        )
        .when(F.col("hwm_us") - F.col("t_us") <= 60000000, 1)
        .when(F.col("hwm_us") - F.col("t_us") <= 300000000, 2)
        .otherwise(3)
        .cast("bigint")
        .alias("lateness_bucket")
    )
    from pyspark.sql import Window as W2

    tot = W2.partitionBy()
    return (
        l.groupBy("lateness_bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
        .withColumn("__tot", F.sum("n_events").over(tot))
        .withColumn(
            "share_ppm",
            F.expr("(n_events * 1000000) div __tot").cast("bigint"),
        )
        .drop("__tot")
    )


@query("transition_drift_by_state",
    _ORACLES["transition_drift_by_state"],
    "§2.5/drift: total-variation distance between first-half and second-half Markov transition rows per source state — exact cross-multiplied integers over the bounded alphabet; the stationarity check behind event_transition_matrix",
)
def q_transition_drift_by_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A transition matrix is only useful if behavior is stationary:
    per source state, the total-variation distance between the
    first-half and second-half transition rows — exact through the
    cross-multiplied form sum|c1*n2 - c2*n1| / (2*n1*n2) over the
    bounded destination alphabet, so no per-cell float probabilities
    ever exist. One lead() pass builds the pairs (the
    event_transition_matrix shape); the halfway cutoff is the exact
    epoch-microsecond midpoint (min+max) div 2 of the RAW event
    timestamps — derived from the data itself via a cheap column-
    pruned min/max scan (no second window pass) riding a 1-row
    broadcast (the temporal_split_audit pattern), so the split works
    at any SF / date range; two conditional sums split the halves in
    the same aggregate."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    p = (
        ev.select(
            F.col("event_type").alias("src"),
            F.lead("event_type").over(w).alias("dst"),
            F.unix_micros("ts").alias("t_us"),
        )
        .filter(F.col("dst").isNotNull())
    )
    mid = ev.agg(
        F.expr(
            "(min(unix_micros(ts)) + max(unix_micros(ts))) div 2"
        ).cast("bigint").alias("mid_us")
    )
    c = (
        p.crossJoin(F.broadcast(mid))
        .groupBy("src", "dst")
        .agg(
            F.sum((F.col("t_us") <= F.col("mid_us")).cast("int"))
            .cast("bigint")
            .alias("c1"),
            F.sum((F.col("t_us") > F.col("mid_us")).cast("int"))
            .cast("bigint")
            .alias("c2"),
        )
    )
    t = c.groupBy(F.col("src").alias("t_src")).agg(
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum("c2").cast("bigint").alias("n2"),
    )
    return (
        c.join(F.broadcast(t), F.col("t_src") == F.col("src"))
        .groupBy("src", "n1", "n2")
        .agg(
            F.sum(F.abs(F.col("c1") * F.col("n2") - F.col("c2") * F.col("n1")))
            .cast("bigint")
            .alias("l1_num")
        )
        .selectExpr(
            "src",
            "n1",
            "n2",
            "l1_num",
            # guard: if a state has no pairs in one half (n1*n2 = 0) the
            # TV distance is undefined — emit NULL identically in both
            # engines instead of diverging (Spark div→NULL, DuckDB //→err)
            "CASE WHEN n1 * n2 > 0 THEN "
            "CAST(l1_num * 1000000 div (2 * n1 * n2) AS BIGINT) END AS tv_ppm",
        )
    )


# ---------------------------------------------------------------------------
# Round-10 wave 55 — growth accounting
# ---------------------------------------------------------------------------


@query("growth_accounting_weekly",
    _ORACLES["growth_accounting_weekly"],
    "A-tier SaaS finance: weekly growth accounting — revenue delta decomposed into new + resurrected + expansion - contraction - churned cohorts, identity exact in BIGINT cents by construction",
)
def q_growth_accounting_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHERE did the growth come from: the revenue-change bridge every
    SaaS board deck carries — new customers (first-ever week),
    resurrected (returning after a lapse of >= 2 weeks), expansion and
    contraction among retained ones, churned revenue — with the
    identity delta == new + resurrected + expansion - contraction
    - churned holding in exact cents BY CONSTRUCTION (every user-week
    lands in exactly one term). One full outer join of the user-week
    frame against itself shifted a week (composite key-equi-join,
    co-partitioned) plus a per-user first-week equi-join on the same
    key; bounds ride a 1-row broadcast. Completes the retention suite:
    NRR gives the ratio, this gives the decomposition it summarizes."""
    uw = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .groupBy(
            "user_id", F.date_trunc("week", "ts").cast("date").alias("week")
        )
        .agg(F.round(F.sum("value") * 100).cast("bigint").alias("cents"))
    )
    bounds = uw.agg(
        F.min("week").alias("minw"), F.max("week").alias("maxw")
    )
    firstw = uw.groupBy(F.col("user_id").alias("f_user")).agg(
        F.min("week").alias("first_week")
    )
    cur = (
        uw.crossJoin(F.broadcast(bounds))
        .filter(F.col("week") > F.col("minw"))
        .select("user_id", "week", "cents")
    )
    prv = uw.select(
        F.col("user_id").alias("p_user"),
        F.date_add("week", 7).alias("p_week"),
        F.col("cents").alias("pcents"),
    )
    j = (
        cur.join(
            prv,
            (F.col("p_user") == F.col("user_id"))
            & (F.col("p_week") == F.col("week")),
            "full_outer",
        )
        .select(
            F.coalesce(F.col("user_id"), F.col("p_user")).alias("uid"),
            F.coalesce(F.col("week"), F.col("p_week")).alias("wk"),
            "cents",
            "pcents",
        )
        .join(firstw, F.col("f_user") == F.col("uid"))
        .select("wk", "cents", "pcents", "first_week")
    )
    out = (
        j.crossJoin(F.broadcast(bounds))
        .filter((F.col("wk") <= F.col("maxw")) & (F.col("wk") > F.col("minw")))
        .groupBy(F.col("wk").alias("week"))
        .agg(
            F.sum(
                F.when(
                    F.col("pcents").isNull()
                    & (F.col("wk") == F.col("first_week")),
                    F.col("cents"),
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("new_cents"),
            F.sum(
                F.when(
                    F.col("pcents").isNull()
                    & (F.col("wk") > F.col("first_week")),
                    F.col("cents"),
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("resurrected_cents"),
            F.sum(
                F.when(
                    F.col("cents").isNotNull()
                    & F.col("pcents").isNotNull()
                    & (F.col("cents") > F.col("pcents")),
                    F.col("cents") - F.col("pcents"),
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("expansion_cents"),
            F.sum(
                F.when(
                    F.col("cents").isNotNull()
                    & F.col("pcents").isNotNull()
                    & (F.col("cents") < F.col("pcents")),
                    F.col("pcents") - F.col("cents"),
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("contraction_cents"),
            F.sum(F.when(F.col("cents").isNull(), F.col("pcents")).otherwise(0))
            .cast("bigint")
            .alias("churned_cents"),
            F.sum(F.coalesce(F.col("cents"), F.lit(0)))
            .cast("bigint")
            .alias("revenue_cents"),
            (
                F.sum(F.coalesce(F.col("cents"), F.lit(0)))
                - F.sum(F.coalesce(F.col("pcents"), F.lit(0)))
            )
            .cast("bigint")
            .alias("delta_cents"),
        )
    )
    return out


# ---------------------------------------------------------------------------
# Round-11 wave 1 — layered ANN QA, dedup Pareto frontier, backfill proof
# ---------------------------------------------------------------------------


@query("hnsw_layer_reciprocity",
    _ORACLES["hnsw_layer_reciprocity"],
    "X3 ANN QA: HNSW-style layered reciprocity — level-0 vs level-1 (1-in-8 nodes) mutual-kNN census from ONE persisted integer-scored candidate graph; extends knn_graph_reciprocity to the layer structure graph-ANN actually routes through",
)
def q_hnsw_layer_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-ANN (HNSW-style) search greedy-descends an upper layer
    before refining in layer 0 — if the UPPER layer's neighborhood
    graph is asymmetric, descent strands in the wrong region and no
    layer-0 quality can recover it. Level 1 keeps nodes with
    vec_id % 8 == 0 (deterministic stand-in for HNSW's geometric level
    assignment, p=1/8) and re-ranks its own top-k among surviving
    candidates — the layer's REAL neighbor lists, not a filtered view
    of layer 0's. Candidates and cosine come from the shared
    _lsh_candidate_scores pipeline (same derivation as
    knn_graph_reciprocity); the oracle independently re-derives
    candidates, cosine, micro scores, layers, ranks, and mutual edges
    from the persisted BUCKET table, so a Spark-side scoring bug
    cannot hide. The scored pairs persist as exact micro-ints only as
    a Spark-internal cache — both layer passes re-read it, so cosine
    is computed once per run."""
    from pyspark.sql import Window

    emb = _t(spark, sf_dir, "embeddings")
    scored = _persist_aux(
        spark,
        _lsh_candidate_scores(spark, sf_dir, "hnsw_layer_buckets").select(
            "src",
            "dst",
            F.round(F.col("score") * 1000000).cast("bigint").alias("score_micro"),
        ),
        "hnsw_scored_pairs",
    )

    def one(level: int) -> DataFrame:
        p = scored
        nodes = emb
        if level:
            p = p.filter((F.col("src") % 8 == 0) & (F.col("dst") % 8 == 0))
            nodes = nodes.filter(F.col("vec_id") % 8 == 0)
        w = Window.partitionBy("src").orderBy(
            F.col("score_micro").desc(), F.col("dst").asc()
        )
        tk = (
            p.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 10)
            .select("src", "dst", "rank")
        )
        rev = tk.select(
            F.col("dst").alias("src"),
            F.col("src").alias("dst"),
            F.col("rank").alias("rrank"),
        )
        j = tk.join(rev, ["src", "dst"], "left").select("rank", "rrank")
        aggs = []
        for k in (5, 10):
            aggs += [
                F.sum((F.col("rank") <= k).cast("int"))
                .cast("bigint")
                .alias(f"edges_{k}"),
                F.sum(((F.col("rank") <= k) & (F.col("rrank") <= k)).cast("int"))
                .cast("bigint")
                .alias(f"mutual_{k}"),
            ]
        nn = nodes.agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
        out = j.agg(*aggs).crossJoin(F.broadcast(nn))
        for k in (5, 10):
            out = out.withColumn(
                f"recip_ppm_{k}",
                F.expr(
                    f"(mutual_{k} * 1000000) div nullif(edges_{k}, 0)"
                ).cast("bigint"),
            )
        return out.select(
            F.lit(level).cast("int").alias("layer"),
            "n_nodes",
            "edges_5", "mutual_5", "recip_ppm_5",
            "edges_10", "mutual_10", "recip_ppm_10",
        )

    return one(0).unionByName(one(1))


@query("dedup_quality_pareto",
    _ORACLES["dedup_quality_pareto"],
    "X1/X2/X4 deletion-decision frontier: keep-best canonicalization composed with quality floors 0.0/0.25/0.5/0.75 — each row one policy's storage-saved vs corpus-retained point (docs, chars, BPE tokens, kept-quality sum), exact integers",
)
def q_dedup_quality_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deletion decision needs BOTH axes on one table: how much
    storage each policy saves and how much corpus (token mass,
    quality) it keeps. Each row is keep-best canonicalization plus a
    quality floor; threshold 0.0 is the pure-dedup endpoint, and a row
    that saves less AND keeps less than a neighbor is Pareto-dominated
    — exactly the savings-vs-quality frontier dedup_purge_savings and
    quality_filter_ablation each show only half of. ONE pass over the
    canonicalization frame (conditional sums per threshold in a single
    aggregate, unpivoted by stack) — the cluster closure is never
    recomputed per policy. quality is det-rounded 4dp so the micro sum
    is exact in both engines."""
    from finance_reporting_etl_spark.functions.text import bpe_ish_token_count

    x = _cluster_canonicalized(spark, sf_dir)
    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("did"),
        "n_chars",
        bpe_ish_token_count("text").cast("bigint").alias("bpe"),
    )
    base = x.join(d, x.doc_id == F.col("did")).select(
        "doc_id",
        "canonical_id",
        "quality",
        "n_chars",
        "bpe",
        F.round(F.col("quality") * 1000000).cast("bigint").alias("q_micro"),
    )
    tvals = (0.0, 0.25, 0.5, 0.75)
    aggs = [
        F.count(F.lit(1)).cast("bigint").alias("n_docs_total"),
        F.sum("n_chars").cast("bigint").alias("chars_total"),
        F.sum("bpe").cast("bigint").alias("tokens_total"),
    ]
    for i, t in enumerate(tvals):
        kept = (
            (F.col("doc_id") == F.col("canonical_id"))
            & (F.col("quality") >= F.lit(t))
        ).cast("int")
        aggs += [
            F.sum(kept).cast("bigint").alias(f"dk_{i}"),
            F.sum(kept * F.col("n_chars")).cast("bigint").alias(f"ck_{i}"),
            F.sum(kept * F.col("bpe")).cast("bigint").alias(f"tk_{i}"),
            F.sum(kept * F.col("q_micro")).cast("bigint").alias(f"qk_{i}"),
        ]
    one_row = base.agg(*aggs)
    stack_args = ", ".join(
        f"CAST({t} AS DOUBLE), dk_{i}, ck_{i}, tk_{i}, qk_{i}"
        for i, t in enumerate(tvals)
    )
    return one_row.selectExpr(
        f"stack({len(tvals)}, {stack_args}) AS "
        "(threshold, n_docs_kept, chars_kept, tokens_kept, "
        "kept_quality_micro_sum)",
        "n_docs_total",
        "chars_total",
        "tokens_total",
    ).selectExpr(
        "threshold",
        "n_docs_total",
        "n_docs_kept",
        "chars_total",
        "chars_kept",
        "CAST((chars_total - chars_kept) * 1000000"
        " div nullif(chars_total, 0) AS BIGINT) AS chars_saved_ppm",
        "tokens_total",
        "tokens_kept",
        "CAST(tokens_kept * 1000000 div nullif(tokens_total, 0) AS BIGINT)"
        " AS token_keep_ppm",
        "kept_quality_micro_sum",
    )


@query("mart_backfill_idempotency",
    _ORACLES["mart_backfill_idempotency"],
    "O5/S9 incremental-loading proof (reference README.md:558): rebuild the last-two-month window of the monthly finance mart from only that window's events, splice onto the untouched head, count divergence vs the full rebuild — n_value_mismatch must be 0",
)
def q_mart_backfill_idempotency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's incremental-loading promise (README.md:558)
    made testable: a partition-window backfill must reproduce the full
    rebuild bit-for-bit. The mart here is the flagship chain's monthly
    grain with exact BIGINT-cents legs (per-event round(value*100) —
    integer sums are order-free, so identity is decidable; the float
    mart shares this plan shape but a float sum's order is not a
    contract). Rebuilds months >= cutoff (= max month - 1) from a
    filtered scan, splices onto the head, and full-outer-joins against
    the full build on the mart grain. Cutoff rides a 1-row broadcast;
    both joins are co-partitioned composite-key equi-joins."""
    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("purchase", "click", "view"))
        .select(
            F.col("user_id").alias("symbol"),
            F.date_trunc("month", "ts").cast("date").alias("month"),
            "event_type",
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        )
    )

    def mart(src: DataFrame) -> DataFrame:
        return src.groupBy("symbol", "month").agg(
            F.sum(F.when(F.col("event_type") == "purchase", F.col("cents"))
                  .otherwise(0)).cast("bigint").alias("revenue_cents"),
            F.sum(F.when(F.col("event_type") == "click", F.col("cents"))
                  .otherwise(0)).cast("bigint").alias("assets_cents"),
            F.sum(F.when(F.col("event_type") == "view", F.col("cents"))
                  .otherwise(0)).cast("bigint").alias("ocf_cents"),
        )

    # the full build feeds SIX downstream references (bounds x3, head,
    # the compare side, the window count) — pin the mart-grain frame
    # once instead of re-running the events scan + aggregation per
    # branch; same bounded-materialization class as
    # cross_encoder_rerank_eval's ranked frame
    full = mart(ev).localCheckpoint()
    bounds = full.agg(
        F.add_months(F.max("month"), -1).alias("cutoff")
    )
    incr = mart(
        ev.crossJoin(F.broadcast(bounds))
        .filter(F.col("month") >= F.col("cutoff"))
        .select("symbol", "month", "event_type", "cents")
    )
    head = (
        full.crossJoin(F.broadcast(bounds))
        .filter(F.col("month") < F.col("cutoff"))
        .select(full.columns)
    )
    merged = head.unionByName(incr)
    f = full.select(
        F.col("symbol").alias("f_sym"),
        F.col("month").alias("f_month"),
        F.col("revenue_cents").alias("f_rev"),
        F.col("assets_cents").alias("f_ast"),
        F.col("ocf_cents").alias("f_ocf"),
    )
    m = merged.select(
        F.col("symbol").alias("m_sym"),
        F.col("month").alias("m_month"),
        F.col("revenue_cents").alias("m_rev"),
        F.col("assets_cents").alias("m_ast"),
        F.col("ocf_cents").alias("m_ocf"),
    )
    cmp = f.join(
        m,
        (F.col("m_sym") == F.col("f_sym")) & (F.col("m_month") == F.col("f_month")),
        "full_outer",
    )
    mismatch = (
        F.col("f_sym").isNotNull()
        & F.col("m_sym").isNotNull()
        & (
            (F.col("f_rev") != F.col("m_rev"))
            | (F.col("f_ast") != F.col("m_ast"))
            | (F.col("f_ocf") != F.col("m_ocf"))
        )
    ).cast("int")
    only_full = F.col("m_sym").isNull().cast("int")
    only_merged = F.col("f_sym").isNull().cast("int")
    return (
        cmp.crossJoin(F.broadcast(bounds))
        .agg(
            F.sum(F.col("f_sym").isNotNull().cast("int"))
            .cast("bigint")
            .alias("n_rows_full"),
            F.sum(F.col("m_sym").isNotNull().cast("int"))
            .cast("bigint")
            .alias("n_rows_merged"),
            F.sum(
                (F.col("f_sym").isNotNull()
                 & (F.col("f_month") >= F.col("cutoff"))).cast("int")
            )
            .cast("bigint")
            .alias("n_window_rows"),
            F.sum(only_full).cast("bigint").alias("n_only_full"),
            F.sum(only_merged).cast("bigint").alias("n_only_merged"),
            F.sum(mismatch).cast("bigint").alias("n_value_mismatch"),
        )
        .withColumn(
            "idempotent",
            (
                (F.col("n_only_full") + F.col("n_only_merged")
                 + F.col("n_value_mismatch")) == 0
            ).cast("int"),
        )
    )


# ---------------------------------------------------------------------------
# Round-12 wave — perceptual media dedup, semantic decontamination,
# shard-local ANN build/merge (VERDICT r11 task 6)
# ---------------------------------------------------------------------------


@query("phash_media_near_dup",
    _ORACLES["phash_media_near_dup"],
    "X2xX5 composition: perceptual-hash (aHash) image near-dup census — real PNG decode -> 8x8 average-hash -> shape-class + pigeonhole-chunk blocked hamming pairs; exact integer census per shape class",
)
def q_phash_media_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image dedup, the missing X2xX5 composition: every payload is a
    REAL PNG, decoded executor-side, hashed to a 64-bit aHash
    (8x8 nearest-neighbor patch, bit = integer r+g+b luminance strictly above the
    integer patch mean), and near-dup pairs (hamming <= 7) are found
    by shape-class + 8x8-bit pigeonhole chunk blocking — never an
    all-pairs scan, and by pigeonhole exactness the blocked result
    equals brute force within class, which is how the DuckDB oracle
    re-derives it from the pixel formula alone (so a match also
    proves the encode->deflate->decode->resample loop round-trips).
    Output: one exact-integer row per (width, height) shape class.
    Scale: hash = map-side Arrow batches (24-byte signatures
    regardless of media size); pairs = one equi-join shuffle over 8n
    signature rows."""
    from finance_reporting_etl_spark.operators.multimodal import (
        attach_synthetic_png,
        perceptual_hash_media,
        phash_class_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    sigs = perceptual_hash_media(attach_synthetic_png(docs))
    # signatures feed two legs (class census + pair join on 8 exploded
    # chunks); without a checkpoint the PNG encode+decode+hash UDF
    # chain re-executes once per leg
    sigs = sigs.localCheckpoint()
    cls = sigs.groupBy("width", "height").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    pairs = phash_class_pairs(sigs, max_hamming=7)
    pa = pairs.groupBy("width", "height").agg(
        F.count(F.lit(1)).cast("bigint").alias("__n_pairs"),
        F.sum((F.col("hamming") == 0).cast("int"))
        .cast("bigint")
        .alias("__n_exact"),
        F.sum("hamming").cast("bigint").alias("__hamming_sum"),
    )
    return cls.join(pa, ["width", "height"], "left").select(
        "width",
        "height",
        "n_docs",
        F.coalesce(F.col("__n_pairs"), F.lit(0)).cast("bigint").alias("n_pairs"),
        F.coalesce(F.col("__n_exact"), F.lit(0))
        .cast("bigint")
        .alias("n_exact_pairs"),
        F.coalesce(F.col("__hamming_sum"), F.lit(0))
        .cast("bigint")
        .alias("hamming_sum"),
    )


@query("semantic_decontamination",
    _ORACLES["semantic_decontamination"],
    "X3 embedding-level train/eval decontamination: held-out md5-bucket eval split probes the train-side IVF index, exact cosine over cell-blocked candidates, contaminated-train census per threshold; complements the n-gram decontaminate_4gram",
)
def q_semantic_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark leakage the n-gram screen can't see: a training vector
    whose EMBEDDING sits on top of an eval vector is a paraphrase
    contamination. The eval split (salted md5 bucket < 13, ~5%, its
    own salt so it is independent of every other split) probes the
    train-side IVF index at nprobe=4; candidates are cell-blocked
    (never train x eval all-pairs — the same read-amortized index the
    ANN family serves from), scored with exact cosine in det_round(6)
    micro-integers, and a train vector counts as contaminated at
    threshold t iff ANY probed eval vector scores >= t. Both the index
    and the probe table persist to parquet and the oracle re-derives
    candidates, scores, and counts from those bit-identical inputs.
    Output: one exact-integer row per threshold in the 0.30/0.35/0.40
    sweep."""
    from finance_reporting_etl_spark.functions.vectors import cosine_arrow
    from finance_reporting_etl_spark.operators.corpus import md5_bucket
    from finance_reporting_etl_spark.operators.similarity import (
        ivf_index,
        ivf_probes_for,
    )

    _cos_fx = cosine_arrow()
    emb = _t(spark, sf_dir, "embeddings")
    b = md5_bucket("vec_id", salt="semdecon")
    ev = emb.filter(b < 13)
    tr = emb.filter(b >= 13)
    index = _persist_aux(spark, ivf_index(tr), "semdecon_index")
    probes = _bounded_eval(
        _persist_aux(spark, ivf_probes_for(ev, nprobe=4), "semdecon_probes"),
        "semantic_decontamination",
    )
    cand = index.withColumnRenamed("id", "train_id").join(
        F.broadcast(probes), "cell"
    ).select("query_id", "train_id")
    vecs = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("v"))
    qv = vecs.withColumnsRenamed({"id": "query_id", "v": "q_vec"}).join(
        F.broadcast(probes.select("query_id").distinct()), "query_id"
    )
    tv = vecs.withColumnsRenamed({"id": "train_id", "v": "t_vec"})
    scored = (
        cand.join(F.broadcast(qv), "query_id")
        .join(tv, "train_id")
        .select(
            "train_id",
            det_micro(_cos_fx(F.col("q_vec"), F.col("t_vec")))
            .alias("score_micro"),
        )
    )
    mx = scored.groupBy("train_id").agg(F.max("score_micro").alias("mx"))
    counts = mx.agg(
        *[
            F.sum((F.col("mx") >= t).cast("int"))
            .cast("bigint")
            .alias(f"__c{t}")
            for t in (300000, 350000, 400000)
        ]
    )
    scalars = (
        probes.agg(
            F.countDistinct("query_id").cast("bigint").alias("n_eval")
        )
        .crossJoin(
            F.broadcast(
                index.agg(F.count(F.lit(1)).cast("bigint").alias("n_train"))
            )
        )
        .crossJoin(
            F.broadcast(
                cand.agg(
                    F.count(F.lit(1)).cast("bigint").alias("n_candidate_pairs")
                )
            )
        )
    )
    return (
        counts.crossJoin(F.broadcast(scalars))
        .selectExpr(
            "stack(3, "
            "CAST(300000 AS BIGINT), __c300000, "
            "CAST(350000 AS BIGINT), __c350000, "
            "CAST(400000 AS BIGINT), __c400000"
            ") AS (thresh_micro, n_contaminated)",
            "n_eval",
            "n_train",
            "n_candidate_pairs",
        )
        .selectExpr(
            "thresh_micro",
            "n_eval",
            "n_train",
            "n_candidate_pairs",
            "n_contaminated",
            "CAST(n_contaminated * 1000000 div n_train AS BIGINT)"
            " AS contam_ppm",
        )
    )


@query("ann_shard_merge_plan",
    _ORACLES["ann_shard_merge_plan"],
    "X3 serving ops: shard-local IVF index builds -> global merge-cost plan — per cell the shard fan-in, posting-list sizes, anchor-shard share, rows shipped, and merged bytes; exact integer census from the persisted assignment",
)
def q_ann_shard_merge_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOW a 1000-executor ANN index actually gets built: each build
    shard (salted md5 of vec_id, mod 8 — data-independent, so shards
    build with zero coordination) quantizes its vectors locally
    against the shared deterministic centroids, and the global index
    is a per-cell MERGE of shard-local posting lists. This is that
    merge's cost plan: per cell, how many shards contribute
    (fan-in), total and max-shard posting sizes, the anchor-shard
    share in ppm, rows shipped if the merge anchors at the largest
    holder, and merged bytes at fp32x64. The (id, cell) assignment
    persists to parquet; the oracle re-derives each vector's shard
    independently from the md5 formula and re-aggregates. Two
    map-side-combined groupBys — never a vector-by-vector shuffle of
    the payloads themselves."""
    from finance_reporting_etl_spark.operators.corpus import md5_bucket
    from finance_reporting_etl_spark.operators.similarity import ivf_index

    emb = _t(spark, sf_dir, "embeddings")
    index = _persist_aux(spark, ivf_index(emb), "shard_merge_index")
    per = (
        index.withColumn("shard", md5_bucket("id", salt="shard") % 8)
        .groupBy("cell", "shard")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    return (
        per.groupBy("cell")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shards"),
            F.sum("n").cast("bigint").alias("n_vecs"),
            F.max("n").cast("bigint").alias("max_shard_vecs"),
        )
        .selectExpr(
            "cell",
            "n_shards",
            "n_vecs",
            "max_shard_vecs",
            "CAST(max_shard_vecs * 1000000 div n_vecs AS BIGINT)"
            " AS max_share_ppm",
            "CAST(n_vecs - max_shard_vecs AS BIGINT) AS rows_moved",
            "CAST(n_vecs * 64 * 4 AS BIGINT) AS merged_bytes",
        )
    )


@query("phash_dedup_savings",
    _ORACLES["phash_dedup_savings"],
    "X1xX5 composition: exact-duplicate image purge savings — identical aHash clusters within a shape class, keep-one policy, savings in re-derivable decoded pixel bytes; exact integer census per class",
)
def q_phash_dedup_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHAT exact image dedup buys: cluster = identical 64-bit aHash
    within a (width, height) shape class (hamming 0 — the exact-dup
    end of the phash_media_near_dup spectrum, as dedup_purge_savings
    is to the text near-dup family), keeper = one image per cluster,
    savings measured in decoded pixel bytes (w*h*3 — a quantity the
    oracle can re-derive from the pixel formula, unlike zlib payload
    lengths which depend on codec settings). Two map-side-combined
    groupBys over 24-byte signatures; the decode/hash stage is the
    same no-shuffle Arrow path as the census. Output: one
    exact-integer row per shape class."""
    from finance_reporting_etl_spark.operators.multimodal import (
        attach_synthetic_png,
        perceptual_hash_media,
    )

    docs = _t(spark, sf_dir, "documents")
    sigs = perceptual_hash_media(attach_synthetic_png(docs))
    return _phash_savings_census(sigs)


def _phash_savings_census(sigs: DataFrame) -> DataFrame:
    """Per-shape-class exact-dup purge census over a signature table —
    shared by the batch query and the streaming maintenance twin (the
    streaming readback must aggregate IDENTICALLY to hit the shared
    oracle)."""
    cl = sigs.groupBy("width", "height", "hash_hi", "hash_lo").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    return (
        cl.groupBy("width", "height")
        .agg(
            F.sum("n").cast("bigint").alias("n_images"),
            F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
            F.max("n").cast("bigint").alias("max_cluster_size"),
        )
        .selectExpr(
            "width",
            "height",
            "n_images",
            "n_clusters",
            "CAST(n_images - n_clusters AS BIGINT) AS n_purged",
            "max_cluster_size",
            "CAST((n_images - n_clusters) * width * height * 3 AS BIGINT)"
            " AS purged_pixel_bytes",
            "CAST((n_images - n_clusters) * 1000000 div n_images AS BIGINT)"
            " AS purged_ppm",
        )
    )


@query("decontamination_method_agreement",
    _ORACLES["decontamination_method_agreement"],
    "X-pipeline QA composition: n-gram vs semantic decontamination agreement on the SAME held-out split — 2x2 confusion matrix + Cohen's kappa over the train ids with embeddings; exact integers, kappa one double division",
)
def q_decontamination_method_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DO the two leak detectors agree: the n-gram screen
    (decontaminate_4gram's exact-overlap flag) and the embedding
    screen (the semantic_decontamination IVF+cosine flag at 0.30) run
    on the SAME salted split (md5(id || 'decon') < 13 = eval), over
    the universe of train ids that have embeddings. Low kappa means
    the screens see DIFFERENT leakage — the operational argument for
    running both at 100 TB. Matrix cells are exact BIGINTs; kappa
    follows the lang_id_agreement_kappa convention (exact integer
    marginal cross-products, one final double division). The n-gram
    leg broadcasts the tiny benchmark gram set; the semantic leg is
    cell-blocked through the persisted train-side index the oracle
    re-reads."""
    from finance_reporting_etl_spark.functions.vectors import cosine_arrow
    from finance_reporting_etl_spark.operators.corpus import (
        md5_bucket,
        ngram_decontaminate,
    )
    from finance_reporting_etl_spark.operators.similarity import (
        ivf_index,
        ivf_probes_for,
    )

    docs = _t(spark, sf_dir, "documents")
    bd = md5_bucket("doc_id", salt="decon")
    ng = ngram_decontaminate(
        docs.filter(bd >= 13), docs.filter(bd < 13), n=4
    ).select(F.col("doc_id").alias("id"), F.lit(1).alias("f_ng"))

    _cos_fx = cosine_arrow()
    emb = _t(spark, sf_dir, "embeddings")
    bv = md5_bucket("vec_id", salt="decon")
    index = _persist_aux(spark, ivf_index(emb.filter(bv >= 13)), "deconagree_index")
    probes = _bounded_eval(
        _persist_aux(
            spark, ivf_probes_for(emb.filter(bv < 13), nprobe=4),
            "deconagree_probes",
        ),
        "decontamination_method_agreement",
    )
    cand = index.withColumnRenamed("id", "train_id").join(
        F.broadcast(probes), "cell"
    ).select("query_id", "train_id")
    vecs = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("v"))
    qv = vecs.withColumnsRenamed({"id": "query_id", "v": "q_vec"}).join(
        F.broadcast(probes.select("query_id").distinct()), "query_id"
    )
    tv = vecs.withColumnsRenamed({"id": "train_id", "v": "t_vec"})
    sem = (
        cand.join(F.broadcast(qv), "query_id")
        .join(tv, "train_id")
        .select(
            "train_id",
            det_micro(_cos_fx(F.col("q_vec"), F.col("t_vec")))
            .alias("score_micro"),
        )
        .groupBy("train_id")
        .agg(F.max("score_micro").alias("mx"))
        .filter(F.col("mx") >= 300000)
        .select(F.col("train_id").alias("id"), F.lit(1).alias("f_sem"))
    )
    # the flagged sets are data-dependent fractions of the train
    # universe — NOT bounded like the benchmark gram set — so no
    # broadcast hint: these are key-equi-joins AQE may still broadcast
    # at small scale but can shuffle at 100 TB
    uni = (
        index.select("id")
        .join(ng, "id", "left")
        .join(sem, "id", "left")
        .select(
            F.coalesce(F.col("f_ng"), F.lit(0)).alias("f_ng"),
            F.coalesce(F.col("f_sem"), F.lit(0)).alias("f_sem"),
        )
    )
    return (
        uni.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_universe"),
            F.sum(((F.col("f_ng") == 1) & (F.col("f_sem") == 1)).cast("int"))
            .cast("bigint")
            .alias("n_both"),
            F.sum(((F.col("f_ng") == 1) & (F.col("f_sem") == 0)).cast("int"))
            .cast("bigint")
            .alias("n_ngram_only"),
            F.sum(((F.col("f_ng") == 0) & (F.col("f_sem") == 1)).cast("int"))
            .cast("bigint")
            .alias("n_sem_only"),
            F.sum(((F.col("f_ng") == 0) & (F.col("f_sem") == 0)).cast("int"))
            .cast("bigint")
            .alias("n_neither"),
        )
        .selectExpr(
            "n_universe",
            "n_both",
            "n_ngram_only",
            "n_sem_only",
            "n_neither",
            "CAST((n_both + n_neither) * 1000000 div n_universe AS BIGINT)"
            " AS agree_ppm",
            "CAST((n_both + n_ngram_only) * (n_both + n_sem_only)"
            " + (n_sem_only + n_neither) * (n_ngram_only + n_neither)"
            " AS BIGINT) AS pe_num",
            "CAST((n_both + n_neither) * n_universe - ("
            "(n_both + n_ngram_only) * (n_both + n_sem_only)"
            " + (n_sem_only + n_neither) * (n_ngram_only + n_neither)"
            ") AS DOUBLE) / nullif(CAST(n_universe * n_universe - ("
            "(n_both + n_ngram_only) * (n_both + n_sem_only)"
            " + (n_sem_only + n_neither) * (n_ngram_only + n_neither)"
            ") AS DOUBLE), 0.0) AS kappa",
        )
    )


@query("streaming_phash_signature_maintain",
    _ORACLES["streaming_phash_signature_maintain"],
    "§2.8 x X5: streaming image-signature store maintenance — real PNG decode + aHash inside foreachBatch micro-batches, append-only signature sink, readback census == the batch purge census exactly (shared oracle)",
)
def q_streaming_phash_signature_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOW the image-dedup signature store is maintained at 100 TB:
    media arrives continuously, each micro-batch decodes and hashes
    ONLY its own payloads (the 24-byte signatures are per-doc rows —
    trivially mergeable, the KMV-sketch argument one level simpler),
    and the accumulated store answers the purge census at read time.
    Replayed as 3 micro-batches over documents via foreachBatch; the
    readback aggregates with the SAME census as phash_dedup_savings
    and must land on EXACTLY its rows (shared oracle — the
    streaming_value_drift_psi convention). Decode stays Arrow-batched
    map-side work inside each micro-batch; nothing ever rescans old
    payloads."""
    from finance_reporting_etl_spark.operators.multimodal import (
        attach_synthetic_png,
        perceptual_hash_media,
    )
    from finance_reporting_etl_spark.streaming.staging import replay_partials

    def batch_agg(batch: DataFrame) -> DataFrame:
        return perceptual_hash_media(attach_synthetic_png(batch))

    def readback(partials: DataFrame) -> DataFrame:
        sigs = partials.select(
            "doc_id", "width", "height", "hash_lo", "hash_hi"
        )
        return _phash_savings_census(sigs)

    return replay_partials(
        spark,
        lambda src: _t(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(3)
        .write.parquet(src),
        batch_agg,
        readback,
        "streaming_phash_signature_maintain",
    )


@query("semantic_decontamination_recall",
    _ORACLES["semantic_decontamination_recall"],
    "X3 screen tuning: semantic-decontamination recall vs candidate cost at nprobe=1/2/4/8 against the exact brute-force contaminated set at 0.30 — the nprobe S-curve for the leak screen (ann_ivf_nprobe_sweep's decon sibling); exact integer census",
)
def q_semantic_decontamination_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOW MUCH leakage the cheap screen misses: semantic
    decontamination serves from an IVF index, so its recall is an
    nprobe knob exactly like ANN retrieval — this sweep measures the
    flagged-train recall against the exact brute-force contaminated
    set at the same 0.30 threshold. Every IVF-flagged id is by
    construction in the truth set (same threshold over a candidate
    SUBSET), so recall = n_flagged / n_truth in exact ppm.

    Scale discipline (VERDICT r12 task 2): the audit's query set is a
    DETERMINISTIC FIXED-SIZE eval sample — the 64 eval-split ids with
    the smallest md5(vec_id || 'semdecon-k') digest (the bounded-
    sample idiom of the PQ codebook trainer, similarity.py:370). Both
    legs (brute-force truth AND the IVF probes) run on the same
    sample, so flagged stays a subset of truth; the truth leg is one
    O(n_train x 64) Arrow pass with a constant-size broadcast at any
    corpus size — never a fixed-FRACTION broadcast that grows with
    the table. recall_ppm is coalesced to -1 when n_truth = 0 so a
    degenerate fixture fails loudly instead of passing on NULL.

    Sweep shape: because rank-p probes are a PREFIX of rank-8 probes
    and a candidate lives in exactly ONE cell, a (query, train) pair
    has a single probe_rank and its membership at nprobe=p is just
    ``probe_rank <= p`` — so the whole curve needs ONE persisted
    ranked probe table, ONE cell join, and ONE cosine pass; the four
    sweep points are conditional sums over that one scored frame
    (first bench sample of the 4-independent-legs shape measured
    15.2 s; this is the redesign)."""
    from finance_reporting_etl_spark.functions.vectors import cosine_arrow
    from finance_reporting_etl_spark.operators.corpus import md5_bucket
    from finance_reporting_etl_spark.operators.similarity import (
        ivf_index,
        ivf_probes_ranked,
    )

    _cos_fx = cosine_arrow()
    emb = _t(spark, sf_dir, "embeddings")
    b = md5_bucket("vec_id", salt="semdecon")
    tr = emb.filter(b >= 13)
    # Deterministic fixed-size eval sample: md5-rank the eval split and
    # keep the lowest 64 digests (TakeOrderedAndProject — exactly K
    # rows cross the boundary no matter how large the split grows).
    ev = (
        emb.filter(b < 13)
        .withColumn(
            "__rk",
            F.md5(F.concat(F.col("vec_id").cast("string"), F.lit("semdecon-k"))),
        )
        .orderBy("__rk")
        .limit(64)
        .drop("__rk")
    )
    tn = (
        tr.select(F.col("vec_id").alias("train_id"), F.col("embedding").alias("t_vec"))
        .crossJoin(
            F.broadcast(
                ev.select(
                    F.col("vec_id").alias("query_id"),
                    F.col("embedding").alias("q_vec"),
                )
            )
        )
        .filter(det_micro(_cos_fx(F.col("q_vec"), F.col("t_vec"))) >= 300000)
        .select("train_id")
        .distinct()
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_truth"))
        # 1-row scalar feeding all four sweep rows — pin it once so the
        # eval x train cross-scoring doesn't re-execute per union leg
        .localCheckpoint()
    )
    index = _persist_aux(spark, ivf_index(tr), "semdecon_recall_index")
    probes = _bounded_eval(
        _persist_aux(
            spark, ivf_probes_ranked(ev, nprobe=8), "semdecon_recall_probes"
        ),
        "semantic_decontamination_recall",
    )
    vecs = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("v"))
    qv = vecs.withColumnsRenamed({"id": "query_id", "v": "q_vec"}).join(
        F.broadcast(probes.select("query_id").distinct()), "query_id"
    )
    tv = vecs.withColumnsRenamed({"id": "train_id", "v": "t_vec"})
    scored = (
        index.withColumnRenamed("id", "train_id")
        .join(F.broadcast(probes), "cell")
        .select("query_id", "train_id", "probe_rank")
        .join(F.broadcast(qv), "query_id")
        .join(tv, "train_id")
        .select(
            "train_id",
            "probe_rank",
            (det_micro(_cos_fx(F.col("q_vec"), F.col("t_vec"))) >= 300000)
            .alias("hit"),
        )
    )
    # ONE pass over the scored frame: the old shape aggregated it twice
    # (candidate counts + flagged counts), re-running the whole
    # index-join + Arrow cosine chain per consumer. Per-train partials
    # carry both readouts — candidate counts sum through the train
    # grain exactly, and first_rank (min probe_rank among hits, NULL
    # when none — a NULL comparison sums as 0 exactly like the old
    # filter("hit") leg) prices the flag sweep. Identical integers.
    per_train = scored.groupBy("train_id").agg(
        *[
            F.sum((F.col("probe_rank") <= p).cast("int"))
            .cast("bigint")
            .alias(f"__pc{p}")
            for p in (1, 2, 4, 8)
        ],
        F.min(F.when(F.col("hit"), F.col("probe_rank"))).alias("first_rank"),
    )
    counts = per_train.agg(
        *[
            F.sum(f"__pc{p}").cast("bigint").alias(f"__nc{p}")
            for p in (1, 2, 4, 8)
        ],
        *[
            F.sum((F.col("first_rank") <= p).cast("int"))
            .cast("bigint")
            .alias(f"__nf{p}")
            for p in (1, 2, 4, 8)
        ],
    )
    return (
        counts.crossJoin(F.broadcast(tn))
        .selectExpr(
            "stack(4, "
            + ", ".join(
                f"CAST({p} AS BIGINT), __nc{p}, coalesce(__nf{p}, CAST(0 AS BIGINT))"
                for p in (1, 2, 4, 8)
            )
            + ") AS (nprobe, n_candidates, n_flagged)",
            "n_truth",
        )
        .selectExpr(
            "nprobe",
            "n_candidates",
            "n_flagged",
            "n_truth",
            # nullif guards the ANSI div-by-zero error; the -1 sentinel
            # then makes a degenerate n_truth = 0 fixture an explicit
            # compare failure instead of a silently-NULL metric
            # (ADVICE r12)
            "CAST(coalesce(n_flagged * 1000000"
            " div nullif(n_truth, CAST(0 AS BIGINT)),"
            " CAST(-1 AS BIGINT)) AS BIGINT) AS recall_ppm",
        )
    )


# ---------------------------------------------------------------------------
# Round-13 wave — image purge Pareto, cross-modal decontamination
# agreement, streaming IVF upsert re-assignment (VERDICT r12 task 8)
# ---------------------------------------------------------------------------


@query("phash_purge_pareto",
    _ORACLES["phash_purge_pareto"],
    "X2xX5 QA composition: image near-dup purge Pareto — keep-lowest-id purge savings swept over hamming 0/2/4/7 from ONE blocked pair table; exact integer census per threshold (dedup_quality_pareto's shape over the phash clusters)",
)
def q_phash_purge_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOW AGGRESSIVE to purge near-dup images: at hamming 0 only
    bit-exact duplicates go; at 7 every near-dup cluster collapses to
    its lowest-id keeper — this sweep prices each setting in docs and
    decoded pixel bytes so the threshold is chosen on evidence (the
    dedup_quality_pareto shape applied to the X2xX5 image family,
    VERDICT r12 task 8c). Purge rule = greedy keep-lowest-id: a doc
    is purged at threshold t iff ANY lower-id doc in its shape class
    sits within hamming t — deterministic, clustering-free, and the
    dedup keep-first convention. Sweep shape: ONE pigeonhole-blocked
    pair table at the max threshold (pigeonhole exactness holds there,
    so it holds at every prefix), one min-hamming-per-doc aggregate,
    and all sweep points are conditional sums over that single frame —
    the prefix-ranked-probe lesson applied to hamming. The sweep tuple
    and the pair-table cap are ONE pair of shared constants with the
    oracle (oracles.PHASH_PURGE_SWEEP / PHASH_PURGE_MAX_H) and the
    prefix precondition is asserted here, so a sweep point above the
    cap is a loud import-adjacent failure, not a silent divergence
    (ADVICE r13)."""
    from finance_reporting_etl_spark.operators.multimodal import (
        attach_synthetic_png,
        perceptual_hash_media,
        phash_class_pairs,
    )
    from finance_reporting_etl_spark.oracles import (
        PHASH_PURGE_MAX_H,
        PHASH_PURGE_SWEEP,
    )

    assert max(PHASH_PURGE_SWEEP) <= PHASH_PURGE_MAX_H, (
        "phash_purge_pareto: sweep threshold above the pair-table cap "
        "breaks prefix exactness"
    )
    docs = _t(spark, sf_dir, "documents")
    sigs = perceptual_hash_media(attach_synthetic_png(docs)).localCheckpoint()
    first_h = (
        phash_class_pairs(sigs, max_hamming=PHASH_PURGE_MAX_H)
        .groupBy(F.col("id_b").alias("doc_id"))
        .agg(F.min("hamming").alias("first_h"))
    )
    j = sigs.join(first_h, "doc_id", "left").select(
        "width", "height", "first_h"
    )
    aggs = [
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.col("width") * F.col("height") * 3)
        .cast("bigint")
        .alias("total_pixel_bytes"),
    ]
    for t in PHASH_PURGE_SWEEP:
        aggs.append(
            F.sum((F.col("first_h") <= t).cast("int"))
            .cast("bigint")
            .alias(f"__np{t}")
        )
        aggs.append(
            F.sum(
                F.when(F.col("first_h") <= t, F.col("width") * F.col("height") * 3)
                .otherwise(0)
            )
            .cast("bigint")
            .alias(f"__pb{t}")
        )
    one = j.agg(*aggs)
    return one.selectExpr(
        f"stack({len(PHASH_PURGE_SWEEP)}, "
        + ", ".join(
            f"CAST({t} AS BIGINT), coalesce(__np{t}, CAST(0 AS BIGINT)),"
            f" coalesce(__pb{t}, CAST(0 AS BIGINT))"
            for t in PHASH_PURGE_SWEEP
        )
        + ") AS (thresh, n_purged, purged_pixel_bytes)",
        "n_docs",
        "total_pixel_bytes",
    ).selectExpr(
        "thresh",
        "n_docs",
        "total_pixel_bytes",
        "n_purged",
        "purged_pixel_bytes",
        "CAST(n_purged * 1000000 div n_docs AS BIGINT) AS purged_ppm",
    )


@query("crossmodal_decon_agreement",
    _ORACLES["crossmodal_decon_agreement"],
    "X-pipeline QA composition: image-hash vs embedding decontamination agreement on the SAME held-out split — 2x2 confusion + Cohen's kappa over train ids with embeddings; completes the decontamination_method_agreement matrix across modalities",
)
def q_crossmodal_decon_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DO the image screen and the embedding screen flag the same
    training docs: the phash leg flags a train doc whose IMAGE is a
    near-dup (hamming <= 7, shape-class + pigeonhole cross-blocked —
    never train x eval all-pairs) of a held-out eval image; the
    semantic leg flags a train doc whose EMBEDDING scores >= 0.30
    against an eval probe through the persisted IVF index. Both legs
    run on the SAME salted split (md5(id || 'decon') < 13 = eval, the
    decontaminate_4gram / decontamination_method_agreement split) over
    the universe of train ids that have embeddings, completing the
    cross-modal agreement matrix (VERDICT r12 task 8b). Low kappa =
    the modalities see DIFFERENT leakage — run both at 100 TB."""
    from finance_reporting_etl_spark.functions.vectors import cosine_arrow
    from finance_reporting_etl_spark.operators.corpus import md5_bucket
    from finance_reporting_etl_spark.operators.multimodal import (
        attach_synthetic_png,
        perceptual_hash_media,
        phash_cross_pairs,
    )
    from finance_reporting_etl_spark.operators.similarity import (
        ivf_index,
        ivf_probes_for,
    )

    emb = _t(spark, sf_dir, "embeddings")
    bv = md5_bucket("vec_id", salt="decon")
    index = _persist_aux(spark, ivf_index(emb.filter(bv >= 13)), "xmodal_index")
    probes = _bounded_eval(
        _persist_aux(
            spark, ivf_probes_for(emb.filter(bv < 13), nprobe=4),
            "xmodal_probes",
        ),
        "crossmodal_decon_agreement",
    )

    docs = _t(spark, sf_dir, "documents")
    sigs = perceptual_hash_media(attach_synthetic_png(docs)).localCheckpoint()
    ev_ids = emb.filter(bv < 13).select(F.col("vec_id").alias("doc_id"))
    ev_sigs = sigs.join(F.broadcast(ev_ids), "doc_id")
    img = (
        phash_cross_pairs(sigs, ev_sigs, max_hamming=7)
        .select(F.col("id_a").alias("id"))
        .distinct()
        .withColumn("f_img", F.lit(1))
    )

    _cos_fx = cosine_arrow()
    cand = index.withColumnRenamed("id", "train_id").join(
        F.broadcast(probes), "cell"
    ).select("query_id", "train_id")
    vecs = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("v"))
    qv = vecs.withColumnsRenamed({"id": "query_id", "v": "q_vec"}).join(
        F.broadcast(probes.select("query_id").distinct()), "query_id"
    )
    tv = vecs.withColumnsRenamed({"id": "train_id", "v": "t_vec"})
    sem = (
        cand.join(F.broadcast(qv), "query_id")
        .join(tv, "train_id")
        .select(
            "train_id",
            det_micro(_cos_fx(F.col("q_vec"), F.col("t_vec")))
            .alias("score_micro"),
        )
        .groupBy("train_id")
        .agg(F.max("score_micro").alias("mx"))
        .filter(F.col("mx") >= 300000)
        .select(F.col("train_id").alias("id"), F.lit(1).alias("f_sem"))
    )
    # flagged sets are data-dependent fractions of the train universe —
    # key-equi-joins, no broadcast hint (the method_agreement rationale)
    uni = (
        index.select("id")
        .join(img, "id", "left")
        .join(sem, "id", "left")
        .select(
            F.coalesce(F.col("f_img"), F.lit(0)).alias("f_img"),
            F.coalesce(F.col("f_sem"), F.lit(0)).alias("f_sem"),
        )
    )
    return (
        uni.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_universe"),
            F.sum(((F.col("f_img") == 1) & (F.col("f_sem") == 1)).cast("int"))
            .cast("bigint")
            .alias("n_both"),
            F.sum(((F.col("f_img") == 1) & (F.col("f_sem") == 0)).cast("int"))
            .cast("bigint")
            .alias("n_image_only"),
            F.sum(((F.col("f_img") == 0) & (F.col("f_sem") == 1)).cast("int"))
            .cast("bigint")
            .alias("n_sem_only"),
            F.sum(((F.col("f_img") == 0) & (F.col("f_sem") == 0)).cast("int"))
            .cast("bigint")
            .alias("n_neither"),
        )
        .selectExpr(
            "n_universe",
            "n_both",
            "n_image_only",
            "n_sem_only",
            "n_neither",
            "CAST((n_both + n_neither) * 1000000 div n_universe AS BIGINT)"
            " AS agree_ppm",
            "CAST((n_both + n_image_only) * (n_both + n_sem_only)"
            " + (n_sem_only + n_neither) * (n_image_only + n_neither)"
            " AS BIGINT) AS pe_num",
            "CAST((n_both + n_neither) * n_universe - ("
            "(n_both + n_image_only) * (n_both + n_sem_only)"
            " + (n_sem_only + n_neither) * (n_image_only + n_neither)"
            ") AS DOUBLE) / nullif(CAST(n_universe * n_universe - ("
            "(n_both + n_image_only) * (n_both + n_sem_only)"
            " + (n_sem_only + n_neither) * (n_image_only + n_neither)"
            ") AS DOUBLE), 0.0) AS kappa",
        )
    )


@query("streaming_ivf_upsert_reassign",
    _ORACLES["streaming_ivf_upsert_reassign"],
    "§2.8 x X3 streaming vector-index UPSERT maintenance: updated vectors move IVF cells through a foreachBatch merge upsert; per-cell move census from the maintained index == the batch-rebuilt truth exactly (persisted-artifact oracle)",
)
def q_streaming_ivf_upsert_reassign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The missing piece between append-only index maintenance
    (streaming_ann_index_maintain) and the probe family: vectors get
    UPDATED — a re-embedded document must MOVE cells, not duplicate.
    A deterministic 25% of ids (salted md5) re-arrive with a changed
    embedding (the reversed vector — a real cell-moving change both
    engines can express); the stream replays v1 then the updates as
    three micro-batches through a foreachBatch latest-version merge
    upsert (associative latest-per-key, any batching reaches the same
    fixpoint), and the maintained state IS the (id, cell) index:
    each micro-batch quantizes ONLY its arriving vectors map-side
    (``ivf_cell_expr`` in the fold step, the same fixed-centroid
    quantizer as a batch rebuild) before the upsert, so nothing
    rescans or re-quantizes old state (VERDICT r12 task 8a; made
    literally true per ADVICE r13 — previously the stream maintained
    the vector store and the index was rebuilt batch-side). Output:
    the per-cell move census (final members + id checksum +
    arrivals/departures) read from the STREAMING index; the oracle
    re-derives the same census from a BATCH-rebuilt truth index over
    latest-version vectors, so a hash match proves streaming ==
    rebuild cell by cell (exact because the coarse quantizer is
    data-independent). Scale: state is the (id, cell, version) index
    — ~16 bytes/row; each micro-batch quantizes only its own rows
    map-side and the embedding never enters the state."""
    from finance_reporting_etl_spark.operators.corpus import md5_bucket
    from finance_reporting_etl_spark.operators.incremental import merge_latest
    from finance_reporting_etl_spark.operators.similarity import (
        ivf_cell_expr,
        ivf_index,
    )
    from finance_reporting_etl_spark.streaming.merge import state_fold
    from finance_reporting_etl_spark.streaming.staging import (
        fold_stream,
        run_file_stream,
        stage_microbatches,
    )

    emb = _t(spark, sf_dir, "embeddings")
    upd = md5_bucket("vec_id", salt="ivfupd") < 64
    v1 = emb.select("vec_id", "embedding", F.lit(1).alias("version"))
    v2 = emb.filter(upd).select(
        "vec_id", F.reverse("embedding").alias("embedding"),
        F.lit(2).alias("version"),
    )

    def upsert_cells(state, batch: DataFrame) -> DataFrame:
        # incremental index maintenance: quantize ONLY the arriving
        # micro-batch (identical fixed-centroid quantizer as a batch
        # rebuild), drop the embedding before it ever enters the
        # persisted state
        cells = batch.select("vec_id", ivf_cell_expr().alias("cell"), "version")
        combined = cells if state is None else state.unionByName(cells)
        return merge_latest(combined, ["vec_id"], "version")

    streamed_state = run_file_stream(
        spark,
        lambda src: stage_microbatches(
            [
                v1,
                v2.filter(F.col("vec_id") % 2 == 0),
                v2.filter(F.col("vec_id") % 2 == 1),
            ],
            src,
        ),
        lambda src, schema, tmp: fold_stream(
            spark, src, schema, f"{tmp}/ckpt",
            state_fold(f"{tmp}/state", upsert_cells),
        ),
        lambda tmp: _read_parquet(spark, f"{tmp}/state"),
        label="streaming_ivf_upsert_reassign",
    )
    stream_index = _persist_aux(
        spark,
        streamed_state.select(F.col("vec_id").alias("id"), "cell"),
        "ivfupsert_stream_index",
    )
    v1_index = _persist_aux(spark, ivf_index(v1), "ivfupsert_v1_index")
    # batch-rebuilt truth over latest-version vectors: the oracle's leg
    _persist_aux(
        spark,
        ivf_index(merge_latest(v1.unionByName(v2), ["vec_id"], "version")),
        "ivfupsert_truth_index",
    )
    j = (
        stream_index.select("id", F.col("cell").alias("cf"))
        .join(v1_index.select("id", F.col("cell").alias("c1")), "id")
        .select(
            "id", "cf", "c1",
            (md5_bucket("id", salt="ivfupd") < 64).cast("int").alias("upd"),
        )
    )
    a1 = j.groupBy(F.col("cf").alias("cell")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_final"),
        F.sum("id").cast("bigint").alias("id_sum"),
        F.sum("upd").cast("bigint").alias("n_updated"),
        F.sum((F.col("cf") != F.col("c1")).cast("int"))
        .cast("bigint")
        .alias("n_moved_in"),
    )
    a2 = (
        j.filter(F.col("cf") != F.col("c1"))
        .groupBy(F.col("c1").alias("cell"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_moved_out"))
    )
    return a1.join(a2, "cell", "full").select(
        "cell",
        F.coalesce("n_final", F.lit(0)).cast("bigint").alias("n_final"),
        F.coalesce("id_sum", F.lit(0)).cast("bigint").alias("id_sum"),
        F.coalesce("n_updated", F.lit(0)).cast("bigint").alias("n_updated"),
        F.coalesce("n_moved_in", F.lit(0)).cast("bigint").alias("n_moved_in"),
        F.coalesce("n_moved_out", F.lit(0)).cast("bigint").alias("n_moved_out"),
    )


@query("decon_method_agreement_3way",
    _ORACLES["decon_method_agreement_3way"],
    "X-pipeline QA composition: three-method decontamination agreement (n-gram vs semantic vs image) on the SAME held-out split — per-doc flag-count census + Fleiss' kappa in exact integers, one double division",
)
def q_decon_method_agreement_3way(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full decontamination agreement matrix in one readout: all
    THREE leak screens (n-gram exact overlap, embedding cosine >= 0.30
    through the IVF index, image phash hamming <= 7) run on the SAME
    salted 'decon' split over the train-ids-with-embeddings universe,
    and the verdict is the per-doc flag-count census c0..c3 plus
    Fleiss' kappa for 3 raters x 2 categories — the multi-rater
    generalization of the pairwise Cohen readouts
    (decontamination_method_agreement, crossmodal_decon_agreement).
    Exact-integer form: S/2 = 3*c0 + c1 + c2 + 3*c3, T = total flags,
    U = 3n - T, kappa = (3n*(S/2) - T^2 - U^2) / (9n^2 - T^2 - U^2) —
    every term BIGINT, one final double division (the
    lang_id_agreement_kappa convention). Near-zero kappa = the three
    modalities flag nearly DISJOINT leakage, the measured case for
    running all three at 100 TB."""
    from finance_reporting_etl_spark.functions.vectors import cosine_arrow
    from finance_reporting_etl_spark.operators.corpus import (
        md5_bucket,
        ngram_decontaminate,
    )
    from finance_reporting_etl_spark.operators.multimodal import (
        attach_synthetic_png,
        perceptual_hash_media,
        phash_cross_pairs,
    )
    from finance_reporting_etl_spark.operators.similarity import (
        ivf_index,
        ivf_probes_for,
    )

    docs = _t(spark, sf_dir, "documents")
    bd = md5_bucket("doc_id", salt="decon")
    ng = ngram_decontaminate(
        docs.filter(bd >= 13), docs.filter(bd < 13), n=4
    ).select(F.col("doc_id").alias("id"), F.lit(1).alias("f_ng"))

    emb = _t(spark, sf_dir, "embeddings")
    bv = md5_bucket("vec_id", salt="decon")
    index = _persist_aux(spark, ivf_index(emb.filter(bv >= 13)), "decon3_index")
    probes = _bounded_eval(
        _persist_aux(
            spark, ivf_probes_for(emb.filter(bv < 13), nprobe=4),
            "decon3_probes",
        ),
        "decon_method_agreement_3way",
    )
    _cos_fx = cosine_arrow()
    cand = index.withColumnRenamed("id", "train_id").join(
        F.broadcast(probes), "cell"
    ).select("query_id", "train_id")
    vecs = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("v"))
    qv = vecs.withColumnsRenamed({"id": "query_id", "v": "q_vec"}).join(
        F.broadcast(probes.select("query_id").distinct()), "query_id"
    )
    tv = vecs.withColumnsRenamed({"id": "train_id", "v": "t_vec"})
    sem = (
        cand.join(F.broadcast(qv), "query_id")
        .join(tv, "train_id")
        .select(
            "train_id",
            det_micro(_cos_fx(F.col("q_vec"), F.col("t_vec")))
            .alias("score_micro"),
        )
        .groupBy("train_id")
        .agg(F.max("score_micro").alias("mx"))
        .filter(F.col("mx") >= 300000)
        .select(F.col("train_id").alias("id"), F.lit(1).alias("f_sem"))
    )

    sigs = perceptual_hash_media(attach_synthetic_png(docs)).localCheckpoint()
    ev_ids = emb.filter(bv < 13).select(F.col("vec_id").alias("doc_id"))
    ev_sigs = sigs.join(F.broadcast(ev_ids), "doc_id")
    img = (
        phash_cross_pairs(sigs, ev_sigs, max_hamming=7)
        .select(F.col("id_a").alias("id"))
        .distinct()
        .withColumn("f_img", F.lit(1))
    )

    uni = (
        index.select("id")
        .join(ng, "id", "left")
        .join(sem, "id", "left")
        .join(img, "id", "left")
        .select(
            F.coalesce(F.col("f_ng"), F.lit(0)).alias("f_ng"),
            F.coalesce(F.col("f_sem"), F.lit(0)).alias("f_sem"),
            F.coalesce(F.col("f_img"), F.lit(0)).alias("f_img"),
        )
        .withColumn("f", F.col("f_ng") + F.col("f_sem") + F.col("f_img"))
    )
    return (
        uni.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_universe"),
            *[
                F.sum((F.col("f") == k).cast("int"))
                .cast("bigint")
                .alias(f"c{k}")
                for k in range(4)
            ],
            F.sum("f_ng").cast("bigint").alias("n_ng"),
            F.sum("f_sem").cast("bigint").alias("n_sem"),
            F.sum("f_img").cast("bigint").alias("n_img"),
            F.sum("f").cast("bigint").alias("n_flags_total"),
        )
        .selectExpr(
            "n_universe", "c0", "c1", "c2", "c3",
            "n_ng", "n_sem", "n_img", "n_flags_total",
            "CAST(3 * n_universe * (3*c0 + c1 + c2 + 3*c3)"
            " - n_flags_total * n_flags_total"
            " - (3 * n_universe - n_flags_total)"
            "   * (3 * n_universe - n_flags_total) AS DOUBLE)"
            " / nullif(CAST(9 * n_universe * n_universe"
            " - n_flags_total * n_flags_total"
            " - (3 * n_universe - n_flags_total)"
            "   * (3 * n_universe - n_flags_total) AS DOUBLE), 0.0)"
            " AS fleiss_kappa",
        )
    )


@query("streaming_semdecon_flag_maintain",
    _ORACLES["streaming_semdecon_flag_maintain"],
    "§2.8 x X3: streaming semantic-decontamination flag maintenance — arriving train vectors screened per micro-batch against the static eval probe set; accumulated flag census == the batch screen exactly (persisted-artifact oracle + id checksum)",
)
def q_streaming_semdecon_flag_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOW the leak screen runs on a LIVE ingest: train vectors arrive
    continuously, each micro-batch cell-assigns and screens ONLY its
    own vectors against the static eval probe set (a flag depends on
    one train vector alone — per-row state, trivially mergeable across
    batch boundaries, the streaming_phash_signature_maintain argument
    applied to X3), and the accumulated flag store answers the
    contamination census at read time; nothing ever rescans old
    vectors. Replayed as 3 disjoint micro-batches via foreachBatch;
    each batch persists its (id, cell) assignments (the accumulated
    index the oracle re-reads) and appends its flagged ids + exact
    max-score micro to the flag sink. The probe table is broadcast at
    fixture scale (eval suites are tiny next to a 100 TB corpus — the
    ngram_decontaminate argument); dropping the hint shuffle-joins the
    same plan. Output: the one-row census (train/eval/candidate/
    flagged counts, flagged-id checksum, ppm) read from the STREAMED
    sink; the oracle re-derives it from the persisted index + probes
    at the same 0.30 threshold."""
    from finance_reporting_etl_spark.functions.vectors import cosine_arrow
    from finance_reporting_etl_spark.operators.corpus import md5_bucket
    from finance_reporting_etl_spark.operators.similarity import (
        ivf_index,
        ivf_probes_for,
    )
    from finance_reporting_etl_spark.streaming.staging import (
        fold_stream,
        run_file_stream,
        stage_microbatches,
    )

    _cos_fx = cosine_arrow()
    emb = _t(spark, sf_dir, "embeddings")
    b = md5_bucket("vec_id", salt="semdecon")
    ev = emb.filter(b < 13)
    tr = emb.filter(b >= 13)
    probes = _bounded_eval(
        _persist_aux(
            spark, ivf_probes_for(ev, nprobe=4), "semdecon_stream_probes"
        ),
        "streaming_semdecon_flag_maintain",
    )
    qv = (
        emb.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec"))
        .join(F.broadcast(probes.select("query_id").distinct()), "query_id")
        .localCheckpoint()
    )

    def start(src, schema, tmp):
        def screen(batch, batch_id):
            # checkpoint, then write + screen from the blocks: the
            # write-once-read-back alternative was A/B-measured ~0.3s
            # SLOWER per run (the flag leg re-reads parquet each
            # batch, losing to the in-memory blocks)
            bidx = ivf_index(batch).localCheckpoint()
            bidx.write.mode("overwrite").parquet(
                f"{tmp}/index/batch_id={batch_id}"
            )
            bv = batch.select(
                F.col("vec_id").alias("train_id"), F.col("embedding").alias("t_vec")
            )
            flags = (
                bidx.withColumnRenamed("id", "train_id")
                .join(F.broadcast(probes), "cell")
                .select("query_id", "train_id")
                .join(F.broadcast(qv), "query_id")
                .join(bv, "train_id")
                .select(
                    "train_id",
                    det_micro(_cos_fx(F.col("q_vec"), F.col("t_vec")))
                    .alias("score_micro"),
                )
                .groupBy("train_id")
                .agg(F.max("score_micro").alias("mx"))
                .filter(F.col("mx") >= 300000)
            )
            flags.write.mode("overwrite").parquet(
                f"{tmp}/flags/batch_id={batch_id}"
            )

        return fold_stream(spark, src, schema, f"{tmp}/ckpt", screen)

    def readback(tmp):
        idx = _read_parquet(spark, f"{tmp}/index").select("id", "cell")
        _persist_aux(spark, idx, "semdecon_stream_index")
        flags = _read_parquet(spark, f"{tmp}/flags").select("train_id")
        n_cand = (
            _read_parquet(spark, f"{tmp}/index")
            .withColumnRenamed("id", "train_id")
            .join(F.broadcast(probes), "cell")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_candidate_pairs"))
        )
        stats = flags.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_flagged"),
            F.coalesce(F.sum("train_id"), F.lit(0))
            .cast("bigint")
            .alias("flagged_id_sum"),
        )
        totals = idx.agg(F.count(F.lit(1)).cast("bigint").alias("n_train"))
        n_eval = probes.select("query_id").distinct().agg(
            F.count(F.lit(1)).cast("bigint").alias("n_eval")
        )
        return (
            totals.crossJoin(F.broadcast(n_eval))
            .crossJoin(F.broadcast(n_cand))
            .crossJoin(F.broadcast(stats))
            .selectExpr(
                "n_train",
                "n_eval",
                "n_candidate_pairs",
                "n_flagged",
                "flagged_id_sum",
                "CAST(n_flagged * 1000000 div n_train AS BIGINT)"
                " AS flagged_ppm",
            )
        )

    return run_file_stream(
        spark,
        lambda src: stage_microbatches(
            [tr.filter(F.col("vec_id") % 3 == i) for i in range(3)], src
        ),
        start,
        readback,
        label="streaming_semdecon_flag_maintain",
    )


@query("ann_stale_serving_recall",
    _ORACLES["ann_stale_serving_recall"],
    "X3 serving QA: stale-index recall — top-10 served from pre-update cell assignments vs the fresh rebuild over the SAME latest vectors; overlap census prices the reassignment lag (completes the upsert family)",
)
def q_ann_stale_serving_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHAT serving from a stale index costs: after 25% of vectors are
    re-embedded (the streaming_ivf_upsert_reassign update set), the
    index's cell postings lag while the payload store is already fresh
    — the realistic window between ingest and reassignment. This query
    serves top-10 twice over the SAME latest vectors — once through
    the stale (pre-update) cell assignments, once through the fresh
    rebuild — and reduces to the overlap census: how many fresh
    results the stale serve still finds, per query and in ppm. The
    measured number is the operational SLA for how often
    streaming_ivf_upsert_reassign must run. Query set = the bounded
    md5-ranked 64-id sample (the semantic_decontamination_recall
    idiom); both serves share one persisted probe table so the
    comparison isolates the INDEX, not the probe path. Scale: two
    cell-blocked candidate joins + one (query, neighbor) equi-join —
    never an all-pairs scan."""
    from finance_reporting_etl_spark.operators.corpus import md5_bucket
    from finance_reporting_etl_spark.operators.similarity import (
        ivf_index,
        ivf_probes_for,
        ivf_topk_from_index,
    )

    emb = _t(spark, sf_dir, "embeddings")
    upd = md5_bucket("vec_id", salt="ivfupd") < 64
    latest = emb.select(
        "vec_id",
        F.when(upd, F.reverse("embedding"))
        .otherwise(F.col("embedding"))
        .alias("embedding"),
    )
    stale_index = _persist_aux(spark, ivf_index(emb), "stale_v1_index")
    fresh_index = _persist_aux(spark, ivf_index(latest), "stale_fresh_index")
    qs = (
        latest.withColumn(
            "__rk",
            F.md5(F.concat(F.col("vec_id").cast("string"), F.lit("stale-q"))),
        )
        .orderBy("__rk")
        .limit(64)
        .drop("__rk")
    )
    probes = _persist_aux(spark, ivf_probes_for(qs, nprobe=4), "stale_probes")
    # arrow=True: 64 queries x nprobe 4 -> ~30k+ candidate pairs per
    # serve, the volume regime where the bit-identical Arrow fold wins
    ts = ivf_topk_from_index(stale_index, probes, latest, k=10, arrow=True).select(
        "query_id", "neighbor_id"
    )
    tf = ivf_topk_from_index(fresh_index, probes, latest, k=10, arrow=True).select(
        "query_id", "neighbor_id"
    )
    per_q = (
        probes.select("query_id")
        .distinct()
        .join(
            ts.join(tf, ["query_id", "neighbor_id"])
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("__ov")),
            "query_id",
            "left",
        )
        .join(
            tf.groupBy("query_id").agg(
                F.count(F.lit(1)).cast("bigint").alias("__nf")
            ),
            "query_id",
            "left",
        )
        .select(
            F.coalesce("__ov", F.lit(0)).cast("bigint").alias("n_overlap"),
            F.coalesce("__nf", F.lit(0)).cast("bigint").alias("n_fresh"),
        )
    )
    return per_q.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_queries"),
        F.sum("n_fresh").cast("bigint").alias("n_fresh_results"),
        F.sum("n_overlap").cast("bigint").alias("n_overlap_results"),
        F.sum((F.col("n_overlap") == F.col("n_fresh")).cast("int"))
        .cast("bigint")
        .alias("n_queries_unchanged"),
    ).selectExpr(
        "n_queries",
        "n_fresh_results",
        "n_overlap_results",
        "n_queries_unchanged",
        "CAST(n_overlap_results * 1000000"
        " div nullif(n_fresh_results, CAST(0 AS BIGINT)) AS BIGINT)"
        " AS overlap_ppm",
    )


# ---------------------------------------------------------------------------


@query("near_dup_cluster_maintain",
    _ORACLES["near_dup_cluster_maintain"],
    "X2 incremental cluster maintenance: merge a delta batch into existing near-dup cluster ids through the contracted component graph — only delta-incident pairs ever scored; full-recompute recursive-closure oracle proves incremental == batch label for label",
)
def q_near_dup_cluster_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup_incremental_batch idiom lifted to the CLUSTER level
    (VERDICT r13 task 7b): a standing corpus already carries near-dup
    cluster ids; a new batch arrives; the maintained labels must equal
    what a full recompute over base ∪ delta would produce — without
    recomputing any base-base pair. Spark leg: base clusters via the
    house min-label components, then ONLY delta-incident Jaccard edges
    (cross pairs delta×base + delta self-pairs, identical blocking +
    4dp det-round as dedup_clusters), contracted through the base
    labels (each base component is one super-node), components over
    that delta-sized graph, re-expanded. Output per doc: is_delta,
    the starting base label (-1 for arrivals), and the final label.
    The oracle recomputes BOTH closures (full and base-only) by
    recursive transitive closure, so a hash match proves the
    incremental merge AND its starting state against brute force.
    Scale: the standing corpus contributes one row per existing
    cluster to the merge graph, never its pair space; work is
    delta-incident candidates + a map over existing labels — the
    property that lets a 100 TB corpus absorb daily batches without
    quadratic re-clustering."""
    from finance_reporting_etl_spark.operators.corpus import md5_bucket
    from finance_reporting_etl_spark.operators.dedup import (
        incremental_clusters,
        jaccard_pairs_prepped,
        jaccard_prep,
        near_dup_clusters,
    )

    docs = _t(spark, sf_dir, "documents")
    bd = md5_bucket("doc_id", salt="clmaint")
    base = docs.filter(bd >= 32)
    delta = docs.filter(bd < 32)
    # tokenize the corpus ONCE and score every qualifying pair ONCE:
    # the three pair legs (base self, cross, delta self) partition the
    # FULL corpus pair space exactly (base-base / mixed / delta-delta),
    # so one fused self-join over the whole prep replaces three
    # separate joins — same candidate pairs evaluated in total, two
    # fewer shuffles and token-frame passes (guide §2.4; VERDICT r14
    # task 4). Endpoint buckets re-derived per pair split the fused
    # table back into the legs; cross-pair orientation differs from
    # the old delta-on-the-left shape, which cannot matter: both
    # cluster steps treat edges as undirected (union-find symmetrizes,
    # the contraction coalesces both endpoints).
    kwb = dict(block_cols=("lang", "source"))
    prepped = jaccard_prep(docs, **kwb).persist()
    full_pairs = (
        jaccard_pairs_prepped(prepped, threshold=0.5, **kwb)
        .select(
            "id_a",
            "id_b",
            (md5_bucket("id_a", salt="clmaint") >= 32).alias("__base_a"),
            (md5_bucket("id_b", salt="clmaint") >= 32).alias("__base_b"),
        )
        .localCheckpoint(eager=True)
    )
    prepped.unpersist()
    base_edges = full_pairs.filter(
        F.col("__base_a") & F.col("__base_b")
    ).select("id_a", "id_b")
    delta_edges = full_pairs.filter(
        ~F.col("__base_a") | ~F.col("__base_b")
    ).select("id_a", "id_b")
    # localCheckpoint, not persist: the final returned plan still reads
    # base_cl (5 references), so an explicit unpersist before returning
    # would drop the cache ahead of the consuming action, and a persist
    # left behind leaks in the CacheManager (DataFrame cache entries
    # are not GC-collected the way checkpoint RDD blocks are)
    base_cl = near_dup_clusters(
        base_edges, base.select(F.col("doc_id").alias("id"))
    ).localCheckpoint()
    merged = incremental_clusters(
        base_cl,
        delta_edges,
        delta.select(F.col("doc_id").alias("id")),
    )
    flags = docs.select(
        "doc_id", (bd < 32).cast("int").alias("is_delta")
    )
    bmap = base_cl.select(
        F.col("id").alias("doc_id"), F.col("cluster_id").alias("base_cluster_id")
    )
    return (
        flags.join(
            merged.select(F.col("id").alias("doc_id"), "cluster_id"), "doc_id"
        )
        .join(bmap, "doc_id", "left")
        .select(
            "doc_id",
            "is_delta",
            F.coalesce("base_cluster_id", F.lit(-1))
            .cast("bigint")
            .alias("base_cluster_id"),
            F.col("cluster_id").cast("bigint").alias("cluster_id"),
        )
    )



@query("ivf_retrain_criterion",
    _ORACLES["ivf_retrain_criterion"],
    "X3 vector-index lifecycle: IVF degradation sweep over accumulated upsert waves — per-wave cell-balance census from TWO persisted quantizations (never re-quantized per wave) + an integer re-train criterion; completes build→upsert→serve→rebuild",
)
def q_ivf_retrain_criterion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHEN do accumulated upserts degrade the IVF index enough that a
    centroid re-train beats per-vector reassignment (VERDICT r13 task
    7a)? Waves of cumulative re-embeddings (md5-'ivfupd' bucket
    prefixes 22/43/64 — wave 3 is exactly the final state
    streaming_ivf_upsert_reassign maintains, completing that query's
    lifecycle) move vectors between cells; this sweep prices each wave
    in cell balance. Sweep shape: the quantizer runs exactly TWICE
    (original vectors, re-embedded subset) into two persisted index
    tables; every wave is then a conditional select over ONE joined
    frame — the prefix-ranked-probe lesson applied to upsert
    accumulation — exploded to (wave, cell) rows for a single
    map-side-combined count shuffle. imbalance_ppm = max_cell *
    n_cells(16) * 1e6 / n_total (1e6 = perfectly balanced);
    rebuild_flag fires when a wave's imbalance exceeds the wave-0
    baseline by >25%, compared as an integer cross-product so no
    float policy constant enters the gate. At 100 TB: index state is
    (id, cell) rows, the sweep reads it twice, and the re-train
    decision costs one 64-group aggregate — the criterion is cheap
    enough to evaluate after every upsert batch."""
    from finance_reporting_etl_spark.operators.corpus import md5_bucket
    from finance_reporting_etl_spark.operators.similarity import ivf_index

    emb = _t(spark, sf_dir, "embeddings")
    b = md5_bucket("vec_id", salt="ivfupd")
    i1 = _persist_aux(spark, ivf_index(emb), "ivfretrain_v1")
    i2 = _persist_aux(
        spark,
        ivf_index(
            emb.filter(b < 64).select(
                "vec_id", F.reverse("embedding").alias("embedding")
            )
        ),
        "ivfretrain_v2",
    )
    j = (
        i1.select("id", F.col("cell").alias("c1"))
        .join(i2.select("id", F.col("cell").alias("c2")), "id", "left")
        .withColumn("bkt", md5_bucket("id", salt="ivfupd"))
    )
    waves = [(0, 0), (1, 22), (2, 43), (3, 64)]
    wc = j.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(w).alias("wave"),
                        F.lit(t).alias("thresh"),
                        F.when(F.col("bkt") < t, F.coalesce("c2", "c1"))
                        .otherwise(F.col("c1"))
                        .alias("cell"),
                        (F.col("bkt") < t).cast("int").alias("upd"),
                        ((F.col("bkt") < t) & (F.col("c2") != F.col("c1")))
                        .cast("int")
                        .alias("moved"),
                    )
                    for w, t in waves
                ]
            )
        ).alias("x")
    ).select("x.*")
    pc = wc.groupBy("wave", "thresh", "cell").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("upd").cast("bigint").alias("n_upd"),
        F.sum("moved").cast("bigint").alias("n_mv"),
    )
    agg = pc.groupBy("wave", "thresh").agg(
        F.sum("n").cast("bigint").alias("n_total"),
        F.sum("n_upd").cast("bigint").alias("n_updated"),
        F.sum("n_mv").cast("bigint").alias("n_moved"),
        F.max("n").cast("bigint").alias("max_cell_n"),
    )
    m = agg.selectExpr(
        "CAST(wave AS BIGINT) AS wave",
        "CAST(thresh AS BIGINT) AS thresh",
        "n_total",
        "n_updated",
        "n_moved",
        "max_cell_n",
        "CAST(max_cell_n * 16 * 1000000 div n_total AS BIGINT)"
        " AS imbalance_ppm",
        "CAST(coalesce(n_moved * 1000000"
        " div nullif(n_updated, CAST(0 AS BIGINT)), -1) AS BIGINT)"
        " AS moved_ppm",
    )
    base = m.filter(F.col("wave") == 0).select(
        F.col("imbalance_ppm").alias("imb0")
    )
    return m.crossJoin(F.broadcast(base)).selectExpr(
        "wave",
        "thresh",
        "n_total",
        "n_updated",
        "n_moved",
        "max_cell_n",
        "imbalance_ppm",
        "moved_ppm",
        "CAST(CASE WHEN imbalance_ppm * 100 > imb0 * 125"
        " THEN 1 ELSE 0 END AS INT) AS rebuild_flag",
    )



@query("crossmodal_purge_pareto",
    _ORACLES["crossmodal_purge_pareto"],
    "X2xX3xX5 combined-screen purge pricing: image-hash and semantic near-dup flags on one per-doc frame, four purge policies (image/semantic/union/intersect) each priced in docs + decoded pixel bytes — keep-lowest-id greedy on both modalities",
)
def q_crossmodal_purge_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHICH screen earns its compute: the phash_purge_pareto cost
    model joined with the semantic flag (VERDICT r13 task 7c). Image
    flag = a lower-id doc within hamming 4 in the doc's shape class
    (pigeonhole-blocked pair table capped at the shared
    PHASH_PURGE_MAX_H); semantic flag = a lower-id vector within the
    doc's IVF cell at exact cosine >= 0.30 (the decon-family screen
    threshold; cell-blocked pairs, Arrow fold-exact scoring, never
    all-pairs). Both rules are keep-lowest-id greedy, so every policy
    — image_only / semantic_only / union / intersect — is a
    deterministic canonicalization priced from ONE per-doc flag frame
    as conditional sums (the one-frame-serves-all-sweep-points
    idiom). At 100 TB the candidate spaces stay banded (shape class +
    8-chunk pigeonhole; IVF cell), flags are 1-bit columns, and
    adding a policy costs one more conditional sum, not a rescan."""
    from finance_reporting_etl_spark.functions.vectors import cosine_arrow
    from finance_reporting_etl_spark.operators.multimodal import (
        attach_synthetic_png,
        perceptual_hash_media,
        phash_class_pairs,
    )
    from finance_reporting_etl_spark.operators.similarity import ivf_index
    from finance_reporting_etl_spark.oracles import PHASH_PURGE_MAX_H

    docs = _t(spark, sf_dir, "documents")
    sigs = perceptual_hash_media(attach_synthetic_png(docs)).localCheckpoint()
    first_h = (
        phash_class_pairs(sigs, max_hamming=PHASH_PURGE_MAX_H)
        .groupBy(F.col("id_b").alias("doc_id"))
        .agg(F.min("hamming").alias("first_h"))
    )

    emb = _t(spark, sf_dir, "embeddings")
    idx = _persist_aux(spark, ivf_index(emb), "xpurge_index")
    vecs = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("v"))
    _cos_fx = cosine_arrow()
    a = idx.select(F.col("id").alias("id_a"), "cell")
    b = idx.select(F.col("id").alias("id_b"), "cell")
    sem = (
        a.join(b, "cell")
        .filter(F.col("id_b") < F.col("id_a"))
        .join(vecs.withColumnsRenamed({"id": "id_a", "v": "va"}), "id_a")
        .join(vecs.withColumnsRenamed({"id": "id_b", "v": "vb"}), "id_b")
        .filter(det_micro(_cos_fx(F.col("va"), F.col("vb"))) >= 300000)
        .select(F.col("id_a").alias("doc_id"))
        .distinct()
        .withColumn("f_sem_raw", F.lit(1))
    )

    d = (
        sigs.select("doc_id", "width", "height")
        .join(first_h, "doc_id", "left")
        .join(sem, "doc_id", "left")
        .select(
            "width",
            "height",
            F.when(F.col("first_h") <= 4, 1).otherwise(0).alias("f_img"),
            F.coalesce("f_sem_raw", F.lit(0)).alias("f_sem"),
        )
    )
    h = d.select(
        "width",
        "height",
        F.explode(
            F.array(
                F.struct(F.lit("image_only").alias("policy"), F.col("f_img").alias("hit")),
                F.struct(F.lit("semantic_only").alias("policy"), F.col("f_sem").alias("hit")),
                F.struct(F.lit("union").alias("policy"), F.greatest("f_img", "f_sem").alias("hit")),
                F.struct(F.lit("intersect").alias("policy"), F.least("f_img", "f_sem").alias("hit")),
            )
        ).alias("x"),
    ).select("width", "height", "x.policy", "x.hit")
    return h.groupBy("policy").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.col("width") * F.col("height") * 3).cast("bigint").alias("total_pixel_bytes"),
        F.sum("hit").cast("bigint").alias("n_purged"),
        F.sum(F.when(F.col("hit") == 1, F.col("width") * F.col("height") * 3).otherwise(0))
        .cast("bigint")
        .alias("purged_pixel_bytes"),
    ).selectExpr(
        "policy",
        "n_docs",
        "total_pixel_bytes",
        "n_purged",
        "purged_pixel_bytes",
        "CAST(n_purged * 1000000 div n_docs AS BIGINT) AS purged_ppm",
    )



@query("streaming_cluster_maintain",
    _ORACLES["streaming_cluster_maintain"],
    "§2.8 x X2 streaming near-dup CLUSTER maintenance: document micro-batches merged through the contracted-graph incremental clustering inside foreachBatch — maintained labels hash-match one full-recompute recursive closure",
)
def q_streaming_cluster_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """near_dup_cluster_maintain made CONTINUOUS: three md5-'clstream'
    batches of documents replay as ordered micro-batches; the first
    bootstraps cluster state, each later batch runs the contraction
    merge (incremental_clusters) against the standing labels — only
    batch-incident Jaccard pairs are ever scored, the standing corpus
    contributes one super-node per cluster. The contraction argument
    makes the merge associative at the cluster level, so the streamed,
    order-dependent fold must equal ONE batch recompute over all
    documents — which is exactly what the oracle's recursive closure
    checks, label for label, with the arrival batch re-derived from
    the md5 formula. Scale: state is (id, cluster_id) rows; per-batch
    work is delta-incident candidates + a map over existing labels,
    the shape that absorbs a continuous feed at 100 TB without
    quadratic re-clustering."""
    from finance_reporting_etl_spark.operators.corpus import md5_bucket
    from finance_reporting_etl_spark.operators.dedup import (
        incremental_clusters,
        jaccard_incident_pairs_prepped,
        jaccard_pairs_prepped,
        jaccard_prep,
        near_dup_clusters,
    )
    from finance_reporting_etl_spark.streaming.merge import state_fold
    from finance_reporting_etl_spark.streaming.staging import (
        fold_stream,
        run_file_stream,
        stage_microbatches,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "text"
    )
    b = md5_bucket("doc_id", salt="clstream")
    kwb = dict(block_cols=("lang", "source"))
    kw = dict(threshold=0.5, **kwb)
    # tokenize the corpus ONCE before the replay (the probes/qv idiom
    # of the semdecon stream applied to tokens): every micro-batch's
    # batch/base token frames are id-selections of this persisted
    # prep — the batch rows ARE docs rows, so selecting by id is
    # value-identical to re-tokenizing the arriving frame, without
    # re-running the tokenizer per leg per batch. persist (not eager
    # localCheckpoint): the first batch's job materializes the cache
    # once, and the blocks are released after the replay instead of
    # outliving the query (VERDICT r14 task 2).
    prepped = jaccard_prep(docs, **kwb).persist()

    def merge_batch(existing, batch_df: DataFrame) -> DataFrame:
        nodes = batch_df.select(F.col("doc_id").alias("id"))
        batch_p = prepped.join(nodes.select("id"), "id", "left_semi")
        if existing is None:
            return near_dup_clusters(
                jaccard_pairs_prepped(batch_p, **kw).select("id_a", "id_b"),
                nodes,
            )
        # one fused join per micro-batch (cross ∪ batch-self pairs,
        # value-identical — VERDICT r14 task 4) instead of separate
        # cross and self joins over the same prep
        seen = (
            existing.select("id")
            .withColumn("__isb", F.lit(0))
            .unionByName(nodes.select("id").withColumn("__isb", F.lit(1)))
        )
        seen_p = prepped.join(seen, "id")
        edges = jaccard_incident_pairs_prepped(
            batch_p, seen_p, "__isb", **kw
        ).select("id_a", "id_b")
        return incremental_clusters(existing, edges, nodes)

    state = run_file_stream(
        spark,
        lambda src: stage_microbatches(
            [
                docs.filter(b < 85),
                docs.filter((b >= 85) & (b < 170)),
                docs.filter(b >= 170),
            ],
            src,
        ),
        lambda src, schema, tmp: fold_stream(
            spark, src, schema, f"{tmp}/ckpt",
            state_fold(f"{tmp}/state", merge_batch),
        ),
        lambda tmp: _read_parquet(spark, f"{tmp}/state"),
        label="streaming_cluster_maintain",
    )
    prepped.unpersist()
    ab = md5_bucket(F.col("id"), salt="clstream")
    return state.select(
        F.col("id").alias("doc_id"),
        F.when(ab < 85, 0).when(ab < 170, 1).otherwise(2)
        .cast("int")
        .alias("arrival_batch"),
        F.col("cluster_id").cast("bigint").alias("cluster_id"),
    )



@query("ivf_rebuild_execute",
    _ORACLES["ivf_rebuild_execute"],
    "X3 vector-index lifecycle close-out: execute the re-train ivf_retrain_criterion calls for — one exact-integer k-means step over globally-scaled int8 codes, Arrow-matmul re-assignment, per-(phase, cell) census before/after (persisted codes + degraded-index oracle)",
)
def q_ivf_rebuild_execute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rebuild leg of the build→upsert→serve→rebuild lifecycle:
    starting from the fully-upserted (degraded) assignment — the same
    'ivfupd' latest-vector state wave 3 of ivf_retrain_criterion
    measures — ONE k-means step re-trains the coarse quantizer and
    re-assigns every vector. Exactness design: centroids live in
    globally-scaled int8 CODE space (the quantized_centroid_profile
    convention), so centroid sums are order-free exact integers; a
    vector's score against cell c is dot(codes, sum_c) / n_c — exact
    ints < 2^53 through one IEEE division, bit-identical in numpy
    float64 (every partial sum of exact-representable integers below
    2^53 is itself exact, any summation order) and DuckDB
    list_dot_product; argmax ties break to the lowest cell id both
    sides. The Spark leg scores all 16 cells in one Arrow matmul per
    batch (centroid matrix is a bounded 16x64 driver collect); the
    oracle re-derives centroids relationally from the persisted code
    table + degraded index and re-runs the argmax. Output: per-(phase,
    cell) membership census with id checksums — the before/after the
    retrain decision is priced on. Scale: codes are 64 bytes/vector,
    the centroid table is n_cells x dim integers, and re-assignment is
    one map-side matmul pass — a rebuild costs one scan, not an
    iterative fit."""
    from finance_reporting_etl_spark.operators.corpus import md5_bucket
    from finance_reporting_etl_spark.operators.similarity import ivf_index

    emb = _t(spark, sf_dir, "embeddings")
    upd = md5_bucket("vec_id", salt="ivfupd") < 64
    latest = emb.select(
        "vec_id",
        F.when(upd, F.reverse("embedding"))
        .otherwise(F.col("embedding"))
        .alias("embedding"),
    )
    deg = _persist_aux(spark, ivf_index(latest), "rebuild_degraded_index")

    vd = F.transform("embedding", lambda x: x.cast("double"))
    withv = latest.select("vec_id", vd.alias("vd"))
    gmax = withv.agg(
        F.max(F.array_max(F.transform("vd", F.abs))).alias("gmax")
    )
    codes = _persist_aux(
        spark,
        withv.crossJoin(F.broadcast(gmax)).select(
            "vec_id",
            F.transform(
                "vd",
                lambda x: F.round(x * (F.lit(127.0) / F.col("gmax"))).cast(
                    "bigint"
                ),
            ).alias("codes"),
        ),
        "rebuild_codes",
    )
    cent_rows = (
        codes.join(deg, codes["vec_id"] == deg["id"])
        .select("cell", F.posexplode("codes").alias("dim", "code"))
        .groupBy("cell", "dim")
        .agg(F.sum("code").cast("bigint").alias("s"))
        .groupBy("cell")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("dim", "s"))
            ).alias("ds")
        )
        .select("cell", F.col("ds.s").alias("sums"))
        .join(
            deg.groupBy("cell").agg(F.count(F.lit(1)).alias("n")), "cell"
        )
        .orderBy("cell")
        .collect()  # bounded: n_cells(16) x dim(64) integers
    )
    import numpy as np

    from finance_reporting_etl_spark.operators.similarity import (
        ivf_reassign_udf,
    )

    cells_arr = np.array([r.cell for r in cent_rows], dtype="int64")
    s_t = np.array([r.sums for r in cent_rows], dtype="float64").T  # (dim, k)
    n_vec = np.array([r.n for r in cent_rows], dtype="float64")  # (k,)
    reassign = ivf_reassign_udf(cells_arr, s_t, n_vec)
    re_assign = codes.select(
        "vec_id", reassign(F.col("codes")).alias("cell")
    )
    a = deg.groupBy("cell").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        F.sum("id").cast("bigint").alias("id_sum"),
    ).select(F.lit("degraded").alias("phase"), "cell", "n_members", "id_sum")
    b = re_assign.groupBy("cell").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        F.sum("vec_id").cast("bigint").alias("id_sum"),
    ).select(F.lit("retrained").alias("phase"), "cell", "n_members", "id_sum")
    return a.unionByName(b)


# Round-15 gate window (driver verifies the first 50 catalog entries):
# the 5 round-14 lifecycle additions (never driver-gated — VERDICT r14
# task 3), the 6-entry r6 overflow carried from the round-14 rotation,
# and the 39 next-stalest proven entries (last green driver row r7, in
# catalog order). Every entry is local-oracle-verified at sf0.001
# (tests/test_catalog_oracle.py, 6-dp compare) AND at sf0.01 with EXACT
# float compare
# (tests/test_catalog_oracle.py::test_gate_window_exact_oracle_sf0_01).
# New queries MUST be appended to _GATE_NEXT (tripwire:
# tests/test_plan_shapes.py::test_gate_window_covers_unproven_queries).
_GATE_FIRST = [
    # -- round-14 additions, never driver-gated (5) — VERDICT r14
    #    task 3: this window clears the gate debt ---------------------
    "near_dup_cluster_maintain",
    "ivf_retrain_criterion",
    "crossmodal_purge_pareto",
    "streaming_cluster_maintain",
    "ivf_rebuild_execute",
    # -- r6 overflow carried from the round-14 rotation ---------------
    "indicator_max_drawdown",
    "cusum_alarm_days",
    "benford_first_digit",
    "ohlc_daily_bars",
    "indicator_lead_lag_corr",
    "streaming_ohlc_maintain",
    # -- next-stalest proven entries (last green driver row r7) -------
    "feature_hash_bow",
    "series_volatility",
    "mmr_diversified_rerank",
    "ks_value_drift",
    "position_based_attribution",
    "quantile_transform_feature",
    "theil_sen_trend",
    "ann_recall_ndcg_eval",
    "roc_auc_exact",
    "spearman_daily_orders",
    "chi_square_event_dow",
    "welch_t_event_values",
    "acf_daily_order_revenue",
    "kaplan_meier_retention",
    "rsi_cutler_daily",
    "hhi_revenue_concentration",
    "stratified_kfold_assign",
    "revenue_recognition_monthly",
    "var_cvar_daily_revenue",
    "pca_embedding_projection",
    "heaps_law_vocab_growth",
    "bpe_pair_merge_step",
    "xirr_order_cashflows",
    "seasonal_decompose_daily",
    "pps_part_revenue_sample",
    "fifo_open_lots_aging",
    "sprt_ab_sequential",
    "changepoint_daily_revenue",
    "capm_segment_beta",
    "bloom_filter_membership",
    "survivorship_documents",
    "naive_bayes_lang_classify",
    "dupont_roe_decomposition",
    "indicator_real_terms",
    "weighted_ares_sample",
    "ols_price_model_brand",
    "markov_absorption_3step",
    "wac_inventory_brand",
    "zipf_law_fit",
]

# Heads of the round-16 window: the 5-entry r7 overflow that did not
# fit round 15's 50 slots, the 3 r7-stale entries that were never
# staged in a prior _GATE_NEXT, then the stalest r8-proven entries in
# catalog order. New queries are appended below the marker (standing
# rule, VERDICT r12 task 3: never more never-gated queries than one
# 50-slot window can clear).
_GATE_NEXT = [
    # -- r7 overflow carried from the round-15 rotation ---------------
    "mahalanobis_outlier_events",
    "seasonal_naive_backtest",
    "gbt_price_residual_stumps",
    "pareto_frontier_parts",
    "ab_srm_check",
    # -- remaining r7-stale entries ------------------------------------
    "fuzzy_name_match_pairs",
    "kendall_tau_daily",
    "tail_dependence_segments",
    # -- next-stalest proven entries (last green driver row r8) -------
    "mart_financial_summary",
    "mart_financial_kpis",
    "economic_indicators",
    "indicator_stats",
    "filter_eq_projection",
    "literal_columns",
    "cumulative_monthly_revenue",
    "customer_spend_deciles",
    "corpus_clean",
    "corpus_stats",
    "corpus_hash_split",
    "corpus_mixture_sample",
    "corpus_chunking",
    "ingest_fred_observations",
    "asof_latest_view_before_purchase",
    "customers_without_orders_anti",
    "pii_redaction",
    "corpus_vocabulary",
    "decontaminate_4gram",
    "kmeans_cluster_profile",
    "chunk_dedup_occurrences",
    "keyword_search_topk",
    "event_funnel",
    "cohort_retention",
    "event_type_week_cube",
    "daily_revenue_gapfilled",
    "ingest_statements",
    "attribution_window_join",
    "corpus_shuffle_shard",
    "embedding_inference_scores",
    "fifo_realized_pnl",
    "bollinger_daily_bands",
    "duplicate_payment_audit",
    "last_digit_uniformity",
    "ucb1_arm_scores",
    "woe_iv_discount_bins",
    "event_step_paths",
    "cohort_payback_month",
    "compaction_bin_packing",
    "price_volume_mix_decomposition",
    "cuped_adjusted_lift",
    "diff_in_diff_discount",
]

assert set(_GATE_FIRST) <= set(CATALOG), sorted(set(_GATE_FIRST) - set(CATALOG))
assert set(_GATE_NEXT) <= set(CATALOG), sorted(set(_GATE_NEXT) - set(CATALOG))
assert not set(_GATE_FIRST) & set(_GATE_NEXT)
_GATE_ORDERED = _GATE_FIRST + _GATE_NEXT
CATALOG = {
    **{n: CATALOG[n] for n in _GATE_ORDERED},
    **{n: e for n, e in CATALOG.items() if n not in _GATE_ORDERED},
}
