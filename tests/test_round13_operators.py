"""Round-13 operator tests: the cross-engine float contract probed at
its weakest point (fold-exact cosine_arrow vs DuckDB list_dot_product within
1 ulp of a half-micro rounding boundary — ADVICE r12), the bounded
semantic-decon recall audit (fixed-size eval sample laws), and the
data-derived cutoff queries (non-degenerate splits at the fixture's
own range) — each against a conservation law or an independent
re-derivation, the repo's standing test model (SURVEY.md §5)."""

from __future__ import annotations

import math

import duckdb
import pandas as pd
from pyspark.sql import functions as F

from finance_reporting_etl_spark.functions.scalars import det_micro, det_micro_sql
from finance_reporting_etl_spark.functions.vectors import cosine_arrow
from finance_reporting_etl_spark.queries import CATALOG
from finance_reporting_etl_spark.tables import _read_parquet
from tests.conftest import SF_SMOKE


# --- cross-engine float contract at rounding boundaries ----------------------


def _boundary_pairs() -> list[tuple[list[float], list[float]]]:
    """Vector pairs whose sequential-fold cosine lands within ~1 ulp of
    a half-micro boundary (k + 0.5) / 1e6 — the exact inputs where a
    pairwise/SIMD-summing engine would diverge from the left fold.

    Construction: a = [1,0,0,0], b = [t, sqrt(1-t^2), 0, 0] makes the
    fold's dot product EXACTLY t (one exact multiply-add, then exact
    +0 terms), while norm(b) picks up only the sqrt's final rounding,
    so cosine = t / sqrt(nb) sits within a couple of ulps of t. With t
    stepped one ulp at a time across the boundary, the resulting micro
    integers must flip from k to k+1 at SOME step — and both engines
    must flip at the SAME step."""
    pairs = []
    for k in (299999, 300000, 420000, 17, 999999):
        t = (k + 0.5) / 1e6
        for j in range(-3, 4):
            tt = t
            step = math.nextafter(t, math.inf) - t
            tt = t + j * step
            y = math.sqrt(max(0.0, 1.0 - tt * tt))
            pairs.append(([1.0, 0.0, 0.0, 0.0], [tt, y, 0.0, 0.0]))
    return pairs


def test_foldexact_micro_matches_duckdb_at_half_micro_boundaries(spark):
    """The exact-compare gates assume det_micro(cosine_arrow) ==
    det_micro_sql(list_dot_product cosine) BIT-FOR-BIT. That holds
    because both accumulate sequentially left-to-right in float64 —
    an undocumented DuckDB implementation detail (ADVICE r12). This
    regression probes the contract where it is weakest: inputs within
    1 ulp of a 0.5-micro half-up boundary. If a duckdb upgrade moves
    list_dot_product to pairwise/SIMD summation, this test fails
    loudly instead of the gate flipping silently."""
    pairs = _boundary_pairs()
    pdf = pd.DataFrame(
        {
            "i": range(len(pairs)),
            "a": [p[0] for p in pairs],
            "b": [p[1] for p in pairs],
        }
    )
    cos_fx = cosine_arrow()
    got = {
        r["i"]: r["m"]
        for r in spark.createDataFrame(pdf)
        .select("i", det_micro(cos_fx(F.col("a"), F.col("b"))).alias("m"))
        .collect()
    }
    con = duckdb.connect()
    con.register("pairs", pdf)
    micro = det_micro_sql(
        "list_dot_product(a, b)"
        " / nullif(sqrt(list_dot_product(a, a))"
        " * sqrt(list_dot_product(b, b)), 0)",
        6,
    )
    want = dict(
        con.execute(
            f"SELECT i, CAST({micro} AS BIGINT) AS m FROM pairs"
        ).fetchall()
    )
    assert got == want
    # the probe must actually straddle boundaries, or the assertion is
    # vacuous: each 7-step ulp ladder must produce BOTH micro values
    vals = [got[i] for i in sorted(got)]
    for base in range(0, len(vals), 7):
        ladder = set(vals[base : base + 7])
        assert len(ladder) == 2, ladder


# --- bounded semantic-decon recall audit --------------------------------------


def test_semdecon_recall_eval_sample_is_bounded_and_deterministic(spark):
    """The recall sweep's audit runs on a fixed-size eval sample
    (VERDICT r12 task 2): the probe side must contain at most 64
    distinct queries, all from the eval split, chosen as the lowest
    md5(vec_id || 'semdecon-k') digests — re-derived here
    independently."""
    import hashlib

    emb = _read_parquet(spark, f"{SF_SMOKE}/embeddings.parquet")
    ids = [r.vec_id for r in emb.select("vec_id").collect()]

    def bucket(v: int) -> int:
        h = hashlib.md5((str(v) + "semdecon").encode()).hexdigest()
        return int(h[:2], 16)

    ev_ids = [v for v in ids if bucket(v) < 13]
    ranked = sorted(
        ev_ids,
        key=lambda v: hashlib.md5((str(v) + "semdecon-k").encode()).hexdigest(),
    )
    expect = set(ranked[:64])

    df = CATALOG["semantic_decontamination_recall"].fn(spark, SF_SMOKE)
    rows = {r.nprobe: r for r in df.collect()}
    assert set(rows) == {1, 2, 4, 8}
    # recall is monotone in nprobe and flagged <= truth always
    last = -1
    for p in (1, 2, 4, 8):
        r = rows[p]
        assert r.n_flagged <= r.n_truth
        assert r.recall_ppm >= last
        assert r.recall_ppm >= 0  # sentinel -1 = degenerate fixture
        last = r.recall_ppm
    # the persisted probe table the query wrote must be the sample
    from finance_reporting_etl_spark.queries import _AUX_DIR

    probes = spark.read.parquet(f"{_AUX_DIR}/semdecon_recall_probes")
    got_q = {r.query_id for r in probes.select("query_id").distinct().collect()}
    assert got_q == expect
    assert len(got_q) <= 64


# --- data-derived cutoffs stay non-degenerate ---------------------------------


def test_cuped_split_is_nondegenerate(spark):
    """The CUPED pre/post boundary is the data's epoch midpoint — at
    the fixture's own range BOTH halves must be populated (the pinned
    date the midpoint replaced would degenerate at any other range;
    this proves the derived form doesn't degenerate at this one)."""
    ev = _read_parquet(spark, f"{SF_SMOKE}/events.parquet").filter(
        F.col("value").isNotNull()
    )
    mid = ev.agg(
        F.expr("(min(unix_micros(ts)) + max(unix_micros(ts))) div 2").alias("m")
    ).first()[0]
    n_pre = ev.filter(F.unix_micros("ts") < mid).count()
    n_post = ev.filter(F.unix_micros("ts") >= mid).count()
    assert n_pre > 0 and n_post > 0
    out = CATALOG["cuped_adjusted_lift"].fn(spark, SF_SMOKE).collect()
    assert len(out) == 1 and out[0].n_users > 0


def test_retention_filter_keeps_trailing_window(spark):
    """Retention anchors to max(ts): the kept set must span no more
    than 21 days and always include the newest row."""
    out = CATALOG["retention_filter"].fn(spark, SF_SMOKE)
    ev = _read_parquet(spark, f"{SF_SMOKE}/events.parquet")
    hi = ev.agg(F.max("ts")).first()[0]
    lo_kept, hi_kept, n = out.agg(
        F.min("ts"), F.max("ts"), F.count(F.lit(1))
    ).first()
    assert hi_kept == hi
    assert (hi - lo_kept).days <= 21
    assert 0 < n < ev.count()


# --- round-13 wave operators ---------------------------------------------------


def test_phash_cross_pairs_equal_brute_force(spark):
    """Pigeonhole exactness for the CROSS-set variant: the chunk-blocked
    train x eval join must find EXACTLY the cross pairs a brute-force
    within-class hamming scan finds at hamming <= 7."""
    from finance_reporting_etl_spark.operators.corpus import md5_bucket
    from finance_reporting_etl_spark.operators.multimodal import (
        attach_synthetic_png,
        perceptual_hash_media,
        phash_cross_pairs,
    )

    docs = _read_parquet(spark, f"{SF_SMOKE}/documents.parquet")
    sigs = perceptual_hash_media(attach_synthetic_png(docs)).collect()
    import hashlib

    def bucket(v):
        return int(hashlib.md5((str(v) + "xmtest").encode()).hexdigest()[:2], 16)

    a_side = [r for r in sigs if bucket(r.doc_id) >= 13]
    b_side = [r for r in sigs if bucket(r.doc_id) < 13]
    brute = set()
    for ra in a_side:
        for rb in b_side:
            if (ra.width, ra.height) != (rb.width, rb.height):
                continue
            hm = bin(ra.hash_lo ^ rb.hash_lo).count("1") + bin(
                ra.hash_hi ^ rb.hash_hi
            ).count("1")
            if hm <= 7:
                brute.add((ra.doc_id, rb.doc_id, hm))

    sig_df = perceptual_hash_media(attach_synthetic_png(docs)).localCheckpoint()
    mb = md5_bucket("doc_id", salt="xmtest")
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in phash_cross_pairs(
            sig_df.filter(mb >= 13), sig_df.filter(mb < 13), max_hamming=7
        ).collect()
    }
    assert got == brute and len(brute) > 0


def test_phash_purge_pareto_monotone_and_conserved(spark):
    """Purge counts and bytes are monotone in the threshold, bounded by
    the totals, and the totals equal the document census."""
    docs = _read_parquet(spark, f"{SF_SMOKE}/documents.parquet")
    n_docs = docs.count()
    rows = {r.thresh: r for r in CATALOG["phash_purge_pareto"].fn(spark, SF_SMOKE).collect()}
    assert set(rows) == {0, 2, 4, 7}
    last_n, last_b = -1, -1
    for t in (0, 2, 4, 7):
        r = rows[t]
        assert r.n_docs == n_docs
        assert 0 <= r.n_purged <= r.n_docs
        assert 0 <= r.purged_pixel_bytes <= r.total_pixel_bytes
        assert r.n_purged >= last_n and r.purged_pixel_bytes >= last_b
        last_n, last_b = r.n_purged, r.purged_pixel_bytes


def test_streaming_ivf_upsert_census_conservation(spark):
    """Move-census conservation laws: total arrivals == total
    departures (a move leaves one cell and enters another), final
    membership count and id checksum equal the embeddings table, and
    non-updated vectors never move."""
    out = CATALOG["streaming_ivf_upsert_reassign"].fn(spark, SF_SMOKE).collect()
    emb = _read_parquet(spark, f"{SF_SMOKE}/embeddings.parquet")
    n, id_sum = emb.agg(F.count(F.lit(1)), F.sum("vec_id")).first()
    assert sum(r.n_final for r in out) == n
    assert sum(r.id_sum for r in out) == id_sum
    moved_in = sum(r.n_moved_in for r in out)
    moved_out = sum(r.n_moved_out for r in out)
    assert moved_in == moved_out
    # only updated vectors can move
    assert moved_in <= sum(r.n_updated for r in out)
    assert moved_in > 0  # the fixture's updates actually move cells


def test_crossmodal_agreement_cells_conserve_universe(spark):
    """The 2x2 confusion cells partition the universe exactly."""
    r = CATALOG["crossmodal_decon_agreement"].fn(spark, SF_SMOKE).first()
    assert (
        r.n_both + r.n_image_only + r.n_sem_only + r.n_neither == r.n_universe
    )
    assert r.n_universe > 0
    assert -1.0 <= r.kappa <= 1.0


def test_decon_3way_census_conserves_and_matches_pairwise_legs(spark):
    """The flag-count census partitions the universe, the per-method
    totals are consistent with the census (sum of f == weighted census
    sum), and Fleiss' kappa is in [-1, 1]."""
    r = CATALOG["decon_method_agreement_3way"].fn(spark, SF_SMOKE).first()
    assert r.c0 + r.c1 + r.c2 + r.c3 == r.n_universe
    assert r.c1 + 2 * r.c2 + 3 * r.c3 == r.n_flags_total
    assert r.n_ng + r.n_sem + r.n_img == r.n_flags_total
    assert r.n_universe > 0
    assert -1.0 <= r.fleiss_kappa <= 1.0


def test_streaming_semdecon_equals_batch_screen(spark):
    """The streamed flag census must equal an independently computed
    batch screen: same split, same index/probe construction, same
    threshold — streaming adds arrival order, not semantics."""
    from finance_reporting_etl_spark.functions.vectors import cosine_arrow
    from finance_reporting_etl_spark.functions.scalars import det_micro
    from finance_reporting_etl_spark.operators.corpus import md5_bucket
    from finance_reporting_etl_spark.operators.similarity import (
        ivf_index,
        ivf_probes_for,
    )

    out = CATALOG["streaming_semdecon_flag_maintain"].fn(spark, SF_SMOKE).first()

    emb = _read_parquet(spark, f"{SF_SMOKE}/embeddings.parquet")
    b = md5_bucket("vec_id", salt="semdecon")
    ev, tr = emb.filter(b < 13), emb.filter(b >= 13)
    cos = cosine_arrow()
    index = ivf_index(tr)
    probes = ivf_probes_for(ev, nprobe=4)
    vecs = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("v"))
    qv = vecs.withColumnsRenamed({"id": "query_id", "v": "q_vec"}).join(
        probes.select("query_id").distinct(), "query_id"
    )
    tv = vecs.withColumnsRenamed({"id": "train_id", "v": "t_vec"})
    flags = (
        index.withColumnRenamed("id", "train_id")
        .join(probes, "cell")
        .select("query_id", "train_id")
        .join(qv, "query_id")
        .join(tv, "train_id")
        .select(
            "train_id",
            det_micro(cos(F.col("q_vec"), F.col("t_vec"))).alias("m"),
        )
        .groupBy("train_id")
        .agg(F.max("m").alias("mx"))
        .filter(F.col("mx") >= 300000)
    )
    n_flagged, id_sum = flags.agg(
        F.count(F.lit(1)), F.coalesce(F.sum("train_id"), F.lit(0))
    ).first()
    assert out.n_flagged == n_flagged
    assert out.flagged_id_sum == id_sum
    assert out.n_train == tr.count()
    assert out.n_flagged > 0


def test_stale_serving_recall_laws(spark):
    """Overlap laws: overlap <= fresh results, 64-query bounded sample,
    ppm consistent with the sums, and the updates actually cost recall
    (overlap < fresh — a no-op update set would make the audit vacuous)."""
    r = CATALOG["ann_stale_serving_recall"].fn(spark, SF_SMOKE).first()
    assert r.n_queries <= 64
    assert 0 <= r.n_overlap_results <= r.n_fresh_results
    assert 0 <= r.n_queries_unchanged <= r.n_queries
    assert r.overlap_ppm == r.n_overlap_results * 1000000 // r.n_fresh_results
    assert r.n_overlap_results < r.n_fresh_results
