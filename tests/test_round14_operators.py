"""Round-14 operator tests: the incremental-cluster contraction
argument probed against a from-scratch recompute (the equivalence the
oracle also checks, here at operator grain with the edge-set partition
law), the IVF retrain sweep's conservation/monotonicity laws, the
data-independent quantizer's batch-split invariance (what makes
foreachBatch incremental quantization exact), and the cross-modal
purge policies' inclusion-exclusion — the repo's standing
conservation-law test model (SURVEY.md §5)."""

from __future__ import annotations

from pyspark.sql import functions as F

from finance_reporting_etl_spark.operators.corpus import md5_bucket
from finance_reporting_etl_spark.operators.dedup import (
    incremental_clusters,
    jaccard_incident_pairs_prepped,
    jaccard_pairs_prepped,
    jaccard_prep,
    near_dup_clusters,
)
from finance_reporting_etl_spark.operators.similarity import (
    ivf_cell_expr,
    ivf_index,
)
from finance_reporting_etl_spark.queries import CATALOG
from finance_reporting_etl_spark.tables import _read_parquet
from tests.conftest import SF_SMOKE


def _docs(spark):
    return _read_parquet(spark, f"{SF_SMOKE}/documents.parquet")


_BLOCKS = ("lang", "source")


def _split_prep(spark):
    """The documents' jaccard prep, flagged 1 for the delta (md5 bucket
    < 32) and 0 for the base, as the cluster-maintenance queries split
    it; returns (all, base, delta)."""
    docs = _docs(spark)
    flag = (md5_bucket("doc_id", salt="clmaint") < 32).cast("int").alias("__isd")
    prepped = jaccard_prep(docs.withColumn("__isd", flag), block_cols=(*_BLOCKS, "__isd"))
    prepped = prepped.localCheckpoint()
    return prepped, prepped.filter("__isd = 0"), prepped.filter("__isd = 1")


def _pairs(toks):
    return jaccard_pairs_prepped(toks, block_cols=_BLOCKS, threshold=0.5)


def _delta_incident_pairs(prepped, delta):
    return jaccard_incident_pairs_prepped(
        delta, prepped, "__isd", block_cols=_BLOCKS, threshold=0.5
    )


# --- incremental near-dup cluster maintenance --------------------------------


def test_cross_plus_self_pairs_partition_the_full_pair_set(spark):
    """The incremental == batch equivalence rests on the edge-set
    partition: (delta-incident pairs: delta×base ∪ delta self-pairs) ∪
    (base self-pairs) must be EXACTLY the pairs over the whole corpus —
    same pairs, same rounded scores, nothing dropped or doubled."""
    prepped, base, delta = _split_prep(spark)

    def norm(df):
        return {
            (min(r.id_a, r.id_b), max(r.id_a, r.id_b), r.jaccard)
            for r in df.collect()
        }

    full = norm(_pairs(prepped))
    incident = _delta_incident_pairs(prepped, delta)
    parts = norm(incident) | norm(_pairs(base))
    assert parts == full and len(full) > 0
    assert incident.count() + _pairs(base).count() == len(full)


def test_incremental_clusters_equal_full_recompute(spark):
    """Contracting base components to their min-id labels and merging
    only delta-incident edges must reproduce the full recompute's
    labels for EVERY doc (base and delta) — the operator-grain twin of
    the near_dup_cluster_maintain oracle."""
    prepped, base, delta = _split_prep(spark)

    full = {
        r.id: r.cluster_id
        for r in near_dup_clusters(
            _pairs(prepped).select("id_a", "id_b"), prepped.select("id")
        ).collect()
    }
    base_cl = near_dup_clusters(_pairs(base).select("id_a", "id_b"), base.select("id"))
    inc = {
        r.id: r.cluster_id
        for r in incremental_clusters(
            base_cl,
            _delta_incident_pairs(prepped, delta).select("id_a", "id_b"),
            delta.select("id"),
        ).collect()
    }
    assert inc == full


def test_cluster_maintain_query_labels_only_decrease(spark):
    """Merging a delta can only MERGE components, never split them: a
    base doc's final label is <= its starting label, and every label
    is the min doc_id of its final cluster."""
    out = CATALOG["near_dup_cluster_maintain"].fn(spark, SF_SMOKE).collect()
    by_cluster: dict[int, list[int]] = {}
    for r in out:
        by_cluster.setdefault(r.cluster_id, []).append(r.doc_id)
        if r.is_delta == 0:
            assert r.base_cluster_id >= 0
            assert r.cluster_id <= r.base_cluster_id
        else:
            assert r.base_cluster_id == -1
    for cid, members in by_cluster.items():
        assert cid == min(members)


# --- IVF retrain criterion + quantizer batch-invariance ----------------------


def test_ivf_cell_expr_is_batch_split_invariant(spark):
    """The data-independent coarse quantizer is what makes per-micro-
    batch incremental quantization EXACT: assigning cells to two
    disjoint halves and unioning must equal one whole-frame pass."""
    emb = _read_parquet(spark, f"{SF_SMOKE}/embeddings.parquet")
    whole = {(r.id, r.cell) for r in ivf_index(emb).collect()}
    lo = ivf_index(emb.filter(F.col("vec_id") % 2 == 0))
    hi = ivf_index(emb.filter(F.col("vec_id") % 2 == 1))
    assert {(r.id, r.cell) for r in lo.unionByName(hi).collect()} == whole
    # and the exposed Column form is the ivf_index body verbatim
    via_expr = {
        (r.vec_id, r.c)
        for r in emb.select(
            "vec_id", ivf_cell_expr().alias("c")
        ).collect()
    }
    assert via_expr == whole


def test_ivf_retrain_waves_conserve_and_monotone(spark):
    """Per-wave laws: total membership is conserved (nothing ever
    leaves the index); the updated set grows with the cumulative
    bucket prefix; moves are bounded by updates; wave 0 is the clean
    baseline (no updates, sentinel moved_ppm, no rebuild)."""
    rows = sorted(
        CATALOG["ivf_retrain_criterion"].fn(spark, SF_SMOKE).collect(),
        key=lambda r: r.wave,
    )
    assert [r.wave for r in rows] == [0, 1, 2, 3]
    n_total = {r.n_total for r in rows}
    assert len(n_total) == 1
    assert rows[0].n_updated == 0 and rows[0].n_moved == 0
    assert rows[0].moved_ppm == -1 and rows[0].rebuild_flag == 0
    for prev, cur in zip(rows, rows[1:]):
        assert cur.n_updated >= prev.n_updated
        assert cur.n_moved >= prev.n_moved
    for r in rows:
        assert 0 <= r.n_moved <= r.n_updated <= r.n_total
        # max cell can never hold fewer than the even share
        assert r.max_cell_n * 16 >= r.n_total
        assert r.imbalance_ppm >= 1000000


# --- cross-modal purge policies ----------------------------------------------


def test_crossmodal_purge_policies_inclusion_exclusion(spark):
    """union + intersect == image_only + semantic_only, in BOTH docs
    and pixel bytes (exact inclusion-exclusion over 0/1 flags);
    policies bracket each other; totals are shared."""
    rows = {
        r.policy: r
        for r in CATALOG["crossmodal_purge_pareto"].fn(spark, SF_SMOKE).collect()
    }
    assert set(rows) == {"image_only", "semantic_only", "union", "intersect"}
    img, sem = rows["image_only"], rows["semantic_only"]
    uni, inter = rows["union"], rows["intersect"]
    assert len({r.n_docs for r in rows.values()}) == 1
    assert len({r.total_pixel_bytes for r in rows.values()}) == 1
    assert uni.n_purged + inter.n_purged == img.n_purged + sem.n_purged
    assert (
        uni.purged_pixel_bytes + inter.purged_pixel_bytes
        == img.purged_pixel_bytes + sem.purged_pixel_bytes
    )
    assert uni.n_purged >= max(img.n_purged, sem.n_purged)
    assert inter.n_purged <= min(img.n_purged, sem.n_purged)
    for r in rows.values():
        assert 0 <= r.purged_pixel_bytes <= r.total_pixel_bytes
        assert 0 <= r.purged_ppm <= 1000000


# --- streaming cluster maintenance + IVF rebuild -----------------------------


def test_streaming_cluster_maintain_equals_batch_recompute(spark):
    """The streamed three-batch fold must equal one full recompute —
    the associativity claim at query grain (the oracle checks the
    same thing against DuckDB's closure; this pins it Spark-vs-Spark
    so a streaming-plumbing regression is caught without the oracle)."""
    docs = _docs(spark)
    full = {
        r.id: r.cluster_id
        for r in near_dup_clusters(
            _pairs(jaccard_prep(docs, block_cols=_BLOCKS)).select("id_a", "id_b"),
            docs.select(F.col("doc_id").alias("id")),
        ).collect()
    }
    streamed = CATALOG["streaming_cluster_maintain"].fn(spark, SF_SMOKE).collect()
    assert {r.doc_id: r.cluster_id for r in streamed} == full
    assert {r.arrival_batch for r in streamed} <= {0, 1, 2}


def test_ivf_rebuild_census_conserves_membership(spark):
    """Re-assignment is a permutation of members across cells: both
    phases cover the same vector universe (same total count and id
    checksum), every cell is one of the trained 16, and the retrained
    phase only uses cells that existed in the degraded index (its
    centroids are derived from them)."""
    rows = CATALOG["ivf_rebuild_execute"].fn(spark, SF_SMOKE).collect()
    deg = [r for r in rows if r.phase == "degraded"]
    ret = [r for r in rows if r.phase == "retrained"]
    assert sum(r.n_members for r in deg) == sum(r.n_members for r in ret)
    assert sum(r.id_sum for r in deg) == sum(r.id_sum for r in ret)
    deg_cells = {r.cell for r in deg}
    assert {r.cell for r in ret} <= deg_cells
    assert all(0 <= r.cell < 16 for r in rows)
