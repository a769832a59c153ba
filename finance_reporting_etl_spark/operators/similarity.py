"""Similarity search over embedding columns (BASELINE extension X3).

- ``brute_force_topk``: exact cosine top-k. The query side is tiny and
  broadcast; candidates stream map-side, and per-query top-k is a
  window over (query, score). At 100 TB the scan dominates — no
  shuffle of the candidate table, only of the (n_queries x n_candidates)
  scored pairs, bounded by broadcasting queries and pre-filtering.
- ``hyperplane_lsh_topk``: the scale path. Deterministic random
  hyperplanes (seeded numpy, shipped as literals) bucket vectors by
  sign pattern; top-k runs within each bucket only. Probe multiple
  bucket permutations for recall if needed.

Scores accumulate in float64 via built-in higher-order functions
(functions/vectors.py) — no Python in the hot path.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from finance_reporting_etl_spark.functions.vectors import cosine, cosine_arrow
from finance_reporting_etl_spark.functions.scalars import det_round
from finance_reporting_etl_spark.partitioning import spread


def brute_force_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 6,
    label_col: str | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query id (self excluded).

    Deterministic tie-break: (score DESC, neighbor id ASC). With
    ``label_col`` set, only candidates whose label DIFFERS from the
    query's qualify (hard-negative mining — see
    :func:`hard_negatives_topk`) and (q_label, n_label) ride the
    output. Returns (query_id[, q_label], neighbor_id[, n_label],
    score, rank) — one scorer pipeline, so tie-break/rounding/self-
    exclusion can never drift between the two uses.
    """
    q_cols = [F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")]
    c_cols = [F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")]
    if label_col is not None:
        q_cols.append(F.col(label_col).alias("q_label"))
        c_cols.append(F.col(label_col).alias("n_label"))
    q = embeddings.filter(F.col(id_col).isin(query_ids)).select(*q_cols)
    c = spread(embeddings).select(*c_cols)
    pred = F.col("query_id") != F.col("neighbor_id")
    if label_col is not None:
        pred = pred & (F.col("q_label") != F.col("n_label"))
    out_cols = (
        ["query_id", "neighbor_id", "score"]
        if label_col is None
        else ["query_id", "q_label", "neighbor_id", "n_label", "score"]
    )
    # every catalog caller passes a handful of query ids (~10k pairs):
    # at that volume the codegen'd Catalyst fold beats an Arrow UDF's
    # per-stage round-trip (measured +0.9s/query when swapped) — keep
    # the interpreted fold here; the volume scorer is
    # ivf_topk_from_index's arrow=True path
    scored = (
        c.join(F.broadcast(q), pred)
        .withColumn("score", det_round(cosine("q_vec", "c_vec"), scale))
        .select(*out_cols)
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(*out_cols, "rank")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    """Deterministic Gaussian hyperplanes (public LSH construction)."""
    rng = np.random.RandomState(seed)
    return rng.randn(n_planes, dim).astype(np.float64)


def bucket_udf(all_planes: np.ndarray):
    """Arrow UDF: batch of vectors -> array<long> of per-table buckets.

    ``all_planes`` is (n_tables, n_planes, dim); one matmul computes
    every (vector, table, plane) dot product for the whole batch, then
    sign bits pack into one bucket id per table.
    """
    from pyspark.sql.functions import pandas_udf

    n_tables, n_planes, dim = all_planes.shape
    flat = all_planes.reshape(n_tables * n_planes, dim)  # (L*P, dim)
    weights = 1 << np.arange(n_planes, dtype=np.int64)  # bit p -> 2^p

    @pandas_udf("array<long>")
    def buckets(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.to_numpy())  # (B, dim)
        bits = (m @ flat.T >= 0).reshape(-1, n_tables, n_planes)  # (B, L, P)
        out = bits @ weights  # (B, L) bucket ids
        return pd.Series(list(out))

    return buckets


def hyperplane_buckets(
    embeddings: DataFrame,
    n_planes: int = 4,
    n_tables: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """NARROW (id, tbl, bucket) LSH index rows — the persistable stage.

    One Arrow-batched matmul assigns all ``n_tables`` buckets per vector
    (bucket_udf); vectors never ride downstream shuffles. At 100 TB this
    table is written once (partitioned by tbl/bucket if reprobed often)
    and re-joined many times — and persisting it also lets an external
    engine re-derive every downstream join/score/rank decision from the
    exact same bucket assignments (the DuckDB oracle does precisely
    that).
    """
    all_planes = np.stack(
        [_hyperplanes(dim, n_planes, seed + 1000 * t) for t in range(n_tables)]
    )
    udf = bucket_udf(all_planes)
    return embeddings.select(F.col(id_col).alias("id"), udf(F.col(vec_col)).alias("bks")).select(
        "id", F.posexplode("bks").alias("tbl", "bucket")
    )


def topk_from_buckets(
    buckets: DataFrame,
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 6,
) -> DataFrame:
    """Top-k over LSH candidates: bucket-join -> narrow pair dedup ->
    vector re-join -> Arrow cosine -> per-query rank window."""
    from finance_reporting_etl_spark.functions.vectors import cosine_arrow

    qb = buckets.filter(F.col("id").isin(query_ids)).withColumnRenamed("id", "query_id")
    cb = buckets.withColumnRenamed("id", "neighbor_id")
    pairs = (
        cb.join(F.broadcast(qb), ["tbl", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()  # union over tables, deduped on bare ids (8 bytes/row)
    )
    # vectors join back onto the DEDUPED pairs only (measured 2x end-to-end
    # vs carrying vectors through the dedup — same shape as
    # operators/dedup.py lsh_cosine_pairs_from_buckets); Arrow-batched
    # cosine scoring.
    vecs = embeddings.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    qv = vecs.filter(F.col("id").isin(query_ids)).withColumnsRenamed(
        {"id": "query_id", "v": "q_vec"}
    )
    cv = vecs.withColumnsRenamed({"id": "neighbor_id", "v": "c_vec"})
    cos = cosine_arrow()
    scored = (
        pairs.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .withColumn("score", det_round(cos(F.col("q_vec"), F.col("c_vec")), scale))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


def hyperplane_lsh_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    n_planes: int = 4,
    n_tables: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    scale: int = 6,
) -> DataFrame:
    """Approximate top-k via multi-table hyperplane LSH.

    Each of ``n_tables`` hash tables assigns a 2^n_planes bucket; a
    candidate is scored if it shares a bucket with the query in ANY
    table (recall ~= 1-(1-p^k)^L for per-plane collision prob p). The
    join key is (table, bucket) — the cross-bucket pair space never
    materializes, so cost scales with bucket occupancy, not n^2. Tuning:
    more planes -> smaller buckets (cheaper, lower recall); more tables
    -> higher recall (linear cost in L). Benchmarked against brute
    force for recall in tests.

    Composition of ``hyperplane_buckets`` (Catalyst pushes the query-id
    filter below the bucket UDF, so the query side hashes only |Q| rows)
    and ``topk_from_buckets``.
    """
    buckets = hyperplane_buckets(
        spread(embeddings), n_planes, n_tables, dim, id_col, vec_col, seed
    )
    return topk_from_buckets(buckets, embeddings, query_ids, k, id_col, vec_col, scale)


# --- IVF (inverted-file) ANN ------------------------------------------------


def _centroids(n_cells: int, dim: int, seed: int = 7) -> np.ndarray:
    """Deterministic unit-norm Gaussian centroids (data-independent
    coarse quantizer — the fixed-codebook IVF variant; a k-means
    codebook is a drop-in replacement when training is worth it)."""
    rng = np.random.RandomState(seed)
    c = rng.randn(n_cells, dim)
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def _cell_assign_udf(centroids: np.ndarray, nprobe: int):
    """Vectorized Arrow UDF: batch of vectors -> top-nprobe nearest
    cells by dot product with the unit-norm centroids (argmax of
    cosine; the per-row norm is constant across cells so plain dot
    ranks identically). numpy matmul over the whole Arrow batch — the
    per-row higher-order-function alternative evaluates interpreted
    and was measured orders slower for matrix work.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<int>")
    def assign(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.to_numpy())  # (B, dim)
        scores = m @ centroids.T  # (B, n_cells)
        top = np.argsort(-scores, axis=1)[:, :nprobe]
        return pd.Series(list(top.astype("int32")))

    return assign


def ivf_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
    scale: int = 6,
) -> DataFrame:
    """Approximate top-k via an inverted-file index (IVF-flat).

    Candidates live in their single nearest cell; each query probes its
    ``nprobe`` nearest cells. The join key is the cell id, so the pair
    space is bucket-local (never n^2) and the shuffle partitions by
    cell. At 100 TB the candidate side is written partitioned by cell
    once and re-probed many times — the classic IVF read-amortization.
    Recall rises with nprobe (queries probe more cells), cost with
    n_cells (smaller cells, more of them).

    Exact cosine + deterministic (score DESC, id ASC) top-k inside the
    probed set; Arrow-vectorized numpy for the quantizer, built-in
    Catalyst expressions everywhere else.
    """
    index = ivf_index(spread(embeddings), n_cells, dim, id_col, vec_col, seed)
    probes = ivf_probes(embeddings, query_ids, n_cells, nprobe, dim, id_col, vec_col, seed)
    return ivf_topk_from_index(index, probes, embeddings, k, id_col, vec_col, scale)


def ivf_cell_expr(
    n_cells: int = 16,
    dim: int = 64,
    vec_col: str = "embedding",
    seed: int = 7,
) -> F.Column:
    """Single-nearest-cell assignment as a plain Column expression —
    the ``ivf_index`` body exposed so incremental maintainers (e.g. a
    foreachBatch upsert quantizing ONLY the arriving micro-batch) use
    the identical quantizer as a full batch rebuild. The centroids are
    data-independent (fixed seed), so per-batch assignment == rebuild
    assignment row for row."""
    cents = _centroids(n_cells, dim, seed)
    return F.element_at(_cell_assign_udf(cents, 1)(F.col(vec_col)), 1)


def ivf_index(
    embeddings: DataFrame,
    n_cells: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
) -> DataFrame:
    """(id, cell) rows: each vector in its single nearest cell — the
    persistable inverted-file index (written partitioned by cell at
    scale, re-probed many times)."""
    return embeddings.select(
        F.col(id_col).alias("id"),
        ivf_cell_expr(n_cells, dim, vec_col, seed).alias("cell"),
    )


def ivf_probes(
    embeddings: DataFrame,
    query_ids: list[int],
    n_cells: int = 16,
    nprobe: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
) -> DataFrame:
    """(query_id, cell) rows: the ``nprobe`` nearest cells per query."""
    return ivf_probes_for(
        embeddings.filter(F.col(id_col).isin(query_ids)),
        n_cells, nprobe, dim, id_col, vec_col, seed,
    )


def ivf_probes_for(
    queries: DataFrame,
    n_cells: int = 16,
    nprobe: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
) -> DataFrame:
    """(query_id, cell) probe rows for EVERY row of ``queries`` — the
    set-valued variant of ``ivf_probes`` for query sides that are a
    DataFrame predicate (e.g. a held-out split) rather than a driver
    list; stays fully distributed, no collect."""
    return ivf_probes_ranked(
        queries, n_cells, nprobe, dim, id_col, vec_col, seed
    ).select("query_id", "cell")


def ivf_probes_ranked(
    queries: DataFrame,
    n_cells: int = 16,
    nprobe: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
) -> DataFrame:
    """(query_id, probe_rank, cell) probe rows, probe_rank 1-based in
    nearest-cell order. Because rank-``p`` probes are a PREFIX of
    rank-``nprobe`` probes, one table probed at the maximum nprobe
    serves a whole sweep via ``probe_rank <= p`` filters — one Arrow
    quantizer pass and one persisted artifact instead of one per
    sweep point."""
    cents = _centroids(n_cells, dim, seed)
    return (
        queries
        .withColumn("cells", _cell_assign_udf(cents, nprobe)(F.col(vec_col)))
        .select(
            F.col(id_col).alias("query_id"),
            F.posexplode("cells").alias("__pos", "cell"),
        )
        .select(
            "query_id",
            (F.col("__pos") + 1).cast("int").alias("probe_rank"),
            "cell",
        )
    )


def ivf_topk_from_index(
    index: DataFrame,
    probes: DataFrame,
    embeddings: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 6,
    arrow: bool = False,
) -> DataFrame:
    """Top-k over IVF candidates: cell join (a neighbor lives in exactly
    one cell, so no pair dedup is needed) -> vector re-join -> exact
    cosine -> deterministic per-query rank window.

    ``arrow=True`` scores with ``cosine_arrow`` — the BIT-IDENTICAL
    vectorized twin of the Catalyst fold (same IEEE op order per
    dimension, see vectors.py), so scores and ranks cannot move. Worth
    it from ~30k candidate pairs up (the 64-query eval serves); below
    that the Arrow stage's round-trip costs more than the interpreted
    fold (measured both ways at sf0.1)."""
    cands = (
        index.withColumnRenamed("id", "neighbor_id")
        .join(F.broadcast(probes), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
    )
    vecs = embeddings.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    qv = vecs.withColumnsRenamed({"id": "query_id", "v": "q_vec"}).join(
        F.broadcast(probes.select("query_id").distinct()), "query_id"
    )
    cv = vecs.withColumnsRenamed({"id": "neighbor_id", "v": "c_vec"})
    score_fn = (
        (lambda a, b: cosine_arrow()(F.col(a), F.col(b)))
        if arrow
        else (lambda a, b: cosine(a, b))
    )
    scored = (
        cands.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .withColumn("score", det_round(score_fn("q_vec", "c_vec"), scale))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


# --- IVF-PQ: product-quantized ANN ----------------------------------------


def pq_train_codebooks(
    embeddings: DataFrame,
    dim: int = 64,
    m: int = 16,
    k_codes: int = 64,
    sample: int = 2048,
    iters: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Train PQ codebooks on a deterministic sample: (m, k_codes, dim/m).

    Standard PQ practice (FAISS does the same): codebooks train on a
    bounded sample — here the ``sample`` lowest ids, a deterministic
    choice — with driver-side Lloyd per subspace. The collect is
    O(sample x dim) regardless of corpus size; at 100 TB the sample is
    still 2048 rows. Ties in the argmin break toward the lowest code
    (np.argmin first-occurrence), init is the first k_codes sample rows
    in id order, so training is bit-reproducible.
    """
    dsub = dim // m
    rows = embeddings.select(id_col, vec_col).orderBy(id_col).limit(sample).collect()
    X = np.stack([np.asarray(r[vec_col], dtype=np.float64) for r in rows])
    books = np.empty((m, k_codes, dsub))
    for sub in range(m):
        Xs = X[:, sub * dsub : (sub + 1) * dsub]
        cb = Xs[:k_codes].copy()
        for _ in range(iters):
            d2 = ((Xs[:, None, :] - cb[None, :, :]) ** 2).sum(-1)
            a = np.argmin(d2, axis=1)
            for c in range(k_codes):
                if (a == c).any():
                    cb[c] = Xs[a == c].mean(axis=0)
        books[sub] = cb
    return np.round(books, 6)


def pq_encode(
    embeddings: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, m, code) rows: per-subspace nearest-codeword assignment.

    One Arrow batch encodes via a single broadcasted numpy distance
    computation per subspace; the output is the narrow persistable PQ
    index (a code is one small int — the 64x compression that lets a
    100 TB vector corpus's index live in memory). Exploded to one row
    per (vector, subspace) so an ANSI-SQL oracle can re-derive ADC
    scoring downstream by joining a lookup table.
    """
    mm, k_codes, dsub = codebooks.shape

    @F.pandas_udf("array<int>")
    def codes(vecs: pd.Series) -> pd.Series:
        X = np.stack(vecs.to_numpy())  # (B, dim)
        Xs = X.reshape(len(X), mm, dsub)
        out = np.empty((len(X), mm), dtype=np.int32)
        for sub in range(mm):
            d2 = ((Xs[:, sub, None, :] - codebooks[sub][None, :, :]) ** 2).sum(-1)
            out[:, sub] = np.argmin(d2, axis=1)
        return pd.Series(list(out))

    return embeddings.select(
        F.col(id_col).alias("id"), F.posexplode(codes(F.col(vec_col))).alias("m", "code")
    )


def pq_query_luts(
    embeddings: DataFrame,
    query_ids: list[int],
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 6,
) -> "list[tuple[int, int, int, float]]":
    """ADC lookup tables: (query_id, m, code, d2) rows.

    d2 = ||q_sub - codeword||^2 per (query, subspace, codeword) — the
    classic asymmetric-distance trick: n_queries x m x k_codes rows
    bound the per-query scoring cost, independent of candidate count.
    Driver-side numpy over the (bounded) query set only.
    """
    mm, k_codes, dsub = codebooks.shape
    rows = (
        embeddings.filter(F.col(id_col).isin(query_ids))
        .select(id_col, vec_col)
        .collect()
    )
    out = []
    for r in rows:
        q = np.asarray(r[vec_col], dtype=np.float64).reshape(mm, dsub)
        for sub in range(mm):
            d2 = ((codebooks[sub] - q[sub][None, :]) ** 2).sum(-1)
            for code in range(k_codes):
                out.append((int(r[id_col]), sub, code, round(float(d2[code]), scale)))
    return out


def pq_index(
    embeddings: DataFrame,
    codebooks: np.ndarray,
    n_cells: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
) -> DataFrame:
    """The persistable IVF-PQ index: (id, cell, m, code) — coarse cell
    and PQ codes in ONE narrow table (written partitioned by cell at
    scale), so query time touches exactly one index artifact."""
    return ivf_index(embeddings, n_cells, dim, id_col, vec_col, seed).join(
        pq_encode(embeddings, codebooks, id_col, vec_col), "id"
    )


def ivfpq_topk_from_tables(
    index: DataFrame,
    probes: DataFrame,
    luts: DataFrame,
    k: int = 10,
    scale: int = 6,
) -> DataFrame:
    """Top-k by ADC distance from the persisted index/probes/LUT tables.

    One pass: the cell join prunes candidates (IVF), the broadcast-LUT
    join on (query_id, m, code) prices each subspace, and a single sum
    groupBy accumulates ADC — no vector column is ever re-read at query
    time, which is the point of PQ: the scan moves m small ints instead
    of dim floats, ~32x less I/O at equal candidate counts.
    Deterministic (adc ASC, neighbor_id ASC) ranking.
    """
    adc = (
        index.withColumnRenamed("id", "neighbor_id")
        .join(F.broadcast(probes), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .join(F.broadcast(luts), ["query_id", "m", "code"])
        .groupBy("query_id", "neighbor_id")
        .agg(det_round(F.sum("d2"), scale).alias("adc_dist"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("adc_dist").asc(), F.col("neighbor_id").asc())
    return (
        adc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adc_dist", "rank")
    )


def ivfpq_rerank_topk(
    index: DataFrame,
    probes: DataFrame,
    luts: DataFrame,
    embeddings: DataFrame,
    shortlist: int = 50,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 6,
) -> DataFrame:
    """Two-stage retrieval, the standard ANN serving pattern: a cheap
    ADC shortlist (:func:`ivfpq_topk_from_tables` at k=``shortlist`` —
    no vector data read) followed by an EXACT-cosine rerank of just
    those candidates -> top-``k``. Recovers exact scores where they
    matter (the final ranking) while the scan stage still moves m
    code bytes per vector instead of dim floats; per query the rerank
    touches ``shortlist`` vectors, not a cell's worth. Both stages
    rank deterministically (ADC: dist ASC + id; exact: score DESC +
    id), so the shortlist boundary is reproducible cross-engine."""
    short = ivfpq_topk_from_tables(index, probes, luts, k=shortlist, scale=scale)
    vecs = embeddings.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    # query ids come from the (tiny) probes table, NOT from
    # short.select(...).distinct() — the latter would evaluate the
    # whole ADC subtree a second time (no ReuseExchange across the
    # distinct branch; measured ~2x the query's cost)
    qv = vecs.withColumnsRenamed({"id": "query_id", "v": "q_vec"}).join(
        F.broadcast(probes.select("query_id").distinct()), "query_id"
    )
    cv = vecs.withColumnsRenamed({"id": "neighbor_id", "v": "c_vec"})
    scored = (
        short.select("query_id", "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .withColumn("score", det_round(cosine("q_vec", "c_vec"), scale))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


# ---------------------------------------------------------------------------
# Random-projection (Johnson-Lindenstrauss) dimensionality reduction
# ---------------------------------------------------------------------------


def rademacher_matrix(d_in: int, d_out: int, seed: int = 11) -> np.ndarray:
    """Deterministic +-1/sqrt(d_out) projection matrix (JL sketch).

    Persist it and have every consumer (Spark UDF and oracle alike)
    read the SAME float64 values; then the only cross-engine
    inexactness is summation order (~1e-16), which the oracle's 4dp
    score rounding absorbs.
    """
    rng = np.random.default_rng(seed)
    signs = rng.integers(0, 2, size=(d_in, d_out)).astype(np.float64) * 2.0 - 1.0
    return signs / np.sqrt(d_out)


def project_vectors(
    df, matrix: np.ndarray, id_col: str = "vec_id", vec_col: str = "embedding"
):
    """Arrow-batched matmul: (batch x d_in) @ (d_in x d_out) per Arrow
    batch — one BLAS call per batch, the scale path for reducing a
    100 TB embedding column before ANN (16 doubles/vector replaces 64
    floats at query time). Returns (id_col, proj: array<double>)."""
    from pyspark.sql.functions import pandas_udf

    m = matrix  # closure capture; broadcast by task serialization

    @pandas_udf("array<double>")
    def proj(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype=object)
        mat = np.stack(vs.to_numpy()).astype(np.float64)
        out = mat @ m
        return pd.Series(list(out))

    return df.select(F.col(id_col), proj(F.col(vec_col)).alias("proj"))


def random_projection_topk(
    projected,
    query_ids: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    scale: int = 4,
):
    """Exact top-k cosine in the PROJECTED space (same deterministic
    tie-break as brute_force_topk). JL preserves pairwise angles to
    within ~1/sqrt(d_out), so projected top-k approximates original
    top-k — recall is pinned by pytest, the ranking itself is
    hard-verified by the DuckDB oracle from the shared matrix."""
    from finance_reporting_etl_spark.functions.vectors import cosine
    from finance_reporting_etl_spark.partitioning import spread

    q = projected.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col("proj").alias("q_vec")
    )
    c = spread(projected).select(F.col(id_col).alias("neighbor_id"), F.col("proj").alias("c_vec"))
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("score", det_round(cosine("q_vec", "c_vec"), scale))
        .select("query_id", "neighbor_id", "score")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


def hard_negatives_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    scale: int = 6,
) -> DataFrame:
    """Hard-negative mining for contrastive/metric training: for each
    query, the k nearest vectors with a DIFFERENT label — the
    most-confusable negatives, which carry most of the training signal
    (random negatives are trivially separable after the first epochs).
    A thin binding over :func:`brute_force_topk` with the label
    predicate fused into its join (one scorer pipeline — r5 review);
    the scale path swaps the scorer behind an IVF probe exactly like
    the positive-pair queries. Returns
    (query_id, q_label, neighbor_id, n_label, score, rank)."""
    return brute_force_topk(
        embeddings, query_ids, k, id_col, vec_col, scale, label_col=label_col
    )


def mmr_select(
    shortlist: DataFrame,
    pair_sims: DataFrame,
    k: int = 5,
    lam: float = 0.7,
    mu: float = 0.3,
) -> DataFrame:
    """Maximal Marginal Relevance selection over a per-query shortlist:
    step 1 takes the most relevant candidate; step t takes
    argmax(lam * rel - mu * max_sim_to_selected) — the standard
    diversified-retrieval rerank (Carbonell & Goldstein '98), the same
    greedy that dedups near-identical contexts in RAG pipelines.

    ``shortlist`` is (query_id, neighbor_id, rel), ``pair_sims`` is
    (query_id, id_a, id_b, sim) with BOTH directions materialized;
    both carry 6dp-rounded scores (persist them via the aux pattern so
    the oracle replays selection over identical doubles). ``mu`` is an
    EXPLICIT constant, not 1 - lam: float(1 - 0.7) != float(0.3), and
    the SQL twin prints the same repr. Every per-step argmax is a
    per-query window on (rounded mmr DESC, neighbor_id). The selected
    set is localCheckpoint'ed each step: sel_t references sel_{t-1}
    TWICE (anti-join + union), so a lazy chain duplicates the whole
    prefix per level — O(2^k) plan nesting, measured ~7.5 s at
    k=5/sf0.1 vs ~1 s checkpointed; the checkpointed frame is only
    n_queries * k rows. Returns (query_id, step, neighbor_id)."""
    w1 = Window.partitionBy("query_id").orderBy(
        F.col("rel").desc(), F.col("neighbor_id")
    )
    sel = (
        shortlist.withColumn("__rn", F.row_number().over(w1))
        .filter(F.col("__rn") == 1)
        .select("query_id", F.lit(1).alias("step"), "neighbor_id")
    )
    # every stage renames to fresh columns: `sel` shares lineage with
    # `shortlist`, so attribute references would be ambiguous in the
    # self-referencing loop joins
    wt = Window.partitionBy("q").orderBy(F.col("mmr").desc(), F.col("c"))
    ps = pair_sims.select(
        F.col("query_id").alias("pq"),
        F.col("id_a").alias("pa"),
        F.col("id_b").alias("pb"),
        "sim",
    )
    for t in range(2, k + 1):
        chosen = sel.select("query_id", "neighbor_id")
        rem = shortlist.join(chosen, ["query_id", "neighbor_id"], "left_anti").select(
            F.col("query_id").alias("q"),
            F.col("neighbor_id").alias("c"),
            "rel",
        )
        ch = chosen.select(
            F.col("query_id").alias("sq"), F.col("neighbor_id").alias("sid")
        )
        cand = (
            rem.join(ps, (F.col("q") == F.col("pq")) & (F.col("c") == F.col("pa")))
            .join(ch, (F.col("pq") == F.col("sq")) & (F.col("pb") == F.col("sid")))
            .groupBy("q", "c", "rel")
            .agg(F.max("sim").alias("max_sim"))
            .withColumn(
                "mmr",
                det_round(F.lit(lam) * F.col("rel") - F.lit(mu) * F.col("max_sim"), 6),
            )
        )
        pick = (
            cand.withColumn("__rn", F.row_number().over(wt))
            .filter(F.col("__rn") == 1)
            .select(
                F.col("q").alias("query_id"),
                F.lit(t).alias("step"),
                F.col("c").alias("neighbor_id"),
            )
        )
        sel = sel.unionByName(pick).localCheckpoint(eager=True)
    return sel


def mmr_oracle_sql(
    shortlist_glob: str,
    pairs_glob: str,
    k: int = 5,
    lam: float = 0.7,
    mu: float = 0.3,
) -> str:
    """Unrolled k-step SQL twin of :func:`mmr_select` (the
    graph-module pattern: fixed iteration counts unroll into chained
    CTEs instead of a recursive aggregate, which engines restrict).
    Reads the SAME persisted shortlist/pair-sim parquet."""
    ctes = [
        f"shortlist AS (SELECT * FROM '{shortlist_glob}')",
        f"pairs AS (SELECT * FROM '{pairs_glob}')",
        """sel1 AS (
            SELECT query_id, 1 AS step, neighbor_id FROM (
                SELECT query_id, neighbor_id,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY rel DESC, neighbor_id) AS rn
                FROM shortlist) WHERE rn = 1
        )""",
    ]
    for t in range(2, k + 1):
        prev = f"sel{t - 1}"
        ctes.append(f"""cand{t} AS (
            SELECT c.query_id, c.neighbor_id,
                   (CASE WHEN isnan(CAST(({lam!r} * c.rel - {mu!r} * max(p.sim)) AS DOUBLE)) OR abs(CAST(({lam!r} * c.rel - {mu!r} * max(p.sim)) AS DOUBLE)) >= 4611686018427.388 THEN ({lam!r} * c.rel - {mu!r} * max(p.sim)) ELSE floor(({lam!r} * c.rel - {mu!r} * max(p.sim)) * 1000000.0 + 0.5) / 1000000.0 END) AS mmr
            FROM shortlist c
            JOIN pairs p ON p.query_id = c.query_id AND p.id_a = c.neighbor_id
            JOIN {prev} sp ON sp.query_id = p.query_id
                          AND sp.neighbor_id = p.id_b
            WHERE NOT EXISTS (SELECT 1 FROM {prev} s2
                              WHERE s2.query_id = c.query_id
                                AND s2.neighbor_id = c.neighbor_id)
            GROUP BY c.query_id, c.neighbor_id, c.rel
        )""")
        ctes.append(f"""sel{t} AS (
            SELECT * FROM {prev}
            UNION ALL
            SELECT query_id, {t} AS step, neighbor_id FROM (
                SELECT query_id, neighbor_id,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY mmr DESC, neighbor_id) AS rn
                FROM cand{t}) WHERE rn = 1
        )""")
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT query_id, CAST(step AS INT) AS step, neighbor_id FROM sel{k}"
    )


def reciprocal_rank_fusion(
    a: DataFrame,
    b: DataFrame,
    k0: int = 60,
    topk: int = 10,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack/Clarke/Buettcher SIGIR'09) of
    two ranked lists: rrf(d) = sum over lists of 1/(k0 + rank_d) —
    the standard hybrid-retrieval merge (BM25 x embeddings) that needs
    NO score calibration between systems because only ranks enter.

    Inputs are (query_id, neighbor_id, rank) frames (rank 1-based,
    missing = no contribution). The fused score is a fixed TWO-term
    float expression over integer ranks — identical in any engine —
    and the output rank breaks float ties by neighbor_id. The join is
    per-query top-k sized (bounded), never corpus-sized. Returns
    (query_id, neighbor_id, rrf_score, rank) with rank <= topk.
    """
    aa = a.select("query_id", "neighbor_id", F.col("rank").alias("r_a"))
    bb = b.select("query_id", "neighbor_id", F.col("rank").alias("r_b"))
    j = aa.join(bb, ["query_id", "neighbor_id"], "full_outer")
    rrf = F.coalesce(
        F.lit(1.0) / (F.lit(float(k0)) + F.col("r_a")), F.lit(0.0)
    ) + F.coalesce(F.lit(1.0) / (F.lit(float(k0)) + F.col("r_b")), F.lit(0.0))
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf_score").desc(), F.col("neighbor_id").asc()
    )
    return (
        j.withColumn("rrf_score", det_round(rrf, 6))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select("query_id", "neighbor_id", "rrf_score", "rank")
    )


def cross_encoder_rerank(shortlist: DataFrame, tokens: DataFrame) -> DataFrame:
    """Interaction-scored rerank of a two-tower shortlist — the
    cross-encoder serving pattern's Spark shape.

    Production retrieval stacks shortlist with a cheap factorized
    scorer (two-tower / ADC) and rerank the survivors with a model
    that sees the (query, candidate) PAIR. The model here is a
    deterministic stand-in — distinct-token overlap in exact integer
    ppm, ``inter * 1e6 div union`` — so both engines reproduce the
    ordering bit-exactly, while the PLAN is the real one: the enriched
    shortlist (with query token arrays) broadcasts into a single
    corpus scan, so per query the pair-scoring cost is bounded by the
    shortlist, never the corpus.

    ``shortlist``: (query_id, neighbor_id, adc_rank); ``tokens``:
    (doc_id, toks). Returns (query_id, neighbor_id, adc_rank,
    ce_rank) with ce_rank 1-based by (overlap ppm DESC, neighbor_id).
    """
    qt = tokens.join(
        F.broadcast(
            shortlist.select(F.col("query_id").alias("doc_id")).distinct()
        ),
        "doc_id",
    ).select(F.col("doc_id").alias("query_id"), F.col("toks").alias("q_toks"))
    enriched = shortlist.join(F.broadcast(qt), "query_id")
    ct = tokens.select(
        F.col("doc_id").alias("neighbor_id"), F.col("toks").alias("c_toks")
    )
    inter = F.size(F.array_intersect("q_toks", "c_toks")).cast("bigint")
    un = (
        F.size("q_toks").cast("bigint")
        + F.size("c_toks").cast("bigint")
        - inter
    )
    x = (
        ct.join(F.broadcast(enriched), "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            "adc_rank",
            inter.alias("__inter"),
            un.alias("__un"),
        )
        .withColumn(
            "__ce_ppm",
            F.when(F.col("__un") == 0, F.lit(0).cast("bigint")).otherwise(
                F.expr("(__inter * 1000000) div __un")
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("__ce_ppm").desc(), F.col("neighbor_id").asc()
    )
    return x.withColumn("ce_rank", F.row_number().over(w)).select(
        "query_id", "neighbor_id", "adc_rank", "ce_rank"
    )


def rank_agreement_metrics(ranked: DataFrame, k: int = 10) -> DataFrame:
    """Agreement audit between two rankings of the same candidates —
    the quality gate before trusting a cheap ranker's top-k.

    Input: (query_id, neighbor_id, adc_rank, ce_rank). Emits one row
    per query with exact-integer metrics only: candidate count,
    ``top{k}_overlap`` (|topk ∩ topk|), total L1 rank displacement,
    and the Kendall concordant/discordant pair counts (row_number
    ranks are tie-free, so the two counts partition the pairs exactly).
    The pair self-join is shortlist² per query — bounded by the
    serving shortlist, independent of corpus size.
    """
    per = ranked.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
        F.sum(
            ((F.col("adc_rank") <= k) & (F.col("ce_rank") <= k)).cast("int")
        )
        .cast("bigint")
        .alias(f"top{k}_overlap"),
        F.sum(F.abs(F.col("adc_rank") - F.col("ce_rank")))
        .cast("bigint")
        .alias("rank_l1_total"),
    )
    a = ranked.select(
        "query_id",
        F.col("neighbor_id").alias("na"),
        F.col("adc_rank").alias("aa"),
        F.col("ce_rank").alias("ca"),
    )
    b = ranked.select(
        "query_id",
        F.col("neighbor_id").alias("nb"),
        F.col("adc_rank").alias("ab"),
        F.col("ce_rank").alias("cb"),
    )
    prod = (F.col("aa") - F.col("ab")) * (F.col("ca") - F.col("cb"))
    pairs = (
        a.join(b, "query_id")
        .filter(F.col("na") < F.col("nb"))
        .groupBy("query_id")
        .agg(
            F.sum((prod > 0).cast("int"))
            .cast("bigint")
            .alias("concordant_pairs"),
            F.sum((prod < 0).cast("int"))
            .cast("bigint")
            .alias("discordant_pairs"),
        )
    )
    return per.join(pairs, "query_id")


def ivf_reassign_udf(cells: np.ndarray, sums_t: np.ndarray, n_vec: np.ndarray):
    """Arrow UDF for the one-step k-means rebuild: batch of int-code
    vectors -> nearest RETRAINED cell, where cell c's score is the
    exact-integer dot(codes, centroid_sum_c) / n_c. All products and
    partial sums are exact-representable integers (< 2^53) in float64,
    so the numpy matmul is bit-exact under any summation order and the
    single IEEE division matches DuckDB's list_dot_product form;
    argmax takes the FIRST maximum, i.e. ties break to the lowest cell
    id (rows of ``sums_t``/``n_vec`` must be cell-ascending)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("int")
    def reassign(code_s: pd.Series) -> pd.Series:
        m = np.stack(code_s.to_numpy()).astype("float64")  # (B, dim)
        scores = (m @ sums_t) / n_vec
        best = np.argmax(scores, axis=1)
        return pd.Series(cells[best].astype("int32"))

    return reassign
