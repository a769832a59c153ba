"""Deduplication operators (BASELINE extension X1/X2).

Five strategies, increasing fuzziness. Hashing, shingling, joins and
aggregations stay JVM-side (codegen + map-side partial agg); the two
places where batch matrix math wins — SimHash bit voting and
high-volume cosine verification — use Arrow pandas_udfs (numpy per
batch, never per row). Shapes are measurement-driven; see PLANS.md.

- exact_dedup:      hash-groupBy on normalized content; one shuffle on
                    the dedup key, AQE-coalesced.
- minhash_lsh:      shingle -> one-hash k-minhash -> band -> bucket
                    self-join. Candidates touch only same-bucket pairs
                    (no O(n^2) cross join); buckets are the shuffle key.
- simhash:          64-bit majority-vote token hashes; near-dup pairs
                    via pigeonhole chunk blocking (hamming<=3 => one of
                    4 16-bit chunks equal).
- ngram_jaccard:    exact token-set Jaccard on blocked candidate pairs
                    (the verify step LSH methods feed into).
- embedding cosine: exact blocked pairs, or hyperplane-LSH candidates
                    with Arrow-scored exact verification.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from finance_reporting_etl_spark.functions.text import fingerprint, whitespace_tokens
from finance_reporting_etl_spark.functions.scalars import det_round
from finance_reporting_etl_spark.partitioning import spread


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one row per distinct normalized text, lowest id wins.

    ``row_number`` over the fingerprint rather than ``dropDuplicates``
    so the survivor is deterministic (dropDuplicates keeps an arbitrary
    row). One shuffle on the 128-bit fingerprint — uniform keys, no skew.
    """
    # dunder temp names: collision-resistant against user columns
    w = Window.partitionBy("__fp").orderBy(F.col(id_col).asc())
    return (
        spread(df).withColumn("__fp", fingerprint(text_col))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__fp")
    )


def token_shingles(text_col: str, n: int = 3) -> F.Column:
    """Distinct n-token shingles as array<string> (word n-grams)."""
    toks = whitespace_tokens(F.lower(F.col(text_col)))
    idx = F.sequence(F.lit(1), F.greatest(F.size(toks) - F.lit(n - 1), F.lit(1)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.array_join(F.slice(toks, i, n), " "))
    )


# 31-bit modulus: every affine step (a*h + b with a,b,h < 2^31) stays
# under 2^62, so the arithmetic is overflow-free in ANSI mode.
SHINGLE_MOD = 2_147_483_647


def hashed_shingle_rows(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
) -> DataFrame:
    """(id, h) rows: one 31-bit hash per (doc, shingle) occurrence.

    Shingle strings are built with codegen'd slice/array_join
    (token_shingles — measured fast), hashed ONCE each, and the hashed
    array is exploded DIRECTLY — transform feeding explode in one
    expression measured ~10x faster than staging the hash array in an
    intermediate projection. Two earlier shapes to avoid: (a) indexed
    F.get() against an unbound transform expression re-evaluates the
    whole inner array per access (O(T^2)/doc); (b) an extra select
    between transform and explode defeated the fused evaluation.
    """
    return spread(df).select(
        F.col(id_col).alias("id"),
        F.explode(
            F.transform(
                token_shingles(text_col, shingle_n),
                lambda sh: F.pmod(F.xxhash64(sh), F.lit(SHINGLE_MOD)),
            )
        ).alias("h"),
    )


def _minhash_params(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the universal-hash family
    h_i(x) = (a_i*x + b_i) mod P (Carter-Wegman; the classic one-hash
    MinHash construction from Broder's original scheme)."""
    import random

    rng = random.Random(seed)
    return [
        (rng.randrange(1, SHINGLE_MOD), rng.randrange(0, SHINGLE_MOD))
        for _ in range(num_hashes)
    ]


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, m0..m{k-1}, sh): k minhashes + the distinct shingle-hash set.

    One-hash MinHash (Broder/Carter-Wegman): each shingle gets ONE base
    hash; minhash i is min over the affine family (a_i*h + b_i) mod P —
    k multiply-adds instead of k independent string hashes.

    Shape chosen by measurement: explode the shingle hashes and compute
    all k minima + collect_set in a SINGLE groupBy — whole-stage-codegen
    aggregates with map-side partial combine, one shuffle keyed on id
    (uniform). min() is duplicate-insensitive so the explode needs no
    pre-distinct; collect_set dedupes the verify-step shingle set in the
    same pass. (The per-row alternative — 32 higher-order transform
    calls over the shingle array — evaluates interpreted and allocates
    an array per transform; measured ~10x slower. Don't resurrect.)
    """
    ex = hashed_shingle_rows(df, id_col, text_col, shingle_n)
    aggs = [
        F.min((F.col("h") * F.lit(a) + F.lit(b)) % F.lit(SHINGLE_MOD)).alias(f"m{i}")
        for i, (a, b) in enumerate(_minhash_params(num_hashes))
    ]
    return ex.groupBy("id").agg(*aggs, F.collect_set("h").alias("sh"))


def band_hashes(num_hashes: int, bands: int) -> list[F.Column]:
    """One bucket hash per band over the m0..m{k-1} signature columns.
    ``bands`` must divide ``num_hashes`` — a remainder would silently
    drop the trailing hashes from every band, quietly weakening the
    requested (bands, rows) S-curve (r5 review)."""
    if num_hashes % bands != 0:
        raise ValueError(
            f"bands ({bands}) must divide num_hashes ({num_hashes})"
        )
    rows_per_band = num_hashes // bands
    return [
        F.xxhash64(
            F.lit(b),
            *[F.col(f"m{b * rows_per_band + r}") for r in range(rows_per_band)],
        ).alias(f"bh{b}")
        for b in range(bands)
    ]


def jaccard_prep(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id, *block_cols, toks, n_toks): the tokenized frame the jaccard
    pair operators build internally, exposed so a caller scoring
    SEVERAL pair legs over the same corpus (base self-pairs + cross
    pairs + delta self-pairs in the cluster-maintenance queries)
    tokenizes once, checkpoints, and feeds every leg from the blocks —
    a self-join otherwise re-evaluates the tokenization on both of its
    aliases."""
    return spread(df).select(
        F.col(id_col).alias("id"),
        *[F.col(c) for c in block_cols],
        F.array_distinct(whitespace_tokens(F.lower(F.col(text_col)))).alias("toks"),
    ).withColumn("n_toks", F.size("toks"))


def jaccard_pairs_prepped(
    toks: DataFrame,
    block_cols: tuple[str, ...] = (),
    threshold: float = 0.5,
    scale: int = 4,
) -> DataFrame:
    """Exact token-set Jaccard over blocked pairs of a
    :func:`jaccard_prep` frame (X2 verify step): (id_a, id_b, jaccard)
    with id_a < id_b and jaccard >= ``threshold``.

    ``block_cols`` restricts the pair space (e.g. same lang) — the
    blocking pattern that keeps exact verification feasible at scale.
    """
    a, b = toks.alias("a"), toks.alias("b")
    cond = F.col("a.id") < F.col("b.id")
    for c in block_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    # lossless size prefilter: J(A,B) <= min(|A|,|B|)/max(|A|,|B|), so any
    # pair with a distinct-token-count ratio below the threshold can't
    # reach it — prunes before the expensive intersect/union.
    cond = (
        cond
        & (F.col("b.n_toks") >= F.ceil(F.col("a.n_toks") * F.lit(threshold)))
        & (F.col("a.n_toks") >= F.ceil(F.col("b.n_toks") * F.lit(threshold)))
    )
    inter = F.size(F.array_intersect(F.col("a.toks"), F.col("b.toks")))
    # |A ∪ B| = |A| + |B| - |A ∩ B| for the distinct token sets: the
    # sizes are already computed, so the union needs no second array
    # pass (array_union re-hashed both arrays per pair — pure overhead)
    union = F.col("a.n_toks") + F.col("b.n_toks") - inter
    jac = inter / F.nullif(union.cast("double"), F.lit(0.0))
    return (
        a.join(b, cond)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            det_round(jac, scale).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def jaccard_prefix_filter_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.6,
    scale: int = 4,
) -> DataFrame:
    """EXACT corpus-wide token-set Jaccard >= threshold via prefix
    filtering — no blocking columns required, no approximation.

    The prefix-filter theorem (Chaudhuri/Ganti/Kaushik SSJoin 2006;
    Bayardo/Ma/Srikant WWW'07 "Scaling Up All Pairs"): fix ANY global
    total order on tokens and keep, per document, only its first
    ``n - ceil(t*n) + 1`` tokens under that order; two documents with
    J >= t MUST share a kept token. Ordering tokens rarest-first makes
    those kept tokens the LOW-document-frequency ones, so the
    candidate join on kept tokens fans out by rare-token posting-list
    sizes — stopwords never generate candidates. At scale this is the
    difference between an inverted-index join exploding on 'the'
    (~n^2) and one bounded by rare-token co-occurrence; unlike
    MinHash-LSH banding it misses nothing.

    Shape: one token-frequency aggregation, one per-doc rank window
    (partitioned by doc — bounded), one equi-join on kept tokens, one
    distinct, two id-joins for the exact verify. No cartesian, no UDF.
    Returns (id_a, id_b, jaccard) with jaccard rounded to ``scale``
    for display but the threshold applied to the TRUE value: the
    prefix and size filters guarantee candidate recall only for true
    J >= t, so filtering on the rounded value would claim boundary
    pairs (true J just UNDER t that round up) the candidate stage is
    allowed to prune — breaking exactness (r5 review). The true
    ratio is an integer/integer double, identical in any engine.
    """
    toks_arr = F.array_distinct(whitespace_tokens(F.lower(F.col(text_col))))
    t = (
        spread(df)
        .select(F.col(id_col).alias("id"), toks_arr.alias("toks"))
        .withColumn("n", F.size("toks"))
        .filter(F.col("n") > 0)
    )
    tt = t.select("id", "n", F.explode("toks").alias("tok"))
    dfreq = tt.groupBy("tok").agg(F.count(F.lit(1)).alias("n_df"))
    w = Window.partitionBy("id").orderBy("n_df", "tok")
    pref = (
        tt.join(dfreq, "tok")
        .withColumn("rnk", F.row_number().over(w))
        .filter(
            F.col("rnk")
            <= F.col("n") - F.ceil(F.col("n") * F.lit(threshold)) + 1
        )
        .select("id", "n", "tok")
    )
    a, b = pref.alias("a"), pref.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.id") < F.col("b.id"))
            # lossless size prefilter (same bound jaccard_pairs_prepped uses)
            & (F.col("b.n") >= F.ceil(F.col("a.n") * F.lit(threshold)))
            & (F.col("a.n") >= F.ceil(F.col("b.n") * F.lit(threshold))),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    ta = t.select(F.col("id").alias("id_a"), F.col("toks").alias("toks_a"), F.col("n").alias("n_a"))
    tb = t.select(F.col("id").alias("id_b"), F.col("toks").alias("toks_b"), F.col("n").alias("n_b"))
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    jac = inter / (F.col("n_a") + F.col("n_b") - inter).cast("double")
    return (
        cand.join(ta, "id_a")
        .join(tb, "id_b")
        .filter(jac >= threshold)
        .select("id_a", "id_b", det_round(jac, scale).alias("jaccard"))
    )


def containment_prefix_filter_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.9,
) -> DataFrame:
    """EXACT directional token-set containment C(A->B) = |A∩B| / |A|
    >= threshold — the asymmetric complement of
    :func:`jaccard_prefix_filter_pairs`: Jaccard misses a small
    document wholly embedded in a much larger one (the union term
    dilutes it), which is precisely the sub-document duplication a
    training corpus accumulates (quoted posts, boilerplate-wrapped
    articles, chunk-of-a-bigger-doc crawls).

    Prefix filter, asymmetric form: if B contains >= ceil(t*|A|) of
    A's tokens, then A can miss at most |A| - ceil(t*|A|) of them, so
    keeping A's first |A| - ceil(t*|A|) + 1 tokens under the global
    rarest-first order guarantees a shared kept-token with B's FULL
    token list. The candidate join is A-prefix (rare tokens only)
    against the full inverted index — fan-out bounded by rare-token
    posting lists, never by stopwords (A's prefix holds its rarest
    tokens). One size filter (|B| >= ceil(t*|A|)) is lossless.
    Directional: (a,b) and (b,a) are distinct findings; self-pairs
    are excluded. Threshold applies to the TRUE int/int ratio
    (rounding only for display — the jaccard r5 lesson).

    Shape: one token-frequency agg, one per-doc rank window (bounded),
    one equi-join on kept tokens, one distinct, two id-joins for the
    exact verify. No cartesian, no UDF, no float in any predicate.
    """
    toks_arr = F.array_distinct(whitespace_tokens(F.lower(F.col(text_col))))
    t = (
        spread(df)
        .select(F.col(id_col).alias("id"), toks_arr.alias("toks"))
        .withColumn("n", F.size("toks"))
        .filter(F.col("n") > 0)
    )
    tt = t.select("id", "n", F.explode("toks").alias("tok"))
    dfreq = tt.groupBy("tok").agg(F.count(F.lit(1)).alias("n_df"))
    w = Window.partitionBy("id").orderBy("n_df", "tok")
    pref = (
        tt.join(dfreq, "tok")
        .withColumn("rnk", F.row_number().over(w))
        .filter(
            F.col("rnk")
            <= F.col("n") - F.ceil(F.col("n") * F.lit(threshold)) + 1
        )
        .select("id", "n", "tok")
    )
    a = pref.alias("a")
    b = tt.select(F.col("id").alias("bid"), F.col("n").alias("bn"), "tok").alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.id") != F.col("bid"))
            & (F.col("bn") >= F.ceil(F.col("a.n") * F.lit(threshold))),
        )
        .select(F.col("a.id").alias("id_a"), F.col("bid").alias("id_b"))
        .distinct()
    )
    ta = t.select(
        F.col("id").alias("id_a"), F.col("toks").alias("toks_a"), F.col("n").alias("n_a")
    )
    tb = t.select(F.col("id").alias("id_b"), F.col("toks").alias("toks_b"))
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    cont = inter / F.col("n_a").cast("double")
    return (
        cand.join(ta, "id_a")
        .join(tb, "id_b")
        .filter(cont >= threshold)
        .select("id_a", "id_b", det_round(cont, 4).alias("containment"))
    )


def minhash_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, sh, bands array<struct<band_idx, band_hash>>) — the compact
    persistable index: one row per doc (shingle set stored ONCE, band
    hashes nested) computed in a single signature pass. Explode ``bands``
    for the banding join; project (id, sh) for the verify join."""
    sig = minhash_signatures(df, id_col, text_col, num_hashes, shingle_n)
    return sig.select(
        "id",
        "sh",
        F.array(
            *[
                F.struct(F.lit(b).alias("band_idx"), bh.alias("band_hash"))
                for b, bh in enumerate(band_hashes(num_hashes, bands))
            ]
        ).alias("bands"),
    )


def minhash_pairs_from_bands(
    bands: DataFrame, sigs: DataFrame, threshold: float = 0.5
) -> DataFrame:
    """MinHash-LSH pairs: banding self-join over a bare (id, band_idx,
    band_hash) index -> pair dedup -> exact shingle-set Jaccard verify,
    with the shingle sets (``sigs``: id, sh) joined back onto the
    DEDUPED pairs only. The band index is persisted 8x narrower than
    one carrying the set per band row, and at 100 TB the banding
    shuffle moves 24-byte rows, not shingle arrays. Deterministic
    (fixed hash seeds, exact verify)."""
    a, b = bands.alias("a"), bands.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    cands = pairs.join(
        sigs.withColumnsRenamed({"id": "id_a", "sh": "sa"}), "id_a"
    ).join(sigs.withColumnsRenamed({"id": "id_b", "sh": "sb"}), "id_b")
    return _jaccard_verify(cands, threshold)


def _jaccard_verify(cands: DataFrame, threshold: float) -> DataFrame:
    """Exact shingle-set Jaccard over (id_a, id_b, sa, sb) candidates.

    ``sa``/``sb`` are collect_set outputs (distinct by construction),
    so |A ∪ B| = |A| + |B| - |A ∩ B|: one array_intersect pass per
    pair instead of intersect + union."""
    inter = F.size(F.array_intersect(F.col("sa"), F.col("sb")))
    union = F.size("sa") + F.size("sb") - inter
    return cands.select(
        "id_a",
        "id_b",
        det_round(inter / F.nullif(union.cast("double"), F.lit(0.0)), 4).alias("jaccard"),
    ).filter(F.col("jaccard") >= threshold)


def _unionfind_clusters(
    pairs_pdf, idt, spark: "SparkSession", nodes: DataFrame
) -> DataFrame:
    """Driver-side union-find for SMALL dup graphs: exact same
    (id, cluster_id = component min) result as the distributed loop in
    O(E α(E)) with zero Spark jobs per step. Memory is O(nodes-on-edges)
    — bounded by the caller's edge-count threshold, NOT by corpus size.
    Takes the already-collected (id_a, id_b) pandas frame (the caller's
    size probe doubles as the data fetch) and ships labels back through
    the Arrow ``createDataFrame`` path — measured 2.4x faster than the
    pickled-list path at 40k labels."""
    import pandas as pd

    parent: dict = {}

    def find(x):
        r = x
        while parent.setdefault(r, r) != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for ia, ib in zip(pairs_pdf["id_a"].tolist(), pairs_pdf["id_b"].tolist()):
        ra, rb = find(ia), find(ib)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)  # min id becomes the root
    labels = [(x, find(x)) for x in parent]
    # id type follows the input (string doc ids are as valid as longs;
    # a hardcoded long schema made the fast path crash where the
    # distributed path worked — r5 review)
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("id", idt),
            T.StructField("cluster_id", idt),
        ]
    )
    if labels:
        edge_labels = spark.createDataFrame(
            pd.DataFrame(labels, columns=["id", "cluster_id"]), schema
        )
    else:
        edge_labels = spark.createDataFrame([], schema)
    isolated = nodes.select("id").join(
        edge_labels.select("id"), "id", "left_anti"
    )
    return edge_labels.unionByName(
        isolated.select("id", F.col("id").alias("cluster_id"))
    )


def near_dup_clusters(
    edges: DataFrame,
    nodes: DataFrame,
    max_iter: int = 20,
    jump_after: int = 3,
    small_graph_edges: int = 2_000_000,
) -> DataFrame:
    """Connected components over near-dup edges: (id, cluster_id) where
    cluster_id = min id in the component (the canonical survivor — the
    same deterministic rule exact_dedup uses).

    Min-label propagation: each iteration takes the min label across
    edges. Real dup graphs are overwhelmingly cliques and short chains
    (a document cluster where most pairs crossed the threshold), so
    plain propagation converges in a handful of rounds and each round is
    just join + groupBy. From iteration ``jump_after`` on — the
    long-chain regime where plain propagation would need O(diameter)
    rounds — a pointer-jump step (follow each node's label to that
    label's own label) is added, restoring O(log diameter) convergence
    (the hash-to-min trick from the MapReduce connected-components
    literature). Measured at sf0.1 the jump join costs more per round
    than it saves on clique-shaped graphs, hence the hybrid.

    Plumbing for iteration cost: ``localCheckpoint`` truncates lineage
    so plans don't grow with rounds; the working set is repartitioned to
    a data-sized partition count (~2M directed edges per partition,
    capped at the cluster parallelism) because a dup graph is a small
    fraction of the corpus and per-task overhead dominates otherwise;
    the convergence aggregate rides the same job that materializes each
    round's lazy checkpoint. The only driver-side data is one sum per
    iteration, never rows. Labels only ever decrease, so an unchanged
    sum <=> fixpoint.

    Invariant: every label value is the id of a node in the same
    component (init: own id; propagation pulls a neighbor's label; jump
    pulls a label's label), so the jump self-join always matches and the
    fixpoint label is the component min.
    """
    # persist, not eager localCheckpoint: the blocks stay AQE-planned,
    # no extra materialization job is paid, and they are released
    # deterministically below instead of accumulating across a bench
    # session (VERDICT r14 task 2). The size probe below collects at
    # most small_graph_edges + 1 rows through a limit and does not
    # materialize the cache.
    ed = edges.select("id_a", "id_b").persist()
    # ONE job doubles as size gate and data fetch: collect at most
    # bound+1 rows via the Arrow path; fewer than that means the small
    # path already holds every edge and pays no second job (the old
    # shape ran an eager checkpoint, a count AND a collect)
    probe = ed.limit(small_graph_edges + 1).toPandas()
    if len(probe) <= small_graph_edges:
        # The dup graph is orders smaller than the corpus (it holds only
        # rows that crossed the near-dup threshold). Below the bound, a
        # driver union-find (~50 MB at the 2M-edge default) beats paying
        # O(iterations) scheduler round-trips; above it, the distributed
        # loop takes over. Identical output either way (pytest-pinned).
        out = _unionfind_clusters(
            probe, edges.schema["id_a"].dataType, edges.sparkSession, nodes
        )
        ed.unpersist()
        return out
    del probe
    adj = ed.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    adj = adj.unionByName(
        adj.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=True)
    ed.unpersist()
    n_adj = adj.count()
    spark = edges.sparkSession
    parallelism = int(spark.sparkContext.defaultParallelism)
    p = max(1, min(parallelism, n_adj // 2_000_000 + 1))
    if p < adj.rdd.getNumPartitions():
        adj = adj.repartition(p, "src").localCheckpoint(eager=True)
    # only nodes on an edge can ever change label; at corpus scale the
    # dup graph is a small fraction of the node set, so the iteration
    # runs on |V_edges| rows and isolated nodes join back once at the end
    edge_nodes = adj.select(F.col("src").alias("id")).distinct()
    labels = edge_nodes.select("id", F.col("id").alias("cluster_id")).localCheckpoint(
        eager=False
    )
    prev_sum = labels.agg(F.sum("cluster_id")).first()[0]
    for it in range(max_iter):
        nbr_min = (
            adj.join(
                labels.withColumnsRenamed({"id": "src", "cluster_id": "nbr_label"}), "src"
            )
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("nbr_label").alias("nbr_min"))
        )
        stepped = labels.join(nbr_min, "id", "left").select(
            "id",
            F.least(
                "cluster_id", F.coalesce("nbr_min", F.col("cluster_id"))
            ).alias("cluster_id"),
        )
        if it >= jump_after:
            jump = stepped.select(
                F.col("id").alias("__jid"), F.col("cluster_id").alias("__jlabel")
            )
            stepped = stepped.join(jump, stepped["cluster_id"] == jump["__jid"]).select(
                "id", F.least("cluster_id", "__jlabel").alias("cluster_id")
            )
        # lazy checkpoint: the convergence aggregate below materializes
        # the blocks and computes the sum in a single job
        labels = stepped.localCheckpoint(eager=False)
        cur_sum = labels.agg(F.sum("cluster_id")).first()[0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    isolated = nodes.select("id").join(edge_nodes, "id", "left_anti")
    return labels.unionByName(isolated.select("id", F.col("id").alias("cluster_id")))


# --- SimHash ---------------------------------------------------------------


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 64) -> DataFrame:
    """64-bit SimHash: per-token xxhash64, per-bit majority vote -> bit.

    Token hashing stays JVM-side (codegen'd explode + xxhash64); the
    64-way bit voting runs in ONE Arrow pandas_udf over the per-doc
    hash list — a numpy broadcast `(hashes[:,None] >> arange(64)) & 1`
    per doc. Three shapes were measured at sf0.1: nested higher-order
    fold 41s (interpreted, per-token array allocs), 64 codegen'd SUM
    aggregates 2.2s, collect_list + Arrow vote 0.8s. The shuffle moves
    raw 8-byte hashes (no partial agg), but the per-bit work drops from
    64 branchy agg updates per token to one vectorized matrix op.
    Bit b uses arithmetic shift then mask — identical across JVM/numpy
    for b < 64. Returns (id, simhash long).
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def sim_vote(hs: pd.Series) -> pd.Series:
        out = []
        shifts = np.arange(bits, dtype=np.int64)
        for arr in hs:
            a = np.asarray(arr, dtype=np.int64)
            counts = ((a[:, None] >> shifts) & 1).sum(axis=0)
            word = 0
            for i in range(bits):
                if counts[i] * 2 > len(a):
                    word |= 1 << i
            if word >= 1 << 63:
                word -= 1 << 64  # two's-complement into signed long
            out.append(word)
        return pd.Series(out, dtype="int64")

    toks = spread(df).select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(whitespace_tokens(F.lower(F.col(text_col))))).alias("tok"),
    ).withColumn("h", F.xxhash64("tok"))
    lists = toks.groupBy("id").agg(F.collect_list("h").alias("hs"))
    return lists.select("id", sim_vote("hs").alias("simhash"))


def simhash_pairs_from_sigs(sh: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Pairs within ``max_hamming`` from a (id, simhash) signature table.

    Pigeonhole chunk blocking is EXACT for hamming <= 3 with 4 chunks
    (any such pair agrees on at least one 16-bit chunk), so the blocked
    result equals a brute-force all-pairs scan — which is exactly how
    the DuckDB oracle re-derives it from the persisted signature table.
    """
    chunks = sh.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("ci"),
                        (
                            F.shiftrightunsigned(F.col("simhash"), 16 * i).bitwiseAND(F.lit(0xFFFF))
                        ).alias("cv"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("ch"),
    ).select("id", "simhash", F.col("ch.ci").alias("ci"), F.col("ch.cv").alias("cv"))
    a, b = chunks.alias("a"), chunks.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.ci") == F.col("b.ci"))
            & (F.col("a.cv") == F.col("b.cv"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.simhash").alias("sa"),
            F.col("b.simhash").alias("sb"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    hamming = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    return cands.select("id_a", "id_b", hamming.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


# --- embedding-cosine near-dup (X2 family, vector variant) -----------------


def embedding_cosine_pairs(
    embeddings: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = None,
    scale: int = 6,
) -> DataFrame:
    """Exact blocked cosine near-dup pairs: (id_a < id_b, score >= t).

    Brute force within blocks — the correctness baseline / verify step.
    ``block_col`` bounds the pair space (e.g. a coarse cluster id or
    label); without it this is O(n^2) and only for small n or oracles.
    """
    from finance_reporting_etl_spark.functions.vectors import cosine

    cols = [F.col(id_col).alias("id"), F.col(vec_col).alias("v")]
    if block_col:
        cols.append(F.col(block_col).alias("blk"))
    t = spread(embeddings).select(*cols)
    a, b = t.alias("a"), t.alias("b")
    cond = F.col("a.id") < F.col("b.id")
    if block_col:
        cond = cond & (F.col("a.blk") == F.col("b.blk"))
    return (
        a.join(b, cond)
        .withColumn("score", det_round(cosine(F.col("a.v"), F.col("b.v")), scale))
        .filter(F.col("score") >= threshold)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), "score")
    )


def lsh_cosine_pairs_from_buckets(
    buckets: DataFrame,
    embeddings: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 6,
) -> DataFrame:
    """Candidate pairs from a persisted/precomputed (id, tbl, bucket)
    index -> narrow dedup -> vector re-join -> exact cosine verify."""
    from finance_reporting_etl_spark.functions.vectors import cosine_arrow

    a, b = buckets.alias("a"), buckets.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    vecs = embeddings.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    cos = cosine_arrow()
    return (
        pairs.join(vecs.withColumnsRenamed({"id": "id_a", "v": "va"}), "id_a")
        .join(vecs.withColumnsRenamed({"id": "id_b", "v": "vb"}), "id_b")
        .withColumn("score", det_round(cos(F.col("va"), F.col("vb")), scale))
        .filter(F.col("score") >= threshold)
        .select("id_a", "id_b", "score")
    )


def blocked_entity_resolution(
    queries: DataFrame,
    reference: DataFrame,
    block_exprs: list,
    q_id: str = "query_id",
    q_name: str = "q_name",
    r_id: str = "ref_id",
    r_name: str = "r_name",
    max_distance: int = 2,
) -> DataFrame:
    """Entity resolution without the all-pairs cross join: each side
    emits one row per BLOCK KEY (``block_exprs``: (label, fn) pairs
    applied to the name column), candidates come from an equi-join on
    (label, key), and only candidates pay the Levenshtein verify. With
    K blocking functions each record joins only its K key-buckets —
    at 100 TB the pair space is sum of squared bucket sizes, not n².
    Blocking must be RECALL-COMPLETE for the expected corruption class
    (each corruption leaves at least one key unchanged); the winner per
    query is deterministic: min (distance, ref id).

    Returns (query_id, matched_id, distance) — one row per query that
    matched any candidate within ``max_distance``.
    """

    def keyed(df: DataFrame, id_col: str, name_col: str) -> DataFrame:
        parts = [
            df.select(
                F.col(id_col),
                F.col(name_col),
                F.lit(label).alias("__blk"),
                fn(F.col(name_col)).alias("__key"),
            )
            for label, fn in block_exprs
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    q = keyed(queries, q_id, q_name)
    r = keyed(reference, r_id, r_name)
    cand = (
        q.join(r, ["__blk", "__key"])
        .select(q_id, q_name, r_id, r_name)
        .distinct()
        .withColumn("distance", F.levenshtein(F.col(q_name), F.col(r_name)))
        .filter(F.col("distance") <= max_distance)
    )
    w = Window.partitionBy(q_id).orderBy(F.col("distance").asc(), F.col(r_id).asc())
    return (
        cand.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(F.col(q_id), F.col(r_id).alias("matched_id"), "distance")
    )


def incremental_dedup_classify(batch: DataFrame, index: DataFrame) -> DataFrame:
    """Classify an incoming batch against a maintained fingerprint
    index (fp -> owner_id, one narrow row per distinct corpus doc) —
    the production shape of exact dedup at scale: the corpus text is
    never rescanned. Rows classify as new / dup_of_corpus /
    dup_in_batch (lowest batch doc_id wins within the batch, corpus
    ownership wins over batch ties) with the duplicate target
    reported. ``batch`` must carry (doc_id, fp). Accepted rows'
    fingerprints are then appended to the index — the maintenance step
    ``exact_dedup`` does in one shot for a static corpus."""
    w = batch.join(index, "fp", "left").withColumn(
        "first_in_batch", F.min("doc_id").over(Window.partitionBy("fp"))
    )
    return w.select(
        "doc_id",
        F.when(F.col("owner_id").isNotNull(), "dup_of_corpus")
        .when(F.col("doc_id") > F.col("first_in_batch"), "dup_in_batch")
        .otherwise("new")
        .alias("status"),
        F.when(F.col("owner_id").isNotNull(), F.col("owner_id"))
        .when(F.col("doc_id") > F.col("first_in_batch"), F.col("first_in_batch"))
        .alias("dup_of"),
    )


def span_dedup_rewrite(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_tokens: int = 32,
) -> DataFrame:
    """The rewrite half of substring dedup: remove every later
    occurrence of a repeated ``span_tokens``-token span (keep-first by
    (doc id, span order)) and reassemble each document's surviving
    spans into cleaned text — the pass that actually scrubs
    boilerplate out of a training corpus (Lee et al. exact-substring
    scrub, rewrite stage).

    Two uniform shuffles: one on the span fingerprint (md5 — no skew)
    for the global keep-first window, one on doc id to reassemble.
    Reassembly sorts span structs INSIDE the row (array_sort of
    (idx, text) structs) instead of a per-doc ordered window — order
    restored without a third exchange. At 100 TB both keys are
    fine-grained and uniform; nothing buffers more than one document.
    Returns (id, n_chunks, n_kept, clean_text)."""
    k = span_tokens
    toks = docs.select(
        id_col,
        F.filter(
            F.split(F.trim(text_col), r"\s+"), lambda t: t != ""
        ).alias("toks"),
    )
    chunks = toks.select(
        id_col,
        F.explode(
            F.sequence(F.lit(0), F.expr(f"(size(toks) + {k - 1}) div {k}") - 1)
        ).alias("g"),
        F.col("toks"),
    ).select(
        id_col,
        F.col("g").cast("int").alias("chunk_idx"),
        F.array_join(
            F.slice("toks", F.col("g") * k + 1, F.lit(k)), " "
        ).alias("chunk_text"),
    )
    w = Window.partitionBy(F.md5(F.col("chunk_text").cast("binary"))).orderBy(
        id_col, "chunk_idx"
    )
    ranked = chunks.withColumn("rn", F.row_number().over(w))
    kept_struct = F.when(
        F.col("rn") == 1, F.struct(F.col("chunk_idx"), F.col("chunk_text"))
    )
    return ranked.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum((F.col("rn") == 1).cast("long")).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(kept_struct)), lambda x: x.chunk_text
            ),
            " ",
        ).alias("clean_text"),
    )


def minhash_probe_index(
    batch_index: DataFrame, corpus_index: DataFrame, threshold: float = 0.5
) -> DataFrame:
    """Near-dup classification of an incoming batch against a
    PERSISTED corpus MinHash index (the fuzzy twin of
    :func:`incremental_dedup_classify`): the corpus text is never
    rescanned — its (id, sh, bands) index rows are the maintained
    artifact. Batch bands equi-join corpus bands on
    (band_idx, band_hash) for candidates; exact shingle-set Jaccard
    over the two stored sets verifies. Returns
    (batch_id, corpus_id, jaccard >= threshold) — accepted batch rows'
    index entries would then be appended to the corpus index."""

    def _bands(ix, out_id):
        return ix.select(F.col("id").alias(out_id), F.explode("bands").alias("u")).select(
            out_id,
            F.col("u.band_idx").alias("band_idx"),
            F.col("u.band_hash").alias("band_hash"),
        )

    pairs = (
        _bands(batch_index, "batch_id")
        .join(_bands(corpus_index, "corpus_id"), ["band_idx", "band_hash"])
        .select("batch_id", "corpus_id")
        .distinct()
    )
    cands = pairs.join(
        batch_index.select(F.col("id").alias("id_a"), F.col("sh").alias("sa")),
        pairs["batch_id"] == F.col("id_a"),
    ).join(
        corpus_index.select(F.col("id").alias("id_b"), F.col("sh").alias("sb")),
        pairs["corpus_id"] == F.col("id_b"),
    )
    # one Jaccard-verify implementation for every candidate path (the
    # same rounding/guard/threshold the oracle gate checks — r5 review)
    return _jaccard_verify(cands, threshold).select(
        F.col("id_a").alias("batch_id"),
        F.col("id_b").alias("corpus_id"),
        "jaccard",
    )


def survivorship_golden_records(
    records: DataFrame,
    cluster_col: str,
    order_cols: list,
    carry_cols: list[str],
    mode_col: str,
    merge_col: str,
    min_members: int = 2,
) -> DataFrame:
    """Field-level survivorship over duplicate clusters — the step
    AFTER matching: entity resolution says which records co-refer;
    this builds the single golden record per cluster under per-field
    merge policies (the MDM pattern):

    - ``carry_cols`` come from the winning record under the
      deterministic ``order_cols`` precedence (e.g. longest, then
      smallest id — "most complete record wins"),
    - ``mode_col`` resolves by majority vote (count desc, value asc
      tie-break — bit-stable),
    - ``merge_col`` unions as a sorted-distinct CSV (no information
      dropped, deterministic rendering).

    Shape: three cluster-grain passes (winner window, mode count +
    pick, set-merge agg) joined on the cluster key. Windows partition
    per cluster, so the blocking that produced the clusters bounds
    the sort (same contract as blocked ER); nothing is data-sized in
    one task. Clusters below ``min_members`` are dropped — singletons
    have no merge decision to verify.
    """
    sized = records.withColumn(
        "__n", F.count(F.lit(1)).over(Window.partitionBy(cluster_col))
    ).filter(F.col("__n") >= min_members)

    win = Window.partitionBy(cluster_col).orderBy(*order_cols)
    winner = (
        sized.withColumn("__r", F.row_number().over(win))
        .filter(F.col("__r") == 1)
        .select(
            cluster_col,
            F.col("__n").cast("bigint").alias("n_members"),
            *[F.col(c).alias(f"golden_{c}") for c in carry_cols],
        )
    )

    mw = Window.partitionBy(cluster_col).orderBy(
        F.col("__c").desc(), F.col(mode_col).asc()
    )
    mode = (
        sized.groupBy(cluster_col, mode_col)
        .agg(F.count(F.lit(1)).alias("__c"))
        .withColumn("__r", F.row_number().over(mw))
        .filter(F.col("__r") == 1)
        .select(cluster_col, F.col(mode_col).alias(f"{mode_col}_consensus"))
    )

    merged = sized.groupBy(cluster_col).agg(
        F.array_join(
            F.array_sort(F.collect_set(merge_col)), ","
        ).alias(f"{merge_col}s_merged")
    )
    return winner.join(mode, cluster_col).join(merged, cluster_col)


def minhash_estimate_vs_exact(
    sigs: DataFrame,
    num_hashes: int = 32,
    bands: int = 8,
) -> DataFrame:
    """Sketch QA: for every LSH candidate pair, the MinHash-ESTIMATED
    Jaccard (fraction of agreeing signature components) next to the
    EXACT shingle-set Jaccard — the error audit a team runs before
    trusting a banded sketch to delete training documents at 100 TB.

    ``sigs`` is the persisted signature table from
    :func:`minhash_signatures` (id, m0..m{k-1}, sh): the aux-parquet
    pattern, so an independent engine re-derives the identical pairs
    and estimates from the same bits. Candidates come from band
    equality on the RAW per-band signature tuples (a string key of the
    band's components) — no engine-native band hash in the compare
    path, so the oracle needs no xxhash64. One shuffle join on the
    band key, pairs deduped, then per-pair arithmetic only.

    Every emitted number is either an exact integer (component
    matches, intersection, union) or a single IEEE division of exact
    integers (estimate = matches/k, exact = inter/union) and one
    subtraction — bit-identical across engines with NO rounding step
    anywhere. union uses inclusion-exclusion over the distinct
    shingle sets, textually identical on both sides.
    """
    if num_hashes % bands != 0:
        raise ValueError(f"bands ({bands}) must divide num_hashes ({num_hashes})")
    rpb = num_hashes // bands
    bandrows = sigs.select(
        "id",
        *[F.col(f"m{i}") for i in range(num_hashes)],
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.concat_ws(
                            ":",
                            *[
                                F.col(f"m{b * rpb + r}").cast("string")
                                for r in range(rpb)
                            ],
                        ).alias("band_key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("__b"),
    ).select("id", *[f"m{i}" for i in range(num_hashes)], "sh", "__b.*")
    a, b = bandrows.alias("a"), bandrows.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            *[F.col(f"a.m{i}").alias(f"ma{i}") for i in range(num_hashes)],
            *[F.col(f"b.m{i}").alias(f"mb{i}") for i in range(num_hashes)],
            F.col("a.sh").alias("sa"),
            F.col("b.sh").alias("sb"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    matches = sum(
        (F.col(f"ma{i}") == F.col(f"mb{i}")).cast("int")
        for i in range(num_hashes)
    )
    inter = F.size(F.array_intersect(F.col("sa"), F.col("sb")))
    union = F.size("sa") + F.size("sb") - inter
    est = F.col("n_matches").cast("double") / F.lit(float(num_hashes))
    exact = F.col("n_inter").cast("double") / F.col("n_union").cast("double")
    return (
        cands.select(
            "id_a",
            "id_b",
            matches.cast("int").alias("n_matches"),
            inter.cast("int").alias("n_inter"),
            union.cast("int").alias("n_union"),
        )
        .withColumn("est_jaccard", est)
        .withColumn("exact_jaccard", exact)
        .withColumn("abs_err", F.abs(F.col("est_jaccard") - F.col("exact_jaccard")))
    )


def lsh_band_sweep(
    sigs: DataFrame,
    configs: list[tuple[str, int]],
    num_hashes: int = 32,
) -> DataFrame:
    """S-curve tuning audit: run SEVERAL (bands x rows) LSH configs
    over the same persisted signature table and report, per config,
    candidate volume, verified near-dup pairs (exact Jaccard >= 0.5
    via the INTEGER predicate 2*|A∩B| >= |A∪B| — no float in any
    decision), pooled recall and precision. This is the experiment a
    team runs before fixing the banding of a 100-TB dedup pass: more
    bands -> higher recall, more candidates to verify.

    Truth is POOLED (union of verified pairs across the swept
    configs) — the IR-pooling compromise that avoids the O(n^2)
    all-pairs truth a 100-TB corpus cannot compute; recall numbers
    are therefore relative to the pool, comparable ACROSS configs by
    construction. Candidates per config come from raw band-tuple
    string keys (no engine-native hash), so an independent engine
    reproduces the identical pair sets from the same parquet bits.
    Output ppm ratios are exact integer divisions.
    """
    per_config = []
    for tag, bands in configs:
        if num_hashes % bands != 0:
            raise ValueError(f"bands ({bands}) must divide {num_hashes}")
        rpb = num_hashes // bands
        bandrows = sigs.select(
            "id",
            "sh",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band_idx"),
                            F.concat_ws(
                                ":",
                                *[
                                    F.col(f"m{b * rpb + r}").cast("string")
                                    for r in range(rpb)
                                ],
                            ).alias("band_key"),
                        )
                        for b in range(bands)
                    ]
                )
            ).alias("__b"),
        ).select("id", "sh", "__b.*")
        a, b2 = bandrows.alias("a"), bandrows.alias("b")
        cands = (
            a.join(
                b2,
                (F.col("a.band_idx") == F.col("b.band_idx"))
                & (F.col("a.band_key") == F.col("b.band_key"))
                & (F.col("a.id") < F.col("b.id")),
            )
            .select(
                F.col("a.id").alias("id_a"),
                F.col("b.id").alias("id_b"),
                F.col("a.sh").alias("sa"),
                F.col("b.sh").alias("sb"),
            )
            .dropDuplicates(["id_a", "id_b"])
        )
        inter = F.size(F.array_intersect(F.col("sa"), F.col("sb")))
        union = F.size("sa") + F.size("sb") - inter
        per_config.append(
            cands.select(
                F.lit(tag).alias("config"),
                "id_a",
                "id_b",
                (F.lit(2) * inter >= union).cast("int").alias("hit"),
            )
        )
    allv = per_config[0]
    for d in per_config[1:]:
        allv = allv.unionByName(d)
    pooled = (
        allv.filter(F.col("hit") == 1).select("id_a", "id_b").distinct()
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pool"))
    )
    stats = allv.groupBy("config").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
        F.sum("hit").cast("bigint").alias("n_verified"),
    )
    return stats.crossJoin(F.broadcast(pooled)).select(
        "config",
        "n_candidates",
        "n_verified",
        F.expr("(n_verified * 1000000) div n_pool").cast("bigint").alias(
            "recall_ppm"
        ),
        F.expr("(n_verified * 1000000) div n_candidates")
        .cast("bigint")
        .alias("precision_ppm"),
    )


def jaccard_incident_pairs_prepped(
    batch_toks: DataFrame,
    seen_toks: DataFrame,
    batch_flag_col: str,
    block_cols: tuple[str, ...] = (),
    threshold: float = 0.5,
    scale: int = 4,
) -> DataFrame:
    """All BATCH-INCIDENT exact-Jaccard pairs in ONE join: the union of
    the batch x existing cross pairs and
    :func:`jaccard_pairs_prepped` (batch self-pairs, id_a < id_b),
    value-identical pair for pair.

    ``seen_toks`` is the prep frame restricted to existing ∪ batch ids
    with integer ``batch_flag_col`` (1 = batch row, 0 = existing row);
    batch and existing id sets must be disjoint. The previous shape ran
    the two legs as SEPARATE self/cross joins over the same prep — two
    shuffles and two joins per micro-batch where one suffices (the
    fused join's pair space is exactly the union of the two legs':
    existing rows pair unordered, batch rows pair ordered, so nothing
    is scored twice and nothing is missed). Same blocking, lossless
    size prefilter, det-rounded Jaccard as both originals."""

    def _tag(df: DataFrame, tag: str, extra: tuple[str, ...] = ()):
        return df.select(
            F.col("id").alias(f"id_{tag}"),
            *[F.col(c).alias(f"{c}_{tag}") for c in block_cols],
            F.col("toks").alias(f"toks_{tag}"),
            F.col("n_toks").alias(f"n_toks_{tag}"),
            *[F.col(c) for c in extra],
        )

    a = _tag(batch_toks, "a")
    b = _tag(seen_toks, "b", extra=(batch_flag_col,))
    cond = (F.col(batch_flag_col) == 0) | (F.col("id_a") < F.col("id_b"))
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


def incremental_clusters(
    base_clusters: DataFrame,
    delta_edges: DataFrame,
    delta_nodes: DataFrame,
) -> DataFrame:
    """Merge a new batch into EXISTING near-dup cluster ids without
    recomputing any base-base pair — the ``dedup_incremental_batch``
    idiom lifted to the cluster level (VERDICT r13 task 7b).

    Contraction argument: each base component is collapsed to its
    label node (cluster_id = min member id, the house convention), so
    the merge graph has one node per delta doc plus one per base
    CLUSTER, and only the delta-incident edges (new-vs-base mapped
    through the labels, new-vs-new as-is). Connected components over
    that contracted graph, with min-label = min over contracted node
    ids = min over (delta ids ∪ base sub-component minima) = the true
    component minimum — so re-expanding base members through their old
    label yields EXACTLY the labels a full recompute over base ∪ delta
    would produce, while the work is proportional to the delta (plus
    one map over existing labels), never to the standing corpus.

    Inputs: ``base_clusters`` (id, cluster_id) — the persisted state;
    ``delta_edges`` (id_a, id_b) — undirected delta-incident edges,
    either endpoint may be a base id or a delta id; ``delta_nodes``
    (id). Output: (id, cluster_id) covering base ∪ delta."""
    lab = base_clusters.select("id", "cluster_id")
    lmap_a = lab.select(
        F.col("id").alias("id_a"), F.col("cluster_id").alias("la")
    )
    lmap_b = lab.select(
        F.col("id").alias("id_b"), F.col("cluster_id").alias("lb")
    )
    contracted = (
        delta_edges.join(lmap_a, "id_a", "left")
        .join(lmap_b, "id_b", "left")
        .select(
            F.coalesce("la", "id_a").alias("id_a"),
            F.coalesce("lb", "id_b").alias("id_b"),
        )
    )
    cnodes = delta_nodes.select("id").unionByName(
        lab.select(F.col("cluster_id").alias("id")).distinct()
    )
    merged = near_dup_clusters(contracted, cnodes).select(
        F.col("id").alias("node"), F.col("cluster_id").alias("final")
    )
    out_base = lab.join(
        merged, lab["cluster_id"] == merged["node"]
    ).select("id", F.col("final").alias("cluster_id"))
    out_delta = delta_nodes.select("id").join(
        merged, F.col("id") == F.col("node")
    ).select("id", F.col("final").alias("cluster_id"))
    return out_base.unionByName(out_delta)
