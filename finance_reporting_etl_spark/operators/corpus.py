"""Corpus-preparation operators for LLM training-data pipelines:
deterministic train/val/test splitting, per-stratum downsampling
(mixture re-weighting), and overlapping token-window chunking.

All three are pure Catalyst expressions — no UDFs, no shuffle except
what the caller adds downstream — so they run map-side at any scale and
whole-stage codegen keeps them JVM-tight. Determinism comes from md5
over the stable id (NOT rand(): a re-run, a retry, or a different
executor count must land every document in the same split — the
property that makes dataset versioning and leak-free eval splits work).

md5 is available with identical semantics in DuckDB, so every operator
here is hash-verified end-to-end by the driver's oracle gate; the
hex-char -> bucket mapping uses instr() on a constant alphabet, which
both engines evaluate identically (verified: 0 mismatches over the
fixture corpus).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from finance_reporting_etl_spark.functions.scalars import det_round

_HEX = "0123456789abcdef"


def md5_bucket(id_col: Column | str, buckets: int = 256, salt: str = "") -> Column:
    """Deterministic uniform bucket in [0, buckets) from md5(id || salt).

    Uses the first two hex chars of the digest (256 base buckets, each
    uniform) then mods down; `buckets` must divide 256 for exact
    uniformity, anything else is approximately uniform.

    ``salt`` decorrelates composed uses: with a single unsalted hash, a
    stratified_sample at rate 0.5 keeps exactly buckets 0-127, which lie
    entirely inside an 80% train split (buckets 0-204) — sampling then
    splitting yields empty val/test. Distinct salts per operation (split
    vs sample vs decontaminate) make the bucket assignments independent.
    """
    if not (1 <= buckets <= 256):
        # the digest contributes 2 hex chars = 256 base buckets; a
        # larger request would silently collapse to [0, 256) and leave
        # buckets 256+ permanently empty (r5 review)
        raise ValueError(f"buckets must be in [1, 256], got {buckets}")
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    h = F.md5(F.concat(c.cast("string"), F.lit(salt)))
    b256 = (F.instr(F.lit(_HEX), F.substring(h, 1, 1)) - 1) * 16 + (
        F.instr(F.lit(_HEX), F.substring(h, 2, 1)) - 1
    )
    # instr(needle-in-haystack) is 1-based; -1 rebases to 0..15 per char
    return b256 % F.lit(buckets) if buckets != 256 else b256


def hash_split(
    df: DataFrame,
    id_col: str,
    splits: dict[str, float],
    split_col: str = "split",
    salt: str = "split",
) -> DataFrame:
    """Assign each row to a named split by cumulative md5-bucket ranges.

    splits: ordered {name: weight} summing to ~1.0, e.g.
    {"train": 0.8, "val": 0.1, "test": 0.1}. Assignment is a pure
    function of (id, salt) — stable across runs, partitionings and
    engines, and independent of other salted bucket operations.
    """
    b = md5_bucket(id_col, salt=salt).cast("double")
    expr = None
    cum = 0.0
    names = list(splits)
    for name in names[:-1]:
        cum += splits[name]
        cond = b < F.lit(cum * 256.0)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    expr = F.lit(names[-1]) if expr is None else expr.otherwise(names[-1])
    return df.withColumn(split_col, expr)


def stratified_sample(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    rates: dict[str, float],
    default_rate: float = 0.0,
    salt: str = "sample",
) -> DataFrame:
    """Deterministic per-stratum downsample: keep a row iff its md5
    bucket falls under its stratum's rate — the mixture-reweighting step
    of corpus assembly (e.g. upweight books, downsample web crawl).

    Unlike ``df.sampleBy`` this is reproducible independent of
    partitioning and executor count, and the same row set is selected by
    any engine that implements md5. The sample salt differs from the
    split salt, so sample-then-split keeps every split populated.
    """
    b = md5_bucket(id_col, salt=salt).cast("double")
    rate = None
    for value, r in rates.items():
        cond = F.col(strata_col) == value
        rate = F.when(cond, r) if rate is None else rate.when(cond, r)
    rate = F.lit(float(default_rate)) if rate is None else rate.otherwise(float(default_rate))
    return df.filter(b < rate * F.lit(256.0))


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_size: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """Explode documents into overlapping whitespace-token windows:
    (id, chunk_idx, chunk, n_tokens). The unit step is
    ``chunk_size - overlap`` tokens; the final window may be shorter.

    Window starts are capped at ``len - overlap`` so every emitted
    window introduces at least one token not covered by its predecessor
    — otherwise a tail shorter than the overlap yields a degenerate
    final chunk fully contained in the previous one, duplicating
    training content and inflating chunk-dedup pair counts.

    Pure Catalyst: split -> sequence of window starts -> explode ->
    slice/array_join. Cardinality grows ~len/step per doc but stays
    map-side — no shuffle, so at 100 TB chunking pipelines into the
    next stage at scan speed.
    """
    if overlap >= chunk_size:
        raise ValueError("overlap must be < chunk_size")
    step = chunk_size - overlap
    toks = F.filter(
        F.split(F.trim(F.col(text_col)), r"\s+"), lambda t: t != ""
    )
    starts = F.sequence(
        F.lit(1), F.greatest(F.size(toks) - overlap, F.lit(1)), F.lit(step)
    )
    out = df.select(
        F.col(id_col),
        toks.alias("__toks"),
        F.explode(starts).alias("__start"),
    )
    window = F.slice(F.col("__toks"), F.col("__start"), chunk_size)
    return out.select(
        id_col,
        ((F.col("__start") - 1) / step).cast("int").alias("chunk_idx"),
        F.array_join(window, " ").alias("chunk"),
        F.size(window).alias("n_tokens"),
    )


def vocabulary(df: DataFrame, text_col: str = "text", k: int = 100) -> DataFrame:
    """Corpus vocabulary: top-k lowercased whitespace tokens by frequency,
    ties broken lexicographically -> (token, n_occurrences).

    explode -> partial-agg groupBy -> TakeOrderedAndProject: the count
    shuffles only one row per distinct token (map-side combine), and the
    top-k never performs a global sort — each partition keeps k rows and
    the driver merges. Safe at any corpus size where the *vocabulary*
    fits a partition, which is the regime vocabularies exist for.
    """
    from finance_reporting_etl_spark.functions.text import whitespace_tokens

    toks = F.explode(whitespace_tokens(F.lower(F.col(text_col)))).alias("token")
    return (
        df.select(toks)
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), "token")
        .limit(k)
    )


def ngram_decontaminate(
    df: DataFrame,
    benchmark: DataFrame,
    n: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    token n-gram with a held-out benchmark set -> (id, n_contaminated_grams).

    The standard leak check before training on scraped corpora (the
    GPT-3/PaLM papers use 8-13 token grams; n is a knob). Benchmark
    grams are distinct-ed then broadcast — eval suites are tiny next to
    a 100 TB corpus, so the big side never shuffles: gram explode, semi
    structure, and count all stay map-side except the final per-doc
    groupBy on id (uniform key). If the benchmark outgrows broadcast,
    drop the hint and the same plan shuffle-joins.
    """
    from finance_reporting_etl_spark.functions.text import (
        ngrams_from_tokens,
        whitespace_tokens,
    )

    def grams(frame: DataFrame) -> DataFrame:
        # tokens projected first: inline tokenizers re-evaluate per gram
        # inside the transform lambda (no CSE through HOFs)
        toked = frame.select(
            F.col(id_col), whitespace_tokens(F.lower(F.col(text_col))).alias("__toks")
        )
        return toked.select(
            F.col(id_col), F.explode(ngrams_from_tokens("__toks", n)).alias("gram")
        )

    bench_grams = grams(benchmark).select("gram").distinct()
    return (
        grams(df)
        .dropDuplicates([id_col, "gram"])
        .join(F.broadcast(bench_grams), "gram")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_contaminated_grams"))
    )


def repetition_profile(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 2
) -> DataFrame:
    """Per-document repetition signals:
    (id, n_tokens, type_token_ratio, top_{n}gram_fraction).

    Distributed formulation: explode n-grams -> count per (doc, gram) ->
    max per doc, then join back onto the scalar metrics. This is the
    scale-correct shape — the naive column-expression version
    (``text.top_ngram_fraction``) nests a filter lambda inside a
    transform, and Catalyst re-evaluates the whole gram-construction
    subtree per outer element (no CSE through higher-order functions):
    measured 235s vs ~1s at sf0.1 for identical output. Shuffle keys
    (doc_id, gram) are near-unique -> uniform; partial aggregation
    collapses repeats map-side.
    """
    from finance_reporting_etl_spark.functions.text import (
        ngrams_from_tokens,
        whitespace_tokens,
    )

    toked = df.select(
        F.col(id_col), whitespace_tokens(F.lower(F.col(text_col))).alias("__toks")
    )
    base = toked.select(
        F.col(id_col),
        F.size("__toks").alias("n_tokens"),
        det_round(
            F.size(F.array_distinct("__toks"))
            / F.nullif(F.size("__toks").cast("double"), F.lit(0.0)),
            4,
        ).alias("type_token_ratio"),
        # gram count is size-(n-1), floored at 0 — no need to build grams
        F.greatest(F.size("__toks") - (n - 1), F.lit(0)).alias("__n_grams"),
    )
    top = (
        toked.select(
            F.col(id_col), F.explode(ngrams_from_tokens("__toks", n)).alias("gram")
        )
        .groupBy(id_col, "gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy(id_col)
        .agg(F.max("cnt").alias("__top"))
    )
    return base.join(top, id_col, "left").select(
        id_col,
        "n_tokens",
        "type_token_ratio",
        det_round(
            F.col("__top") / F.nullif(F.col("__n_grams").cast("double"), F.lit(0.0)), 4
        ).alias(f"top_{n}gram_fraction"),
    )


def tfidf_top_terms(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 5
) -> DataFrame:
    """Top-k TF-IDF terms per document:
    (id, term, tfidf, rank), tfidf = tf * (ln((N+1)/(df+1)) + 1)
    (smoothed idf, scikit-style), rank by (rounded tfidf desc, term).

    Ranking uses the ROUNDED score so cross-engine ulp noise in ln()
    cannot flip the top-k cut; the term tiebreak is total within a doc.
    Plan: one (doc, term) shuffle with map-side combine, a vocabulary-
    sized broadcast back onto it, then a per-doc window — bounded by
    distinct terms per doc, never corpus size. N arrives via a broadcast
    crossJoin on the corpus-count aggregate: one plan, no separate
    count() job scanning the corpus twice.
    """
    from pyspark.sql import Window

    from finance_reporting_etl_spark.functions.text import whitespace_tokens

    n_docs = df.agg(F.count(F.lit(1)).cast("double").alias("__n"))
    toked = df.select(
        F.col(id_col), whitespace_tokens(F.lower(F.col(text_col))).alias("__toks")
    )
    tf = (
        toked.select(F.col(id_col), F.explode("__toks").alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col(id_col),
            "term",
            det_round(
                F.col("tf")
                * (F.log((F.col("__n") + 1.0) / (F.col("df") + 1.0)) + 1.0),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), "term")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(id_col, "term", "tfidf", "rank")
    )


def chunk_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_size: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """Chunk-level exact dedup (the practical approximation of exact
    substring dedup a la Lee et al.'s 'Deduplicating Training Data'):
    chunk every document into overlapping token windows, fingerprint
    each chunk, and report every repeated occurrence with its canonical
    survivor -> (id, chunk_idx, surv_doc, surv_idx).

    Survivor = lexicographically first (doc, chunk_idx) per fingerprint.
    One shuffle on the md5 fingerprint (uniform key); chunking itself is
    map-side explode. Repeated-boilerplate removal at 100 TB is exactly
    this plan with the window swapped for a groupBy-min + rejoin if
    per-fingerprint groups ever skew (they are dup counts — tiny).
    """
    from pyspark.sql import Window

    chunks = chunk_documents(df, id_col, text_col, chunk_size, overlap).select(
        F.col(id_col), "chunk_idx", F.md5("chunk").alias("__fp")
    )
    w = Window.partitionBy("__fp").orderBy(id_col, "chunk_idx")
    return (
        chunks.select(
            F.col(id_col),
            "chunk_idx",
            F.row_number().over(w).alias("__rn"),
            F.first(id_col).over(w).alias("surv_doc"),
            F.first("chunk_idx").over(w).alias("surv_idx"),
        )
        .filter(F.col("__rn") > 1)
        .select(id_col, "chunk_idx", "surv_doc", "surv_idx")
    )


def keyword_search(
    df: DataFrame,
    terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
) -> DataFrame:
    """Conjunctive (AND) keyword search with TF-IDF ranking:
    (id, score, rank) for the top-k documents containing EVERY term.

    Inverted-index shape without materializing the index: the postings
    explode is filtered to the query terms at the scan side (the filter
    sits under the explode, so only matching tokens survive the map
    side), AND semantics fall out of `count(distinct term) = |terms|`,
    and ranking reuses the smoothed-idf weight. At 100 TB the postings
    table (term, doc, tf) is what you persist bucketed by term; this
    operator is then a k-row-per-term scan instead of a corpus scan.
    """
    from pyspark.sql import Window

    from finance_reporting_etl_spark.functions.text import whitespace_tokens

    # dedupe the query: a repeated term can contribute only ONE
    # distinct match per doc, so count_distinct == len(terms) with a
    # duplicate would empty every result (r5 review)
    terms = list(dict.fromkeys(terms))
    n_docs = df.agg(F.count(F.lit(1)).cast("double").alias("__n"))
    toked = df.select(
        F.col(id_col), whitespace_tokens(F.lower(F.col(text_col))).alias("__toks")
    )
    postings = (
        toked.select(F.col(id_col), F.explode("__toks").alias("term"))
        .filter(F.col("term").isin(list(terms)))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        postings.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "w",
            F.col("tf") * (F.log((F.col("__n") + 1.0) / (F.col("df") + 1.0)) + 1.0),
        )
        .groupBy(id_col)
        .agg(
            F.count_distinct(F.col("term")).alias("__nt"),
            det_round(F.sum("w"), 6).alias("score"),
        )
        .filter(F.col("__nt") == len(terms))
    )
    top = scored.orderBy(F.desc("score"), id_col).limit(k)
    w = Window.orderBy(F.desc("score"), id_col)
    return top.select(id_col, "score", F.row_number().over(w).cast("long").alias("rank"))


def shuffle_shard(
    df: DataFrame,
    id_col: str = "doc_id",
    shards: int = 64,
    salt: str = "shuffle",
) -> DataFrame:
    """Deterministic global shuffle + sharding for training order.

    Adds (shard, shuffle_key, position): shard is a salted md5 bucket,
    position is the row's rank within its shard ordered by the salted
    digest — together they define a reproducible random total order
    (shard-major) any engine re-derives from the ids alone. Training
    loaders read shard files in order; re-salting reshuffles epochs.

    The position window partitions by shard, so the sort is
    per-shard (~N/shards rows) — no global single-partition sort at
    any scale. One shuffle total.
    """
    from pyspark.sql import Window

    c = F.col(id_col)
    key = F.md5(F.concat(c.cast("string"), F.lit(salt)))
    w = Window.partitionBy("shard").orderBy("shuffle_key", id_col)
    return (
        df.withColumn("shard", md5_bucket(c, shards, salt))
        .withColumn("shuffle_key", key)
        .withColumn("position", F.row_number().over(w).cast("long"))
    )


def pack_sequences(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    budget: int = 512,
    shards: int = 64,
    salt: str = "pack",
) -> DataFrame:
    """Assign documents to fixed-token-budget packs (sequence packing
    for LLM training batches).

    Documents are shuffled deterministically (salted md5, as in
    ``shuffle_shard``), then packed in that order by cumulative token
    count: a doc joins pack ``floor(tokens_before_it / budget)`` within
    its shard. This is the streaming prefix-sum approximation of
    next-fit packing — a pack may overflow the budget by at most one
    document's tokens (exact next-fit needs a sequential bin reset,
    which has no parallel prefix form). Output adds (shard, pack_id,
    n_tokens): loaders concatenate a pack's docs in shuffle order.

    All windows partition by shard; the whole plan is one shuffle plus
    map-side token counting.
    """
    from pyspark.sql import Window

    from finance_reporting_etl_spark.functions.text import token_count

    c = F.col(id_col)
    key = F.md5(F.concat(c.cast("string"), F.lit(salt)))
    with_keys = (
        df.withColumn("shard", md5_bucket(c, shards, salt))
        .withColumn("__key", key)
        .withColumn("n_tokens", token_count(F.col(text_col)).cast("long"))
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("__key", id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return with_keys.withColumn(
        "pack_id",
        F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / budget).cast("long"),
    ).drop("__key")


def bigram_lm_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: float = 0.5,
) -> DataFrame:
    """CCNet/Gopher-style language-model quality signal: the mean
    add-k-smoothed bigram log-likelihood of each document under a
    bigram LM trained on the corpus itself.

        score(d) = avg over bigrams (w1,w2) of
                   ln( (c(w1,w2) + k) / (c(w1) + k*V) )

    Near-zero scores = fluent, in-distribution text; very negative =
    rare transitions (boilerplate, mangled encodings, wrong language) —
    the standard perplexity-filtering signal, with the LM itself built
    distributively instead of imported.

    Scale shape: one pass builds unigram/bigram count tables (groupBy
    shuffles on token keys — count tables are corpus-vocabulary-sized,
    never document-count-sized); scoring joins each document's bigram
    instances against them (shuffle equi-joins; a skewed head token is
    AQE territory). The bigram explode is a cheap single-pass
    ``zip_with`` over the token array (the HOF-vs-explode lesson in
    PLANS.md applies to heavy per-element math, not to pairing).
    Documents with fewer than two tokens have no bigrams and drop out.
    """
    toks = df.select(
        F.col(id_col),
        F.filter(
            F.split(F.trim(F.lower(F.col(text_col))), r"\s+"), lambda t: t != ""
        ).alias("t"),
    )
    uni = (
        toks.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    vocab = uni.agg(F.count(F.lit(1)).alias("vocab"))
    pairs = toks.select(
        F.col(id_col),
        F.explode(
            F.expr(
                "zip_with(slice(t, 1, greatest(size(t)-1, 0)),"
                "         slice(t, 2, greatest(size(t)-1, 0)),"
                "         (a, b) -> struct(a AS w1, b AS w2))"
            )
        ).alias("bg"),
    ).select(id_col, F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    big = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    scored = (
        pairs.join(big, ["w1", "w2"])
        .join(uni.withColumnRenamed("w", "w1"), "w1")
        .crossJoin(F.broadcast(vocab))
        .withColumn(
            "__ll",
            F.log((F.col("c2") + F.lit(k)) / (F.col("c1") + F.lit(k) * F.col("vocab"))),
        )
    )
    return scored.groupBy(id_col).agg(det_round(F.avg("__ll"), 6).alias("lm_score"))


def upsample_mixture(
    df: DataFrame,
    weights: dict[str, tuple[int, int]],
    group_col: str = "lang",
    id_col: str = "doc_id",
    salt: str = "upsample",
) -> DataFrame:
    """Epoch-weighted upsampling WITH replacement: each document
    appears ``base`` times plus one more iff its salted md5 bucket
    falls under ``thresh`` (of 256) — i.e. weight w becomes
    (base=floor(w), thresh=round(frac(w)*256)). The multi-epoch half
    of mixture construction (mixture_sample handles w<1 by dropping;
    this handles w>1 by deterministic replication, e.g. the classic
    "wiki x2.5, web x1" recipe).

    Deterministic and engine-portable (same md5 machinery as
    hash_split), map-side only: the explode fans each row out to its
    copy count with no shuffle, so it composes with shuffle-shard
    downstream at any scale. Rows whose group has no weight are
    dropped (weight 0).
    """
    pairs: list[Column] = []
    for g, (base, thresh) in weights.items():
        pairs += [
            F.lit(g),
            F.struct(F.lit(base).alias("base"), F.lit(thresh).alias("thresh")),
        ]
    entry = F.create_map(*pairs)[F.col(group_col)]
    b = md5_bucket(id_col, salt=salt).cast("double")
    n_copies = entry.getItem("base") + F.when(b < entry.getItem("thresh"), 1).otherwise(0)
    return (
        df.withColumn("__n", n_copies)
        .filter(F.col("__n") > 0)
        .withColumn("copy_idx", F.explode(F.sequence(F.lit(1), F.col("__n"))))
        .drop("__n")
    )


def bm25_search(
    df: DataFrame,
    terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Disjunctive (OR) keyword search ranked by Okapi BM25 — the
    saturating, length-normalized upgrade of :func:`keyword_search`'s
    TF-IDF sum: repeated terms stop paying past ~k1 occurrences and
    long documents are discounted by dl/avgdl.

        idf(t)      = ln(1 + (N - df + 0.5) / (df + 0.5))
        score(d)    = sum_t idf(t) * tf * (k1+1) / (tf + k1*(1 - b + b*dl/avgdl))

    Same inverted-index shape as keyword_search (term filter sits under
    the explode, so only query-term postings survive the map side). The
    extra inputs are per-doc length dl (rides the postings groupBy — no
    second corpus scan: tf and dl aggregate together) and the scalar
    (N, avgdl), a 1-row broadcast. avgdl is one exact-integer sum and a
    single division, so every engine computes the identical double.
    """
    from pyspark.sql import Window

    from finance_reporting_etl_spark.functions.text import whitespace_tokens

    toked = df.select(
        F.col(id_col), whitespace_tokens(F.lower(F.col(text_col))).alias("__toks")
    )
    lens = toked.select(F.col(id_col), F.size("__toks").alias("dl"))
    stats = lens.agg(
        F.count(F.lit(1)).cast("double").alias("__n"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("__avgdl"),
    )
    postings = (
        toked.select(F.col(id_col), F.size("__toks").alias("dl"), F.explode("__toks").alias("term"))
        .filter(F.col("term").isin(list(terms)))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl"))
    )
    dfreq = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        1.0 + (F.col("__n") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    denom = F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("__avgdl"))
    scored = (
        postings.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn("w", idf * F.col("tf") * (k1 + 1.0) / denom)
        .groupBy(id_col)
        .agg(det_round(F.sum("w"), 6).alias("score"))
    )
    top = scored.orderBy(F.desc("score"), id_col).limit(k)
    w = Window.orderBy(F.desc("score"), id_col)
    return top.select(id_col, "score", F.row_number().over(w).cast("long").alias("rank"))


def pmi_collocations(
    docs: DataFrame,
    text_col: str = "text",
    max_dist: int = 2,
    min_support: int = 10,
    k: int = 20,
) -> DataFrame:
    """PMI collocation mining: which token pairs co-occur (within
    ``max_dist`` positions, ordered) far more than chance — the
    extractor behind phrase detection and tokenizer-merge candidates.

    Pairs generate MAP-SIDE from each document's token array (indexed
    sequence explode — no self-join anywhere); unigram and pair counts
    are exact; PMI is one closed-form expression on those counts with
    the two corpus scalars broadcast. Top-k via
    TakeOrderedAndProject. Returns (l, r, n_lr, pmi, rank)."""
    from pyspark.sql import Window

    t = docs.select(
        F.filter(
            F.split(F.trim(F.lower(text_col)), r"\s+"), lambda t: t != ""
        ).alias("toks")
    )
    nt = t.agg(F.sum(F.size("toks")).cast("double").alias("__n_toks"))
    uni = (
        t.select(F.explode("toks").alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    pair_parts = []
    for d in range(1, max_dist + 1):
        # guard: Spark's sequence(1, n) DESCENDS when n < 1 — emit an
        # empty list for docs shorter than the pair distance (DuckDB's
        # generate_series is already empty there)
        idx = F.when(
            F.size("toks") > d, F.sequence(F.lit(1), F.size("toks") - F.lit(d))
        ).otherwise(F.array().cast("array<int>"))
        pair_parts.append(
            t.select(
                F.explode(idx).alias("i"),
                "toks",
            ).select(
                F.element_at("toks", F.col("i")).alias("l"),
                F.element_at("toks", F.col("i") + F.lit(d)).alias("r"),
            )
        )
    pairs = pair_parts[0]
    for p in pair_parts[1:]:
        pairs = pairs.unionAll(p)
    np_ = pairs.agg(F.count(F.lit(1)).cast("double").alias("__n_pairs"))
    pc = (
        pairs.groupBy("l", "r")
        .agg(F.count(F.lit(1)).alias("n_lr"))
        .filter(F.col("n_lr") >= min_support)
    )
    a = uni.select(F.col("term").alias("l"), F.col("n").alias("__na"))
    b = uni.select(F.col("term").alias("r"), F.col("n").alias("__nb"))
    scored = (
        pc.join(F.broadcast(a), "l")
        .join(F.broadcast(b), "r")
        .crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(np_))
        .select(
            "l",
            "r",
            "n_lr",
            det_round(
                F.log(
                    (F.col("n_lr").cast("double") / F.col("__n_pairs"))
                    / (
                        (F.col("__na").cast("double") / F.col("__n_toks"))
                        * (F.col("__nb").cast("double") / F.col("__n_toks"))
                    )
                ),
                6,
            ).alias("pmi"),
        )
    )
    top = scored.orderBy(F.desc("pmi"), "l", "r").limit(k)
    wr = Window.orderBy(F.desc("pmi"), "l", "r")
    return top.select(
        "l", "r", "n_lr", "pmi", F.row_number().over(wr).cast("long").alias("rank")
    )


def mixture_rebalance_to_targets(
    docs: DataFrame,
    targets: DataFrame,
    id_col: str = "doc_id",
    group_col: str = "lang",
    size_col: str = "n_chars",
    salt: str = "rebalance",
    grain: int = 256,
) -> DataFrame:
    """Dolma/DataComp-style mixture solving, entirely IN-PLAN: measured
    size share per group -> weight = target/current -> quantized
    (floor + ``grain``-grain md5 coin) replication -> achieved share.
    No driver arithmetic: the weight table is a groups-sized aggregate
    joined back broadcast, so the same query rebalances a 100 TB
    corpus. ``targets`` carries (group, target_share). The achieved
    share converges on the target up to the 1/grain coin granularity
    and per-doc integer replication. ``grain`` must divide 256 (the
    md5 coin's base resolution). Returns
    (group, before_share, target_share, after_share)."""
    if grain <= 0 or 256 % grain != 0:
        raise ValueError(
            f"grain must be a positive divisor of 256, got {grain}"
        )
    cur = docs.groupBy(group_col).agg(
        F.sum(size_col).cast("double").alias("chars")
    )
    tot = cur.agg(F.sum("chars").alias("t"))
    w = (
        cur.join(F.broadcast(targets), group_col)
        .crossJoin(F.broadcast(tot))
        .select(
            group_col,
            "target_share",
            (F.col("chars") / F.col("t")).alias("before_share"),
            (F.col("target_share") / (F.col("chars") / F.col("t"))).alias("wt"),
        )
    )
    wq = w.select(
        group_col,
        "target_share",
        "before_share",
        F.floor("wt").cast("long").alias("base"),
        F.floor((F.col("wt") - F.floor("wt")) * grain + 0.5)
        .cast("long")
        .alias("thresh"),
    )
    # the coin must draw from [0, grain) — md5_bucket defaults to 256
    # buckets, which silently mis-scales any non-default grain
    b = md5_bucket(id_col, buckets=grain, salt=salt).cast("double")
    per_doc = docs.join(F.broadcast(wq), group_col).select(
        group_col,
        "target_share",
        "before_share",
        (
            F.col(size_col)
            * (F.col("base") + F.when(b < F.col("thresh"), 1).otherwise(0))
        ).alias("eff_chars"),
    )
    after_tot = per_doc.agg(F.sum("eff_chars").alias("t"))
    return (
        per_doc.crossJoin(F.broadcast(after_tot))
        .groupBy(group_col)
        .agg(
            det_round(F.any_value("before_share"), 6).alias("before_share"),
            F.any_value("target_share").alias("target_share"),
            det_round(F.sum("eff_chars") / F.any_value("t"), 6).alias("after_share"),
        )
    )


def ctfidf_distinctive_terms(
    docs: DataFrame,
    class_col: str = "lang",
    text_col: str = "text",
    k: int = 5,
    min_tf: int = 5,
) -> DataFrame:
    """Class-based TF-IDF (the BERTopic labeling trick): which terms
    CHARACTERIZE each subcorpus — score = (tf_class / tokens_class) *
    ln(1 + avg_class_tokens / corpus_term_freq), so terms common
    everywhere score low and class-concentrated terms rise. The
    standard readout for naming clusters / auditing source mixes.

    One token explode feeds three count aggregates (class-term, term,
    class); the two corpus scalars broadcast; the score is a single
    closed-form float chain on exact integer counts, so a SQL engine
    reproduces it bit-for-bit. Top-k per class by (score DESC, term).
    Returns (class, term, tf, score, rank)."""
    from pyspark.sql import Window

    t = docs.select(
        F.col(class_col).alias("cls"),
        F.explode(
            F.filter(
                F.split(F.trim(F.lower(text_col)), r"\s+"), lambda t: t != ""
            )
        ).alias("term"),
    )
    tfc = t.groupBy("cls", "term").agg(F.count(F.lit(1)).alias("tf"))
    ft = t.groupBy("term").agg(F.count(F.lit(1)).alias("f_term"))
    tokc = t.groupBy("cls").agg(F.count(F.lit(1)).alias("toks"))
    scal = t.agg(
        F.count(F.lit(1)).cast("double").alias("__tot"),
        F.count_distinct("cls").cast("double").alias("__ncls"),
    )
    scored = (
        tfc.filter(F.col("tf") >= min_tf)
        .join(F.broadcast(ft), "term")
        .join(F.broadcast(tokc), "cls")
        .crossJoin(F.broadcast(scal))
        .select(
            "cls",
            "term",
            "tf",
            det_round(
                (F.col("tf").cast("double") / F.col("toks"))
                * F.log(
                    F.lit(1.0)
                    + (F.col("__tot") / F.col("__ncls")) / F.col("f_term")
                ),
                6,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("cls").orderBy(F.col("score").desc(), "term")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(F.col("cls").alias(class_col), "term", "tf", "score", "rank")
    )


def feature_hash_bow(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_dims: int = 32,
    salt: str = "feathash",
) -> DataFrame:
    """Hashing-trick bag-of-words: every token maps to a fixed dim via
    md5 (no vocabulary pass, no vocab shuffle — the property that lets
    the featurizer run as ONE stateless map at any corpus size), with
    the usual independent sign hash so collisions cancel in
    expectation instead of always inflating. Long-format output
    (id, dim, weight) — weight = sum of +-1 per token occurrence, an
    exact integer. ``n_dims`` must divide 256 (md5_bucket grain)."""
    from finance_reporting_etl_spark.functions.text import whitespace_tokens

    tok = docs.select(
        F.col(id_col),
        F.explode(whitespace_tokens(F.lower(F.col(text_col)))).alias("tok"),
    )
    dim = md5_bucket("tok", n_dims, salt=salt)
    sign = md5_bucket("tok", 2, salt=salt + "sign") * 2 - 1
    return (
        tok.withColumn("dim", dim.cast("int"))
        .withColumn("sign", sign.cast("bigint"))
        .groupBy(id_col, "dim")
        .agg(F.sum("sign").alias("weight"))
        .filter(F.col("weight") != 0)
    )


def heaps_law_growth(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = 64,
) -> DataFrame:
    """Vocabulary-growth (Heaps' law) curve: for each document in
    ``id_col`` order, the running total of tokens seen and of DISTINCT
    token types seen — the standard diagnostic for corpus diversity
    (types ~ C * tokens^beta; a flattening curve means the crawl is
    rereading itself, a supralinear one means noise/transcoding junk).

    Distribution: a token's first appearance is ``min(doc_id)`` over
    its postings (one hash aggregation — never a distinct-over-window),
    giving per-doc NEW-type counts; per-doc token counts are a second
    aggregation; both prefix-sum through
    :func:`~finance_reporting_etl_spark.operators.ranking.distributed_cumsum`
    (bucket-partitioned two-level scan), so there is NO data-sized
    single-partition window anywhere — the curve stays computable when
    the corpus is 10^9 documents.
    """
    from finance_reporting_etl_spark.functions.text import whitespace_tokens
    from finance_reporting_etl_spark.operators.ranking import (
        distributed_cumsum,
    )

    toks = docs.select(
        F.col(id_col),
        F.explode(whitespace_tokens(F.lower(F.col(text_col)))).alias("tok"),
    )
    new_types = (
        toks.groupBy("tok")
        .agg(F.min(id_col).alias(id_col))
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("bigint").alias("__new"))
    )
    n_toks = toks.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("__ntok")
    )
    spine = (
        docs.select(id_col)
        .join(n_toks, id_col, "left")
        .join(new_types, id_col, "left")
        .select(
            id_col,
            F.coalesce("__ntok", F.lit(0)).alias("__ntok"),
            F.coalesce("__new", F.lit(0)).alias("__new"),
        )
    )
    c1 = distributed_cumsum(
        spine, "__ntok", id_col, [], out_col="cum_tokens", buckets=buckets
    )
    c2 = distributed_cumsum(
        c1, "__new", id_col, [], out_col="cum_types", buckets=buckets
    )
    return c2.select(
        id_col,
        F.col("cum_tokens").cast("bigint").alias("cum_tokens"),
        F.col("cum_types").cast("bigint").alias("cum_types"),
    )


def bpe_pair_frequencies(
    docs: DataFrame,
    text_col: str = "text",
    top_k: int = 20,
) -> DataFrame:
    """One merge-candidate round of byte-pair encoding: the corpus-wide
    frequency of every ADJACENT character pair inside whitespace
    tokens, top-k by (freq DESC, pair ASC) — the primitive a tokenizer
    trainer iterates (the top pair IS the next BPE merge rule).

    Cost shape: pairs are counted on the DISTINCT-token vocabulary
    weighted by token frequency — the explode fans out |vocab| * ~6
    positions, not |corpus tokens| * 6, which at 100 TB is the
    difference between gigabytes and the corpus itself (vocabulary
    grows ~ tokens^0.5 by Heaps' law). The final top-k window runs
    over distinct PAIRS (alphabet^2-bounded, a few hundred rows).
    """
    from finance_reporting_etl_spark.functions.text import whitespace_tokens
    from pyspark.sql import Window

    tok_counts = (
        docs.select(
            F.explode(
                whitespace_tokens(F.lower(F.col(text_col)))
            ).alias("token")
        )
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    pairs = tok_counts.filter(F.length("token") >= 2).select(
        F.explode(
            F.sequence(F.lit(1), F.length("token") - F.lit(1))
        ).alias("i"),
        "token",
        "c",
    ).select(
        F.col("token").substr(F.col("i"), F.lit(2)).alias("pair"), "c"
    )
    freq = pairs.groupBy("pair").agg(F.sum("c").cast("bigint").alias("freq"))
    w = Window.orderBy(F.col("freq").desc(), F.col("pair").asc())
    return (
        freq.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= top_k)
    )


def ngram_novelty(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 4,
) -> DataFrame:
    """Within-corpus n-gram novelty profile: for each document, how
    many of its distinct n-grams appear here FIRST (no lower doc id
    contains them) — the memorization/repetition observability metric
    a training-data team reads before upsampling: a low-novelty shard
    is re-treading text the model has already seen.

    Complements (does not duplicate) the existing gram operators:
    ngram_decontaminate intersects train grams with an external
    benchmark; chunk_dedup counts repeated chunks; THIS attributes
    every gram to its first owner inside one corpus and scores each
    doc by how much it contributes first.

    All-exact pipeline: distinct (doc, gram) pairs -> min(doc) per
    gram (first owner) -> join back on gram -> per-doc counts;
    novelty_ppm = n_novel * 1e6 div n_grams (integer). Shuffles key
    on gram/id — the dedup-scale shape, no global ordering anywhere.
    Docs with fewer than ``n`` tokens have no grams and are absent
    from the output by construction.
    """
    from finance_reporting_etl_spark.functions.text import (
        ngrams_from_tokens,
        whitespace_tokens,
    )

    toked = df.select(
        F.col(id_col), whitespace_tokens(F.lower(F.col(text_col))).alias("__toks")
    )
    dg = (
        toked.select(
            F.col(id_col), F.explode(ngrams_from_tokens("__toks", n)).alias("gram")
        )
        .dropDuplicates([id_col, "gram"])
    )
    first = dg.groupBy("gram").agg(F.min(id_col).alias("__first"))
    per_doc = (
        dg.join(first, "gram")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.sum((F.col("__first") == F.col(id_col)).cast("bigint"))
            .cast("bigint")
            .alias("n_novel"),
        )
    )
    return per_doc.select(
        id_col,
        "n_grams",
        "n_novel",
        F.expr("(n_novel * 1000000) div n_grams").cast("bigint").alias(
            "novelty_ppm"
        ),
    )
