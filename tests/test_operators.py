"""Operator semantics: dedup family, similarity recall, incremental
merge, multimodal plumbing — on constructed data with known answers."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from finance_reporting_etl_spark.operators import dedup, incremental, multimodal, similarity


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog " * 8
    near = base.replace("lazy", "sleepy")  # one token differs
    rows = [
        (0, base, "en", "s0", len(base)),
        (1, base, "en", "s0", len(base)),            # exact dup of 0
        (2, "  " + base.upper() + "  ", "en", "s0", len(base)),  # dup after normalize
        (3, near, "en", "s0", len(near)),            # near-dup of 0
        (4, "completely different words entirely unrelated content here", "en", "s0", 58),
        (5, "der schnelle braune fuchs springt", "de", "s1", 33),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string, source string, n_chars long")


def test_exact_dedup_survivor_deterministic(docs):
    out = dedup.exact_dedup(docs)
    ids = sorted(r.doc_id for r in out.collect())
    # 0,1,2 collapse to doc 0 (lowest id; case/whitespace normalized)
    assert ids == [0, 3, 4, 5]


def test_jaccard_pairs_finds_near_dup(docs):
    pairs = dedup.jaccard_pairs(docs, block_cols=("lang",), threshold=0.5)
    got = {(r.id_a, r.id_b): r.jaccard for r in pairs.collect()}
    assert got[(0, 1)] == 1.0
    assert got[(0, 2)] == 1.0  # lowercased tokens identical
    # one-token swap on 9 distinct tokens: J = 7/9
    assert (0, 3) in got and got[(0, 3)] == pytest.approx(0.7778)
    assert (0, 4) not in got  # unrelated below threshold
    assert all(a != 5 and b != 5 for a, b in got)  # lang block


def test_minhash_lsh_matches_planted_dups(docs):
    pairs = dedup.minhash_near_dup_pairs(docs, threshold=0.5)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert {(0, 1), (0, 2), (1, 2)} <= got  # exact dups always collide
    assert (0, 4) not in got


def test_simhash_identical_and_blocking(docs):
    out = dedup.simhash(docs)
    sims = {r.id: r.simhash for r in out.collect()}
    assert sims[0] == sims[1] == sims[2]  # same token sets -> same simhash
    pairs = dedup.simhash_near_dup_pairs(docs, max_hamming=3)
    got = {(r.id_a, r.id_b): r.hamming for r in pairs.collect()}
    assert got[(0, 1)] == 0 and got[(0, 2)] == 0


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    from finance_reporting_etl_spark.tables import _read_parquet

    return _read_parquet(spark, f"{sf_dir}/embeddings.parquet")


def test_brute_force_topk_properties(emb):
    out = similarity.brute_force_topk(emb, [0, 1], k=5).collect()
    assert len(out) == 10
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rows in by_q.items():
        assert [r.rank for r in sorted(rows, key=lambda r: r.rank)] == [1, 2, 3, 4, 5]
        scores = [r.score for r in sorted(rows, key=lambda r: r.rank)]
        assert scores == sorted(scores, reverse=True)
        assert all(r.neighbor_id != q for r in rows)


def test_lsh_ann_recall_vs_brute_force(emb):
    qids = list(range(10))
    exact = similarity.brute_force_topk(emb, qids, k=5)
    approx = similarity.hyperplane_lsh_topk(emb, qids, k=5, n_planes=4, n_tables=8)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    # 8 tables x 4 planes: union-over-tables recall 1-(1-p^4)^8; even at
    # per-plane collision p~0.6 that is ~0.67. Single-table was ~0.1.
    assert recall > 0.3, f"LSH recall suspiciously low: {recall}"


def test_ivf_ann_recall_vs_brute_force(emb):
    qids = list(range(10))
    exact = similarity.brute_force_topk(emb, qids, k=5)
    approx = similarity.ivf_topk(emb, qids, k=5, n_cells=16, nprobe=4)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    # probing 4/16 cells; near neighbors concentrate in the query's top
    # cells, so recall should clear a conservative floor
    assert recall > 0.3, f"IVF recall suspiciously low: {recall}"
    # every query returns exactly k ranked rows, self excluded
    by_q = {}
    for r in approx.collect():
        by_q.setdefault(r.query_id, []).append(r)
    for q, rows in by_q.items():
        assert all(r.neighbor_id != q for r in rows)
        assert sorted(r.rank for r in rows) == list(range(1, len(rows) + 1))


def test_merge_latest(spark):
    df = spark.createDataFrame(
        [(1, "a", 1, 10.0), (2, "a", 2, 20.0), (3, "b", 1, 30.0), (4, "a", 2, 40.0)],
        "event_id long, k string, v long, x double",
    )
    out = incremental.merge_latest(df, ["k"], "v", "event_id")
    got = {r.k: r.event_id for r in out.collect()}
    assert got == {"a": 2, "b": 3}  # v=2 wins for 'a'; tie on v -> lowest event_id


def test_upsert_parquet(spark, tmp_path):
    base = str(tmp_path / "t")
    spark.createDataFrame([(1, 1, "old"), (2, 1, "keep")], "k long, ver long, s string").write.parquet(base)
    incoming = spark.createDataFrame([(1, 2, "new")], "k long, ver long, s string")
    out = incremental.upsert_parquet(spark, base, incoming, ["k"], "ver")
    got = {r.k: r.s for r in out.collect()}
    assert got == {1: "new", 2: "keep"}


def test_append_partitioned_layout(spark, tmp_path):
    p = str(tmp_path / "part")
    df = spark.createDataFrame([("2024-01-01", 1.0), ("2024-01-02", 2.0)], "d string, v double")
    incremental.append_partitioned(df, p, ["d"])
    import os

    assert any(name.startswith("d=") for name in os.listdir(p))
    assert spark.read.parquet(p).count() == 2


def test_dynamic_partition_overwrite_replaces_only_touched_days(spark, tmp_path):
    """Backfill replay: rewriting one day must leave other partitions
    byte-identical and never duplicate rows."""
    p = str(tmp_path / "dyn")
    base = spark.createDataFrame(
        [("2024-01-01", 1.0), ("2024-01-01", 2.0), ("2024-01-02", 3.0)],
        "d string, v double",
    )
    incremental.append_partitioned(base, p, ["d"], mode="overwrite")
    restated = spark.createDataFrame([("2024-01-01", 9.0)], "d string, v double")
    incremental.overwrite_partitions_dynamic(restated, p, ["d"])
    # partition-column inference reads d back as DATE — stringify
    got = sorted((str(r.d), r.v) for r in spark.read.parquet(p).collect())
    # day 1 fully replaced (2 rows -> 1), day 2 untouched
    assert got == [("2024-01-01", 9.0), ("2024-01-02", 3.0)]
    # session conf restored
    assert spark.conf.get("spark.sql.sources.partitionOverwriteMode") == "static"


def test_schema_evolution_merged_read(spark, tmp_path):
    """Additive schema evolution: old snapshot lacks a column; merged
    read reconciles footers and fills NULL for pre-evolution files."""
    p = str(tmp_path / "evolve")
    v1 = spark.createDataFrame([(1, "a")], "k long, s string")
    v1.write.mode("append").parquet(p)
    v2 = spark.createDataFrame([(2, "b", 7.5)], "k long, s string, score double")
    v2.write.mode("append").parquet(p)
    got = {
        r.k: (r.s, r.score)
        for r in incremental.read_evolved(spark, p).collect()
    }
    assert got == {1: ("a", None), 2: ("b", 7.5)}
    assert set(incremental.read_evolved(spark, p).columns) == {"k", "s", "score"}


def test_multimodal_feature_extract(docs):
    media = multimodal.attach_fake_media(docs)
    feats = multimodal.extract_features(media)
    rows = feats.collect()
    assert len(rows) == docs.count()
    assert all(len(r.features) == 8 for r in rows)
    # deterministic: identical payloads -> identical features
    by_id = {r.doc_id: list(r.features) for r in rows}
    assert by_id[0] == by_id[1]
    # normalized histogram sums to ~1
    assert sum(by_id[0]) == pytest.approx(1.0, abs=1e-3)


def test_png_codec_roundtrip():
    """encode_png emits a genuine PNG; decode_png must recover every
    pixel of the synthetic formula exactly."""
    for doc_id in (0, 1, 35, 123):
        data = multimodal.encode_png(doc_id)
        assert data[:8] == b"\x89PNG\r\n\x1a\n"
        w, h, rgb = multimodal.decode_png(data)
        assert (w, h) == multimodal.synth_size(doc_id)
        assert len(rgb) == w * h * 3
        for y in (0, h - 1):
            for x in (0, w - 1):
                for c in range(3):
                    assert rgb[(y * w + x) * 3 + c] == multimodal.synth_pixel(
                        doc_id, x, y, c
                    )


def test_png_decoder_handles_sub_and_up_filters():
    """The decoder must undo filter types 1 (Sub) and 2 (Up), not just
    the 0s our encoder writes — re-filter a known image and decode."""
    import struct
    import zlib

    doc_id = 7
    w, h = multimodal.synth_size(doc_id)
    raw = bytearray()
    prev = [0] * (w * 3)
    for y in range(h):
        line = [multimodal.synth_pixel(doc_id, x, y, c) for x in range(w) for c in range(3)]
        if y % 2 == 0:  # Sub filter
            raw.append(1)
            raw += bytes(
                (line[i] - (line[i - 3] if i >= 3 else 0)) % 256 for i in range(len(line))
            )
        else:  # Up filter
            raw.append(2)
            raw += bytes((line[i] - prev[i]) % 256 for i in range(len(line)))
        prev = line
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    data = (
        b"\x89PNG\r\n\x1a\n"
        + multimodal._png_chunk(b"IHDR", ihdr)
        + multimodal._png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + multimodal._png_chunk(b"IEND", b"")
    )
    dw, dh, rgb = multimodal.decode_png(data)
    assert (dw, dh) == (w, h)
    expect = bytes(
        multimodal.synth_pixel(doc_id, x, y, c)
        for y in range(h)
        for x in range(w)
        for c in range(3)
    )
    assert rgb == expect


def test_png_decoder_rejects_junk():
    with pytest.raises(ValueError):
        multimodal.decode_png(b"not a png at all")
    with pytest.raises(ValueError):
        multimodal.decode_png(None)


def test_decode_media_features_matches_formula(docs):
    out = multimodal.decode_media_features(multimodal.attach_synthetic_png(docs))
    for r in out.collect():
        w, h = multimodal.synth_size(r.doc_id)
        sums = [0, 0, 0]
        for y in range(h):
            for x in range(w):
                for c in range(3):
                    sums[c] += multimodal.synth_pixel(r.doc_id, x, y, c)
        assert (r.width, r.height) == (w, h)
        assert [r.sum_r, r.sum_g, r.sum_b] == sums


def test_resize_png_real_resample(docs):
    """resize_png must emit valid PNGs whose pixels follow the floor
    NN mapping of the source formula image."""
    out = multimodal.resize_png(multimodal.attach_synthetic_png(docs), 6, 5)
    rows = out.collect()
    assert len(rows) == docs.count()
    for r in rows[:10]:
        w, h, rgb = multimodal.decode_png(r.payload)
        assert (w, h) == (6, 5)
        sw, sh = multimodal.synth_size(r.doc_id)
        for y in range(5):
            for x in range(6):
                sx, sy = x * sw // 6, y * sh // 5
                for c in range(3):
                    assert rgb[(y * 6 + x) * 3 + c] == multimodal.synth_pixel(
                        r.doc_id, sx, sy, c
                    )


def test_multimodal_resize_stub(docs):
    media = multimodal.attach_fake_media(docs)
    out = multimodal.resize_stub(media, 224, 224)
    r = out.first()
    assert r.meta.width == 224 and r.meta.height == 224 and r.meta.format == "fake/raw"


def test_salted_join_matches_plain_join(spark):
    from finance_reporting_etl_spark.operators import scale

    left = spark.createDataFrame(
        [(k, i) for i in range(200) for k in ("hot", "cold")[: 1 + i % 2]],
        "k string, v long",
    )
    right = spark.createDataFrame([("hot", 1.0), ("cold", 2.0), ("never", 3.0)], "k string, w double")
    plain = left.join(right, ["k"], "inner")
    salted = scale.salted_join(left, right, ["k"], n_salts=4)
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))
    # left join keeps unmatched left rows exactly once
    l2 = left.unionByName(spark.createDataFrame([("orphan", -1)], "k string, v long"))
    plain_l = l2.join(right, ["k"], "left")
    salted_l = scale.salted_join(l2, right, ["k"], n_salts=4, how="left")
    assert sorted(map(lambda r: tuple(r), plain_l.collect())) == sorted(
        map(lambda r: tuple(r), salted_l.collect())
    )


def test_bucketed_join_is_shuffle_free(spark, sf_dir, tmp_path):
    from finance_reporting_etl_spark.operators import scale
    from finance_reporting_etl_spark.tables import _read_parquet

    orders = _read_parquet(spark, f"{sf_dir}/orders.parquet")
    li = _read_parquet(spark, f"{sf_dir}/lineitem.parquet").select("l_orderkey", "l_extendedprice")
    try:
        scale.write_bucketed(
            orders.select("o_orderkey", "o_totalprice"),
            "bkt_orders",
            ["o_orderkey"],
            n_buckets=8,
            sort_cols=["o_orderkey"],
        )
        scale.write_bucketed(
            li.withColumnRenamed("l_orderkey", "o_orderkey"),
            "bkt_lineitem",
            ["o_orderkey"],
            n_buckets=8,
            sort_cols=["o_orderkey"],
        )
        joined = scale.bucketed_join(spark, "bkt_orders", "bkt_lineitem", ["o_orderkey"])
        scale.assert_no_shuffle_join(joined)  # co-located: zero Exchange
        expect = orders.join(li, orders.o_orderkey == li.l_orderkey).count()
        assert joined.count() == expect
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_orders")
        spark.sql("DROP TABLE IF EXISTS bkt_lineitem")


def test_asof_join_semantics(spark):
    from finance_reporting_etl_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [("a", 10, "L1"), ("a", 20, "L2"), ("a", 5, "L0"), ("b", 7, "L3")],
        "k string, ts long, tag string",
    )
    right = spark.createDataFrame(
        [("a", 10, 1.0), ("a", 15, 2.0), ("b", 99, 9.0)],
        "k string, ts long, price double",
    )
    out = {
        r.tag: (r.ts_r, r.price_r)
        for r in asof_join(left, right, ["k"], right_cols=["price"]).collect()
    }
    assert out["L0"] == (None, None)      # no right row at or before ts=5
    assert out["L1"] == (10, 1.0)         # inclusive: right row AT ts matches
    assert out["L2"] == (15, 2.0)         # latest of the two prior rows
    assert out["L3"] == (None, None)      # right row is in the future


def test_retain_filters_horizon(spark):
    from datetime import datetime

    df = spark.createDataFrame(
        [(1, datetime(2024, 1, 1)), (2, datetime(2024, 1, 10)), (3, datetime(2024, 2, 1))],
        "id long, ts timestamp",
    )
    kept = incremental.retain(df, "ts", datetime(2024, 1, 10))
    assert sorted(r.id for r in kept.collect()) == [2, 3]


def test_drop_expired_partitions(spark, tmp_path):
    from datetime import datetime

    df = spark.createDataFrame(
        [
            (1, datetime(2024, 1, 1, 5), "2024-01-01"),
            (2, datetime(2024, 1, 2, 5), "2024-01-02"),
            (3, datetime(2024, 1, 3, 5), "2024-01-03"),
        ],
        "id long, ts timestamp, day string",
    )
    path = str(tmp_path / "hypertable")
    incremental.append_partitioned(df, path, ["day"], mode="overwrite")
    dropped = incremental.drop_expired_partitions(spark, path, "day", "2024-01-03")
    assert sorted(dropped) == ["2024-01-01", "2024-01-02"]
    left = spark.read.parquet(path)
    assert [r.id for r in left.collect()] == [3]
    # idempotent: second run drops nothing
    assert incremental.drop_expired_partitions(spark, path, "day", "2024-01-03") == []


def test_near_dup_clusters_transitive(spark):
    """Chain 1-2, 2-3 must collapse into one cluster (transitivity);
    4-5 separate; 6 isolated keeps its own label."""
    edges = spark.createDataFrame([(1, 2), (2, 3), (4, 5)], "id_a long, id_b long")
    nodes = spark.createDataFrame([(i,) for i in range(1, 7)], "id long")
    got = {r.id: r.cluster_id for r in dedup.near_dup_clusters(edges, nodes).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 6}


def test_hash_split_deterministic_partition_invariant(docs):
    from finance_reporting_etl_spark.operators.corpus import hash_split

    splits = {"train": 0.8, "val": 0.1, "test": 0.1}
    a = {r.doc_id: r.split for r in hash_split(docs, "doc_id", splits).collect()}
    b = {
        r.doc_id: r.split
        for r in hash_split(docs.repartition(7), "doc_id", splits).collect()
    }
    assert a == b  # pure function of id: partitioning can't move a row
    assert set(a.values()) <= {"train", "val", "test"}
    # proportions on a bigger id space
    spark = docs.sparkSession
    wide = hash_split(spark.range(500).withColumnRenamed("id", "doc_id"), "doc_id", splits)
    counts = {r.split: r.n for r in wide.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert 0.7 * 500 <= counts["train"] <= 0.9 * 500
    assert counts.get("val", 0) > 0 and counts.get("test", 0) > 0


def test_stratified_sample_is_deterministic_subset(docs):
    from finance_reporting_etl_spark.operators.corpus import stratified_sample

    rates = {"en": 1.0, "zh": 0.0, "de": 0.5, "es": 0.5, "fr": 0.5}
    out = stratified_sample(docs, "doc_id", "lang", rates)
    rows = out.select("doc_id", "lang").collect()
    again = stratified_sample(docs, "doc_id", "lang", rates).select("doc_id", "lang").collect()
    assert sorted(map(str, rows)) == sorted(map(str, again))
    langs = {r.lang for r in rows}
    assert "zh" not in langs  # rate 0 strata drop entirely
    n_en_in = docs.filter("lang = 'en'").count()
    n_en_out = sum(1 for r in rows if r.lang == "en")
    assert n_en_out == n_en_in  # rate 1.0 strata keep every row


def test_sample_then_split_keeps_every_split_populated(spark):
    """Composed salted hashes must be independent: with a single unsalted
    md5 bucket, a 0.5 sample keeps exactly buckets 0-127 — a strict
    subset of the 0.8 train range — so sample-then-split yields empty
    val/test. Distinct salts make the composition non-degenerate."""
    from finance_reporting_etl_spark.operators.corpus import hash_split, stratified_sample

    docs = spark.range(600).select(
        F.col("id").cast("string").alias("doc_id"), F.lit("en").alias("lang")
    )
    sampled = stratified_sample(docs, "doc_id", "lang", {"en": 0.5})
    n = sampled.count()
    assert 0.4 * 600 <= n <= 0.6 * 600
    out = hash_split(sampled, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r.split: r.n for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert counts.get("val", 0) > 0 and counts.get("test", 0) > 0
    # bench bucket (salt 'decon') must also intersect every sample cutoff
    from finance_reporting_etl_spark.operators.corpus import md5_bucket

    bench_in_sample = sampled.filter(md5_bucket("doc_id", salt="decon") < 13).count()
    assert bench_in_sample > 0


def test_chunk_documents_tail_never_degenerate(spark):
    """A tail shorter than the overlap must not emit a window fully
    contained in its predecessor (ADVICE: 64-token doc at 64/16 used to
    yield a redundant 16-token chunk)."""
    from finance_reporting_etl_spark.operators.corpus import chunk_documents

    df = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(64))),
         (2, " ".join(f"t{i}" for i in range(80)))],
        "doc_id long, text string",
    )
    out = chunk_documents(df, chunk_size=64, overlap=16).collect()
    by_doc: dict[int, list] = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert len(by_doc[1]) == 1 and by_doc[1][0].n_tokens == 64
    # 80 tokens: second window (start 49) adds tokens 65-80 — kept
    assert len(by_doc[2]) == 2
    chunks = sorted(by_doc[2], key=lambda r: r.chunk_idx)
    rebuilt = chunks[0].chunk.split() + chunks[1].chunk.split()[16:]
    assert rebuilt == [f"t{i}" for i in range(80)]


def test_chunk_documents_reconstructs_token_stream(spark):
    from finance_reporting_etl_spark.operators.corpus import chunk_documents

    texts = [
        (1, " ".join(f"t{i}" for i in range(150))),
        (2, "one two three"),
        (3, ""),
        (4, "   "),
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    out = chunk_documents(df, chunk_size=16, overlap=4).collect()
    by_doc: dict[int, list] = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    # doc 1: step=12, 150 tokens -> ceil(150/12)=13 starts
    chunks = sorted(by_doc[1], key=lambda r: r.chunk_idx)
    assert len(chunks) == 13
    assert all(r.n_tokens == 16 for r in chunks[:-1])
    # consecutive chunks overlap by exactly 4 tokens
    for a, b in zip(chunks, chunks[1:]):
        assert a.chunk.split()[12:] == b.chunk.split()[:4]
    # concatenating de-overlapped chunks reconstructs the token stream
    rebuilt = chunks[0].chunk.split()
    for c in chunks[1:]:
        rebuilt += c.chunk.split()[4:]
    assert rebuilt == texts[0][1].split()
    # short and empty docs produce exactly one chunk
    assert len(by_doc[2]) == 1 and by_doc[2][0].n_tokens == 3
    assert len(by_doc[3]) == 1
    assert len(by_doc[4]) == 1


def test_redact_pii_and_counts(spark):
    from finance_reporting_etl_spark.functions import text as tx

    df = spark.createDataFrame(
        [
            (1, "mail a@b.com or c.d+x@e.org, host 10.0.0.1, call +1 (555) 010-1234"),
            (2, "no pii here at all"),
        ],
        "id long, text string",
    )
    out = df.select(
        "id",
        tx.pii_count("text", "email").alias("e"),
        tx.pii_count("text", "ipv4").alias("i"),
        tx.pii_count("text", "phone").alias("p"),
        tx.redact_pii("text").alias("r"),
    ).collect()
    r1 = {row["id"]: row for row in out}
    assert (r1[1]["e"], r1[1]["i"], r1[1]["p"]) == (2, 1, 1)
    assert r1[1]["r"] == "mail <EMAIL> or <EMAIL>, host <IP>, call <PHONE>"
    assert (r1[2]["e"], r1[2]["i"], r1[2]["p"]) == (0, 0, 0)
    assert r1[2]["r"] == "no pii here at all"


def test_repetition_metrics_known_values(spark):
    from finance_reporting_etl_spark.functions import text as tx

    df = spark.createDataFrame(
        [(1, "a b a b a b"), (2, "all tokens here differ fully"), (3, "x")],
        "id long, text string",
    )
    got = {
        r["id"]: r
        for r in df.select(
            "id",
            tx.type_token_ratio("text").alias("ttr"),
            tx.top_ngram_fraction("text", 2).alias("top2"),
        ).collect()
    }
    # "a b a b a b": 6 tokens, 2 distinct; bigrams [ab,ba,ab,ba,ab] -> top 3/5
    assert got[1]["ttr"] == pytest.approx(2 / 6, abs=1e-4)
    assert got[1]["top2"] == pytest.approx(3 / 5, abs=1e-4)
    assert got[2]["ttr"] == 1.0
    assert got[2]["top2"] == pytest.approx(1 / 4, abs=1e-4)
    assert got[3]["top2"] is None  # < n tokens -> empty gram set


def test_vocabulary_topk_deterministic_ties(spark):
    from finance_reporting_etl_spark.operators.corpus import vocabulary

    df = spark.createDataFrame(
        [(1, "b a c a B c"), (2, "c d")], "id long, text string"
    )
    rows = vocabulary(df, "text", k=3).collect()
    assert [(r["token"], r["n_occurrences"]) for r in rows] == [
        ("c", 3), ("a", 2), ("b", 2),
    ]


def test_ngram_decontaminate_flags_overlap(spark):
    from finance_reporting_etl_spark.operators.corpus import ngram_decontaminate

    bench = spark.createDataFrame(
        [(100, "the secret benchmark answer sequence here")], "doc_id long, text string"
    )
    train = spark.createDataFrame(
        [
            (1, "prefix the secret benchmark answer trailer"),  # shares one 4-gram
            (2, "entirely clean document with novel words"),
            (3, "the secret benchmark answer sequence here copied fully"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["n_contaminated_grams"] for r in ngram_decontaminate(train, bench, n=4).collect()}
    assert got[1] == 1
    assert 2 not in got
    assert got[3] == 3  # all three benchmark 4-grams appear


def test_kmeans_recovers_blobs_and_is_deterministic(spark):
    import numpy as np
    from finance_reporting_etl_spark.operators.clustering import kmeans

    rng = np.random.default_rng(0)
    centers = np.array([[10.0, 0.0], [0.0, 10.0], [-10.0, -10.0]])
    rows = []
    for i in range(90):
        c = i % 3
        v = centers[c] + rng.normal(0, 0.3, 2)
        rows.append((i, [float(v[0]), float(v[1])]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    a1, c1 = kmeans(df, k=3, iters=5)
    got1 = {r["vec_id"]: r["cluster"] for r in a1.collect()}
    # every blob lands in exactly one k-means cluster
    for blob in range(3):
        labels = {got1[i] for i in range(90) if i % 3 == blob}
        assert len(labels) == 1
    # distinct blobs -> distinct clusters
    assert len({next(iter({got1[i] for i in range(90) if i % 3 == b})) for b in range(3)}) == 3
    # deterministic across reruns
    a2, c2 = kmeans(df, k=3, iters=5)
    assert {r["vec_id"]: r["cluster"] for r in a2.collect()} == got1
    assert np.array_equal(c1, c2)


def test_kmeans_inertia_decreases(spark):
    import numpy as np
    from finance_reporting_etl_spark.operators.clustering import kmeans

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

    def inertia(iters):
        a, cents = kmeans(emb, k=4, iters=iters)
        rows = a.join(emb, "vec_id").select("cluster", "embedding").collect()
        return sum(
            float(np.sum((np.asarray(r["embedding"], dtype=np.float64) - cents[r["cluster"]]) ** 2))
            for r in rows
        )

    assert inertia(6) <= inertia(1) + 1e-6


def test_chunk_dedup_flags_repeated_chunks(spark):
    from finance_reporting_etl_spark.operators.corpus import chunk_dedup

    base = " ".join(f"w{i}" for i in range(80))
    other = " ".join(f"x{i}" for i in range(80))
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, other)], "doc_id long, text string"
    )
    got = chunk_dedup(df).collect()
    # doc 2's chunks all duplicate doc 1's; doc 3 is clean
    assert got and all(r["doc_id"] == 2 and r["surv_doc"] == 1 for r in got)
    assert {(r["chunk_idx"], r["surv_idx"]) for r in got} == {(0, 0), (1, 1)}


def test_table_diff_empty_on_identical_and_finds_perturbations(spark):
    from finance_reporting_etl_spark.operators.incremental import table_diff

    a = spark.createDataFrame([(1, "x"), (2, "y"), (2, "y"), (3, "z")], "id long, v string")
    assert table_diff(a, a).count() == 0
    b = spark.createDataFrame([(1, "x"), (2, "y"), (4, "w")], "id long, v string")
    got = {(r["side"], r["id"], r["v"], r["n_copies"]) for r in table_diff(a, b).collect()}
    assert got == {("a_only", 2, "y", 1), ("a_only", 3, "z", 1), ("b_only", 4, "w", 1)}


def test_scd2_intervals_collapse_unchanged(spark):
    from finance_reporting_etl_spark.operators.incremental import scd2_intervals

    rows = [
        (1, "a", 1), (1, "a", 2), (1, "b", 3), (1, "a", 4),
        (2, "x", 1),
    ]
    df = spark.createDataFrame(rows, "k long, attr string, t long")
    got = sorted(
        (r["k"], r["attr"], r["valid_from"], r["valid_to"])
        for r in scd2_intervals(df, ["k"], "t", ["attr"]).collect()
    )
    assert got == [
        (1, "a", 1, 3), (1, "a", 4, None), (1, "b", 3, 4),
        (2, "x", 1, None),
    ]


def test_distributed_ntile_matches_global_ntile(spark):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from finance_reporting_etl_spark.operators.ranking import distributed_ntile

    # N=103 (non-divisible), heavy value ties, unique (v, id) sort key
    rows = [(i, float(i % 7)) for i in range(103)]
    df = spark.createDataFrame(rows, "id long, v double")
    got = {
        (r["id"], r["tile"])
        for r in distributed_ntile(df, 10, "v", ["id"], buckets=8).collect()
    }
    w = Window.orderBy("v", "id")
    want = {
        (r["id"], r["t"])
        for r in df.select("id", F.ntile(10).over(w).alias("t")).collect()
    }
    assert got == want


def test_distributed_ntile_fewer_rows_than_tiles(spark):
    from finance_reporting_etl_spark.operators.ranking import distributed_ntile

    df = spark.createDataFrame([(1, 5.0), (2, 1.0), (3, 3.0)], "id long, v double")
    got = sorted(
        (r["tile"], r["id"]) for r in distributed_ntile(df, 10, "v", ["id"]).collect()
    )
    assert got == [(1, 2), (2, 3), (3, 1)]


def test_sorted_write_prunes_row_groups(spark, tmp_path):
    """Zone-map pruning: the same selective filter over the same rows
    must scan far fewer rows from a sort-clustered layout (tight
    per-row-group min/max) than from a shuffled one."""
    from pyspark.sql import functions as F

    from finance_reporting_etl_spark.operators import scale

    df = spark.range(100_000).select(
        F.col("id").alias("k"), (F.col("id") % 997).alias("v")
    )
    unsorted_p, sorted_p = str(tmp_path / "unsorted"), str(tmp_path / "sorted")
    # scatter k across every row group (hash shuffle) for the bad layout
    df.repartition(8, "v").write.option("parquet.block.size", 64 * 1024).parquet(
        unsorted_p
    )
    scale.write_sorted(df, sorted_p, ["k"], n_files=8, row_group_bytes=64 * 1024)

    pred = (F.col("k") >= 50_000) & (F.col("k") < 53_000)
    n_un = spark.read.parquet(unsorted_p).filter(pred).count()
    n_so = spark.read.parquet(sorted_p).filter(pred).count()
    assert n_un == n_so == 3_000  # identical results either way

    scanned_un = scale.scan_output_rows(spark.read.parquet(unsorted_p).filter(pred))
    scanned_so = scale.scan_output_rows(spark.read.parquet(sorted_p).filter(pred))
    # hash layout still reads 10x+ the matching rows (each shuffle task
    # receives ids in order, so some incidental clustering survives —
    # row groups tile rather than fully span the domain); the sorted
    # layout reads only the covering row groups.
    assert scanned_un >= 10 * n_un
    assert scanned_so <= scanned_un / 4
    assert scanned_so < 2.5 * n_so  # tight: a few thousand-row groups


def test_exact_group_quantiles_matches_native_percentile(spark):
    from pyspark.sql import functions as F

    from finance_reporting_etl_spark.operators.ranking import exact_group_quantiles

    # groups of size 1, 2, and 50 (incl. ties) — every interpolation path
    rows = (
        [("one", 42.5)]
        + [("two", 1.0), ("two", 2.0)]
        + [("big", float(i % 13) + 0.25) for i in range(50)]
    )
    df = spark.createDataFrame(rows, "g string, v double")
    qs = {"p25": 0.25, "p50": 0.5, "p90": 0.9, "p100": 1.0}
    got = sorted(
        tuple(r)
        for r in exact_group_quantiles(df, ["g"], "v", qs, scale=6).collect()
    )
    want = sorted(
        tuple(r)
        for r in df.groupBy("g")
        .agg(
            *[
                F.round(F.expr(f"percentile(v, {q})"), 6).alias(name)
                for name, q in qs.items()
            ]
        )
        .collect()
    )
    assert got == want


def test_canned_statement_fetch_roundtrip():
    from finance_reporting_etl_spark.pipeline import (
        canned_statement_fetch,
        canned_statement_payload,
    )

    url = "https://www.alphavantage.co/query?function=BALANCE_SHEET&symbol=MSFT&apikey=demo"
    assert canned_statement_fetch(url) == canned_statement_payload("MSFT", "balance_sheet")


def test_range_join_matches_naive_inequality_join(spark):
    import random

    from pyspark.sql import functions as F

    from finance_reporting_etl_spark.operators.rangejoin import range_join

    rng = random.Random(7)
    pts = [(i, rng.randint(0, 1000)) for i in range(200)]
    ivs = []
    for j in range(60):
        lo = rng.randint(-50, 950)
        ivs.append((j, lo, lo + rng.randint(0, 120)))  # includes empty (hi==lo)
    p = spark.createDataFrame(pts, "pid long, t long")
    iv = spark.createDataFrame(ivs, "iid long, lo long, hi long")
    want = {
        (r["pid"], r["iid"])
        for r in p.crossJoin(iv)
        .where((F.col("t") >= F.col("lo")) & (F.col("t") < F.col("hi")))
        .collect()
    }
    # width narrower than, comparable to, and wider than every interval
    for width in (7, 64, 5000):
        got = {
            (r["pid"], r["iid"])
            for r in range_join(p, iv, "t", "lo", "hi", bucket_width=width).collect()
        }
        assert got == want, f"bucket_width={width}"


def test_shuffle_shard_is_deterministic_total_order(spark):
    from finance_reporting_etl_spark.operators.corpus import shuffle_shard

    df = spark.createDataFrame([(i,) for i in range(300)], "doc_id long")
    a = shuffle_shard(df, shards=8).collect()
    b = shuffle_shard(df.repartition(13), shards=8).collect()
    key = lambda rows: sorted((r["doc_id"], r["shard"], r["position"]) for r in rows)
    assert key(a) == key(b)  # partitioning-independent
    # positions are 1..n_shard_rows within each shard, no gaps
    by_shard = {}
    for r in a:
        by_shard.setdefault(r["shard"], []).append(r["position"])
    for positions in by_shard.values():
        assert sorted(positions) == list(range(1, len(positions) + 1))
    # re-salting produces a different order
    c = shuffle_shard(df, shards=8, salt="epoch2").collect()
    assert key(a) != key(c)


def test_pack_sequences_budget_overflow_bounded(spark):
    from finance_reporting_etl_spark.operators.corpus import pack_sequences

    rows = [(i, " ".join(["w"] * (10 + i % 37))) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    packed = pack_sequences(df, budget=100, shards=4).collect()
    packs = {}
    for r in packed:
        packs.setdefault((r["shard"], r["pack_id"]), []).append(r["n_tokens"])
    for (shard, pack_id), toks in packs.items():
        # next-fit prefix-sum: tokens-before-last-doc < budget, so the
        # pack total overflows by at most one document
        assert sum(toks) - max(toks) < 100
    # every doc packed exactly once
    assert sum(len(v) for v in packs.values()) == 200


def test_score_embeddings_matches_numpy(spark):
    import numpy as np

    from finance_reporting_etl_spark.operators.inference import (
        linear_scorer_weights,
        score_embeddings,
    )

    vecs = [[float(i + j) / 10 for j in range(8)] for i in range(50)]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id long, embedding array<double>"
    )
    got = {r["vec_id"]: r["score"] for r in score_embeddings(df).collect()}
    w = linear_scorer_weights(8)
    for i, v in enumerate(vecs):
        want = 1.0 / (1.0 + np.exp(-(np.asarray(v) @ w)))
        assert abs(got[i] - round(float(want), 6)) < 1e-9


def test_compact_partition_reduces_files_keeps_rows(spark, tmp_path):
    import os

    from finance_reporting_etl_spark.operators.incremental import compact_partition

    base = str(tmp_path / "t")
    df = spark.createDataFrame(
        [("2024-01-01", i, float(i)) for i in range(1000)], "d string, k long, v double"
    )
    # simulate micro-batch appends: many small files in one partition
    for _ in range(6):
        df.repartition(8).write.mode("append").partitionBy("d").parquet(base)
    part = f"{base}/d=2024-01-01"
    before = sum(1 for f in os.listdir(part) if f.endswith(".parquet"))
    assert before >= 48
    n = compact_partition(spark, base, "d", "2024-01-01", target_bytes=1 << 30)
    after = sum(1 for f in os.listdir(part) if f.endswith(".parquet"))
    assert n == after == 1
    assert spark.read.parquet(base).count() == 6000


def test_ivfpq_recall_and_determinism(spark, emb):
    """IVF-PQ: ADC ranking over 16x64 codebooks must still surface true
    euclidean neighbors (the fixture embeddings are unit-norm, so cosine
    and L2 rank identically), and encode/train must be bit-reproducible."""
    qids = list(range(10))
    books = similarity.pq_train_codebooks(emb)
    assert books.shape == (16, 64, 4)
    # training determinism: same sample -> identical codebooks
    assert (books == similarity.pq_train_codebooks(emb)).all()

    index = similarity.pq_index(emb, books)
    probes = similarity.ivf_probes(emb, qids)
    luts = spark.createDataFrame(
        similarity.pq_query_luts(emb, qids, books),
        "query_id long, m int, code int, d2 double",
    )
    approx = similarity.ivfpq_topk_from_tables(index, probes, luts, k=5)
    exact = similarity.brute_force_topk(emb, qids, k=5)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    rows = approx.collect()
    a = {(r.query_id, r.neighbor_id) for r in rows}
    recall = len(e & a) / len(e)
    # PQ only coarsens distances within the probed cells; the IVF floor
    # applies and quantization should not destroy it
    assert recall > 0.25, f"IVF-PQ recall suspiciously low: {recall}"
    # deterministic full-rank output: rerun is identical
    again = similarity.ivfpq_topk_from_tables(index, probes, luts, k=5).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
    # encode determinism across evaluations
    c1 = sorted(map(tuple, index.collect()))
    c2 = sorted(map(tuple, similarity.pq_index(emb, books).collect()))
    assert c1 == c2


def test_cms_sketch_merge_and_overestimate(spark, sf_dir):
    """CMS invariants: (a) est >= exact for every key (one-sided error);
    (b) sketches over disjoint halves merge by cell-wise addition into
    exactly the whole-corpus sketch — the property that makes the
    sketch distributable."""
    from finance_reporting_etl_spark.functions.text import whitespace_tokens
    from finance_reporting_etl_spark.operators import sketches
    from finance_reporting_etl_spark.tables import _read_parquet

    docs = _read_parquet(spark, f"{sf_dir}/documents.parquet")
    toks = docs.select(
        F.col("doc_id"), F.explode(whitespace_tokens(F.lower(F.col("text")))).alias("token")
    )
    tc = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    cells = sketches.cms_placements(tc)
    sketch = sketches.cms_cell_counts(tc, cells)
    est = {r.token: r.est_count for r in sketches.cms_estimates(cells, sketch).collect()}
    exact = {r.token: r.cnt for r in tc.collect()}
    assert set(est) == set(exact)
    assert all(est[t] >= exact[t] for t in exact)
    # merge: half-sketches add cell-wise to the full sketch
    halves = [
        toks.filter((F.col("doc_id") % 2) == i)
        .groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
        for i in (0, 1)
    ]
    merged = (
        sketches.cms_cell_counts(halves[0], cells)
        .unionByName(sketches.cms_cell_counts(halves[1], cells))
        .groupBy("d", "col").agg(F.sum("cell_cnt").alias("cell_cnt"))
    )
    a = {(r.d, r.col): r.cell_cnt for r in sketch.collect()}
    b = {(r.d, r.col): r.cell_cnt for r in merged.collect()}
    assert a == b


def test_zorder_write_prunes_both_columns(spark, tmp_path):
    """Morton layout: selective filters on EITHER interleaved column
    must prune row groups, where a single-column sort only prunes its
    own column. Uses a 256x256 uniform grid so both dimensions matter."""
    from pyspark.sql import functions as F

    from finance_reporting_etl_spark.operators import scale

    n = 1 << 16
    df = spark.range(n).select(
        # bit-reversed pairing decorrelates x and y so neither sort
        # order accidentally clusters the other column
        (F.col("id") % 256).alias("x"),
        F.pmod(F.xxhash64("id"), F.lit(256)).alias("y"),
        F.col("id").alias("payload"),
    )
    sorted_p, z_p = str(tmp_path / "xsorted"), str(tmp_path / "zorder")
    scale.write_sorted(df, sorted_p, ["x"], n_files=4, row_group_bytes=48 * 1024)
    scale.write_zordered(df, z_p, "x", "y", bits=8, n_files=4, row_group_bytes=48 * 1024)

    pred_x = (F.col("x") >= 16) & (F.col("x") < 32)
    pred_y = (F.col("y") >= 16) & (F.col("y") < 32)
    for p in (sorted_p, z_p):  # identical results under both layouts
        got = spark.read.parquet(p)
        assert got.filter(pred_x).count() == df.filter(pred_x).count()
        assert got.filter(pred_y).count() == df.filter(pred_y).count()

    sx = scale.scan_output_rows(spark.read.parquet(sorted_p).filter(pred_x))
    sy = scale.scan_output_rows(spark.read.parquet(sorted_p).filter(pred_y))
    zx = scale.scan_output_rows(spark.read.parquet(z_p).filter(pred_x))
    zy = scale.scan_output_rows(spark.read.parquet(z_p).filter(pred_y))
    match = df.filter(pred_x).count()
    # x-sorted layout: near-perfect on x, useless on y (reads ~all rows)
    assert sx < 4 * match
    assert sy > n // 2
    # z-ordered: both columns prune meaningfully (each row group covers
    # a small square); neither is as tight as a dedicated sort, but y
    # improves by multiples over the x-sorted layout
    assert zx < sy / 2
    assert zy < sy / 2
    # absolute bound is loose on purpose: parquet flushes row groups on
    # an in-memory size estimate, so group boundaries (and thus zone-map
    # tightness) shift run-to-run — the comparative claims above are the
    # real guarantee
    assert max(zx, zy) < n // 2


def test_asof_forward_strict_and_tiebreak(spark):
    """Forward as-of edge cases: strictly-after (equal-ts right row is
    invisible), nearest following wins, lowest tiebreak wins among
    equal-ts rights, and no-following-row -> NULLs."""
    from finance_reporting_etl_spark.operators.asof import asof_join_forward

    left = spark.createDataFrame(
        [(1, 10, 100), (1, 20, 101), (2, 5, 102)], "k long, ts long, lid long"
    )
    right = spark.createDataFrame(
        [(1, 10, 900), (1, 12, 901), (1, 12, 902), (1, 15, 903)],
        "k long, ts long, rid long",
    )
    out = {
        r.lid: (r.ts_r, r.rid_r)
        for r in asof_join_forward(
            left, right, ["k"], right_cols=["rid"], tiebreak="rid"
        ).collect()
    }
    # ts=10 right row excluded (strict >): nearest following is ts=12,
    # and among the two ts=12 rows the lowest tiebreak (901) wins
    assert out[100] == (12, 901)
    # ts=20 has no following right row -> NULLs
    assert out[101] == (None, None)
    # key 2 has no right rows at all -> NULLs
    assert out[102] == (None, None)


def test_union_find_fast_path_equals_distributed(spark):
    """near_dup_clusters must produce identical components from the
    driver union-find fast path and the distributed propagation loop
    (force the latter with small_graph_edges=0), including chains that
    need pointer-jumping and isolated nodes."""
    from finance_reporting_etl_spark.operators.dedup import near_dup_clusters

    # two cliques, one long chain (exercises the jump), isolated nodes
    e = [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23), (23, 24), (24, 25)]
    edges = spark.createDataFrame(e, "id_a long, id_b long")
    nodes = spark.createDataFrame([(i,) for i in [*range(1, 4), 10, 11, *range(20, 26), 99, 100]], "id long")
    fast = sorted(map(tuple, near_dup_clusters(edges, nodes).collect()))
    dist = sorted(map(tuple, near_dup_clusters(edges, nodes, small_graph_edges=0).collect()))
    assert fast == dist
    m = dict(fast)
    assert m[3] == 1 and m[11] == 10 and m[25] == 20 and m[99] == 99


def test_mergeable_distinct_rollups(spark):
    """Daily sketch tables must re-aggregate EXACTLY (bitmap) or within
    the documented bound (HLL) at ANY coarser grain, without touching
    raw events again — including the all-time grain, which no catalog
    query exercises."""
    from pyspark.sql import functions as F

    from finance_reporting_etl_spark.operators.distinct import (
        bitmap_daily,
        bitmap_rollup,
        hll_daily,
        hll_rollup,
    )
    from tests.conftest import SF_SMOKE

    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    exact_all = {
        r.event_type: r.n
        for r in ev.groupBy("event_type").agg(F.count_distinct("user_id").alias("n")).collect()
    }

    bm = bitmap_rollup(bitmap_daily(ev), F.lit("all").cast("string"))
    got = {r.event_type: r.n_distinct for r in bm.collect()}
    assert got == exact_all  # bitmap merge is lossless at every grain

    hll = hll_rollup(hll_daily(ev), F.lit("all").cast("string"))
    for r in hll.collect():
        exact = exact_all[r.event_type]
        assert abs(r.n_distinct_est - exact) / exact <= 0.05, (r.event_type, r.n_distinct_est, exact)


def test_hll_rollup_flags_all_true(spark):
    """The catalog query's within_5pct accuracy flag must actually hold
    (the oracle only proves both engines AGREE on the flag)."""
    from finance_reporting_etl_spark.queries import CATALOG
    from tests.conftest import SF_SMOKE

    df = CATALOG["hll_distinct_rollup"].fn(spark, SF_SMOKE)
    assert df.filter("NOT within_5pct").count() == 0


def test_random_projection_distortion_and_containment(spark, emb):
    """The JL guarantee itself: projected cosine must track exact cosine
    within ~3/sqrt(d_out) on sampled pairs, and projected top-5 must
    mostly come from the exact top-50 (search utility on THIS data,
    whose exact score gaps are small — see PLANS.md)."""
    import numpy as np

    from finance_reporting_etl_spark.operators.similarity import (
        brute_force_topk,
        project_vectors,
        rademacher_matrix,
        random_projection_topk,
    )

    rows = emb.filter(F.col("vec_id") < 60).select("vec_id", "embedding").collect()
    vecs = {r.vec_id: np.asarray(r.embedding, dtype=np.float64) for r in rows}
    mat = rademacher_matrix(64, 32)

    def cos(a, b):
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

    errs = [
        abs(cos(vecs[a], vecs[b]) - cos(vecs[a] @ mat, vecs[b] @ mat))
        for a in range(10)
        for b in range(10, 60)
    ]
    bound = 3.0 / np.sqrt(32)
    assert np.quantile(errs, 0.95) < bound, (max(errs), bound)

    exact50 = brute_force_topk(emb, list(range(10)), k=50)
    approx = random_projection_topk(
        project_vectors(emb, mat), list(range(10)), k=5
    )
    e = {(r.query_id, r.neighbor_id) for r in exact50.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    containment = len(a & e) / len(a)
    assert containment >= 0.4, containment


def test_histogram_quantile_accuracy_and_merge(spark):
    """p50/p90 from the merged histogram must sit within one bin width
    of the exact percentile (dense regions — the sketch's guarantee),
    and the day->all-time merge must equal an all-time histogram built
    directly (additivity at a grain no catalog query uses)."""
    from pyspark.sql import functions as F

    from finance_reporting_etl_spark.operators.sketches import (
        histogram_quantiles,
        histogram_rollup,
        value_histogram,
    )
    from finance_reporting_etl_spark.tables import _read_parquet
    from tests.conftest import SF_SMOKE

    ev = _read_parquet(spark, f"{SF_SMOKE}/events.parquet")
    daily = value_histogram(ev)
    alltime = histogram_rollup(daily, F.lit("all"))
    est = {
        (r.event_type, r.p): r.est
        for r in histogram_quantiles(alltime, ps=(0.5, 0.9)).collect()
    }
    exact = {
        (r.event_type, p): v
        for r in ev.groupBy("event_type")
        .agg(F.expr("percentile(value, array(0.5, 0.9))").alias("q"))
        .collect()
        for p, v in zip((0.5, 0.9), r.q)
    }
    for k, e in est.items():
        assert abs(e - exact[k]) <= 4.0 + 1e-6, (k, e, exact[k])

    # additivity: day-merged == built directly from raw at the same grain
    direct = (
        ev.select(F.lit("all").alias("grain"), "event_type",
                  F.least(F.greatest(F.floor(F.col("value") / 4.0), F.lit(0)), F.lit(255))
                  .cast("int").alias("bin"))
        .groupBy("grain", "event_type", "bin").agg(F.count(F.lit(1)).alias("cnt"))
    )
    a = sorted(map(tuple, alltime.collect()))
    b = sorted(map(tuple, direct.collect()))
    assert a == b


def test_entity_resolution_blocking_is_recall_complete(spark):
    """Every corrupted record must resolve (the tail-4 block never
    loses the true match for padding-region deletions) and every
    winner must sit at distance 1 — so any incorrect link would be a
    genuine ambiguity tie, never a blocking miss."""
    from finance_reporting_etl_spark.queries import CATALOG
    from finance_reporting_etl_spark.tables import _read_parquet
    from tests.conftest import SF_SMOKE

    n_cust = _read_parquet(spark, f"{SF_SMOKE}/customer.parquet").count()
    df = CATALOG["entity_resolution_blocked"].fn(spark, SF_SMOKE)
    rows = df.collect()
    assert len(rows) == n_cust  # every query matched something
    assert all(r.distance == 1 for r in rows)
    acc = sum(1 for r in rows if r.correct) / len(rows)
    assert acc >= 0.95, acc


def test_pagerank_star_graph_analytic_fixpoint(spark):
    """On a symmetrized star graph the damped PageRank fixpoint is
    closed-form: center = (1-d)/n + d*k*leaf_share, every leaf equal.
    30 iterations must converge to it within 1e-6 (scaled by n)."""
    from finance_reporting_etl_spark.operators.graph import pagerank

    k = 5  # leaves
    n = k + 1
    d = 0.85
    edges = [(0, i) for i in range(1, n)] + [(i, 0) for i in range(1, n)]
    e = spark.createDataFrame(edges, "src long, dst long")
    # convergence factor is d^2 per round-trip; 80 iters -> ~1e-6 error
    got = {r.id: r.rank for r in pagerank(e, damping=d, iters=80, checkpoint_every=8).collect()}
    # fixpoint: c = (1-d)/n + d*k*l ; l = (1-d)/n + d*c/k
    # => c = (1-d)/n * (1 + d*k) / (1 - d^2)
    c = ((1 - d) / n * (1 + d * k)) / (1 - d * d)
    l = (1 - d) / n + d * c / k
    assert abs(got[0] - c * n) < 1e-4, (got[0], c * n)
    for i in range(1, n):
        assert abs(got[i] - l * n) < 1e-4


def test_triangle_counts_known_graphs(spark):
    """K4 (every node in 3 triangles), a square with one diagonal
    (diagonal nodes in 2, others in 1), and a triangle-free path."""
    from finance_reporting_etl_spark.operators.graph import triangle_counts

    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    got = {r.id: r.n_triangles for r in triangle_counts(
        spark.createDataFrame(k4, "id_a long, id_b long")).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}

    square_diag = [(10, 11), (11, 12), (12, 13), (10, 13), (10, 12)]
    got = {r.id: r.n_triangles for r in triangle_counts(
        spark.createDataFrame(square_diag, "id_a long, id_b long")).collect()}
    assert got == {10: 2, 12: 2, 11: 1, 13: 1}

    path = [(20, 21), (21, 22), (22, 23)]
    assert triangle_counts(
        spark.createDataFrame(path, "id_a long, id_b long")).count() == 0


def test_interval_join_plan_boundaries(spark):
    """(left_ts, left_ts + delay] bounds: equal-ts right row excluded,
    exactly-at-delay row included, beyond-delay excluded, key must
    match."""
    from finance_reporting_etl_spark.streaming.joins import interval_join_plan

    L = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00")], "user_id long, view_ts_s string"
    ).selectExpr("user_id", "CAST(view_ts_s AS TIMESTAMP) AS view_ts")
    R = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00"),  # equal: excluded (strict >)
            (1, "2024-01-02 00:00:00"),  # exactly +1 day: included (<=)
            (1, "2024-01-02 00:00:01"),  # beyond: excluded
            (2, "2024-01-01 12:00:00"),  # wrong key
        ],
        "user_id long, purchase_ts_s string",
    ).selectExpr("user_id", "CAST(purchase_ts_s AS TIMESTAMP) AS purchase_ts")
    out = interval_join_plan(L, R, "user_id", "view_ts", "purchase_ts", "1 DAY").collect()
    assert len(out) == 1 and str(out[0].purchase_ts) == "2024-01-02 00:00:00"


def test_weighted_pagerank_uniform_weights_equals_unweighted(spark):
    """pagerank is the w=1 special case of pagerank_weighted — with
    uniform weights both must converge to identical ranks (star +
    chain graph, both directions symmetrized)."""
    from finance_reporting_etl_spark.operators.graph import pagerank, pagerank_weighted
    from pyspark.sql import functions as F

    und = [(0, 1), (0, 2), (0, 3), (3, 4), (4, 5)]
    edges = und + [(b, a) for a, b in und]
    e = spark.createDataFrame(edges, "src long, dst long")
    ew = e.withColumn("w", F.lit(1.0))
    u = {r.id: r.rank for r in pagerank(e, iters=20).collect()}
    w = {r.id: r.rank for r in pagerank_weighted(ew, iters=20).collect()}
    assert set(u) == set(w)
    for k in u:
        assert abs(u[k] - w[k]) < 1e-12, (k, u[k], w[k])


def test_bfs_distances_path_graph(spark):
    """BFS on a directed path 1->2->3->4->5 from source {1}: exact hop
    counts, max_hops cap excludes node 5, unreached node 9 absent."""
    from finance_reporting_etl_spark.operators.graph import bfs_distances

    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (8, 9)], "src bigint, dst bigint"
    )
    src = spark.createDataFrame([(1,)], "id bigint")
    got = {r.id: r.dist for r in bfs_distances(e, src, max_hops=3).collect()}
    assert got == {1: 0, 2: 1, 3: 2, 4: 3}


def test_bfs_distances_takes_min_over_sources(spark):
    """Two sources, shared frontier: each node settles at the nearer
    source's distance; revisits never relabel."""
    from finance_reporting_etl_spark.operators.graph import bfs_distances

    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 4), (4, 3)], "src bigint, dst bigint"
    )
    src = spark.createDataFrame([(1,), (10,)], "id bigint")
    got = {r.id: r.dist for r in bfs_distances(e, src, max_hops=4).collect()}
    assert got == {1: 0, 10: 0, 2: 1, 4: 1, 3: 2}


def test_bm25_long_doc_discounted(spark):
    """Two docs with one 'merge' hit each: the shorter doc must rank
    first (length normalization), and a term-spamming doc must not
    scale linearly (saturation: score(10 hits) < 10 x score(1 hit))."""
    from finance_reporting_etl_spark.operators.corpus import bm25_search

    rows = [
        (1, "merge " + "x " * 5),
        (2, "merge " + "x " * 50),
        (3, ("merge " * 10) + "x " * 5),
        (4, "nothing here"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r.doc_id: (r.score, r.rank) for r in bm25_search(df, ["merge"], k=10).collect()}
    assert 4 not in out  # OR search still requires >= 1 term
    assert out[1][0] > out[2][0]  # shorter doc wins at equal tf
    assert out[3][0] < 10 * out[1][0]  # tf saturates
    assert out[3][1] == 1  # but more hits still rank higher


def test_winsorized_stats_clip_bounds_are_order_statistics(spark):
    """The p99 cut must be the exact nearest-rank order statistic, and
    the winsorized mean must be pulled toward the median vs the raw
    mean when a huge outlier is present."""
    from finance_reporting_etl_spark.queries import CATALOG  # noqa: F401 - shape via catalog
    from pyspark.sql import functions as F  # noqa: F401

    import finance_reporting_etl_spark.queries as Q

    rows = [(i, "t", float(i)) for i in range(1, 100)] + [(100, "t", 1_000_000.0)]
    df = spark.createDataFrame(rows, "event_id bigint, event_type string, value double")
    # drive the catalog fn through a temp dir shaped like a fixture
    # (single parquet FILE per table, like /root/testdata)
    import tempfile, shutil, os
    d = tempfile.mkdtemp(prefix="winsor_")
    try:
        df.toPandas().to_parquet(os.path.join(d, "events.parquet"))
        out = Q.CATALOG["winsorized_value_stats"].fn(spark, d).collect()
        assert len(out) == 1
        r = out[0]
        # nearest-rank p99 of 100 rows is the 99th value = 99.0
        assert r.hi_cut == 99.0 and r.lo_cut == 1.0
        assert r.mean_winsor < r.mean_raw
        assert abs(r.mean_winsor - (sum(range(1, 100)) + 99.0) / 100.0) < 1e-6
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_span_dedup_rewrite_removes_later_occurrences(spark):
    """A 32-token span repeated across two docs survives only in the
    earlier doc; unique spans all survive; reassembly preserves span
    order."""
    import os
    import shutil
    import tempfile

    import finance_reporting_etl_spark.queries as Q

    span_a = " ".join(f"a{i}" for i in range(32))
    span_b = " ".join(f"b{i}" for i in range(32))
    span_c = " ".join(f"c{i}" for i in range(32))
    df = spark.createDataFrame(
        [(1, span_a + " " + span_b), (2, span_c + " " + span_a)],
        "doc_id bigint, text string",
    )
    d = tempfile.mkdtemp(prefix="span_")
    try:
        df.toPandas().to_parquet(os.path.join(d, "documents.parquet"))
        out = {r.doc_id: r for r in Q.CATALOG["span_dedup_rewrite"].fn(spark, d).collect()}
        assert out[1].n_chunks == 2 and out[1].n_kept == 2
        assert out[1].clean_text == span_a + " " + span_b
        # doc 2's copy of span_a is the later occurrence -> dropped
        assert out[2].n_chunks == 2 and out[2].n_kept == 1
        assert out[2].clean_text == span_c
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_hof_cosine_matches_numpy(spark):
    """Declarative higher-order-function cosine (zip_with + aggregate,
    pure Catalyst — no Python at eval time) must match numpy. The
    production similarity ops use Arrow-batched matmuls instead
    (measured faster at scale); this pins the HOF surface itself."""
    import numpy as np
    from pyspark.sql import functions as F

    rows = [
        (1, [1.0, 2.0, 3.0], [4.0, 5.0, 6.0]),
        (2, [1.0, 0.0], [0.0, 1.0]),
        (3, [2.0, 0.0], [2.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "id bigint, a array<double>, b array<double>")
    dot = F.aggregate(
        F.zip_with("a", "b", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    norm = lambda c: F.sqrt(F.aggregate(c, F.lit(0.0), lambda acc, v: acc + v * v))  # noqa: E731
    got = {
        r.id: r.cos
        for r in df.select(
            "id", (dot / (norm(F.col("a")) * norm(F.col("b")))).alias("cos")
        ).collect()
    }
    for i, a, b in rows:
        a, b = np.array(a), np.array(b)
        want = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        assert abs(got[i] - want) < 1e-12


def test_asof_cogroup_handles_empty_sides(spark):
    """Keys with only-left rows attach nulls; keys with only-right rows
    emit nothing; equal timestamps resolve to the highest tiebreak —
    same contract as the window-form asof_join."""
    from finance_reporting_etl_spark.operators.asof import asof_join, asof_join_cogroup

    left = spark.createDataFrame(
        [(1, 10, 100), (2, 5, 200)], "k bigint, ts bigint, ev bigint"
    )
    right = spark.createDataFrame(
        [(1, 10, 7), (1, 10, 9), (1, 3, 1), (3, 1, 5)],
        "k bigint, ts bigint, rid bigint",
    )
    kwargs = dict(on=["k"], right_cols=["rid"], tiebreak="rid")
    a = sorted(map(tuple, asof_join(left, right, **kwargs).collect()))
    b = sorted(map(tuple, asof_join_cogroup(left, right, **kwargs).collect()))
    assert a == b
    got = {r.k: (r.ts_r, r.rid_r) for r in asof_join_cogroup(left, right, **kwargs).collect()}
    assert got[1] == (10, 9)  # inclusive match, max-tiebreak among equal ts
    assert got[2] == (None, None)  # no right rows for key 2
    assert 3 not in got  # right-only key emits nothing


def test_forget_keys_rewrites_only_affected_partitions(spark, tmp_path):
    """Right-to-be-forgotten: the subjects' rows vanish, only the
    partitions that contained them are rewritten, and untouched
    partitions keep their files byte-for-byte (same file names)."""
    import os

    from pyspark.sql import functions as F

    from finance_reporting_etl_spark.operators.incremental import forget_keys

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(d, u, int(d[1]) * 10 + u) for d in ("d1", "d2", "d3") for u in (1, 2, 3)],
        "day string, user_id bigint, v bigint",
    )
    df.write.partitionBy("day").parquet(path)
    # user 9 only exists nowhere; user 1 exists in every partition ->
    # rewrite all; instead forget a user present in d1 only
    extra = spark.createDataFrame([("d1", 99, 0)], "day string, user_id bigint, v bigint")
    extra.write.mode("append").partitionBy("day").parquet(path)

    def files(day):
        d = os.path.join(path, f"day={day}")
        return sorted(f for f in os.listdir(d) if f.endswith(".parquet"))

    before_d2 = files("d2")
    n = forget_keys(spark, path, "day", "user_id", [99])
    assert n == 1  # only d1 contained user 99
    back = spark.read.parquet(path)
    assert back.filter(F.col("user_id") == 99).count() == 0
    assert back.count() == 9  # everyone else survives
    assert files("d2") == before_d2  # untouched partition: same files
    # forgetting an absent key rewrites nothing
    assert forget_keys(spark, path, "day", "user_id", [12345]) == 0


def test_distributed_cumsum_equals_global_window(spark):
    """The bucketed prefix sum must equal the naive global-window
    running total exactly, including duplicate keys resolved by the
    tiebreak."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from finance_reporting_etl_spark.operators.ranking import distributed_cumsum

    rng = random.Random(7)
    rows = [(i, rng.randint(0, 50), rng.randint(1, 1000)) for i in range(5000)]
    df = spark.createDataFrame(rows, "id bigint, k bigint, v bigint").repartition(16)
    got = {
        r.id: r.cum
        for r in distributed_cumsum(
            df, sum_col="v", key_col="k", tiebreak_cols=["id"], buckets=16
        ).collect()
    }
    w = Window.orderBy("k", "id").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    want = {r.id: r.cum for r in df.withColumn("cum", F.sum("v").over(w)).collect()}
    assert got == want


def test_distributed_cumsum_plan_has_no_single_partition(spark):
    """The whole point: the running total must not plan a
    SinglePartition exchange (the window is bucket-partitioned)."""
    from pyspark.sql import functions as F

    from finance_reporting_etl_spark.operators.ranking import distributed_cumsum

    df = spark.range(1000).select(
        F.col("id"), (F.col("id") % 97).alias("k"), F.lit(1).cast("bigint").alias("v")
    )
    out = distributed_cumsum(df, sum_col="v", key_col="k", tiebreak_cols=["id"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan, plan


def test_business_day_closed_form_matches_python(spark):
    """The anchored weekday-count formula must agree with a literal
    Python weekday walk across month/year boundaries and weekends."""
    import datetime as dt

    from pyspark.sql import functions as F

    pairs = [
        ("2023-12-29", "2024-01-02"),  # Fri -> Tue over New Year
        ("2024-02-05", "2024-02-05"),  # same Monday
        ("2024-02-03", "2024-02-04"),  # Sat -> Sun
        ("2024-01-01", "2024-03-15"),
        ("1995-06-02", "1995-06-12"),
    ]
    df = spark.createDataFrame(pairs, "a string, b string").select(
        F.col("a").cast("date").alias("a"), F.col("b").cast("date").alias("b")
    )

    def f(col):
        days = f"datediff({col}, DATE'1970-01-05')"
        return f"(5 * ({days} div 7) + least({days} % 7, 5))"

    got = [r.bd for r in df.select(F.expr(f"{f('b')} - {f('a')}").alias("bd")).collect()]

    def weekdays_between(a, b):
        a = dt.date.fromisoformat(a)
        b = dt.date.fromisoformat(b)
        n, d = 0, a
        while d < b:
            if d.weekday() < 5:
                n += 1
            d += dt.timedelta(days=1)
        return n

    want = [weekdays_between(a, b) for a, b in pairs]
    assert got == want


def test_decision_stump_finds_perfect_split(spark, tmp_path):
    """A hand-built table with a perfectly separating quantity
    threshold: the stump must rank that split first with the full
    parent impurity as its gain."""
    import os

    import finance_reporting_etl_spark.queries as Q

    # quantity <= 2 -> never returned; quantity >= 3 -> always returned
    rows = [(i, 1 + (i % 2), 0.05, "N") for i in range(8)] + [
        (100 + i, 3 + (i % 2), 0.05, "R") for i in range(8)
    ]
    import pandas as pd

    pdf = pd.DataFrame(
        rows, columns=["l_orderkey", "l_quantity", "l_discount", "l_returnflag"]
    )
    d = str(tmp_path)
    pdf.to_parquet(os.path.join(d, "lineitem.parquet"))
    out = Q.CATALOG["decision_stump_train"].fn(spark, d).collect()
    best = out[0]
    assert best.rank == 1
    assert best.feature == "quantity" and best.thr == 2.0
    # balanced 50/50 labels: parent gini = 0.5, children pure -> gain 0.5
    assert abs(best.gini_gain - 0.5) < 1e-9
    # discount is constant -> it can never appear as a valid split
    assert all(r.feature == "quantity" for r in out)


def test_rolling_correlation_perfect_and_inverse(spark, tmp_path):
    """Hand-built series: y = 2x gives corr +1; y = -x + c gives -1;
    warm-up days (fewer than 14 prior rows) must not emit."""
    import datetime as dt
    import os

    import pandas as pd

    import finance_reporting_etl_spark.queries as Q

    rows = []
    base = dt.datetime(2024, 1, 1)
    for i in range(20):
        ts = base + dt.timedelta(days=i)
        x = 10.0 + i  # purchase revenue, strictly increasing
        rows.append((2 * i, ts, 1, "purchase", x))
        rows.append((2 * i + 1, ts, 1, "view", 2 * x))  # perfectly correlated
    pdf = pd.DataFrame(rows, columns=["event_id", "ts", "user_id", "event_type", "value"])
    d = str(tmp_path)
    pdf.to_parquet(os.path.join(d, "events.parquet"))
    out = {r.day: r.corr14 for r in Q.CATALOG["rolling_correlation_series"].fn(spark, d).collect()}
    assert len(out) == 7  # 20 days - 13 warm-up
    assert all(abs(v - 1.0) < 1e-9 for v in out.values())


def test_wilson_interval_matches_reference_values(spark, tmp_path):
    """Wilson 95% bounds against independently computed values
    (z=1.96): 10/40 converted -> [0.1408, 0.4040] (4dp)."""
    import os

    import pandas as pd

    import finance_reporting_etl_spark.queries as Q

    # construct users whose md5-based arm we don't control; instead
    # verify the interval math on whatever arms result by recomputing
    # in python from the emitted counts
    rows = []
    for u in range(80):
        rows.append((u * 2, pd.Timestamp("2024-01-01"), u, "view", 1.0))
        if u % 4 == 0:
            rows.append((u * 2 + 1, pd.Timestamp("2024-01-02"), u, "purchase", 1.0))
    pdf = pd.DataFrame(rows, columns=["event_id", "ts", "user_id", "event_type", "value"])
    d = str(tmp_path)
    pdf.to_parquet(os.path.join(d, "events.parquet"))
    out = Q.CATALOG["ab_test_conversion_lift"].fn(spark, d).collect()
    import math

    z = 1.96
    for r in out:
        n, c = r.n_users, r.n_converted
        p = c / n
        denom = 1 + z * z / n
        center = p + z * z / (2 * n)
        half = z * math.sqrt(p * (1 - p) / n + z * z / (4 * n * n))
        assert abs(r.wilson_lo - (center - half) / denom) < 1e-4
        assert abs(r.wilson_hi - (center + half) / denom) < 1e-4
        assert r.wilson_lo <= r.rate <= r.wilson_hi
    assert {r.arm for r in out} == {"A", "B"}


def test_trading_day_rollup_dst_boundaries(spark, tmp_path):
    """Events straddling UTC midnight and the US DST spring-forward
    must land on the correct New York trading day (EST -5 before
    2024-03-10 02:00 local, EDT -4 after)."""
    import os

    import pandas as pd

    import finance_reporting_etl_spark.queries as Q

    rows = [
        # 01:00 UTC Jan 2 == 20:00 NY Jan 1 (EST, -5)
        (1, pd.Timestamp("2024-01-02 01:00:00"), 1, "view", 1.00),
        # 12:00 UTC Jan 2 == 07:00 NY Jan 2
        (2, pd.Timestamp("2024-01-02 12:00:00"), 1, "view", 1.00),
        # 05:30 UTC Mar 10 == 00:30 NY Mar 10 (still EST)
        (3, pd.Timestamp("2024-03-10 05:30:00"), 1, "view", 1.00),
        # 03:00 UTC Mar 11 == 23:00 NY Mar 10 (EDT, -4 after spring-forward)
        (4, pd.Timestamp("2024-03-11 03:00:00"), 1, "view", 1.00),
        # 05:00 UTC Mar 11 == 01:00 NY Mar 11 (EDT)
        (5, pd.Timestamp("2024-03-11 05:00:00"), 1, "view", 1.00),
    ]
    pdf = pd.DataFrame(rows, columns=["event_id", "ts", "user_id", "event_type", "value"])
    d = str(tmp_path)
    pdf.to_parquet(os.path.join(d, "events.parquet"))
    out = {str(r.trading_day): r.n_events for r in Q.CATALOG["trading_day_rollup"].fn(spark, d).collect()}
    assert out == {"2024-01-01": 1, "2024-01-02": 1, "2024-03-10": 2, "2024-03-11": 1}


def test_clamped_balance_floor_semantics(spark):
    """The floor clamp must engage mid-fold: a big early spend cannot
    drive the balance negative, so later deposits rebuild from 0 (a
    plain prefix sum would give a different, wrong answer)."""
    from finance_reporting_etl_spark.operators.timeseries import (
        clamped_balance_per_key,
    )

    rows = [
        (1, 1, 1, 500),   # +5.00
        (1, 2, 2, -2000), # spend 20.00 -> clamps to 0 (not -15.00)
        (1, 3, 3, 300),   # +3.00 -> 300, NOT -1200
        (2, 1, 4, -100),  # first event is a spend -> 0
    ]
    df = spark.createDataFrame(rows, "user_id bigint, ts bigint, event_id bigint, delta bigint")
    got = {
        r.user_id: r.final_balance
        for r in clamped_balance_per_key(df, "user_id", ["ts", "event_id"], "delta").collect()
    }
    assert got == {1: 300, 2: 0}


def test_mapinarrow_batches_roundtrip(spark):
    """§2.9 mapInArrow surface: transform pyarrow RecordBatches
    directly (zero pandas materialization) — the lowest-overhead
    Python hook for columnar batch logic. Doubling a column through
    Arrow must equal the Catalyst expression."""
    import pyarrow as pa
    from pyspark.sql import functions as F

    df = spark.range(1000).select("id", (F.col("id") % 7).alias("k"))

    def double_k(batches):
        for b in batches:
            yield pa.RecordBatch.from_arrays(
                [b.column("id"), pa.compute.multiply(b.column("k"), 2)],
                names=["id", "k2"],
            )

    got = df.mapInArrow(double_k, schema="id long, k2 long")
    want = df.select("id", (F.col("k") * 2).alias("k2"))
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_interval_union_merges_overlaps(spark, tmp_path):
    """Three overlapping 30-min windows must merge into one covered
    span (no double counting); a distant event opens a second span."""
    import os

    import pandas as pd

    import finance_reporting_etl_spark.queries as Q

    base = pd.Timestamp("2024-01-01 10:00:00")
    rows = [
        (1, base, 1, "view", 1.0),
        (2, base + pd.Timedelta(minutes=10), 1, "view", 1.0),
        (3, base + pd.Timedelta(minutes=20), 1, "view", 1.0),
        (4, base + pd.Timedelta(hours=5), 1, "view", 1.0),
        (5, base, 2, "view", 1.0),
    ]
    pdf = pd.DataFrame(rows, columns=["event_id", "ts", "user_id", "event_type", "value"])
    d = str(tmp_path)
    pdf.to_parquet(os.path.join(d, "events.parquet"))
    out = {r.user_id: (r.n_intervals, r.covered_seconds)
           for r in Q.CATALOG["interval_union_coverage"].fn(spark, d).collect()}
    # user 1: [10:00,10:50) merged (50 min) + [15:00,15:30) = 80 min
    assert out[1] == (2, 80 * 60)
    assert out[2] == (1, 30 * 60)


def test_revenue_bridge_effects_sum_to_delta(spark, tmp_path):
    """volume_effect + value_effect must equal delta_revenue exactly
    for every (series, month) — the bridge identity."""
    import os

    import pandas as pd

    import finance_reporting_etl_spark.queries as Q

    rows = []
    eid = 0
    for month, n, ticket in [(1, 10, 5.00), (2, 14, 6.50), (3, 7, 4.25)]:
        for i in range(n):
            eid += 1
            rows.append((eid, pd.Timestamp(f"2024-{month:02d}-15"), 1, "purchase", ticket))
    pdf = pd.DataFrame(rows, columns=["event_id", "ts", "user_id", "event_type", "value"])
    d = str(tmp_path)
    pdf.to_parquet(os.path.join(d, "events.parquet"))
    out = Q.CATALOG["revenue_bridge_mom"].fn(spark, d).collect()
    assert len(out) == 2
    for r in out:
        assert abs((r.volume_effect + r.value_effect) - r.delta_revenue) < 1e-6
    feb = next(r for r in out if str(r.month).startswith("2024-02"))
    assert abs(feb.delta_revenue - (14 * 6.50 - 10 * 5.00)) < 1e-6
    assert abs(feb.volume_effect - (14 - 10) * 5.00) < 1e-6


def test_depth2_tree_solves_xor(spark):
    """XOR labels (stump-unlearnable: every root gain is 0) must be
    fully separated at depth 2 — each leaf's best split has gain 0.5
    on the OTHER feature."""
    from finance_reporting_etl_spark.operators.ml import train_depth2_tree
    from pyspark.sql import functions as F

    rows = []
    i = 0
    for q in (1.0, 2.0):
        for d in (0.0, 0.1):
            y = int((q == 1.0) != (d == 0.0))
            for _ in range(5):
                i += 1
                rows.append((i, q, d, y))
    df = spark.createDataFrame(rows, "id bigint, q double, d double, y int")
    out = {r.node: r for r in train_depth2_tree(df, {"quantity": "q", "discount": "d"}, "y").collect()}
    assert abs(out["root"].gini_gain) < 1e-9  # XOR: no single split helps
    for leaf in ("L", "R"):
        assert abs(out[leaf].gini_gain - 0.5) < 1e-9  # pure after 2nd split
    # root picked 'discount' (tiebreak: gain desc, feature asc), so both
    # leaves must separate on the complementary feature
    assert out["root"].feature == "discount"
    assert out["L"].feature == out["R"].feature == "quantity"


def test_bagging_members_and_ensemble_perfect_on_separable(spark, tmp_path):
    """Perfectly separable labels (y = quantity > 25): every fold's
    stump and the majority vote must all score accuracy 1.0."""
    import os

    import pandas as pd

    import finance_reporting_etl_spark.queries as Q

    rows = [
        (i, i % 97, float(10 + (i % 40)), 0.05, "R" if (10 + (i % 40)) > 25 else "N")
        for i in range(600)
    ]
    pdf = pd.DataFrame(
        rows,
        columns=["l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_returnflag"],
    )
    d = str(tmp_path)
    pdf.to_parquet(os.path.join(d, "lineitem.parquet"))
    out = {r.model: r for r in Q.CATALOG["stump_bagging_eval"].fn(spark, d).collect()}
    assert set(out) == {"model_0", "model_1", "model_2", "ensemble"}
    for m in out.values():
        assert abs(m.accuracy - 1.0) < 1e-9
    assert out["ensemble"].feature is None and out["ensemble"].thr is None
    assert sum(out[f"model_{k}"].n_train for k in range(3)) == 600


def test_gini_known_distributions(spark, tmp_path):
    """Uniform revenue gives Gini 0; one customer holding almost all
    revenue pushes it toward 1 (exact rank-formula values)."""
    import os

    import pandas as pd

    import finance_reporting_etl_spark.queries as Q

    def run(rows, d):
        pdf = pd.DataFrame(
            rows, columns=["o_orderkey", "o_custkey", "o_orderstatus",
                           "o_totalprice", "o_orderdate", "o_orderpriority"]
        )
        pdf["o_orderdate"] = pd.Timestamp("2024-01-01")
        pdf.to_parquet(os.path.join(d, "orders.parquet"))
        return Q.CATALOG["gini_revenue_concentration"].fn(spark, d).collect()[0]

    import tempfile, shutil
    d1 = tempfile.mkdtemp(prefix="gini_")
    d2 = tempfile.mkdtemp(prefix="gini_")
    try:
        uniform = [(i, i, "F", 100.0, None, "1-URGENT") for i in range(10)]
        r = run(uniform, d1)
        assert r.n_customers == 10 and abs(r.gini) < 1e-9
        skewed = [(i, i, "F", 0.01, None, "1-URGENT") for i in range(9)] + [
            (9, 9, "F", 10000.0, None, "1-URGENT")
        ]
        r2 = run(skewed, d2)
        # rank formula on [0.01 x9, 10000]: G ~ 0.9 - tiny
        assert r2.gini > 0.89
    finally:
        shutil.rmtree(d1, ignore_errors=True)
        shutil.rmtree(d2, ignore_errors=True)


def test_melted_ntile_matches_per_metric_ntile(spark):
    """One-pass multi-metric ntile must equal running distributed_ntile
    separately per metric (and therefore equal SQL ntile) for every
    (metric, row)."""
    import random

    from pyspark.sql import functions as F

    from finance_reporting_etl_spark.operators.ranking import (
        distributed_ntile,
        distributed_ntile_melted,
    )

    rng = random.Random(11)
    rows = [(i, float(rng.randint(0, 500)), float(rng.randint(0, 10))) for i in range(3000)]
    df = spark.createDataFrame(rows, "id bigint, a double, b double").repartition(8)
    melted = df.select("id", F.lit("a").alias("metric"), F.col("a").alias("v")).unionAll(
        df.select("id", F.lit("b").alias("metric"), F.col("b").alias("v"))
    )
    got = {
        (r.metric, r.id): r.tile
        for r in distributed_ntile_melted(
            melted, 4, "metric", "v", ["id"], buckets=16
        ).collect()
    }
    for metric, col in (("a", "a"), ("b", "b")):
        want = {
            r.id: r.tile
            for r in distributed_ntile(df, 4, col, ["id"], buckets=16).collect()
        }
        for i, t in want.items():
            assert got[(metric, i)] == t, (metric, i)


def test_holt_constant_and_trending_series(spark):
    """Constant series: level == the constant, trend == 0, forecasts
    flat. Steadily increasing series: positive trend and
    forecast_7 > forecast_1 > level."""
    from finance_reporting_etl_spark.operators.timeseries import (
        holt_forecast_per_key,
    )

    rows = [("flat", i, 100.0) for i in range(30)] + [
        ("up", i, 100.0 + 5.0 * i) for i in range(30)
    ]
    df = spark.createDataFrame(rows, "k string, day bigint, x double")
    out = {
        r.k: r
        for r in holt_forecast_per_key(
            df, "k", ["day"], "x", alpha=0.3, gamma=0.1
        ).collect()
    }
    assert abs(out["flat"].level - 100.0) < 1e-9
    assert abs(out["flat"].trend) < 1e-9
    assert out["flat"].forecast_7 == out["flat"].forecast_1 == out["flat"].level
    assert out["up"].trend > 1.0
    assert out["up"].level < out["up"].forecast_1 < out["up"].forecast_7


def test_distributed_components_at_crossover_scale(spark):
    """The hybrid crossover taken by SIZE, not by a forced bound of 0:
    a ~36k-edge skewed graph (one 12k-spoke hub star — a single hot
    join key, the worst shuffle skew a dup graph produces — plus 4k
    size-6 cliques and ten 200-node chains) exceeds a lowered
    small_graph_edges, so the count-based decision itself routes to
    the distributed label-propagation branch, including its
    repartition sizing. Output is pinned equal to driver union-find
    on the same graph (VERDICT r4 #8)."""
    from finance_reporting_etl_spark.operators.dedup import near_dup_clusters

    edges = []
    # hub star: node 0 joined to 12k spokes -> extreme key skew
    edges += [(0, i) for i in range(100_000, 112_000)]
    # 4k disjoint 6-cliques (dup graphs are mostly cliques)
    for c in range(4_000):
        base = 200_000 + c * 10
        ids = list(range(base, base + 6))
        edges += [(a, b) for i, a in enumerate(ids) for b in ids[i + 1 :]][:5]
    # ten 200-node chains: diameter large enough to need pointer jumps
    for c in range(10):
        base = 600_000 + c * 1_000
        edges += [(base + i, base + i + 1) for i in range(199)]
    edges_df = spark.createDataFrame(edges, "id_a long, id_b long")
    node_ids = sorted({x for e in edges for x in e} | {999_999})  # +isolated
    nodes_df = spark.createDataFrame([(i,) for i in node_ids], "id long")

    n_edges = len(edges)
    assert n_edges > 25_000
    dist = near_dup_clusters(
        edges_df, nodes_df, small_graph_edges=25_000
    )  # bound < n_edges -> distributed branch by count
    fast = near_dup_clusters(edges_df, nodes_df)  # default bound -> union-find
    d = {r.id: r.cluster_id for r in dist.collect()}
    f = {r.id: r.cluster_id for r in fast.collect()}
    assert d == f
    assert d[111_999] == 0  # hub component labels to min id 0
    assert d[600_199] == 600_000 and d[609_199] == 609_000  # chains settle
    assert d[999_999] == 999_999  # isolated node survives


def test_ivfpq_rerank_improves_or_matches_adc_ranking(emb):
    """Two-stage rerank must (a) return exact-cosine scores on its
    top-k (spot-checked against brute force) and (b) not lose recall
    versus pure ADC ranking at the same k — the rerank only reorders
    a superset shortlist with the true metric."""
    from finance_reporting_etl_spark.operators.similarity import (
        ivf_probes,
        ivf_topk_from_index,  # noqa: F401  (family import sanity)
        ivfpq_rerank_topk,
        ivfpq_topk_from_tables,
        pq_index,
        pq_query_luts,
        pq_train_codebooks,
    )

    spark = emb.sparkSession
    qids = list(range(10))
    books = pq_train_codebooks(emb)
    index = pq_index(emb, books)
    probes = ivf_probes(emb, qids)
    luts = spark.createDataFrame(
        pq_query_luts(emb, qids, books), "query_id long, m int, code int, d2 double"
    )
    erows = similarity.brute_force_topk(emb, qids, k=5).collect()
    adc = ivfpq_topk_from_tables(index, probes, luts, k=5)
    rr = ivfpq_rerank_topk(index, probes, luts, emb, shortlist=50, k=5)
    e = {(r.query_id, r.neighbor_id) for r in erows}
    a = {(r.query_id, r.neighbor_id) for r in adc.collect()}
    rrows = rr.collect()
    r = {(x.query_id, x.neighbor_id) for x in rrows}
    assert len(r & e) >= len(a & e), "exact rerank lost recall vs raw ADC"
    # rerank scores are TRUE cosines: where a pair also appears in the
    # brute-force result, the scores agree exactly
    escore = {(x.query_id, x.neighbor_id): x.score for x in erows}
    for x in rrows:
        if (x.query_id, x.neighbor_id) in escore:
            assert abs(x.score - escore[(x.query_id, x.neighbor_id)]) < 1e-9


def test_seeded_laplace_deterministic_and_calibrated(spark):
    """Seeded Laplace noise: reproducible across evaluations, roughly
    zero-centered, and mean |noise| ~= b (the Laplace scale) over many
    seeds — the calibration that makes the epsilon accounting real."""
    from pyspark.sql import functions as F

    from finance_reporting_etl_spark.functions.scalars import seeded_laplace

    df = spark.range(4000).select(F.col("id").cast("string").alias("k"))
    n1 = df.select(seeded_laplace("k", "s1", 2.0).alias("x"))
    n2 = df.select(seeded_laplace("k", "s1", 2.0).alias("x"))
    assert n1.collect() == n2.collect()  # deterministic
    stats = n1.agg(
        F.avg("x").alias("mu"), F.avg(F.abs(F.col("x"))).alias("mabs")
    ).first()
    assert abs(stats["mu"]) < 0.25, stats  # zero-centered
    assert 1.6 < stats["mabs"] < 2.4, stats  # E|Laplace(0,b)| = b = 2.0
    # different salt -> different draw
    n3 = df.select(seeded_laplace("k", "s2", 2.0).alias("x"))
    assert n1.collect() != n3.collect()


def test_minhash_probe_finds_planted_near_dups(spark):
    """A batch holding light perturbations of corpus docs must match
    back to exactly its source docs through the persisted band index;
    unrelated docs must not match."""
    from pyspark.sql import functions as F

    from finance_reporting_etl_spark.operators.dedup import (
        minhash_index,
        minhash_probe_index,
    )

    base = [
        (i, " ".join(f"tok{i}w{j}" for j in range(40))) for i in range(20)
    ]
    corpus = spark.createDataFrame(base, "doc_id long, text string")
    # batch: ids 100+i are near-dups of corpus doc i (suffix appended);
    # ids 900+ are unrelated
    batch = spark.createDataFrame(
        [(100 + i, t + " extra suffix") for i, t in base[:5]]
        + [(900 + i, " ".join(f"zz{i}q{j}" for j in range(40))) for i in range(5)],
        "doc_id long, text string",
    )
    hits = minhash_probe_index(
        minhash_index(batch), minhash_index(corpus), threshold=0.5
    ).collect()
    matched = {(r.batch_id, r.corpus_id) for r in hits}
    assert {(100 + i, i) for i in range(5)} <= matched
    assert all(b < 900 for b, _ in matched), "unrelated docs matched"


def test_clamped_balance_nonzero_floor(spark):
    """The closed-form clamp must match the literal fold for NONZERO
    floors too (round-5 review: the virtual-prefix term is min(floor,
    min prefix), not min(-floor, ...) — floor=0 masks the sign)."""
    from finance_reporting_etl_spark.operators.timeseries import (
        clamped_balance_per_key,
    )

    cases = {
        1: [50],            # floor=-100: max(-100, 0+50) = 50
        2: [-500, 50],      # floor=-100: -100 -> -50
        3: [50, -500, 20],  # floor=-100: 50 -> -100 -> -80
    }
    rows = [(k, i, d) for k, ds in cases.items() for i, d in enumerate(ds)]
    df = spark.createDataFrame(rows, "user_id long, seq long, delta long")
    for floor in (-100, 0, 100):
        got = {
            r.user_id: r.final_balance
            for r in clamped_balance_per_key(
                df, "user_id", ["seq"], "delta", floor=floor
            ).collect()
        }
        want = {}
        for k, ds in cases.items():
            b = 0
            for d in ds:
                b = max(floor, b + d)
            want[k] = b
        assert got == want, (floor, got, want)


def test_interpolation_boundary_gaps_not_flagged(spark):
    """Boundary gaps (no bracketing neighbor on one side) stay NULL and
    must NOT be flagged was_interpolated (round-5 review: the flag
    marks landed fills, not every hole)."""
    import datetime

    from finance_reporting_etl_spark.operators.timeseries import (
        linear_interpolate_daily,
    )

    from pyspark.sql import functions as F

    d = datetime.date
    rows = [("a", d(2024, 1, 1), None), ("a", d(2024, 1, 2), 10.0),
            ("a", d(2024, 1, 3), None), ("a", d(2024, 1, 4), 20.0),
            ("a", d(2024, 1, 5), None)]
    spine = spark.createDataFrame(
        [(k, day) for k, day, _ in rows], "k string, day date"
    ).withColumn("value", F.lit(1.0))
    observed = spark.createDataFrame(
        [(k, day, v) for k, day, v in rows if v is not None],
        "k string, day date, value double",
    )
    out = {r.day.day: r for r in linear_interpolate_daily(observed, spine, ["k"]).collect()}
    assert out[3].was_interpolated and out[3].filled_value == 15.0
    assert not out[1].was_interpolated and out[1].filled_value is None
    assert not out[5].was_interpolated and out[5].filled_value is None
    assert not out[2].was_interpolated and out[2].filled_value == 10.0


def test_mixture_rebalance_grain_validation(spark):
    """grain must divide the md5 coin's 256-bucket base resolution —
    anything else would silently mis-scale replication (r5 review)."""
    import pytest

    from finance_reporting_etl_spark.operators.corpus import (
        mixture_rebalance_to_targets,
    )

    docs = spark.createDataFrame(
        [(1, "en", 100), (2, "de", 100)], "doc_id long, lang string, n_chars long"
    )
    tgt = spark.createDataFrame(
        [("en", 0.5), ("de", 0.5)], "lang string, target_share double"
    )
    with pytest.raises(ValueError, match="divisor of 256"):
        mixture_rebalance_to_targets(docs, tgt, grain=300)
    # a valid non-default grain runs
    out = mixture_rebalance_to_targets(docs, tgt, grain=128).collect()
    assert len(out) == 2


def test_table_diff_null_columns_match(spark):
    """Identical rows containing NULLs must diff EMPTY — a plain
    column-name join never matches NULL == NULL and would report the
    same row as a_only AND b_only (r5 review, null-safe join)."""
    from finance_reporting_etl_spark.operators.incremental import table_diff

    rows = [("x", None), ("y", 1), (None, 2)]
    a = spark.createDataFrame(rows, "k string, v int")
    b = spark.createDataFrame(rows, "k string, v int")
    assert table_diff(a, b).count() == 0
    # and a real difference in a NULL-keyed row still surfaces
    c = spark.createDataFrame([("x", None), ("y", 1)], "k string, v int")
    d = {(r.side, r.k, r.v) for r in table_diff(a, c).collect()}
    assert d == {("a_only", None, 2)}


def test_forget_keys_preserves_null_keyed_rows(spark, tmp_path):
    """A GDPR delete must not destroy NULL-keyed (anonymous) rows in
    rewritten partitions (r5 review: ~isin is NULL for NULL keys)."""
    from finance_reporting_etl_spark.operators.incremental import forget_keys

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "d1", 10.0), (2, "d1", 20.0), (None, "d1", 30.0), (3, "d2", 40.0)],
        "user_id long, day string, v double",
    )
    df.write.partitionBy("day").parquet(path)
    n = forget_keys(spark, path, "day", "user_id", [1])
    assert n == 1
    left = {
        (r.user_id, r.v) for r in spark.read.parquet(path).collect()
    }
    assert left == {(2, 20.0), (None, 30.0), (3, 40.0)}


def test_checked_swap_refuses_orphan_backup():
    """A backup with NO live table is the only surviving copy from a
    crashed swap: step 1 must refuse, not delete it (r5 review)."""
    import pytest

    from finance_reporting_etl_spark.operators.incremental import checked_swap

    fs = _FakeSwapFS({"old", "staged"})
    with pytest.raises(IOError, match="only copy"):
        checked_swap(fs, "live", "staged", "old")
    assert "old" in fs.dirs  # backup untouched


class _FakeSwapFS:
    def __init__(self, dirs):
        self.dirs = set(dirs)

    def exists(self, p):
        return str(p) in self.dirs

    def rename(self, src, dst):
        if str(src) not in self.dirs:
            return False
        self.dirs.remove(str(src))
        self.dirs.add(str(dst))
        return True

    def delete(self, p, recursive=False):
        self.dirs.discard(str(p))
        return True


def test_value_histogram_excludes_nulls_and_p0_quantile(spark):
    """NULL values must not land in bin 0 (greatest/least skip NULLs),
    and p=0 must return the distribution minimum instead of no row
    (r5 review)."""
    import datetime

    from pyspark.sql import functions as F

    from finance_reporting_etl_spark.operators.sketches import (
        histogram_quantiles,
        histogram_rollup,
        value_histogram,
    )

    ts = datetime.datetime(2024, 1, 1)
    rows = [("a", ts, 10.0), ("a", ts, None), ("a", ts, 100.0)]
    ev = spark.createDataFrame(rows, "event_type string, ts timestamp, value double")
    daily = value_histogram(ev, width=4.0)
    assert daily.agg(F.sum("cnt")).first()[0] == 2  # NULL excluded
    merged = histogram_rollup(daily, F.lit("all"))
    q = {
        r.p: r.est
        for r in histogram_quantiles(merged, ps=(0.0, 1.0), width=4.0).collect()
    }
    assert 0.0 in q and q[0.0] == 8.0  # left edge of the min's bin
    assert 1.0 in q


def test_frame_sample_null_and_zero_duration(spark):
    """NULL duration -> zero frames (least skips NULLs would fabricate
    max_frames); zero duration -> zero frames, not a phantom frame 0."""
    from finance_reporting_etl_spark.operators.multimodal import frame_sample

    rows = [
        (1, "video", {"duration_ms": 5000, "width": 64, "height": 64}),
        (2, "video", {"duration_ms": None, "width": 64, "height": 64}),
        (3, "video", {"duration_ms": 0, "width": 64, "height": 64}),
    ]
    media = spark.createDataFrame(
        rows,
        "doc_id long, media_type string, "
        "meta struct<duration_ms: long, width: int, height: int>",
    )
    got = frame_sample(media, fps=1.0, max_frames=16).groupBy("doc_id").count()
    counts = {r.doc_id: r["count"] for r in got.collect()}
    assert counts == {1: 5}


def test_range_join_fractional_bounds(spark):
    """Bucketing must cover fractional interval ends: floor((hi-1)/w)
    assumed integer granularity and silently dropped true matches
    (r5 review: ceil(hi/w) - 1 covers both)."""
    from finance_reporting_etl_spark.operators.rangejoin import range_join

    pts = spark.createDataFrame([(1, 6.5)], "pid long, t double")
    ivs = spark.createDataFrame([(10, 5.2, 6.8)], "iid long, lo double, hi double")
    out = range_join(pts, ivs, t_col="t", lo_col="lo", hi_col="hi", bucket_width=1.0)
    assert [(r.pid, r.iid) for r in out.collect()] == [(1, 10)]
    # boundary: t exactly at hi is excluded (half-open)
    pts2 = spark.createDataFrame([(2, 6.8)], "pid long, t double")
    assert range_join(pts2, ivs, t_col="t", lo_col="lo", hi_col="hi", bucket_width=1.0).count() == 0


def test_proration_sums_exact_and_near_proportional(spark, sf_dir):
    """Every order's allocations sum EXACTLY to its total (the whole
    point of largest-remainder), and each line's allocation is within
    1 cent of the unrounded proportional share."""
    from finance_reporting_etl_spark.operators.allocation import (
        prorate_largest_remainder,
    )
    from finance_reporting_etl_spark.tables import _read_parquet

    li = _read_parquet(spark, f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("w_c"),
    )
    o = _read_parquet(spark, f"{sf_dir}/orders.parquet").select(
        F.col("o_orderkey").alias("l_orderkey"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("t_c"),
    )
    d = li.join(o, "l_orderkey")
    out = prorate_largest_remainder(d, ["l_orderkey"], "w_c", "t_c", ["l_linenumber"])
    bad_sum = (
        out.groupBy("l_orderkey", "t_c")
        .agg(F.sum("alloc_cents").alias("s"))
        .filter(F.col("s") != F.col("t_c"))
        .count()
    )
    assert bad_sum == 0
    p = out.toPandas()
    share = p.t_c * p.w_c / p.groupby("l_orderkey").w_c.transform("sum")
    assert (p.alloc_cents - share).abs().max() < 1.0 + 1e-9


def test_poisson_bootstrap_weights_distribution_and_determinism(spark, sf_dir):
    """Weights land in {0..6} with empirical mean ~Poisson(1)=1 and
    ~36.8% zeros; the draw is a pure function of (key, replicate)."""
    from finance_reporting_etl_spark.operators.resample import (
        poisson_bootstrap_means,
    )
    from finance_reporting_etl_spark.tables import _read_parquet

    o = _read_parquet(spark, f"{sf_dir}/orders.parquet").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    m = poisson_bootstrap_means(o, "o_orderkey", "cents", n_replicates=32)
    p = m.toPandas().sort_values("b").reset_index(drop=True)
    n_rows = o.count()
    assert len(p) == 32
    # sum of weights per replicate ~ Poisson(n_rows): mean n, sd sqrt(n)
    assert abs(p.n_eff.mean() - n_rows) < 6 * (n_rows**0.5)
    # replicate means hug the true mean
    true_mean = o.agg(F.avg(F.col("cents") / 100.0)).head()[0]
    assert abs(p.mean_value.mean() - true_mean) / true_mean < 0.05
    p2 = poisson_bootstrap_means(o, "o_orderkey", "cents", n_replicates=32).toPandas()
    assert p2.sort_values("b").reset_index(drop=True).equals(p)


def test_jaccard_prefix_filter_equals_brute_force(spark, sf_dir):
    """Prefix filtering is EXACT: the operator's pairs equal the
    all-pairs brute force (python sets) on the full sf0.001 corpus."""
    import itertools
    import re

    from finance_reporting_etl_spark.operators.dedup import (
        jaccard_prefix_filter_pairs,
    )
    from finance_reporting_etl_spark.tables import _read_parquet

    docs = _read_parquet(spark, f"{sf_dir}/documents.parquet")
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in jaccard_prefix_filter_pairs(docs, threshold=0.6).collect()
    }
    raw = docs.select("doc_id", "text").toPandas()
    sets = {
        int(r.doc_id): set(t for t in re.split(r"\s+", r.text.strip().lower()) if t)
        for r in raw.itertuples()
    }
    sets = {k: v for k, v in sets.items() if v}
    want = {}
    for ia, ib in itertools.combinations(sorted(sets), 2):
        a, b = sets[ia], sets[ib]
        j = len(a & b) / len(a | b)
        # threshold on the TRUE jaccard — candidate recall holds only
        # for true J >= t, so rounding must not decide membership
        if j >= 0.6:
            want[(ia, ib)] = round(j, 4)
    assert got == want


def test_zorder_sql_twin_matches_spark_key(spark):
    """The generated DuckDB Morton-key SQL interleaves identically to
    scale.zorder_key over the full 8-bit x 8-bit grid."""
    import duckdb

    from finance_reporting_etl_spark.operators import scale

    grid = spark.createDataFrame(
        [(x, y) for x in range(0, 256, 17) for y in range(0, 256, 13)],
        "x long, y long",
    )
    got = {
        (r.x, r.y): r.z
        for r in grid.withColumn("z", scale.zorder_key("x", "y", bits=8)).collect()
    }
    con = duckdb.connect()
    want = {
        (x, y): z
        for x, y, z in con.execute(
            f"SELECT x, y, {scale.zorder_sql('x', 'y', 8)} AS z FROM "
            "(SELECT unnest(range(0, 256, 17)) AS x), "
            "(SELECT unnest(range(0, 256, 13)) AS y)"
        ).fetchall()
    }
    assert got == want


def test_cusum_closed_form_equals_literal_fold(spark):
    """The two-window closed form must equal the literal recursive
    fold s_t = max(0, s_{t-1} + delta_t), including negative runs that
    pin s to 0 and immediate re-climbs."""
    from finance_reporting_etl_spark.operators.timeseries import (
        cusum_points_per_key,
    )

    deltas = [5, -3, -10, 4, 4, -1, 7, -20, 2]
    rows = [("k", i, d) for i, d in enumerate(deltas)]
    df = spark.createDataFrame(rows, "k string, i int, delta long")
    got = {
        r.i: r.cusum_cents
        for r in cusum_points_per_key(df, "k", ["i"], "delta").collect()
    }
    s, want = 0, {}
    for i, d in enumerate(deltas):
        s = max(0, s + d)
        want[i] = s
    assert got == want


def test_max_drawdown_matches_reference(spark):
    """Drawdown argmax: deepest decline from the running peak, ties
    broken by the earliest trough."""
    from finance_reporting_etl_spark.operators.timeseries import (
        max_drawdown_per_key,
    )

    vals = [100, 120, 90, 110, 60, 80, 60]
    rows = [("k", i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "k string, i int, cents long")
    out = max_drawdown_per_key(df, "k", "i", "cents").collect()
    assert len(out) == 1
    r = out[0]
    # peak 120 -> trough 60 = 50% decline; first at i=4
    assert r.max_drawdown == 0.5
    assert r.trough_at == 4
    assert r.trough_value_cents == 60 and r.peak_value_cents == 120


def test_benford_digit_extraction_no_float_edges(spark):
    """String-based first-digit must be exact at powers of ten, where
    log10-based extraction goes wrong (log10(1000.0) = 2.9999...)."""
    from finance_reporting_etl_spark.queries import CATALOG  # noqa: F401

    df = spark.createDataFrame(
        [(1.0,), (9.99,), (10.0,), (100.0,), (1000.0,), (999.99,), (123456.78,)],
        "p double",
    )
    digit = F.substring(F.floor(F.col("p")).cast("bigint").cast("string"), 1, 1).cast("int")
    got = [r.d for r in df.select(digit.alias("d")).collect()]
    assert got == [1, 9, 1, 1, 1, 9, 1]


def test_ohlc_partial_merge_invariant_under_batch_split(spark, sf_dir):
    """Merging per-batch OHLC partials must equal the direct bars for
    ANY batch split (mergeability is what the streaming maintenance
    relies on) — checked for two different splits."""
    from finance_reporting_etl_spark.operators.timeseries import ohlc_bars
    from finance_reporting_etl_spark.streaming.rollup import (
        merge_ohlc_partials,
        ohlc_partials,
    )
    from finance_reporting_etl_spark.tables import _read_parquet

    ev = _read_parquet(spark, f"{sf_dir}/events.parquet")
    e = ev.filter(F.col("value").isNotNull()).select(
        "event_type",
        F.col("ts").cast("date").alias("day"),
        "ts",
        "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    direct = sorted(
        map(tuple, ohlc_bars(e, ["event_type", "day"], "ts", "event_id", "cents").collect())
    )
    for mod in (2, 5):
        partials = [
            ohlc_partials(ev.filter(F.col("event_id") % mod == i))
            for i in range(mod)
        ]
        allp = partials[0]
        for p in partials[1:]:
            allp = allp.unionByName(p)
        merged = sorted(
            map(
                tuple,
                merge_ohlc_partials(allp)
                .select("event_type", "day", "open_cents", "high_cents",
                        "low_cents", "close_cents", "n_ticks")
                .collect(),
            )
        )
        assert merged == direct, f"split mod={mod} diverged"


def test_max_drawdown_nonpositive_days_and_peaks(spark):
    """A mid-series non-positive day still measures its decline from
    the earlier positive peak (dd > 1); rows before the peak turns
    positive are excluded, and an all-nonpositive key yields no row
    (no NaN argmax winner, no sign-flipped drawdown) — r5 review."""
    from finance_reporting_etl_spark.operators.timeseries import (
        max_drawdown_per_key,
    )

    rows = (
        [("refund", i, v) for i, v in enumerate([100, -50, 80])]
        + [("neg", i, v) for i, v in enumerate([-100, -50])]
        + [("late", i, v) for i, v in enumerate([0, -10, 40, 30])]
    )
    df = spark.createDataFrame(rows, "k string, i int, cents long")
    out = {r.k: r for r in max_drawdown_per_key(df, "k", "i", "cents").collect()}
    assert set(out) == {"refund", "late"}  # 'neg' never has a positive peak
    assert out["refund"].max_drawdown == 1.5  # 100 -> -50
    assert out["refund"].trough_at == 1
    assert out["late"].max_drawdown == 0.25  # 40 -> 30; i=0,1 pre-peak excluded
    assert out["late"].trough_at == 3


def test_benford_absent_digit_contributes_chi2(spark):
    """A digit that never appears must still contribute its
    (0 - total*share)^2 term: chi2 over {1,2} amounts only must exceed
    the no-9s-omitted version and the output must carry all 9 rows."""
    import math

    from finance_reporting_etl_spark.queries import CATALOG

    # tiny synthetic orders table via a temp view is overkill — drive
    # the full query on sf0.001 and check the spine property instead:
    # every digit row 1..9 present, n >= 0, and chi2 equals the
    # literal python recomputation over ALL NINE rows
    rows = CATALOG["benford_first_digit"].fn(spark, "/root/testdata/sf0.001").collect()
    assert sorted(r.digit for r in rows) == list(range(1, 10))
    total = sum(r.n for r in rows)
    chi2 = sum(
        (r.n - total * r.benford_share) ** 2 / (total * r.benford_share)
        for r in rows
    )
    assert all(math.isclose(r.chi2_stat, round(chi2, 4), abs_tol=2e-4) for r in rows)


def test_mmr_select_matches_literal_greedy(spark):
    """mmr_select must equal a literal python MMR greedy on synthetic
    shortlist/pair-sim tables, including the no-tie argmax per step."""
    from finance_reporting_etl_spark.operators.similarity import mmr_select

    rel = {101: 0.95, 102: 0.94, 103: 0.8, 104: 0.75, 105: 0.2}
    sim = {
        (101, 102): 0.99, (101, 103): 0.1, (101, 104): 0.2, (101, 105): 0.0,
        (102, 103): 0.15, (102, 104): 0.1, (102, 105): 0.05,
        (103, 104): 0.9, (103, 105): 0.1, (104, 105): 0.2,
    }
    sim.update({(b, a): s for (a, b), s in list(sim.items())})
    short = spark.createDataFrame(
        [(7, c, r) for c, r in rel.items()], "query_id long, neighbor_id long, rel double"
    )
    pairs = spark.createDataFrame(
        [(7, a, b, s) for (a, b), s in sim.items()],
        "query_id long, id_a long, id_b long, sim double",
    )
    got = [
        r.neighbor_id
        for r in mmr_select(short, pairs, k=4, lam=0.7, mu=0.3)
        .orderBy("step")
        .collect()
    ]
    # literal greedy
    chosen = [max(rel, key=lambda c: (rel[c], -c))]
    while len(chosen) < 4:
        remaining = [c for c in rel if c not in chosen]
        scores = {
            c: round(0.7 * rel[c] - 0.3 * max(sim[(c, s)] for s in chosen), 6)
            for c in remaining
        }
        chosen.append(max(remaining, key=lambda c: (scores[c], -c)))
    assert got == chosen
    # the near-duplicate of the top pick (102, sim .99) must NOT be
    # second — diversification is the whole point
    assert got[1] != 102 and 102 in got[2:] or 102 not in got


def test_fifo_match_equals_literal_cursor_walk(spark):
    """The cumulative-interval FIFO identity must equal the literal
    two-cursor walk, including partial-lot fragments, unsold tails,
    and oversold sells."""
    from finance_reporting_etl_spark.operators.allocation import fifo_match

    buys = [(1, 1, 10, 1000), (1, 2, 5, 600), (1, 3, 8, 1000)]  # k, ord, qty, total
    sells = [(1, 1, 4, 480), (1, 2, 14, 1540), (1, 3, 10, 900)]  # oversells by 5
    bdf = spark.createDataFrame(buys, "k long, o long, qty long, total long")
    sdf = spark.createDataFrame(sells, "k long, o long, qty long, total long")
    got = {
        (r.b_o, r.s_o): r.matched_qty
        for r in fifo_match(bdf, sdf, ["k"], ["o"], "qty", "total").collect()
    }
    # literal walk
    want, bi, rem_b = {}, 0, buys[0][2]
    blots = [list(x) for x in buys]
    for _, so, sq, _t in sells:
        need = sq
        while need > 0 and bi < len(blots):
            take = min(need, rem_b)
            if take > 0:
                want[(blots[bi][1], so)] = want.get((blots[bi][1], so), 0) + take
            need -= take
            rem_b -= take
            if rem_b == 0:
                bi += 1
                rem_b = blots[bi][2] if bi < len(blots) else 0
    assert got == want
    assert sum(got.values()) == 23  # 28 demanded, 23 available


def test_position_attribution_credits_sum_and_u_shape(spark, sf_dir):
    """Every purchase's credits sum EXACTLY to its cents, and for
    n >= 3 touchpoints first+last carry 80% (+-1 cent each)."""
    from finance_reporting_etl_spark.queries import CATALOG
    from finance_reporting_etl_spark.tables import _read_parquet

    out = CATALOG["position_based_attribution"].fn(spark, sf_dir).toPandas()
    ev = (
        _read_parquet(spark, f"{sf_dir}/events.parquet")
        .filter(F.col("event_type") == "purchase")
        .select("event_id", F.round(F.col("value") * 100).cast("bigint").alias("cents"))
        .toPandas()
        .set_index("event_id")["cents"]
    )
    sums = out.groupby("purchase_id").credit_cents.sum()
    assert (sums == ev.loc[sums.index]).all()
    n = out.groupby("purchase_id").view_id.count()
    multi = n[n >= 3].index
    for pid in list(multi)[:20]:
        rows = out[out.purchase_id == pid].sort_values("position")
        total = rows.credit_cents.sum()
        ends = rows.iloc[[0, -1]].credit_cents.sum()
        assert abs(ends - 0.8 * total) <= 2, (pid, ends, total)


def test_ks_two_sample_matches_literal(spark):
    """KS over explicit samples equals the literal ECDF max-gap."""
    from finance_reporting_etl_spark.operators.drift import ks_two_sample

    s1 = [10, 20, 20, 30, 50]
    s2 = [20, 40, 40, 60]
    rows = [("k", v, 1) for v in s1] + [("k", v, 2) for v in s2]
    df = spark.createDataFrame(rows, "k string, cents long, grp int")
    r = ks_two_sample(df, "k", "cents", "grp").collect()[0]
    vals = sorted(set(s1) | set(s2))
    want = max(
        abs(sum(x <= v for x in s1) / len(s1) - sum(x <= v for x in s2) / len(s2))
        for v in vals
    )
    assert r.ks_stat == round(want, 6) and (r.n1, r.n2) == (5, 4)


def test_quantile_transform_bounds_and_literal_rank(spark, sf_dir):
    """pct equals the literal (rank-1)/(n-1) over the pandas sort and
    spans exactly [0, 1]."""
    from finance_reporting_etl_spark.queries import CATALOG

    p = CATALOG["quantile_transform_feature"].fn(spark, sf_dir).toPandas()
    from finance_reporting_etl_spark.tables import _read_parquet

    o = _read_parquet(spark, f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    ).toPandas()
    o = o.sort_values(["o_totalprice", "o_orderkey"]).reset_index(drop=True)
    o["want"] = (o.index / (len(o) - 1)).round(6)
    merged = p.merge(o[["o_orderkey", "want"]], on="o_orderkey")
    assert (merged.pct == merged.want).all()
    assert merged.pct.min() == 0.0 and merged.pct.max() == 1.0


def test_theil_sen_robust_to_outlier(spark):
    """Sen slope equals the literal median of pairwise slopes and
    shrugs off a single wild outlier that wrecks the LS slope."""
    import itertools
    import statistics

    from finance_reporting_etl_spark.operators import timeseries  # noqa: F401
    from finance_reporting_etl_spark.queries import CATALOG  # noqa: F401
    from pyspark.sql import functions as F

    import datetime

    base = [(datetime.date(2024, 1, d + 1), 100 + 10 * d) for d in range(8)]
    base[4] = (base[4][0], 100000)  # outlier day
    df = spark.createDataFrame(
        [("k", d, c) for d, c in base], "event_type string, day date, cents long"
    )
    a = df.select("event_type", F.col("day").alias("a_day"), F.col("cents").alias("a_c"))
    b = df.select(
        F.col("event_type").alias("b_t"), F.col("day").alias("b_day"),
        F.col("cents").alias("b_c"),
    )
    p = a.join(b, (a.event_type == b.b_t) & (a.a_day < b.b_day)).withColumn(
        "slope", (F.col("b_c") - F.col("a_c")) / F.datediff("b_day", "a_day").cast("double")
    )
    got = p.agg(F.expr("percentile(slope, 0.5)")).head()[0]
    slopes = [
        (c2 - c1) / (d2 - d1).days
        for (d1, c1), (d2, c2) in itertools.combinations(base, 2)
    ]
    assert got == statistics.median(slopes)
    assert abs(got - 10.0) < 5.0  # the true 10/day survives the outlier


def test_ann_eval_metrics_bounded_and_consistent(spark, sf_dir):
    """recall/ndcg live in [0,1]; a query with full recall must score
    ndcg 1 only if ranks align; zero-hit queries emit 0 rows, not
    missing rows."""
    from finance_reporting_etl_spark.queries import CATALOG

    p = CATALOG["ann_recall_ndcg_eval"].fn(spark, sf_dir).toPandas()
    assert len(p) == 5  # all five query ids present even at 0 hits
    assert ((p.recall_at_10 >= 0) & (p.recall_at_10 <= 1)).all()
    assert ((p.ndcg_at_10 >= 0) & (p.ndcg_at_10 <= 1.000001)).all()
    # NDCG can't exceed what recall allows (ideal-normalized binary rel)
    assert (p.ndcg_at_10 <= p.recall_at_10 * 10 / 4.543559338088346 + 1e-9).all()


def test_proration_signed_weights_still_sum_exact(spark):
    """Floor/pmod semantics (ADVICE r5): a group containing negative
    weights whose sum stays positive must still allocate EXACTLY the
    total, with shortfall inside [0, n_rows)."""
    from finance_reporting_etl_spark.operators.allocation import (
        prorate_largest_remainder,
    )

    rows = [
        # group 1: mixed-sign weights summing to 70, odd total
        (1, 1, 100, 1001),
        (1, 2, -30, 1001),
        (1, 3, 0, 1001),
        # group 2: negative total over positive weights
        (2, 1, 3, -777),
        (2, 2, 7, -777),
        # group 3: non-positive weight sum -> dropped entirely
        (3, 1, -5, 500),
        (3, 2, 5, 500),
    ]
    d = spark.createDataFrame(
        rows, "gid long, line long, w_c long, t_c long"
    )
    out = prorate_largest_remainder(d, ["gid"], "w_c", "t_c", ["line"])
    got = {
        (r.gid, r.line): r.alloc_cents for r in out.collect()
    }
    assert set(g for g, _ in got) == {1, 2}
    assert sum(v for (g, _), v in got.items() if g == 1) == 1001
    assert sum(v for (g, _), v in got.items() if g == 2) == -777
    # per-row allocation stays within 1 cent of the exact share
    import math

    for (g, line), v in got.items():
        w = {(gi, li): wc for gi, li, wc, _ in rows}[(g, line)]
        tot = {(gi, li): tc for gi, li, _, tc in rows}[(g, line)]
        sum_w = sum(wc for gi, li, wc, _ in rows if gi == g)
        share = tot * w / sum_w
        assert math.floor(share) <= v <= math.floor(share) + 1


def test_salted_join_row_id_salt_deterministic_and_spread(spark):
    """row_id_col salting: result equals the plain join, the salt is a
    pure function of (key, id) — stable under recomputation — and
    fully-duplicate payload rows of a hot key spread across salts."""
    from pyspark.sql import functions as F

    from finance_reporting_etl_spark.operators import scale

    left = spark.createDataFrame(
        [(i, "hot", 1.0) for i in range(64)], "rid long, k string, v double"
    )
    right = spark.createDataFrame([("hot", 9.0)], "k string, w double")
    out = scale.salted_join(left, right, ["k"], n_salts=8, row_id_col="rid")
    assert out.count() == 64
    # duplicates-by-content must land on MANY salts (the review gap the
    # id-mixing fixed): reproduce the internal salt and count distinct.
    salt = F.pmod(
        F.xxhash64(F.struct(F.col("k"), F.col("rid"))), F.lit(8)
    )
    n_salts_used = left.select(salt.alias("s")).distinct().count()
    assert n_salts_used >= 6
    # determinism: two independent evaluations agree row-for-row
    a = left.select("rid", salt.alias("s")).collect()
    b = left.select("rid", salt.alias("s")).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_stratified_kfold_balance_and_determinism(spark):
    """Fold sizes within every stratum differ by <= 1, assignment is a
    pure function of (stratum, id), and k < 2 is rejected."""
    import pytest as _pytest

    from finance_reporting_etl_spark.operators.ml import stratified_kfold

    rows = [(i, "a" if i % 3 else "b") for i in range(101)]
    df = spark.createDataFrame(rows, "id long, s string")
    f = stratified_kfold(df, ["s"], "id", k=4)
    sizes = {
        (r.s, r.fold): r.n
        for r in f.groupBy("s", "fold").agg(F.count("*").alias("n")).collect()
    }
    for s in ("a", "b"):
        per = [sizes.get((s, i), 0) for i in range(4)]
        assert max(per) - min(per) <= 1, (s, per)
    again = stratified_kfold(df, ["s"], "id", k=4)
    assert sorted(map(tuple, f.collect())) == sorted(map(tuple, again.collect()))
    with _pytest.raises(ValueError):
        stratified_kfold(df, ["s"], "id", k=1)


def test_straight_line_schedule_conserves_and_clamps(spark):
    """Every key's schedule sums exactly to its total; the extra cents
    land on the EARLIEST months; an inverted span collapses to the
    start month instead of vanishing."""
    import datetime as dt

    from finance_reporting_etl_spark.operators.allocation import (
        straight_line_schedule,
    )

    rows = [
        (1, dt.date(2024, 1, 15), dt.date(2024, 4, 2), 1003),  # 4 months
        (2, dt.date(2024, 2, 1), dt.date(2024, 2, 20), 555),   # 1 month
        (3, dt.date(2024, 3, 10), dt.date(2024, 1, 1), 77),    # inverted
    ]
    df = spark.createDataFrame(rows, "k long, lo date, hi date, t_c long")
    out = straight_line_schedule(df, "k", "lo", "hi", "t_c")
    got = {(r.k, str(r.month)): r.alloc_cents for r in out.collect()}
    assert {k for k, _ in got} == {1, 2, 3}
    # 1003 over 4 months: 250 base, first 3 months +1
    assert [got[(1, f"2024-0{m}-01")] for m in (1, 2, 3, 4)] == [
        251, 251, 251, 250,
    ]
    assert got[(2, "2024-02-01")] == 555
    assert got[(3, "2024-03-01")] == 77  # clamped, not dropped
    sums = {}
    for (k, _), v in got.items():
        sums[k] = sums.get(k, 0) + v
    assert sums == {1: 1003, 2: 555, 3: 77}


def test_historical_var_cvar_order_statistics(spark):
    """k = ceil(n * num/den); VaR is the k-th smallest; CVaR the mean
    of the k smallest — checked against a hand computation with ties."""
    from finance_reporting_etl_spark.operators.stats import historical_var_cvar

    vals = [500, -300, -300, 100, 200, 250, 325, 410, -120, 80]  # n=10
    df = spark.createDataFrame(
        [("g", v) for v in vals], "g string, cents long"
    )
    # tail 30% -> k = 3: three smallest are -300, -300, -120
    r = historical_var_cvar(df, ["g"], "cents", tail_num=3, tail_den=10)
    row = r.collect()[0]
    assert (row.n_obs, row.k_tail) == (10, 3)
    assert row.var_value == -1.2
    assert row.cvar_value == round((-300 - 300 - 120) / 3 / 100.0, 6)


def test_pca_fit_matches_numpy_and_sign_convention(spark):
    """Components equal numpy's full-data PCA (same covariance, eigh),
    orientation pinned (largest-|value| element positive), ragged and
    null vectors dropped rather than crashing np.stack."""
    import numpy as np

    from finance_reporting_etl_spark.operators.decomposition import (
        pca_fit,
        pca_project,
    )

    rng = np.random.default_rng(7)
    base = rng.normal(size=(80, 4)) @ np.diag([3.0, 1.5, 0.5, 0.1])
    rows = [(i, [float(x) for x in base[i]]) for i in range(80)]
    rows.append((80, None))
    rows.append((81, [1.0, 2.0]))  # ragged
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    comps = pca_fit(df, "embedding", dim=4, n_components=2)

    cov = np.cov(base, rowvar=False)
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1][:2]
    for rank, idx in enumerate(order):
        want = evecs[:, idx]
        pivot = int(np.argmax(np.abs(want)))
        if want[pivot] < 0:
            want = -want
        got = np.array(comps.iloc[rank]["axis"])
        assert np.allclose(got, want, atol=1e-9), rank
        assert comps.iloc[rank]["eigenvalue"] == pytest.approx(
            evals[idx], abs=1e-9
        )
    # projection scores match numpy centered dot
    cdf = spark.createDataFrame(comps)
    proj = pca_project(
        df.filter(F.col("vec_id") < 80), cdf, ["vec_id"], "embedding"
    )
    got0 = {
        r.vec_id: r.score for r in proj.filter(F.col("comp_id") == 0).collect()
    }
    mu = base.mean(axis=0)
    axis0 = np.array(comps.iloc[0]["axis"])
    for i in (0, 17, 79):
        assert got0[i] == pytest.approx(
            round(float((base[i] - mu) @ axis0), 6), abs=1e-6
        )


def test_heaps_law_growth_hand_curve(spark):
    from finance_reporting_etl_spark.operators.corpus import heaps_law_growth

    docs = [
        (1, "a b a"),       # 3 tokens, 2 new types
        (2, "b c"),         # 2 tokens, 1 new type (c)
        (3, ""),            # empty doc: 0 / 0
        (4, "c d d a"),     # 4 tokens, 1 new type (d)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r.doc_id: (r.cum_tokens, r.cum_types)
        for r in heaps_law_growth(df).collect()
    }
    assert got == {1: (3, 2), 2: (5, 3), 3: (5, 3), 4: (9, 4)}


def test_bpe_pair_frequencies_hand_counts(spark):
    from finance_reporting_etl_spark.operators.corpus import (
        bpe_pair_frequencies,
    )

    # "abab" pairs: ab, ba, ab; twice -> ab:4 ba:2 ; "xy" once
    df = spark.createDataFrame(
        [(1, "abab xy"), (2, "abab")], "doc_id long, text string"
    )
    got = [(r.pair, r.freq, r.rank) for r in bpe_pair_frequencies(df).collect()]
    assert got[0] == ("ab", 4, 1)
    assert got[1] == ("ba", 2, 2)
    assert ("xy", 1, 3) in got


def test_xirr_bisection_known_rates_and_null_brackets(spark):
    """IRR for a simple one-in-one-out flow has the closed form
    (inflow/outflow)^(365/t) - 1; all-positive or never-bracketed
    flows yield NULL; result is deterministic across evaluations."""
    from finance_reporting_etl_spark.operators.allocation import xirr_bisection

    rows = [
        (1, 0, -100000), (1, 365, 110000),   # exactly 10% annual
        (2, 0, -100000), (2, 182, 104000),
        (3, 0, 500), (3, 10, 600),           # no outflow -> NULL
    ]
    df = spark.createDataFrame(rows, "k long, t int, c long")
    got = {r.k: r.irr for r in xirr_bisection(df, "k", "t", "c").collect()}
    assert got[1] == pytest.approx(0.10, abs=1e-6)
    assert got[2] == pytest.approx(1.04 ** (365.0 / 182.0) - 1, abs=1e-5)
    assert got[3] is None


def test_level_payment_has_no_pow_or_round_in_either_engine(spark):
    """The r7 driver gate proved constant-base pow is libm-sensitive,
    and the r8 gate proved round(DOUBLE, 6) is ALSO per-engine-
    divergent (Spark rounds the shortest decimal repr via BigDecimal
    HALF_UP, libm rounds the binary value) — so neither the Spark
    plan nor the oracle SQL may contain pow/power OR any float round;
    both consume the same repr-printed Python constants and emit raw
    IEEE doubles."""
    from finance_reporting_etl_spark.operators.allocation import (
        _level_payment_constants,
        level_payment_oracle_sql,
        level_payment_schedule,
    )

    df = spark.createDataFrame([(1, 1_000_00)], "k long, p long")
    plan = (
        level_payment_schedule(df, "k", "p", 0.005, 12)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "POWER" not in plan.upper()
    assert "ROUND" not in plan.upper()
    sql = level_payment_oracle_sql("SELECT 1 AS k, 100 AS p", "k", 0.005, 12)
    assert "power" not in sql.lower()
    assert "round" not in sql.lower()
    # the injected constants round-trip through repr (bit-identical in
    # any engine that parses shortest-repr doubles correctly)
    pf, rows = _level_payment_constants(0.005, 12)
    for v in [pf] + [x for row in rows for x in row[1:]]:
        assert float(repr(v)) == v


def test_level_payment_schedule_annuity_invariants(spark):
    """Payments are constant, interest+principal = payment, the final
    balance is ~0, and principal portions sum to the principal."""
    from finance_reporting_etl_spark.operators.allocation import (
        level_payment_schedule,
    )

    df = spark.createDataFrame([(1, 1_000_00)], "k long, p long")
    out = level_payment_schedule(df, "k", "p", 0.005, 12).collect()
    assert len(out) == 12
    pay = {r.period: r for r in out}
    assert len({r.payment for r in out}) == 1
    for r in out:
        assert r.interest + r.principal == pytest.approx(r.payment, abs=1e-4)
    assert pay[12].balance == pytest.approx(0.0, abs=1e-4)
    assert sum(r.principal for r in out) == pytest.approx(1000.0, abs=1e-3)


def test_seasonal_decompose_additivity_and_interior_only(spark):
    """value == trend + seasonal + resid on every emitted row, and
    only rows with a full 7-row window survive."""
    import datetime as dt

    from finance_reporting_etl_spark.operators.timeseries import (
        seasonal_decompose_dow,
    )

    base = dt.date(2024, 1, 1)
    rows = [
        ("a", base + dt.timedelta(days=i), (100 + 7 * i + (13 * i * i) % 40) * 10)
        for i in range(21)
    ]
    df = spark.createDataFrame(rows, "g string, day date, cents long")
    out = seasonal_decompose_dow(df, ["g"], "day", "cents").collect()
    assert len(out) == 15  # 21 days minus 3 on each edge
    for r in out:
        assert r.value == pytest.approx(
            r.trend + r.seasonal + r.resid, abs=2e-6
        )


def test_pps_systematic_sample_matches_bruteforce(spark):
    """Hits per row equal the brute-force grid walk on the same
    md5-shuffled axis; total hits == n; heavy rows can be multi-hit;
    the draw is deterministic."""
    import hashlib

    from finance_reporting_etl_spark.operators.resample import (
        pps_systematic_sample,
    )

    rows = [(i, (i * 37) % 900 + 1) for i in range(200)]
    rows.append((999, 50_000))  # whale: should get many hits
    df = spark.createDataFrame(rows, "k long, w long")
    n = 25
    got = {
        r.k: (r.hits, r.incl_prob)
        for r in pps_systematic_sample(df, "k", "w", n).collect()
    }

    def h(k):
        return hashlib.md5((str(k) + "pps").encode()).hexdigest()

    ordered = sorted(rows, key=lambda t: (h(t[0]), t[0]))
    W = sum(w for _, w in ordered)
    grid = [W * (2 * k + 1) for k in range(n)]  # scaled by 2n
    want = {}
    lo = 0
    for k, w in ordered:
        hi = lo + w
        hits = sum(1 for g in grid if 2 * n * lo <= g < 2 * n * hi)
        if hits:
            want[k] = hits
        lo = hi
    assert {k: v[0] for k, v in got.items()} == want
    assert sum(v[0] for v in got.values()) == n
    assert got[999][0] > 1
    assert got[999][1] == 1.0  # prob capped


def test_fifo_open_lots_hand_walk(spark):
    """Remaining lot quantities follow oldest-first consumption; value
    is floor-prorated integer cents; fully-open keys untouched."""
    from finance_reporting_etl_spark.operators.allocation import fifo_open_lots

    buys = spark.createDataFrame(
        [
            ("p1", 1, 10, 1000),
            ("p1", 2, 5, 600),
            ("p1", 3, 8, 960),
            ("p2", 1, 4, 400),
        ],
        "k string, seq int, qty long, total long",
    )
    sells = spark.createDataFrame(
        [("p1", 1, 12, 0)], "k string, seq int, qty long, total long"
    )
    out = fifo_open_lots(buys, sells, ["k"], ["seq"], "qty", "total")
    got = {(r.k, r.seq): (r.open_qty, r.open_cents) for r in out.collect()}
    # p1: sold 12 -> lot1 fully gone, lot2 loses 2 (3 left), lot3 open
    assert got[("p1", 1)] == (0, 0)
    assert got[("p1", 2)] == (3, 360)
    assert got[("p1", 3)] == (8, 960)
    assert got[("p2", 1)] == (4, 400)


def test_bloom_filter_no_false_negatives_and_python_parity(spark):
    """Members can NEVER probe negative, and both the bit set and every
    probe flag must equal a hashlib re-derivation of the md5 hex-slice
    positions (the engine-portability contract the oracle relies on)."""
    import hashlib

    from finance_reporting_etl_spark.operators.membership import (
        bloom_build,
        bloom_probe,
    )

    m, k, salt = 512, 3, "tbloom"
    member_keys = [3, 17, 256, 999, 12345]
    probe_keys = member_keys + [4, 18, 1000, 54321, 777]

    def positions(key):
        h = hashlib.md5(f"{key}{salt}".encode()).hexdigest()
        return [int(h[4 * i : 4 * i + 4], 16) % m for i in range(k)]

    exp_bits = {p for key in member_keys for p in positions(key)}
    exp_flag = {
        key: int(all(p in exp_bits for p in positions(key))) for key in probe_keys
    }

    members = spark.createDataFrame([(x,) for x in member_keys], "k long")
    bits = bloom_build(members, "k", salt, m, k)
    assert {r.pos for r in bits.collect()} == exp_bits

    probes = spark.createDataFrame([(x,) for x in probe_keys], "k long")
    got = {
        r.k: r.bloom_positive
        for r in bloom_probe(probes, "k", bits, salt, m, k).collect()
    }
    assert got == exp_flag
    assert all(got[key] == 1 for key in member_keys)  # no false negatives

    # duplicate probe keys: a member seen m>1 times must still probe
    # positive (regression: grouping hits by raw rows accumulated m*k
    # hits and failed the == k test — a Bloom false negative)
    dup_probes = spark.createDataFrame(
        [(x,) for x in probe_keys + member_keys + member_keys[:2]], "k long"
    )
    dup = bloom_probe(dup_probes, "k", bits, salt, m, k).collect()
    assert len(dup) == len(probe_keys) + len(member_keys) + 2  # row grain kept
    for r in dup:
        assert r.bloom_positive == exp_flag[r.k]


def test_survivorship_policies_and_tiebreaks(spark):
    from finance_reporting_etl_spark.operators.dedup import (
        survivorship_golden_records,
    )

    rows = [
        # cluster c1: winner = longest n_chars (id 2); lang vote 2-1
        ("c1", 1, "en", "web", 10),
        ("c1", 2, "fr", "arxiv", 50),
        ("c1", 3, "fr", "web", 30),
        # cluster c2: n_chars tie -> smallest doc_id wins; lang count
        # tie -> alphabetical consensus; duplicate source collapses
        ("c2", 9, "de", "b", 20),
        ("c2", 4, "en", "a", 20),
        # singleton: dropped
        ("c3", 5, "en", "x", 5),
    ]
    df = spark.createDataFrame(
        rows, "cl string, doc_id long, lang string, source string, n_chars long"
    )
    got = {
        r.cl: r
        for r in survivorship_golden_records(
            df,
            "cl",
            [F.col("n_chars").desc(), F.col("doc_id").asc()],
            ["doc_id", "n_chars"],
            "lang",
            "source",
        ).collect()
    }
    assert set(got) == {"c1", "c2"}
    assert (got["c1"].golden_doc_id, got["c1"].golden_n_chars) == (2, 50)
    assert got["c1"].lang_consensus == "fr"
    assert got["c1"].sources_merged == "arxiv,web"
    assert (got["c2"].golden_doc_id, got["c2"].n_members) == (4, 2)
    assert got["c2"].lang_consensus == "de"  # tie -> alphabetical
    assert got["c2"].sources_merged == "a,b"


def test_naive_bayes_matches_python_reference(spark):
    """Pin the distributed NB to a literal python implementation with
    the same Laplace smoothing + integer micro-nat quantization."""
    import math
    from collections import Counter

    from finance_reporting_etl_spark.operators.ml import naive_bayes_confusion

    train = [
        ("en", "the cat sat on the mat"),
        ("en", "the dog ate the bone"),
        ("fr", "le chat dort sur le lit"),
        ("fr", "le chien mange un os"),
    ]
    test = [
        ("en", "the cat ate"),
        ("fr", "le chat mange"),
        ("en", "os bone le the"),  # mixed evidence
        ("fr", "zebra unknownword"),  # all-OOV -> prior-only tie -> 'en'
    ]
    rows = [(i, y, t.split(), 1) for i, (y, t) in enumerate(train)]
    rows += [(100 + i, y, t.split(), 0) for i, (y, t) in enumerate(test)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, toks array<string>, tr int")

    # literal reference
    cnt = Counter()
    tot = Counter()
    for y, t in train:
        for w in t.split():
            cnt[(y, w)] += 1
            tot[y] += 1
    vocab = {w for (_, w) in cnt}
    v = len(vocab)
    langs = sorted(tot)
    prior = {y: round(math.log(2 / 4) * 1e6) for y in langs}
    exp = Counter()
    for y, t in test:
        scores = {}
        for c in langs:
            s = prior[c]
            for w in t.split():
                if w in vocab:
                    s += round(math.log((cnt[(c, w)] + 1) / (tot[c] + v)) * 1e6)
            scores[c] = s
        pred = min(langs, key=lambda c: (-scores[c], c))
        exp[(y, pred)] += 1

    got = {
        (r.actual, r.predicted): r.n_docs
        for r in naive_bayes_confusion(
            df, "doc_id", "lang", "toks", "tr"
        ).collect()
    }
    assert got == dict(exp)
    # the all-OOV doc resolved by prior + alphabetical tie-break
    assert got.get(("fr", "en"), 0) >= 1


def test_weighted_ares_matches_python_reference(spark):
    """Pin the md5 exponential-race keys to a hashlib re-derivation:
    same u, same -ln(u)/w, same (key, id) order, same top-k."""
    import hashlib
    import math

    from finance_reporting_etl_spark.operators.resample import (
        weighted_ares_sample,
    )

    salt, k = "tares", 4
    rows = [(i, (i * 37) % 11 + 1) for i in range(1, 21)]
    rows.append((99, 0))  # non-positive weight: excluded

    def key(i, w):
        h = hashlib.md5(f"{i}{salt}".encode()).hexdigest()
        u = (int(h[:12], 16) + 0.5) / 16**12
        return -math.log(u) / w

    exp = sorted(
        ((key(i, w), i, w) for i, w in rows if w > 0)
    )[:k]
    df = spark.createDataFrame(rows, "id long, w long")
    got = weighted_ares_sample(df, "id", "w", k=k, salt=salt).collect()
    assert [(r.draw_rank, r.id, r.w) for r in got] == [
        (n + 1, i, w) for n, (_, i, w) in enumerate(exp)
    ]


def test_weighted_ares_prefix_property(spark):
    """A-Res mergeability: the k'-prefix of a k-sample equals the
    direct k'-sample — the property that makes the draw streamable."""
    from finance_reporting_etl_spark.operators.resample import (
        weighted_ares_sample,
    )

    rows = [(i, i % 7 + 1) for i in range(1, 31)]
    df = spark.createDataFrame(rows, "id long, w long")
    big = weighted_ares_sample(df, "id", "w", k=10, salt="p")
    small = weighted_ares_sample(df, "id", "w", k=4, salt="p")
    assert [
        (r.draw_rank, r.id) for r in big.collect()[:4]
    ] == [(r.draw_rank, r.id) for r in small.collect()]


def test_ols2_cramer_matches_numpy_lstsq(spark):
    import numpy as np

    from finance_reporting_etl_spark.operators.ml import ols2_cramer

    rng = np.random.RandomState(11)
    x1 = rng.randint(1, 50, 40)
    x2 = rng.randint(0, 1000, 40)
    y = 300 + 7 * x1 + 3 * x2 + rng.randint(-40, 41, 40)
    rows = [("g", int(a), int(b), int(c)) for a, b, c in zip(x1, x2, y)]
    df = spark.createDataFrame(rows, "g string, x1 long, x2 long, y long")
    got = ols2_cramer(df, ["g"], "x1", "x2", "y").collect()[0]
    X = np.column_stack([np.ones(40), x1, x2])
    beta, res, *_ = np.linalg.lstsq(X, y.astype(float), rcond=None)
    assert got.b0 == pytest.approx(beta[0], abs=1e-4)
    assert got.b1 == pytest.approx(beta[1], abs=1e-4)
    assert got.b2 == pytest.approx(beta[2], abs=1e-4)
    ss_res = float(((X @ beta - y) ** 2).sum())
    ss_tot = float(((y - y.mean()) ** 2).sum())
    assert got.r2 == pytest.approx(1 - ss_res / ss_tot, abs=1e-6)


def test_ols2_collinear_features_null_not_nan(spark):
    from finance_reporting_etl_spark.operators.ml import ols2_cramer

    rows = [("g", x, 2 * x, 5 * x + 1) for x in range(1, 9)]  # x2 = 2*x1
    df = spark.createDataFrame(rows, "g string, x1 long, x2 long, y long")
    got = ols2_cramer(df, ["g"], "x1", "x2", "y").collect()[0]
    assert got.b0 is None and got.b1 is None and got.b2 is None


def test_markov_absorption_matches_matrix_recurrence(spark):
    import numpy as np

    from finance_reporting_etl_spark.operators.stats import (
        markov_absorption_fixed,
    )

    states = ["a", "b", "c"]
    counts = [
        ("a", "b", 4), ("a", "buy", 2), ("a", "a", 2),
        ("b", "c", 3), ("b", "buy", 6), ("b", "a", 1),
        ("c", "c", 5),  # c never converts directly
    ]
    df = spark.createDataFrame(counts, "src string, dst string, c long")
    got = {
        r.start_state: r
        for r in markov_absorption_fixed(
            df, "src", "dst", "c", states, "buy", steps=3
        ).collect()
    }
    # reference: p_{k+1} = p_absorb + T[., states] @ p_k
    tot = {s: sum(c for a, _, c in counts if a == s) for s in states}
    T = {
        (a, b): sum(c for x, y, c in counts if x == a and y == b) / tot[a]
        for a in states
        for b in states + ["buy"]
    }
    p = {s: T[(s, "buy")] for s in states}
    expect = {1: dict(p)}
    for k in (2, 3):
        p = {
            s: T[(s, "buy")] + sum(T[(s, m)] * p[m] for m in states)
            for s in states
        }
        expect[k] = dict(p)
    for s in states:
        for k in (1, 2, 3):
            assert getattr(got[s], f"p_{k}") == pytest.approx(
                round(expect[k][s], 6), abs=1e-9
            ), (s, k)
    # absorption probabilities are monotone in the horizon
    for s in states:
        assert got[s].p_1 <= got[s].p_2 <= got[s].p_3


def test_wac_fold_matches_python_reference_with_cap(spark):
    from finance_reporting_etl_spark.operators.allocation import (
        wac_inventory_fold,
    )

    events = [
        (10, 1000), (5, 700), (-6, 900), (-20, 2000),  # cap binds on last
        (8, 880), (-3, 450),
    ]
    rows = [(1, i, sq, v) for i, (sq, v) in enumerate(events)]
    rows += [(2, 0, 7, 770), (2, 1, -2, 340)]
    df = spark.createDataFrame(rows, "k long, o long, sq long, v long")

    def ref(evts):
        q = val = r = 0
        for sq, v in evts:
            if sq >= 0:
                q += sq
                val += v
            else:
                s = min(-sq, q)
                rem = (val * s) // q if q > 0 else 0
                rev = (v * s) // (-sq)
                q -= s
                val -= rem
                r += rev - rem
        return q, val, r

    got = {
        r.k: (r.on_hand_qty, r.inv_value_cents, r.realized_cents)
        for r in wac_inventory_fold(df, ["k"], ["o"], "sq", "v").collect()
    }
    assert got[1] == ref(events)
    assert got[2] == ref([(7, 770), (-2, 340)])


def test_boosted_reg_stumps_matches_bruteforce(spark):
    """Round-1 split must equal the O(n*values) brute-force best SSE
    split; residuals and the round-2 split re-derive from it."""
    from finance_reporting_etl_spark.operators.ml import boosted_reg_stumps

    rows = [
        (1, 10, 100), (2, 10, 120), (3, 10, 130), (4, 20, 500),
        (5, 20, 520), (6, 30, 900), (7, 30, 910), (8, 30, 950),
    ]
    base = spark.createDataFrame(rows, "f_a long, f_b long, y long")

    def best_split(data, feats):
        # data: list of dicts with feats + y
        cand = []
        for f_ in feats:
            vals = sorted({d[f_] for d in data})
            for thr in vals[:-1]:
                l = [d["y"] for d in data if d[f_] <= thr]
                r = [d["y"] for d in data if d[f_] > thr]
                gain = (
                    sum(l) ** 2 / len(l)
                    + sum(r) ** 2 / len(r)
                    - sum(d["y"] for d in data) ** 2 / len(data)
                )
                cand.append((-gain, f_, thr, sum(l) // len(l), sum(r) // len(r)))
        cand.sort()
        return cand[0]

    feats = ["f_a", "f_b"]
    data = [dict(zip(feats + ["y"], r)) for r in rows]
    got = boosted_reg_stumps(base, feats, "y", rounds=2)
    _, f1, t1, pl1, pr1 = best_split(data, feats)
    assert (got[0][1], got[0][2], got[0][3], got[0][4]) == (f1, t1, pl1, pr1)
    # replay residuals and check round 2 + SSE
    for d in data:
        d["y"] = d["y"] - (pl1 if d[f1] <= t1 else pr1)
    _, f2, t2, pl2, pr2 = best_split(data, feats)
    assert (got[1][1], got[1][2], got[1][3], got[1][4]) == (f2, t2, pl2, pr2)
    for d in data:
        d["y"] = d["y"] - (pl2 if d[f2] <= t2 else pr2)
    assert int(got[1][5]) == sum(d["y"] ** 2 for d in data)


def test_boosted_reg_stumps_rejects_non_integral_columns(spark):
    """A fractional feature or target would be truncated by a cast; the
    operator refuses it by name instead."""
    import pytest

    from finance_reporting_etl_spark.operators.ml import boosted_reg_stumps

    base = spark.createDataFrame(
        [(1, 0.5, 100, 1.5), (2, 1.5, 200, 2.5)],
        "f_a long, f_b double, y long, y_frac double",
    )
    with pytest.raises(ValueError, match="'f_b'"):
        boosted_reg_stumps(base, ["f_a", "f_b"], "y")
    with pytest.raises(ValueError, match="'y_frac'"):
        boosted_reg_stumps(base, ["f_a"], "y_frac")


def test_pareto_frontier_matches_pairwise_dominance(spark):
    from finance_reporting_etl_spark.queries import CATALOG  # noqa: F401
    from pyspark.sql import Window

    # replicate the operator inline on a literal frame, then check
    # against the O(n^2) dominance definition (min price, max size)
    rows = [
        ("b", 1, 100, 5), ("b", 2, 100, 5), ("b", 3, 90, 3),
        ("b", 4, 120, 9), ("b", 5, 80, 1), ("b", 6, 110, 9),
        ("c", 7, 50, 2),
    ]
    df = spark.createDataFrame(rows, "g string, id long, price long, size long")
    w = (
        Window.partitionBy("g")
        .orderBy(F.col("price").asc(), F.col("size").desc(), F.col("id").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    got = sorted(
        r.id
        for r in df.withColumn("pm", F.max("size").over(w))
        .filter(F.col("pm").isNull() | (F.col("size") > F.col("pm")))
        .collect()
    )
    # brute force: keep row unless strictly dominated, or duplicated
    # by a lower id
    keep = []
    for g, i, p, s in rows:
        dominated = any(
            gg == g
            and (
                (pp <= p and ss > s)
                or (pp < p and ss >= s)
                or (pp == p and ss == s and ii < i)
            )
            for gg, ii, pp, ss in rows
        )
        if not dominated:
            keep.append(i)
    assert got == sorted(keep)
