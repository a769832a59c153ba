"""Ingest surface: JSON flatten (FRED / Alpha Vantage shapes), CSV
round-trip, REST shim with injected fetcher + rate limiter."""

from __future__ import annotations

import json

import pytest

from finance_reporting_etl_spark.sources import csv_source, json_source, rest, schemas

FRED_PAYLOAD = {
    "observations": [
        {"realtime_start": "2024-01-01", "realtime_end": "2024-01-01", "date": "2023-01-01", "value": "26500.0"},
        {"realtime_start": "2024-01-01", "realtime_end": "2024-01-01", "date": "2023-04-01", "value": "."},
        {"realtime_start": "2024-01-01", "realtime_end": "2024-01-01", "date": "2023-07-01", "value": "27000.5"},
    ]
}

AV_PAYLOAD = {
    "symbol": "AAPL",
    "annualReports": [
        {"fiscalDateEnding": "2023-09-30", "reportedCurrency": "USD", "totalRevenue": "383285000000", "grossProfit": "169148000000"},
        {"fiscalDateEnding": "2022-09-30", "reportedCurrency": "USD", "totalRevenue": "394328000000", "grossProfit": "170782000000"},
    ],
}


def test_fred_flatten(spark, tmp_path):
    p = tmp_path / "gdp_data.json"
    p.write_text(json.dumps(FRED_PAYLOAD))
    df = json_source.flatten_observations(json_source.read_json(spark, str(p)))
    rows = {str(r["observation_date"]): r for r in df.collect()}
    assert len(rows) == 3
    assert rows["2023-01-01"]["value"] == 26500.0
    assert rows["2023-04-01"]["value"] is None  # '.' placeholder -> NULL (A3)
    assert rows["2023-04-01"]["value_raw"] == "."


def test_annual_reports_flatten(spark, tmp_path):
    p = tmp_path / "av.json"
    p.write_text(json.dumps(AV_PAYLOAD))
    df = json_source.flatten_annual_reports_batch(
        json_source.read_json(spark, str(p)), report_type="income_statement"
    )
    rows = df.collect()
    assert len(rows) == 2
    r = {str(x["fiscal_date"]): x for x in rows}["2023-09-30"]
    assert r["symbol"] == "AAPL" and r["report_type"] == "income_statement"
    assert r["currency"] == "USD"
    assert float(r["total_revenue"]) == 383285000000.0  # DECIMAL(18,2) per DDL


def test_csv_round_trip_partitioned(spark, tmp_path):
    p = tmp_path / "staged"
    src = spark.createDataFrame(
        [("AAPL", "income_statement", 1.5), ("MSFT", "balance_sheet", 2.5)],
        "symbol string, report_type string, v double",
    )
    csv_source.write_csv_staged(src, str(p), partition_cols=["symbol", "report_type"])
    back = csv_source.read_csv(spark, str(p))
    assert {tuple(sorted(r.asDict().items())) for r in back.collect()} == {
        tuple(sorted(r.asDict().items())) for r in src.collect()
    }


def test_bulk_load_append(spark, tmp_path):
    csv_dir = tmp_path / "csv"
    table = tmp_path / "table"
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    csv_source.write_csv_staged(df, str(csv_dir))
    csv_source.bulk_load_csv(spark, str(csv_dir), str(table))
    out = csv_source.bulk_load_csv(spark, str(csv_dir), str(table))  # append again
    assert out.count() == 4  # append mode ≙ daily re-load into raw table


def test_rest_fetch_with_rate_limit():
    calls = []
    sleeps = []
    clock = iter(range(100))
    limiter = rest.RateLimiter(
        min_interval=15.0, max_calls=3, clock=lambda: float(next(clock)), sleep=sleeps.append
    )
    out = rest.fetch_statements(
        lambda url: {"url": url},
        "https://api.example/query",
        companies=["AAPL"],
        report_types=["income_statement", "balance_sheet", "cash_flow"],
        limiter=limiter,
    )
    assert len(out) == 3
    assert all(s == pytest.approx(14.0) for s in sleeps)  # 15s cadence (README.md:369)
    assert "INCOME_STATEMENT" in out[0][2]["url"]
    with pytest.raises(RuntimeError):  # 4th call exceeds budget
        limiter.wait()


def test_fetch_series_builds_fred_url_and_waits_on_limiter():
    """fetch_data.py:5-11 analog: the FRED observations URL, one limiter
    wait per call, payload returned as fetched."""
    urls = []
    sleeps = []
    clock = iter(range(100))
    limiter = rest.RateLimiter(
        min_interval=15.0, max_calls=2, clock=lambda: float(next(clock)), sleep=sleeps.append
    )

    def fetch(url):
        urls.append(url)
        return FRED_PAYLOAD

    base = "https://api.stlouisfed.org/fred/series/observations"
    out = rest.fetch_series(fetch, base, "GDP", api_key="k", limiter=limiter)
    rest.fetch_series(fetch, base, "CPIAUCSL", api_key="k", limiter=limiter)
    assert out == FRED_PAYLOAD
    assert urls == [
        f"{base}?series_id=GDP&api_key=k&file_type=json",
        f"{base}?series_id=CPIAUCSL&api_key=k&file_type=json",
    ]
    assert limiter.calls == 2
    assert sleeps == [pytest.approx(14.0)]  # second call waits out the 15s cadence
    with pytest.raises(RuntimeError):  # budget of 2 is spent
        rest.fetch_series(fetch, base, "GDP", limiter=limiter)
    assert len(urls) == 2


def test_write_json_round_trips_through_read_json(spark, tmp_path):
    """fetch_data.py:13-14 analog: the staged JSON sink reads back as
    the same rows."""
    src = spark.createDataFrame(
        [("2023-01-01", "26500.0", 26500.0), ("2023-04-01", ".", None)],
        "date string, value_raw string, value double",
    )
    path = str(tmp_path / "staged_json")
    json_source.write_json(src, path)
    back = json_source.read_json(spark, path, multiline=False)
    assert sorted(back.columns) == sorted(src.columns)
    assert {tuple(r[c] for c in src.columns) for r in back.collect()} == {
        tuple(r) for r in src.collect()
    }


def test_payloads_to_df(spark):
    df = rest.payloads_to_df(spark, [FRED_PAYLOAD])
    flat = json_source.flatten_observations(df)
    assert flat.count() == 3


def test_create_table_and_ingest_ts(spark, tmp_path):
    t = schemas.create_table(spark, "raw_fin", schemas.RAW_FINANCIAL_DATA_SCHEMA)
    assert spark.table("raw_fin").count() == 0
    assert [f.name for f in t.schema.fields] == ["series_id", "observation_date", "value"]
    df = spark.createDataFrame([("GDP", None, "1.0")], schemas.RAW_FINANCIAL_DATA_SCHEMA)
    stamped = schemas.with_ingest_timestamp(df)
    assert stamped.filter("created_at IS NULL").count() == 0


def test_create_table_sql_ddl(spark, tmp_path):
    from finance_reporting_etl_spark.sources import schemas

    ddl = schemas.schema_to_ddl(schemas.RAW_FINANCIAL_DATA_SCHEMA)
    assert ddl == "series_id string, observation_date date, value string"

    schemas.create_table_sql(
        spark, "ddl_raw_financial", schemas.RAW_FINANCIAL_DATA_SCHEMA,
        path=str(tmp_path / "ddl_raw"),
    )
    try:
        got = spark.table("ddl_raw_financial")
        assert [f.name for f in got.schema.fields] == ["series_id", "observation_date", "value"]
        assert got.count() == 0
        # idempotent (IF NOT EXISTS)
        schemas.create_table_sql(
            spark, "ddl_raw_financial", schemas.RAW_FINANCIAL_DATA_SCHEMA,
            path=str(tmp_path / "ddl_raw"),
        )
    finally:
        spark.sql("DROP TABLE IF EXISTS ddl_raw_financial")


def test_python_datasource_partition_per_page(spark, tmp_path):
    """Spark 4 Python Data Source API connector: one InputPartition per
    staged page (scan parallelism == page count), executor-side parse,
    declared schema, '.' -> NULL typing."""
    from finance_reporting_etl_spark.sources import python_datasource as pds

    d = pds.stage_canned_pages(str(tmp_path / "pages"))
    pds.register(spark)
    df = spark.read.format("fred_pages").option("path", d).load()
    assert df.rdd.getNumPartitions() == len(pds.CANNED_PAGES)
    assert [f.name for f in df.schema.fields] == [
        "series_id", "observation_date", "value_raw", "value", "page",
    ]
    rows = df.collect()
    assert len(rows) == sum(len(p["observations"]) for p in pds.CANNED_PAGES)
    assert sum(1 for r in rows if r.value is None) == 2  # the two "." markers
    assert {r.page for r in rows} == set(range(len(pds.CANNED_PAGES)))
    # re-register is idempotent for the session
    pds.register(spark)
    assert spark.read.format("fred_pages").option("path", d).load().count() == len(rows)


def test_orc_and_text_roundtrip(spark, tmp_path):
    """Format breadth beyond parquet/csv/json: ORC columnar roundtrip
    (schema + values) and newline-delimited text for raw corpus dumps."""
    from pyspark.sql import functions as F

    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 7).alias("k"), F.concat(F.lit("row"), F.col("id")).alias("s")
    )
    orc_p = str(tmp_path / "orc")
    df.write.mode("overwrite").orc(orc_p)
    back = spark.read.orc(orc_p)
    # ORC reads come back nullable; compare names + types
    assert [(f.name, f.dataType) for f in back.schema] == [
        (f.name, f.dataType) for f in df.schema
    ]
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))

    txt_p = str(tmp_path / "txt")
    df.select("s").write.mode("overwrite").text(txt_p)
    lines = {r.value for r in spark.read.text(txt_p).collect()}
    assert lines == {f"row{i}" for i in range(100)}


# --- format breadth: binaryFile source + UDTF surface ---------------------


def test_binaryfile_source(spark, tmp_path):
    """binaryFile datasource: opaque media blobs arrive as (path,
    modificationTime, length, content) — the ingest half of the
    multimodal column pattern (operators/multimodal.py consumes the
    `content` bytes)."""
    blob = bytes(range(16))
    (tmp_path / "img_0.bin").write_bytes(blob)
    (tmp_path / "img_1.bin").write_bytes(blob * 2)
    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(str(tmp_path))
    )
    got = {r.path.rsplit("/", 1)[-1]: (r.length, bytes(r.content)) for r in df.collect()}
    assert got == {"img_0.bin": (16, blob), "img_1.bin": (32, blob * 2)}


def test_chunk_text_udtf_matches_column_expression(spark):
    """SURVEY §2.9 UDTF surface: the Arrow-batched Python table function
    must agree with the codegen'd explode/slice twin used in
    production (operators/corpus.py chunking)."""
    from pyspark.sql import functions as F

    from finance_reporting_etl_spark.functions.udtfs import ChunkTextUDTF

    spark.udtf.register("chunk_text", ChunkTextUDTF)
    docs = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(70))), (2, "a b c"), (3, "")],
        "doc_id bigint, text string",
    )
    docs.createOrReplaceTempView("udtf_docs")
    got = spark.sql(
        """
        SELECT d.doc_id, c.chunk_idx, c.chunk_text
        FROM udtf_docs d, LATERAL chunk_text(d.text, 32) c
        """
    ).collect()
    toks = F.split(F.trim("text"), r"\s+")
    want = (
        docs.select("doc_id", toks.alias("toks"))
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(0), F.expr("(size(toks) + 31) div 32") - 1)
            ).alias("g"),
            "toks",
        )
        .select(
            "doc_id",
            F.col("g").cast("int").alias("chunk_idx"),
            F.array_join(F.slice("toks", F.col("g") * 32 + 1, F.lit(32)), " ").alias(
                "chunk_text"
            ),
        )
        .collect()
    )
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_file_metadata_provenance(spark, tmp_path):
    """The hidden `_metadata` struct gives per-row file provenance
    (file_name, size, row_index) with zero data-column cost — the
    lineage answer for multi-file ingest (which file did this bad row
    come from)."""
    from pyspark.sql import functions as F

    a = spark.createDataFrame([(1,), (2,)], "id bigint")
    b = spark.createDataFrame([(3,)], "id bigint")
    a.coalesce(1).write.parquet(str(tmp_path / "d"), mode="overwrite")
    b.coalesce(1).write.mode("append").parquet(str(tmp_path / "d"))
    df = spark.read.parquet(str(tmp_path / "d")).select(
        "id", F.col("_metadata.file_name").alias("f")
    )
    per_file = {
        r.f: r.n
        for r in df.groupBy("f").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert sorted(per_file.values()) == [1, 2]
    assert all(f.endswith(".parquet") for f in per_file)


def test_parquet_schema_evolution_mergeschema(spark, tmp_path):
    """Append-era schema drift: a later batch adds a column; reading
    with mergeSchema=true unions the schemas and nulls the missing
    column in old files — the painless half of schema evolution (new
    nullable column). Width changes or renames need a real table
    format."""
    p = str(tmp_path / "evo")
    spark.createDataFrame([(1, "a")], "id bigint, s string").write.parquet(
        p, mode="overwrite"
    )
    spark.createDataFrame(
        [(2, "b", 9.5)], "id bigint, s string, score double"
    ).write.mode("append").parquet(p)
    df = spark.read.option("mergeSchema", "true").parquet(p)
    assert set(df.columns) == {"id", "s", "score"}
    rows = {r.id: r.score for r in df.collect()}
    assert rows == {1: None, 2: 9.5}


def test_from_xml_statement_payload(spark):
    """Spark 4 native XML parsing (from_xml + schema_of_xml): the
    XBRL-ish statement feed shape — typed extraction without a
    third-party package."""
    from pyspark.sql import functions as F

    xml = (
        "<report><symbol>AAPL</symbol><fiscalDate>2023-09-30</fiscalDate>"
        "<revenue>383285000000</revenue></report>"
    )
    df = spark.createDataFrame([(xml,)], "payload string")
    schema = "symbol string, fiscalDate date, revenue decimal(18,0)"
    out = df.select(F.from_xml("payload", schema).alias("r")).select("r.*").collect()[0]
    assert out.symbol == "AAPL"
    assert str(out.fiscalDate) == "2023-09-30"
    assert int(out.revenue) == 383285000000
