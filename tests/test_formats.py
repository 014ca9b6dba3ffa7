"""Storage-format robustness: schema evolution and the ORC path.

The reference only ever writes CSV/XLSX; the engine's scale sink is
parquet. These tests pin two behaviors a long-lived 100 TB store needs:
additive schema evolution across ingest batches (mergeSchema) and
format portability (built-in ORC read/write round-trip).
"""

from __future__ import annotations

from pyspark.sql import functions as F


def test_parquet_additive_schema_evolution(spark, tmp_path):
    path = str(tmp_path / "obs")
    spark.createDataFrame(
        [("s1", "2024-01-01", 1.0)], "series_id string, ts string, value double"
    ).withColumn("ts", F.col("ts").cast("date")).write.mode("append").parquet(path)
    # batch 2 adds a quality column (additive evolution)
    spark.createDataFrame(
        [("s1", "2024-01-02", 2.0, "ok")],
        "series_id string, ts string, value double, quality string",
    ).withColumn("ts", F.col("ts").cast("date")).write.mode("append").parquet(path)

    df = spark.read.option("mergeSchema", "true").parquet(path)
    assert set(df.columns) == {"series_id", "ts", "value", "quality"}
    rows = {r.ts.isoformat(): r.quality for r in df.collect()}
    assert rows["2024-01-01"] is None  # old rows null-fill the new column
    assert rows["2024-01-02"] == "ok"


def test_orc_round_trip_matches_parquet(spark, sf_dir, tmp_path):
    from series_tiempo_ar_scraping_spark.session import load_table

    src = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    )
    path = str(tmp_path / "orders_orc")
    src.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    assert back.schema == src.schema
    a = src.agg(
        F.count("*"), F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
    ).collect()[0]
    b = back.agg(
        F.count("*"), F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
    ).collect()[0]
    assert tuple(a) == tuple(b)
    # predicate pushdown reaches the ORC scan too
    plan = back.filter(F.col("o_orderkey") == 7)._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(o_orderkey), EqualTo(o_orderkey,7)]" in plan or "o_orderkey" in plan


def test_txt_distribution_matches_csv_twin(spark):
    """S7 fidelity: a semicolon-separated, comma-decimal TXT export must
    yield, through the pipeline's bulk reader, the exact observations the
    Spark CSV reader gives its CSV twin — delimiter sniffed, decimals
    normalized, missing tokens nulled (processors.py:58-80)."""
    import os

    from series_tiempo_ar_scraping_spark.sources.distribution_csv import (
        read_distribution_csv,
        read_distributions_bulk,
        sniff_txt_sep,
    )

    fix = os.path.join(os.path.dirname(__file__), "fixtures", "files")
    txt = os.path.join(fix, "precios_q.txt")
    csv = os.path.join(fix, "precios_q.csv")
    assert sniff_txt_sep(txt) == ";"
    obs, errors = read_distributions_bulk(
        spark,
        [("acme", "ds-prices", "2.1", txt)],
        sep=sniff_txt_sep(txt),
        decimal_comma=True,
    )
    assert errors == []
    got = {(r.series_id, r.ts, r.value) for r in obs.collect()}
    want = {
        (r.series_id, r.ts, r.value)
        for r in read_distribution_csv(
            spark, csv, "acme", "ds-prices", "2.1"
        ).collect()
    }
    # comma-decimal noise like 104,0 normalizes to the same numeric text
    got = {(s, t, v if v is None else str(float(v))) for s, t, v in got}
    want = {(s, t, v if v is None else str(float(v))) for s, t, v in want}
    assert len(want) == 10
    assert got == want


def test_decimal_comma_thousands(spark):
    from series_tiempo_ar_scraping_spark.sources.distribution_csv import (
        normalize_decimal_comma,
    )

    df = spark.createDataFrame(
        [
            ("1.234,56",),
            ("812,5",),
            ("4500",),
            ("812.5",),
            # dot-only values are AMBIGUOUS (AR thousands vs dot-decimal
            # with 3 decimals) — they must pass through untouched, else a
            # genuine dot-decimal like 812.500 corrupts 1000x.
            ("-1.000",),
            ("812.500",),
            ("-12.345.678,9",),
        ],
        "v string",
    )
    vals = [
        r.out for r in df.select(normalize_decimal_comma(F.col("v")).alias("out")).collect()
    ]
    assert vals == [
        "1234.56",
        "812.5",
        "4500",
        "812.5",
        "-1.000",
        "812.500",
        "-12345678.9",
    ]


def test_bulk_distribution_read_mixed_schemas(spark, tmp_path):
    """One Spark job reads files with different column sets; corrupt
    files and quoted headers (the bare split would misalign their
    titles) come back as V7 error tuples, not exceptions."""
    from series_tiempo_ar_scraping_spark.sources.distribution_csv import (
        read_distribution_csv,
        read_distributions_bulk,
    )

    a = tmp_path / "a.csv"
    a.write_text("indice_tiempo,x,y\n2024-01-01,1.5,2.5\n2024-02-01,s/d,3\n")
    b = tmp_path / "b.csv"
    b.write_text("indice_tiempo,only\n2024-01-01,9.25\n")
    junk = tmp_path / "junk.csv"
    junk.write_bytes(b"\x00\x01 not a csv at all\n")
    quoted = tmp_path / "q.csv"
    quoted.write_text('indice_tiempo,"serie, total",x\n2024-01-01,1,2\n')

    items = [
        ("c", "d", "ra", str(a)),
        ("c", "d", "rb", str(b)),
        ("c", "d", "rj", str(junk)),
        ("c", "d", "rq", str(quoted)),
    ]
    obs, errs = read_distributions_bulk(spark, items)
    got = {
        (r.distribution_id, r.series_id, str(r.ts), r.value)
        for r in obs.collect()
    }
    # per-file reader is the reference behavior; bulk must agree
    want = set()
    for _c, _d, rid, p in items[:2]:
        for r in read_distribution_csv(spark, p, "c", "d", rid).collect():
            want.add((rid, r.series_id, str(r.ts), r.value))
    assert got == want
    assert [(e[2], "no parseable header" in e[3]) for e in errs] == [
        ("rj", True),
        ("rq", True),
    ]


def test_compaction_reduces_file_count(spark, tmp_path):
    """Many tiny ingest files compact to few, values intact, partition
    layout preserved."""
    import os

    from series_tiempo_ar_scraping_spark.sinks.csv_wide import (
        compact_observations_parquet,
    )

    path = str(tmp_path / "obs")
    for batch in range(6):  # simulate 6 small ingest appends
        spark.createDataFrame(
            [("c1", f"s{batch}", f"2024-0{batch + 1}-01", float(batch), "M")],
            "catalog_id string, series_id string, ts string,"
            " value double, freq_code string",
        ).write.mode("append").partitionBy("catalog_id", "freq_code").parquet(
            path
        )
    before = spark.read.parquet(path).orderBy("series_id").collect()
    stats = compact_observations_parquet(spark, path, target_file_mb=128)
    after = spark.read.parquet(path).orderBy("series_id").collect()
    assert stats["files_after"] < stats["files_before"]
    assert [tuple(r) for r in before] == [tuple(r) for r in after]
    assert os.path.isdir(os.path.join(path, "catalog_id=c1", "freq_code=M"))


def test_compaction_recovers_from_crashed_swap(spark, tmp_path):
    """The batch_id-folding compaction swaps via two renames; a death
    between them strands the store at __precompact with the live path
    MISSING (found by applying the WAP crash-enumeration pattern).
    Entry recovery must restore the store; a stale __precompact beside
    a live store (crash after the swap, before cleanup) must be
    cleared, not leak."""
    import os
    import shutil

    from series_tiempo_ar_scraping_spark.sinks.csv_wide import (
        compact_observations_parquet,
    )

    path = str(tmp_path / "obs")
    for batch in range(3):
        spark.createDataFrame(
            [("c1", f"s{batch}", f"2024-0{batch + 1}-01", float(batch), "M")],
            "catalog_id string, series_id string, ts string,"
            " value double, freq_code string",
        ).write.mode("append").partitionBy("catalog_id", "freq_code").parquet(
            path
        )
    want = sorted(
        tuple(r) for r in spark.read.parquet(path).collect()
    )
    # crash window 1: between the renames — store stranded at
    # __precompact, live path gone
    os.rename(path, path + "__precompact")
    stats = compact_observations_parquet(spark, path, target_file_mb=128)
    assert stats["files_after"] >= 1
    got = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    assert got == want
    assert not os.path.exists(path + "__precompact")
    # crash window 2: after the swap, before cleanup — stale
    # __precompact beside the live store
    shutil.copytree(path, path + "__precompact")
    compact_observations_parquet(spark, path, target_file_mb=128)
    assert not os.path.exists(path + "__precompact")
    got = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    assert got == want


def test_parquet_store_schema_evolution(spark, tmp_path):
    """A long-lived store accretes columns across ingest generations;
    mergeSchema reads must surface the union schema with nulls for
    files written before a column existed — and NOT silently drop the
    new column when an old file is read first."""
    store = str(tmp_path / "obs_evolving")
    gen1 = spark.createDataFrame(
        [(1, "a", 1.0)], "series_id long, freq string, value double"
    )
    gen1.write.mode("append").parquet(store)
    gen2 = spark.createDataFrame(
        [(2, "a", 2.0, "rev3")],
        "series_id long, freq string, value double, source_rev string",
    )
    gen2.write.mode("append").parquet(store)

    merged = spark.read.option("mergeSchema", "true").parquet(store)
    assert set(merged.columns) == {"series_id", "freq", "value", "source_rev"}
    rows = {r.series_id: r for r in merged.collect()}
    assert rows[1].source_rev is None
    assert rows[2].source_rev == "rev3"


def test_gzip_compressed_distribution_csv(spark, tmp_path):
    """Portals serve gzip-compressed CSVs; the pipeline's bulk reader
    must melt them identically to the Spark CSV reader on the plain file
    (Spark decompresses .gz by extension — pinned here so a reader
    rewrite never loses it)."""
    import gzip

    from series_tiempo_ar_scraping_spark.sources.distribution_csv import (
        read_distribution_csv,
        read_distributions_bulk,
    )

    body = (
        "indice_tiempo,serie_a,serie_b\n"
        "2024-01-01,1.5,2.5\n"
        "2024-01-02,3.0,\n"
    )
    plain = tmp_path / "d.csv"
    plain.write_text(body)
    gz = tmp_path / "d_gz.csv.gz"
    with gzip.open(gz, "wt") as f:
        f.write(body)

    def rows(df):
        return sorted((r.series_id, str(r.ts), r.value) for r in df.collect())

    obs, errors = read_distributions_bulk(
        spark, [("c1", "ds1", "dist1", str(gz))]
    )
    assert errors == []
    got = rows(obs)
    assert got == rows(
        read_distribution_csv(spark, str(plain), "c1", "ds1", "dist1")
    )
    # 2 dates x 2 series; the empty cell melts to an explicit null row
    assert len(got) == 4
    assert ("serie_b", "2024-01-02", None) in [
        (s, t[:10], v) for s, t, v in got
    ]


def test_compaction_folds_streamed_batch_id_store(spark, sf_dir, tmp_path):
    """A store written by the streaming sink partitions by batch_id
    first; compaction must FOLD that level away completely — leaving old
    batch_id=N trees beside new catalog_id=X trees would duplicate rows
    and break the next read with a conflicting partition layout."""
    import os

    from series_tiempo_ar_scraping_spark.session import load_table
    from series_tiempo_ar_scraping_spark.sinks.csv_wide import (
        compact_observations_parquet,
    )

    e = load_table(spark, sf_dir, "events").limit(200)
    obs = e.selectExpr(
        "'c1' AS catalog_id", "event_type AS series_id", "ts", "value"
    )
    store = str(tmp_path / "streamed_store")
    # simulate two microbatches of the idempotent streaming sink layout
    obs.limit(120).write.mode("overwrite").partitionBy("catalog_id").parquet(
        os.path.join(store, "batch_id=0")
    )
    spark.createDataFrame(obs.collect()[120:]).write.mode(
        "overwrite"
    ).partitionBy("catalog_id").parquet(os.path.join(store, "batch_id=1"))
    before = spark.read.parquet(store).count()

    compact_observations_parquet(spark, store, target_file_mb=128)
    after_df = spark.read.parquet(store)
    assert after_df.count() == before
    assert "batch_id" not in after_df.columns
    assert not any(d.startswith("batch_id=") for d in os.listdir(store))


def test_bulk_read_handles_spaces_and_accents_in_paths(spark, tmp_path):
    """input_file_name() percent-encodes the path; the bulk reader must
    decode it so files named with spaces/accents/plus signs still join
    their distribution ids instead of failing as 'no parseable header'."""
    from series_tiempo_ar_scraping_spark.sources.distribution_csv import (
        read_distributions_bulk,
    )

    names = ["serie histórica.csv", "a+b.csv"]
    items = []
    for i, n in enumerate(names):
        p = tmp_path / n
        p.write_text(f"indice_tiempo,x\n2024-01-0{i + 1},{i + 1}.5\n")
        items.append(("c", "d", f"r{i}", str(p)))
    obs, errs = read_distributions_bulk(spark, items)
    assert errs == []
    got = {(r.distribution_id, str(r.ts), r.value) for r in obs.collect()}
    assert got == {("r0", "2024-01-01", 1.5), ("r1", "2024-01-02", 2.5)}


def test_y4m_rejects_nonpositive_header_fields():
    """Negative W/H walk the frame cursor BACKWARD (infinite loop /
    unbounded append — found by review probe); negative F num/den would
    defeat video_frame_stats' int32 ts_ms guard. All must reject."""
    from series_tiempo_ar_scraping_spark.operators.multimodal import (
        try_decode_y4m,
    )

    bad = [
        b"YUV4MPEG2 W-2 H2 F30:1 C420\n" + b"FRAME\n" + b"\x00" * 64,
        b"YUV4MPEG2 W2 H-2 F30:1 C420\n" + b"FRAME\n" + b"\x00" * 64,
        b"YUV4MPEG2 W2 H2 F-30:1 C420\n" + b"FRAME\n" + b"\x00" * 6,
        b"YUV4MPEG2 W2 H2 F1:-1 C420\n" + b"FRAME\n" + b"\x00" * 6,
        b"YUV4MPEG2 W0 H2 F30:1 C420\n" + b"FRAME\n",
        # over the decompression-bomb pixel bound
        b"YUV4MPEG2 W67108864 H2 F30:1 C420\n" + b"FRAME\n",
    ]
    for payload in bad:
        assert try_decode_y4m(payload) is None
    good = b"YUV4MPEG2 W2 H2 F30:1 C420\n" + b"FRAME\n" + b"\x11" * 4 + b"\x80" * 2
    decoded = try_decode_y4m(good)
    assert decoded is not None and decoded[:4] == (2, 2, 30, 1)


def test_zip_codec_roundtrip_and_corrupt_bytes():
    """Stdlib ZIP container codec: pack/extract round-trips member
    names + bytes exactly; anything that isn't a valid archive
    (truncated tail, wrong magic, empty) degrades to [] instead of
    throwing — executor-side corruption must never kill a stage."""
    from series_tiempo_ar_scraping_spark.operators.multimodal import (
        list_zip_members,
        pack_zip,
    )

    members = [
        ("doc.txt", "hola señor — düzgün".encode()),
        ("meta.txt", b"42|es"),
        ("empty.bin", b""),
    ]
    blob = pack_zip(members)
    assert blob[:2] == b"PK"
    assert list_zip_members(blob) == members
    # deterministic bytes: pinned mtime means identical re-pack
    assert pack_zip(members) == blob
    # corruption lattice: every truncation/garbling is a [] not a raise
    assert list_zip_members(b"") == []
    assert list_zip_members(b"PK\x03\x04") == []
    assert list_zip_members(blob[: len(blob) // 2]) == []
    assert list_zip_members(b"\x00" * 64) == []


def test_zip_roundtrip_stats_matches_source(spark, sf_dir):
    """The two-Arrow-stage pack->extract pipeline reports exactly the
    source-derivable stats (the oracle contract)."""
    from series_tiempo_ar_scraping_spark.operators.multimodal import (
        zip_roundtrip_stats,
    )
    from series_tiempo_ar_scraping_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents").limit(20)
    got = {
        r.media_id: r for r in zip_roundtrip_stats(docs).collect()
    }
    for d in docs.collect():
        r = got[d.doc_id]
        assert r.n_members == 2
        assert r.txt_bytes == len(d.text.encode())
        assert r.meta_text == f"{d.doc_id}|{d.lang}"
        assert r.total_uncompressed == r.txt_bytes + r.meta_bytes
