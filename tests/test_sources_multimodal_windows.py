"""Tests for file sources (S6-S8), multimodal plumbing, and windowed
aggregations (batch + streaming watermarks)."""

from __future__ import annotations

import json
import shutil
import tempfile
from datetime import datetime
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from storm_data_etl_service_spark.operators.multimodal import (
    decode_media,
    frame_sample,
    image_resize,
    media_from_documents,
)
from storm_data_etl_service_spark.schemas import load_tables
from storm_data_etl_service_spark.sources.files import (
    read_json_records,
    read_spc_csv,
    write_json_fixture,
)


@pytest.fixture()
def workdir():
    d = Path(tempfile.mkdtemp(prefix="storm_files_"))
    yield d
    shutil.rmtree(d, ignore_errors=True)


# --- S6-S8 file sources ------------------------------------------------------

CSV_HEADER = "Time,Size,Location,County,State,Lat,Lon,Comments"
CSV_ROW = '1510,125,8 ESE Chappel,San Saba,TX,31.02,-98.44,"1.25 inch hail reported at Colorado Bend State Park. (SJT)"'


def test_read_spc_csv_enriches_to_golden(spark, workdir):
    """S6 + enrichment: the genmock CSV path reproduces the golden ID
    (reference cmd/genmock/main.go:96-172)."""
    from storm_data_etl_service_spark.functions.enrich import enrich
    from storm_data_etl_service_spark.sources.storm_fixture import BASE_TS

    csv = workdir / "hail.csv"
    csv.write_text(CSV_HEADER + "\n" + CSV_ROW + "\n")
    df = read_spc_csv(spark, str(csv), "hail").withColumn(
        "kafka_timestamp", F.lit(BASE_TS).cast("timestamp")
    )
    row = enrich(df).first()
    assert row["id"] == "hail-5d91dda0f56ba124"
    assert row["measurement"]["magnitude"] == 1.25
    # per-type exclusivity: F_Scale/Speed stay empty for hail files
    raw = read_spc_csv(spark, str(csv), "hail").first()
    assert raw["F_Scale"] == "" and raw["Speed"] == ""


@pytest.mark.parametrize("n_partitions", [1, 8])
def test_json_roundtrip(spark, workdir, n_partitions):
    """S7/S8 — fixture sink then whole-file JSON scan round-trips, for
    one input partition and for several rows per partition file."""
    from storm_data_etl_service_spark.sources.storm_fixture import spark_fixture_df

    raw = spark_fixture_df(spark).drop("kafka_timestamp").repartition(n_partitions)
    out = workdir / "fixture"
    write_json_fixture(raw, str(out))
    back = read_json_records(spark, str(out))
    assert back.count() == raw.count()
    assert sorted(back.columns) == sorted(raw.columns)


# --- multimodal --------------------------------------------------------------

def test_decode_media_matches_python(spark, sf_dir):
    import hashlib

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    texts = {r["doc_id"]: r["text"] for r in docs.limit(20).collect()}
    media = media_from_documents({"documents": docs.limit(20)})
    stats = {r["media_id"]: r for r in decode_media(media).collect()}
    assert len(stats) == len(texts)
    for doc_id, text in texts.items():
        b = text.encode()
        assert stats[doc_id]["n_bytes"] == len(b)
        assert stats[doc_id]["content_sha"] == hashlib.sha256(b).hexdigest()
        assert stats[doc_id]["byte_signature"] == b[:4].hex()


def test_frame_sample_fans_out(spark, sf_dir):
    docs = load_tables(spark, sf_dir, ("documents",))["documents"].limit(5)
    media = media_from_documents({"documents": docs})
    frames = frame_sample(media, every_ms=1000).collect()
    by_media = {}
    for r in frames:
        by_media.setdefault(r["media_id"], []).append(r["frame_idx"])
    for mid, idxs in by_media.items():
        assert sorted(idxs) == list(range(len(idxs)))  # dense frame indices
    assert any(len(v) > 1 for v in by_media.values())  # real fan-out


def test_frame_sample_caps_at_max_frames(spark):
    """A payload needing more than MAX_FRAMES windows must stop at
    exactly MAX_FRAMES — the oracle's range(0, 64) bound and the
    anti-skew fan-out cap (one huge payload must not explode into an
    unbounded row fan-out)."""
    from storm_data_etl_service_spark.operators.multimodal import MAX_FRAMES

    big = spark.createDataFrame(
        [(1, bytearray(b"x" * (MAX_FRAMES * 100 + 500)))],
        "media_id long, data binary",
    )
    frames = frame_sample(big, every_ms=1000).collect()
    assert len(frames) == MAX_FRAMES
    assert sorted(r["frame_idx"] for r in frames) == list(range(MAX_FRAMES))


def test_frame_sample_fixture_is_byte_char_equivalent(spark, sf_dir):
    """The kernel windows BYTES while the DuckDB oracle windows text
    CHARS — equivalent iff the documents fixture is pure ASCII.
    Assert that here so a future non-ASCII fixture fails loudly
    instead of silently hash-diverging at larger scale factors."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    non_ascii = docs.filter(
        F.octet_length("text") != F.char_length("text")
    ).count()
    assert non_ascii == 0, (
        f"{non_ascii} non-ASCII documents: frame_sample's byte windows "
        "no longer match the char-based oracle — make the oracle "
        "byte-based or re-encode the fixture"
    )


def _raw_image_df(spark, pixels, w, h):
    import pyspark.sql.types as T

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("data", T.BinaryType()),
            T.StructField(
                "meta",
                T.StructType(
                    [
                        T.StructField("width", T.IntegerType()),
                        T.StructField("height", T.IntegerType()),
                    ]
                ),
            ),
        ]
    )
    return spark.createDataFrame([(1, bytearray(pixels), (w, h))], schema)


def test_image_resize_nearest_matches_numpy_golden(spark):
    """Pixel-exact: the kernel's 4x4→2x2 nearest-neighbor result must
    equal an independently computed numpy gather (floor(i*src/dst)
    grid) byte-for-byte."""
    import numpy as np

    rng = np.random.default_rng(7)
    src = rng.integers(0, 256, size=(4, 4, 3), dtype=np.uint8)
    out = image_resize(_raw_image_df(spark, src.tobytes(), 4, 4), 2, 2).first()
    golden = src[[0, 2]][:, [0, 2]]  # floor(i*4/2) = 0, 2
    assert bytes(out["data"]) == golden.tobytes()
    assert (out["width"], out["height"]) == (2, 2)


def test_image_resize_identity_and_upscale(spark):
    import numpy as np

    rng = np.random.default_rng(11)
    src = rng.integers(0, 256, size=(3, 3, 3), dtype=np.uint8)
    df = _raw_image_df(spark, src.tobytes(), 3, 3)
    same = image_resize(df, 3, 3).first()
    assert bytes(same["data"]) == src.tobytes()  # identity resize
    up = image_resize(df, 6, 6).first()
    want = src[(np.arange(6) * 3 // 6)][:, (np.arange(6) * 3 // 6)]
    assert bytes(up["data"]) == want.tobytes()


def test_image_resize_rejects_truncated_payload(spark):
    """A payload shorter than the declared dimensions must FAIL, not
    silently pad — truncation upstream is data corruption."""
    df = _raw_image_df(spark, b"\x01\x02\x03", 4, 4)  # 3 B << 48 B
    with pytest.raises(Exception, match="raw-RGB8 contract"):
        image_resize(df, 2, 2).collect()


def test_image_resize_corpus_round_trip(spark, sf_dir):
    """End-to-end over documents-derived raw images: every output is
    exactly out_w*out_h*3 bytes and ids are preserved."""
    from storm_data_etl_service_spark.operators.multimodal import (
        raw_images_from_documents,
    )

    t = load_tables(spark, sf_dir, ("documents",))
    imgs = raw_images_from_documents(t)
    rows = image_resize(imgs.limit(20), 4, 4).collect()
    assert rows and all(len(bytes(r["data"])) == 4 * 4 * 3 for r in rows)


# --- streaming windows -------------------------------------------------------

def _write_events_file(path: Path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def test_streaming_hourly_rollup_watermark_semantics(spark, workdir):
    """Append-mode watermark guarantees: the watermark advances with
    event time, and ONLY finalized windows (end <= watermark) are
    emitted, exactly once each.  (Dropping of very-late rows is
    explicitly best-effort in Spark — not asserted.)"""
    from storm_data_etl_service_spark.streaming.windows import hourly_rollup_stream

    src = workdir / "events"
    src.mkdir()
    ev = lambda i, ts, v: {"event_id": i, "ts": ts, "user_id": 1,
                           "event_type": "click", "value": v, "props": "{}"}
    # batch 0: events 10:00-13:30 -> watermark advances to 11:30
    _write_events_file(src / "b0.json", [
        ev(1, "2024-01-01T10:15:00.000Z", 1.0),
        ev(2, "2024-01-01T12:20:00.000Z", 1.0),
        ev(3, "2024-01-01T13:30:00.000Z", 1.0),
    ])
    # batch 1: one in-time event + one too-late event (09:05; its
    # window end 10:00 < watermark 11:30 -> dropped)
    _write_events_file(src / "b1.json", [
        ev(4, "2024-01-01T14:00:00.000Z", 1.0),
        ev(5, "2024-01-01T09:05:00.000Z", 99.0),
    ])
    # the file source orders batches by modification time — make the
    # ordering deterministic so b1 really arrives after b0
    import os
    import time

    now = time.time()
    os.utime(src / "b0.json", (now - 60, now - 60))
    os.utime(src / "b1.json", (now, now))
    schema = ("event_id long, ts timestamp, user_id long,"
              " event_type string, value double, props string")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    # append mode: windows emit once the watermark passes their end,
    # and late rows are guaranteed-dropped (update mode does NOT give
    # that guarantee for windows whose state was never created)
    q = (
        hourly_rollup_stream(stream, watermark="2 hours")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("rollup_test")
        .option("checkpointLocation", str(workdir / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # the watermark advanced to max(event_time) - 2h as batches ran
    watermarks = [p["eventTime"].get("watermark") for p in q.recentProgress]
    assert "2024-01-01T12:00:00.000Z" in watermarks
    rows = spark.sql("SELECT * FROM rollup_test").collect()
    buckets = {}
    for r in rows:
        buckets.setdefault(r["bucket_start"], []).append(r)
    # exactly-once per finalized window
    assert all(len(v) == 1 for v in buckets.values())
    assert buckets[datetime(2024, 1, 1, 10, 0)][0]["n"] == 1
    # windows not yet passed by the watermark (12:00/13:00/14:00) are
    # withheld — append emits only finalized windows
    for hour in (12, 13, 14):
        assert datetime(2024, 1, 1, hour, 0) not in buckets


def test_partitioned_parquet_prunes_partitions(spark, sf_dir, tmp_path):
    """A filter on the partition key must become a PartitionFilter
    (pruned at planning), not a data filter over every file."""
    from storm_data_etl_service_spark.sources.files import (
        read_partitioned_parquet,
        write_partitioned_parquet,
    )

    from storm_data_etl_service_spark.schemas import load_tables

    ev = load_tables(spark, sf_dir)["events"].withColumn(
        "event_date", F.to_date("ts")
    )
    out = str(tmp_path / "ev_part")
    write_partitioned_parquet(ev, out, ["event_type"], target_file_rows=10_000)
    back = read_partitioned_parquet(spark, out)
    assert back.count() == ev.count()

    q = back.filter(F.col("event_type") == "click")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters")[1][:200]
    assert "event_type" in pf, pf
    got = q.count()
    want = ev.filter(F.col("event_type") == "click").count()
    assert got == want > 0


def test_orc_round_trip(spark, sf_dir, tmp_path):
    from storm_data_etl_service_spark.sources.files import read_orc, write_orc

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = str(tmp_path / "docs_orc")
    write_orc(docs, out)
    back = read_orc(spark, out)
    assert back.schema == docs.schema
    assert sorted(r["doc_id"] for r in back.select("doc_id").collect()) == sorted(
        r["doc_id"] for r in docs.select("doc_id").collect()
    )


def test_compact_parquet_dir_reduces_files(spark, tmp_path):
    from storm_data_etl_service_spark.sources.files import compact_parquet_dir

    src = str(tmp_path / "fragmented")
    spark.range(0, 20000).withColumn("v", F.col("id") * 2).repartition(
        64
    ).write.parquet(src)
    report = compact_parquet_dir(
        spark, src, str(tmp_path / "compacted"), target_file_bytes=1 << 30
    )
    assert report["files_before"] == 64
    assert report["files_after"] == 1 == report["target_files"]
    got = spark.read.parquet(str(tmp_path / "compacted"))
    assert got.count() == 20000
    assert got.agg(F.sum("v")).first()[0] == 2 * sum(range(20000))


def test_read_parquet_evolved_merges_generations(spark, tmp_path):
    from storm_data_etl_service_spark.sources.files import read_parquet_evolved

    gen1 = str(tmp_path / "gen1")
    gen2 = str(tmp_path / "gen2")
    spark.range(0, 5).select(F.col("id"), F.lit("a").alias("source")).write.parquet(gen1)
    spark.range(5, 8).select(
        F.col("id"), F.lit("b").alias("source"), (F.col("id") * 10).alias("score")
    ).write.parquet(gen2)
    df = read_parquet_evolved(spark, gen1, gen2)
    assert set(df.columns) == {"id", "source", "score"}
    assert df.count() == 8
    assert df.filter(F.col("score").isNull()).count() == 5


def test_spc_datasource_reads_typed_directory(spark, workdir):
    """Spark-4 Python DataSource: per-file partitions, header-mapped
    parse, per-type magnitude exclusivity — and the golden-ID
    enrichment path works straight off the scan."""
    from storm_data_etl_service_spark.functions.enrich import enrich
    from storm_data_etl_service_spark.sources.spc_datasource import (
        SPCReportsDataSource,
    )
    from storm_data_etl_service_spark.sources.storm_fixture import BASE_TS

    d = workdir / "reports"
    d.mkdir()
    (d / "240426_rpts_hail.csv").write_text(CSV_HEADER + "\n" + CSV_ROW + "\n")
    (d / "240426_rpts_torn.csv").write_text(
        "Time,F_Scale,Location,County,State,Lat,Lon,Comments\n"
        '2200,EF2, 3 N Salado ,Bell,TX, 30.98 ,-97.54,"Tornado. (FWD)"\n'
        "1200,EF0,short,row\n"  # short row must be skipped
    )
    (d / "notes.txt").write_text("ignored")

    spark.dataSource.register(SPCReportsDataSource)
    df = spark.read.format("spc_reports").load(str(d))
    rows = {r["EventType"]: r for r in df.collect()}
    assert set(rows) == {"hail", "tornado"}  # short row skipped
    assert df.rdd.getNumPartitions() == 2  # one partition per file
    torn = rows["tornado"]
    assert torn["F_Scale"] == "EF2" and torn["Size"] == "" and torn["Speed"] == ""
    assert torn["Location"] == "3 N Salado" and torn["Lat"] == "30.98"  # trimmed
    hail = rows["hail"]
    assert hail["Size"] == "125" and hail["F_Scale"] == ""

    enriched = enrich(
        df.withColumn("kafka_timestamp", F.lit(BASE_TS).cast("timestamp"))
    )
    by_type = {r["event_type"]: r for r in enriched.collect()}
    assert by_type["hail"]["id"] == "hail-5d91dda0f56ba124"
    assert by_type["tornado"]["measurement"]["magnitude"] == 2.0
    assert by_type["tornado"]["measurement"]["unit"] == "f_scale"


def test_map_in_arrow_decode_matches_pandas_path(spark, sf_dir):
    """The mapInArrow kernel must produce byte-identical features to
    the mapInPandas path — same contract, cheaper boundary."""
    from storm_data_etl_service_spark.operators.multimodal import (
        decode_media_arrow,
        media_from_documents,
        multimodal_decode_stats,
    )
    from storm_data_etl_service_spark.schemas import load_tables

    t = load_tables(spark, sf_dir)
    media = media_from_documents(t)
    arrow_rows = {tuple(r) for r in decode_media_arrow(media).collect()}
    pandas_rows = {tuple(r) for r in multimodal_decode_stats(t).collect()}
    assert arrow_rows == pandas_rows and arrow_rows


def test_read_storm_xml_enriches(spark, workdir):
    """Native XML source → raw-record contract → full enrichment:
    the golden hail record reproduces its deterministic ID from an
    XML rendering of the same report."""
    from storm_data_etl_service_spark.functions.enrich import enrich
    from storm_data_etl_service_spark.sources.files import read_storm_xml
    from storm_data_etl_service_spark.sources.storm_fixture import BASE_TS

    xml = workdir / "alerts.xml"
    xml.write_text(
        """<?xml version="1.0"?>
<alerts>
  <alert><Time>1510</Time><Size>125</Size>
    <Location>8 ESE Chappel</Location><County>San Saba</County>
    <State>TX</State><Lat>31.02</Lat><Lon>-98.44</Lon>
    <Comments>1.25 inch hail reported at Colorado Bend State Park. (SJT)</Comments></alert>
  <alert><Time>2200</Time><F_Scale>EF2</F_Scale>
    <Location>3 N Salado</Location><County>Bell</County>
    <State>TX</State><Lat>30.98</Lat><Lon>-97.54</Lon>
    <Comments>Tornado. (FWD)</Comments></alert>
</alerts>"""
    )
    raw = read_storm_xml(spark, str(xml))
    rows = {r["EventType"]: r for r in raw.collect()}
    assert set(rows) == {"hail", "tornado"}
    assert rows["hail"]["Speed"] == "" and rows["hail"]["F_Scale"] == ""

    enriched = enrich(
        raw.withColumn("kafka_timestamp", F.lit(BASE_TS).cast("timestamp"))
    )
    by_type = {r["event_type"]: r for r in enriched.collect()}
    assert by_type["hail"]["id"] == "hail-5d91dda0f56ba124"
    assert by_type["tornado"]["measurement"]["magnitude"] == 2.0
