"""WARC source/sink: pure parser/serializer round trips plus the
distributed read_warc/write_warc round trip."""

import gzip
import os

import pytest

from llm_scraper_spark.sources.warc import (
    build_http_response,
    build_warc_record,
    parse_warc_bytes,
    read_warc,
    write_warc,
)


def _record(uri="http://h1.example/p1", status=200, ctype="text/html",
            body=b"<html>hi</html>"):
    return build_warc_record(
        "response", "<urn:md5:abc>", "2026-08-19T00:00:00Z", uri,
        build_http_response(status, "OK", ctype, body),
    )


def test_parse_roundtrip_plain_and_gzip():
    raw = _record() + _record(uri="http://h2.example/p2", status=404,
                              body=b"gone")
    for data in (raw,
                 gzip.compress(_record(), mtime=0)
                 + gzip.compress(_record(uri="http://h2.example/p2",
                                         status=404, body=b"gone"), mtime=0)):
        recs = parse_warc_bytes(data)
        assert len(recs) == 2
        assert recs[0]["target_uri"] == "http://h1.example/p1"
        assert recs[0]["http_status"] == 200
        assert recs[0]["content_type"] == "text/html"
        assert recs[0]["payload"] == b"<html>hi</html>"
        assert recs[1]["http_status"] == 404
        assert recs[1]["payload"] == b"gone"
        assert recs[1]["record_id"] == "<urn:md5:abc>"


def test_parse_content_length_discipline():
    # bodies that CONTAIN record boundaries / blank lines must not split:
    # Content-Length governs, not pattern matching
    tricky = b"x\r\n\r\nWARC/1.0\r\n\r\nstill-the-body\x00\xff"
    raw = _record(body=tricky) + _record(uri="http://h2.example/p2",
                                         body=b"after")
    recs = parse_warc_bytes(raw)
    assert len(recs) == 2
    assert recs[0]["payload"] == tricky
    assert recs[1]["payload"] == b"after"


def test_parse_malformed_and_truncated():
    assert parse_warc_bytes(None) == []
    assert parse_warc_bytes(b"") == []
    assert parse_warc_bytes(b"not a warc at all") == []
    whole = _record()
    # truncated mid-body: the partial record is dropped, no crash
    assert parse_warc_bytes(whole[: len(whole) - 10]) == []
    # one good record + corrupt tail: the good one survives
    recs = parse_warc_bytes(whole + b"garbage tail")
    assert len(recs) == 1 and recs[0]["http_status"] == 200


def test_parse_non_response_record():
    rec = build_warc_record("warcinfo", "<urn:md5:w>", "2026-08-19T00:00:00Z",
                            None, b"software: llm-scraper-spark",
                            content_type="application/warc-fields")
    out = parse_warc_bytes(rec)
    assert len(out) == 1
    assert out[0]["warc_type"] == "warcinfo"
    assert out[0]["http_status"] is None
    assert out[0]["target_uri"] is None
    assert out[0]["payload"] == b"software: llm-scraper-spark"
    assert out[0]["content_type"] == "application/warc-fields"


@pytest.mark.parametrize("compress", [True, False])
def test_distributed_roundtrip(spark, tmp_path, compress):
    from pyspark.sql import functions as F

    records = spark.range(0, 24).select(
        F.concat(F.lit("http://h"), (F.col("id") % 5).cast("string"),
                 F.lit(".example/p"), F.col("id").cast("string"))
        .alias("target_uri"),
        F.when(F.col("id") % 7 == 0, 404).otherwise(200)
        .cast("int").alias("http_status"),
        F.lit("text/plain").alias("content_type"),
        F.encode(F.concat(F.lit("body-"), F.col("id").cast("string")),
                 "utf-8").alias("payload"),
        (F.col("id") % 3).alias("file_id"),
    )
    out_dir = str(tmp_path / ("gz" if compress else "plain"))
    manifest = write_warc(records, out_dir, compress=compress).collect()
    assert sorted(m["file_id"] for m in manifest) == [0, 1, 2]
    assert sum(m["n_records"] for m in manifest) == 24
    for m in manifest:
        assert os.path.exists(m["path"])
        assert os.path.getsize(m["path"]) == m["n_bytes"]

    back = read_warc(spark, out_dir).collect()
    assert len(back) == 24
    by_uri = {r["target_uri"]: r for r in back}
    for i in range(24):
        r = by_uri[f"http://h{i % 5}.example/p{i}"]
        assert bytes(r["payload"]) == f"body-{i}".encode()
        assert r["http_status"] == (404 if i % 7 == 0 else 200)
        assert r["warc_type"] == "response"
        assert r["warc_file"].startswith("part-")
        assert r["record_id"].startswith("<urn:md5:")


def test_write_deterministic(spark, tmp_path):
    from pyspark.sql import functions as F

    records = spark.range(0, 10).select(
        F.concat(F.lit("http://x.example/"), F.col("id").cast("string"))
        .alias("target_uri"),
        F.lit(200).cast("int").alias("http_status"),
        F.lit("text/plain").alias("content_type"),
        F.encode(F.col("id").cast("string"), "utf-8").alias("payload"),
        F.lit(0).cast("long").alias("file_id"),
    )
    d1, d2 = str(tmp_path / "a"), str(tmp_path / "b")
    # different partition layouts must still write byte-identical shards
    write_warc(records.repartition(8), d1).collect()
    write_warc(records.coalesce(1), d2).collect()
    b1 = open(os.path.join(d1, "part-00000.warc.gz"), "rb").read()
    b2 = open(os.path.join(d2, "part-00000.warc.gz"), "rb").read()
    assert b1 == b2


def test_cdx_ranged_fetch_equals_full_read(spark, tmp_path):
    from pyspark.sql import functions as F

    from llm_scraper_spark.sources.warc import fetch_warc_records, write_warc_cdx

    records = spark.range(0, 30).select(
        F.concat(F.lit("http://c"), (F.col("id") % 4).cast("string"),
                 F.lit(".example/r"), F.col("id").cast("string"))
        .alias("target_uri"),
        F.lit(200).cast("int").alias("http_status"),
        F.lit("text/plain").alias("content_type"),
        F.encode(F.concat(F.lit("payload-"), F.col("id").cast("string")),
                 "utf-8").alias("payload"),
        (F.col("id") % 4).alias("file_id"),
    )
    out_dir = str(tmp_path / "cdx")
    cdx = write_warc_cdx(records, out_dir)
    cdx_rows = cdx.collect()
    assert len(cdx_rows) == 30
    # offsets tile each shard exactly: sorted ranges are contiguous from 0
    by_path = {}
    for r in cdx_rows:
        by_path.setdefault(r["path"], []).append((r["offset"], r["length"]))
    for path, ranges in by_path.items():
        pos = 0
        for off, ln in sorted(ranges):
            assert off == pos
            pos += ln
        assert pos == os.path.getsize(path)

    fetched = fetch_warc_records(spark, cdx).collect()
    assert len(fetched) == 30
    for r in fetched:
        i = int(r["target_uri"].rsplit("r", 1)[1])
        assert bytes(r["payload"]) == f"payload-{i}".encode()
        assert r["http_status"] == 200


def test_cdx_selective_fetch(spark, tmp_path):
    from pyspark.sql import functions as F

    from llm_scraper_spark.sources.warc import fetch_warc_records, write_warc_cdx

    records = spark.range(0, 20).select(
        F.concat(F.lit("http://s.example/r"), F.col("id").cast("string"))
        .alias("target_uri"),
        F.when(F.col("id") % 5 == 0, 404).otherwise(200)
        .cast("int").alias("http_status"),
        F.lit("text/plain").alias("content_type"),
        F.encode(F.col("id").cast("string"), "utf-8").alias("payload"),
        (F.col("id") % 2).alias("file_id"),
    )
    cdx = write_warc_cdx(records, str(tmp_path / "sel"))
    # the index is the queryable side: filter on it, touch only those members
    hits = fetch_warc_records(spark, cdx.filter(F.col("http_status") == 404))
    out = hits.collect()
    assert sorted(int(r["target_uri"].rsplit("r", 1)[1]) for r in out) == [
        0, 5, 10, 15]
    assert all(r["http_status"] == 404 for r in out)


def test_crawl_wave_warc_archive(spark, tmp_path):
    """Opt-in crawl archiving: each wave's fetch output lands as
    Common-Crawl-style wave=N WARC shards + CDX index, byte-faithful to
    the deterministic fetcher's pages."""
    from llm_scraper_spark.crawl.waves import CrawlRun, synthetic_fetcher
    from llm_scraper_spark.sources.synthetic import synth_page, synth_seeds
    from llm_scraper_spark.sources.warc import fetch_warc_records, read_warc

    arc = str(tmp_path / "arc")
    run = CrawlRun(spark, str(tmp_path / "state"),
                   fetcher=synthetic_fetcher(n_hosts=10, fanout=3,
                                             with_content=True),
                   archive_dir=arc, archive_shards=3)
    run.run(2, seeds=synth_seeds(spark, 20, n_hosts=10))

    n_sched = sum(run.state.read("schedule_log", w).count() for w in (0, 1))
    recs = read_warc(spark, f"{arc}/wave=*/*.warc.gz").collect()
    assert len(recs) == n_sched > 0
    for r in recs:
        # archived payload is exactly what the fetcher produced for the url
        assert bytes(r["payload"]).decode() == synth_page(
            r["target_uri"], n_hosts=10, fanout=3)["content"]
        assert r["http_status"] == 200

    # the CDX index round-trips: ranged fetches reproduce the full read
    cdx = spark.read.parquet(f"{arc}/wave=0/cdx.parquet")
    ranged = fetch_warc_records(spark, cdx).collect()
    full = read_warc(spark, f"{arc}/wave=0/*.warc.gz").collect()
    assert ({(r["target_uri"], bytes(r["payload"])) for r in ranged}
            == {(r["target_uri"], bytes(r["payload"])) for r in full})
    assert cdx.count() == len(full)
