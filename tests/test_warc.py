"""WARC serializer/parser semantics and the distributed read path."""

import os
import signal
from datetime import datetime

import pytest

from apollo_service_spark.sources.warc import (
    build_warc_record,
    build_warc_segment,
    build_warcinfo,
    parse_warc_segment,
    read_warc,
    warc_records,
)

TS = datetime(2020, 1, 1, 12, 34, 56)


def test_record_golden_bytes():
    """The serializer is deterministic down to the byte: same inputs, same
    record — including the sha256-derived record id (no clock, no RNG)."""
    a = build_warc_record("https://x.test/p", TS, b"<html>hi</html>")
    b = build_warc_record("https://x.test/p", TS, b"<html>hi</html>")
    assert a == b
    assert a.startswith(b"WARC/1.0\r\nWARC-Type: response\r\n")
    assert b"WARC-Target-URI: https://x.test/p\r\n" in a
    assert b"WARC-Date: 2020-01-01T12:34:56Z\r\n" in a
    assert a.endswith(b"<html>hi</html>\r\n\r\n")


def test_roundtrip_multi_record_and_warcinfo_skip():
    recs = [
        ("https://a.test/1", TS, "héllo".encode("utf-8")),
        ("https://a.test/2", TS, b"", "text/plain"),
        ("https://a.test/3", TS, b"\x00\x01binary\xff"),
    ]
    blob = build_warc_segment(recs, "seg-7")
    out = parse_warc_segment(blob)
    assert [r["url"] for r in out] == [u for u, _, *_ in recs]
    assert out[0]["payload"] == "héllo".encode("utf-8")
    assert out[1]["payload"] == b"" and out[1]["content_type"] == "text/plain"
    assert out[2]["payload"] == b"\x00\x01binary\xff"
    assert all(r["warc_ts"] == TS for r in out)
    # the warcinfo preamble parsed structurally but emitted no row
    assert len(out) == 3


def test_payload_may_contain_record_terminator_bytes():
    """Content-Length framing, not delimiter scanning: a payload that
    CONTAINS '\\r\\n\\r\\nWARC/1.0' must come back intact."""
    evil = b"x\r\n\r\nWARC/1.0\r\nWARC-Type: response\r\n\r\ny"
    blob = build_warc_segment([("https://e.test/", TS, evil)])
    out = parse_warc_segment(blob)
    assert out[0]["payload"] == evil


def test_truncated_segment_raises():
    blob = build_warc_segment([("https://t.test/", TS, b"abcdef")])
    with pytest.raises(ValueError, match="truncated|terminator"):
        parse_warc_segment(blob[:-6])
    with pytest.raises(ValueError, match="unterminated"):
        parse_warc_segment(b"WARC/1.0\r\nWARC-Type: response")


def _record(fields: list, body: bytes = b"HTTP/1.1 200 OK\r\n\r\nx") -> bytes:
    """A record after the warcinfo preamble, from raw header lines."""
    head = "\r\n".join(["WARC/1.0", *fields]).encode()
    return head + b"\r\n\r\n" + body + b"\r\n\r\n"


_RESPONSE = ["WARC-Type: response", "WARC-Target-URI: https://m.test/",
             "WARC-Date: 2020-01-01T00:00:00Z"]


@pytest.mark.parametrize(
    "record, message",
    [
        # a negative length steps back onto the warcinfo terminator
        (_record(["WARC-Type: metadata", "Content-Length: -58"]), "Content-Length"),
        (_record(["WARC-Type: metadata"]), "Content-Length"),
        (_record(["WARC-Type: metadata", "Content-Length: 12x"]), "Content-Length"),
        (_record(["WARC-Type: metadata", "Content-Length: ²"]), "Content-Length"),
        (_record(_RESPONSE[:1] + _RESPONSE[2:] + ["Content-Length: 20"]),
         "warc-target-uri"),
        (_record(_RESPONSE[:2] + ["Content-Length: 20"]), "warc-date"),
        (_record(_RESPONSE[:2] + ["WARC-Date: 2020-13-01", "Content-Length: 20"]),
         "WARC-Date"),
        (b"WARC/1.0\r\nWARC-Type: \xff\r\nContent-Length: 0\r\n\r\n\r\n\r\n", "UTF-8"),
    ],
    ids=["negative-length", "no-length", "non-numeric-length", "non-ascii-digit",
         "no-target-uri", "no-date", "bad-date", "non-utf8-header"],
)
def test_malformed_record_raises_with_offset(record, message):
    """Every structural error is a ValueError that names the record's byte
    offset; the alarm turns a parser that loops into a failure."""
    preamble = build_warcinfo("seg")

    def hang(signum, frame):
        raise TimeoutError("parse_warc_segment did not return")

    old = signal.signal(signal.SIGALRM, hang)
    signal.alarm(5)
    try:
        with pytest.raises(ValueError, match=message) as exc:
            parse_warc_segment(preamble + record)
    finally:
        signal.alarm(0)
        signal.signal(signal.SIGALRM, old)
    assert f"offset {len(preamble)}" in str(exc.value)


def test_distributed_parse_and_disk_read(spark, tmp_path):
    segs = []
    expect = set()
    for s in range(3):
        recs = []
        for i in range(4):
            url = f"https://d.test/{s}/{i}"
            payload = f"seg {s} doc {i}".encode()
            recs.append((url, TS, payload))
            expect.add((url, payload))
        segs.append(build_warc_segment(recs, f"seg-{s}"))
        with open(os.path.join(tmp_path, f"part-{s}.warc"), "wb") as fh:
            fh.write(segs[-1])

    df = spark.createDataFrame([(s,) for s in segs], "segment binary")
    got = {
        (r["url"], bytes(r["payload"])) for r in warc_records(df).collect()
    }
    assert got == expect

    from_disk = {
        (r["url"], bytes(r["payload"]))
        for r in read_warc(spark, str(tmp_path)).collect()
    }
    assert from_disk == expect


def test_engine_crawls_warc_backed_pages(spark, tmp_path):
    """The capstone: serialize the crawl corpus to on-disk WARC segments,
    read them back through binaryFile → parse → pages, and run the FULL
    frontier engine over the WARC-backed table — the crawl log must equal
    the parquet-backed run exactly (url, iteration, rank).  This is the
    Common-Crawl deployment shape: the engine crawling directly over
    segment files, no intermediate table materialization."""
    from apollo_service_spark.operators.frontier import CrawlConfig, FrontierEngine
    from apollo_service_spark.sources.corpus import corpus_to_spark, gen_corpus
    from apollo_service_spark.sources.storage import SnapshotStore
    from tests.conftest import crawl_log_tuples
    from apollo_service_spark.sources.warc import pages_from_warc

    corpus = corpus_to_spark(spark, gen_corpus(n_hosts=3, n_pages=60, seed=7))
    warc_dir = tmp_path / "segments"
    os.makedirs(warc_dir)
    # html rows become text/html records; null-html rows (the corpus's
    # never-expanded documents) become empty application/octet-stream
    # records, so the null/non-null split the fetch stage branches on
    # survives the round trip
    recs = [
        (r["url"], r["warc_ts"], b"", "application/octet-stream")
        if r["html"] is None
        else (r["url"], r["warc_ts"], bytes(r["html"]), "text/html")
        for r in corpus["pages"].select("url", "warc_ts", "html")
        .orderBy("url")
        .collect()
    ]
    for i in range(4):
        with open(warc_dir / f"part-{i}.warc", "wb") as fh:
            fh.write(build_warc_segment(recs[i::4], f"segment-{i}"))

    pages_warc = pages_from_warc(read_warc(spark, str(warc_dir)))
    # the round trip preserves the null/non-null html split exactly
    orig = corpus["pages"]
    assert pages_warc.filter("html IS NULL").count() == orig.filter(
        "html IS NULL"
    ).count()
    assert pages_warc.count() == orig.count()

    def run(pages, path):
        store = SnapshotStore(str(path))
        FrontierEngine(
            spark, pages, store, CrawlConfig(),
            robots=corpus["robots"], politeness=corpus["politeness"],
        ).run(seeds=corpus["seeds"])
        return crawl_log_tuples(spark, store)

    assert run(pages_warc, tmp_path / "warc_run") == run(
        orig, tmp_path / "parquet_run"
    )


def test_gzip_segment_roundtrip():
    """The real Common-Crawl layout: .warc.gz with one gzip member per
    record. Parsing the compressed blob must equal parsing the plain one,
    and a truncated member must fail loudly."""
    recs = [
        (f"https://gz.test/{i}", TS, f"payload-{i}".encode() * (i + 1))
        for i in range(4)
    ]
    plain = build_warc_segment(recs, "gz-seg")
    gz = build_warc_segment(recs, "gz-seg", compress=True)
    assert gz[:2] == b"\x1f\x8b" and gz != plain

    a = parse_warc_segment(plain)
    b = parse_warc_segment(gz)
    assert [(r["url"], r["payload"]) for r in a] == [
        (r["url"], r["payload"]) for r in b
    ]

    # truncation fails loudly in the compressed domain too
    with pytest.raises(ValueError, match="gzip"):
        parse_warc_segment(gz[:-4])


def test_read_warc_handles_gz_files_transparently(spark, tmp_path):
    recs = [(f"https://mix.test/{i}", TS, f"p{i}".encode()) for i in range(3)]
    with open(os.path.join(tmp_path, "a.warc"), "wb") as fh:
        fh.write(build_warc_segment(recs[:2], "a"))
    with open(os.path.join(tmp_path, "b.warc.gz"), "wb") as fh:
        fh.write(build_warc_segment(recs[2:], "b", compress=True))
    got = {
        (r["url"], bytes(r["payload"]))
        for r in read_warc(spark, str(tmp_path)).collect()
    }
    assert got == {(u, p) for u, _, p in recs}
