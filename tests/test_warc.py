"""WARC crawl-archive ingest (llmdata/warc.py): the per-member-gzip wire
shape, header-grammar generality, the typed dead-letter contract, and
the records→documents composition. Each row's DuckDB twin is checked in
test_oracle_parity.py."""

from __future__ import annotations

import zlib

import pytest

from pyspark.sql import functions as F

from coin_for_rich_spark.llmdata.warc import (
    doc_record_uuid,
    http_response,
    warc_demux,
    warc_mux,
    warc_record,
)


def _recs(n: int = 5) -> list[bytes]:
    return [
        warc_record(
            "response",
            doc_record_uuid(i),
            http_response(f"<html><body><p>doc {i}</p></body></html>".encode()),
            target_uri=f"http://crawl.example/doc/{i}",
        )
        for i in range(n)
    ]


def test_gzip_members_equal_plain_and_slice_standalone():
    """Per-record gzip members (the Common Crawl shape): same parsed
    records as the plain stream, and each (offset, length) byte range
    decompresses STANDALONE to exactly one record — the property remote
    range-fetch readers rely on."""
    recs = _recs()
    plain, gz = warc_mux(recs), warc_mux(recs, gzip_members=True)
    a, b = warc_demux(plain), warc_demux(gz)
    assert [r.record_id for r in a] == [r.record_id for r in b]
    assert [r.body for r in a] == [r.body for r in b]
    assert all(r.error is None for r in b)
    for rec, orig in zip(b, recs):
        member = gz[rec.offset : rec.offset + rec.length]
        assert zlib.decompress(member, 31) == orig
    # members tile the file exactly
    assert b[0].offset == 0
    assert b[-1].offset + b[-1].length == len(gz)
    # deterministic bytes (fixture reproducibility across runs/executors)
    assert gz == warc_mux(recs, gzip_members=True)


def test_demux_is_more_general_than_mux():
    """Scrambled header order, arbitrary case, unknown headers, LF-ish
    whitespace in values — the demuxer must not depend on the muxer's
    fixed layout."""
    block = http_response(b"<p>x</p>", status=301, reason="Moved")
    raw = (
        b"WARC/1.0\r\n"
        b"content-LENGTH: " + str(len(block)).encode() + b"\r\n"
        b"X-Unknown-Header: whatever\r\n"
        b"WARC-Target-URI:   http://a/b  \r\n"
        b"warc-type: response\r\n"
        b"Content-Type: application/http; msgtype=response\r\n"
        b"WARC-Record-ID: <urn:uuid:abc>\r\n"
        b"WARC-Date: 2020-02-02T02:02:02Z\r\n"
        b"\r\n" + block + b"\r\n\r\n"
    )
    (r,) = warc_demux(raw)
    assert r.error is None
    assert r.warc_type == "response"
    assert r.target_uri == "http://a/b"
    assert r.record_id == "urn:uuid:abc"
    assert r.http_status == 301
    assert r.body == b"<p>x</p>"
    assert r.length == len(raw)


def test_non_http_records_carry_block_through():
    """warcinfo/resource records: NULL http fields, body == raw block."""
    rec = warc_record(
        "warcinfo",
        doc_record_uuid(1),
        b"software: test\r\n",
        content_type="application/warc-fields",
    )
    (r,) = warc_demux(rec)
    assert r.error is None
    assert r.warc_type == "warcinfo"
    assert r.http_status is None
    assert r.http_content_type is None
    assert r.body == b"software: test\r\n"


@pytest.mark.parametrize(
    "mangle, reason",
    [
        (lambda raw: b"HARC" + raw[4:], "bad_version_line"),
        (lambda raw: raw.replace(b"Content-Length", b"X-Len"), "missing_content_length"),
        (lambda raw: raw[:-10], "truncated_block"),
        (lambda raw: raw[:-4] + b"XXXX", "missing_record_separator"),
    ],
)
def test_dead_letters_are_typed_not_thrown(mangle, reason):
    """A structurally broken record becomes ONE typed dead-letter row —
    and a clean record earlier in the same stream still parses."""
    good, bad = _recs(2)
    out = warc_demux(good + mangle(bad))
    assert len(out) == 2
    assert out[0].error is None and out[0].http_status == 200
    assert out[1].error == reason
    assert out[1].body is None


def test_warc_to_documents_roundtrip(spark):
    """records → documents composition: the html wrapper strips back to
    the original text and the URL canonicalizes, through real bytes."""
    from coin_for_rich_spark.llmdata.warc import (
        attach_warc_files,
        warc_records,
        warc_to_documents,
    )

    texts = ["hello crawl world", "second doc body", "third one"]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    out = (
        warc_to_documents(warc_records(attach_warc_files(docs, docs_per_file=2)))
        .orderBy("url")
        .collect()
    )
    # html_text's pinned shape keeps the block-final newline from </p>
    assert [r.text.rstrip("\n") for r in out] == texts
    assert [r.url for r in out] == [
        f"http://crawl.example/doc/{i}" for i in range(3)
    ]
    assert out[0].canonical_url == "http://crawl.example/doc/0"
    # offsets point at real record frames in the muxed file
    assert out[0].record_offset == 0


def test_gzip_leg_through_spark_plumbing(spark):
    """The mapInPandas demux over per-member-gzip fixture files: same
    rows as the plain leg, offsets now into the COMPRESSED stream."""
    from coin_for_rich_spark.llmdata.warc import attach_warc_files, warc_records

    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(6)], "doc_id long, text string"
    )
    plain = warc_records(attach_warc_files(docs)).orderBy("target_uri").collect()
    gz = (
        warc_records(attach_warc_files(docs, gzip_members=True))
        .orderBy("target_uri")
        .collect()
    )
    assert [r.target_uri for r in plain] == [r.target_uri for r in gz]
    assert [bytes(r.body) for r in plain] == [bytes(r.body) for r in gz]
    assert all(r.parse_error is None for r in gz)
    # compressed frames are smaller than plain ones for these payloads
    assert sum(r.record_length for r in gz) < sum(
        r.record_length for r in plain
    )


def test_crawl_to_corpus_composition(spark):
    """End-to-end crawl path: WARC bytes → records → documents → exact
    dedup must agree with exact dedup run directly on the source texts —
    the evidence that the ingest boundary composes with the curation
    tiers rather than just existing next to them."""
    from coin_for_rich_spark.llmdata.dedup import exact_dedup
    from coin_for_rich_spark.llmdata.warc import (
        attach_warc_files,
        warc_records,
        warc_to_documents,
    )

    # duplicates planted ACROSS warc-file boundaries (docs_per_file=2)
    texts = ["same text", "unique one", "same text", "unique two", "same text"]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    corpus = warc_to_documents(
        warc_records(attach_warc_files(docs, docs_per_file=2))
    ).select(
        F.regexp_extract("url", r"(\d+)$", 1).cast("long").alias("doc_id"),
        "text",
    )
    via_warc = {
        (r.keep_id, r.n_copies)
        for r in exact_dedup(corpus).collect()
    }
    direct = {
        (r.keep_id, r.n_copies)
        for r in exact_dedup(
            docs.select("doc_id", F.concat("text", F.lit("\n")).alias("text"))
        ).collect()
    }
    assert via_warc == direct
    assert (0, 3) in via_warc  # the planted triplet collapsed to doc 0


def test_streaming_warc_ingest_end_to_end(spark, tmp_path):
    """Crawl archives STREAM in: a file-stream of WARC payloads is
    demuxed (mapInPandas works unchanged on the streaming relation),
    composed through warc_to_documents, and fed to the standing
    corpus-ingest loop — duplicates across micro-batches are suppressed
    by the fingerprint index, survivors land exactly-once per batch."""
    import os

    from coin_for_rich_spark.llmdata.dedup_index import build_dedup_index
    from coin_for_rich_spark.llmdata.warc import (
        doc_record_uuid,
        http_response,
        warc_mux,
        warc_record,
        warc_to_documents,
        warc_records,
    )
    from coin_for_rich_spark.streaming.corpus import (
        read_ingested_corpus,
        streaming_corpus_ingest,
    )
    from coin_for_rich_spark.streaming.source import read_file_stream

    def text(seed: int) -> str:
        return " ".join(f"w{seed}x{(i * 7) % 97}" for i in range(60))

    def warc_file(docs: list[tuple[int, str]]) -> bytes:
        return warc_mux(
            [
                warc_record(
                    "response",
                    doc_record_uuid(i),
                    http_response(
                        f"<html><body><p>{t}</p></body></html>".encode()
                    ),
                    target_uri=f"http://crawl.example/doc/{i}",
                )
                for i, t in docs
            ],
            gzip_members=True,
        )

    # batch 1 re-crawls doc 100's content under a new id (suppressed by
    # the standing index) and adds one fresh doc
    chunks = [
        [(0, warc_file([(100, text(1)), (101, text(2))]))],
        [(1, warc_file([(200, text(1)), (201, text(3))]))],
    ]
    stage = str(tmp_path / "stage")
    os.makedirs(stage)
    schema = None
    for i, rows in enumerate(chunks):
        df = spark.createDataFrame(rows, "file_id long, payload binary").coalesce(1)
        sub = os.path.join(stage, f"chunk_{i}")
        df.write.mode("overwrite").parquet(sub)
        part = next(
            f
            for f in os.listdir(sub)
            if f.startswith("part-") and f.endswith(".parquet")
        )
        final = os.path.join(stage, f"{i:03d}.parquet")
        os.replace(os.path.join(sub, part), final)
        base = os.stat(stage).st_mtime
        os.utime(final, (base + 10.0 * (i + 1),) * 2)
        schema = df.schema

    index_path = str(tmp_path / "idx")
    build_dedup_index(
        spark.createDataFrame([], "doc_id long, text string"), index_path
    )
    docs_stream = warc_to_documents(
        warc_records(read_file_stream(spark, stage, schema))
    ).select(
        F.regexp_extract("url", r"(\d+)$", 1).cast("long").alias("doc_id"),
        "text",
    )
    q = streaming_corpus_ingest(
        docs_stream, index_path, str(tmp_path / "corpus"), str(tmp_path / "ckpt")
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r.doc_id: r.ingest_batch
        for r in read_ingested_corpus(spark, str(tmp_path / "corpus")).collect()
    }
    assert got == {100: 0, 101: 0, 201: 1}


def test_wet_conversion_records_roundtrip(spark):
    """WET (pre-extracted plain text) leg: conversion records carry the
    text as the block — wet_to_documents returns it VERBATIM (no HTTP
    parse, no tag strip), while response records in the same stream stay
    invisible to the WET path and vice versa."""
    from coin_for_rich_spark.llmdata.warc import (
        warc_mux,
        warc_records,
        wet_record,
        wet_to_documents,
        warc_to_documents,
    )

    wet = [
        wet_record(i, f"http://crawl.example/doc/{i}", f"plain text {i}\nline2")
        for i in range(3)
    ]
    resp = _recs(2)  # interleave response records in the same file
    payload = warc_mux([wet[0], resp[0], wet[1], resp[1], wet[2]])
    files = spark.createDataFrame(
        [(0, 5, payload)], "file_id long, n_records int, payload binary"
    )
    recs = warc_records(files)
    docs = wet_to_documents(recs).orderBy("url").collect()
    assert [r.text for r in docs] == [f"plain text {i}\nline2" for i in range(3)]
    assert [r.url for r in docs] == [f"http://crawl.example/doc/{i}" for i in range(3)]
    # the HTTP path sees only the response records
    assert warc_to_documents(recs).count() == 2
