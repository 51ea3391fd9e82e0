"""WebDataset-style tar shard export (llmdata/tarshard.py):
plan≡realized-bytes certification, stdlib-tarfile interoperability,
determinism, and header-walk safety. Each row's DuckDB twin is checked
in test_oracle_parity.py."""

from __future__ import annotations

import io
import tarfile

import pytest

from coin_for_rich_spark.llmdata.tarshard import (
    tar_archive,
    tar_header,
    tar_index,
)


def test_plan_equals_realized_bytes(spark):
    """tar_shard_plan's closed-form manifest must describe EXACTLY the
    bytes tar_shard_write produces — same offsets, sizes, shard totals —
    for edge payloads (empty doc, exactly-one-block doc, block+1)."""
    from coin_for_rich_spark.llmdata.tarshard import (
        tar_shard_members,
        tar_shard_plan,
        tar_shard_write,
    )

    docs = spark.createDataFrame(
        [
            (0, "", "en"),
            (1, "x" * 512, "de"),
            (2, "y" * 513, "fr"),
            (3, "hello world", "en"),
            (10, "z" * 100, "es"),
        ],
        "doc_id long, text string, lang string",
    )
    plan = (
        tar_shard_plan(docs, docs_per_shard=4)
        .select(
            "shard_id",
            "member_name",
            "payload_bytes",
            "hdr_offset",
            "data_offset",
            "shard_total_bytes",
        )
        .orderBy("shard_id", "hdr_offset")
        .collect()
    )
    real = (
        tar_shard_members(tar_shard_write(docs, docs_per_shard=4))
        .select(
            "shard_id",
            "member_name",
            "payload_bytes",
            "hdr_offset",
            "data_offset",
            "shard_total_bytes",
        )
        .orderBy("shard_id", "hdr_offset")
        .collect()
    )
    assert [tuple(r) for r in plan] == [tuple(r) for r in real]


def test_stdlib_tarfile_reads_shards(spark):
    """Interop: the shards must be plain ustar that `tarfile` (and any
    WebDataset loader) reads back name- and byte-identically."""
    from coin_for_rich_spark.llmdata.tarshard import tar_shard_write

    texts = {0: "alpha", 1: "beta doc", 2: "gamma " * 50}
    docs = spark.createDataFrame(
        [(i, t, "en") for i, t in texts.items()],
        "doc_id long, text string, lang string",
    )
    (shard,) = tar_shard_write(docs, docs_per_shard=16).collect()
    tf = tarfile.open(fileobj=io.BytesIO(bytes(shard.payload)))
    names = tf.getnames()
    assert names == [
        f"{i:012d}.{ext}" for i in sorted(texts) for ext in ("json", "txt")
    ]
    for i, t in texts.items():
        assert tf.extractfile(f"{i:012d}.txt").read() == t.encode()
        assert (
            tf.extractfile(f"{i:012d}.json").read()
            == f'{{"doc_id":{i},"lang":"en"}}'.encode()
        )
    assert len(bytes(shard.payload)) % 10240 == 0


def test_writer_is_deterministic(spark):
    """A retried task must rewrite byte-identical shards (mtime 0, fixed
    member order) — the idempotence exactly-once sinks lean on."""
    from coin_for_rich_spark.llmdata.tarshard import tar_shard_write

    docs = spark.createDataFrame(
        [(i, f"text {i}", "en") for i in range(5)],
        "doc_id long, text string, lang string",
    )
    a = {r.shard_id: bytes(r.payload) for r in tar_shard_write(docs).collect()}
    b = {r.shard_id: bytes(r.payload) for r in tar_shard_write(docs).collect()}
    assert a == b


def test_index_verifies_checksums():
    """A corrupt header must raise, not mis-slice every later member."""
    data = bytearray(tar_archive([("a.txt", b"hello"), ("b.txt", b"world")]))
    data[10] ^= 0xFF  # flip a byte inside the first header's name field
    with pytest.raises(ValueError, match="checksum"):
        tar_index(bytes(data))


def test_header_rejects_overlong_names():
    with pytest.raises(ValueError, match="100 bytes"):
        tar_header("x" * 101, 0)


def test_write_tar_shards_to_disk_idempotent(spark, tmp_path):
    """The disk sink: real shard-%08d.tar files land atomically, the
    returned manifest is read back from the landed bytes, a re-run
    rewrites byte-identical files (exactly-once posture), and stdlib
    tarfile reads what's on disk."""
    import os

    from coin_for_rich_spark.llmdata.tarshard import write_tar_shards

    docs = spark.createDataFrame(
        [(i, f"document body {i} " * (i + 1), "en") for i in range(10)],
        "doc_id long, text string, lang string",
    )
    out = str(tmp_path / "export")
    m1 = write_tar_shards(docs, out, docs_per_shard=4).toPandas()
    files = sorted(f for f in os.listdir(out) if f.endswith(".tar"))
    assert files == ["shard-00000000.tar", "shard-00000001.tar", "shard-00000002.tar"]
    assert len(m1) == 20  # 10 docs x (json + txt)
    assert not [f for f in os.listdir(out) if ".tmp-" in f]
    blobs1 = {f: open(os.path.join(out, f), "rb").read() for f in files}
    with tarfile.open(os.path.join(out, files[0])) as tf:
        assert tf.extractfile("000000000003.txt").read().startswith(
            b"document body 3 "
        )
    # re-run: byte-identical shards, identical manifest
    m2 = write_tar_shards(docs, out, docs_per_shard=4).toPandas()
    blobs2 = {f: open(os.path.join(out, f), "rb").read() for f in files}
    assert blobs1 == blobs2
    key = ["shard_id", "member_name"]
    assert m1.sort_values(key).reset_index(drop=True).equals(
        m2.sort_values(key).reset_index(drop=True)
    )
