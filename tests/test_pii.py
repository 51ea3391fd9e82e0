"""PII detection/redaction tier (llmdata/pii.py): closed-form Luhn pins,
planted-text extraction, the zero-shuffle/zero-UDF plan contract, and
redaction fixpoint. Each row's DuckDB twin is checked in
test_oracle_parity.py."""

from __future__ import annotations

from pyspark.sql import functions as F

from coin_for_rich_spark.llmdata.pii import luhn_valid, pii_audit


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


# ---------------------------------------------------------------- Luhn


def test_luhn_closed_form_pins(spark):
    """Known Luhn vectors: the ISO/IEC 7812 test number, the classic
    79927398713 example (and its off-by-one neighbors), and a 13-digit
    short card — both parities of string length exercise both fold arms."""
    cases = [
        ("4539578763621486", True),
        ("4539578763621487", False),
        ("79927398713", True),
        ("79927398710", False),
        ("79927398714", False),
        ("4222222222222", True),  # 13-digit Visa test number
    ]
    df = spark.createDataFrame([(c,) for c, _ in cases], "d string")
    got = {
        r["d"]: r["ok"]
        for r in df.select("d", luhn_valid(F.col("d")).alias("ok")).collect()
    }
    for digits, want in cases:
        assert got[digits] is want, (digits, want)


# ------------------------------------------------------- planted text


def test_pii_audit_planted_counts_and_redaction(spark):
    text = (
        "mail a@b.co or c.d+e@f-g.org, fetch https://x.io/p?q=1 "
        "from 192.168.0.1 (not 999.1.2.3), card 4539 5787 6362 1486 "
        "bogus 4539-5787-6362-1487, call +442071234567, ref 12345678"
    )
    out = pii_audit(_docs(spark, [(1, text)])).collect()[0]
    assert out["n_email"] == 2
    assert out["n_url"] == 1
    # 999.1.2.3 must NOT count: first octet out of range, and the leading
    # \b stops the match from restarting mid-digit-run at "99.1.2.3"
    assert out["n_ipv4"] == 1
    assert out["n_card_valid"] == 1
    assert out["n_card_invalid"] == 1
    assert out["n_phone"] == 1
    # counts are INDEPENDENT on the raw text: the phone's 12-digit tail is
    # also a digit run, 12345678 is the second; the card digits are
    # separator-split into ≤4-digit groups so they are not
    assert out["n_num"] == 2
    red = out["redacted_text"]
    for token in ("<EMAIL>", "<URL>", "<IP>", "<CARD>", "<PHONE>", "<NUM>"):
        assert token in red, (token, red)
    assert "4539" not in red and "@" not in red and "+44" not in red


def test_pii_redaction_is_a_fixpoint(spark):
    """Auditing already-redacted text finds nothing: the placeholder
    tokens contain no digits or pattern characters, so the scrub pass is
    idempotent — re-running a 100 TB pass over partially-scrubbed data
    cannot double-mangle it."""
    text = "a@b.co https://x.io 10.0.0.1 4539578763621486 +442071234567"
    first = pii_audit(_docs(spark, [(1, text)])).collect()[0]
    second = pii_audit(
        _docs(spark, [(1, first["redacted_text"])])
    ).collect()[0]
    for c in (
        "n_email", "n_url", "n_ipv4", "n_card_valid",
        "n_card_invalid", "n_phone", "n_num",
    ):
        assert second[c] == 0, (c, second)
    assert second["redacted_text"] == first["redacted_text"]


# ---------------------------------------------------------------- plan


def test_pii_audit_plan_is_scan_stage_only(spark, sf_dir):
    """100 TB posture pin: the audit is one select in the scan stage —
    no Exchange (zero shuffles) and no Python evaluation node (the Luhn
    fold and every count stay in JVM column algebra)."""
    from tests.pinned_rows import q_pii_audit

    plan = (
        q_pii_audit(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan
    assert "Python" not in plan and "ArrowEval" not in plan, plan


# ----------------------------------------------------------- streaming


def test_pii_audit_runs_unchanged_on_a_stream(spark, tmp_path):
    """Composition pin: the audit is a stateless select, so the SAME
    function applies to a streaming relation with no code change — the
    scrub pass drops into the streaming corpus-ingest path for free.
    availableNow drive to a memory sink must equal the batch result."""
    from coin_for_rich_spark.streaming.rollup import run_to_memory

    rows = [
        (1, "a@b.co and 4539578763621486"),
        (2, "see https://x.io from 10.0.0.1"),
    ]
    src = str(tmp_path / "docs")
    batch = spark.createDataFrame(rows, "doc_id bigint, text string")
    batch.write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(batch.schema).parquet(src)
    got = run_to_memory(
        pii_audit(stream), "pii_stream_t", "append"
    ).toPandas().sort_values("doc_id").reset_index(drop=True)
    want = (
        pii_audit(batch).toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    assert got.equals(want), (got, want)
