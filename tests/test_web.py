"""Web-corpus preprocessing: HTML text extraction and URL canonicalization."""

from __future__ import annotations

from coin_for_rich_spark.llmdata import canonicalize_urls, extract_html_text


def _one(spark, html):
    df = spark.createDataFrame([(0, html)], "doc_id long, text string")
    return extract_html_text(df).first()


def test_html_extraction_drops_script_content_and_keeps_structure(spark):
    html = """<html><head><title>T</title>
    <script>var tracking = "SECRET";</script>
    <style>.x { color: red }</style></head>
    <body><!-- comment -->
    <h1>Heading</h1>
    <p>First paragraph with <b>bold</b> text.</p>
    <p>Second &amp; final &lt;para&gt;.</p>
    <ul><li>item one</li><li>item two</li></ul>
    </body></html>"""
    r = _one(spark, html)
    lines = r.extracted_text.split("\n")
    # script/style CONTENT gone, not just tags
    assert "SECRET" not in r.extracted_text and "color" not in r.extracted_text
    assert "comment" not in r.extracted_text
    # block boundaries became real lines
    assert "T Heading" == lines[0]
    assert "First paragraph with bold text." in lines
    assert "Second & final <para>." in lines
    assert "item one" in lines and "item two" in lines
    assert r.n_lines == len(lines)


def test_html_extraction_edges(spark):
    assert _one(spark, "no markup at all").extracted_text == "no markup at all"
    r = _one(spark, "<script>only()</script>")
    assert r.extracted_text == "" and r.n_lines == 0
    # entities decode AFTER tag strip: encoded tags stay text
    assert _one(spark, "&lt;script&gt;x&lt;/script&gt;").extracted_text == "<script>x</script>"
    # nbsp and numeric entities neutralized
    assert _one(spark, "a&nbsp;b&#8212;c").extracted_text == "a b c"


def test_canonical_url_rules(spark):
    cases = [
        ("HTTPS://WWW.Example.COM:443/Path/?utm_source=x&q=1#frag",
         "https://example.com/Path?q=1"),
        ("http://example.com:80/", "http://example.com"),
        ("http://example.com:8080/a", "http://example.com:8080/a"),
        ("https://example.com/a?utm_campaign=c", "https://example.com/a"),
        ("https://example.com/a?q=1&utm_medium=m&r=2",
         "https://example.com/a?q=1&r=2"),
        # a LEADING tracking param with 2+ kept params: the FIRST remaining
        # separator must become '?' (the greedy-regex regression shape —
        # 'path&b=2?c=3' would fork equivalent URLs into different keys)
        ("https://example.com/path?utm_source=x&b=2&c=3",
         "https://example.com/path?b=2&c=3"),
        ("https://example.com/p?gclid=g&a=1&b=2&c=3",
         "https://example.com/p?a=1&b=2&c=3"),
        ("https://sub.example.com/a/", "https://sub.example.com/a"),
        ("not a url", "not a url"),
        (None, None),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, (u, _) in enumerate(cases)], "doc_id long, url string"
    )
    got = {r.doc_id: (r.canonical_url, r.domain) for r in canonicalize_urls(df).collect()}
    for i, (_, want) in enumerate(cases):
        assert got[i][0] == want, (i, got[i][0], want)
    assert got[0][1] == "example.com"
    assert got[2][1] == "example.com:8080"
    assert got[8][1] == ""  # opaque passthrough has no domain


def test_canonical_url_is_a_dedup_key(spark):
    variants = [
        "https://www.example.com/page?utm_source=a",
        "HTTPS://example.com/page/",
        "https://example.com:443/page#top",
    ]
    df = spark.createDataFrame(
        [(i, u) for i, u in enumerate(variants)], "doc_id long, url string"
    )
    keys = {r.canonical_url for r in canonicalize_urls(df).collect()}
    assert keys == {"https://example.com/page"}


def test_canonical_url_sorts_query_params(spark):
    """Param ORDER is presentation, not identity: ?a=1&b=2 and ?b=2&a=1
    are one resource and must share one dedup key (sorted rejoin)."""
    variants = [
        "https://example.com/p?b=2&a=1",
        "https://example.com/p?a=1&b=2",
        "https://example.com/p?b=2&utm_source=x&a=1",
    ]
    df = spark.createDataFrame(
        [(i, u) for i, u in enumerate(variants)], "doc_id long, url string"
    )
    keys = {r.canonical_url for r in canonicalize_urls(df).collect()}
    assert keys == {"https://example.com/p?a=1&b=2"}


def test_canonical_url_hardening_cases(spark):
    """The three review-pass hazards: a literal '&' in a query-less path
    must not become '?', '/?'-sequences inside parameter values are data,
    and author-escaped entities must not double-decode."""
    cases = [
        ("http://a.com/x&y", "http://a.com/x&y"),
        ("http://a.com/p?next=/home/?tab=1", "http://a.com/p?next=/home/?tab=1"),
        ("http://a.com/p/?q=1", "http://a.com/p?q=1"),
        # literal '&' in the PATH plus a leading tracking param: the path
        # '&' must never be promoted to '?' (the review-pass regression in
        # the first non-greedy patch)
        ("http://a.com/a&b?utm_source=x&c=1", "http://a.com/a&b?c=1"),
        # empty-query and dangling-separator shapes normalize clean
        ("http://a.com/p?", "http://a.com/p"),
        ("http://a.com/p?b=1&", "http://a.com/p?b=1"),
        # a tracker GLUED on with a second '?' (naive tag appender) is a
        # separator in disguise and must strip; a '?' inside an ordinary
        # value (the next=/home/?tab=1 case above) must stay data
        ("http://a.com/p?a=1?utm_source=x", "http://a.com/p?a=1"),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, (u, _) in enumerate(cases)], "doc_id long, url string"
    )
    got = {r.doc_id: r.canonical_url for r in canonicalize_urls(df).collect()}
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (i, got[i], want)


def test_html_entities_no_double_decode_and_null(spark):
    r = _one(spark, "use &amp;lt;b&amp;gt; for bold")
    assert r.extracted_text == "use &lt;b&gt; for bold"
    df = __import__("pyspark").sql.SparkSession.getActiveSession().createDataFrame(
        [(0, None)], "doc_id long, text string"
    )
    row = extract_html_text(df).first()
    assert row.n_lines == 0


def test_web_preprocess_matches_duckdb_twin(spark, sf_dir, duck):
    """The full web-preprocessing contract vs its first-principles DuckDB
    twin: html_text and canonical_url re-derived step for step over a
    deterministic adversarial HTML/URL wrapping of the documents table.
    RE2 has no lookahead, so the twin rewrites the second-'?'
    tracking-param disguise with a capture group."""
    import __spark_entry__ as entry_mod
    from selfcheck import compare

    sdf = entry_mod.q_web_preprocess(spark, sf_dir).toPandas()
    odf = duck.execute(entry_mod._web_preprocess_oracle_sql()).df()
    problems = compare("web_preprocess", sdf, odf)
    assert not problems, problems
