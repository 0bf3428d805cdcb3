"""Unit tests for the HTML/markup -> text extraction front door
(operators/text.py html_to_text — the round-9 LLM-tier addition)."""

from __future__ import annotations

from pyspark.sql import functions as F

from gcp_etl_pipeline_spark.operators import text


def _extract(spark, html: str) -> str:
    df = spark.createDataFrame([(0, html)], "doc_id BIGINT, html STRING")
    return df.select(text.html_to_text("html").alias("text")).collect()[0]["text"]


def test_html_strip_blocks_and_inline(spark):
    html = (
        "<html><head><title>T</title>"
        "<style>body { color: red; }</style>"
        '<script>if (1 < 2) { x = "y"; }</script></head>'
        "<body><h1>Head</h1><p>Tom &amp; Jerry &lt;3</p>"
        "<div>a<b>b</b>c</div><ul><li>one</li><li>two</li></ul>"
        "<!-- hidden --></body></html>"
    )
    assert _extract(spark, html) == "T\nHead\nTom & Jerry <3\nabc\none\ntwo"


def test_html_entity_decode_order_and_unknowns(spark):
    # &amp; decodes LAST: "&amp;lt;" must yield the literal "&lt;", not "<"
    assert _extract(spark, "<p>&amp;lt;</p>") == "&lt;"
    # unknown entities pass through untouched
    assert _extract(spark, "<p>&copy; 2026</p>") == "&copy; 2026"
    # nbsp becomes a collapsible space
    assert _extract(spark, "<p>a&nbsp;&nbsp;b</p>") == "a b"
    assert _extract(spark, "<p>&quot;q&quot; &#39;n &apos;t</p>") == "\"q\" 'n 't"


def test_html_script_content_never_leaks(spark):
    html = (
        "<p>before</p><script type='x'>\nsecret < tokens > here\n</script>"
        "<p>after</p>"
    )
    out = _extract(spark, html)
    assert "secret" not in out
    assert out == "before\nafter"


def test_html_whitespace_normalization(spark):
    html = "<div>  a\t b </div>\r\n\r\n<div>c</div><br><br><br><div> d</div>"
    assert _extract(spark, html) == "a b\nc\nd"


def test_html_plain_text_passthrough(spark):
    # markup-free text survives with whitespace normalized only
    assert _extract(spark, "just words, no tags") == "just words, no tags"


def test_html_case_insensitive_tags(spark):
    assert _extract(spark, "<P>a</P><SCRIPT>x=1</SCRIPT><DiV>b</DiV>") == "a\nb"


def test_html_oracle_sql_matches_spark(spark):
    """The compiled DuckDB expression replays the Spark chain verbatim on
    an adversarial snippet (the differential gate does this corpus-wide;
    this is the fast inner loop)."""
    import duckdb

    from gcp_etl_pipeline_spark.operators.curation_queries import (
        _html_to_text_sql,
    )

    snippets = [
        "<p>Tom &amp; Jerry &lt;3&nbsp;&quot;q&quot; &#39;n</p>",
        "<ul><li>one</li><li>two</li></ul><!-- c --><i>x</i>",
        "<script>1 < 2 && 3 > 0</script><h2>T</h2>",
        "no tags at   all",
        "<td>a</td><TR>b</TR>\n\n<pre>keep</pre>",
    ]
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(snippets)], "doc_id BIGINT, html STRING"
    )
    got_spark = {
        r["doc_id"]: r["text"]
        for r in df.select("doc_id", text.html_to_text("html").alias("text")).collect()
    }
    con = duckdb.connect()
    for i, s in enumerate(snippets):
        lit = "'" + s.replace("'", "''") + "'"
        got_duck = con.execute(
            "SELECT " + _html_to_text_sql(lit)
        ).fetchone()[0]
        assert got_spark[i] == got_duck, (i, got_spark[i], got_duck)


def _hrefs(spark, html: str) -> list:
    from gcp_etl_pipeline_spark.operators.curation_queries import (
        _HREF_RE_DQ,
        _HREF_RE_SQ,
    )

    df = spark.createDataFrame([(html,)], "html STRING")
    return df.select(
        F.concat(
            F.regexp_extract_all("html", F.lit(_HREF_RE_DQ), F.lit(1)),
            F.regexp_extract_all("html", F.lit(_HREF_RE_SQ), F.lit(1)),
        ).alias("h")
    ).collect()[0]["h"]


def test_html_link_extract_order_and_no_links(spark):
    assert _hrefs(
        spark, '<a href="u1">x</a><p>t</p><a class="c" href="u2">y</a>'
    ) == ["u1", "u2"]
    assert _hrefs(spark, "<p>no links at all</p>") == []


def test_html_link_extract_tag_and_attr_discipline(spark):
    # tag must be exactly <a>, attribute must be exactly href
    assert _hrefs(spark, '<audio href="x.mp3">t</audio>') == []
    assert _hrefs(spark, '<abbr href="x">t</abbr>') == []
    assert _hrefs(spark, '<a data-href="track.js">x</a>') == []
    # case-insensitive and single-quoted forms ARE harvested
    assert _hrefs(spark, '<A HREF="u">x</A>') == ["u"]
    assert _hrefs(spark, "<a href='u'>x</a>") == ["u"]
    assert _hrefs(spark, '<a href = "u">x</a>') == ["u"]
    # first real href wins when a decoy attribute follows
    assert _hrefs(spark, '<a href="u1" data-href="u2">x</a>') == ["u1"]


def test_html_unterminated_script_never_leaks(spark):
    # a fetch truncated mid-script must not leak the body into clean text
    out = _extract(spark, '<p>hi</p><script>var k = "SECRET";')
    assert "SECRET" not in out
    assert out == "hi"
    out2 = _extract(spark, "<p>a</p><style>body { color: red }")
    assert out2 == "a"
    out3 = _extract(spark, "<p>a</p><!-- dangling comment")
    assert out3 == "a"


def test_normalize_url_preserves_query_slashes(spark):
    cases = {
        "https://ex.org/search?path=/docs/": "https://ex.org/search?path=/docs/",
        "http://Ex.org/a/?q=1": "http://ex.org/a?q=1",
        "http://ex.org/r?to=/": "http://ex.org/r?to=/",
    }
    df = spark.createDataFrame(
        [(i, u) for i, (u, _) in enumerate(cases.items())],
        "i BIGINT, u STRING",
    )
    got = {
        r["i"]: r["n"]
        for r in df.select("i", text.normalize_url("u").alias("n")).collect()
    }
    for i, (_, want) in enumerate(cases.items()):
        assert got[i] == want, (i, got[i], want)


def test_normalize_url_rules(spark):
    cases = {
        "HTTP://Ex.ORG:80/a/": "http://ex.org/a",
        "https://ex.org:443/a#frag": "https://ex.org/a",
        "https://ex.org:8443/a": "https://ex.org:8443/a",  # non-default kept
        "http://ex.org:443/a": "http://ex.org:443/a",      # wrong-scheme port kept
        "http://EX.org/A/B//": "http://ex.org/A/B",        # path case preserved
        "http://ex.org": "http://ex.org",
    }
    df = spark.createDataFrame(
        [(i, u) for i, (u, _) in enumerate(cases.items())],
        "i BIGINT, u STRING",
    )
    got = {
        r["i"]: r["n"]
        for r in df.select("i", text.normalize_url("u").alias("n")).collect()
    }
    for i, (_, want) in enumerate(cases.items()):
        assert got[i] == want, (i, got[i], want)


def test_line_boilerplate_removal(spark):
    from gcp_etl_pipeline_spark.operators import dedup

    rows = [(i, f"NAV | home\ncontent {i}\nfooter (c) corp") for i in range(12)]
    rows.append((12, "NAV | home\nfooter (c) corp"))  # chrome-only page
    rows.append((13, "entirely unique page"))
    docs = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    out = {
        r["doc_id"]: r
        for r in dedup.line_boilerplate_removal(docs, min_df=10).collect()
    }
    assert len(out) == 14  # every doc present, including the emptied one
    for i in range(12):
        assert out[i]["n_lines"] == 3
        assert out[i]["removed_lines"] == 2
        assert out[i]["clean_text"] == f"content {i}"
    assert out[12]["removed_lines"] == 2 and out[12]["clean_text"] == ""
    assert out[13]["removed_lines"] == 0
    assert out[13]["clean_text"] == "entirely unique page"


def test_line_boilerplate_keeps_order(spark):
    from gcp_etl_pipeline_spark.operators import dedup

    rows = [(i, f"BP\nz{i} last\nBP\na{i} first") for i in range(10)]
    docs = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    out = {
        r["doc_id"]: r
        for r in dedup.line_boilerplate_removal(docs, min_df=10).collect()
    }
    # document order preserved (not lexicographic)
    assert out[3]["clean_text"] == "z3 last\na3 first"
    assert out[3]["removed_lines"] == 2


def test_normalize_url_schemeless_passthrough(spark):
    """ADVICE r9: scheme-less / relative URLs must pass through untouched,
    never gain a fake '://' authority."""
    from pyspark.sql import functions as F

    from gcp_etl_pipeline_spark.operators import text

    rows = [
        (1, "example.com/A/B/"),
        (2, "/relative/Path#frag"),
        (3, "HTTP://Ex.ORG:80/a/"),
    ]
    df = spark.createDataFrame(rows, "id BIGINT, u STRING")
    out = {
        r["id"]: r["n"]
        for r in df.select(
            "id", text.normalize_url("u").alias("n")
        ).collect()
    }
    assert out[1] == "example.com/A/B/"        # untouched
    assert out[2] == "/relative/Path#frag"     # untouched
    assert out[3] == "http://ex.org/a"         # absolute still normalizes


def test_normalize_url_scheme_guard_adversarial(spark):
    """The locate-based scheme leg must decide exactly like the anchored
    regex: the first '://' splits, and only a valid scheme prefix
    ([A-Za-z][A-Za-z0-9+.-]*) routes into normalization."""
    from gcp_etl_pipeline_spark.operators import text

    cases = [
        ("//proto-relative.example/x", "//proto-relative.example/x"),
        ("ht tp://x", "ht tp://x"),          # space: invalid scheme
        ("a://b://c", "a://b://c"),          # first :// wins, already norm
        ("ab:cd://e", "ab:cd://e"),          # ':' before '://': invalid
        ("mailto:foo@bar", "mailto:foo@bar"),
        ("1http://x/", "1http://x/"),        # scheme must start with alpha
        ("+x://y/", "+x://y/"),
        ("x://", "x://"),
        ("", ""),
        ("ftp://Host/Dir/", "ftp://host/Dir"),
        ("http://h/?q=1#f", "http://h?q=1"),
        # Java $ matches before a trailing line terminator; the guard
        # must use \z or 'HTTP\n' passes as a valid scheme prefix
        ("HTTP\n://Host/x/", "HTTP\n://Host/x/"),
        ("HTTP\r\n://Host/x/", "HTTP\r\n://Host/x/"),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, (u, _) in enumerate(cases)], "i BIGINT, u STRING"
    )
    got = {
        r["i"]: r["n"]
        for r in df.select(
            "i", text.normalize_url("u").alias("n")
        ).collect()
    }
    for i, (u, want) in enumerate(cases):
        assert got[i] == want, (u, got[i], want)


def test_repair_encoding_roundtrip(spark):
    """Spark repair matches the plain-Python application of the shared
    step tables, including C1-tail mojibake and control stripping."""
    import re

    from gcp_etl_pipeline_spark.operators import text

    mj = text._cp1252_artifact
    dirty = (
        f"don{mj(chr(0x2019))}t {mj(chr(0x201C))}q{mj(chr(0x201D))} "
        f"caf{mj(chr(0xE9))} x\x01y\x9bz � end{mj(chr(0xA0))}."
    )

    def py_repair(s: str) -> str:
        for bad, good in text.MOJIBAKE_STEPS:
            s = s.replace(bad, good)
        s = re.sub(
            "[\x00-\x08\x0b\x0c\x0e-\x1f\x7f-\x9f]", "", s
        )
        return s.replace("�", "")

    expect = py_repair(dirty)
    assert expect == 'don\'t "q" café xyz  end .'
    df = spark.createDataFrame([(dirty,)], "raw STRING")
    got = df.select(text.repair_encoding("raw").alias("c")).collect()[0]["c"]
    assert got == expect
    counts = df.select(
        text.control_char_count("raw").alias("nc"),
        text.replacement_char_count("raw").alias("nf"),
    ).collect()[0]
    # 3 pre-repair controls: \x01, \x9b, and the C1 \x9d INSIDE the
    # U+201D mojibake artifact (the count is a gate signal measured
    # before repair, which is exactly why repair runs mojibake first)
    assert counts["nc"] == 3 and counts["nf"] == 1


def test_registrable_host(spark):
    from gcp_etl_pipeline_spark.operators import text

    rows = [
        (1, "https://News.Example.COM/x"),
        (2, "http://u:p@cdn.example.com:8080/y"),
        (3, "https://a.b.Blog.Sample.CO.uk/z"),
        (4, "https://localhost/q"),
        (5, "https://co.uk/"),          # 2 labels: never extends to 3
    ]
    df = spark.createDataFrame(rows, "id BIGINT, u STRING")
    out = {
        r["id"]: r["h"]
        for r in df.select(
            "id", text.registrable_host("u").alias("h")
        ).collect()
    }
    assert out[1] == "example.com"
    assert out[2] == "example.com"
    assert out[3] == "sample.co.uk"
    assert out[4] == "localhost"
    assert out[5] == "co.uk"


def test_main_content_block(spark):
    from gcp_etl_pipeline_spark.operators import text

    rows = [
        (1, "Nav | Home\nThe actual article body with many letters\nfooter"),
        (2, ""),                       # empty extraction -> empty block 0
        (3, "aaaa\nbbbb"),             # tie -> FIRST block wins
    ]
    df = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    out = {r["doc_id"]: r for r in text.main_content_block(df).collect()}
    assert out[1]["main_text"] == "The actual article body with many letters"
    assert out[1]["block_idx"] == 1 and out[1]["n_blocks"] == 3
    assert out[2]["main_text"] == "" and out[2]["n_blocks"] == 1
    assert out[2]["block_idx"] == 0 and out[2]["block_score"] == 0
    assert out[3]["block_idx"] == 0 and out[3]["block_score"] == 4


def test_per_host_budget(spark):
    from gcp_etl_pipeline_spark.operators import curation

    rows = [(i, f"https://h{i % 3}.example{i % 3}.org/p/{i}") for i in range(90)]
    df = spark.createDataFrame(rows, "k BIGINT, url STRING").repartition(8)
    kept = curation.per_host_budget(df, "url", quota=10)
    got = kept.groupBy("host").count().collect()
    assert {r["host"] for r in got} == {
        "example0.org", "example1.org", "example2.org"
    }
    assert all(r["count"] == 10 for r in got)
    # determinism across layouts: same (host, url) set from 1 partition
    kept1 = curation.per_host_budget(df.coalesce(1), "url", quota=10)
    assert sorted(r["url"] for r in kept.collect()) == sorted(
        r["url"] for r in kept1.collect()
    )


def test_url_trap_signals_and_verdict(spark):
    cases = [
        # (url, depth, repeats, params, session, calendar, trap)
        ("https://a.org/x/y", 2, 0, 0, False, False, False),
        ("https://a.org/d1/d2/d3/d4/d5/d6/d7/d8/d9", 9, 0, 0, False, False, True),
        ("https://a.org/cat/p/cat/p/cat", 5, 3, 0, False, False, True),
        # ONE repeated segment is legitimate (locale prefixes etc.)
        ("https://a.org/en/p/en", 3, 1, 0, False, False, False),
        # shallow calendar archive stays enqueueable...
        ("https://a.org/2024/5/17/", 3, 0, 0, False, True, False),
        # ...a calendar walk nested deep does not
        ("https://a.org/c/2020/1/2/w/x/y", 7, 0, 0, False, True, True),
        ("https://a.org/p?sessionid=u1", 1, 0, 1, True, False, True),
        ("https://a.org/p?t=0123456789abcdef01234567", 1, 0, 1, True, False, True),
        # 21-char hex value is below the token threshold
        ("https://a.org/p?t=0123456789abcdef01234", 1, 0, 1, False, False, False),
        ("https://a.org/s?a=1&b=2&c=3&d=4&e=5&f=6", 1, 0, 6, False, False, True),
        # fragment params never count; empty path is depth 0
        ("https://a.org?x=1#a=2&b=3&c=4&d=5&e=6&f=7", 0, 0, 1, False, False, False),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, (u, *_) in enumerate(cases)], "i BIGINT, url STRING"
    )
    sig = df.select("i", *text.url_trap_signals("url"))
    out = sig.select(
        "*",
        text.is_crawl_trap(
            F.col("path_depth"),
            F.col("repeated_segments"),
            F.col("param_count"),
            F.col("has_session_param"),
            F.col("has_calendar_path"),
        ).alias("is_trap"),
    )
    got = {r["i"]: r for r in out.collect()}
    for i, (u, d, rep, pc, sess, cal, trap) in enumerate(cases):
        r = got[i]
        assert (
            r["path_depth"],
            r["repeated_segments"],
            r["param_count"],
            r["has_session_param"],
            r["has_calendar_path"],
            r["is_trap"],
        ) == (d, rep, pc, sess, cal, trap), (u, dict(r.asDict()))


def test_parse_sitemap_structural_alignment(spark):
    # entry 1 has NO lastmod; entry 2 does — the date must attach to
    # entry 2, never slide back to entry 1 (the positional-zip bug the
    # structural per-element extract exists to prevent)
    xml = (
        '<urlset><url><loc> https://a.org/1 </loc></url>'
        "<url><lastmod>2024-08-01</lastmod><loc>https://a.org/2</loc></url>"
        "<URL><loc>https://a.org/3</loc><lastmod>2024-09-02</lastmod></URL>"
        "</urlset>"
    )
    df = spark.createDataFrame([(7, xml)], "sid BIGINT, xml STRING")
    rows = sorted(
        text.parse_sitemap(df, "xml").collect(), key=lambda r: r["entry_no"]
    )
    assert [(r["entry_no"], r["loc"], r["lastmod"]) for r in rows] == [
        (0, "https://a.org/1", ""),
        (1, "https://a.org/2", "2024-08-01"),
        (2, "https://a.org/3", "2024-09-02"),
    ]
    assert all(r["sid"] == 7 for r in rows)


def test_fetch_triage_precedence(spark):
    cases = [
        ("long organic article text about databases", "ok"),
        ("Sorry — Page Not Found here", "soft404"),
        ("please sign in to view this article", "login_wall"),
        ("THIS DOMAIN IS FOR SALE, inquire within", "parked"),
        ("verify you are a human before continuing", "captcha"),
        ("hey", "empty"),
        # empty outranks a marker match on a tiny page
        ("404 error", "empty"),
        # first-class-wins: soft404 marker beats later classes
        ("page not found; log in to continue", "soft404"),
    ]
    df = spark.createDataFrame(
        [(i, t) for i, (t, _) in enumerate(cases)], "i BIGINT, t STRING"
    )
    got = {
        r["i"]: r["v"]
        for r in df.select("i", text.fetch_triage("t").alias("v")).collect()
    }
    for i, (t, want) in enumerate(cases):
        assert got[i] == want, (t, got[i])


def test_http_response_fields(spark):
    crlf = "\r\n"
    cases = [
        # (raw, status, ctype, charset, body)
        (
            "HTTP/1.1 200 OK" + crlf + "Content-Type: text/html; charset=UTF-8"
            + crlf + crlf + "hello <b>world</b>",
            200, "text/html", "utf-8", "hello <b>world</b>",
        ),
        (
            'HTTP/1.0 404 Not Found\ncontent-type: Text/Plain;charset="ISO-8859-1"'
            "\n\ngone",
            404, "text/plain", "iso-8859-1", "gone",
        ),
        # header-shaped line in the BODY must not spoof the field
        (
            "HTTP/1.1 200 OK\nServer: x\n\nContent-Type: evil/fake\nbody",
            200, "", "", "Content-Type: evil/fake\nbody",
        ),
        # unparseable record: status 0, everything empty
        ("not http at all", 0, "", "", ""),
    ]
    df = spark.createDataFrame(
        [(i, r) for i, (r, *_) in enumerate(cases)], "i BIGINT, raw STRING"
    )
    got = {
        r["i"]: r
        for r in df.select("i", *text.http_response_fields("raw")).collect()
    }
    for i, (_, st, ct, cs, body) in enumerate(cases):
        r = got[i]
        assert (
            r["status_code"], r["content_type"], r["charset"], r["body"]
        ) == (st, ct, cs, body), dict(r.asDict())


def test_http_header_name_metachars(spark):
    # header names may contain regex metacharacters that are legal HTTP
    # token chars ('.', '+', '*', '^', '|'); unescaped, 'X.Custom'
    # would also match 'XaCustom' and 'X+Y' would fail to compile
    raw = (
        "HTTP/1.1 200 OK\nXaCustom: wrong\nX.Custom: right\n"
        "X+Y: plus\nX^Z: caret\n\nbody"
    )
    df = spark.createDataFrame([(raw,)], "raw STRING")
    row = df.select(
        text.http_header("raw", "X.Custom").alias("dot"),
        text.http_header("raw", "X+Y").alias("plus"),
        text.http_header("raw", "X^Z").alias("caret"),
    ).collect()[0]
    assert (row["dot"], row["plus"], row["caret"]) == (
        "right", "plus", "caret"
    ), dict(row.asDict())


def _warc_rec(payload: str, rid: str = "r") -> str:
    return (
        "WARC/1.0\r\n"
        f"WARC-Record-ID: <{rid}>\r\n"
        f"Content-Length: {len(payload)}\r\n"
        "\r\n" + payload + "\r\n\r\n"
    )


def test_warc_records_body_embedded_boundaries(spark):
    """A payload containing a full record frame (magic + Content-Length
    header + blank line) must stay INSIDE its record — naive
    marker-splitting tears exactly here, the Content-Length walk must
    not."""
    spoofed = (
        "HTTP/1.1 200 OK\r\n\r\nbody with a fake frame:\r\n"
        "WARC/1.0\r\nContent-Length: 3\r\n\r\nxyz"
    )
    blob = _warc_rec(spoofed, "a") + _warc_rec("plain", "b")
    # marker-count sanity: naive splitting would see 3 records
    assert blob.count("WARC/1.0") == 3
    df = spark.createDataFrame([(blob,)], "blob STRING")
    rows = df.select(
        F.posexplode(text.warc_records("blob")).alias("pos", "rec")
    ).collect()
    assert len(rows) == 2, rows
    assert rows[0]["rec"]["payload"] == spoofed
    assert "WARC/1.0" in rows[0]["rec"]["payload"]
    assert rows[1]["rec"]["payload"] == "plain"
    assert "<b>" in rows[1]["rec"]["head"]


def test_warc_records_torn_and_capped(spark):
    # torn final record (payload truncated past blob end) never yields
    # a half-payload row; the walk stops at the last valid record
    torn = _warc_rec("ok", "a") + (
        "WARC/1.0\r\nContent-Length: 100\r\n\r\nshort"
    )
    # bad magic after a valid record stops the walk too
    badmagic = _warc_rec("one", "a") + "GARBAGE" + _warc_rec("two", "b")
    # max_records caps the walk
    many = "".join(_warc_rec(f"p{i}", f"r{i}") for i in range(6))
    # Content-Length past int32 must STOP the walk (try_cast -> NULL,
    # like the oracle's TRY_CAST), not throw under ANSI
    huge = _warc_rec("ok", "a") + (
        "WARC/1.0\r\nContent-Length: 3000000000\r\n\r\nx"
    )
    df = spark.createDataFrame(
        [(1, torn), (2, badmagic), (3, many), (4, ""), (5, None),
         (6, huge)],
        "i BIGINT, blob STRING",
    )
    got = {
        r["i"]: [x["payload"] for x in r["recs"]]
        for r in df.select(
            "i", text.warc_records("blob", max_records=4).alias("recs")
        ).collect()
    }
    assert got[1] == ["ok"]
    assert got[2] == ["one"]
    assert got[3] == ["p0", "p1", "p2", "p3"]  # capped at 4
    assert got[4] == []
    assert got[5] == []
    assert got[6] == ["ok"]


def test_warc_records_binary_roundtrip(spark):
    """Byte-exact framing of a BINARY store: ISO-8859-1 decode maps
    every byte to one char, so Content-Length-in-bytes equals the char
    walk, and encode() recovers the exact payload bytes — including
    bytes that are invalid UTF-8."""
    payload = bytes([0xFF, 0x00, 0xC3, 0x28, 0x0D, 0x0A]) + b"tail"
    blob = (
        b"WARC/1.0\r\n"
        + f"Content-Length: {len(payload)}\r\n".encode()
        + b"\r\n" + payload + b"\r\n\r\n"
    ) * 2
    df = spark.createDataFrame([(blob,)], "blob BINARY")
    rows = df.select(
        F.posexplode(
            text.warc_records(F.decode(F.col("blob"), "ISO-8859-1"))
        ).alias("pos", "rec")
    ).select(
        "pos", F.encode(F.col("rec")["payload"], "ISO-8859-1").alias("p")
    ).collect()
    assert len(rows) == 2
    assert bytes(rows[0]["p"]) == payload
    assert bytes(rows[1]["p"]) == payload


def test_lang_id_null_text_is_und(spark):
    # NULL text must stay 'und' (the pre-fold form's NULL comparisons
    # fell through to 'und'; the fold would propagate NULL without the
    # coalesce) — consumers group on the result
    df = spark.createDataFrame([(1, None), (2, "the cat and dog")],
                               "i BIGINT, t STRING")
    got = {r["i"]: r["l"] for r in
           df.select("i", text.lang_id("t").alias("l")).collect()}
    assert got == {1: "und", 2: "en"}, got


def test_sentences_control_char_input(spark):
    # pre-existing NUL/SOH bytes (raw crawl text ahead of charset
    # repair) are the sentinel alphabet — they must be stripped, not
    # rewritten to '.' (\x01) or treated as boundaries (\x00)
    df = spark.createDataFrame(
        [("pre\x01mid. After\x00tail end.",)], "t STRING"
    )
    got = list(df.select(text.sentences("t").alias("s")).collect()[0]["s"])
    assert got == ["premid.", "Aftertail end."], got


def test_sentences_segmentation(spark):
    cases = [
        (
            "First one. Second two! Third three? Fourth",
            ["First one.", "Second two!", "Third three?", "Fourth"],
        ),
        # abbreviations never split; terminator runs stay attached
        (
            "Dr. Smith met Mr. Jones e.g. daily... Then left.",
            ["Dr. Smith met Mr. Jones e.g. daily...", "Then left."],
        ),
        # a period with no following whitespace is not a boundary
        ("Version 2.5 shipped. Done", ["Version 2.5 shipped.", "Done"]),
        ("", []),
    ]
    df = spark.createDataFrame(
        [(i, t) for i, (t, _) in enumerate(cases)], "i BIGINT, t STRING"
    )
    got = {
        r["i"]: list(r["s"])
        for r in df.select("i", text.sentences("t").alias("s")).collect()
    }
    for i, (t, want) in enumerate(cases):
        assert got[i] == want, (t, got[i])


def test_gzip_members_split_torn_and_literal_magic():
    """Pure-python member walk: split + inflate concatenated members,
    stop at a torn trailing member, and survive literal gzip magic
    inside a STORED-block member (the hazard a magic-scanning splitter
    cannot)."""
    a = b"payload with magic \x1f\x8b\x08 inside + raw \xff\xfe bytes"
    b = b"second member " * 10
    m0 = text.gzip_member(a, 0)  # STORED: payload bytes verbatim
    m1 = text.gzip_member(b, 6)
    # the planted magic appears literally in the compressed stream
    assert b"\x1f\x8b\x08" in m0[10:]
    store = m0 + m1
    assert text.gzip_members(store) == [a, b]
    # torn trailing member (truncated into its trailer) drops cleanly
    assert text.gzip_members(store[:-7]) == [a]
    assert text.gzip_members(m0[:-7]) == []
    assert text.gzip_members(b"") == []
    # deterministic encode (mtime-0 header): fixture reproducibility
    assert text.gzip_member(a, 0) == m0


def test_gunzip_store_feeds_warc_chain_byte_exact(spark):
    """Compressed store -> gunzip_store -> the unchanged warc_records
    walk, byte-exact: non-UTF-8 payload bytes round-trip through the
    ISO-8859-1 member join, and the record count equals n_members."""
    payload = bytes([0xFF, 0x00, 0xC3, 0x28]) + b" \x1f\x8b\x08 tail"
    rec = (
        b"WARC/1.0\r\n"
        + f"Content-Length: {len(payload)}\r\n".encode()
        + b"\r\n" + payload + b"\r\n\r\n"
    )
    store = text.gzip_member(rec, 0) + text.gzip_member(rec, 6)
    df = spark.createDataFrame([(1, store)], "i BIGINT, gz BINARY")
    out = text.gunzip_store(df, "gz", "blob")
    rows = out.select(
        "i", "n_members",
        F.posexplode(text.warc_records("blob")).alias("pos", "rec"),
    ).select(
        "n_members",
        F.encode(F.col("rec")["payload"], "ISO-8859-1").alias("p"),
    ).collect()
    assert len(rows) == 2
    for r in rows:
        assert r["n_members"] == 2
        assert bytes(r["p"]) == payload
