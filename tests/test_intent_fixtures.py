"""Intent-level golden fixtures for the shared-regex operator gates.

The driver's cross-engine gates for ``text_scrub_pii``, ``text_strip_html``
and ``web_url_dedup`` / ``web_domain_*`` share their regex constants
verbatim between the Spark expression and the DuckDB oracle — so a WRONG
regex still hash-matches (the r4 verdict proved this failure mode is real:
the unanchored tracking-param regex was green for two rounds while
false-merging ``?href=AAA`` / ``?href=BBB``).  These fixtures assert
*intended* outputs on hand-written rows, computed by a human reading the
docstring contract — NOT by running either engine's regex — so a semantic
regression in the shared constants fails here even while the oracle gate
stays green.
"""

from pyspark.sql import Row, functions as F

from operator_families.functions import text, web


def _collect_map(df, key, *cols):
    return {
        r[key]: tuple(r[c] for c in cols) for r in df.collect()
    }


# ---------------------------------------------------------------------------
# scrub_pii — emails / URLs / long digit runs
# ---------------------------------------------------------------------------

def test_scrub_pii_intent(spark):
    rows = [
        # plain email
        Row(doc_id=0, text="Contact john.doe@example.com now"),
        # two URLs, one with a query string
        Row(doc_id=1, text="see https://a.b/c?x=1 and http://d.e ok"),
        # 7-digit run is PII-shaped, 6-digit run is not
        Row(doc_id=2, text="call 1234567 or 123456"),
        # email-shaped substring INSIDE a URL: clean text shows one <URL>
        # (URL pass runs first), but the per-category counts run against
        # the ORIGINAL text, so it ALSO counts as an email — documented.
        Row(doc_id=3, text="https://x.com/a@b.co"),
        # digit run inside a URL: redacted as part of <URL>, still counted
        Row(doc_id=4, text="https://t.co/1234567x"),
        # nothing to scrub
        Row(doc_id=5, text="plain text, no pii at all"),
        Row(doc_id=6, text=""),
        # email then long number, adjacent punctuation preserved
        Row(doc_id=7, text="(a_b+tag@mail-srv.org), acct 98765432."),
    ]
    got = _collect_map(
        text.scrub_pii(spark.createDataFrame(rows)),
        "doc_id", "clean_text", "n_emails", "n_urls", "n_longnums",
    )
    assert got[0] == ("Contact <EMAIL> now", 1, 0, 0)
    assert got[1] == ("see <URL> and <URL> ok", 0, 2, 0)
    assert got[2] == ("call <NUM> or 123456", 0, 0, 1)
    assert got[3] == ("<URL>", 1, 1, 0)
    assert got[4] == ("<URL>", 0, 1, 1)
    assert got[5] == ("plain text, no pii at all", 0, 0, 0)
    assert got[6] == ("", 0, 0, 0)
    assert got[7] == ("(<EMAIL>), acct <NUM>.", 1, 0, 1)


# ---------------------------------------------------------------------------
# strip_html — tag removal, entity decode order, whitespace normalization
# ---------------------------------------------------------------------------

def test_strip_html_intent(spark):
    rows = [
        Row(doc_id=0, text="<p>Hello <b>world</b></p>"),
        # entities decode AFTER tag removal: the decoded <tag> survives
        Row(doc_id=1, text="a &lt;tag&gt; &amp; more"),
        # &amp; decodes LAST, so it cannot fabricate another entity:
        # "&amp;lt;" must become the literal text "&lt;", NOT "<"
        Row(doc_id=2, text="&amp;lt;"),
        # attributes vanish with the tag; newline runs collapse to a space
        Row(doc_id=3, text="<a href='x'>link</a>\n\n  text"),
        # unclosed tag is not a tag
        Row(doc_id=4, text="a <div"),
        # quotes and apostrophes
        Row(doc_id=5, text="&quot;hi&quot; it&#39;s"),
        Row(doc_id=6, text="   padded   "),
    ]
    got = _collect_map(
        text.strip_html(spark.createDataFrame(rows)),
        "doc_id", "clean_text", "n_tags",
    )
    assert got[0] == ("Hello world", 4)
    assert got[1] == ("a <tag> & more", 0)
    assert got[2] == ("&lt;", 0)
    assert got[3] == ("link text", 2)
    assert got[4] == ("a <div", 0)
    assert got[5] == ('"hi" it\'s', 0)
    assert got[6] == ("padded", 0)


# ---------------------------------------------------------------------------
# canonical_url / dedup_urls — boundary-anchored tracking strip
# ---------------------------------------------------------------------------

def test_canonical_url_intent(spark):
    cases = {
        # tracking params strip wherever they sit; no separator residue
        "https://Ex.COM/p?utm_source=x": "https://ex.com/p",
        "https://ex.com/p?a=1&utm_x=2&b=3": "https://ex.com/p?a=1&b=3",
        "https://ex.com/p?utm_a=1&utm_b=2&q=1": "https://ex.com/p?q=1",
        "https://ex.com/p?ref=abc&q=1": "https://ex.com/p?q=1",
        "https://ex.com/p?a=1&ref=abc": "https://ex.com/p?a=1",
        # 'ref='/'utm_' as a SUBSTRING of another param name is NOT tracking
        "https://ex.com/p?href=AAA": "https://ex.com/p?href=AAA",
        "https://ex.com/p?pref=1&xref=2": "https://ex.com/p?pref=1&xref=2",
        "https://ex.com/p?autm_x=1": "https://ex.com/p?autm_x=1",
        # fragment, empty query, trailing slash, case
        "https://EX.com/A/b/#frag": "https://ex.com/A/b",
        "https://ex.com/p?": "https://ex.com/p",
        "HTTP://EX.COM/": "https://ex.com",
        "not a url": None,
    }
    df = spark.createDataFrame([(u,) for u in cases], ["url"])
    got = {
        r["url"]: r["c"]
        for r in df.select(
            "url", web.canonical_url(F.col("url")).alias("c")
        ).collect()
    }
    for url, want in cases.items():
        assert got[url] == want, (url, got[url], want)


def test_dedup_urls_intent(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=0, url="https://ex.com/p?utm_source=a"),
            Row(doc_id=1, url="https://EX.com/p"),
            Row(doc_id=2, url="https://ex.com/p?href=AAA"),
            Row(doc_id=3, url="https://ex.com/p?href=BBB"),
        ]
    )
    groups = {
        r["canonical_url"]: (r["keeper_id"], r["n_copies"])
        for r in web.dedup_urls(df).collect()
    }
    # 0 and 1 merge; the two href pages stay DISTINCT singleton groups
    assert groups["https://ex.com/p"] == (0, 2)
    assert groups["https://ex.com/p?href=AAA"] == (2, 1)
    assert groups["https://ex.com/p?href=BBB"] == (3, 1)
    assert len(groups) == 3


# ---------------------------------------------------------------------------
# url_host / registered_domain / domain_stats — web_domain_* gates
# ---------------------------------------------------------------------------

def test_url_host_and_registered_domain_intent(spark):
    host_cases = {
        "https://EX.com:8080/p?q=1": "ex.com",
        "http://a.b.c/": "a.b.c",
        "https://h": "h",
        "ftp://x.com/a": None,
        "": None,
    }
    df = spark.createDataFrame([(u,) for u in host_cases], ["url"])
    got = {
        r["url"]: r["h"]
        for r in df.select("url", web.url_host(F.col("url")).alias("h")).collect()
    }
    for url, want in host_cases.items():
        assert got[url] == want, (url, got[url], want)

    dom_cases = {
        "www.example.com": "example.com",
        "a.b.example.co.uk": "example.co.uk",
        "co.uk": "co.uk",          # bare suffix: only two labels exist
        "deep.sub.example.org": "example.org",
        "localhost": "localhost",  # single label passes through
    }
    ddf = spark.createDataFrame([(h,) for h in dom_cases], ["host"])
    gotd = {
        r["host"]: r["d"]
        for r in ddf.select(
            "host", web.registered_domain(F.col("host")).alias("d")
        ).collect()
    }
    for host, want in dom_cases.items():
        assert gotd[host] == want, (host, gotd[host], want)


def test_domain_stats_and_cap_intent(spark):
    rows = [
        Row(doc_id=i, url=f"https://{h}/p{i}")
        for i, h in enumerate(
            ["a.ex.com", "b.ex.com", "a.ex.com", "only.org", "x.ex.com"]
        )
    ] + [Row(doc_id=99, url="garbage")]
    df = spark.createDataFrame(rows)
    stats = {
        r["domain"]: (r["n_docs"], r["n_hosts"])
        for r in web.domain_stats(df).collect()
    }
    assert stats["ex.com"] == (4, 3)
    assert stats["only.org"] == (1, 1)
    assert stats[None] == (1, 0)  # unparseable URL groups under NULL

    capped = web.cap_per_domain(df.filter("doc_id < 99"), cap=2)
    per_dom = {}
    for r in capped.collect():
        per_dom.setdefault(r["domain"], []).append(r["sample_rank"])
    assert sorted(per_dom["ex.com"]) == [1, 2]   # whale capped exactly
    assert per_dom["only.org"] == [1]            # under-cap domain intact
    # deterministic under repartitioning (hash rank, not partition order)
    again = web.cap_per_domain(df.filter("doc_id < 99").repartition(7), cap=2)
    assert sorted(r["doc_id"] for r in capped.collect()) == sorted(
        r["doc_id"] for r in again.collect()
    )


# ---------------------------------------------------------------------------
# registered_domain_psl — table-driven PSL path vs the static heuristic
# ---------------------------------------------------------------------------

#: 50 real Public Suffix List entries (publicsuffix.org, plain rules) —
#: ICANN TLDs, second-level registries, and private-section entries with
#: 2-4 labels so the longest-match logic is exercised at every depth.
PSL_SAMPLE = [
    "com", "org", "net", "edu", "gov", "mil", "int", "info", "biz", "dev",
    "io", "app", "us", "uk", "jp", "au", "br", "in", "cn", "nz",
    "de", "fr", "it", "nl", "es", "se", "ch", "at", "be", "pl",
    "co.uk", "org.uk", "gov.uk", "ac.uk", "co.jp", "ne.jp", "com.au",
    "com.br", "co.in", "com.cn", "co.nz",
    "github.io", "gitlab.io", "blogspot.com", "herokuapp.com",
    "appspot.com", "netlify.app", "vercel.app",
    "s3.amazonaws.com", "pvt.k12.ma.us",
]


def test_registered_domain_psl_intent(spark):
    assert len(PSL_SAMPLE) == 50
    suffixes = spark.createDataFrame([(s,) for s in PSL_SAMPLE], ["suffix"])
    cases = {
        # longest listed suffix wins, registered = suffix + one label
        "www.example.com": "example.com",
        "a.b.example.co.uk": "example.co.uk",
        "user.github.io": "user.github.io",       # private-section rule
        "foo.user.github.io": "user.github.io",
        "mybucket.s3.amazonaws.com": "mybucket.s3.amazonaws.com",
        "school.pvt.k12.ma.us": "school.pvt.k12.ma.us",  # 4-label rule
        # host == a rule: resolves under the shorter 'io' rule
        "github.io": "github.io",
        # unlisted TLD: prevailing-* fallback (last two labels)
        "example.xyz": "example.xyz",
        "deep.sub.example.xyz": "example.xyz",
        "localhost": "localhost",                 # single label passes through
    }
    df = spark.createDataFrame([(h,) for h in cases], ["host"])
    got = {
        r["host"]: r["domain"]
        for r in web.registered_domain_psl(df, suffixes).collect()
    }
    for host, want in cases.items():
        assert got[host] == want, (host, got[host], want)


def test_registered_domain_psl_equivalence_with_static(spark):
    """With a suffix table that encodes exactly the static heuristic's
    knowledge (every 1-label TLD + SECOND_LEVEL_SUFFIXES), the PSL path
    reproduces the static column function host-for-host."""
    hosts = [
        "www.example.com", "a.b.c.example.org", "x.example.co.uk",
        "example.com.au", "sub.example.co.jp", "single", "a.b",
        "deep.example.gov.uk", "h.example.co.nz", "t.example.com.cn",
    ]
    tlds = sorted({h.rsplit(".", 1)[-1] for h in hosts if "." in h})
    suffixes = spark.createDataFrame(
        [(s,) for s in tlds + web.SECOND_LEVEL_SUFFIXES], ["suffix"]
    )
    df = spark.createDataFrame([(h,) for h in hosts], ["host"])
    via_table = {
        r["host"]: r["domain"]
        for r in web.registered_domain_psl(df, suffixes).collect()
    }
    via_static = {
        r["host"]: r["d"]
        for r in df.select(
            "host", web.registered_domain(F.col("host")).alias("d")
        ).collect()
    }
    assert via_table == via_static


# ---------------------------------------------------------------------------
# parse_image_headers — REAL container bytes, hand-assembled per spec
# ---------------------------------------------------------------------------

def test_parse_image_headers_real_bytes(spark):
    from operator_families.functions import multimodal as mm

    png = (
        b"\x89PNG\r\n\x1a\n"            # signature
        + (13).to_bytes(4, "big") + b"IHDR"
        + (640).to_bytes(4, "big")      # width
        + (480).to_bytes(4, "big")      # height
        + b"\x08\x02\x00\x00\x00"       # depth/color/etc
    )
    jpeg = (
        b"\xff\xd8"                                  # SOI
        + b"\xff\xe0" + (16).to_bytes(2, "big")      # APP0, len 16
        + b"JFIF\x00" + b"\x00" * 9                  # 14 payload bytes
        + b"\xff\xc0" + (17).to_bytes(2, "big")      # SOF0, len 17
        + b"\x08"                                    # precision
        + (240).to_bytes(2, "big")                   # height
        + (320).to_bytes(2, "big")                   # width
        + b"\x03" + b"\x00" * 9
    )
    gif = b"GIF89a" + (2).to_bytes(2, "little") + (3).to_bytes(2, "little")
    rows = [
        (0, bytearray(png)),
        (1, bytearray(jpeg)),
        (2, bytearray(gif)),
        (3, bytearray(b"not an image")),
        (4, bytearray(b"\x89PNG\r\n\x1a\n")),  # truncated: quarantined
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {
        r["doc_id"]: (r["width"], r["height"], r["format"])
        for r in mm.parse_image_headers(df).collect()
    }
    assert got[0] == (640, 480, "png")
    assert got[1] == (320, 240, "jpeg")
    assert got[2] == (2, 3, "gif")
    assert got[3] == (None, None, None)
    assert got[4] == (None, None, None)


# ---------------------------------------------------------------------------
# language-ID and Z-order key — intent fixtures with hand-derived answers
# ---------------------------------------------------------------------------

def test_language_id_intent(spark):
    """Real sentences in each profiled language classify correctly;
    ambiguous marker ties resolve by the documented en>de>fr>es order;
    markers count once per DISTINCT token, not per occurrence."""
    from operator_families.functions.text import (
        predicted_lang,
        tokens,
    )

    cases = {
        "the cat is in the house and a dog": "en",
        "der hund ist von der frau und mit dem kind": "de",
        "le chat est dans la maison et les chiens": "fr",
        "el perro y los gatos es un animal en casa": "es",
        # 'en' appears in both the es profile and... only es; 'un' es+fr;
        # a tie between fr and es on {un} resolves to fr (order)
        "un xyz": "fr",
        # repeated marker still counts once: one distinct 'le' vs two
        # distinct en markers -> en wins
        "le le le the is": "en",
    }
    df = spark.createDataFrame([(t,) for t in cases], ["text"])
    got = {
        r["text"]: r["lang"]
        for r in df.select(
            "text", predicted_lang(tokens(F.col("text"))).alias("lang")
        ).collect()
    }
    for text, want in cases.items():
        assert got[text] == want, (text, got[text], want)


def test_zorder_key_intent(spark):
    """Hand-computed Morton interleaves: x bits at even positions, y at
    odd; masking clips the high bits; the key preserves 2-D locality in
    the small (curve-order vs row-order) sense."""
    from operator_families.functions.layout import zorder_key

    cases = [
        # (x, y, expected): interleave(x@even, y@odd)
        (0, 0, 0),
        (1, 0, 1),          # x bit0 -> position 0
        (0, 1, 2),          # y bit0 -> position 1
        (1, 1, 3),
        (2, 0, 4),          # x bit1 -> position 2
        (0, 2, 8),          # y bit1 -> position 3
        (3, 3, 15),
        (5, 3, 0b011011),   # x=101 -> pos 0,4 ; y=011 -> pos 1,3
        (2**20 + 5, 3, 0b011011),  # bit 20 clipped by the 16-bit mask
    ]
    df = spark.createDataFrame(
        [(x, y) for x, y, _ in cases], "x long, y long"
    )
    got = [
        r["z"]
        for r in df.select(
            zorder_key(F.col("x"), F.col("y")).alias("z")
        ).collect()
    ]
    def morton(x, y, bits=16):
        x &= (1 << bits) - 1
        y &= (1 << bits) - 1
        z = 0
        for i in range(bits):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    for (x, y, want), g in zip(cases, got):
        # the literal expectation where given; the masked-referee value
        # for the wide-x case (2^20 has its high bit clipped at 16 bits)
        ref = morton(x, y)
        if x < 2**16 and y < 2**16:
            assert g == want == ref, (x, y, g, want, ref)
        else:
            assert g == ref, (x, y, g, ref)


def test_registered_domain_psl_wildcard_exception_intent(spark):
    """All three publicsuffix.org rule types together, on the list's own
    documented families: `*.ck` / `!www.ck` and `*.kawasaki.jp` /
    `!city.kawasaki.jp`.  Wildcard matches count at their label width,
    an exception prevails and registers its own label span (including at
    whole-host), and a wildcard matching the ENTIRE host falls through
    to the next-shorter rule / static fallback (engine convention)."""
    rules = [
        "com", "jp", "*.ck", "!www.ck", "*.kawasaki.jp",
        "!city.kawasaki.jp",
    ]
    suffixes = spark.createDataFrame([(s,) for s in rules], ["suffix"])
    cases = {
        # wildcard proper match: *.ck covers site.ck -> +1 label
        "shop.site.ck": "shop.site.ck",
        "a.shop.site.ck": "shop.site.ck",
        # exception beats the wildcard, registered = its own span
        "www.ck": "www.ck",                    # whole-host exception
        "sub.www.ck": "www.ck",
        # wildcard at whole host is ignored; 'ck' itself unlisted ->
        # static fallback (last two labels)
        "site.ck": "site.ck",
        # the kawasaki.jp family (publicsuffix.org's canonical example)
        "a.b.kawasaki.jp": "a.b.kawasaki.jp",
        "city.kawasaki.jp": "city.kawasaki.jp",
        "x.city.kawasaki.jp": "city.kawasaki.jp",
        # wildcard whole-host -> next-shorter rule 'jp' applies
        "b.kawasaki.jp": "kawasaki.jp",
        # plain rules still work alongside
        "www.example.com": "example.com",
    }
    df = spark.createDataFrame([(h,) for h in cases], ["host"])
    got = {
        r["host"]: r["domain"]
        for r in web.registered_domain_psl(df, suffixes).collect()
    }
    for host, want in cases.items():
        assert got[host] == want, (host, got[host], want)


# ---------------------------------------------------------------------------
# r6 sequential metrics — the oracles replay the same window algebra the
# Spark side uses, so a wrong formulation could hash-match; these rows
# are computed by hand from the docstring contracts.
# ---------------------------------------------------------------------------

def _events(spark, rows):
    return spark.createDataFrame(rows)


def test_max_drawdown_intent(spark):
    import datetime as dt
    from pyspark.sql import Window

    t0 = dt.datetime(2024, 1, 1)
    # curve: 10, 7, 12, 4, 9  ->  peaks: 10, 10, 12, 12, 12
    # drawdowns: 0, 3, 0, 8, 3  ->  max 8; deltas sum to the curve
    vals = [10.0, -3.0, 5.0, -8.0, 5.0]
    rows = [
        Row(user_id=1, event_id=i, ts=t0 + dt.timedelta(minutes=i),
            value=v)
        for i, v in enumerate(vals)
    ]
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    curve = _events(spark, rows).select(
        "user_id",
        "ts",
        "event_id",
        F.sum(F.col("value").cast("string").cast("decimal(18,6)"))
        .over(w).alias("cum"),
    ).withColumn("peak", F.max("cum").over(w))
    out = curve.groupBy("user_id").agg(
        F.max(F.col("peak") - F.col("cum")).cast("double").alias("dd"),
        F.max("peak").cast("double").alias("pk"),
    ).collect()[0]
    assert out.dd == 8.0 and out.pk == 12.0


def test_time_weighted_avg_intent(spark):
    import datetime as dt
    from pyspark.sql import Window

    t0 = dt.datetime(2024, 1, 1)
    # value 10 held 60 s, value 2 held 30 s, last value unweighted:
    # TWAP = (10*60 + 2*30) / 90 = 660/90 = 7.333333
    rows = [
        Row(user_id=1, event_id=1, ts=t0, value=10.0),
        Row(user_id=1, event_id=2, ts=t0 + dt.timedelta(seconds=60),
            value=2.0),
        Row(user_id=1, event_id=3, ts=t0 + dt.timedelta(seconds=90),
            value=99.0),
    ]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.unix_timestamp("ts")
    obs = _events(spark, rows).select(
        "user_id",
        F.col("value").cast("string").cast("decimal(18,6)").alias("v"),
        (F.lead(epoch).over(w) - epoch).alias("dur"),
    ).filter(F.col("dur").isNotNull())
    out = obs.groupBy("user_id").agg(
        F.round(
            F.sum(F.col("v") * F.col("dur")).cast("double")
            / F.sum("dur").cast("double"), 6,
        ).alias("twap"),
        F.sum("dur").alias("held"),
    ).collect()[0]
    assert out.held == 90 and out.twap == 7.333333


def test_mad_intent(spark):
    # values 1..7 with an outlier 100: median=4.5 of [1..7,100]?  Use
    # odd count for a clean hand computation: [1,2,3,4,5,6,100]
    # median=4; |x-4| = [3,2,1,0,1,2,96]; MAD = median = 2;
    # 3*MAD=6 -> only 96 exceeds -> 1 outlier
    rows = [Row(event_type="t", value=float(v))
            for v in [1, 2, 3, 4, 5, 6, 100]]
    df = _events(spark, rows)
    med = df.groupBy("event_type").agg(
        F.percentile("value", 0.5).alias("m"))
    dev = df.join(med, "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("m")))
    mad = dev.groupBy("event_type").agg(
        F.percentile("adev", 0.5).alias("mad")).collect()[0]
    assert mad.mad == 2.0
    n_out = dev.join(
        _events(spark, [Row(event_type="t", mad=2.0)]), "event_type"
    ).filter(F.col("adev") > 3 * F.col("mad")).count()
    assert n_out == 1


def test_sequence_pattern_intent(spark):
    # seq "vcvppvcp": non-overlapping "vp" matches at 5-6?  Hand scan:
    # v c v p p v c p -> "vp" matches the v@2-p@3 pair and v@5..? v@5
    # is followed by c -> regex literal "vp" = adjacent only: matches
    # at (2,3) and none later except none -> 1?  positions: indexes
    # 0v 1c 2v 3p 4p 5v 6c 7p; adjacent vp only at (2,3) -> 1 match.
    # "vc+p": v@0 c@1 then v@2 breaks -> no; v@5 c@6 p@7 -> 1 match.
    seq = "vcvppvcp"
    df = spark.createDataFrame([Row(seq=seq)])
    out = df.select(
        F.size(F.regexp_extract_all(F.col("seq"), F.lit("vp"), 0)).alias("a"),
        F.size(F.regexp_extract_all(F.col("seq"), F.lit("vc+p"), 0)).alias("b"),
    ).collect()[0]
    assert (out.a, out.b) == (1, 1)


def test_triangle_count_intent(spark):
    from operator_families.functions.graph import (
        triangle_count,
    )

    # hand graph on {1..5}: triangles {1,2,3} (1-2, 2-3, 1-3),
    # {1,4,5} (4-5, 5-1, 1-4), and {1,3,4} (1-3, 3-4, 1-4).
    # Duplicates, reversed direction, and a self-loop must not change
    # the count.
    edges = spark.createDataFrame(
        [
            (1, 2), (2, 3), (1, 3),
            (3, 4),
            (4, 5), (5, 1), (1, 4),
            (2, 1), (3, 1),                  # reversed duplicates
            (3, 3),                          # self-loop
        ],
        "src bigint, dst bigint",
    )
    assert triangle_count(edges).collect()[0].triangles == 3


def test_bloom_prejoin_no_false_negatives_intent(spark):
    from operator_families.functions.sketch import (
        bloom_build,
        bloom_probe,
    )

    # the bloom contract a prejoin relies on: EVERY true key passes the
    # probe (no false negatives), so pre-filtering a fact scan can never
    # drop a joinable row.  Probed non-members may pass (false
    # positives) but the subsequent join removes them — here we only
    # assert the direction that would silently corrupt a join.
    dim = spark.createDataFrame([(k,) for k in range(50)], "k bigint")
    state = bloom_build(dim, "k")
    probed = bloom_probe(dim, state, "k")
    assert probed.filter(~F.col("maybe_member")).count() == 0


def test_ohlc_bars_intent(spark):
    import datetime as dt

    from operator_families.functions.behavior import (
        ohlc_bars,
    )

    t0 = dt.datetime(2024, 1, 1, 9, 0, 0)
    # one bucket; ts tie at t0 broken by event_id: open must be the
    # id=0 value (5.0), NOT the higher-valued id=1 row; close is the
    # latest ts; high/low are the extremes regardless of order.
    rows = [
        Row(user_id=1, event_id=0, ts=t0, value=5.0),
        Row(user_id=1, event_id=1, ts=t0, value=7.0),
        Row(user_id=1, event_id=2, ts=t0 + dt.timedelta(minutes=1),
            value=1.0),
        Row(user_id=1, event_id=3, ts=t0 + dt.timedelta(minutes=2),
            value=4.0),
    ]
    out = ohlc_bars(
        spark.createDataFrame(rows), ["user_id"]
    ).collect()[0]
    assert (out.open_val, out.high_val, out.low_val, out.close_val,
            out.n_events) == (5.0, 7.0, 1.0, 4.0, 4)


def test_pareto_frontier_intent(spark):
    import datetime as dt

    from operator_families.functions.behavior import (
        pareto_frontier,
    )

    t = lambda m: dt.datetime(2024, 1, 1) + dt.timedelta(minutes=m)
    # points (minute, value); frontier maximizes both.  (3, 9) dominates
    # (1, 9) (equal value, later ts) and (2, 4); (5, 2) survives as the
    # latest point; (4, 1) is dominated by (5, 2); (0, 10) survives on
    # value alone.
    rows = [
        Row(g="a", ts=t(0), value=10.0),
        Row(g="a", ts=t(1), value=9.0),
        Row(g="a", ts=t(2), value=4.0),
        Row(g="a", ts=t(3), value=9.0),
        Row(g="a", ts=t(4), value=1.0),
        Row(g="a", ts=t(5), value=2.0),
    ]
    out = pareto_frontier(
        spark.createDataFrame(rows), ["g"]
    ).collect()
    got = sorted((r.ts.minute, r.value) for r in out)
    assert got == [(0, 10.0), (3, 9.0), (5, 2.0)]


def test_chisq_cells_intent(spark):
    from operator_families.functions.stats import (
        chisq_cells,
    )

    # 2x2 table a=10 b=20 / c=30 d=40: N=100, rows (30, 70),
    # cols (40, 60).  Hand-checked against the classic
    # N(ad - bc)^2 / (r1 r2 c1 c2) = 100 * 200^2 / 5,040,000 = 0.793651,
    # which must equal the sum of the four per-cell terms.
    rows = (
        [Row(r="x", c="p")] * 10
        + [Row(r="x", c="q")] * 20
        + [Row(r="y", c="p")] * 30
        + [Row(r="y", c="q")] * 40
    )
    out = {
        (o.r, o.c): o
        for o in chisq_cells(spark.createDataFrame(rows), "r", "c").collect()
    }
    assert out[("x", "p")].chi2_contrib == 0.333333   # 200^2/(100*30*40)
    assert out[("x", "q")].chi2_contrib == 0.222222   # 200^2/(100*30*60)
    assert out[("y", "p")].chi2_contrib == 0.142857   # 200^2/(100*70*40)
    assert out[("y", "q")].chi2_contrib == 0.095238   # 200^2/(100*70*60)
    assert out[("x", "p")].row_total == 30
    assert out[("x", "p")].col_total == 40
    total = round(sum(o.chi2_contrib for o in out.values()), 6)
    assert total == 0.79365


def test_event_ngram_counts_intent(spark):
    import datetime as dt

    from operator_families.functions.behavior import (
        event_ngram_counts,
    )

    t0 = dt.datetime(2024, 1, 1)
    # user 1 stream A B C D -> trigrams ABC, BCD; user 2 stream A B C
    # (with a ts tie at the last two events broken by event_id) -> ABC.
    # Expected counts: ABC x2, BCD x1 — and nothing crosses users.
    rows = [
        Row(user_id=1, event_id=0, ts=t0, event_type="A"),
        Row(user_id=1, event_id=1, ts=t0 + dt.timedelta(minutes=1),
            event_type="B"),
        Row(user_id=1, event_id=2, ts=t0 + dt.timedelta(minutes=2),
            event_type="C"),
        Row(user_id=1, event_id=3, ts=t0 + dt.timedelta(minutes=3),
            event_type="D"),
        Row(user_id=2, event_id=4, ts=t0, event_type="A"),
        Row(user_id=2, event_id=5, ts=t0 + dt.timedelta(minutes=1),
            event_type="B"),
        Row(user_id=2, event_id=6, ts=t0 + dt.timedelta(minutes=1),
            event_type="C"),
    ]
    out = {
        (r.e1, r.e2, r.e3): r.n_paths
        for r in event_ngram_counts(
            spark.createDataFrame(rows), n=3
        ).collect()
    }
    assert out == {("A", "B", "C"): 2, ("B", "C", "D"): 1}


def test_weighted_median_intent(spark):
    from operator_families.functions.stats import (
        weighted_median,
    )

    # values 1,2,3 with weights 1,1,10: total 12, half 6 — running
    # weights 1,2,12, so the first row with 2*cw >= 12 is value 3 (the
    # heavy tail pulls the median up; an unweighted median would say 2).
    # Second group: equal weights over 10,20 — running 1,2 against
    # total 2; 2*1 >= 2 already at the FIRST row, so the lower-median
    # convention picks 10.
    rows = [
        Row(g="a", value=1.0, wt=1, event_id=0),
        Row(g="a", value=2.0, wt=1, event_id=1),
        Row(g="a", value=3.0, wt=10, event_id=2),
        Row(g="b", value=10.0, wt=5, event_id=3),
        Row(g="b", value=20.0, wt=5, event_id=4),
    ]
    out = {
        r.g: (r.weighted_median, r.total_weight)
        for r in weighted_median(
            spark.createDataFrame(rows), ["g"]
        ).collect()
    }
    assert out == {"a": (3.0, 12), "b": (10.0, 10)}


def test_gini_intent(spark):
    from operator_families.functions.stats import (
        gini_concentration,
    )

    # Perfect equality (4 equal values) -> G = 0.  Maximal two-point
    # inequality (0, 10): sorted ranks give 2*sum(i*x) = 2*(0 + 2*10)
    # = 40, (n+1)*T = 30, n*T = 20 -> G = 10/20 = 0.5 (the two-sample
    # maximum).  Hand-derived from the rank formula, not from either
    # engine.
    rows = [
        Row(g="eq", value=5.0, event_id=0),
        Row(g="eq", value=5.0, event_id=1),
        Row(g="eq", value=5.0, event_id=2),
        Row(g="eq", value=5.0, event_id=3),
        Row(g="2pt", value=0.0, event_id=4),
        Row(g="2pt", value=10.0, event_id=5),
    ]
    out = {
        r.g: (r.n, r.total_value, r.gini)
        for r in gini_concentration(
            spark.createDataFrame(rows), ["g"]
        ).collect()
    }
    assert out == {"eq": (4, 20.0, 0.0), "2pt": (2, 10.0, 0.5)}


def test_cusum_changepoint_intent(spark):
    import datetime as dt

    from operator_families.functions.stats import (
        cusum_changepoint,
    )

    t0 = dt.datetime(2024, 1, 1)
    # Level shift 0,0,0 -> 10,10,10: n=6, T=30; dev_i = |6*cum - 30*i|
    # = 30, 60, 90, 60, 30, 0 — the peak sits at i=3, the LAST point of
    # the pre-shift regime, as the docstring promises.  dev = 90 =
    # |6*0 - 3*30|.
    rows = [
        Row(g="a", ts=t0 + dt.timedelta(minutes=i), event_id=i, value=v)
        for i, v in enumerate([0.0, 0.0, 0.0, 10.0, 10.0, 10.0])
    ]
    out = cusum_changepoint(spark.createDataFrame(rows), ["g"]).collect()[0]
    assert (out.change_idx, out.change_event_id, out.max_deviation, out.n) \
        == (3, 2, 90.0, 6)


def test_cohort_value_matrix_intent(spark):
    import datetime as dt

    from operator_families.functions.behavior import (
        cohort_value_matrix,
    )

    # User 1 first seen Mon Jan 1 2024 (week 2024-01-01), spends 1.0
    # that week and 2.0 + 3.0 two weeks later; user 2 first seen the
    # SAME week, spends 10.0 in week 0 only.  Expected cells for the
    # one cohort: offset 0 -> (2 events, 11.0, cum 11.0),
    # offset 2 -> (2 events, 5.0, cum 16.0); offset 1 has no row (no
    # gap filling here — gapfill is its own operator).
    wk0 = dt.datetime(2024, 1, 1, 12, 0)
    rows = [
        Row(user_id=1, ts=wk0, value=1.0),
        Row(user_id=1, ts=wk0 + dt.timedelta(days=14), value=2.0),
        Row(user_id=1, ts=wk0 + dt.timedelta(days=15), value=3.0),
        Row(user_id=2, ts=wk0 + dt.timedelta(hours=1), value=10.0),
    ]
    out = {
        r.week_offset: (r.n_events, r.week_value, r.cumulative_value)
        for r in cohort_value_matrix(spark.createDataFrame(rows)).collect()
    }
    assert out == {0: (2, 11.0, 11.0), 2: (2, 5.0, 16.0)}
    assert all(
        r.cohort_week == dt.date(2024, 1, 1)
        for r in cohort_value_matrix(spark.createDataFrame(rows)).collect()
    )


def test_spearman_intent(spark):
    import datetime as dt

    from operator_families.functions.stats import (
        spearman_rank_corr,
    )

    t = lambda m: dt.datetime(2024, 1, 1) + dt.timedelta(minutes=m)
    # "up": values strictly increase with time -> rho = +1; "down":
    # strictly decrease -> rho = -1; "mid": values 1,3,2 -> time ranks
    # (1,2,3) vs value ranks (1,3,2), d^2 = 0+1+1 = 2,
    # rho = 1 - 12/(3*8) = 0.5.  All hand-derived from the d-squared
    # formula, not from either engine.
    rows = []
    for i, v in enumerate([1.0, 2.0, 3.0]):
        rows.append(Row(g="up", ts=t(i), event_id=i, value=v))
    for i, v in enumerate([3.0, 2.0, 1.0]):
        rows.append(Row(g="down", ts=t(i), event_id=10 + i, value=v))
    for i, v in enumerate([1.0, 3.0, 2.0]):
        rows.append(Row(g="mid", ts=t(i), event_id=20 + i, value=v))
    rows.append(Row(g="solo", ts=t(0), event_id=30, value=7.0))
    out = {
        r.g: (r.n, r.sum_d2, r.rho)
        for r in spearman_rank_corr(
            spark.createDataFrame(rows), ["g"]
        ).collect()
    }
    assert out == {
        "up": (3, 0, 1.0),
        "down": (3, 8, -1.0),
        "mid": (3, 2, 0.5),
        "solo": (1, 0, None),
    }


def test_cooccurrence_lift_intent(spark):
    from operator_families.functions.behavior import (
        type_cooccurrence_lift,
    )

    # Users: 1 -> {A, B}, 2 -> {A, B}, 3 -> {A}, 4 -> {B}.  n_users = 4,
    # n_A = 3, n_B = 3, n_AB = 2 -> lift = 2*4/(3*3) = 8/9.  Duplicate
    # events must NOT inflate counts (user 1 does A twice).
    rows = [
        Row(user_id=1, event_type="A"),
        Row(user_id=1, event_type="A"),
        Row(user_id=1, event_type="B"),
        Row(user_id=2, event_type="A"),
        Row(user_id=2, event_type="B"),
        Row(user_id=3, event_type="A"),
        Row(user_id=4, event_type="B"),
    ]
    out = type_cooccurrence_lift(spark.createDataFrame(rows)).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.t1, r.t2, r.n_both) == ("A", "B", 2)
    assert r.lift == round(8 / 9, 9)


def test_mann_whitney_intent(spark):
    from operator_families.functions.stats import (
        mann_whitney_u,
    )

    # "sep": side 0 = {1,2} strictly below side 1 = {3,4}: combined
    # ranks 1,2,3,4, R1 = 3, U1 = 3 - 2*3/2 = 0, AUC = 0 (a random
    # side-0 value NEVER exceeds side 1).  "mix": side 0 = {10,30},
    # side 1 = {20,40} interleave: R1 = 1+3 = 4, U1 = 1, AUC = 0.25.
    rows = [
        Row(g="sep", side=0, value=1.0, event_id=0),
        Row(g="sep", side=0, value=2.0, event_id=1),
        Row(g="sep", side=1, value=3.0, event_id=2),
        Row(g="sep", side=1, value=4.0, event_id=3),
        Row(g="mix", side=0, value=10.0, event_id=4),
        Row(g="mix", side=1, value=20.0, event_id=5),
        Row(g="mix", side=0, value=30.0, event_id=6),
        Row(g="mix", side=1, value=40.0, event_id=7),
    ]
    out = {
        r.g: (r.n1, r.n2, r.u1, r.auc)
        for r in mann_whitney_u(
            spark.createDataFrame(rows), ["g"], "side"
        ).collect()
    }
    assert out == {"sep": (2, 2, 0, 0.0), "mix": (2, 2, 1, 0.25)}


def test_welch_t_intent(spark):
    import math

    from operator_families.functions.stats import welch_t

    # side 0 = {1,2,3}: mean 2, sample var 1; side 1 = {4,6,8}: mean 6,
    # sample var 4.  t = (2-6)/sqrt(1/3 + 4/3) — derived from the
    # definition with Python floats (independent of both engines).
    rows = [
        Row(g="a", side=0, value=1.0),
        Row(g="a", side=0, value=2.0),
        Row(g="a", side=0, value=3.0),
        Row(g="a", side=1, value=4.0),
        Row(g="a", side=1, value=6.0),
        Row(g="a", side=1, value=8.0),
        # degenerate: one row per side -> NULL
        Row(g="tiny", side=0, value=1.0),
        Row(g="tiny", side=1, value=2.0),
    ]
    out = {
        r.g: (r.n1, r.n2, r.t_stat)
        for r in welch_t(spark.createDataFrame(rows), ["g"], "side").collect()
    }
    expected_t = round((2.0 - 6.0) / math.sqrt(1 / 3 + 4 / 3), 9)
    assert out == {"a": (3, 3, expected_t), "tiny": (1, 1, None)}


def test_ks_statistic_intent(spark):
    from operator_families.functions.stats import (
        ks_statistic,
    )

    # "sep": side 0 = {1,2} fully below side 1 = {3,4} -> after rank 2
    # the CDF gap is F1=1, F2=0 -> D = 1 (d_scaled = 2*2 = 4).
    # "same": identical samples interleaved {1,2} vs {1,2} (ids split
    # the ties deterministically): gaps peak at |1*2 - 0*2| = 2 right
    # after the first side-0 row -> D = 0.5.
    rows = [
        Row(g="sep", side=0, value=1.0, event_id=0),
        Row(g="sep", side=0, value=2.0, event_id=1),
        Row(g="sep", side=1, value=3.0, event_id=2),
        Row(g="sep", side=1, value=4.0, event_id=3),
        Row(g="same", side=0, value=1.0, event_id=4),
        Row(g="same", side=1, value=1.0, event_id=5),
        Row(g="same", side=0, value=2.0, event_id=6),
        Row(g="same", side=1, value=2.0, event_id=7),
    ]
    out = {
        r.g: (r.n1, r.n2, r.d_scaled, r.ks)
        for r in ks_statistic(
            spark.createDataFrame(rows), ["g"], "side"
        ).collect()
    }
    assert out == {"sep": (2, 2, 4, 1.0), "same": (2, 2, 2, 0.5)}


def test_winsorize_intent(spark):
    from operator_families.functions.stats import winsorize

    # 0..10: p05 = 0.5, p95 = 9.5 (linear interpolation) -> 0 clips up
    # to 0.5, 10 clips down to 9.5, everything else untouched.
    rows = [Row(g="a", value=float(i), event_id=i) for i in range(11)]
    out = {
        r.event_id: (r.w_value, r.clipped_low, r.clipped_high)
        for r in winsorize(
            spark.createDataFrame(rows), "value", ["g"]
        ).collect()
    }
    assert out[0] == (0.5, True, False)
    assert out[10] == (9.5, False, True)
    assert out[5] == (5.0, False, False)
    assert sum(lo for _, lo, _ in out.values()) == 1
    assert sum(hi for _, _, hi in out.values()) == 1


def test_gini_zero_total_is_null(spark):
    from operator_families.functions.stats import (
        gini_concentration,
    )

    # All-zero group: the coefficient is 0/0-undefined -> NULL, never an
    # engine-dependent inf/NaN.
    rows = [
        Row(g="z", value=0.0, event_id=0),
        Row(g="z", value=0.0, event_id=1),
    ]
    out = gini_concentration(spark.createDataFrame(rows), ["g"]).collect()[0]
    assert (out.n, out.total_value, out.gini) == (2, 0.0, None)


def test_cohort_value_matrix_drops_null_users(spark):
    import datetime as dt

    from operator_families.functions.behavior import (
        cohort_value_matrix,
    )

    # A NULL-user row has no cohort: it must be dropped, not become its
    # own cohort (the SQL replay's equi-join drops it implicitly — the
    # two mechanisms must agree on this row class).
    wk0 = dt.datetime(2024, 1, 1, 12, 0)
    rows = [
        Row(user_id=1, ts=wk0, value=1.0),
        Row(user_id=None, ts=wk0, value=99.0),
    ]
    out = cohort_value_matrix(spark.createDataFrame(rows)).collect()
    assert len(out) == 1
    assert out[0].week_value == 1.0


def test_rolling_ols_slope_intent(spark):
    import datetime as dt

    from operator_families.functions.stats import (
        rolling_ols_slope,
    )

    t = lambda m: dt.datetime(2024, 1, 1) + dt.timedelta(minutes=m)
    # y = 1,2,3 on consecutive ranks -> trailing slope 1.0 from the
    # second row on; then 3,1 drops: frame {2,3,1} fits slope -0.5
    # ((3*23 - 6*6) / (3*29 - 36) = -33/... hand: x=1,2,3 y=1,2,3 ->
    # slope 1; x=2,3,4 y=2,3,1 -> n=3 sx=9 sy=6 sxx=29 sxy=17,
    # (51-54)/(87-81) = -0.5).  First row: frame of 1 -> NULL.
    rows = [
        Row(g="a", ts=t(0), event_id=0, value=1.0),
        Row(g="a", ts=t(1), event_id=1, value=2.0),
        Row(g="a", ts=t(2), event_id=2, value=3.0),
        Row(g="a", ts=t(3), event_id=3, value=1.0),
    ]
    out = {
        r.event_id: r.slope
        for r in rolling_ols_slope(
            spark.createDataFrame(rows), ["g"], window_rows=3
        ).collect()
    }
    assert out == {0: None, 1: 1.0, 2: 1.0, 3: -0.5}


def test_quantile_normalize_intent(spark):
    from operator_families.functions.stats import (
        quantile_normalize,
    )

    # Reference side 0 = {10, 20}; targets side 1 = {1, 2, 3} map to
    # reference positions 0, 0.5, 1 -> 10, 15 (midpoint interpolation),
    # 20.  Hand-derived from the definition: rank r of n1 maps to
    # p = (r-1)*(n0-1)/(n1-1).
    rows = [
        Row(g="f", side=0, value=10.0, event_id=0),
        Row(g="f", side=0, value=20.0, event_id=1),
        Row(g="f", side=1, value=1.0, event_id=2),
        Row(g="f", side=1, value=2.0, event_id=3),
        Row(g="f", side=1, value=3.0, event_id=4),
    ]
    out = {
        r.event_id: r.norm_value
        for r in quantile_normalize(
            spark.createDataFrame(rows), ["g"], "side"
        ).collect()
    }
    assert out == {2: 10.0, 3: 15.0, 4: 20.0}


def test_longest_streak_intent(spark):
    import datetime as dt

    from operator_families.functions.behavior import (
        longest_streak,
    )

    # User 1 active Jan 1,2,3 (streak 3), gap, Jan 6,7 (streak 2), with
    # a duplicate event on Jan 2 that must not break or lengthen
    # anything -> longest 3 starting Jan 1, 5 active days.  User 2 has
    # two equal-length streaks (Jan 1-2, Jan 5-6): the EARLIEST start
    # wins the tie.
    days1 = [1, 2, 2, 3, 6, 7]
    days2 = [1, 2, 5, 6]
    rows = [
        Row(user_id=1, ts=dt.datetime(2024, 1, d, 8, 0)) for d in days1
    ] + [
        Row(user_id=2, ts=dt.datetime(2024, 1, d, 8, 0)) for d in days2
    ]
    out = {
        r.user_id: (r.longest_streak, r.streak_start, r.active_days)
        for r in longest_streak(spark.createDataFrame(rows)).collect()
    }
    assert out == {
        1: (3, dt.date(2024, 1, 1), 5),
        2: (2, dt.date(2024, 1, 1), 4),
    }


def test_seasonal_dow_index_intent(spark):
    from operator_families.functions.stats import (
        seasonal_dow_index,
    )

    # Two ISO weeks of a single group: Mondays Jan 1 + Jan 8 carry 3
    # events each (6 total over 2 active days), the one active Tuesday
    # (Jan 2) carries 2.  Overall: 8 events over 3 active days.  Index =
    # dow_mean / overall_mean: Monday (6/2)/(8/3) = 9/8 = 1.125, Tuesday
    # (2/1)/(8/3) = 0.75.  Hand-derived from the definition.
    import datetime as dt

    rows = (
        [Row(g="a", ts=dt.datetime(2024, 1, 1, h)) for h in (1, 2, 3)]
        + [Row(g="a", ts=dt.datetime(2024, 1, 8, h)) for h in (1, 2, 3)]
        + [Row(g="a", ts=dt.datetime(2024, 1, 2, h)) for h in (1, 2)]
    )
    out = {
        r.iso_dow: (r.n_days, r.n_events, r.seasonal_index)
        for r in seasonal_dow_index(
            spark.createDataFrame(rows), ["g"]
        ).collect()
    }
    assert out == {1: (2, 6, 1.125), 2: (1, 2, 0.75)}


def test_wilson_interval_intent(spark):
    from operator_families.functions.stats import (
        wilson_interval,
    )

    # k=5 of n=10 at z=1.96: the textbook Wilson interval around 0.5 is
    # (0.2365, 0.7635) to 4 places and symmetric about the shrunk
    # center.  Also k=0: the lower bound must be exactly 0 (the whole
    # point of Wilson over Wald) and the upper strictly positive.
    rows = [Row(g="half", s=i < 5) for i in range(10)] + [
        Row(g="none", s=False) for i in range(4)
    ]
    out = {
        r.g: r for r in wilson_interval(
            spark.createDataFrame(rows), ["g"], "s"
        ).collect()
    }
    half = out["half"]
    assert half.p_hat == 0.5
    assert round(half.wilson_low, 4) == 0.2366
    assert round(half.wilson_high, 4) == 0.7634
    assert abs((0.5 - half.wilson_low) - (half.wilson_high - 0.5)) < 1e-12
    none = out["none"]
    assert none.wilson_low == 0.0 and none.p_hat == 0.0
    assert none.wilson_high > 0.4  # n=4: wide, but bounded below 1


def test_new_vs_returning_intent(spark):
    import datetime as dt

    from operator_families.functions.behavior import (
        new_vs_returning,
    )

    # u1 active day1+day2, u2 only day2, u3 day1+day3; duplicate events
    # within a day must not double-count.  Day1: two new.  Day2: u2 new,
    # u1 returning.  Day3: u3 returning only.  cum_users = 2, 3, 3.
    rows = [
        Row(user_id=1, ts=dt.datetime(2024, 1, 1, 8)),
        Row(user_id=1, ts=dt.datetime(2024, 1, 1, 9)),
        Row(user_id=3, ts=dt.datetime(2024, 1, 1, 10)),
        Row(user_id=1, ts=dt.datetime(2024, 1, 2, 8)),
        Row(user_id=2, ts=dt.datetime(2024, 1, 2, 8)),
        Row(user_id=3, ts=dt.datetime(2024, 1, 3, 8)),
    ]
    out = {
        r.day: (r.n_active, r.n_new, r.n_returning, r.cum_users)
        for r in new_vs_returning(spark.createDataFrame(rows)).collect()
    }
    assert out == {
        dt.date(2024, 1, 1): (2, 2, 0, 2),
        dt.date(2024, 1, 2): (2, 1, 1, 3),
        dt.date(2024, 1, 3): (1, 0, 1, 3),
    }


def test_interpolate_daily_linear_intent(spark):
    import datetime as dt

    from operator_families.functions.temporal import (
        interpolate_daily_linear,
    )

    # Known days 1 (v=10) and 4 (v=40) with days 2-3 missing: the line
    # fills 20 and 30.  A second group with a single day emits just that
    # day, no gaps.  Hand-derived from the straight-line definition.
    rows = [
        Row(g="a", day=dt.date(2024, 1, 1), day_value=10.0),
        Row(g="a", day=dt.date(2024, 1, 4), day_value=40.0),
        Row(g="b", day=dt.date(2024, 1, 7), day_value=5.0),
    ]
    out = {
        (r.g, r.day): (r.is_gap, r.filled_value)
        for r in interpolate_daily_linear(
            spark.createDataFrame(rows), ["g"]
        ).collect()
    }
    assert out == {
        ("a", dt.date(2024, 1, 1)): (False, 10.0),
        ("a", dt.date(2024, 1, 2)): (True, 20.0),
        ("a", dt.date(2024, 1, 3)): (True, 30.0),
        ("a", dt.date(2024, 1, 4)): (False, 40.0),
        ("b", dt.date(2024, 1, 7)): (False, 5.0),
    }


def test_rolling_corr_intent(spark):
    import datetime as dt

    from operator_families.functions.stats import (
        rolling_corr,
    )

    # Group "up": (x, y) move together linearly -> r = 1.0 exactly once
    # the frame holds 2+ rows; the first frame (one row) has zero
    # variance -> NULL.  Group "down": y reversed -> r = -1.0.  Group
    # "flat": constant y -> zero marginal variance -> NULL everywhere.
    import decimal

    def d(v):
        return decimal.Decimal(v).quantize(decimal.Decimal("0.000001"))

    rows = [
        Row(g="up", day=dt.date(2024, 1, i), x=i, y=d(i)) for i in (1, 2, 3)
    ] + [
        Row(g="down", day=dt.date(2024, 1, i), x=i, y=d(4 - i))
        for i in (1, 2, 3)
    ] + [
        Row(g="flat", day=dt.date(2024, 1, i), x=i, y=d(5)) for i in (1, 2)
    ]
    df = spark.createDataFrame(
        rows, "g string, day date, x bigint, y decimal(18,6)"
    )
    out = {
        (r.g, r.day.day): (r.n, r.roll_r)
        for r in rolling_corr(df, ["g"], "day", "x", "y").collect()
    }
    assert out[("up", 1)] == (1, None)
    assert out[("up", 2)] == (2, 1.0)
    assert out[("up", 3)] == (3, 1.0)
    assert out[("down", 2)] == (2, -1.0)
    assert out[("down", 3)] == (3, -1.0)
    assert out[("flat", 1)][1] is None and out[("flat", 2)][1] is None


def test_category_diversity_intent(spark):
    from operator_families.functions.stats import (
        category_diversity,
    )

    # u1: counts [2, 2] -> n=4, hhi = 8/16 = 0.5, simpson = 1 - 4/12.
    # u2: single category [3] -> hhi = 1, simpson = 0 exactly (the
    # unbiased estimator hits the bound; the plug-in form would not).
    # u3: one event -> simpson NULL (undefined without replacement).
    rows = (
        [Row(u=1, t=c) for c in ("a", "a", "b", "b")]
        + [Row(u=2, t="a") for _ in range(3)]
        + [Row(u=3, t="z")]
    )
    out = {
        r.u: (r.n, r.k_categories, r.hhi, r.simpson)
        for r in category_diversity(
            spark.createDataFrame(rows), ["u"], "t"
        ).collect()
    }
    assert out[1] == (4, 2, 0.5, round(1 - 4 / 12, 9))
    assert out[2] == (3, 1, 1.0, 0.0)
    assert out[3] == (1, 1, 1.0, None)


def test_transition_smoothed_intent(spark):
    import datetime as dt

    from operator_families.functions.behavior import (
        transition_smoothed,
    )

    # One user, sequence A B A B: pairs AB, BA, AB.  vocab = 2.
    # P(B|A) = (2+1)/(2+2) = 0.75; P(A|B) = (1+1)/(1+2) = 2/3.  Every
    # unobserved pair is implicitly 1/(n_src + V), so each source row
    # sums to 1 over the full vocabulary: A: 3/4 + 1/4; B: 2/3 + 1/3.
    rows = [
        Row(
            user_id=1,
            event_type=t,
            ts=dt.datetime(2024, 1, 1, h),
            event_id=h,
        )
        for h, t in enumerate(["A", "B", "A", "B"])
    ]
    out = {
        (r.src, r.dst): (
            r.n_transitions,
            r.n_src_total,
            r.vocab,
            r.smoothed_prob,
        )
        for r in transition_smoothed(
            spark.createDataFrame(rows)
        ).collect()
    }
    assert out[("A", "B")] == (2, 2, 2, 0.75)
    assert out[("B", "A")] == (1, 1, 2, round(2 / 3, 9))
    assert len(out) == 2


def test_item_cosine_intent(spark):
    from operator_families.functions.reco import (
        item_cosine_similarity,
    )

    # Baskets: b1={A,B,C}, b2={A,B}, b3={A,B}, b4={C}.  Duplicate line
    # (b1, A) must not inflate membership.  n_A=3, n_B=3, n_C=2;
    # co(A,B)=3 -> cosine 3/sqrt(9)=1.0; co(A,C)=co(B,C)=1 (pruned at
    # min_support=2).
    rows = [
        ("b1", "A"), ("b1", "A"), ("b1", "B"), ("b1", "C"),
        ("b2", "A"), ("b2", "B"),
        ("b3", "A"), ("b3", "B"),
        ("b4", "C"),
    ]
    df = spark.createDataFrame(rows, "basket string, item string")
    out = {
        (r.item_i, r.item_j): (r.co_baskets, r.n_i, r.n_j, r.cosine, r.sim_rank)
        for r in item_cosine_similarity(
            df, "basket", "item", min_support=2, top_k=5
        ).collect()
    }
    assert out == {
        ("A", "B"): (3, 3, 3, 1.0, 1),
        ("B", "A"): (3, 3, 3, 1.0, 1),
    }


def test_item_cosine_whale_basket_quarantine(spark):
    from operator_families.functions.reco import (
        item_cosine_similarity,
    )

    # A whale basket above max_basket is dropped WHOLE before pairing:
    # with the cap its pairs vanish and the small baskets' counts are
    # unchanged.
    rows = [("w", f"i{k}") for k in range(6)] + [
        ("b1", "i0"), ("b1", "i1"),
        ("b2", "i0"), ("b2", "i1"),
    ]
    df = spark.createDataFrame(rows, "basket string, item string")
    capped = item_cosine_similarity(
        df, "basket", "item", min_support=2, top_k=5, max_basket=5
    ).collect()
    # without the whale, co(i0,i1)=2 and n_i0=n_i1=2 -> cosine 1.0
    assert {(r.item_i, r.item_j, r.co_baskets, r.cosine) for r in capped} == {
        ("i0", "i1", 2, 1.0), ("i1", "i0", 2, 1.0)
    }
    uncapped = item_cosine_similarity(
        df, "basket", "item", min_support=2, top_k=5
    ).collect()
    # whale included: co(i0,i1)=3, n=3 each -> still 1.0 but co/n larger
    assert {(r.item_i, r.item_j, r.co_baskets) for r in uncapped} >= {
        ("i0", "i1", 3), ("i1", "i0", 3)
    }


def test_funnel_windowed_intent(spark):
    import datetime as dt

    from operator_families.functions.behavior import (
        funnel_windowed,
    )

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def at(h):
        return t0 + dt.timedelta(hours=h)

    rows = [
        # u1 converts fully inside the 4h windows
        Row(user_id=1, event_type="view", ts=at(0)),
        Row(user_id=1, event_type="click", ts=at(1)),
        Row(user_id=1, event_type="purchase", ts=at(2)),
        # u2's click misses the window (5h after view)
        Row(user_id=2, event_type="view", ts=at(0)),
        Row(user_id=2, event_type="click", ts=at(5)),
        # u3 clicks EXACTLY at the 4h boundary (inclusive) but the
        # purchase lands 5h after the click -> stage 2 only
        Row(user_id=3, event_type="view", ts=at(0)),
        Row(user_id=3, event_type="click", ts=at(4)),
        Row(user_id=3, event_type="purchase", ts=at(9)),
    ]
    df = spark.createDataFrame(rows)
    out = {
        r.stage: (r.stage_name, r.users, r.conversion_pct)
        for r in funnel_windowed(
            df, ("view", "click", "purchase"), max_gap_hours=4
        ).collect()
    }
    assert out[1] == ("view", 3, 100.0)
    assert out[2] == ("click", 2, round(200 / 3, 2))
    assert out[3] == ("purchase", 1, round(100 / 3, 2))


def test_decile_lift_intent(spark):
    from operator_families.functions.stats import decile_lift

    # 10 rows, scores 10..1, positives at scores 10, 9, and 2.  With 5
    # buckets of 2 rows each: bucket 1 captures 2/3 of positives
    # (lift = (2*10)/(2*3) = 10/3), bucket 5 one positive, the middle
    # zero.
    rows = [Row(score=float(s), rid=s, label=(s in (10, 9, 2))) for s in range(1, 11)]
    df = spark.createDataFrame(rows)
    out = {
        r.bucket: (r.n, r.positives, r.pos_rate, r.lift, r.cum_positives,
                   r.cum_gain_pct)
        for r in decile_lift(df, "score", "label", "rid", buckets=5).collect()
    }
    assert out[1] == (2, 2, 1.0, round(10 / 3, 9), 2, round(200 / 3, 9))
    assert out[2] == (2, 0, 0.0, 0.0, 2, round(200 / 3, 9))
    assert out[5] == (2, 1, 0.5, round(5 / 3, 9), 3, 100.0)


def test_seasonal_naive_backtest_intent(spark):
    import datetime as dt

    from operator_families.functions.stats import (
        seasonal_naive_backtest,
    )

    # y = day index over days 1..10, season 7: evaluable days 8..10
    # forecast (1,2,3) against actual (8,9,10) -> sum_a=27, abs_err=21,
    # wmape=21/27, bias=(6-27)/27.  Group "z" has zero actuals -> NULL
    # metrics.
    rows = [
        Row(g="a", day=dt.date(2024, 1, d), y=d) for d in range(1, 11)
    ] + [
        Row(g="z", day=dt.date(2024, 1, d), y=0) for d in range(1, 11)
    ]
    df = spark.createDataFrame(rows, "g string, day date, y bigint")
    out = {
        r.g: (r.n_eval, r.sum_actual, r.sum_abs_err, r.wmape, r.bias_pct)
        for r in seasonal_naive_backtest(df, ["g"], "day", "y", 7).collect()
    }
    assert out["a"] == (3, 27, 21, round(21 / 27, 9), round(-21 / 27, 9))
    assert out["z"] == (3, 0, 0, None, None)


def test_feature_hash_intent(spark):
    import hashlib

    from operator_families.functions.corpus import (
        feature_hash,
    )

    def bucket(feat, n=8):
        return int(hashlib.md5(f"fh:{feat}".encode()).hexdigest()[:8], 16) % n

    rows = [
        Row(uid=1, cat="a", v=1.5),
        Row(uid=1, cat="a", v=2.5),
        Row(uid=1, cat="b", v=1.0),
        Row(uid=2, cat=None, v=9.0),  # NULL feature contributes nothing
    ]
    df = spark.createDataFrame(rows)
    out = {
        (r.uid, r.bucket): (r.feat_count, float(r.value_sum))
        for r in feature_hash(
            df, "uid", ["cat"], n_buckets=8, value_col="v"
        ).collect()
    }
    ba, bb = bucket("cat=a"), bucket("cat=b")
    if ba == bb:
        assert out[(1, ba)] == (3, 5.0)
    else:
        assert out[(1, ba)] == (2, 4.0)
        assert out[(1, bb)] == (1, 1.0)
    assert not any(uid == 2 for uid, _ in out)

    import pytest as _pytest

    with _pytest.raises(ValueError):
        feature_hash(df, "uid", [], n_buckets=8)
    with _pytest.raises(ValueError):
        feature_hash(df, "uid", ["cat"], n_buckets=1)


def test_churn_labels_intent(spark):
    import datetime as dt

    from operator_families.functions.behavior import (
        churn_labels,
    )

    cut = dt.datetime(2024, 1, 21, 0, 0, 0)
    rows = [
        # u1: observation only -> churned; last event exactly 2h before
        # the cutoff -> recency_hours = 2 on the boundary
        Row(user_id=1, ts=cut - dt.timedelta(days=3), event_type="view",
            value=1.0),
        Row(user_id=1, ts=cut - dt.timedelta(hours=2), event_type="purchase",
            value=2.5),
        # u2: both windows -> not churned
        Row(user_id=2, ts=cut - dt.timedelta(minutes=30), event_type="view",
            value=None),
        Row(user_id=2, ts=cut + dt.timedelta(hours=1), event_type="view",
            value=4.0),
        # u3: label window only -> excluded (no observation features)
        Row(user_id=3, ts=cut + dt.timedelta(days=1), event_type="view",
            value=1.0),
    ]
    df = spark.createDataFrame(rows)
    out = {
        r.user_id: (r.n_events, r.n_purchases,
                    None if r.obs_value is None else float(r.obs_value),
                    r.active_days, r.recency_hours, r.churned)
        for r in churn_labels(df, "2024-01-21 00:00:00").collect()
    }
    assert out[1] == (2, 1, 3.5, 2, 2, True)
    assert out[2] == (1, 0, None, 1, 0, False)
    assert 3 not in out


def test_corr_matrix_intent(spark):
    from operator_families.functions.stats import corr_matrix

    import pytest as _pytest

    # x and y perfectly correlated, z perfectly anti-correlated with both
    rows = [Row(x=i, y=2 * i, z=10 - i) for i in (1, 2, 3, 4)]
    df = spark.createDataFrame(rows, "x bigint, y bigint, z bigint")
    out = {
        (r.var_x, r.var_y): (r.n, r.r)
        for r in corr_matrix(df, ["x", "y", "z"]).collect()
    }
    assert out[("x", "y")] == (4, 1.0)
    assert out[("x", "z")] == (4, -1.0)
    assert out[("y", "z")] == (4, -1.0)

    # constant column -> NULL r against everything
    rows2 = [Row(x=i, y=5) for i in (1, 2, 3)]
    df2 = spark.createDataFrame(rows2, "x bigint, y bigint")
    (only,) = corr_matrix(df2, ["x", "y"]).collect()
    assert only.r is None

    # doubles are refused loudly
    df3 = spark.createDataFrame([Row(x=1, y=1.5)])
    with _pytest.raises(ValueError):
        corr_matrix(df3, ["x", "y"])


def test_time_to_convert_intent(spark):
    import datetime as dt

    from operator_families.functions.behavior import (
        time_to_convert,
    )

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        # u1 converts 90 min after first view -> bucket 1
        Row(user_id=1, event_type="view", ts=t0),
        Row(user_id=1, event_type="purchase", ts=t0 + dt.timedelta(minutes=90)),
        # u2 converts exactly 2h after -> bucket 2 (floor of exact hours)
        Row(user_id=2, event_type="view", ts=t0),
        Row(user_id=2, event_type="purchase", ts=t0 + dt.timedelta(hours=2)),
        # u3's purchase precedes the view -> never converts
        Row(user_id=3, event_type="purchase", ts=t0),
        Row(user_id=3, event_type="view", ts=t0 + dt.timedelta(hours=1)),
    ]
    df = spark.createDataFrame(rows)
    out = {
        r.hours_bucket: (r.users, r.cum_users, r.cum_pct)
        for r in time_to_convert(df, "view", "purchase").collect()
    }
    assert out == {1: (1, 1, 50.0), 2: (1, 2, 100.0)}


def test_period_decomposition_intent(spark):
    import datetime as dt

    from operator_families.functions.stats import (
        period_decomposition,
    )

    cut = dt.datetime(2024, 1, 16)
    rows = [
        # type "a": 2 events @ avg 3.0 before, 3 events @ avg 5.0 after
        Row(g="a", ts=cut - dt.timedelta(days=1), v=2.0),
        Row(g="a", ts=cut - dt.timedelta(days=2), v=4.0),
        Row(g="a", ts=cut + dt.timedelta(days=1), v=5.0),
        Row(g="a", ts=cut + dt.timedelta(days=2), v=5.0),
        Row(g="a", ts=cut + dt.timedelta(days=3), v=5.0),
        # type "b": comparison only -> NULL effects
        Row(g="b", ts=cut + dt.timedelta(days=1), v=9.0),
    ]
    df = spark.createDataFrame(rows)
    out = {
        r.g: (r.c0, r.c1, None if r.v0 is None else float(r.v0),
              float(r.v1),
              None if r.total_change is None else float(r.total_change),
              r.volume_effect, r.rate_effect)
        for r in period_decomposition(
            df, ["g"], "ts", "v", "2024-01-16 00:00:00"
        ).collect()
    }
    # volume: (3-2)*3 = 3; rate: 3*(5-3) = 6; total 15-6 = 9 = 3+6
    assert out["a"] == (2, 3, 6.0, 15.0, 9.0, 3.0, 6.0)
    assert out["b"] == (0, 1, None, 9.0, None, None, None)


def test_dow_adjusted_intent(spark):
    import datetime as dt

    from operator_families.functions.stats import (
        dow_adjusted,
    )

    # Two Mondays (2024-01-01, 2024-01-08): 2 and 4 events -> dow mean 3
    # -> 66.666666667% and 133.333333333%; one Tuesday alone -> 100%.
    rows = (
        [Row(g="a", ts=dt.datetime(2024, 1, 1, 10, i)) for i in range(2)]
        + [Row(g="a", ts=dt.datetime(2024, 1, 8, 10, i)) for i in range(4)]
        + [Row(g="a", ts=dt.datetime(2024, 1, 2, 10, 0))]
    )
    df = spark.createDataFrame(rows)
    out = {
        (r.day.day, r.iso_dow): (r.y, r.dow_days, r.dow_events,
                                 r.pct_of_normal)
        for r in dow_adjusted(df, ["g"]).collect()
    }
    assert out[(1, 1)] == (2, 2, 6, round(400 / 6, 9))
    assert out[(8, 1)] == (4, 2, 6, round(800 / 6, 9))
    assert out[(2, 2)] == (1, 1, 1, 100.0)


def test_silhouette_intent(spark):
    from operator_families.functions.simsearch import (
        silhouette,
    )

    cents = spark.createDataFrame(
        [
            Row(centroid_id=0, cv=[1.0, 0.0], cn=1.0),
            Row(centroid_id=1, cv=[0.0, 1.0], cn=1.0),
        ]
    )
    r2 = 2.0 ** 0.5 / 2.0
    assigned = spark.createDataFrame(
        [
            # on its centroid: a=0, b=1 -> s=1
            Row(_id=1, _v=[1.0, 0.0], _n=1.0, centroid_id=0),
            # equidistant boundary point -> a == b -> s = 0
            Row(_id=2, _v=[r2, r2], _n=1.0, centroid_id=0),
            # mis-assigned (sits ON the other centroid): a=1, b=0 -> -1
            Row(_id=3, _v=[0.0, 1.0], _n=1.0, centroid_id=0),
        ]
    )
    out = {
        r.vec_id: (r.dist_own, r.dist_other, r.silhouette)
        for r in silhouette(assigned, cents, dim=2).collect()
    }
    assert out[1] == (0.0, 1.0, 1.0)
    assert out[2][2] == 0.0 and abs(out[2][0] - out[2][1]) < 1e-12
    assert out[3] == (1.0, 0.0, -1.0)


def test_kmv_difference_intent(spark):
    from operator_families.functions.sketch import (
        kmv_difference,
        kmv_sketch,
    )

    a = spark.createDataFrame([Row(v=i) for i in range(1, 6)])     # 1..5
    b = spark.createDataFrame([Row(v=i) for i in range(4, 9)])     # 4..8
    ska = kmv_sketch(a, [], "v", k=64)
    skb = kmv_sketch(b, [], "v", k=64)
    (row,) = kmv_difference(ska, skb, k=64).collect()
    # 8 distinct hashes < k -> every estimate is EXACT
    assert row.union_estimate == 8.0
    assert row.a_not_b_estimate == 3.0
    assert row.b_not_a_estimate == 3.0


def test_ngram_containment_vs_jaccard_intent(spark):
    from operator_families.functions.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    short = "alpha beta gamma delta epsilon"
    long = short + " zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [Row(doc_id=1, text=short), Row(doc_id=2, text=long)]
    )
    (pair,) = ngram_containment_pairs(docs, threshold=0.5).collect()
    # short doc fully embedded: every one of its 3 shingles is shared
    assert (pair.doc_a, pair.doc_b) == (1, 2)
    assert pair.shared == pair.sz_a == 3 and pair.sz_b == 8
    assert pair.containment == 1.0
    # Jaccard dilutes to 3/8 and misses at the same 0.5 bar
    assert ngram_jaccard_pairs(docs, threshold=0.5).collect() == []


def test_dau_wau_stickiness_intent(spark):
    import datetime as dt

    from operator_families.functions.behavior import (
        dau_wau_stickiness,
    )

    d = lambda n, h=10: dt.datetime(2024, 1, n, h, 0, 0)  # noqa: E731
    rows = [
        Row(user_id=1, ts=d(1)),
        Row(user_id=1, ts=d(1, 11)),  # same day dedups
        Row(user_id=2, ts=d(1)),
        Row(user_id=1, ts=d(3)),
        Row(user_id=3, ts=d(20)),     # isolated far day
    ]
    df = spark.createDataFrame(rows)
    out = {
        r.day.day: (r.dau, r.wau, r.stickiness_pct)
        for r in dau_wau_stickiness(df).collect()
    }
    # day 1: both users active; trailing week saw only day-1 activity
    assert out[1] == (2, 2, 100.0)
    # day 3: u1 active; u1+u2's day-1 activity still covers day 3
    assert out[3] == (1, 2, 50.0)
    assert out[20] == (1, 1, 100.0)
    # only observed activity days are reported
    assert set(out) == {1, 3, 20}


def test_freshness_report_intent(spark):
    import datetime as dt

    from operator_families.functions.profile import (
        freshness_report,
    )

    mx = dt.datetime(2024, 1, 30, 12, 0, 0)
    rows = (
        # "fresh": sets the high-water mark; 2 rows in last window,
        # 1 in the prior window -> ratio 200%
        [Row(g="fresh", ts=mx), Row(g="fresh", ts=mx - dt.timedelta(days=2)),
         Row(g="fresh", ts=mx - dt.timedelta(days=10))]
        # "stale": last stamp 49.5h behind -> floor 49; nothing in
        # either trailing window beyond its single old row
        + [Row(g="stale", ts=mx - dt.timedelta(hours=49, minutes=30))]
    )
    df = spark.createDataFrame(rows)
    out = {
        r.g: (r.hours_behind, r.rows_last, r.rows_prior, r.volume_ratio_pct)
        for r in freshness_report(df, "g").collect()
    }
    assert out["fresh"] == (0, 2, 1, 200.0)
    assert out["stale"] == (49, 1, 0, None)


def test_session_funnel_intent(spark):
    import datetime as dt

    from operator_families.functions.behavior import (
        session_funnel,
    )

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def at(minutes):
        return t0 + dt.timedelta(minutes=minutes)

    rows = [
        # u1 session 1 converts fully (all within the 30-min gap chain)
        Row(user_id=1, event_type="view", ts=at(0), event_id=1),
        Row(user_id=1, event_type="click", ts=at(5), event_id=2),
        Row(user_id=1, event_type="purchase", ts=at(10), event_id=3),
        # u1 session 2 (61 min later): view only
        Row(user_id=1, event_type="view", ts=at(71), event_id=4),
        # u2: view, then purchase in a LATER session -> lifetime funnel
        # would credit a conversion; session funnel must not
        Row(user_id=2, event_type="view", ts=at(0), event_id=5),
        Row(user_id=2, event_type="click", ts=at(1), event_id=6),
        Row(user_id=2, event_type="purchase", ts=at(90), event_id=7),
    ]
    df = spark.createDataFrame(rows)
    out = {
        r.stage: (r.sessions, r.conversion_pct)
        for r in session_funnel(
            df, ("view", "click", "purchase"), gap_minutes=30
        ).collect()
    }
    # sessions with a view: u1s1, u1s2, u2s1 = 3; click after view: 2;
    # purchase inside the same session: only u1s1
    assert out[1] == (3, 100.0)
    assert out[2] == (2, round(200 / 3, 2))
    assert out[3] == (1, round(100 / 3, 2))


def test_rate_limit_violations_intent(spark):
    import datetime as dt

    from operator_families.functions.behavior import (
        rate_limit_violations,
    )

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = (
        # burst user: events 0..3 within one hour -> the 3rd and 4th
        # event reach the threshold of 3
        [Row(user_id=1, ts=t0 + dt.timedelta(minutes=10 * i),
             event_id=i + 1) for i in range(4)]
        # boundary: an event EXACTLY 1h before falls outside (t-1h, t]
        + [Row(user_id=2, ts=t0, event_id=10),
           Row(user_id=2, ts=t0 + dt.timedelta(hours=1), event_id=11),
           Row(user_id=2, ts=t0 + dt.timedelta(hours=1), event_id=12)]
    )
    df = spark.createDataFrame(rows)
    out = {
        r.event_id: r.trailing_count
        for r in rate_limit_violations(
            df, window_hours=1, threshold=3
        ).collect()
    }
    # u1: counts run 1,2,3,4 -> ids 3 and 4 violate
    assert out == {3: 3, 4: 4}
    # u2 never reaches 3: at t0+1h the t0 event is outside the
    # half-open hour, and the two simultaneous events count 2 (ties
    # share the RANGE frame)


def test_temporal_split_intent(spark):
    import datetime as dt

    from operator_families.functions.corpus import (
        temporal_split,
    )

    d = lambda n: dt.datetime(2024, 1, n, 12, 0, 0)  # noqa: E731
    rows = [
        Row(user_id=1, ts=d(10), value=1.0),   # train
        Row(user_id=1, ts=d(25), value=2.0),   # test  -> user 1 spans
        Row(user_id=2, ts=d(11), value=3.0),   # train
        Row(user_id=3, ts=d(23), value=9.0),   # embargo band -> dropped
        Row(user_id=4, ts=d(26), value=4.0),   # test
    ]
    df = spark.createDataFrame(rows)
    out = {
        r.split: (r.n_rows, r.n_users, float(r.value_sum), r.min_ts.day,
                  r.max_ts.day, r.spanning_users)
        for r in temporal_split(
            df, "2024-01-24 00:00:00", embargo_days=2, value_col="value"
        ).collect()
    }
    assert out["train"] == (2, 2, 4.0, 10, 11, 1)
    assert out["test"] == (2, 2, 6.0, 25, 26, 1)


def test_share_of_parent_intent(spark):
    from operator_families.functions.stats import (
        share_of_parent,
    )

    agg = spark.createDataFrame(
        [
            Row(p="r1", c="a", v=30),
            Row(p="r1", c="b", v=10),
            Row(p="r2", c="c", v=5),
        ],
        "p string, c string, v bigint",
    )
    out = {
        r.c: (r.share_pct, r.rank_in_parent)
        for r in share_of_parent(agg, "p", "c", "v").collect()
    }
    assert out["a"] == (75.0, 1)
    assert out["b"] == (25.0, 2)
    assert out["c"] == (100.0, 1)


def test_poisson_bootstrap_ci_intent(spark):
    from operator_families.functions.stats import (
        poisson_bootstrap_ci,
    )

    import pytest as _pytest

    # constant values -> every replicate mean equals the constant ->
    # degenerate CI exactly at the point estimate
    const = spark.createDataFrame(
        [Row(g="c", v=5.0, rid=i) for i in range(1, 21)]
    )
    (row,) = poisson_bootstrap_ci(
        const, ["g"], "v", "rid", replicates=40
    ).collect()
    assert row.n == 20 and row.mean == 5.0
    assert row.ci_low == 5.0 and row.ci_high == 5.0
    assert row.n_replicates == 40

    # spread values -> the interval brackets the point estimate and has
    # positive width; ranks 1 and 39 of 40 replicates
    spread = spark.createDataFrame(
        [Row(g="s", v=float(i % 10), rid=i) for i in range(1, 101)]
    )
    (row2,) = poisson_bootstrap_ci(
        spread, ["g"], "v", "rid", replicates=40
    ).collect()
    assert row2.ci_low < row2.mean < row2.ci_high

    with _pytest.raises(ValueError):
        poisson_bootstrap_ci(const, ["g"], "v", "rid", replicates=2)


def test_poisson_bootstrap_weights_mean_one(spark):
    """The inverse-CDF weights must average ~1 (Poisson(1)): over many
    (row, replicate) draws the total effective mass stays within a few
    percent of the row count — a wrong CDF table or a biased u would
    show up immediately."""
    from pyspark.sql import functions as F

    from operator_families.functions.stats import (
        _POISSON1_CDF,
    )
    from operator_families.functions.text import hash32

    df = spark.range(1, 2001).select(
        F.explode(F.sequence(F.lit(1), F.lit(20))).alias("b"),
        F.col("id"),
    )
    u = hash32(
        F.concat(
            F.lit("boot:"), F.col("b").cast("string"),
            F.lit(":"), F.col("id").cast("string"),
        )
    ).cast("double") / F.lit(4294967296.0)
    w = F.lit(9)
    for k in range(len(_POISSON1_CDF) - 1, -1, -1):
        w = F.when(u < F.lit(_POISSON1_CDF[k]), F.lit(k)).otherwise(w)
    total, n = df.select(w.alias("w")).agg(
        F.sum("w"), F.count("*")
    ).first()
    assert abs(total / n - 1.0) < 0.03


def test_association_rules_intent(spark):
    from operator_families.functions.reco import (
        association_rules,
    )

    import pytest as _pytest

    # 4 baskets: {A,B} x3, {A} x1 -> n_A=4, n_B=3, co=3, N=4
    rows = [
        ("b1", "A"), ("b1", "B"),
        ("b2", "A"), ("b2", "B"),
        ("b3", "A"), ("b3", "B"),
        ("b4", "A"),
    ]
    df = spark.createDataFrame(rows, "basket string, item string")
    out = {
        (r.item_i, r.item_j): (r.co_baskets, r.n_i, r.n_j, r.n_baskets,
                               r.confidence, r.lift)
        for r in association_rules(
            df, "basket", "item", min_support=2, min_confidence=0.5
        ).collect()
    }
    # A -> B: conf 3/4, lift 3*4/(4*3) = 1; B -> A: conf 3/3 = 1
    assert out[("A", "B")] == (3, 4, 3, 4, 0.75, 1.0)
    assert out[("B", "A")] == (3, 3, 4, 4, 1.0, 1.0)

    with _pytest.raises(ValueError):
        association_rules(df, "basket", "item", min_confidence=0.0)


def test_lsh_recall_composition_intent(spark):
    from operator_families.functions import dedup

    # two identical docs + one unrelated: exactly one exact pair, which
    # LSH must also find (identical docs share every band) -> 100%
    text = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text=text),
            Row(doc_id=2, text=text),
            Row(doc_id=3, text="one two three four five six seven eight"),
        ]
    )
    exact = dedup.ngram_jaccard_pairs(docs, threshold=0.2).select(
        "doc_a", "doc_b"
    )
    lsh = dedup.minhash_lsh_pairs(docs, threshold=0.2).select(
        "doc_a", "doc_b"
    )
    e = {(r.doc_a, r.doc_b) for r in exact.collect()}
    l = {(r.doc_a, r.doc_b) for r in lsh.collect()}
    assert e == {(1, 2)}
    assert l >= e  # identical docs always collide -> full recall here


def test_run_quality_checks_intent(spark):
    from operator_families.functions.profile import (
        run_quality_checks,
    )

    import pytest as _pytest

    child = spark.createDataFrame(
        [Row(k=1, status="A"), Row(k=1, status="B"), Row(k=2, status="X"),
         Row(k=None, status="A"), Row(k=9, status="A")]
    )
    parent = spark.createDataFrame([Row(pk=1), Row(pk=2)])
    checks = [
        {"kind": "unique", "table": "child", "column": "k"},
        {"kind": "not_null", "table": "child", "column": "k"},
        {"kind": "accepted_values", "table": "child", "column": "status",
         "values": ["A", "B"]},
        {"kind": "relationship", "table": "child", "column": "k",
         "to": "parent", "to_column": "pk"},
    ]
    out = {
        r.check_name: (r.n_violations, r.passed)
        for r in run_quality_checks(
            {"child": child, "parent": parent}, checks
        ).collect()
    }
    # k=1 twice -> 1 duplicate; one NULL k; one 'X'; k=9 orphan
    assert out["unique__child__k"] == (1, False)
    assert out["not_null__child__k"] == (1, False)
    assert out["accepted_values__child__status"] == (1, False)
    assert out["relationship__child__k"] == (1, False)

    clean = spark.createDataFrame([Row(k=1, status="A")])
    out2 = run_quality_checks(
        {"child": clean, "parent": parent},
        [{"kind": "unique", "table": "child", "column": "k"}],
    ).collect()
    assert out2[0].n_violations == 0 and out2[0].passed

    with _pytest.raises(ValueError):
        run_quality_checks({"child": clean}, [])
    with _pytest.raises(ValueError):
        run_quality_checks(
            {"child": clean},
            [{"kind": "nope", "table": "child", "column": "k"}],
        )


def test_flag_runs_intent(spark):
    import datetime as dt

    from operator_families.functions.stats import flag_runs

    import pytest as _pytest

    d = lambda n: dt.date(2024, 1, n)  # noqa: E731
    rows = [
        # run of 3 (days 1-3), gap, isolated flagged day 5, run of 2
        # (days 8-9), and an unflagged day inside what would otherwise
        # be one long run
        Row(g="a", day=d(1), flag=True),
        Row(g="a", day=d(2), flag=True),
        Row(g="a", day=d(3), flag=True),
        Row(g="a", day=d(4), flag=False),
        Row(g="a", day=d(5), flag=True),
        Row(g="a", day=d(8), flag=True),
        Row(g="a", day=d(9), flag=True),
    ]
    df = spark.createDataFrame(rows)
    out = {
        (r.start_day.day, r.end_day.day): r.run_len
        for r in flag_runs(df, ["g"], "day", "flag", min_run=2).collect()
    }
    # day 5 alone and the day-6/7 calendar gap both break runs
    assert out == {(1, 3): 3, (8, 9): 2}

    with _pytest.raises(ValueError):
        flag_runs(df, ["g"], "day", "flag", min_run=0)


# ---------------------------------------------------------------------------
# mleval — exact AUC / calibration / drift (hand-computed expectations)
# ---------------------------------------------------------------------------

def test_auc_roc_intent(spark):
    from operator_families.functions.mleval import auc_roc

    rows = [
        # group "t": scores [1,1,2,3], labels [0,1,0,1].
        # midranks: the 1-tie block -> 1.5 each, 2 -> 3, 3 -> 4;
        # S_pos = 1.5 + 4 = 5.5; AUC = (5.5 - 2*3/2) / (2*2) = 0.625
        Row(g="t", score=1.0, label=0),
        Row(g="t", score=1.0, label=1),
        Row(g="t", score=2.0, label=0),
        Row(g="t", score=3.0, label=1),
        # group "p": perfect separation -> AUC 1.0
        Row(g="p", score=1.0, label=0),
        Row(g="p", score=2.0, label=1),
        # group "o": one class only -> NULL (never a div-by-zero)
        Row(g="o", score=5.0, label=1),
    ]
    out = {
        r.g: (r.n_pos, r.n_neg, r.auc)
        for r in auc_roc(
            spark.createDataFrame(rows), ["g"], "score", "label"
        ).collect()
    }
    assert out["t"] == (2, 2, 0.625)
    assert out["p"] == (1, 1, 1.0)
    assert out["o"] == (1, 0, None)


def test_calibration_report_intent(spark):
    from operator_families.functions.mleval import (
        calibration_report,
    )

    # denom=10, 2 bins. bin0: scores {1,2}, labels {0,1} ->
    # acc 0.5, conf 3/20 = 0.15, |1*10-3| = 7.
    # bin1: scores {7,9}, labels {1,1} -> acc 1.0, conf 16/20 = 0.8,
    # |2*10-16| = 4.  ECE = (7+4)/(10*4) = 0.275.
    rows = [
        Row(score=1, label=0),
        Row(score=2, label=1),
        Row(score=7, label=1),
        Row(score=9, label=1),
    ]
    out = {
        r.bin: (r.n, r.pos, r.accuracy, r.confidence, r.abs_gap_num, r.ece)
        for r in calibration_report(
            spark.createDataFrame(rows), "score", "label",
            n_bins=2, denom=10,
        ).collect()
    }
    assert out[0] == (2, 1, 0.5, 0.15, 7, 0.275)
    assert out[1] == (2, 2, 1.0, 0.8, 4, 0.275)

    import pytest as _pytest

    with _pytest.raises(ValueError):
        calibration_report(
            spark.createDataFrame(rows), "score", "label", n_bins=0
        )


def test_categorical_drift_intent(spark):
    from operator_families.functions.mleval import (
        categorical_drift,
    )

    # bucket a: 3 vs 1; bucket b: 1 vs 3.  NA = NB = 4.
    # d_a = 3*4 - 1*4 = 8, d_b = -8 -> TVD = 16/(2*16) = 0.5;
    # chi2 per bucket = 64/(4*4*4) = 1.0, total 2.0.
    rows = (
        [Row(bucket="a", period=0)] * 3
        + [Row(bucket="a", period=1)]
        + [Row(bucket="b", period=0)]
        + [Row(bucket="b", period=1)] * 3
    )
    out = {
        r.bucket: (
            r.cnt_a, r.cnt_b, r.share_a_pct, r.share_b_pct,
            r.chi2_bucket, r.tvd, r.chi2_total,
        )
        for r in categorical_drift(spark.createDataFrame(rows)).collect()
    }
    assert out["a"] == (3, 1, 75.0, 25.0, 1.0, 0.5, 2.0)
    assert out["b"] == (1, 3, 25.0, 75.0, 1.0, 0.5, 2.0)


def test_lm_score_intent(spark):
    from operator_families.functions.text import lm_score

    # corpus: "a b a" + "b".  c1: a=2, b=2; V=2.
    # doc 1 bigrams (a,b),(b,a), each count 1 -> p = (1+1)/(2+2) = 0.5
    # -> mean 0.5.  doc 2 has < 2 tokens -> n_bigrams 0, mean NULL.
    rows = [Row(doc_id=1, text="a b a"), Row(doc_id=2, text="b")]
    out = {
        r.doc_id: (r.n_bigrams, r.mean_p)
        for r in lm_score(spark.createDataFrame(rows)).collect()
    }
    assert out[1] == (2, 0.5)
    assert out[2] == (0, None)


# ---------------------------------------------------------------------------
# Wave 19 — survival / robust trend / spatial / data-selection fixtures
# ---------------------------------------------------------------------------

def test_kaplan_meier_intent(spark):
    from operator_families.functions.stats import (
        kaplan_meier,
    )

    # 4 subjects: two events at t=1, one censored at t=2, one event at
    # t=3.  S(1) = (4-2)/4 = 0.5; t=2 censor-only keeps S = 0.5; at
    # t=3 the last at-risk subject dies -> factor 0, survival exactly 0.
    rows = [
        Row(duration=1, event=1),
        Row(duration=1, event=1),
        Row(duration=2, event=0),
        Row(duration=3, event=1),
    ]
    out = {
        r.t: (r.n_risk, r.d_events, r.c_censored, r.factor, r.survival)
        for r in kaplan_meier(spark.createDataFrame(rows)).collect()
    }
    assert out[1] == (4, 2, 0, 0.5, 0.5)
    assert out[2] == (2, 0, 1, 1.0, 0.5)
    assert out[3] == (1, 1, 0, 0.0, 0.0)


def test_theil_sen_slope_intent(spark):
    from operator_families.functions.stats import (
        theil_sen_slope,
    )

    # points (0,0),(1,1),(2,2),(3,10): slopes 1,1,1,10/3,4.5,8 ->
    # median = (1 + 10/3)/2 = 2.1666666666666665 -> 2.166666667
    rows = [
        Row(g="a", x=0, y=0),
        Row(g="a", x=1, y=1),
        Row(g="a", x=2, y=2),
        Row(g="a", x=3, y=10),
    ]
    out = {
        r.g: (r.n_pairs, r.slope)
        for r in theil_sen_slope(
            spark.createDataFrame(rows), ["g"], "x", "y"
        ).collect()
    }
    assert out["a"] == (6, 2.166666667)


def test_grid_nearest_neighbors_intent(spark):
    from operator_families.functions.geo import (
        grid_nearest_neighbors,
    )

    # radius 50: a(20,0) and f(60,0) sit in ADJACENT cells (0 and 1)
    # but are 40 apart -> neighbors (the 3x3 explode must find them);
    # c is far away -> omitted.
    rows = [
        Row(id=1, x=20, y=0),
        Row(id=2, x=60, y=0),
        Row(id=3, x=1000, y=1000),
    ]
    out = {
        r.id: (r.n_neighbors, r.nearest_id, r.nearest_dist2)
        for r in grid_nearest_neighbors(
            spark.createDataFrame(rows), 50, "id", "x", "y"
        ).collect()
    }
    assert out == {1: (1, 2, 1600), 2: (1, 1, 1600)}

    import pytest as _pytest

    with _pytest.raises(ValueError):
        grid_nearest_neighbors(spark.createDataFrame(rows), 0)


def test_lexical_shift_scores_intent(spark):
    from operator_families.functions.corpus import (
        lexical_shift_scores,
    )

    # d1 "a a" is the target; d2 "b b" is not.  counts: a cr=2 ct=2,
    # b cr=2 ct=0; N_r=4, N_t=2.  d1 per-position 2*4-2*2 = 4 ->
    # shift = 8/(2*2*4) = 0.5; d2 per-position -4 -> shift = -0.5.
    rows = [
        Row(doc_id=1, text="a a", tgt=1),
        Row(doc_id=2, text="b b", tgt=0),
    ]
    out = {
        r.doc_id: (r.n_tokens, r.shift)
        for r in lexical_shift_scores(
            spark.createDataFrame(rows), "tgt"
        ).collect()
    }
    assert out == {1: (2, 0.5), 2: (2, -0.5)}


# ---------------------------------------------------------------------------
# Wave 20 — PR curve / shortest paths / runs test fixtures
# ---------------------------------------------------------------------------

def test_pr_curve_intent(spark):
    from operator_families.functions.mleval import pr_curve

    # scores [2,2,1,0], labels [1,0,1,0]; P=2.
    # t=2: pp=2 tp=1 -> prec .5, rec .5, f1 2*1/(2+2)=.5
    # t=1: pp=3 tp=2 -> prec 2/3, rec 1.0, f1 4/5
    # t=0: pp=4 tp=2 -> prec .5, rec 1.0, f1 4/6
    rows = [
        Row(score=2, label=1),
        Row(score=2, label=0),
        Row(score=1, label=1),
        Row(score=0, label=0),
    ]
    out = {
        r.threshold: (r.tp, r.fp, r.fn, r.precision, r.recall, r.f1)
        for r in pr_curve(spark.createDataFrame(rows)).collect()
    }
    assert out[2] == (1, 1, 1, 0.5, 0.5, 0.5)
    assert out[1] == (2, 1, 0, 0.666666667, 1.0, 0.8)
    assert out[0] == (2, 2, 0, 0.5, 1.0, 0.666666667)


def test_shortest_paths_intent(spark):
    from operator_families.functions.graph import (
        shortest_paths,
    )

    edges = spark.createDataFrame(
        [Row(src=1, dst=2, w=5), Row(src=2, dst=3, w=1),
         Row(src=1, dst=3, w=10)]
    )
    seeds = spark.createDataFrame([Row(node=1)])
    one = {
        r.node: r.dist
        for r in shortest_paths(edges, seeds, rounds=1).collect()
    }
    # one relaxation: the 2-hop path to 3 not yet found
    assert one == {1: 0, 2: 5, 3: 10}
    two = {
        r.node: r.dist
        for r in shortest_paths(edges, seeds, rounds=2).collect()
    }
    assert two == {1: 0, 2: 5, 3: 6}

    import pytest as _pytest

    with _pytest.raises(ValueError):
        shortest_paths(edges, seeds, rounds=-1)


def test_runs_test_intent(spark):
    from operator_families.functions.stats import runs_test

    # values [1,9,1,9,5]: median 5, the 5 itself is DROPPED (tie), signs
    # 0,1,0,1 -> runs=4, n1=n2=2; E[R]=3, Var=2/3,
    # z = 1/sqrt(2/3) = 1.224744871
    rows = [
        Row(g="a", x=1, value=1.0),
        Row(g="a", x=2, value=9.0),
        Row(g="a", x=3, value=1.0),
        Row(g="a", x=4, value=9.0),
        Row(g="a", x=5, value=5.0),
    ]
    out = {
        r.g: (r.n1, r.n2, r.runs, r.z)
        for r in runs_test(
            spark.createDataFrame(rows), ["g"], ["x"], "value"
        ).collect()
    }
    assert out["a"] == (2, 2, 4, 1.224744871)


# ---------------------------------------------------------------------------
# Wave 21 — PQ codes / k-core / stratified ATE fixtures
# ---------------------------------------------------------------------------

def test_pq_encode_intent(spark):
    from operator_families.functions.simsearch import (
        pq_encode,
    )

    # dim 4, m=2 subspaces, 2 codewords.  Subspace halves are the
    # one-hot pair, init = two lowest ids -> codebook {[1,0],[0,1]} /
    # {[0,1],[1,0]}; id3 duplicates id1's halves.
    rows = [
        Row(vec_id=1, embedding=[1.0, 0.0, 0.0, 1.0]),
        Row(vec_id=2, embedding=[0.0, 1.0, 1.0, 0.0]),
        Row(vec_id=3, embedding=[1.0, 0.0, 0.0, 1.0]),
    ]
    cb, codes = pq_encode(
        spark.createDataFrame(rows), dim=4, m=2, n_centroids=2, max_iter=2
    )
    assert cb.count() == 4  # m * n_centroids codewords
    got = {
        (r.vec_id, r.subspace): r.code for r in codes.collect()
    }
    assert got == {
        (1, 0): 0, (1, 1): 0,
        (2, 0): 1, (2, 1): 1,
        (3, 0): 0, (3, 1): 0,
    }

    import pytest as _pytest

    with _pytest.raises(ValueError):
        pq_encode(spark.createDataFrame(rows), dim=4, m=3)


def test_k_core_intent(spark):
    from operator_families.functions.graph import k_core

    # triangle 1-2-3 plus pendant 4: first peel drops 4 (degree 1),
    # second recount leaves the triangle at degree 2 each.
    edges = spark.createDataFrame(
        [Row(src=1, dst=2), Row(src=2, dst=3), Row(src=3, dst=1),
         Row(src=4, dst=1)]
    )
    out = {
        r.node: r.degree for r in k_core(edges, k=2, rounds=2).collect()
    }
    assert out == {1: 2, 2: 2, 3: 2}

    # bounded rounds stop before fixpoint: a chain 1-2-3-4-5 under
    # k=2, rounds=1 peels only the endpoints; survivors 2/3/4 recount
    # to degrees 1/2/1 — core_only=True restores the strict
    # "degree >= k" membership contract for callers that assume it
    chain = spark.createDataFrame(
        [Row(src=i, dst=i + 1) for i in range(1, 5)]
    )
    loose = {
        r.node: r.degree for r in k_core(chain, k=2, rounds=1).collect()
    }
    assert loose == {2: 1, 3: 2, 4: 1}
    strict = {
        r.node: r.degree
        for r in k_core(chain, k=2, rounds=1, core_only=True).collect()
    }
    assert strict == {3: 2}

    import pytest as _pytest

    with _pytest.raises(ValueError):
        k_core(edges, k=0, rounds=1)


def test_stratified_ate_intent(spark):
    from operator_families.functions.mleval import (
        stratified_ate,
    )

    # stratum a: 2 treated (1 converts) vs 2 control (0 convert) ->
    # ate_a = 0.5, p=0.5.  stratum b: control-only -> NULL (excluded).
    # ATE = (4/6) * 0.5 = 0.333333333.
    rows = [
        Row(stratum="a", treat=1, outcome=1),
        Row(stratum="a", treat=1, outcome=0),
        Row(stratum="a", treat=0, outcome=0),
        Row(stratum="a", treat=0, outcome=0),
        Row(stratum="b", treat=0, outcome=1),
        Row(stratum="b", treat=0, outcome=0),
    ]
    out = {
        r.stratum: (
            r.n, r.n_treat, r.n_control, r.p_score, r.ate_stratum,
            r.ate_total,
        )
        for r in stratified_ate(spark.createDataFrame(rows)).collect()
    }
    assert out["a"] == (4, 2, 2, 0.5, 0.5, 0.333333333)
    assert out["b"] == (2, 0, 2, 0.0, None, 0.333333333)


# ---------------------------------------------------------------------------
# Wave 22 — target encoding / span corruption fixtures
# ---------------------------------------------------------------------------

def test_target_encode_intent(spark):
    from operator_families.functions.mleval import (
        target_encode,
    )

    # cat a: 4 rows, 3 positive; cat b: 1 row, 0 positive.
    # global 3/5; w=5: enc_a = (3*5 + 5*3)/(5*(4+5)) = 30/45 = 2/3,
    # enc_b = (0*5 + 5*3)/(5*(1+5)) = 15/30 = 0.5 (shrunk to ~global).
    rows = (
        [Row(cat="a", label=1)] * 3
        + [Row(cat="a", label=0)]
        + [Row(cat="b", label=0)]
    )
    out = {
        r.cat: (r.n, r.sum_y, r.raw_rate, r.encoded, r.global_rate)
        for r in target_encode(
            spark.createDataFrame(rows), ["cat"], "label", smoothing=5
        ).collect()
    }
    assert out["a"] == (4, 3, 0.75, 0.666666667, 0.6)
    assert out["b"] == (1, 0, 0.0, 0.5, 0.6)

    import pytest as _pytest

    with _pytest.raises(ValueError):
        target_encode(spark.createDataFrame(rows), ["cat"], smoothing=-1)


def test_span_corruption_masks_intent(spark):
    from operator_families.functions.chunking import (
        span_corruption_masks,
    )

    # rate_mod=1 flags EVERY position; min_len=1, len_mod=1 makes every
    # span exactly one token -> all positions masked, merged into ONE
    # island covering the whole doc.
    rows = [Row(doc_id=1, text="a b c")]
    out = [
        (r.span_id, r.start_pos, r.span_len, r.n_tokens)
        for r in span_corruption_masks(
            spark.createDataFrame(rows),
            rate_mod=1, min_len=1, len_mod=1,
        ).collect()
    ]
    assert out == [(1, 1, 3, 3)]

    # determinism: same inputs -> identical spans on a rerun
    a = sorted(
        tuple(r) for r in span_corruption_masks(
            spark.createDataFrame(rows)
        ).collect()
    )
    b = sorted(
        tuple(r) for r in span_corruption_masks(
            spark.createDataFrame(rows)
        ).collect()
    )
    assert a == b

    import pytest as _pytest

    with _pytest.raises(ValueError):
        span_corruption_masks(spark.createDataFrame(rows), rate_mod=0)


# ---------------------------------------------------------------------------
# Wave 23 — peak concurrency / PQ fidelity fixtures
# ---------------------------------------------------------------------------

def test_peak_concurrency_intent(spark):
    import datetime as dt

    from operator_families.functions.temporal import (
        peak_concurrency,
    )

    t = lambda m: dt.datetime(2024, 1, 1, 10, m)  # noqa: E731
    # [10:00,10:10), [10:05,10:15): overlap 10:05-10:10 -> peak 2.
    # [10:10,10:20) starts exactly when the first ends: half-open, so
    # the instant 10:10 sees the -1 BEFORE the +1 -> still peak 2.
    rows = [
        Row(g="a", s=t(0), e=t(10), id=1),
        Row(g="a", s=t(5), e=t(15), id=2),
        Row(g="a", s=t(10), e=t(20), id=3),
    ]
    out = {
        r.g: (r.peak_concurrency, r.first_peak_ts, r.n_at_peak)
        for r in peak_concurrency(
            spark.createDataFrame(rows), ["g"], "s", "e", "id"
        ).collect()
    }
    assert out["a"] == (2, t(5), 2)  # at 10:05 and again at 10:10


def test_pq_fidelity_intent(spark):
    from operator_families.functions.simsearch import (
        pq_encode,
        pq_fidelity,
    )

    # id2 sits alone on its codewords in both subspaces -> fidelity
    # exactly 1.0.  id4 drags subspace-0's centroid to [1, 1/3], so
    # id1/id3 (members [1,0]) reconstruct at cos = 2 / (sqrt(2) *
    # sqrt(1 + 10/9)) = 0.973329, and id4 itself lands lower still.
    rows = [
        Row(vec_id=1, embedding=[1.0, 0.0, 0.0, 1.0]),
        Row(vec_id=2, embedding=[0.0, 1.0, 1.0, 0.0]),
        Row(vec_id=3, embedding=[1.0, 0.0, 0.0, 1.0]),
        Row(vec_id=4, embedding=[1.0, 1.0, 0.0, 1.0]),
    ]
    emb = spark.createDataFrame(rows)
    cb, codes = pq_encode(emb, dim=4, m=2, n_centroids=2, max_iter=2)
    out = {
        r.vec_id: r.fidelity
        for r in pq_fidelity(emb, cb, codes, dim=4, m=2).collect()
    }
    assert out[2] == 1.0
    assert out[1] == out[3] == 0.973329
    assert out[4] < out[1]


# ---------------------------------------------------------------------------
# Wave 25 — training order fixture
# ---------------------------------------------------------------------------

def test_training_order_intent(spark):
    from operator_families.functions.corpus import (
        training_order,
    )

    rows = [Row(doc_id=i) for i in range(10)]
    out = training_order(
        spark.createDataFrame(rows), "doc_id", batch_size=4
    ).collect()
    # a permutation: ordinals are exactly 0..9, each doc once
    assert sorted(r.ordinal for r in out) == list(range(10))
    # ordinal order == (shuffle_key, doc_id) order
    by_key = sorted(out, key=lambda r: (r.shuffle_key, r.doc_id))
    assert [r.ordinal for r in by_key] == list(range(10))
    # microbatch = ordinal div batch_size
    assert all(r.microbatch == r.ordinal // 4 for r in out)
    # deterministic across reruns
    again = training_order(
        spark.createDataFrame(rows), "doc_id", batch_size=4
    ).collect()
    assert {r.doc_id: r.ordinal for r in out} == {
        r.doc_id: r.ordinal for r in again
    }

    import pytest as _pytest

    with _pytest.raises(ValueError):
        training_order(spark.createDataFrame(rows), "doc_id", batch_size=0)


# ---------------------------------------------------------------------------
# Wave 27 — compression-ratio fixtures (no SQL oracle: semantics live here)
# ---------------------------------------------------------------------------

def test_compression_ratio_intent(spark):
    from operator_families.functions.text import (
        compression_ratio,
    )

    rows = [
        Row(doc_id=1, text="abc " * 500),       # highly repetitive
        Row(doc_id=2, text=" ".join(            # varied pseudo-prose
            f"w{i}x{i*7%13}" for i in range(500)
        )),
        Row(doc_id=3, text=None),                # quarantined
    ]
    out = {
        r.doc_id: (r.n_bytes, r.n_compressed, r.ratio)
        for r in compression_ratio(spark.createDataFrame(rows)).collect()
    }
    assert out[1][0] == 2000
    # repetitive text compresses much harder than varied text
    assert out[1][2] < 0.05 < out[2][2]
    assert out[3] == (None, None, None)
    # deterministic across reruns
    again = {
        r.doc_id: r.ratio
        for r in compression_ratio(spark.createDataFrame(rows)).collect()
    }
    assert {k: v[2] for k, v in out.items()} == again


def test_node_jaccard_hub_degree_fence(spark):
    """Power-law fixture: one hub with 60 spokes would generate C(60,2) =
    1770 wedge pairs through the single hub pivot; with the max_degree
    fence the hub is quarantined (removed from the induced subgraph) and
    the candidate pair space collapses to the honest structure among the
    low-degree nodes."""
    from operator_families.functions.graph import (
        node_jaccard,
    )

    hub = [(0, i) for i in range(1, 61)]           # hub 0 -> 60 spokes
    # two genuine co-citation pairs among the leaves: 1 and 2 both link
    # to {100, 101}; 3 and 4 both link to {200}
    tail = [(1, 100), (1, 101), (2, 100), (2, 101), (3, 200), (4, 200)]
    edges = spark.createDataFrame(hub + tail, "src bigint, dst bigint")

    # Uncapped: every spoke pair shares the hub -> C(60,2) candidate
    # pairs exist before the threshold, and spokes 5..60 (degree 1, only
    # the hub) are pairwise jaccard 1.0 — the hub-noise explosion.
    full = node_jaccard(edges, min_jaccard=0.99).collect()
    assert len(full) >= (56 * 55) // 2

    # Capped at degree 3: hub (degree 60) quarantined; surviving pairs
    # are only the genuine co-citation structure (100/101 both cite
    # {1, 2} under symmetrization, so they are a real pair too).
    capped = {
        (r.u, r.v): r.jaccard
        for r in node_jaccard(edges, min_jaccard=0.5, max_degree=3).collect()
    }
    assert capped == {(1, 2): 1.0, (3, 4): 1.0, (100, 101): 1.0}

    import pytest as _pytest

    with _pytest.raises(ValueError):
        node_jaccard(edges, 0.5, max_degree=0)


def test_extract_links_intent(spark):
    from operator_families.functions.web import extract_links

    rows = [
        Row(
            url="https://a.com/p/1",
            html='<a href="https://b.com/x">1</a>'
                 "<a href='https://c.co.uk/y'>2</a>"
                 '<a href="/rel">3</a><a href="mailto:m@x.y">4</a>',
        ),
        Row(url="https://www.a.com/p/2",
            html='<a href="https://b.com/z">5</a>'),
        Row(url="https://a.com/p/3", html="<p>no links</p>"),
    ]
    out = {
        (r.src_domain, r.dst_domain): (r.n_links, r.n_src_docs)
        for r in extract_links(spark.createDataFrame(rows)).collect()
    }
    # relative + mailto dropped; www stripped by registered-domain mapping
    assert out == {
        ("a.com", "b.com"): (2, 2),
        ("a.com", "c.co.uk"): (1, 1),
    }


def test_negative_sampling_intent(spark):
    from operator_families.functions.simsearch import (
        negative_sampling,
    )

    emb = spark.createDataFrame(
        [Row(vec_id=i, embedding=[0.0], label=i % 2) for i in range(10)]
    )
    out = negative_sampling(emb, k=3, oversample=4).collect()
    by_anchor = {}
    for r in out:
        by_anchor.setdefault(r.anchor_id, []).append(r)
    lab = {i: i % 2 for i in range(10)}
    for a, rows in by_anchor.items():
        assert len(rows) <= 3
        ranks = sorted(r.neg_rank for r in rows)
        assert ranks == list(range(1, len(rows) + 1))
        for r in rows:
            assert r.neg_id != a
            assert r.neg_label != lab[a]          # only cross-label
            assert lab[r.neg_id] == r.neg_label
    # determinism: a second run is identical
    again = negative_sampling(emb, k=3, oversample=4).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))

    import pytest as _pytest

    with _pytest.raises(ValueError):
        negative_sampling(emb, k=0)


def test_conformal_bounds_intent(spark):
    from operator_families.functions.mleval import (
        conformal_bounds,
    )

    # calibration: values 1..9 (median 5); scores |v-5| -> sorted
    # 0,1,1,2,2,3,3,4,4; qhat rank = min(9, ceil(0.9*10)) = 9 -> qhat 4
    # test rows: 5+-4 covered, 10 not
    rows = [
        Row(ts="2024-01-01 00:00:00", v=float(i)) for i in range(1, 10)
    ] + [
        Row(ts="2024-02-01 00:00:00", v=1.0),
        Row(ts="2024-02-01 00:00:00", v=9.0),
        Row(ts="2024-02-01 00:00:00", v=10.0),
    ]
    df = spark.createDataFrame(rows).select(
        F.lit("t").alias("g"),
        F.col("ts").cast("timestamp").alias("ts"),
        F.col("v"),
    )
    out = conformal_bounds(
        df, ["g"], "v", "ts", cutoff="2024-01-15 00:00:00", alpha_pct=10
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.n_cal, r.n_test) == (9, 3)
    assert r.point == 5.0 and r.qhat == 4.0
    assert r.covered == 2 and abs(r.coverage - 2 / 3) < 1e-9

    import pytest as _pytest

    with _pytest.raises(ValueError):
        conformal_bounds(df, ["g"], "v", "ts", "2024-01-15", alpha_pct=0)


def test_trimmed_mean_intent(spark):
    from operator_families.functions.stats import (
        trimmed_mean,
    )

    # 10 values with junk tails: trim 10% -> drop 1 low + 1 high
    vals = [-1000.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 1000.0]
    df = spark.createDataFrame(
        [Row(g="a", v=v) for v in vals]
    )
    r = trimmed_mean(df, ["g"], "v", trim_pct=10).collect()[0]
    assert (r.n, r.n_trimmed) == (10, 1)
    assert abs(r.trimmed_mean - 5.5) < 1e-9
    # trim 0 == plain mean
    r0 = trimmed_mean(df, ["g"], "v", trim_pct=0).collect()[0]
    assert abs(r0.trimmed_mean - sum(vals) / 10) < 1e-6

    import pytest as _pytest

    with _pytest.raises(ValueError):
        trimmed_mean(df, ["g"], "v", trim_pct=50)


def test_simpson_flip_intent(spark):
    from operator_families.functions.stats import (
        simpson_flip,
    )

    # classic construction: both strata favor f=0, aggregate favors f=1
    # stratum A: f0 mean 6 (n=8), f1 mean 5 (n=2)  -> dir -1
    # stratum B: f0 mean 2 (n=2), f1 mean 1.5 (n=8) -> dir -1
    # aggregate: f0 = (48+4)/10 = 5.2 ; f1 = (10+12)/10 = 2.2 -> dir -1?
    # flip needs aggregate f1 > f0: weight A's f1 high values
    rows = (
        [Row(s="A", f=0, v=6.0)] * 8 + [Row(s="A", f=1, v=5.0)] * 2
        + [Row(s="B", f=0, v=2.0)] * 2 + [Row(s="B", f=1, v=1.5)] * 8
    )
    out = {r.s: r for r in simpson_flip(
        spark.createDataFrame(rows), ["s"], "f", "v"
    ).collect()}
    # aggregate: mean1 = (10 + 12)/10 = 2.2 < mean0 = (48 + 4)/10 = 5.2
    assert out["A"].stratum_dir == -1 and out["B"].stratum_dir == -1
    assert out["A"].aggregate_dir == -1
    assert not out["A"].flips_aggregate
    # now a real flip: within strata f1 loses, aggregate f1 wins
    rows2 = (
        [Row(s="A", f=0, v=10.0)] * 1 + [Row(s="A", f=1, v=9.0)] * 9
        + [Row(s="B", f=0, v=2.0)] * 9 + [Row(s="B", f=1, v=1.0)] * 1
    )
    out2 = {r.s: r for r in simpson_flip(
        spark.createDataFrame(rows2), ["s"], "f", "v"
    ).collect()}
    # aggregate mean1 = (81+1)/10 = 8.2 > mean0 = (10+18)/10 = 2.8 -> +1
    assert out2["A"].stratum_dir == -1 and out2["A"].aggregate_dir == 1
    assert out2["A"].flips_aggregate and out2["B"].flips_aggregate


def test_rake_keywords_intent(spark):
    from operator_families.functions.text import (
        rake_keywords,
    )

    rows = [
        Row(doc_id=1, text="Machine learning and the deep learning of "
                           "neural networks. Machine learning wins!"),
        Row(doc_id=2, text="the of and to"),          # all stopwords
        Row(doc_id=3, text="one two three four five six"),  # run-on > 4
    ]
    out = {}
    for r in rake_keywords(
        spark.createDataFrame(rows), top_k=5
    ).collect():
        out.setdefault(r.doc_id, []).append((r.rank, r.phrase, r.score))
    # degrees: machine 5, learning 7, deep 2, neural 2, networks 2, wins 3
    assert out[1] == [
        (1, "machine learning wins", 15),
        (2, "machine learning", 12),
        (3, "deep learning", 9),
        (4, "neural networks", 4),
    ]
    assert 2 not in out                 # stopword-only doc: no phrases
    assert 3 not in out                 # 6-word run dropped by the guard

    import pytest as _pytest

    with _pytest.raises(ValueError):
        rake_keywords(spark.createDataFrame(rows), top_k=0)
