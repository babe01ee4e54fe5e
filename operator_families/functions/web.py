"""URL / domain operators for crawl-corpus curation.

The reference pipeline ingests a rail API, not the web (reference
src/ingestion/api_client.py:24-90 — fixed endpoint, no URL handling), so
this module is part of the engine's training-data extension surface: host
parsing, registered-domain extraction, per-domain corpus stats, and the
deterministic per-domain document cap that keeps a handful of mega-domains
from dominating a crawl mix (the C4/RefinedWeb "max pages per domain"
pass).

Everything is expression-only (no UDFs) and mirrors a DuckDB oracle
verbatim: host extraction is a shared regexp, the registered-domain
heuristic is a fixed public second-level-suffix list (a deliberately small,
documented stand-in for the full Public Suffix List — swap
:data:`SECOND_LEVEL_SUFFIXES` for the real PSL table and broadcast-join it
when operating on a live crawl), and cap selection orders by the engine-
portable md5 rank hash from :mod:`.sketch`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .sketch import _rank_hash

#: Capture group 1 = authority (host[:port]) of an http(s) URL.  Shared
#: verbatim with the oracle; no lookaround so Java regex and RE2 agree.
HOST_CAPTURE_RE = "^https?://([^/?#]+)"
#: Case-insensitive scheme+authority strip for canonicalization.  The
#: capture regex above runs on a LOWERCASED copy, but the strip must run
#: on the ORIGINAL string (path case is preserved) — an uppercase scheme
#: (``HTTP://EX.COM/``, schemes are case-insensitive per RFC 3986) would
#: otherwise survive the strip and duplicate into the output.  ``(?i)``
#: is supported identically by Java regex and RE2.
HOST_STRIP_RE = "(?i)^https?://[^/?#]+"
#: Trailing :port to strip from the authority.
PORT_RE = ":[0-9]+$"

#: Public second-level registry suffixes under which the registered domain
#: is three labels, not two ("example.co.uk", not "co.uk").
SECOND_LEVEL_SUFFIXES = [
    "co.uk", "org.uk", "gov.uk", "ac.uk",
    "co.jp", "com.au", "com.br", "co.in", "com.cn", "co.nz",
]


def url_host(url: Column) -> Column:
    """Lowercased host of an http(s) URL, port stripped; NULL if not a URL."""
    authority = F.regexp_extract(F.lower(url), HOST_CAPTURE_RE, 1)
    host = F.regexp_replace(authority, PORT_RE, "")
    return F.when(host == "", None).otherwise(host)


def registered_domain(host: Column) -> Column:
    """Registered (pay-level) domain of a host.

    Last two labels, or last three when the two-label tail is a known
    second-level registry suffix; single-label hosts pass through.  Uses
    ``F.get`` (0-based, NULL out of range) so no branch can raise on short
    hosts.
    """
    labels = F.split(host, "\\.")
    n = F.size(labels)
    last2 = F.concat_ws(
        ".", F.get(labels, n - 2), F.get(labels, n - 1)
    )
    last3 = F.concat_ws(
        ".", F.get(labels, n - 3), F.get(labels, n - 2), F.get(labels, n - 1)
    )
    return (
        F.when((n >= 3) & last2.isin(SECOND_LEVEL_SUFFIXES), last3)
        .when(n >= 2, last2)
        .otherwise(host)
    )


#: Longest suffix (in labels) the table-driven PSL path considers.  The
#: real Public Suffix List's longest entries are 4 labels
#: (e.g. some AWS/government zones), so 5 covers it with headroom.
PSL_MAX_SUFFIX_LABELS = 5


def registered_domain_psl(
    df: DataFrame,
    suffixes: DataFrame,
    host_col: str = "host",
    out_col: str = "domain",
) -> DataFrame:
    """Registered (pay-level) domain via a REAL Public Suffix List table —
    the production upgrade over the static :func:`registered_domain`
    heuristic (whose :data:`SECOND_LEVEL_SUFFIXES` is a documented
    stand-in).

    ``suffixes`` is a one-column ``suffix`` DataFrame of PSL rules in
    publicsuffix.org format, ALL THREE rule types: plain (``com``,
    ``co.uk``, ``github.io``), wildcard (``*.ck`` — ``*`` matches
    exactly one label), and exception (``!www.ck`` — overrides a
    wildcard; its public suffix is the rule minus its leftmost label, so
    the registered domain is the exception's own label span).  PSL
    semantics: among matching rules an exception prevails, else the
    LONGEST match (wildcard counted at its label width); the registered
    domain is the winning public suffix plus one more label.  A
    non-exception rule matching the ENTIRE host is ignored (a bare
    public suffix has no registrable part under that rule), so such
    hosts resolve under the next-shorter rule if one exists — but an
    exception rule DOES match whole-host (``www.ck`` itself resolves to
    ``www.ck``, exactly as publicsuffix.org specifies).  Hosts matching
    no rule at all fall back to the static heuristic — mirroring the
    PSL's prevailing ``*`` rule (unlisted TLDs still yield
    last-two-labels).

    Plan shape, audited for 100 TB: the corpus projects its DISTINCT
    hosts (domain resolution is host-functional, so the explode below
    never multiplies corpus rows); each distinct host explodes into at
    most ``2 *`` :data:`PSL_MAX_SUFFIX_LABELS` candidate keys — the
    last-k-labels tail plus its wildcard form (leftmost label replaced
    by ``*``) — which BROADCAST-join the parsed rule table (the full
    PSL is ~10k rows — small by nature); a host-keyed partial max picks
    the winner under the exception-first ordering; the resulting (host,
    domain) map joins back to the corpus on the host equi-key.  Two
    host-keyed shuffles of host-cardinality data, zero corpus-squared
    terms, zero UDFs.
    """
    hosts = (
        df.select(F.col(host_col).alias("_h"))
        .where(F.col("_h").isNotNull())
        .distinct()
        .select(
            "_h",
            F.split(F.col("_h"), "\\.").alias("_l"),
            F.size(F.split(F.col("_h"), "\\.")).alias("_n"),
        )
    )
    # candidate tails: last k labels for k = 1..min(n, MAX).  The k == n
    # whole-host tail participates ONLY via exception rules (filter
    # below) — a plain/wildcard rule matching the entire host is ignored.
    ks = F.sequence(
        F.lit(1), F.least(F.col("_n"), F.lit(PSL_MAX_SUFFIX_LABELS))
    )
    cand = (
        hosts.select("_h", F.explode(ks).alias("_k"), "_l", "_n")
        .withColumn(
            "_tail",
            F.array_join(
                F.slice(
                    F.col("_l"), F.col("_n") - F.col("_k") + 1, F.col("_k")
                ),
                ".",
            ),
        )
        # wildcard form of the same tail: '*' replaces the leftmost label
        .withColumn(
            "_wtail",
            F.when(F.col("_k") == 1, F.lit("*")).otherwise(
                F.concat(
                    F.lit("*."),
                    F.array_join(
                        F.slice(
                            F.col("_l"),
                            F.col("_n") - F.col("_k") + 2,
                            F.col("_k") - 1,
                        ),
                        ".",
                    ),
                )
            ),
        )
        .select(
            "_h", "_k", "_n",
            F.explode(F.array("_tail", "_wtail")).alias("_key"),
        )
    )
    # parse the rule table: '!'-prefixed rules are exceptions (match on
    # the bare labels, effective suffix one label SHORTER); wildcard
    # rules join through the '*.'-form candidate key as-is.
    rules = F.broadcast(
        suffixes.select(
            F.when(
                F.col("suffix").startswith("!"),
                F.expr("substring(suffix, 2)"),
            )
            .otherwise(F.col("suffix"))
            .alias("_key"),
            F.col("suffix").startswith("!").cast("int").alias("_exc"),
        ).distinct()
    )
    best = (
        cand.join(rules, "_key")
        .filter((F.col("_exc") == 1) | (F.col("_k") < F.col("_n")))
        .withColumn("_eff", F.col("_k") - F.col("_exc"))
        .groupBy("_h")
        .agg(
            F.max(F.when(F.col("_exc") == 1, F.col("_eff"))).alias("_xe"),
            F.max(F.when(F.col("_exc") == 0, F.col("_eff"))).alias("_pe"),
        )
        # an exception prevails over ANY plain/wildcard match
        .select("_h", F.coalesce("_xe", "_pe").alias("_bk"))
    )
    mapping = (
        hosts.join(best, "_h", "left")
        .select(
            "_h",
            F.when(
                F.col("_bk").isNotNull(),
                F.array_join(
                    F.slice(
                        F.col("_l"),
                        F.col("_n") - F.col("_bk"),
                        F.col("_bk") + 1,
                    ),
                    ".",
                ),
            )
            .otherwise(registered_domain(F.col("_h")))
            .alias("_dom"),
        )
    )
    return (
        df.join(mapping, df[host_col] == mapping["_h"], "left")
        .withColumn(out_col, F.col("_dom"))
        .drop("_h", "_dom")
    )


def domain_stats(
    df: DataFrame, url_col: str = "url", id_col: str = "doc_id"
) -> DataFrame:
    """Per-registered-domain corpus profile: (domain, n_docs, n_hosts).

    Plan: map-side host/domain projection off the scan, one domain-keyed
    aggregation (partial-aggregated, so a mega-domain ships one partial row
    per map task, not its row count) with a distinct-host count (Spark
    plans it as the two-phase Expand keyed on (domain, host) — also not
    hot-partition-bound).  Rows without a parseable URL group under NULL.
    """
    host = url_host(F.col(url_col))
    return (
        df.select(host.alias("host"))
        .select("host", registered_domain(F.col("host")).alias("domain"))
        .groupBy("domain")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("host").alias("n_hosts"),
        )
    )


def cap_per_domain(
    df: DataFrame,
    cap: int,
    url_col: str = "url",
    id_col: str = "doc_id",
    salt_buckets: int = 16,
) -> DataFrame:
    """Keep at most ``cap`` documents per registered domain, chosen by the
    deterministic md5 rank hash (uniform over ids, reproducible on any
    engine/partitioning; same contract as :func:`.sketch.bottom_k_sample`).

    Adds ``host``, ``domain``, ``sample_rank`` (1-based hash rank within
    the domain).  Exact per-domain top-``cap`` in TWO window levels so a
    whale domain never sorts its full history in one task: level 1 ranks
    within (domain, hash-salt bucket) — bounded by rows/``salt_buckets`` —
    and keeps ``cap`` per bucket; level 2 ranks the surviving
    <= ``salt_buckets * cap`` rows per domain.  Any row in a domain's true
    top-``cap`` is necessarily in its bucket's top-``cap``, so the
    two-level result is exactly the single-window result.  (Spark >= 3.5
    additionally applies rank-limit pushdown — ``WindowGroupLimit`` nodes
    keep only ``cap`` rows per map partition BEFORE each exchange, visible
    in the plan — so even the shuffle input is cap-bounded per source
    partition.)
    """
    host = url_host(F.col(url_col))
    h = _rank_hash(F.col(id_col), "domcap")
    base = (
        df.withColumn("host", host)
        .withColumn("domain", registered_domain(F.col("host")))
        .withColumn("_h", h)
        .withColumn("_s", F.pmod(F.col("_h"), F.lit(salt_buckets)))
    )
    w1 = Window.partitionBy("domain", "_s").orderBy(
        F.col("_h").asc(), F.col(id_col).asc()
    )
    cand = base.withColumn("_r1", F.row_number().over(w1)).filter(
        F.col("_r1") <= cap
    )
    w2 = Window.partitionBy("domain").orderBy(
        F.col("_h").asc(), F.col(id_col).asc()
    )
    return (
        cand.withColumn("sample_rank", F.row_number().over(w2))
        .filter(F.col("sample_rank") <= cap)
        .drop("_h", "_s", "_r1")
    )


#: Tracking query parameters stripped during canonicalization (public
#: convention: UTM campaign tags and common click ids).  The leading
#: ``([?&])`` anchors the match to a *parameter boundary* — without it the
#: pattern matches the ``ref=`` substring inside unrelated params
#: (``?href=AAA`` and ``?href=BBB`` would both collapse to ``?h``, a
#: false-positive merge that loses distinct pages at crawl scale).  The
#: captured delimiter is put back by the replacement (``$1`` in Spark,
#: ``\1`` in DuckDB — dialect-local, the pattern itself is shared), and
#: the resulting ``&&`` runs from mid-query strips are collapsed by
#: :data:`AMP_RUN_RE` afterwards.  No-lookaround subset by design so the
#: exact same pattern runs on Java regex and RE2.
TRACKING_PARAM_RE = "([?&])(utm_[a-z]+|fbclid|gclid|ref)=[^&#]*"

#: Collapses separator runs left behind when a tracking param is stripped
#: mid-query (``?a=1&utm_x=2&b=3`` -> ``?a=1&&b=3`` -> ``?a=1&b=3``).
AMP_RUN_RE = "&&+"


def canonical_url(url: Column) -> Column:
    """Canonical form of an http(s) URL for exact URL-level dedup:
    lowercase scheme+host (path case preserved), fragment dropped,
    tracking parameters stripped, empty ``?`` and trailing slash
    normalized away.

    Pure regexp chain (shared verbatim with the oracle, no lookaround):
    the same crawl-frontier normalization C4/CCNet apply before URL
    dedup.  Returns NULL for non-URLs.
    """
    scheme_host = F.regexp_extract(F.lower(url), HOST_CAPTURE_RE, 1)
    rest = F.regexp_replace(url, HOST_STRIP_RE, "")
    rest = F.regexp_replace(rest, "#.*$", "")
    rest = F.regexp_replace(rest, TRACKING_PARAM_RE, "$1")
    rest = F.regexp_replace(rest, AMP_RUN_RE, "&")
    rest = F.regexp_replace(rest, "[?&]+$", "")
    rest = F.regexp_replace(rest, "\\?&", "?")
    rest = F.regexp_replace(rest, "/$", "")
    return F.when(
        scheme_host == "", None
    ).otherwise(F.concat(F.lit("https://"), scheme_host, rest))


def canonical_url_sql(url: str) -> str:
    """The DuckDB twin of :func:`canonical_url`, for oracles and auditors."""
    host = f"regexp_extract(lower({url}), '{HOST_CAPTURE_RE}', 1)"
    return (
        f"CASE WHEN {host} = '' THEN NULL "
        f"ELSE 'https://' || {host} || "
        "regexp_replace(regexp_replace(regexp_replace(regexp_replace("
        "regexp_replace(regexp_replace(regexp_replace("
        f"{url}, '{HOST_STRIP_RE}', ''), "
        f"'#.*$', ''), '{TRACKING_PARAM_RE}', '\\1', 'g'), '&&+', '&', 'g'), "
        "'[?&]+$', ''), '\\?&', '?'), '/$', '') "
        "END"
    )


def dedup_urls(
    df: DataFrame, url_col: str = "url", id_col: str = "doc_id"
) -> DataFrame:
    """URL-level exact dedup groups: per canonical URL, the keeper (lowest
    id) and the copy count — the frontier-level dedup that runs BEFORE
    any content is fetched or compared.

    One canonical-URL-keyed partial-aggregated min/count; groups of one
    are kept (the full frontier survives, annotated).
    """
    cu = canonical_url(F.col(url_col))
    return (
        df.select(cu.alias("canonical_url"), F.col(id_col))
        .groupBy("canonical_url")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count("*").alias("n_copies"),
        )
    )


def filter_blocklist(
    df: DataFrame,
    blocked_domains: DataFrame,
    url_col: str = "url",
) -> DataFrame:
    """Drop rows whose registered domain appears in ``blocked_domains``
    (a one-column ``domain`` frame) — the blocklist pass of a crawl
    pipeline.

    Broadcast LEFT ANTI join: blocklists are small by nature (thousands
    to low millions of rows), so the corpus never shuffles — the filter
    runs map-side against the broadcast hash set.
    """
    dom = registered_domain(url_host(F.col(url_col)))
    return (
        df.withColumn("_dom", dom)
        .join(
            F.broadcast(blocked_domains.select(F.col("domain").alias("_dom"))),
            "_dom",
            "left_anti",
        )
        .drop("_dom")
    )


#: Capture group 1 = href target, double- OR single-quoted.  Shared
#: verbatim with the oracle; plain character classes, no lookaround, so
#: Java regex and DuckDB's RE2 agree byte-for-byte.
HREF_RE = "href=[\"']([^\"']+)[\"']"


def extract_links(
    df: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
) -> DataFrame:
    """Link-graph edge extraction from raw HTML — the crawl-pipeline op
    that turns fetched pages into the (source domain -> target domain)
    edge list PageRank / host-reputation / frontier scheduling consume.

    ``href`` values are pulled with one shared regexp (double- or
    single-quoted), kept only when ABSOLUTE http(s) (relative links need
    base-URL resolution — a separate, stateful concern — and mailto/js
    schemes are noise for a link graph), and both endpoints are mapped
    to their registered domain.  Output: one row per (src_domain,
    dst_domain) with ``n_links`` (total href occurrences) and
    ``n_src_docs`` (distinct linking documents).

    Scale shape: map-side ``regexp_extract_all`` + explode (no shuffle,
    fan-out bounded by links-per-page), then ONE (src,dst)-keyed
    partial-aggregated shuffle; the edge list is domains², metadata
    scale next to the page corpus.
    """
    src_dom = registered_domain(url_host(F.col(url_col)))
    hrefs = F.regexp_extract_all(F.col(html_col), F.lit(HREF_RE), F.lit(1))
    exploded = df.select(
        src_dom.alias("src_domain"),
        F.col(url_col).alias("_src_url"),
        F.explode(hrefs).alias("_target"),
    ).filter(F.col("_target").rlike("^https?://"))
    dst_dom = registered_domain(url_host(F.col("_target")))
    return (
        exploded.select("src_domain", "_src_url", dst_dom.alias("dst_domain"))
        .groupBy("src_domain", "dst_domain")
        .agg(
            F.count("*").alias("n_links"),
            F.count_distinct("_src_url").alias("n_src_docs"),
        )
    )


#: One robots directive per line — case-insensitive directive name with
#: optional whitespace around the colon, per RFC 9309 §2.2 ("disallow :
#: /x" and "Disallow:/x" are both valid).  Shared verbatim with the
#: DuckDB oracle dialect (inline ``(?i)`` works in both Java regex and
#: RE2).  An empty path ("Disallow:" alone) matches nothing per the RFC,
#: which ``(\S+)`` encodes by simply not matching the line.
ROBOTS_RULE_RE = r"(?i)^[ \t]*(allow|disallow)[ \t]*:[ \t]*(\S+)"

#: Group header line: "User-agent: <token>" (same lexical latitude).
ROBOTS_UA_RE = r"(?i)^[ \t]*user-agent[ \t]*:[ \t]*(\S+)"

#: RFC 9309 path patterns are literals plus two specials: ``*`` (any
#: char run) and a FINAL ``$`` (end anchor).  Translation to a regex =
#: escape every regex metachar except those two, then ``*`` -> ``.*``;
#: a trailing ``$`` is un-escaped back into an end anchor afterwards.
#: The table is shared by the Spark column builder and the SQL-text
#: builder below so both engines translate identically.
ROBOTS_ESCAPES = [
    ("\\", "\\\\"), (".", "\\."), ("+", "\\+"), ("?", "\\?"),
    ("(", "\\("), (")", "\\)"), ("[", "\\["), ("]", "\\]"),
    ("{", "\\{"), ("}", "\\}"), ("|", "\\|"), ("^", "\\^"),
    ("$", "\\$"), ("*", ".*"),
]


def robots_rule_regex(rule) -> F.Column:
    """RFC 9309 path pattern -> anchored regex, as a Spark column."""
    rule = rule if isinstance(rule, F.Column) else F.col(rule)
    esc = rule
    for s, r in ROBOTS_ESCAPES:
        esc = F.replace(esc, F.lit(s), F.lit(r))
    body = F.when(
        rule.endswith("$"),
        F.concat(esc.substr(F.lit(1), F.length(esc) - F.lit(2)), F.lit("$")),
    ).otherwise(esc)
    return F.concat(F.lit("^"), body)


def robots_decisions(
    urls: DataFrame,
    robots: DataFrame,
    url_col: str = "url",
    domain_col: str = "domain",
    txt_col: str = "robots_txt",
) -> DataFrame:
    """Crawl-permission decisions from RAW robots.txt text (RFC 9309 /
    Google longest-match semantics, public spec): slice each domain's
    text into User-agent GROUPS, keep the rules of every group whose
    agent set contains ``*`` (the generic-crawler groups; rules above
    any group header are ignored per the RFC), translate each path
    pattern — literal bytes plus ``*`` wildcards and a final ``$``
    anchor, directive names case-insensitive with free whitespace —
    into an anchored regex, and let the LONGEST matching rule (pattern
    octet length, Google's specificity order) decide per URL.  Allow
    wins a length tie; a URL matching no rule is allowed.

    This is the politeness gate of a crawl pipeline (the frontier
    filter that runs before any fetch), and the parsing is the point:
    a group-slicing, wildcard, or precedence mistake flips specific
    URLs, which is exactly what the per-URL oracle catches.

    Scale shape: robots bodies explode map-side into a (domain, rule)
    frame bounded by directive count — metadata next to the frontier —
    group slicing is one window over that metadata frame, and the URL
    stream broadcast-joins it on the domain key; the longest-match
    argmax is one URL-keyed window over the matched subset only.
    Output: (url, domain, path, matched_rule, rule_type, allowed).
    """
    from pyspark.sql import Window

    path = F.regexp_extract(F.col(url_col), "^https?://[^/?#]+(/.*)?$", 1)
    u = urls.select(
        F.col(url_col).alias("url"),
        registered_domain(url_host(F.col(url_col))).alias("domain"),
        F.when(path == "", F.lit("/")).otherwise(path).alias("path"),
    )
    lines = robots.select(
        F.col(domain_col).alias("domain"),
        F.posexplode(F.split(F.col(txt_col), "\n")).alias("_pos", "_line"),
    )
    tagged = lines.select(
        "domain",
        "_pos",
        F.regexp_extract(F.col("_line"), ROBOTS_UA_RE, 1).alias("_agent"),
        F.lower(
            F.regexp_extract(F.col("_line"), ROBOTS_RULE_RE, 1)
        ).alias("rule_type"),
        F.regexp_extract(F.col("_line"), ROBOTS_RULE_RE, 2).alias(
            "matched_rule"
        ),
    )
    # Group slicing: a run of consecutive User-agent lines starts a new
    # group; every rule line belongs to the most recent group (blank /
    # comment lines do not terminate a group in RFC 9309).  Rules from
    # ALL groups containing agent `*` combine (RFC 9309 §2.2.1).
    wseq = Window.partitionBy("domain").orderBy("_pos")
    blocked = (
        tagged.withColumn("_is_ua", F.col("_agent") != "")
        .withColumn(
            "_prev_ua", F.coalesce(F.lag("_is_ua").over(wseq), F.lit(False))
        )
        .withColumn(
            "_block",
            F.sum(
                F.when(F.col("_is_ua") & ~F.col("_prev_ua"), 1).otherwise(0)
            ).over(wseq),
        )
    )
    star = blocked.groupBy("domain", "_block").agg(
        F.max(
            F.when(F.col("_is_ua") & (F.col("_agent") == "*"), 1).otherwise(0)
        ).alias("_star")
    )
    rules = (
        blocked.join(star, ["domain", "_block"])
        .filter(
            (F.col("_star") == 1)
            & (F.col("rule_type") != "")
            & (F.col("_block") >= 1)
        )
        .select("domain", "rule_type", "matched_rule")
        .distinct()
        .withColumn("_rx", robots_rule_regex(F.col("matched_rule")))
        .withColumn(
            "_is_rx",
            F.col("matched_rule").contains("*")
            | F.col("matched_rule").endswith("$"),
        )
    )
    # Most real rules are literal prefixes: keep them on the codegen
    # startswith fast path; only wildcard/anchored rules pay the
    # per-row regex (RLIKE with a column pattern compiles per row —
    # at frontier x rules scale that is the dominant cost).
    joined = u.join(F.broadcast(rules), "domain")
    cand = joined.filter(
        F.when(
            F.col("_is_rx"), F.expr("path RLIKE _rx")
        ).otherwise(F.col("path").startswith(F.col("matched_rule")))
    )
    w = Window.partitionBy("url").orderBy(
        F.length("matched_rule").desc(),
        F.asc("rule_type"),
        F.asc("matched_rule"),
    )
    best = (
        cand.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("url", "matched_rule", "rule_type")
    )
    out = u.join(best, "url", "left")
    return out.select(
        "url",
        "domain",
        "path",
        "matched_rule",
        "rule_type",
        F.coalesce(F.col("rule_type") != "disallow", F.lit(True)).alias(
            "allowed"
        ),
    )


# ---------------------------------------------------------------------------
# WARC record walk (ISO 28500, public — the Common Crawl container):
# a WARC file is a concatenation of records, each a version line
# ("WARC/1.x"), CRLF-separated named headers through a blank line, a
# payload of exactly Content-Length bytes, and a CRLF CRLF record
# terminator.  A training-data pipeline's first step over a crawl is
# exactly this walk: split records, read WARC-Type / WARC-Target-URI,
# and hand payloads downstream WITHOUT loading the whole archive.
# ---------------------------------------------------------------------------


def _warc_records(b: bytes):
    """WARC bytes -> list of (rec_idx, warc_type, target_uri,
    content_length, payload_sum, payload_weighted) or None (quarantine:
    bad version line, unterminated headers, missing/invalid
    Content-Length, short payload, or a missing record terminator —
    trailing garbage after the last terminator also quarantines).
    payload_weighted = sum (i+1) * byte_i pins payload ATTRIBUTION: a
    walk that hands record k's bytes to record k+1 hash-mismatches."""
    out = []
    pos = 0
    idx = 0
    n = len(b)
    while pos < n:
        eol = b.find(b"\r\n", pos)
        if eol < 0 or not b[pos:eol].startswith(b"WARC/"):
            return None
        hpos = eol + 2
        headers: dict[bytes, bytes] = {}
        while True:
            he = b.find(b"\r\n", hpos)
            if he < 0:
                return None
            line = b[hpos:he]
            hpos = he + 2
            if not line:
                break
            ci = line.find(b":")
            if ci <= 0:
                return None
            headers[line[:ci].strip().lower()] = line[ci + 1 :].strip()
        try:
            clen = int(headers[b"content-length"])
        except (KeyError, ValueError):
            return None
        if clen < 0 or hpos + clen + 4 > n:
            return None
        payload = b[hpos : hpos + clen]
        if b[hpos + clen : hpos + clen + 4] != b"\r\n\r\n":
            return None
        out.append(
            (
                idx,
                headers.get(b"warc-type", b"").decode(
                    "ascii", "replace"
                ),
                headers.get(b"warc-target-uri", b"").decode(
                    "ascii", "replace"
                )
                or None,
                clen,
                sum(payload),
                sum((i + 1) * v for i, v in enumerate(payload)),
            )
        )
        idx += 1
        pos = hpos + clen + 4
    return out if out else None


def warc_encode(doc_id: int, n_records: int) -> bytes:
    """Deterministic WARC fixture: record j cycles WARC-Type through
    response/request/metadata, carries WARC-Target-URI
    ``http://h{doc_id + j}.test/p`` (responses/requests only), and a
    payload of ``16 + (doc_id + j) % 23`` bytes with byte i =
    ``(doc_id * 7 + j * 3 + i * 5) % 256`` — every field an arithmetic
    formula a SQL oracle replays."""
    types = ("response", "request", "metadata")
    out = bytearray()
    for j in range(n_records):
        k = doc_id + j
        wt = types[j % 3]
        clen = 16 + k % 23
        payload = bytes((doc_id * 7 + j * 3 + i * 5) % 256 for i in range(clen))
        out += b"WARC/1.0\r\n"
        out += f"WARC-Type: {wt}\r\n".encode()
        out += f"WARC-Record-ID: <urn:test:{doc_id}-{j}>\r\n".encode()
        if wt != "metadata":
            out += f"WARC-Target-URI: http://h{k}.test/p\r\n".encode()
        out += f"Content-Length: {clen}\r\n".encode()
        out += b"\r\n" + payload + b"\r\n\r\n"
    return bytes(out)
