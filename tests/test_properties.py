"""Property-based tests (hypothesis) for the engine's trickiest invariants.

One SparkSession round-trip per property with a batched example set: Spark
job latency makes per-example @given impractical, so each property draws a
list of examples, evaluates them in ONE DataFrame, and compares against a
plain-Python reference implementation row by row.
"""

import datetime as dt

from hypothesis import example, given, settings, strategies as st
from pyspark.sql import functions as F

from operator_families.functions.text import (
    tokens,
    word_shingles,
)
from nl_railtraffic_etl_pipeline_spark.operators.upsert import (
    insert_ignore,
    upsert_latest_wins,
)

# Printable-ish text including whitespace runs and unicode
TEXT = st.text(
    alphabet=st.characters(
        codec="utf-8", exclude_categories=("Cs", "Cc"), include_characters=" \t"
    ),
    max_size=80,
)


def _py_shingles(text: str, n: int = 3) -> list[str]:
    # Model the ENGINE contract, not Python's: Java and RE2 '\s' are
    # ASCII-only (U+00A0 etc. are not whitespace — hypothesis found this),
    # and SQL trim strips only the space character, unlike str.strip().
    import re

    toks = re.split(r"\s+", text.strip(" ").lower(), flags=re.ASCII)
    if len(toks) < n:
        return []
    seen, out = set(), []
    for i in range(len(toks) - n + 1):
        g = " ".join(toks[i : i + n])
        if g not in seen:
            seen.add(g)
            out.append(g)
    return out


@settings(max_examples=10, deadline=None)
@given(st.lists(TEXT, min_size=1, max_size=25))
def test_word_shingles_matches_python_reference(spark, texts):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i int, t string")
    got = {
        r.i: list(r.s)
        for r in df.select(
            "i", word_shingles(tokens(F.col("t")), 3).alias("s")
        ).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == _py_shingles(t, 3), repr(t)


KEYS = st.integers(min_value=0, max_value=20)


@settings(max_examples=8, deadline=None)
@given(
    st.lists(st.tuples(KEYS, st.integers(0, 100)), max_size=30),
    st.lists(st.tuples(KEYS, st.integers(0, 100)), max_size=30),
)
def test_upsert_properties(spark, existing_rows, batch_rows):
    schema = "k int, ts int"
    existing = spark.createDataFrame(existing_rows, schema).dropDuplicates(["k"])
    batch = spark.createDataFrame(batch_rows, schema)

    # insert_ignore: existing keys keep their rows; new keys appear once
    ins = insert_ignore(existing, batch, ["k"]).collect()
    ex_map = {r.k: r.ts for r in existing.collect()}
    ins_map = {}
    for r in ins:
        assert r.k not in ins_map, "duplicate key after insert_ignore"
        ins_map[r.k] = r.ts
    for k, ts in ex_map.items():
        assert ins_map[k] == ts  # existing wins
    assert set(ins_map) == set(ex_map) | {k for k, _ in batch_rows}

    # upsert_latest_wins: batch replaces; within batch max-ts row survives;
    # applying the same batch twice is idempotent
    up1 = upsert_latest_wins(existing, batch, ["k"], "ts")
    up2 = upsert_latest_wins(up1, batch, ["k"], "ts")
    m1 = {r.k: r.ts for r in up1.collect()}
    m2 = {r.k: r.ts for r in up2.collect()}
    assert m1 == m2, "upsert not idempotent"
    batch_best = {}
    for k, ts in batch_rows:
        batch_best[k] = max(ts, batch_best.get(k, -1))
    for k, ts in batch_best.items():
        assert m1[k] == ts  # batch wins with its latest row
    for k, ts in ex_map.items():
        if k not in batch_best:
            assert m1[k] == ts  # untouched keys survive


def _py_components(edges: list[tuple[int, int]]) -> dict[int, int]:
    """Union-find reference: node -> component minimum."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 40), st.integers(0, 40)).filter(
            lambda p: p[0] != p[1]
        ),
        min_size=1,
        max_size=60,
    )
)
def test_duplicate_clusters_matches_union_find(spark, raw_edges):
    from operator_families.functions.dedup import (
        duplicate_clusters,
    )

    edges = [(min(a, b), max(a, b)) for a, b in raw_edges]
    pairs = spark.createDataFrame(edges, "doc_a bigint, doc_b bigint")
    got = {
        r.doc: r.cluster_rep
        for r in duplicate_clusters(pairs, max_iter=64).collect()
    }
    assert got == _py_components(edges)


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.floats(min_value=0, max_value=100, allow_nan=False),
        min_size=1,
        max_size=40,
    ).filter(lambda ws: sum(round(w * 1000) for w in ws) > 0)
)
def test_pps_pick_total_is_exact(spark, weights):
    """Systematic PPS: for ANY nonnegative weight vector with positive
    total quantized mass, the picks sum exactly to n."""
    from operator_families.functions.sketch import (
        pps_systematic_sample,
    )

    df = spark.createDataFrame(
        [(i, float(w)) for i, w in enumerate(weights)], "doc_id int, w double"
    )
    out = pps_systematic_sample(df, "w", 7, "doc_id", block_size=4).collect()
    assert sum(r["n_picks"] for r in out) == 7


# Fragments that exercise every scrub pattern's match/overlap/boundary
# behavior when spliced into arbitrary text.
_PII_FRAGMENTS = st.sampled_from(
    [
        " a.b+c%d@x-y.co.uk ",
        "u2@m.org",
        " https://e.x/p?q=1&r=(2) tail",
        "http://a.b/",
        "12345678",
        " 999999 88888888 ",
        "<p>",
        "</div>",
        "<br/>",
        '<a href="https://w.x/y">',
        "&amp;",
        "&lt;tag&gt;",
        "&#39;",
        "&quot;",
        "@not.an.email",
        "https:// not a url",
        "<unclosed",
    ]
)
_SCRUB_TEXT = st.lists(
    st.one_of(TEXT, _PII_FRAGMENTS), min_size=0, max_size=8
).map("".join)


@settings(max_examples=8, deadline=None)
@given(st.lists(_SCRUB_TEXT, min_size=1, max_size=30))
def test_scrub_patterns_cross_engine(spark, texts):
    """The Java-regex/RE2 equivalence CLAIM behind scrub_pii/strip_html,
    fuzzed: Spark and DuckDB must produce byte-identical redactions,
    entity decodes, and match counts on adversarial spliced text."""
    import duckdb

    from operator_families.functions.text import (
        BLANK_EDGE_RE,
        EMAIL_RE,
        HTML_ENTITIES,
        HTML_TAG_RE,
        LONGNUM_RE,
        URL_RE,
        scrub_pii,
        strip_html,
    )

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got_scrub = {
        r["doc_id"]: (
            r["clean_text"], r["n_emails"], r["n_urls"], r["n_longnums"]
        )
        for r in scrub_pii(df).collect()
    }
    got_html = {
        r["doc_id"]: (r["clean_text"], r["n_tags"])
        for r in strip_html(df).collect()
    }

    con = duckdb.connect()
    con.execute("CREATE TABLE t(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    decode = f"regexp_replace(text, '{HTML_TAG_RE}', ' ', 'g')"
    for ent, ch in HTML_ENTITIES:
        decode = f"replace({decode}, '{ent}', '{ch.replace(chr(39), chr(39) * 2)}')"
    q = con.execute(
        f"""
        SELECT doc_id,
          regexp_replace(regexp_replace(regexp_replace(
              text, '{URL_RE}', '<URL>', 'g'),
              '{EMAIL_RE}', '<EMAIL>', 'g'),
              '{LONGNUM_RE}', '<NUM>', 'g'),
          len(regexp_extract_all(text, '{EMAIL_RE}')),
          len(regexp_extract_all(text, '{URL_RE}')),
          len(regexp_extract_all(text, '{LONGNUM_RE}')),
          regexp_replace(regexp_replace({decode}, '[ \t\n\r\f]+', ' ', 'g'),
                         '{BLANK_EDGE_RE}', '', 'g'),
          len(regexp_extract_all(text, '{HTML_TAG_RE}'))
        FROM t ORDER BY doc_id
        """
    ).fetchall()
    for doc_id, clean, ne, nu, nn, hclean, ntag in q:
        assert got_scrub[doc_id] == (clean, ne, nu, nn)
        assert got_html[doc_id] == (hclean, ntag)


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.sampled_from(
            ["https://", "Ex.COM", "/p", "?utm_source=1", "?ref=x", "&q=2",
             "#frag", ":8080", "/", "a b", "%7E", "..", "http://", "xyz",
             # adversarial pieces for the param-boundary anchor: 'ref='
             # inside another param name, mid-query tracking params, and
             # bare-delimiter splices that stress the && collapse
             "?href=x", "&pref=1", "&utm_x=1", "?a=1", "&", "?", "HTTP://"]
        ),
        min_size=1,
        max_size=8,
    )
)
def test_canonical_url_cross_engine(spark, pieces):
    """Spark (Java regex) and DuckDB (RE2) produce byte-identical
    canonical URLs on adversarially spliced inputs — the regexes are
    written to the shared no-lookaround subset and this holds them to it."""
    import duckdb

    from operator_families.functions import web

    url = "".join(pieces)
    sdf = spark.createDataFrame([(url,)], ["url"])
    got_spark = sdf.select(
        web.canonical_url(F.col("url")).alias("c")
    ).collect()[0]["c"]
    con = duckdb.connect()
    got_duck = con.execute(
        "SELECT " + web.canonical_url_sql("url") + " FROM (SELECT ? AS url)", [url]
    ).fetchone()[0]
    assert got_spark == got_duck, (url, got_spark, got_duck)


@settings(max_examples=40, deadline=None)
@given(
    st.integers(min_value=0, max_value=2**31 - 1),
    st.integers(min_value=0, max_value=2**31 - 1),
)
def test_zorder_key_cross_engine(spark, x, y):
    """zorder_key (Spark expression) and zorder_key_sql (DuckDB auditor
    twin) agree on arbitrary inputs — a layout key that differs between
    writer and auditor silently destroys pruning."""
    import duckdb

    from operator_families.functions.layout import (
        zorder_key,
        zorder_key_sql,
    )

    sdf = spark.createDataFrame([(x, y)], ["x", "y"])
    got_spark = sdf.select(
        zorder_key(F.col("x"), F.col("y")).alias("z")
    ).collect()[0]["z"]
    got_duck = duckdb.connect().execute(
        "SELECT " + zorder_key_sql("x", "y")
        + " FROM (SELECT CAST(? AS BIGINT) AS x, CAST(? AS BIGINT) AS y)",
        [x, y],
    ).fetchone()[0]
    assert got_spark == got_duck


@settings(max_examples=25, deadline=None)
@given(
    st.lists(
        st.sampled_from(["a", "b", "the", "of", "!?", "..", " ", "\t", ""]),
        min_size=0,
        max_size=20,
    ).map(" ".join)
)
@example(text="a a")  # pinned: score is exactly 0.33375 — a HALF_UP 4-digit tie
def test_quality_classifier_matches_oracle_formula(spark, text):
    """The classifier's integer num/den decomposition equals a direct
    python evaluation of the published formula on arbitrary text."""
    from operator_families.functions.text import (
        STOPWORDS,
        quality_classifier,
    )

    sdf = spark.createDataFrame([(0, text)], ["doc_id", "text"])
    row = quality_classifier(sdf).collect()[0]

    # replicate Spark exactly: trim() strips SPACES ONLY (the engine-trim
    # asymmetry the shingle property test already models), then split on
    # Java \s = [ \t\n\x0b\f\r] — a trailing tab yields an empty token.
    import re as _re

    toks = _re.split(r"[ \t\n\x0b\f\r]+", text.lower().strip(" "))
    n = len(toks)
    L = len(text)
    if n == 0 or L == 0 or (n == 1 and toks[0] == "" and L == 0):
        assert row["keep"] is False
        return
    a = sum(1 for t in toks if t in STOPWORDS)
    total_len = sum(len(t) for t in toks)
    b = min(n, 200)
    c = min(total_len, 8 * n)
    p = sum(1 for ch in text if not (ch.isalnum() or ch == "_" or ch.isspace()))
    num = 48000 * a * L + 200 * b * n * L + 5000 * c * L - 32000 * p * n
    den = 160000 * n * L
    assert row["keep"] == (num * 100 >= den * 22)
    if row["score"] is not None:
        # Mirror Spark's ROUND(double, 4) exactly: Spark routes the double
        # through BigDecimal.valueOf (Java Double.toString == shortest
        # round-trip repr, same algorithm as Python repr()) then setScale
        # HALF_UP.  Python's float round() is banker's on the raw binary
        # value and lands one ulp low on near-ties like num/den = 0.33375
        # (text='a a'), which is why the old float-round mirror was wrong
        # while the operator and the DuckDB oracle agreed.
        from decimal import ROUND_HALF_UP, Decimal

        q = float(num) / float(den)
        expect = float(
            Decimal(repr(q)).quantize(Decimal("0.0001"), rounding=ROUND_HALF_UP)
        )
        assert row["score"] == expect


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.lists(
            st.sampled_from(["a", "b", "co", "uk", "io", "x", "example"]),
            min_size=1,
            max_size=6,
        ).map(".".join),
        min_size=1,
        max_size=12,
    ),
    st.sets(
        st.lists(
            st.sampled_from(["a", "b", "co", "uk", "io", "x"]),
            min_size=1,
            max_size=3,
        ).map(".".join),
        min_size=0,
        max_size=8,
    ),
)
def test_registered_domain_psl_matches_referee(spark, hosts, suffixes):
    """The table-driven PSL path agrees with a plain-Python referee
    implementing the documented contract (longest PROPER listed suffix
    wins, +1 label; unmatched -> static heuristic) on arbitrary host and
    suffix-table shapes — including hosts that ARE suffixes, 1-label
    hosts, and empty suffix tables."""
    from operator_families.functions import web

    def referee(host: str) -> str:
        labels = host.split(".")
        n = len(labels)
        best = 0
        for k in range(1, min(n - 1, web.PSL_MAX_SUFFIX_LABELS) + 1):
            if ".".join(labels[n - k:]) in suffixes:
                best = max(best, k)
        if best:
            return ".".join(labels[n - best - 1:])
        if n >= 3 and ".".join(labels[-2:]) in web.SECOND_LEVEL_SUFFIXES:
            return ".".join(labels[-3:])
        if n >= 2:
            return ".".join(labels[-2:])
        return host

    sdf = spark.createDataFrame([(h,) for h in set(hosts)], ["host"])
    sfx = (
        spark.createDataFrame([(s,) for s in suffixes], ["suffix"])
        if suffixes
        else spark.createDataFrame([], "suffix string")
    )
    got = {
        r["host"]: r["domain"]
        for r in web.registered_domain_psl(sdf, sfx).collect()
    }
    for h in set(hosts):
        assert got[h] == referee(h), (h, got[h], referee(h), suffixes)


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.lists(
            st.sampled_from(["a", "b", "cc", "the", "zz", ""]),
            min_size=0,
            max_size=10,
        ),
        min_size=1,
        max_size=10,
    ),
    st.dictionaries(
        st.sampled_from(["a", "b", "cc", "the", "zz"]),
        st.integers(min_value=1, max_value=99),
        max_size=5,
    ),
)
def test_encode_tokens_matches_referee(spark, docs_tokens, vocab):
    """encode_tokens equals a plain-python positional encode for ANY
    doc/vocab shape — order preserved, OOV -> 0 and counted, duplicate
    vocab ids allowed, empty docs empty."""
    from operator_families.functions.chunking import (
        encode_tokens,
    )

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs_tokens)]
    sdf = spark.createDataFrame(rows, "doc_id long, text string")
    vdf = (
        spark.createDataFrame(list(vocab.items()), "term string, token_id int")
        if vocab
        else spark.createDataFrame([], "term string, token_id int")
    )
    got = {
        r["doc_id"]: (list(r["token_ids"]), r["n_tokens"], r["n_oov"])
        for r in encode_tokens(sdf, vdf).collect()
    }
    import re as _re

    for i, _ in enumerate(docs_tokens):
        text = rows[i][1]
        # engine tokenizer: space-trim then split on ASCII whitespace —
        # joining with single spaces makes this the literal token list,
        # except the all-empty-join case which yields one empty token
        toks = _re.split(r"[ ]+", text.strip(" "))
        ids = [vocab.get(t, 0) for t in toks]
        oov = sum(1 for t in toks if t not in vocab)
        assert got[i] == (ids, len(toks), oov), (i, text, got[i])


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.integers(min_value=0, max_value=30), min_size=1, max_size=120
    )
)
def test_cm_sketch_never_undercounts(spark, values):
    """CM estimate >= exact count for every value, on arbitrary
    multisets — the one-sided guarantee as a property, not an example."""
    from collections import Counter

    from operator_families.functions.sketch import (
        cm_build,
        cm_query,
    )

    df = spark.createDataFrame([(v,) for v in values], "v bigint")
    state = cm_build(df, "v", width=64, depth=3)
    items = df.select(F.col("v").alias("value")).distinct()
    est = {
        r["value"]: r["est"]
        for r in cm_query(state, items, width=64, depth=3).collect()
    }
    truth = Counter(values)
    for v, n in truth.items():
        assert est[v] >= n, (v, est[v], n)


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c", "d"]), min_size=0, max_size=12
        ),
        min_size=2,
        max_size=8,
    )
)
def test_remove_repeated_spans_matches_referee(spark, docs_tokens):
    """Span removal equals a plain-python referee (shared 3-gram
    positions unioned and deleted) on arbitrary tiny corpora — including
    overlapping occurrences, sub-n docs, and fully-covered docs."""
    from operator_families.functions.text import (
        remove_repeated_spans,
    )

    n = 3
    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs_tokens)]
    sdf = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["clean_text"], r["n_tokens"], r["n_removed"])
        for r in remove_repeated_spans(sdf, n=n, min_docs=2).collect()
    }

    # referee on the ENGINE token contract (join/split is identity here,
    # except the empty join -> [""])
    toks_by_doc = {
        i: (t.split(" ") if t else [""]) for i, (_, t) in enumerate(rows)
    }
    from collections import defaultdict

    span_docs = defaultdict(set)
    for i, toks in toks_by_doc.items():
        for p in range(len(toks) - n + 1):
            span_docs[tuple(toks[p : p + n])].add(i)
    shared = {s for s, ds in span_docs.items() if len(ds) >= 2}
    for i, toks in toks_by_doc.items():
        covered = set()
        for p in range(len(toks) - n + 1):
            if tuple(toks[p : p + n]) in shared:
                covered.update(range(p, p + n))
        kept = [w for j, w in enumerate(toks) if j not in covered]
        want = (" ".join(kept), len(toks), len(toks) - len(kept))
        assert got[i] == want, (i, rows[i][1], got[i], want)


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),          # key
            st.integers(min_value=0, max_value=50),         # minute offset
            st.floats(
                min_value=-1e6, max_value=1e6,
                allow_nan=False, allow_infinity=False,
            ),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_ewma_halving_bit_identical_cross_engine(spark, rows):
    """The exact-halving EWMA chain is BIT-identical between Spark's
    higher-order fold and DuckDB's list_reduce on arbitrary doubles,
    keys, and duplicate timestamps — the claim behind the events_ewma
    oracle, fuzzed (halving is exact IEEE; the fold order is pinned by
    the (ts, id) total order on both engines)."""
    import datetime as _dt

    import duckdb

    from operator_families.functions.stats import ewma_halving

    t0 = _dt.datetime(2026, 6, 1)
    data = [
        (k, i, t0 + _dt.timedelta(minutes=m), v)
        for i, (k, m, v) in enumerate(rows)
    ]
    sdf = spark.createDataFrame(
        data, "user_id bigint, event_id bigint, ts timestamp, value double"
    )
    got = {
        r["event_id"]: r["ewma"] for r in ewma_halving(sdf).collect()
    }

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE e(user_id BIGINT, event_id BIGINT, ts TIMESTAMP,"
        " value DOUBLE)"
    )
    con.executemany("INSERT INTO e VALUES (?, ?, ?, ?)", data)
    want = dict(
        con.execute(
            """
WITH ordered AS (
    SELECT user_id,
           list(struct_pack(ts := ts, id := event_id, v := value)
                ORDER BY ts, event_id) AS l
    FROM e GROUP BY user_id
),
pos AS (
    SELECT user_id, l,
           unnest([{'p': i, 'id': l[i].id} for i in range(1, len(l) + 1)])
               AS u
    FROM ordered
)
SELECT u.id, list_reduce(list_transform(l[1:u.p], x -> x.v),
                         (a, b) -> (a + b) / 2)
FROM pos
"""
        ).fetchall()
    )
    assert set(got) == set(want)
    for eid in got:
        # bit identity, not approximate equality
        assert got[eid] == want[eid] or (
            got[eid] != got[eid] and want[eid] != want[eid]
        ), (eid, got[eid], want[eid])


@settings(max_examples=20, deadline=None)
@given(
    st.sets(
        st.lists(
            st.sampled_from(["a", "b", "co", "uk", "ck", "x"]),
            min_size=1,
            max_size=5,
        ).map(".".join),
        min_size=1,
        max_size=10,
    ),
    st.sets(
        st.builds(
            lambda pre, body: pre + body,
            st.sampled_from(["", "!", "*.", ""]),
            st.lists(
                st.sampled_from(["a", "b", "co", "uk", "ck"]),
                min_size=1,
                max_size=3,
            ).map(".".join),
        ),
        min_size=0,
        max_size=8,
    ),
)
def test_registered_domain_psl_full_rules_match_referee(spark, hosts, rules):
    """Property twin of the wildcard/exception upgrade: on arbitrary
    mixes of plain / `*.`-wildcard / `!`-exception rules, the Spark path
    agrees with a plain-Python referee replaying the documented
    algorithm (exception prevails with whole-host allowed, else longest
    PROPER match over plain+wildcard candidate keys, else static
    fallback)."""
    from operator_families.functions import web

    def referee(host: str) -> str:
        labels = host.split(".")
        n = len(labels)
        xe, pe = None, None
        for k in range(1, min(n, web.PSL_MAX_SUFFIX_LABELS) + 1):
            pkey = ".".join(labels[n - k:])
            wkey = "*" if k == 1 else "*." + ".".join(labels[n - k + 1:])
            for rule in rules:
                exc = rule.startswith("!")
                key = rule[1:] if exc else rule
                if key not in (pkey, wkey):
                    continue
                if not exc and k >= n:
                    continue
                eff = k - (1 if exc else 0)
                if exc:
                    xe = eff if xe is None else max(xe, eff)
                else:
                    pe = eff if pe is None else max(pe, eff)
        bk = xe if xe is not None else pe
        if bk is not None:
            return ".".join(labels[n - bk - 1:])
        if n >= 3 and ".".join(labels[-2:]) in web.SECOND_LEVEL_SUFFIXES:
            return ".".join(labels[-3:])
        if n >= 2:
            return ".".join(labels[-2:])
        return host

    sdf = spark.createDataFrame([(h,) for h in set(hosts)], ["host"])
    sfx = (
        spark.createDataFrame([(s,) for s in rules], ["suffix"])
        if rules
        else spark.createDataFrame([], "suffix string")
    )
    got = {
        r["host"]: r["domain"]
        for r in web.registered_domain_psl(sdf, sfx).collect()
    }
    for h in set(hosts):
        assert got[h] == referee(h), (h, got[h], referee(h), sorted(rules))
