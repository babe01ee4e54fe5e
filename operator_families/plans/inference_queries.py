"""r11 second-wave inference gates: classical rank/effect-size tests,
threshold-sweep classifier evaluation, proper scoring, and phonetic
encoding.

Each operator is oracle-gated:

- ``stats_cramers_v``: chi-square association effect size over the
  (event_type x ISO dow) contingency table, cell terms folded with the
  anova_f strict-left-fold contract.
- ``ml_mcc``: Matthews correlation across a 9-threshold sweep of the
  md5 pseudo-score, derived from ONE bucket-keyed pass (no
  per-threshold corpus re-scan).
- ``ml_log_loss``: mean binary cross-entropy under the quantized-term
  contract for the transcendental ln chain.
- ``text_soundex``: Spark's NATIVE JVM soundex (UTF8String.soundex, the
  US-census algorithm) vs an independent SQL reimplementation in the
  oracle — the jaro_winkler foreign-oracle pattern with the engines
  swapped: here SPARK is the native side.  Validated bit-exact on 3000
  random tokens plus the textbook edge cases (H/W separators preserve
  the run, vowels break it, first-letter H/W seeds lastCode='7').

The reference (``/root/reference/src``) ships none of this surface;
these extend SURVEY.md §2.12's analysis family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nl_railtraffic_etl_pipeline_spark.plans.testdata import load_table

from .oracle_util import round_sql as _r
from .registry import query

_H32_SQL = (
    "CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT)"
)
_DENOM = 2**32


# ---------------------------------------------------------------------------
# Cramér's V (functions/stats.py::cramers_v) over the event_type x ISO
# day-of-week contingency table — a metadata-sized cell frame at any
# corpus scale; the cell-term sum is the anova_f strict left fold.
# ---------------------------------------------------------------------------
CRAMERS_ORACLE_SQL = """
WITH base AS (
    SELECT event_type AS r, CAST(isodow(CAST(ts AS DATE)) AS BIGINT) AS c
    FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
),
cells AS (SELECT r, c, CAST(COUNT(*) AS BIGINT) AS o FROM base GROUP BY 1, 2),
rm AS (SELECT r, CAST(SUM(o) AS BIGINT) AS rt FROM cells GROUP BY 1),
cm AS (SELECT c, CAST(SUM(o) AS BIGINT) AS ct FROM cells GROUP BY 1),
j AS (
    SELECT cells.r, cells.c, o, rt, ct
    FROM cells JOIN rm USING (r) JOIN cm USING (c)
),
agg AS (
    SELECT CAST(SUM(o) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT r) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT c) AS BIGINT) AS n_cols,
           list_reduce(
               list_prepend(
                   CAST(0 AS DOUBLE),
                   list(CAST(o AS DOUBLE) * CAST(o AS DOUBLE)
                        / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE))
                        ORDER BY r, c)
               ),
               (x, y) -> x + y
           ) AS fold
    FROM j
)
SELECT n, n_rows, n_cols,
       CASE WHEN n > 0 AND least(n_rows - 1, n_cols - 1) > 0
            THEN ROUND(CAST(n AS DOUBLE) * (fold - CAST(1 AS DOUBLE)), 9)
       END AS chi2,
       CASE WHEN n > 0 AND least(n_rows - 1, n_cols - 1) > 0
            THEN ROUND(sqrt(
                CAST(n AS DOUBLE) * (fold - CAST(1 AS DOUBLE))
                / (CAST(n AS DOUBLE)
                   * CAST(least(n_rows - 1, n_cols - 1) AS DOUBLE))), 9)
       END AS v
FROM agg
"""


@query("stats_cramers_v", CRAMERS_ORACLE_SQL)
def _stats_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.stats import cramers_v

    e = load_table(spark, sf_dir, "events", spread=True)
    base = e.filter(
        F.col("event_type").isNotNull() & F.col("ts").isNotNull()
    ).select(
        "event_type",
        (F.weekday(F.to_date("ts")) + 1).cast("bigint").alias("iso_dow"),
    )
    return cramers_v(base, "event_type", "iso_dow")


# ---------------------------------------------------------------------------
# MCC threshold sweep (functions/mleval.py::mcc_thresholds) over the md5
# pseudo-score predicting purchase — ONE bucket-keyed corpus pass; the
# 9 confusion matrices derive from the 10-row bucket frame.
# ---------------------------------------------------------------------------
MCC_ORACLE_SQL = f"""
WITH base AS (
    SELECT ({_H32_SQL} * 10) // {_DENOM} AS b,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
    FROM events WHERE event_type IS NOT NULL
),
pb AS (
    SELECT b, CAST(COUNT(*) AS BIGINT) AS cnt, CAST(SUM(y) AS BIGINT) AS pos
    FROM base GROUP BY 1
),
tot AS (
    SELECT CAST(SUM(cnt) AS BIGINT) AS n, CAST(SUM(pos) AS BIGINT) AS p
    FROM pb
),
ks AS (SELECT unnest(range(1, 10)) AS k),
pres AS (
    SELECT k, CAST(SUM(cnt) AS BIGINT) AS cge, CAST(SUM(pos) AS BIGINT) AS pge
    FROM pb JOIN ks ON pb.b >= ks.k GROUP BY 1
),
allk AS (
    SELECT k, n, p,
           CAST(COALESCE(cge, 0) AS BIGINT) AS cge,
           CAST(COALESCE(pge, 0) AS BIGINT) AS pge
    FROM ks LEFT JOIN pres USING (k), tot
)
SELECT CAST(k * {_DENOM} // 10 AS BIGINT) AS threshold_units,
       pge AS tp,
       cge - pge AS fp,
       (n - p) - (cge - pge) AS tn,
       p - pge AS fn,
       CASE WHEN cge > 0 AND p > 0 AND n - p > 0 AND n - cge > 0
            THEN ROUND(
                CAST(pge * ((n - p) - (cge - pge))
                     - (cge - pge) * (p - pge) AS DOUBLE)
                / sqrt(CAST(cge AS DOUBLE) * CAST(p AS DOUBLE)
                       * CAST(n - p AS DOUBLE) * CAST(n - cge AS DOUBLE)),
                9)
       END AS mcc
FROM allk
"""


@query("ml_mcc", MCC_ORACLE_SQL)
def _ml_mcc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.mleval import mcc_thresholds
    from ..functions.text import hash32

    e = load_table(spark, sf_dir, "events", spread=True).filter(
        F.col("event_type").isNotNull()
    )
    base = e.select(
        hash32(F.col("event_id").cast("string")).alias("score"),
        (F.col("event_type") == "purchase").cast("int").alias("label"),
    )
    return mcc_thresholds(base, "score", "label", _DENOM)


# ---------------------------------------------------------------------------
# Mean binary cross-entropy (functions/mleval.py::log_loss) of the
# Laplace-shifted md5 pseudo-probability against the purchase label —
# transcendental ln under the quantized-term contract.
# ---------------------------------------------------------------------------
LOG_LOSS_ORACLE_SQL = f"""
WITH base AS (
    SELECT (CAST({_H32_SQL} AS DOUBLE) + CAST(1 AS DOUBLE))
               / CAST({_DENOM + 2} AS DOUBLE) AS pr,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
    FROM events WHERE event_type IS NOT NULL
),
terms AS (
    SELECT y,
           CAST({_r(
               "-(CASE WHEN y = 1 THEN ln(pr)"
               " ELSE ln(CAST(1 AS DOUBLE) - pr) END)",
               12,
           )} AS DECIMAL(28,12)) AS t
    FROM base
),
r AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(y) AS BIGINT) AS n_pos,
           SUM(t) AS ts_
    FROM terms
)
SELECT n, n_pos,
       ROUND(CAST(ts_ AS DOUBLE), 9) AS loss_sum,
       CASE WHEN n > 0
            THEN ROUND(CAST(ts_ AS DOUBLE) / CAST(n AS DOUBLE), 9)
       END AS log_loss
FROM r
"""


@query("ml_log_loss", LOG_LOSS_ORACLE_SQL)
def _ml_log_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.mleval import log_loss
    from ..functions.text import hash32

    e = load_table(spark, sf_dir, "events", spread=True).filter(
        F.col("event_type").isNotNull()
    )
    base = e.select(
        hash32(F.col("event_id").cast("string")).alias("score"),
        (F.col("event_type") == "purchase").cast("int").alias("label"),
    )
    return log_loss(base, "score", "label", _DENOM)


# ---------------------------------------------------------------------------
# Soundex phonetic buckets: Spark's NATIVE soundex (JVM
# UTF8String.soundex — the US-census algorithm with H/W run
# preservation) over the distinct pure-alpha token vocabulary, checked
# against an independent SQL reimplementation: translate() maps letters
# to the census code string, H/W (code '7') drop out of the lag chain
# (preserving runs across them), vowels (code '0') stay IN the chain
# (breaking runs) but never emit, and the first letter seeds the chain.
# Two independent implementations of the published algorithm, validated
# bit-exact on 3000 random tokens before gating.
# ---------------------------------------------------------------------------
@query(
    "text_soundex",
    """
WITH toks AS (
    SELECT DISTINCT w AS token FROM (
        SELECT unnest(string_split(text, ' ')) AS w FROM documents
    ) WHERE regexp_full_match(w, '[a-z]+')
),
chars AS (
    SELECT token, i,
           translate(substr(upper(token), CAST(i AS INTEGER), 1),
                     'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
                     '01230127022455012623017202') AS code
    FROM toks, LATERAL (SELECT unnest(range(1, len(token) + 1)) AS i)
),
f AS (
    SELECT token, i, code,
           LAG(code) OVER (PARTITION BY token ORDER BY i) AS prev
    FROM chars WHERE code <> '7'
),
emit AS (
    SELECT token, i, code FROM f
    WHERE i > 1 AND code <> '0' AND (prev IS NULL OR code <> prev)
),
agg AS (
    SELECT token, string_agg(code, '' ORDER BY i) AS cs
    FROM emit GROUP BY token
)
SELECT token,
       upper(substr(token, 1, 1))
           || substr(COALESCE(cs, '') || '000', 1, 3) AS sdx
FROM toks LEFT JOIN agg USING (token)
""",
)
def _text_soundex(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents", spread=True)
    toks = (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token").rlike("^[a-z]+$"))
        .distinct()
    )
    return toks.select("token", F.soundex("token").alias("sdx"))


# ---------------------------------------------------------------------------
# Sitemap parse (pure whole-stage-codegen, ZERO Python): one sitemap
# XML per source assembled from the documents (url entries with
# lastmod, changefreq/priority decoys, and 'skip' paths for
# doc_id % 7 = 0), then parsed BACK with regexp_extract_all and
# filtered — the extraction-side regex chain is the operator under
# test; both engines run the identical pattern.  Aggregation closes
# per source so assembly order is invisible.
# ---------------------------------------------------------------------------
@query(
    "web_sitemap_parse",
    """
WITH entries AS (
    SELECT source,
           '<url><loc>https://ex.com/' || source || '/'
               || CASE WHEN doc_id % 7 = 0 THEN 'skip-' ELSE 'd' END
               || CAST(doc_id AS VARCHAR)
               || '</loc><lastmod>2024-'
               || lpad(CAST(1 + doc_id % 12 AS VARCHAR), 2, '0') || '-'
               || lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0')
               || '</lastmod><changefreq>daily</changefreq>'
               || '<priority>0.' || CAST(doc_id % 10 AS VARCHAR)
               || '</priority></url>' AS e
    FROM documents WHERE source IS NOT NULL
),
maps AS (
    SELECT source,
           '<?xml version="1.0"?><urlset>' || string_agg(e, '')
               || '</urlset>' AS xml
    FROM entries GROUP BY 1
),
locs AS (
    SELECT source, unnest(regexp_extract_all(xml, '<loc>([^<]*)</loc>', 1))
               AS loc
    FROM maps
),
mods AS (
    SELECT source,
           unnest(regexp_extract_all(xml,
               '<lastmod>([^<]*)</lastmod>', 1)) AS lastmod
    FROM maps
),
lk AS (
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_urls,
           CAST(COUNT(*) FILTER (loc NOT LIKE '%/skip-%') AS BIGINT)
               AS n_kept,
           CAST(COUNT(DISTINCT loc) AS BIGINT) AS n_distinct
    FROM locs GROUP BY 1
),
lm AS (
    SELECT source, MIN(lastmod) AS first_mod, MAX(lastmod) AS last_mod
    FROM mods GROUP BY 1
)
SELECT lk.source, n_urls, n_kept, n_distinct, first_mod, last_mod
FROM lk JOIN lm USING (source)
""",
)
def _web_sitemap(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents", spread=True).filter(
        F.col("source").isNotNull()
    )
    entry = F.concat(
        F.lit("<url><loc>https://ex.com/"), F.col("source"), F.lit("/"),
        F.when(F.col("doc_id") % 7 == 0, F.lit("skip-")).otherwise(
            F.lit("d")
        ),
        F.col("doc_id").cast("string"),
        F.lit("</loc><lastmod>2024-"),
        F.lpad((F.col("doc_id") % 12 + 1).cast("string"), 2, "0"),
        F.lit("-"),
        F.lpad((F.col("doc_id") % 28 + 1).cast("string"), 2, "0"),
        F.lit("</lastmod><changefreq>daily</changefreq><priority>0."),
        (F.col("doc_id") % 10).cast("string"),
        F.lit("</priority></url>"),
    )
    maps = d.select("source", entry.alias("e")).groupBy("source").agg(
        F.concat(
            F.lit('<?xml version="1.0"?><urlset>'),
            F.concat_ws("", F.collect_list("e")),
            F.lit("</urlset>"),
        ).alias("xml")
    )
    locs = maps.select(
        "source",
        F.explode(
            F.regexp_extract_all(
                F.col("xml"), F.lit("<loc>([^<]*)</loc>"), F.lit(1)
            )
        ).alias("loc"),
    )
    mods = maps.select(
        "source",
        F.explode(
            F.regexp_extract_all(
                F.col("xml"), F.lit("<lastmod>([^<]*)</lastmod>"), F.lit(1)
            )
        ).alias("lastmod"),
    )
    lk = locs.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_urls"),
        F.count_if(~F.col("loc").like("%/skip-%"))
        .cast("bigint")
        .alias("n_kept"),
        F.countDistinct("loc").cast("bigint").alias("n_distinct"),
    )
    lm = mods.groupBy("source").agg(
        F.min("lastmod").alias("first_mod"),
        F.max("lastmod").alias("last_mod"),
    )
    return lk.join(lm, "source")


# ---------------------------------------------------------------------------
# Generalized-ESD anomaly rounds (functions/stats.py::esd_rounds) over
# per-day event counts: three remove-the-max-z iterations, each
# recomputing mean/std over the remainder.  The oracle unrolls the
# rounds as chained ordered-LIMIT CTEs with the identical (z DESC, day)
# tie-break.
# ---------------------------------------------------------------------------
def _esd_round_sql(r: int) -> str:
    return f"""
s{r} AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(v) AS DOUBLE) AS s,
           CAST(SUM(v * v) AS DOUBLE) AS ss
    FROM rem{r - 1}
),
p{r} AS (
    SELECT d, v,
           ABS(CAST(v AS DOUBLE) - s / n) / sqrt((ss - s * s / n) / (n - 1))
               AS z
    FROM rem{r - 1}, s{r}
    ORDER BY z DESC, d LIMIT 1
),
rem{r} AS (
    SELECT rem{r - 1}.* FROM rem{r - 1}
    LEFT JOIN p{r} USING (d) WHERE p{r}.v IS NULL
)"""


_ESD_ROUNDS = 3


ESD_ORACLE_SQL = (
    """
WITH rem0 AS (
    SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS v
    FROM events WHERE ts IS NOT NULL GROUP BY 1
),"""
    + ",".join(_esd_round_sql(r) for r in range(1, _ESD_ROUNDS + 1))
    + "\n"
    + "\nUNION ALL\n".join(
        f"SELECT CAST({r} AS INTEGER) AS round, d AS day, v AS value,"
        f" ROUND(z, 9) AS z FROM p{r}"
        for r in range(1, _ESD_ROUNDS + 1)
    )
)


@query("events_anomaly_esd", ESD_ORACLE_SQL)
def _events_anomaly_esd(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.stats import esd_rounds

    e = load_table(spark, sf_dir, "events", spread=True)
    daily = (
        e.filter(F.col("ts").isNotNull())
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.count("*").cast("bigint").alias("value"))
    )
    return esd_rounds(daily, "day", "value", rounds=_ESD_ROUNDS)


# ---------------------------------------------------------------------------
# UTF-8 validity scan (functions/text.py::utf8_validity_stats): the
# document text travels as BYTES with 0xFF injected at every 97th
# position (offset 50) for doc_id % 5 = 0 — the corpus is pure ASCII
# (pinned by test), so each injected byte decodes to exactly one
# U+FFFD under the maximal-subpart replace policy and the oracle's
# closed form counts them without decoding.
# ---------------------------------------------------------------------------
@query(
    "text_utf8_validity",
    """
SELECT doc_id,
       CAST(strlen(text) AS BIGINT) AS n_bytes,
       CAST(CASE WHEN doc_id % 5 = 0 AND strlen(text) > 50
                 THEN (strlen(text) - 51) // 97 + 1 ELSE 0 END
            AS BIGINT) AS n_invalid,
       CAST(strlen(text) AS BIGINT) AS n_chars_repaired
FROM documents WHERE text IS NOT NULL
""",
)
def _text_utf8_validity(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from ..functions.text import utf8_validity_stats

    d = load_table(spark, sf_dir, "documents", spread=True).filter(
        F.col("text").isNotNull()
    )

    def gen(batches):
        for pdf in batches:
            payloads = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                b = bytearray(str(text).encode("utf-8"))
                if doc_id % 5 == 0:
                    for i in range(50, len(b), 97):
                        b[i] = 0xFF
                payloads.append(bytes(b))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "payload": payloads}
            )

    payload = d.select("doc_id", "text").mapInPandas(
        gen, "doc_id long, payload binary"
    )
    return utf8_validity_stats(payload)


# ---------------------------------------------------------------------------
# Paired sign test over week-on-week daily counts: the distribution-
# free "did this week beat last week" monitor.  Pairs (day, day-7);
# ties drop (the textbook convention); z = (n_pos - n_neg)/sqrt(n)
# without continuity correction (documented choice) — all counts
# integer, one closing IEEE op pair.
# ---------------------------------------------------------------------------
SIGN_TEST_ORACLE_SQL = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS v
    FROM events WHERE ts IS NOT NULL GROUP BY 1
),
pairs AS (
    SELECT a.d, a.v AS cur, b.v AS prev
    FROM daily a JOIN daily b ON b.d = a.d - INTERVAL 7 DAY
),
agg AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(COUNT(*) FILTER (cur > prev) AS BIGINT) AS n_pos,
           CAST(COUNT(*) FILTER (cur < prev) AS BIGINT) AS n_neg,
           CAST(COUNT(*) FILTER (cur = prev) AS BIGINT) AS n_ties
    FROM pairs
)
SELECT n_pairs, n_pos, n_neg, n_ties,
       CASE WHEN n_pos + n_neg > 0 THEN
           ROUND(CAST(n_pos - n_neg AS DOUBLE)
                 / sqrt(CAST(n_pos + n_neg AS DOUBLE)), 9)
       END AS z
FROM agg
"""


@query("stats_sign_test", SIGN_TEST_ORACLE_SQL)
def _stats_sign_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events", spread=True)
    daily = (
        e.filter(F.col("ts").isNotNull())
        .groupBy(F.to_date("ts").alias("d"))
        .agg(F.count("*").cast("bigint").alias("v"))
    )
    prev = daily.select(
        F.date_add(F.col("d"), 7).alias("d"), F.col("v").alias("prev")
    )
    pairs = daily.join(prev, "d").select(
        F.col("v").alias("cur"), "prev"
    )
    agg = pairs.agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.count_if(F.col("cur") > F.col("prev"))
        .cast("bigint")
        .alias("n_pos"),
        F.count_if(F.col("cur") < F.col("prev"))
        .cast("bigint")
        .alias("n_neg"),
        F.count_if(F.col("cur") == F.col("prev"))
        .cast("bigint")
        .alias("n_ties"),
    )
    nn = (F.col("n_pos") + F.col("n_neg")).cast("double")
    return agg.select(
        "n_pairs", "n_pos", "n_neg", "n_ties",
        F.when(
            F.col("n_pos") + F.col("n_neg") > 0,
            F.round(
                (F.col("n_pos") - F.col("n_neg")).cast("double")
                / F.sqrt(nn),
                9,
            ),
        ).alias("z"),
    )


# ---------------------------------------------------------------------------
# TGA decode (multimodal.decode_tga_pixel_stats): types 2 and 10
# (RLE) truecolor with BOTH row origins (the bottom-up default and the
# top-down origin bit) — the fourth classic bitmap next to BMP/PNG/
# TIFF; the QOI fixture's run injection exercises RLE run and raw
# packets.  The weighted sum pins the row flip.  Every third doc ships
# truncated bytes.
# ---------------------------------------------------------------------------
@query(
    "mm_decode_tga",
    """
WITH sel AS (
    SELECT doc_id,
           CAST(5 + doc_id % 6 AS INTEGER) AS w,
           CAST(3 + doc_id % 5 AS INTEGER) AS h,
           doc_id % 2 = 1 AS rle,
           doc_id % 3 = 2 AS corrupt
    FROM documents WHERE doc_id % 61 = 0
),
px AS (
    SELECT doc_id, p,
           p - (CASE p % 11 WHEN 4 THEN 1 WHEN 5 THEN 2 ELSE 0 END) AS e
    FROM (SELECT doc_id, unnest(range(0, w * h)) AS p
          FROM sel WHERE NOT corrupt)
),
sums AS (
    SELECT doc_id,
           CAST(SUM((doc_id * 31 + e * 3) % 256) AS BIGINT) AS r_sum,
           CAST(SUM((doc_id * 31 + e * 3 + 1) % 256) AS BIGINT) AS g_sum,
           CAST(SUM((doc_id * 31 + e * 3 + 2) % 256) AS BIGINT) AS b_sum,
           CAST(SUM((p + 1) * (((doc_id * 31 + e * 3) % 256)
                 + ((doc_id * 31 + e * 3 + 1) % 256)
                 + ((doc_id * 31 + e * 3 + 2) % 256))) AS BIGINT)
               AS weighted
    FROM px GROUP BY 1
)
SELECT sel.doc_id,
       CASE WHEN sel.corrupt THEN NULL ELSE sel.w END AS width,
       CASE WHEN sel.corrupt THEN NULL ELSE sel.h END AS height,
       CASE WHEN sel.corrupt THEN NULL ELSE sel.rle END AS rle,
       sums.r_sum, sums.g_sum, sums.b_sum, sums.weighted,
       NOT sel.corrupt AS decoded
FROM sel LEFT JOIN sums ON sel.doc_id = sums.doc_id
""",
)
def _mm_tga(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from ..functions import multimodal

    d = load_table(spark, sf_dir, "documents", spread=True).filter(
        F.col("doc_id") % 61 == 0
    )
    sel = d.select(
        "doc_id",
        (F.lit(5) + F.col("doc_id") % 6).cast("int").alias("_w"),
        (F.lit(3) + F.col("doc_id") % 5).cast("int").alias("_h"),
        (F.col("doc_id") % 3 == 2).alias("_corrupt"),
    )

    def gen(batches):
        from ..functions.multimodal import tga_encode

        for pdf in batches:
            payloads = [
                tga_encode(int(doc), int(w), int(h))[
                    : 12 if corrupt else None
                ]
                for doc, w, h, corrupt in zip(
                    pdf["doc_id"], pdf["_w"], pdf["_h"], pdf["_corrupt"]
                )
            ]
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "payload": payloads}
            )

    payload = sel.mapInPandas(gen, "doc_id long, payload binary")
    return multimodal.decode_tga_pixel_stats(payload)


# ---------------------------------------------------------------------------
# Systematic sampling per stratum: every k-th element in id order with
# a deterministic hash-derived phase per stratum — the evenly-spaced
# design-based sample (vs Bernoulli's random mass and PPS's weighted
# mass), reproducible under any partitioning.
# ---------------------------------------------------------------------------
_SYS_K = 10
_SYS_H32 = (
    "CAST(('0x' || substr(md5('sys:' || event_type), 1, 8)) AS BIGINT)"
)


@query(
    "sample_systematic",
    f"""
WITH ranked AS (
    SELECT event_type, event_id,
           ROW_NUMBER() OVER (
               PARTITION BY event_type ORDER BY event_id) AS rn,
           {_SYS_H32} % {_SYS_K} AS phase
    FROM events WHERE event_type IS NOT NULL
)
SELECT event_type, event_id, CAST(rn AS BIGINT) AS rn
FROM ranked WHERE (rn - 1) % {_SYS_K} = phase
""",
)
def _sample_systematic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..functions.text import hash32

    e = load_table(spark, sf_dir, "events", spread=True).filter(
        F.col("event_type").isNotNull()
    )
    w = Window.partitionBy("event_type").orderBy("event_id")
    ranked = e.select(
        "event_type",
        "event_id",
        F.row_number().over(w).cast("bigint").alias("rn"),
        (
            hash32(F.concat(F.lit("sys:"), F.col("event_type")))
            % _SYS_K
        ).alias("phase"),
    )
    return ranked.filter(
        (F.col("rn") - 1) % _SYS_K == F.col("phase")
    ).select("event_type", "event_id", "rn")

