"""The reference's 6-step cleaner as one columnar Spark projection.

Mirrors ``DisruptionCleaner.clean`` (reference src/transformation/
cleaners.py:25-61) rule for rule, but every row loop / ``apply(axis=1)`` /
``iterrows`` becomes a whole-stage-codegen expression — no UDFs anywhere
(SURVEY §2.9: none are needed).  The input has the declared
``schemas.RAW_DISRUPTION`` columns, so none of the reference's
column-presence guards carry over: ``clean`` is one filter and one
``select`` of the ``CLEAN_DISRUPTION`` columns, each one a Column helper
of this module.

Determinism: the reference leaks wall-clock ``now()`` into the data (end-time
imputation, created/updated stamps).  Here the run stamp is the input's
``fetched_at`` column, set once by the extract, so runs are reproducible
(SURVEY §7.3.3); being data, not a literal, it leaves the generated code
the same from one run to the next.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Dutch -> canonical type mapping (cleaners.py:18-23).  Applied after
#: lower(); unmapped values pass through — live payloads are uppercase
#: English, so pass-through does the real work (SURVEY §2.3 F2).
TYPE_MAPPING = {
    "verstoring": "disruption",
    "werkzaamheden": "maintenance",
    "calamiteit": "calamity",
    "storing": "disruption",
}

#: NS timestamp format: ISO-8601 with no-colon offset, '2026-02-13T17:28:14+0100'.
NS_TS_FORMAT = "yyyy-MM-dd'T'HH:mm:ssZ"


def impact_level_col(type_col: Column, duration_col: Column) -> Column:
    """The reference's impact rules as a native when-chain (no UDF).

    Mirrors ``cleaners.py:133-171``: calamity->5; type containing 'cancel'->5;
    maintenance-> 4 if dur>240 else 3; disruption-> 4/3/2 at >120/>60; else 2;
    null duration treated as 0; clipped to [1,5] (cleaners.py:246-247).
    Strict ``>`` at every boundary (SURVEY §7.3.8).
    """
    dur = F.coalesce(duration_col, F.lit(0.0))
    raw = (
        F.when(type_col == "calamity", 5)
        .when(F.lower(type_col).contains("cancel"), 5)
        .when(type_col == "maintenance", F.when(dur > 240, 4).otherwise(3))
        .when(
            type_col == "disruption",
            F.when(dur > 120, 4).when(dur > 60, 3).otherwise(2),
        )
        .otherwise(2)
    )
    return F.least(F.greatest(raw, F.lit(1)), F.lit(5)).cast("int")


def _parse_ts(col: Column) -> Column:
    """``pd.to_datetime(errors='coerce', utc=True)`` equivalent.

    try_to_timestamp -> null on unparseable input; the session timezone is
    UTC (session.py) so offsets normalize exactly like pandas utc=True.
    """
    return F.coalesce(
        F.try_to_timestamp(col, F.lit(NS_TS_FORMAT)),
        F.try_to_timestamp(col),  # plain ISO fallbacks, e.g. with ':' offset
    )


def _type_col() -> Column:
    """Step 1 (cleaners.py:63-84): lower-cased type, Dutch names mapped."""
    lowered = F.lower(F.col("type"))
    mapping = F.create_map(*[F.lit(x) for kv in TYPE_MAPPING.items() for x in kv])
    return F.coalesce(F.element_at(mapping, lowered), lowered)


def _title_col() -> Column:
    """Step 1: trimmed title, NULL when shorter than five characters."""
    trimmed = F.trim(F.col("title"))
    return F.when(F.length(trimmed) < 5, None).otherwise(trimmed)


def _duration_col(start: Column, end: Column) -> Column:
    """Step 3 (cleaners.py:109-131): float minutes, negative -> NULL.

    Sub-minute precision preserved via unix_micros (pandas total_seconds()
    keeps microseconds).  The divisor stays a Python float: it becomes a
    double literal, where the SQL text ``60000000.0`` would be a decimal.
    """
    dur = (F.unix_micros(end) - F.unix_micros(start)) / 60_000_000.0
    return F.when(dur < 0, None).otherwise(dur)


def _stations_col(title: Column) -> Column:
    """Step 4 (cleaners.py:173-229): 3-strategy station extraction, natively.

    Strategies 1+2 union (``section.stations[].uicCode`` and
    ``timespans[].situation.stations[].stationCode``); regex fallback over
    the cleaned title only when both come up empty; sorted/deduped CSV;
    empty -> NULL.  The reference's per-row try/except becomes null-safe
    expressions.
    """
    empty = F.array().cast("array<string>")
    s1 = F.coalesce(
        F.filter(
            F.transform(F.col("section.stations"), lambda s: s["uicCode"]),
            lambda c: c.isNotNull(),
        ),
        empty,
    )
    flat = F.flatten(
        F.filter(
            F.transform(F.col("timespans"), lambda t: t["situation"]["stations"]),
            lambda a: a.isNotNull(),
        )
    )
    s2 = F.coalesce(
        F.transform(
            # reference keeps only truthy codes (cleaners.py:208-210)
            F.filter(
                flat,
                lambda s: s["stationCode"].isNotNull() & (s["stationCode"] != ""),
            ),
            lambda s: s["stationCode"],
        ),
        empty,
    )
    declared = F.array_union(s1, s2)
    regex = F.regexp_extract_all(title, F.lit(r"\b[A-Z]{2,5}\b"), 0)
    combined = F.when(F.size(declared) > 0, declared).otherwise(
        F.coalesce(regex, empty)
    )
    csv = F.array_join(F.array_sort(F.array_distinct(combined)), ",")
    return F.when(F.length(csv) > 0, csv)


def clean(df: DataFrame) -> DataFrame:
    """Raw payload frame (``RAW_DISRUPTION`` columns plus the run stamp
    ``fetched_at``) -> warehouse frame.

    Step 2 (cleaners.py:86-107) parses both timestamps to UTC and imputes
    an unparseable or missing end as ``fetched_at`` + 2 h; step 6
    (cleaners.py:231-266) drops null ids, stamps the run and projects the
    12 ``CLEAN_DISRUPTION`` columns.
    """
    kind, title, stamp = _type_col(), _title_col(), F.col("fetched_at")
    start = _parse_ts(F.col("start"))
    end = F.coalesce(_parse_ts(F.col("end")), stamp + F.expr("INTERVAL 2 HOURS"))
    duration = _duration_col(start, end)
    return df.filter(F.col("id").isNotNull()).select(
        F.col("id").alias("disruption_id"),
        kind.alias("type"),
        title.alias("title"),
        F.col("description"),
        start.alias("start_time"),
        end.alias("end_time"),
        duration.alias("duration_minutes"),
        impact_level_col(kind, duration).alias("impact_level"),
        _stations_col(title).alias("affected_stations"),
        F.lit(False).alias("is_resolved"),
        stamp.alias("created_at"),
        stamp.alias("updated_at"),
    )
