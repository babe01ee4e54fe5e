"""Q1-Q6 on both surfaces against their DuckDB oracles.

Each query is defined once, as Spark-SQL text in ``plans/sql_queries.py``.
It runs as a bare ``spark.sql(SQL_QUERIES[name])`` over the registered
warehouse views, and through ``plans/rail_queries.py`` over given
DataFrames.  Both must equal the registry's independent DuckDB oracle on
the same parquet inputs: columns, row count and order-insensitive hash."""

import duckdb
import pytest
from check_correctness import TABLES, table_sig

from nl_railtraffic_etl_pipeline_spark.plans import rail_queries as rq
from nl_railtraffic_etl_pipeline_spark.plans import sql_queries as sq
from nl_railtraffic_etl_pipeline_spark.plans.registry import ORACLES
from nl_railtraffic_etl_pipeline_spark.plans.testdata import (
    disruptions_df,
    stations_df,
)

SF = "/root/testdata/sf0.001"

_DF_SURFACE = {
    "rail_q1_rolling_trend": lambda s: rq.rolling_trend(disruptions_df(s, SF)),
    "rail_q2_station_severity": lambda s: rq.station_severity(
        disruptions_df(s, SF), stations_df(s, SF)
    ),
    "rail_q3_day_over_day": lambda s: rq.day_over_day(disruptions_df(s, SF)),
    "rail_q4_peak_hours": lambda s: rq.peak_hours(disruptions_df(s, SF)),
    "rail_q5_complex_analytics": lambda s: rq.complex_analytics(
        disruptions_df(s, SF)
    ),
    "rail_q6_overlapping": lambda s: rq.overlapping_disruptions(
        disruptions_df(s, SF)
    ),
}

_SURFACES = {
    "sql": lambda s, name: s.sql(sq.SQL_QUERIES[name]),
    "dataframe": lambda s, name: _DF_SURFACE[name](s),
}


@pytest.fixture(scope="module", autouse=True)
def _views(spark):
    sq.register_warehouse_views(spark, sf_dir=SF)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("surface", sorted(_SURFACES))
@pytest.mark.parametrize("name", sorted(sq.SQL_QUERIES))
def test_query_matches_duckdb_oracle(spark, duck, name, surface):
    got = _SURFACES[surface](spark, name)
    got_cols = got.columns
    got_sig = table_sig(got_cols, [tuple(r) for r in got.collect()])

    res = duck.execute(ORACLES[name])
    want_cols = [d[0] for d in res.description]
    want_sig = table_sig(want_cols, res.fetchall())

    assert sorted(got_cols) == sorted(want_cols), name
    assert got_sig == want_sig, name


def test_dataframe_surface_leaves_no_temp_views(spark):
    before = {t.name for t in spark.catalog.listTables()}
    for build in _DF_SURFACE.values():
        build(spark).collect()
    after = {t.name for t in spark.catalog.listTables()}
    assert not [t for t in after if t.startswith("_pyspark_")], after
    assert after == before


def test_second_pass_compiles_nothing(spark, compiles):
    """One pass of Q1-Q6 on both surfaces generates more classes than
    Spark's default codegen cache holds (100); ``get_spark`` sizes the
    cache for the whole working set, so a second pass compiles none."""

    def one_pass():
        for name in sorted(sq.SQL_QUERIES):
            for run in _SURFACES.values():
                run(spark, name).collect()

    one_pass()
    before = compiles()
    one_pass()
    assert compiles() - before == 0


def test_rendered_sql_text_has_no_placeholders():
    for name, text in sq.SQL_QUERIES.items():
        assert "{" not in text and "}" not in text, name


def test_sql_surface_covers_all_six_reference_queries():
    assert sorted(sq.SQL_QUERIES) == [
        "rail_q1_rolling_trend",
        "rail_q2_station_severity",
        "rail_q3_day_over_day",
        "rail_q4_peak_hours",
        "rail_q5_complex_analytics",
        "rail_q6_overlapping",
    ]
