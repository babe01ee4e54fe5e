"""Spatial gate queries (functions/geo.py): grid-bucketed neighbor
search over deterministic fixed-point coordinates.

The reference stores station lat/lng (``src/storage/schema.sql:42-43``)
but never queries them spatially; this family adds the radius /
nearest-neighbor capability with the 100 TB-correct plan: candidate
pairs from a CELL-KEYED equi-join (3x3 neighborhood explode), exact
BIGINT distance verify — the oracle replays the semantics with a naive
O(n^2) theta join (fine for DuckDB at gate scale; the PLAN is what the
Spark side proves, the VALUES are what the oracle checks).

Coordinates derive from the md5 hash contract per user (hundredths of a
degree over a 9x18-degree synthetic region) so both engines construct
identical points without a geo fixture table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nl_railtraffic_etl_pipeline_spark.plans.testdata import load_table

from ..functions.geo import grid_nearest_neighbors
from ..functions.text import hash32
from .registry import query

_RADIUS = 150  # hundredths of a degree (1.5 deg); r^2 = 22500

_PTS_SQL = """
pts AS (
    SELECT id,
           CAST(('0x' || substr(md5('x|' || CAST(id AS VARCHAR)), 1, 8))
                AS BIGINT) % 900 AS x,
           CAST(('0x' || substr(md5('y|' || CAST(id AS VARCHAR)), 1, 8))
                AS BIGINT) % 1800 AS y
    FROM (SELECT DISTINCT user_id AS id FROM events
          WHERE user_id IS NOT NULL)
)
"""


@query(
    "geo_grid_neighbors",
    f"""
WITH {_PTS_SQL},
pairs AS (
    SELECT a.id AS id, b.id AS nbr,
           (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS d2
    FROM pts a JOIN pts b ON a.id <> b.id
    WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
          <= {_RADIUS * _RADIUS}
),
ranked AS (
    SELECT id, nbr, d2,
           ROW_NUMBER() OVER (PARTITION BY id ORDER BY d2, nbr) AS rn,
           CAST(COUNT(*) OVER (PARTITION BY id) AS BIGINT) AS n_neighbors
    FROM pairs
)
SELECT id, n_neighbors, nbr AS nearest_id, d2 AS nearest_dist2
FROM ranked WHERE rn = 1
""",
)
def _grid_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user neighbor stats within 1.5 deg on the hash-derived planar
    point set — candidate generation is the 3x3 cell equi-join
    (plan-asserted), verify is exact integer distance."""
    ev = load_table(spark, sf_dir, "events", spread=True).filter(
        F.col("user_id").isNotNull()
    )
    ids = ev.select(F.col("user_id").alias("id")).distinct()
    pts = ids.select(
        "id",
        (hash32(F.concat(F.lit("x|"), F.col("id").cast("string"))) % 900)
        .alias("x"),
        (hash32(F.concat(F.lit("y|"), F.col("id").cast("string"))) % 1800)
        .alias("y"),
    )
    return grid_nearest_neighbors(pts, _RADIUS, "id", "x", "y")
