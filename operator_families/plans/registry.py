"""Operator-family query registry: Spark plan builders + DuckDB oracle SQL.

The same contract as ``nl_railtraffic_etl_pipeline_spark.plans.registry``
(whose docstring lists the cross-engine parity rules), for the gates that
exercise the operator families rather than the rail pipeline.  They are
not part of the driver contract in ``__spark_entry__``; their tests
(``tests/test_plan_shapes.py``, ``tests/test_*_operators.py``,
``tests/test_intent_fixtures.py``) reach them here.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# Each family module calls @query at import time.  Imported last: they
# need `query` above.
from . import analysis_queries  # noqa: E402,F401  (registration side-effect)
from . import behavior_queries  # noqa: E402,F401  (registration side-effect)
from . import etl_queries  # noqa: E402,F401  (registration side-effect)
from . import eval_queries  # noqa: E402,F401  (registration side-effect)
from . import geo_queries  # noqa: E402,F401  (registration side-effect)
from . import inference_queries  # noqa: E402,F401  (registration side-effect)
from . import lake_queries  # noqa: E402,F401  (registration side-effect)
from . import ml_queries  # noqa: E402,F401  (registration side-effect)
