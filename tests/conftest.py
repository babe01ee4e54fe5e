import os
import sys

import pytest

#: The checkout these tests live in, and its tools/ (check_correctness).
_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [_REPO_ROOT, os.path.join(_REPO_ROOT, "tools")]
#: The benchmark's payload generator and Spark-free lake fold (``payloads``,
#: ``oracle``), imported as they are, after everything else on the path.
sys.path.append(os.path.join(_REPO_ROOT, "perfbench"))

from nl_railtraffic_etl_pipeline_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
