import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
for p in (BENCH, ROOT):
    if p not in sys.path:
        sys.path.insert(0, p)


@pytest.fixture(scope="session")
def spark():
    from thesaurus_based_ner_spark.session import get_spark

    s = get_spark("perfbench-tests", cpus=2, shuffle_partitions=4)
    yield s
