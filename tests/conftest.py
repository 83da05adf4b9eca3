import os

import pytest

from thesaurus_based_ner_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus=8, shuffle_partitions=8)
    # a stage whose generated code does not compile (e.g. a method past
    # the JVM's 64 KB limit) fails the test instead of silently running
    # on the slower non-codegen path
    s.conf.set("spark.sql.codegen.fallback", "false")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    # override to replicate the external driver's gate at its scale:
    #   SPARK_GRAFT_TEST_SF_DIR=/root/testdata/sf0.01 pytest tests/test_oracle_parity.py
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
