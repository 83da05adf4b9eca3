"""The query registry: importing any module under ``plans`` registers
every query, in one fixed order, whichever module is imported first."""

import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
N_QUERIES = 101
# sha256 of json.dumps([query names in registration order,
# list(ORACLES.items())]); any change to a name, an oracle string or the
# order changes it
REGISTRY_DIGEST = (
    "299bdd3fae1cd7cd016ee95904dee81fa8573b5600b0027414bb13cf221c1e72"
)

_PROBE = """
import hashlib, importlib, json, sys
importlib.import_module(sys.argv[1])
from thesaurus_based_ner_spark.plans.queries import ORACLES, QUERIES
blob = json.dumps([list(QUERIES), list(ORACLES.items())]).encode()
print(len(QUERIES), len(ORACLES), hashlib.sha256(blob).hexdigest())
"""


# a fresh interpreter per case: this process has already imported plans
@pytest.mark.parametrize(
    "first",
    [
        "thesaurus_based_ner_spark.plans.queries",
        "thesaurus_based_ner_spark.plans.queries_ext",
    ],
)
def test_registry_is_complete_in_one_order(first):
    out = subprocess.run(
        [sys.executable, "-c", _PROBE, first],
        cwd=REPO,
        capture_output=True,
        text=True,
        check=True,
        timeout=120,
    ).stdout.split()
    assert out == [str(N_QUERIES), str(N_QUERIES), REGISTRY_DIGEST]
