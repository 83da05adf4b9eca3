"""End-to-end pipeline plus the query registry.

Importing anything under ``plans`` loads the four query modules in this
order, so ``plans.queries.QUERIES``/``ORACLES`` always hold every query
in one fixed registration order, whichever module a caller names.
"""

from thesaurus_based_ner_spark.plans import (  # noqa: F401
    queries,
    queries_ext,
    queries_r3,
    queries_r4,
)
