"""Referential-integrity operators.

The reference realizes referential checks as per-entity Python loops
with point reads (entity_controller.py:193-251 fan-out fetches;
firestore_services.py:187-210 class-membership). Spark-side every one
collapses to a semi/anti equi join (SURVEY.md §2.3 J3/J4):

  - orphans(fact, dim, key): fact keys with no dim row  (left anti)
  - present(fact, dim, key): fact rows with a dim row    (left semi)
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame


def orphans(fact: DataFrame, dim: DataFrame, keys: Sequence[str] | str) -> DataFrame:
    keys = [keys] if isinstance(keys, str) else list(keys)
    return fact.join(dim.select(*keys).dropDuplicates(keys), keys, "left_anti")


def present(fact: DataFrame, dim: DataFrame, keys: Sequence[str] | str) -> DataFrame:
    keys = [keys] if isinstance(keys, str) else list(keys)
    return fact.join(dim.select(*keys).dropDuplicates(keys), keys, "left_semi")
