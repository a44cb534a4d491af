"""Statement-scoped relations: the one place a pushed relation (a
shipped subtree, a pushed scan, a pruned iceberg scan) enters the Spark
catalog.

Spark resolves a temp view when it analyzes a statement, and the
analyzed DataFrame keeps running after the view is dropped (PySpark's
``spark.sql(text, **frames)`` relies on the same rule). So a relation
is bound only for the span of ``bound``: no other statement or
principal can name it, and the catalog lists registered views only.
"""

from __future__ import annotations

import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession


def private_name(prefix: str) -> str:
    """A relation name that no other statement uses."""
    return f"{prefix}_{uuid.uuid4().hex[:16]}"


class Binding(dict):
    """``{name: DataFrame}`` bound as temp views until ``bound`` exits."""

    def bind(self, name: str, df: DataFrame) -> None:
        self[name] = df  # before the view, so a failed bind is dropped too
        df.createOrReplaceTempView(name)


@contextmanager
def bound(spark: SparkSession, frames: dict[str, DataFrame] | None = None):
    """Bind ``frames`` for the with-block, which may bind more through
    the yielded ``Binding``; every name is dropped on exit."""
    binding = Binding()
    try:
        for name, df in (frames or {}).items():
            binding.bind(name, df)
        yield binding
    finally:
        for name in binding:
            spark.catalog.dropTempView(name)
