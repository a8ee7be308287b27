"""Small driver-resident tables without the Python-RDD scan.

``spark.createDataFrame(rows, schema)`` parallelizes PICKLED rows: the
resulting plan re-runs a Python-worker scan on EVERY action that
touches it — measured ~5 s per action for a 64-row table under load
(guide §4: every Python boundary costs; this one is avoidable). The
pandas/Arrow constructor converts once on the driver and executes
JVM-side afterwards (0.2 s for the same table). One helper so every
small literal table in the engine takes the Arrow path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def local_df(spark: SparkSession, rows, schema) -> DataFrame:
    """rows (sequence of tuples) + DDL schema -> DataFrame via the
    pandas/Arrow constructor. Schema is applied explicitly, so types
    match the plain createDataFrame exactly (long stays long, etc.)."""
    import pandas as pd
    from pyspark.sql.types import StructType

    st = StructType.fromDDL(schema) if isinstance(schema, str) else schema
    pdf = pd.DataFrame(list(rows), columns=st.fieldNames())
    return spark.createDataFrame(pdf, schema=st)
