"""Driver-side rows → Arrow-backed DataFrame: the one way the package builds
a frame from local Python rows on the season path.

``spark.createDataFrame(list, schema)`` plans as ``Scan ExistingRDD``: every
scan of the frame re-runs a pickled PythonRDD through a Python worker
(about 0.3 s for a noop scan of 500 rows on a 4-core box). The same rows
shipped as a ``pa.Table`` plan as a JVM-resident ``LocalTableScan`` with
``defaultParallelism`` partitions (0.04–0.08 s for the same scan), so the
season round crosses into Python only where Python does the work.

The Arrow path of ``createDataFrame`` skips ``verifySchema`` and pyarrow
silently truncates a float put into an int64 column, so every row first
goes through the verifier the list path runs: wrong Python types and
nulls in non-nullable fields raise exactly as they did before.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType, _make_type_verifier


def local_frame(
    spark: SparkSession, rows: Sequence[tuple], schema: StructType
) -> DataFrame:
    """``rows`` (tuples in ``schema`` field order) → a ``LocalTableScan``
    DataFrame with exactly ``schema``; row order is kept."""
    verify = _make_type_verifier(schema)
    for row in rows:
        verify(row)
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) if rows else [()] * len(arrow_schema)
    table = pa.Table.from_arrays(columns, schema=arrow_schema)
    return spark.createDataFrame(table, schema)
