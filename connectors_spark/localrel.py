"""Driver-built rows as a JVM-side relation, shipped once as Arrow.

The metadata plane builds many small relations on the driver: publish
file lists, partition-value maps, row-id base maps, DV authorization
pairs, the Snapshot's file inventory and tombstone plane.
``spark.createDataFrame(list, schema)`` would turn each into an RDD of
pickled Python rows whose schema is applied by a Python worker on every
action over it.

``local_rows_df`` instead converts the rows to a ``pyarrow.Table`` on
the driver and passes that to ``spark.createDataFrame``, which decodes
the Arrow batches in the JVM. Below
``spark.sql.execution.arrow.localRelationThreshold`` Spark keeps the
rows in a ``LocalRelation`` (``LocalTableScan`` in the physical plan);
above it, in an RDD of ``arrowMaxRecordsPerBatch``-row Arrow batches.
No Python worker runs in either case, and the optimizer folds filters
and projections over a ``LocalRelation`` on the driver.

Task width needs no argument: a ``LocalTableScan`` runs
``min(rows, defaultParallelism)`` tasks, so a relation that fans
per-row work out through ``mapInPandas`` (publish, footer reads, VACUUM
listing) spreads one row per task up to the core count, and a handful
of metadata rows never pays for empty tasks.
"""

from __future__ import annotations

from typing import Iterable, Union

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema


def local_rows_df(spark, rows: Iterable,
                  schema: Union[T.StructType, str]) -> DataFrame:
    """DataFrame over driver-built ``rows`` (tuples or ``Row``s, read
    by position) with ``schema`` (a ``StructType`` or a DDL string)."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema)
    return spark.createDataFrame(table, schema)
