"""countValues: distinct-value frequency of a (possibly array) field.

Reference: SolrUpdater.php:1374-1464 / Command/Records/CountValues.php —
iterates every record in PHP and tallies a hash map. Spark-first form: a
single explode + groupBy + count, which runs as a partial (map-side)
aggregation followed by one shuffle on the value — the plan you want at
100 TB (combiner collapses cardinality before the exchange).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def count_values(df: DataFrame, field: str, descending: bool = True) -> DataFrame:
    """Frequency table (value, count) for a scalar or array column."""
    col = df.schema[field].dataType
    vals = (
        df.select(F.explode(field).alias("value"))
        if isinstance(col, T.ArrayType)
        else df.select(F.col(field).alias("value"))
    )
    out = vals.where(F.col("value").isNotNull()).groupBy("value").agg(
        F.count(F.lit(1)).alias("count")
    )
    order = [F.col("count").desc(), F.col("value").asc()] if descending else [
        F.col("count").asc(),
        F.col("value").asc(),
    ]
    return out.orderBy(*order)


def count_mapped_values(df: DataFrame, field: str, mapping) -> DataFrame:
    """countValues over the MAPPED form of a field (--mapped mode of
    Command/Records/CountValues.php): values run through the source's
    mapping table before tallying, so the frequency table reflects what
    the index would see."""
    from ..plans.mapping import map_array_column

    col = df.schema[field].dataType
    arr = (
        F.col(field)
        if isinstance(col, T.ArrayType)
        else F.when(F.col(field).isNotNull(), F.array(F.col(field))).otherwise(
            F.array()
        )
    )
    mapped = df.select(map_array_column(arr, mapping).alias("__mapped"))
    return count_values(mapped, "__mapped", True)
