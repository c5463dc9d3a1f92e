"""Bucketed (pre-shuffled) table layout for co-located joins.

Big fact-to-fact joins on a stable key (e.g. repeated
orders ⋈ lineitem, or stored-table ⋈ batch upserts against a huge
table) pay a shuffle per join. Writing both sides bucketed by the join
key with the same bucket count makes every subsequent join shuffle-free:
Catalyst recognizes the matching output partitioning and plans
SortMergeJoin without Exchange.

This is the Spark-native analog of the reference's PK indexes
(schema.sql PRIMARY KEY → Postgres b-tree): a physical layout paid once
at write time that accelerates every keyed operation afterwards.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(df: DataFrame, table: str, key: list[str],
                   buckets: int = 32, sort: bool = True) -> None:
    """Persist ``df`` as a bucketed catalog table (Parquet under the
    session warehouse). ``sort=True`` also sorts within buckets by the
    key, enabling merge joins without per-task sorts."""
    writer = (df.write.mode("overwrite").format("parquet")
              .bucketBy(buckets, *key))
    if sort:
        writer = writer.sortBy(*key)
    writer.saveAsTable(table)


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    return spark.table(table)
