"""Source readers.

The reference's sources are a PDF loader and a Neo4j chunk reader
(reference: components/pdf_loader.py:53-93, components/neo4j_reader.py:66-116).
Spark-side, sources are just scans; Catalyst handles predicate pushdown and
column pruning for free.  ``read_transcripts`` accepts either an
Iceberg/catalog table name or a parquet path, so the same pipeline code runs
against the production Iceberg table and the synthetic fixture.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

DRIVER_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def read_transcripts(spark: SparkSession, source: str) -> DataFrame:
    """Read the transcripts table from an Iceberg table name or parquet path.

    Columns: conv_id, turn_idx, role, text, tool, ts (BASELINE.json
    input_hint).  Iceberg needs no special handling here: with the Iceberg
    catalog configured, ``spark.read.table(name)`` resolves it and
    partition pruning / column pruning apply as for any V2 source.
    """
    if source.endswith(".parquet") or Path(source).exists():
        return spark.read.parquet(source)
    return spark.read.table(source)


def read_chunks(spark: SparkSession, path: str) -> DataFrame:
    """Re-read a materialized chunks table in reading order — the Spark
    equivalent of Neo4jChunkReader (neo4j_reader.py:66-116: ORDER BY index;
    embedding suppression == column pruning via .drop)."""
    return spark.read.parquet(path).orderBy("conv_id", "chunk_index")

